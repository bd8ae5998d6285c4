"""Census of the package's environment knobs.

A knob read while a module is imported is fixed before any caller can
set it, and it silently changes which code path a process measures.
So no module-level statement may read the environment, and the only
``WALKER_SPARK_*`` variable is the session warm-up switch.
"""

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "walker_spark"
ALLOWED = {"WALKER_SPARK_NO_WARM"}


def _sources():
    files = sorted(PKG.rglob("*.py"))
    assert files, PKG
    return files


def _reads_env(node) -> bool:
    if isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv", "environb"):
        return True
    if isinstance(node, ast.Name) and node.id in ("environ", "getenv"):
        return True
    if isinstance(node, ast.ImportFrom) and node.module == "os":
        return any(a.name in ("environ", "getenv", "environb") for a in node.names)
    return False


def _import_time_nodes(tree):
    """Yield every node evaluated when the module is imported: function
    bodies are skipped, but their decorators and default values are
    not, and class bodies run at import."""
    todo = list(tree.body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            todo.extend(node.decorator_list)
            todo.extend(node.args.defaults)
            todo.extend(d for d in node.args.kw_defaults if d is not None)
            continue
        if isinstance(node, ast.Lambda):
            todo.extend(node.args.defaults)
            todo.extend(d for d in node.args.kw_defaults if d is not None)
            continue
        yield node
        todo.extend(ast.iter_child_nodes(node))


def test_only_walker_spark_knob_is_no_warm():
    names = set()
    for f in _sources():
        names |= set(re.findall(r"WALKER_SPARK_[A-Z0-9_]+", f.read_text()))
    assert names <= ALLOWED, sorted(names - ALLOWED)


def test_no_module_reads_environment_at_import():
    offenders = []
    for f in _sources():
        tree = ast.parse(f.read_text(), filename=str(f))
        for node in _import_time_nodes(tree):
            if _reads_env(node):
                offenders.append(f"{f.relative_to(PKG.parent)}:{node.lineno}")
    assert not offenders, offenders


def test_census_catches_an_import_time_read():
    src = (
        "import os\n"
        "X = int(os.environ.get('A', '1'))\n"
        "def f(y=os.getenv('B')):\n"
        "    return os.environ['C']\n"
        "class K:\n"
        "    Z = os.environ.get('D')\n"
        "    def m(self):\n"
        "        return os.environ\n"
    )
    lines = sorted(n.lineno for n in _import_time_nodes(ast.parse(src)) if _reads_env(n))
    assert lines == [2, 3, 6]
