"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os
import sys
import traceback

# Module-level on purpose: _warm_engine's pandas-UDF type hints are
# strings under ``from __future__ import annotations`` and get resolved
# against THIS module's globals — with pandas imported function-locally
# the decorator raised UNSUPPORTED_SIGNATURE into the warm-up's
# best-effort except, silently reducing the whole engine warm-up to its
# first two statements.
import pandas as pd  # noqa: F401  (resolves warm-up UDF annotations)
from pyspark.sql import SparkSession

__all__ = ["get_spark"]

# application ids whose engine warm-up already ran (getOrCreate can hand
# the same live session back any number of times)
_WARMED: set[str] = set()


def _warm_engine(spark: SparkSession) -> bool:
    """Finish engine initialization eagerly, once per session.

    A fresh session lazily initializes half the engine on its first real
    query: the whole-stage-codegen compiler, the shuffle write/fetch
    machinery, the parquet reader and writer, broadcast build, Python
    worker fork plus numpy/pandas import, and Arrow serialization. Those
    are session costs, not query costs — left lazy they land inside
    whichever operator a caller happens to run first and get misread as
    that operator's time. This runs one tiny synthetic pipeline (rows
    generated in-process; no input data is touched, nothing is cached or
    kept) that exercises each of those paths once. ~2-5 s per session,
    disable with WALKER_SPARK_NO_WARM=1.

    Best-effort wrapper: a warm-up failure must never break session
    build, but it must also never be invisible — a silently-skipped
    warm-up just moves session costs back into the first real query
    (exactly what happened when the pandas-UDF type hints stopped
    resolving, see the module-level pandas import). So a failure prints
    its traceback to stderr and returns False; :func:`get_spark` then
    retries on its next call. The raising body lives in
    :func:`_warm_pipeline` so tests can drive it directly.
    """
    try:
        _warm_pipeline(spark)
    except Exception:
        print("walker_spark: engine warm-up failed", file=sys.stderr)
        traceback.print_exc()
        return False
    return True


def _warm_pipeline(spark: SparkSession) -> None:
    """The warm-up pipeline itself; raises on failure (see wrapper)."""
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    d = tempfile.mkdtemp(prefix="walker_spark_warm_")
    try:
        base = spark.range(0, 1000).select(
            "id",
            (F.col("id") % 7).alias("k"),
            F.format_string("u-%04d", F.col("id")).alias("s"),
        )
        base.write.mode("overwrite").parquet(d)  # parquet write path
        p = spark.read.parquet(d)  # parquet scan path

        @pandas_udf("long")
        def _np_warm(v: pd.Series) -> pd.Series:
            import numpy as np  # worker-side import paid here, not in a UDF stage

            return pd.Series(np.asarray(v, dtype="int64") * 0)

        small = p.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("k").orderBy("id")
        (
            p.join(F.broadcast(small), "k")  # broadcast join path
            .join(p.select(F.col("id").alias("id2"), "k"), "k")  # shuffle join path
            .filter(F.col("id2") < 3)
            .withColumn("r", F.row_number().over(w))  # window path
            .withColumn("z", _np_warm("id"))  # Arrow/pandas-UDF path
            .groupBy("s")
            .agg(F.sum("r").alias("t"))  # hash-agg + exchange path
            .orderBy("s")  # range-partitioned sort path
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

        # Array-typed Arrow serialization is a separate lazy path (its
        # own writers on both sides of the boundary) and every
        # signature/banding UDF in the dedup family returns arrays —
        # measured ~2 s of first-use cost landing in whichever of them a
        # session runs first. One generate (posexplode) stage over a
        # full-parallelism range warms it on every worker.
        @pandas_udf("array<long>")
        def _arr_warm(v: pd.Series) -> pd.Series:
            import numpy as np

            return pd.Series([np.zeros(2, dtype="int64") for _ in v])

        (
            spark.range(0, 256, 1, spark.sparkContext.defaultParallelism)
            .select(F.posexplode(_arr_warm("id")))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

        # mapInPandas rides its own serializer pair (iterator of pandas
        # frames in, arbitrary-cardinality frames out) — the crawl's
        # extract stage is one and pays its first-use cost otherwise.
        def _mip_warm(batches):
            for pdf in batches:
                yield pdf.assign(m=[b"" for _ in range(len(pdf))])

        (
            spark.range(0, 64, 1, spark.sparkContext.defaultParallelism)
            .mapInPandas(_mip_warm, "id long, m binary")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

        # Higher-order functions (transform/filter/aggregate/zip_with
        # lambdas) have no codegen — they run on the catalyst
        # interpreter, and so do the hash/string kernels nested inside
        # them (md5, xxhash64, conv, bin, regexp). The JVM only
        # optimizes those interpreter methods after thousands of calls,
        # so the first heavy signature stage of a session (minhash
        # shingles, simhash bit-folds) otherwise pays the JIT lag:
        # measured 5.7-6.2 s -> 4.1-4.9 s (simhash) and ~1 s off the
        # minhash cold shot with this stage, which runs ~300k
        # interpreted lambda evals over generated rows.
        ws = F.filter(
            F.split(F.regexp_replace(F.lower(F.col("s")), r"[^\w\s]", " "), " "),
            lambda c: c != F.lit(""),
        )
        whashes = F.transform(
            F.sequence(F.lit(0), F.lit(31)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(ws, 1, 3)), i),
        )
        wmd5s = F.transform(
            whashes,
            lambda h: F.conv(F.substring(F.md5(h.cast("string")), 1, 16), 16, -10).cast(
                "long"
            ),
        )

        def _wbitvec(h):
            chars = F.filter(
                F.split(F.lpad(F.bin(h), 16, "0"), ""), lambda c: c != F.lit("")
            )
            return F.transform(chars, lambda c: F.when(c == "1", 1).otherwise(-1))

        wsums = F.aggregate(
            F.slice(wmd5s, 1, 8),
            F.array_repeat(F.lit(0), 16),
            lambda acc, h: F.zip_with(acc, _wbitvec(h), lambda a, b: a + b),
        )
        (
            spark.range(0, 1000, 1, 8)
            .select(
                "id",
                F.format_string("warm row %04d text-with, punct! %d", "id", "id").alias(
                    "s"
                ),
            )
            .select(
                F.array_distinct(wmd5s).alias("d"),
                F.concat_ws(
                    "", F.transform(wsums, lambda v: F.when(v > 0, "1").otherwise("0"))
                ).alias("g"),
                F.bit_count(F.element_at(wmd5s, 1)).alias("bc"),
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def get_spark(
    app_name: str = "walker-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults target the sandbox (``local[N]``) while keeping the settings
    that matter at cluster scale: AQE on (runtime coalescing, skew-join
    splitting), Arrow enabled for the pandas-UDF extract stage, and a
    shuffle-partition count sized to the parallelism level.
    """
    # Make the package importable on executor Python workers regardless
    # of the driver's cwd (the local-mode analogue of shipping the
    # package with ``spark-submit --py-files``).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_parent + (os.pathsep + pp if pp else "")

    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            n = master[6:-1]
            shuffle_partitions = 2 * int(n) if n.isdigit() else 32
        else:
            shuffle_partitions = 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # runtime row-level bloom pruning for the big anti-joins
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    if os.environ.get("WALKER_SPARK_NO_WARM", "") != "1":
        app_id = spark.sparkContext.applicationId
        if app_id not in _WARMED and _warm_engine(spark):
            _WARMED.add(app_id)
    return spark
