"""The engine warm-up must actually run, once per application id.

get_spark wraps the warm-up in a best-effort except: a warm-up failure
must never break session build. A failed warm-up leaves the session
cold, and the one-time engine costs land in the first real query of
whatever process built the session. That exact regression shipped once
— the pandas-UDF type hints inside the warm pipeline stopped resolving
under ``from __future__ import annotations`` and the whole pipeline
quietly reduced to a parquet write — so one test drives the raising
variant directly. The others pin get_spark's wiring: one warm-up per
application id, none under ``WALKER_SPARK_NO_WARM=1``, and a failure
that is reported on stderr and retried on the next call.
"""

from walker_spark.session import _warm_pipeline


def test_warm_pipeline_executes(spark):
    # raises on any breakage the get_spark wrapper would swallow
    _warm_pipeline(spark)


def _get_live_session(spark):
    # the live test session comes back with the same application id
    from walker_spark.session import get_spark

    return get_spark(
        app_name="walker-spark-tests",
        master=spark.sparkContext.master,
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )


def _count_warm_calls(monkeypatch, fail_first=False):
    from walker_spark import session

    calls = []

    def fake(s):
        calls.append(s.sparkContext.applicationId)
        if fail_first and len(calls) == 1:
            raise RuntimeError("injected warm-up failure")

    monkeypatch.setattr(session, "_warm_pipeline", fake)
    monkeypatch.setattr(session, "_WARMED", set())
    monkeypatch.delenv("WALKER_SPARK_NO_WARM", raising=False)
    return calls


def test_get_spark_warms_once_per_app_id(spark, monkeypatch):
    calls = _count_warm_calls(monkeypatch)
    _get_live_session(spark)
    _get_live_session(spark)
    assert calls == [spark.sparkContext.applicationId]


def test_get_spark_no_warm_env_skips_warm_up(spark, monkeypatch):
    calls = _count_warm_calls(monkeypatch)
    monkeypatch.setenv("WALKER_SPARK_NO_WARM", "1")
    _get_live_session(spark)
    assert calls == []


def test_failed_warm_up_is_reported_and_retried(spark, monkeypatch, capfd):
    calls = _count_warm_calls(monkeypatch, fail_first=True)
    _get_live_session(spark)
    assert "Traceback" in capfd.readouterr().err
    _get_live_session(spark)
    _get_live_session(spark)
    app_id = spark.sparkContext.applicationId
    assert calls == [app_id, app_id]
