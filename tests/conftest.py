"""Shared pytest fixtures: one SparkSession per test session, DuckDB oracle
connection with the fixture views pre-registered (mirrors the driver)."""

from __future__ import annotations

import json
import os
import sys
import tempfile

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_apache_kafka_python_doker_aws_spark import get_spark  # noqa: E402
from etl_apache_kafka_python_doker_aws_spark.catalog import TABLES  # noqa: E402


def _half_host_memory() -> str:
    """Half the host's RAM as the test JVM's heap cap. ``get_spark``
    defaults to a 48g driver; on a smaller host G1 grows the heap toward
    that -Xmx instead of collecting, until the kernel OOM killer ends
    the JVM and every later test fails on a dead py4j socket."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(2, min(48, ram // 2**31))}g"


os.environ.setdefault("SPARK_DRIVER_MEMORY", _half_host_memory())

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="etl_apache_kafka_python_doker_aws_spark-tests")
    yield spark


@pytest.fixture(scope="session")
def jobs_during(spark):
    """``jobs_during(fn)`` → ``(fn(), n)``, where ``n`` counts the Spark
    jobs (outside any job group) that started while ``fn`` ran — e.g.
    the eager jobs a DataFrame construction fires."""
    tracker = spark.sparkContext.statusTracker()

    def _run(fn):
        before = set(tracker.getJobIdsForGroup(None))
        out = fn()
        return out, len(set(tracker.getJobIdsForGroup(None)) - before)

    return _run


@pytest.fixture(scope="session")
def build_query(spark):
    """Session-memoized query builder: ``build_query(name)`` returns the
    DataFrame ``QUERIES[name](spark, SF_SMOKE)``, built at most once per
    test session. DataFrames are immutable/lazy so sharing is safe; the
    point is the ~13 streaming workloads whose CONSTRUCTION executes
    staging writes and availableNow pipelines — building them once for
    both the oracle compare and the output-type guard saves minutes
    (ADVICE r4)."""
    from etl_apache_kafka_python_doker_aws_spark.workloads import QUERIES

    cache: dict[str, object] = {}

    def _build(name: str):
        if name not in cache:
            cache[name] = QUERIES[name](spark, SF_SMOKE)
        return cache[name]

    return _build


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_ORACLE, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_smoke():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_SMOKE, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


#: JSON-lines report of the Spark state each test module leaves behind.
LEAK_REPORT = os.path.join(tempfile.gettempdir(), "spark-graft-test-leaks.jsonl")


def _spark_state() -> dict | None:
    """Persisted RDDs (including ``localCheckpoint`` blocks), catalog
    tables and views, and cached tables of the live session, or None
    when no session runs. Metadata calls only: no Spark job."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    sc = SparkContext._active_spark_context
    spark = SparkSession.getActiveSession()
    if sc is None or spark is None:
        return None
    rdds = sc._jsc.getPersistentRDDs()
    tables = {t.name: t.isTemporary for t in spark.catalog.listTables()}
    return {
        "rdds": {int(k): rdds.get(k).toString() for k in rdds.keySet()},
        "tables": tables,
        "cached": sorted(
            n for n, temp in tables.items() if spark.catalog.isCached(n)
        ),
    }


@pytest.fixture(scope="module", autouse=True)
def _report_leftover_spark_state(request):
    """Report-only: append to ``LEAK_REPORT`` what this module added to
    the session's persisted RDDs and catalog tables, and which tables
    are cached at its teardown. It never fails or skips a test; a
    reporting error is written to the report instead."""
    try:
        before = _spark_state() or {"rdds": {}, "tables": {}}
    except Exception as e:  # report-only: never fail the module
        before = {"rdds": {}, "tables": {}, "error": repr(e)}
    yield
    try:
        after = _spark_state()
        if after is None:
            return
        record = {
            "module": request.module.__name__,
            "new_rdds": [d for i, d in after["rdds"].items()
                         if i not in before["rdds"]],
            "new_tables": [n for n in after["tables"]
                           if n not in before["tables"]],
            "cached_tables": after["cached"],
            "persisted_rdds": len(after["rdds"]),
        }
    except Exception as e:  # report-only: never fail the module
        record = {"module": request.module.__name__, "error": repr(e)}
    with open(LEAK_REPORT, "a") as out:
        out.write(json.dumps(record) + "\n")
