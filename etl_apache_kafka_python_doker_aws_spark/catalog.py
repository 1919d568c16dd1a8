"""Fixture-table catalog: load the TESTDATA.md star schema as DataFrames.

Tables (TPC-H-ish): region nation customer supplier part orders lineitem,
plus events (stream fixture), documents and embeddings (LLM-pipeline
fixtures). All parquet; schemas in FIXTURES.md.

At 100 TB these would be partitioned/bucketed tables behind a metastore;
here the loader is a thin seam so every operator takes DataFrames, never
paths — swapping in a real catalog touches only this module.

Schema cache: a parquet read without a schema runs a one-task Spark job
to read a footer, fired while the query is still being built (six of
them in a six-table join). ``load_table`` infers each table's schema
once and then reads with it supplied, which needs no job. The
module-level map is ``{abs path: (key, StructType)}``; the key is the
signature of the files a Spark listing of the path returns (relative
path, size, ``st_mtime_ns``, inode each, by ``util.spark_hidden``) plus
the session confs that change parquet inference (``_INFER_CONFS``).
Invalidation is by that signature: rewriting, adding or removing a
visible file, or flipping one of those confs, re-infers on the next
call. Paths are local (the ``os.path.exists`` check already assumes it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from etl_apache_kafka_python_doker_aws_spark.util import spark_hidden

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

_INFER_CONFS = (
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_signature(path: str) -> tuple:
    """(relative path, size, st_mtime_ns, inode) of every file a Spark
    listing of ``path`` returns, sorted."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
    sig = []
    for root, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not spark_hidden(d)]
        for f in files:
            if not spark_hidden(f):
                p = os.path.join(root, f)
                st = os.stat(p)
                sig.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(sorted(sig))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Columnar parquet scan → Catalyst gets
    predicate pushdown + column pruning for free on every operator.

    All fixture timestamp columns are naive parquet ``timestamp[us]``
    (regenerated 2026-08-13), which Spark 4 loads as TIMESTAMP_NTZ —
    wall-time values with no session-timezone dependence. Use
    ``util.epoch_us`` / ``util.day_bucket`` for epoch and day-bucket
    arithmetic (``unix_micros`` rejects NTZ; ``date_trunc`` coerces it
    through the session zone). An earlier generation stored ``events.ts``
    as TIMESTAMP(NANOS) and needed a nanosAsLong shim here — dead code,
    removed.

    The schema is inferred once per file signature and session
    inference confs (module docstring); the read itself always carries
    it, so building a query over a known table launches no Spark job.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"fixture table {name!r} not found at {path} — known tables: "
            f"{', '.join(TABLES)}; sf dirs live under /root/testdata/"
        )
    path = os.path.abspath(path)
    key = (_file_signature(path), tuple(spark.conf.get(k) for k in _INFER_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != key:
        hit = _SCHEMAS[path] = (key, spark.read.parquet(path).schema)
    return spark.read.schema(hit[1]).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load all fixture tables present in sf_dir (via load_table, so the
    schema cache applies here too)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (for spark.sql queries)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
