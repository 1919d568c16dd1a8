"""Known-schema reads: ``catalog.load_table`` infers a table's parquet
schema once per file signature and inference confs, and the reference
pipeline re-reads its ``processed`` table with the schema it wrote."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameReader

from etl_apache_kafka_python_doker_aws_spark.catalog import load_table
from etl_apache_kafka_python_doker_aws_spark.plans.pipeline import (
    CUSTOMERS_WIRE_SCHEMA,
    run_reference_pipeline,
)
from etl_apache_kafka_python_doker_aws_spark.workloads import QUERIES
from tests.conftest import SF_SMOKE


def _write(sf_dir, name: str, cols: dict) -> str:
    path = os.path.join(str(sf_dir), f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return path


def test_repeat_load_runs_no_job(spark, tmp_path, jobs_during):
    """The first load infers (a footer-read job); a repeat load of the
    unchanged table launches none and returns the plain read's schema."""
    path = _write(tmp_path, "t", {"k": [1, 2, 3], "v": ["a", "b", "c"]})
    _, first = jobs_during(lambda: load_table(spark, str(tmp_path), "t"))
    df, again = jobs_during(lambda: load_table(spark, str(tmp_path), "t"))
    assert first >= 1
    assert again == 0
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(r.k for r in df.collect()) == [1, 2, 3]


def test_rewritten_table_reinfers(spark, tmp_path):
    """Rewriting the table file changes its signature, so the next load
    sees the new column."""
    _write(tmp_path, "t", {"k": [1, 2]})
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    _write(tmp_path, "t", {"k": [1, 2], "extra": [0.5, 1.5]})
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(r.extra for r in df.collect()) == [0.5, 1.5]


def test_inference_conf_flip_reinfers(spark, tmp_path):
    """``spark.sql.parquet.binaryAsString`` is part of the cache key: a
    binary column loads as binary, then as string once the conf flips."""
    _write(tmp_path, "t", {"b": pa.array([b"x", b"y"], pa.binary())})
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert load_table(spark, str(tmp_path), "t").schema["b"].dataType == T.BinaryType()
        spark.conf.set(key, "true")
        df = load_table(spark, str(tmp_path), "t")
        assert df.schema["b"].dataType == T.StringType()
        assert sorted(r.b for r in df.collect()) == ["x", "y"]
    finally:
        spark.conf.set(key, old)


def test_q5_second_construction_runs_no_job(spark, jobs_during):
    """q5 joins six tables; once their schemas are known, building the
    query fires no eager job."""
    q5 = QUERIES["q5_local_supplier_volume"]
    q5(spark, SF_SMOKE)
    df, n = jobs_during(lambda: q5(spark, SF_SMOKE))
    assert n == 0
    assert df.columns == ["n_name", "revenue"]


def test_pipeline_rereads_processed_with_written_schema(
    spark, tmp_path, jobs_during, monkeypatch
):
    """The upload stage re-reads ``processed`` with the schema of the
    frame just written: same schema as an inferring read, and the read
    itself launches no job."""
    customer = load_table(spark, SF_SMOKE, "customer")
    read_jobs = {}
    real = DataFrameReader.parquet

    def counted(self, *paths, **kw):
        df, n = jobs_during(lambda: real(self, *paths, **kw))
        read_jobs[paths] = n
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    res = run_reference_pipeline(spark, customer, str(tmp_path / "wd"))
    monkeypatch.undo()
    assert read_jobs[(res.processed_path,)] == 0
    assert res.processed.schema == CUSTOMERS_WIRE_SCHEMA
    assert res.processed.schema == spark.read.parquet(res.processed_path).schema
    assert res.processed.count() == customer.count()
