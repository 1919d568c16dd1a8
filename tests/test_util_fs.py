"""File-system helpers in ``util``: the Spark listing rule every
hand-rolled directory walk shares, and the stale dot-tmp sweep of
``sidecar_json_append``."""

from __future__ import annotations

import os
import time

import pytest

from etl_apache_kafka_python_doker_aws_spark.util import (
    sidecar_json_append,
    sidecar_json_rows,
    spark_hidden,
)


@pytest.mark.parametrize(
    "name, hidden",
    [
        ("part-0.parquet", False),
        ("k=v", False),
        (".x", True),
        (".k=v", True),
        ("_x", True),
        ("_SUCCESS", True),
        ("_temporary", True),
        ("_k=v", False),
        ("_metadata", False),
        ("_common_metadata", False),
        ("_metadata_x", False),
        ("._metadata", True),
        ("part-0.parquet._COPYING_", True),
        ("_metadata._COPYING_", False),
    ],
)
def test_spark_hidden_truth_table(spark, name, hidden):
    """``spark_hidden`` is Spark's own ``shouldFilterOutPathName``: the
    expected column is checked against the JVM's answer too."""
    jvm_rule = spark._jvm.org.apache.spark.util.HadoopFSUtils
    assert spark_hidden(name) is hidden
    assert jvm_rule.shouldFilterOutPathName(name) is hidden


def _plant_tmp(dirp: str, name: str, mtime_s: float) -> str:
    p = os.path.join(dirp, name)
    with open(p, "w") as fh:
        fh.write('{"stale": 1}\n')
    os.utime(p, (mtime_s, mtime_s))
    return p


def test_sidecar_append_sweeps_tmp_by_fs_clock(spark, tmp_path, monkeypatch):
    """The one-hour sweep age is measured against the new tmp file's
    FS mtime: a dot-tmp 2 h older is swept and one 10 min older is kept,
    even when the driver's clock runs a day ahead of the file system."""
    dirp = str(tmp_path / "markers")
    sidecar_json_append(spark, dirp, {"seq": 0})
    now = time.time()
    old = _plant_tmp(dirp, ".row-old.json.tmp", now - 2 * 3600)
    young = _plant_tmp(dirp, ".row-young.json.tmp", now - 600)
    monkeypatch.setattr(time, "time", lambda: now + 86400)
    sidecar_json_append(spark, dirp, {"seq": 1})
    monkeypatch.undo()
    assert not os.path.exists(old)
    assert os.path.exists(young)
    assert sorted(r.seq for r in sidecar_json_rows(spark, dirp)) == [0, 1]
