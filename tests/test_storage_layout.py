"""Storage-layout scale features: partition pruning must show in the
plan, bucketed joins must not shuffle, merge/SCD2 must upsert correctly."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from etl_apache_kafka_python_doker_aws_spark.catalog import load_table
from etl_apache_kafka_python_doker_aws_spark.plans.merge import merge_upsert, scd2_apply
from etl_apache_kafka_python_doker_aws_spark.sources.layout import (
    bucketed_join,
    write_bucketed,
    write_partitioned,
)
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_partition_pruning(spark):
    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "orders_part")
    o = load_table(spark, SF_SMOKE, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    write_partitioned(o, path, ["order_year"])
    pruned = spark.read.parquet(path).filter(F.col("order_year") == 1997)
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "order_year" in plan
    expected = o.filter(F.col("order_year") == 1997).count()
    assert pruned.count() == expected


def test_bucketed_join_has_no_exchange(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    # disable broadcast so the join strategy question is real
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(o.withColumnRenamed("o_orderkey", "k"), "b_orders", "k", 8)
        write_bucketed(li.withColumnRenamed("l_orderkey", "k"), "b_lineitem", "k", 8)
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "k")
        plan = _plan(joined)
        assert "Exchange" not in plan, "bucketed join still shuffles"
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_merge_upsert(spark):
    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "t")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    merge_upsert(spark, path, base, ["id"])
    upd = spark.createDataFrame([(2, "B2"), (4, "d")], "id long, v string")
    out = merge_upsert(spark, path, upd, ["id"])
    got = {(r.id, r.v) for r in out.collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}
    # idempotent re-apply
    out2 = merge_upsert(spark, path, upd, ["id"])
    assert {(r.id, r.v) for r in out2.collect()} == got


def test_merge_recovers_interrupted_swap(spark):
    """ADVICE r1: a kill between _swap_in's two renames leaves the table
    only in .old — the next merge must restore it, not rebuild the table
    from updates alone (which would silently drop all survivor rows)."""
    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "t")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    merge_upsert(spark, path, base, ["id"])

    # simulate the crash window: target moved aside, staging not yet in
    os.rename(path, path + ".old")
    upd = spark.createDataFrame([(2, "B2"), (4, "d")], "id long, v string")
    out = merge_upsert(spark, path, upd, ["id"])
    got = {(r.id, r.v) for r in out.collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}, got

    # crash AFTER staging was fully written: recovery must finish the swap
    # (prefer the newer merged copy over .old)
    os.rename(path, path + ".staging")
    upd2 = spark.createDataFrame([(5, "e")], "id long, v string")
    out2 = merge_upsert(spark, path, upd2, ["id"])
    got2 = {(r.id, r.v) for r in out2.collect()}
    assert got2 == got | {(5, "e")}, got2

    # incomplete leftovers (no _SUCCESS) must raise, not silently rebuild
    os.rename(path, path + ".old")
    os.remove(os.path.join(path + ".old", "_SUCCESS"))
    import pytest

    with pytest.raises(RuntimeError, match="refusing"):
        merge_upsert(spark, path, upd2, ["id"])


def test_scd2_versions(spark):
    import datetime as dt

    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "dim")
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 6, 1)
    base = spark.createDataFrame([(1, "alpha", t0), (2, "beta", t0)], "id long, v string, ts timestamp")
    scd2_apply(spark, path, base, ["id"], "ts")
    upd = spark.createDataFrame([(1, "alpha2", t1)], "id long, v string, ts timestamp")
    out = scd2_apply(spark, path, upd, ["id"], "ts")
    rows = {(r.id, r.v, r.valid_to) for r in out.collect()}
    assert (1, "alpha", t1) in rows          # closed-out old version
    assert (1, "alpha2", None) in rows       # new current version
    assert (2, "beta", None) in rows         # untouched
    assert len(rows) == 3


def test_zorder_tightens_file_stats_on_second_column(spark):
    """Z-order vs linear sort: per-file min-max width of the SECOND
    clustered column must shrink dramatically (that width is what
    parquet skipping prunes on)."""
    import pyarrow.parquet as pq
    import glob

    from etl_apache_kafka_python_doker_aws_spark.sources.layout import write_zordered

    wd = tempfile.mkdtemp()
    part = spark.read.parquet("/root/testdata/sf0.01/part.parquet")

    z_path = os.path.join(wd, "zorder")
    write_zordered(part, z_path, ["p_size", "p_partkey"], n_files=8)

    lin_path = os.path.join(wd, "linear")
    (part.repartitionByRange(8, "p_size")
         .sortWithinPartitions("p_size")
         .write.mode("overwrite").parquet(lin_path))

    def avg_width(path, col):
        widths = []
        for f in glob.glob(os.path.join(path, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        lo = c.statistics.min if lo is None else min(lo, c.statistics.min)
                        hi = c.statistics.max if hi is None else max(hi, c.statistics.max)
            if lo is not None:
                widths.append(hi - lo)
        assert widths, f"no stats found under {path}"
        return sum(widths) / len(widths)

    z_width = avg_width(z_path, "p_partkey")
    lin_width = avg_width(lin_path, "p_partkey")
    # linear sort on p_size leaves p_partkey spanning ~the full table in
    # every file; z-order must at least halve the span (observed: ~4x)
    assert z_width < 0.5 * lin_width, (z_width, lin_width)

    # and both files still total the same rows
    assert (spark.read.parquet(z_path).count()
            == spark.read.parquet(lin_path).count() == part.count())


def test_compact_small_files(spark):
    from etl_apache_kafka_python_doker_aws_spark.sources.layout import compact_small_files

    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "frag")
    df = spark.range(0, 20000).withColumnRenamed("id", "k")
    df.repartition(64).write.mode("overwrite").parquet(path)  # 64 tiny files
    import glob
    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 64
    compact_small_files(spark, path, target_file_bytes=1 << 30)
    files_after = glob.glob(os.path.join(path, "*.parquet"))
    assert len(files_after) == 1  # all fragments fit one target file
    assert spark.read.parquet(path).count() == 20000


def test_compact_small_files_preserves_partitioned_layout(spark):
    """Regression: compacting a hive-partitioned directory must keep the
    `col=value` layout (readers rely on partition pruning) instead of
    flattening it into plain files."""
    import glob

    from etl_apache_kafka_python_doker_aws_spark.sources.layout import compact_small_files

    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "part_frag")
    df = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("bucket")
    )
    df.repartition(16).write.mode("overwrite").partitionBy("bucket").parquet(path)
    assert len(glob.glob(os.path.join(path, "bucket=*"))) == 3
    compact_small_files(spark, path, target_file_bytes=1 << 30)
    # layout survives and each partition dir still holds parquet files
    dirs = sorted(glob.glob(os.path.join(path, "bucket=*")))
    assert [os.path.basename(d) for d in dirs] == ["bucket=0", "bucket=1", "bucket=2"]
    for d in dirs:
        assert glob.glob(os.path.join(d, "*.parquet"))
    back = spark.read.parquet(path)
    assert back.count() == 3000
    assert back.filter(F.col("bucket") == "1").count() == 1000


def test_compact_small_files_splits_big_partitions(spark):
    """ADVICE r5 (medium): a hive partition larger than target_file_bytes
    must compact into SEVERAL ~target-sized files written by multiple
    tasks — hashing only on the partition columns had sent each
    partition to exactly one task (one file regardless of size)."""
    import glob

    from etl_apache_kafka_python_doker_aws_spark.sources.layout import compact_small_files

    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "skewed_frag")
    big = spark.range(0, 40000).select(
        F.col("id").alias("k"),
        F.lit("big").alias("bucket"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),  # incompressible
    )
    small = spark.range(40000, 40100).select(
        F.col("id").alias("k"), F.lit("small").alias("bucket"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    big.unionByName(small).repartition(16).write.mode("overwrite") \
        .partitionBy("bucket").parquet(path)
    big_bytes = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "bucket=big", "*.parquet"))
    )
    compact_small_files(spark, path, target_file_bytes=max(1, big_bytes // 4))
    big_files = glob.glob(os.path.join(path, "bucket=big", "*.parquet"))
    small_files = glob.glob(os.path.join(path, "bucket=small", "*.parquet"))
    assert len(big_files) >= 2, big_files      # split, not one straggler file
    assert len(small_files) == 1, small_files  # small partition stays one file
    back = spark.read.parquet(path)
    assert back.count() == 40100
    assert back.select("k").distinct().count() == 40100
    assert back.filter(F.col("bucket") == "small").count() == 100


def test_compact_bucketed_table_r12_hardening(spark):
    """review r12: (a) a compact killed between its DROP and RENAME
    strands the only copy in <t>_compacting — the entry point must
    complete the rename; (b) a sorted bucketed table keeps its sortBy
    spec through compaction; (c) qualified names are rejected (the
    staging-twin location cleanup assumes default-database names)."""
    from etl_apache_kafka_python_doker_aws_spark.sources.layout import (
        compact_bucketed_table,
        write_bucketed,
    )

    from etl_apache_kafka_python_doker_aws_spark.functions.index_store import (
        _drop_table_and_location,
    )

    tbl = "t_cbt_r12"
    for n in (tbl, f"{tbl}_compacting"):
        _drop_table_and_location(spark, n)  # the r8 lesson: bare DROP
        # no-ops cross-session while the warehouse dir persists
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    write_bucketed(df, tbl, "k", n_buckets=4, sort_col="v")
    desc = {
        r.col_name.strip(): (r.data_type or "").strip()
        for r in spark.sql(f"DESCRIBE EXTENDED {tbl}").collect()
        if r.col_name
    }
    assert "v" in desc.get("Sort Columns", "")
    # (b) sort spec survives a compact
    assert compact_bucketed_table(spark, tbl) == 4
    desc2 = {
        r.col_name.strip(): (r.data_type or "").strip()
        for r in spark.sql(f"DESCRIBE EXTENDED {tbl}").collect()
        if r.col_name
    }
    assert "v" in desc2.get("Sort Columns", ""), "sortBy dropped by compact"
    assert spark.table(tbl).count() == 2000
    # (a) simulate the DROP→RENAME kill window: live table gone, only
    # copy under <t>_compacting — the next compact heals then compacts
    spark.sql(f"ALTER TABLE {tbl} RENAME TO {tbl}_compacting")
    assert compact_bucketed_table(spark, tbl) == 4
    assert spark.table(tbl).count() == 2000
    # (c) qualified names rejected loudly
    with pytest.raises(ValueError, match="qualified"):
        compact_bucketed_table(spark, "db.tbl")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_compact_small_files_ignores_sidecar_dirs(spark):
    """review r12: the byte walk must not descend into '_'/'.'-prefixed
    sidecar dirs Spark ignores — an ANN-index-style '_sidecar' holding
    its own hive-partitioned tier would otherwise charge its bytes to
    phantom partition values and mis-size the splits."""
    import glob

    from etl_apache_kafka_python_doker_aws_spark.sources.layout import (
        compact_small_files,
    )

    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "with_sidecar")
    df = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("bucket")
    )
    df.repartition(8).write.mode("overwrite").partitionBy("bucket").parquet(path)
    # a sidecar tier, itself hive-partitioned with a DIFFERENT column
    spark.range(0, 500).select(
        F.col("id").alias("x"), (F.col("id") % 5).alias("vb")
    ).write.partitionBy("vb").parquet(os.path.join(path, "_sidecar"))
    side_before = sorted(
        glob.glob(os.path.join(path, "_sidecar", "**", "*.parquet"),
                  recursive=True)
    )
    compact_small_files(spark, path, target_file_bytes=1 << 30)
    # main layout intact, sidecar untouched byte-for-byte
    back = spark.read.parquet(path)
    assert back.count() == 3000
    assert sorted(
        glob.glob(os.path.join(path, "_sidecar", "**", "*.parquet"),
                  recursive=True)
    ) == side_before
    assert spark.read.parquet(os.path.join(path, "_sidecar")).count() == 500


def test_compact_small_files_on_underscore_keyed_partition_dir(spark):
    """VERDICT r12 #1 regression: Spark's listing rule KEEPS
    underscore-prefixed `name=value` partition dirs, so compacting the
    ANN refine tier's `_vbucket=N` layout directly must work — the r12
    prune dropped them and crashed on an empty splits map."""
    import glob

    from etl_apache_kafka_python_doker_aws_spark.sources.layout import (
        compact_small_files,
    )

    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "refine_tier")
    df = spark.range(0, 2000).select(
        F.col("id").alias("_id"), (F.col("id") % 4).alias("_vbucket")
    )
    df.repartition(8).write.mode("overwrite").partitionBy("_vbucket").parquet(path)
    before = len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    assert before > 4
    compact_small_files(spark, path, target_file_bytes=1 << 30)
    back = spark.read.parquet(path)
    assert back.count() == 2000
    assert back.select("_vbucket").distinct().count() == 4
    after = len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    assert after <= 4  # one file per _vbucket at a huge target


def test_compact_small_files_on_mixed_underscore_partition_layout(spark):
    """VERDICT r12 #1 regression, band-index shape: a two-level
    `band_idx=N/_bgroup=M` layout (plain key above, underscore key
    below) must size BOTH levels — the r12 predicate silently walked
    zero bytes for every `_bgroup=` subtree."""
    import glob

    from etl_apache_kafka_python_doker_aws_spark.sources.layout import (
        compact_small_files,
    )

    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "band_tier")
    df = spark.range(0, 3000).select(
        F.col("id").alias("doc"),
        (F.col("id") % 3).alias("band_idx"),
        (F.col("id") % 2).alias("_bgroup"),
    )
    (
        df.repartition(6)
        .write.mode("overwrite")
        .partitionBy("band_idx", "_bgroup")
        .parquet(path)
    )
    compact_small_files(spark, path, target_file_bytes=1 << 30)
    back = spark.read.parquet(path)
    assert back.count() == 3000
    assert back.select("band_idx", "_bgroup").distinct().count() == 6
    after = len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    assert after <= 6


def test_compact_small_files_empty_dir_is_a_clean_noop(spark):
    """VERDICT r12 #2: zero listable parquet bytes → return 0, no crash."""
    from etl_apache_kafka_python_doker_aws_spark.sources.layout import (
        compact_small_files,
    )

    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "empty_tree")
    os.makedirs(os.path.join(path, "_sidecar_only"))
    assert compact_small_files(spark, path, target_file_bytes=1 << 20) == 0


def test_merge_accepts_markerless_external_table(spark):
    """ADVICE r12: a pre-existing parquet dir with no _SUCCESS and no
    .staging/.old twin is legitimate external data (rsync'd copies,
    non-Spark writers) — merge must treat it as the live table, not
    brick it. Only the twin-present case proves a torn swap."""
    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "ext")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    base.coalesce(1).write.parquet(path)
    os.remove(os.path.join(path, "_SUCCESS"))  # external-tool signature
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    out = merge_upsert(spark, path, upd, ["id"])
    got = {(r.id, r.v) for r in out.collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}, got

    # markerless + an INCOMPLETE .staging and NO .old (ADVICE r13): the
    # state a kill leaves when the FIRST merge over an external table
    # dies mid-staging-write — provably external + disposable staging
    # (module-internal crashes always leave the target WITH _SUCCESS).
    # Heal: drop the staging leftover and merge normally.
    os.makedirs(path + ".staging")
    os.remove(os.path.join(path, "_SUCCESS"))
    upd2 = spark.createDataFrame([(4, "d")], "id long, v string")
    out2 = merge_upsert(spark, path, upd2, ["id"])
    got2 = {(r.id, r.v) for r in out2.collect()}
    assert got2 == got | {(4, "d")}, got2
    assert not os.path.exists(path + ".staging")

    # but markerless + an INCOMPLETE .old twin is a provable torn swap
    # (the target was moved aside at some point): still raise
    os.makedirs(path + ".old")
    os.remove(os.path.join(path, "_SUCCESS"))
    with pytest.raises(RuntimeError, match="incomplete .old twin"):
        merge_upsert(spark, path, upd2, ["id"])
    shutil.rmtree(path + ".old")


def test_compact_small_files_ignores_dot_prefixed_eq_dirs(spark):
    """review r13: Spark's listing rule ALWAYS drops dot-prefixed dirs,
    '=' or not — a '.bak=1' dir holding parquet must neither be sized
    by the byte walk nor discovered as a partition column."""
    import glob

    from etl_apache_kafka_python_doker_aws_spark.sources.layout import (
        compact_small_files,
    )

    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "with_dot_eq")
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("bucket")
    )
    df.repartition(6).write.mode("overwrite").partitionBy("bucket").parquet(path)
    # a dot-prefixed name=value dir with real parquet bytes inside
    spark.range(0, 500).select(F.col("id").alias("x")).coalesce(1).write.parquet(
        os.path.join(path, ".bak=1")
    )
    side_before = sorted(
        glob.glob(os.path.join(path, ".bak=1", "**", "*.parquet"), recursive=True)
    )
    compact_small_files(spark, path, target_file_bytes=1 << 30)
    back = spark.read.parquet(path)
    assert back.count() == 2000
    assert sorted(back.columns) == ["bucket", "k"], back.columns
    # dot-dir untouched byte-for-byte (carried as a sidecar, not data)
    assert sorted(
        glob.glob(os.path.join(path, ".bak=1", "**", "*.parquet"), recursive=True)
    ) == side_before
