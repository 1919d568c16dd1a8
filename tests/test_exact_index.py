"""Incremental exact-dedup table (r12, functions/exact_index.py):
append/redelivery guards, first-occurrence-wins + seq-scoped retraction
semantics, unmarked-orphan sweep, compact crash windows, drop hygiene."""

import pytest
from pyspark.sql import functions as F

from etl_apache_kafka_python_doker_aws_spark.functions.exact_index import (
    drop_sha_table,
    sha_table_append,
    sha_table_batches,
    sha_table_compact,
    sha_table_dedup_batch,
    sha_table_delete,
    sha_table_meta,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture
def tbl(spark):
    name = "t_sha_idx"
    drop_sha_table(spark, name)
    yield name
    drop_sha_table(spark, name)


def _base(spark, tbl):
    b0 = _docs(spark, [(i, f"doc number {i} content") for i in range(20)])
    sha_table_append(b0, "doc_id", "text", tbl, batch_id="b0", buckets=4)
    return b0


def test_dedup_batch_first_occurrence_wins(spark, tbl):
    _base(spark, tbl)
    # b1: copies of docs 3 and 7, one novel, one duplicate WITHIN b1 of
    # doc 3's text (both flagged, same keeper — the earlier batch's row)
    b1 = _docs(spark, [
        (103, "doc number 3 content"),
        (107, "doc number 7 content"),
        (203, "doc number 3 content"),
        (150, "completely novel content"),
    ])
    sha_table_append(b1, "doc_id", "text", tbl, batch_id="b1", buckets=4)
    got = {r.doc_id: r for r in sha_table_dedup_batch(spark, tbl, "b1").collect()}
    assert got[103].is_dup and got[103].keeper_id == 3
    assert got[107].is_dup and got[107].keeper_id == 7
    assert got[203].is_dup and got[203].keeper_id == 3  # not 103: prior batch only
    assert not got[150].is_dup and got[150].keeper_id is None
    # the batch itself reads as all-new against strictly EARLIER batches
    got0 = sha_table_dedup_batch(spark, tbl, "b0").collect()
    assert all(not r.is_dup for r in got0)


def test_append_guards(spark, tbl):
    _base(spark, tbl)
    b = _docs(spark, [(100, "x")])
    with pytest.raises(ValueError, match="already appended"):
        sha_table_append(b, "doc_id", "text", tbl, batch_id="b0", buckets=4)
    with pytest.raises(ValueError, match="bucket"):
        sha_table_append(b, "doc_id", "text", tbl, batch_id="b1", buckets=8)
    with pytest.raises(ValueError, match="not a MARKED"):
        sha_table_dedup_batch(spark, tbl, "ghost")
    assert sha_table_meta(spark, tbl) == {"buckets": 4, "payload_cols": []}


def test_delete_seq_scoped_reappend_lives(spark, tbl):
    _base(spark, tbl)
    b1 = _docs(spark, [(103, "doc number 3 content")])
    sha_table_append(b1, "doc_id", "text", tbl, batch_id="b1", buckets=4)
    # retract the SOURCE: the copy's keeper falls to nothing earlier →
    # a FRESH batch's copy now reads as dup of the b1 copy instead
    assert sha_table_delete(spark, tbl, [3], compact_threshold=2.0) == 1
    b2 = _docs(spark, [(203, "doc number 3 content")])
    sha_table_append(b2, "doc_id", "text", tbl, batch_id="b2", buckets=4)
    got = {r.doc_id: r for r in sha_table_dedup_batch(spark, tbl, "b2").collect()}
    assert got[203].is_dup and got[203].keeper_id == 103
    # re-appended id LIVES: put doc 3 back under a new batch — it is a
    # new observation (seq past the tombstone), dup of the live copies
    b3 = _docs(spark, [(3, "doc number 3 content")])
    sha_table_append(b3, "doc_id", "text", tbl, batch_id="b3", buckets=4)
    got3 = {r.doc_id: r for r in sha_table_dedup_batch(spark, tbl, "b3").collect()}
    assert got3[3].is_dup and got3[3].keeper_id == 103
    # idempotence + accounting: re-deleting tombstoned ids is a no-op
    assert sha_table_delete(spark, tbl, [3, 999], compact_threshold=2.0) == 1
    assert sha_table_delete(spark, tbl, [999], compact_threshold=2.0) == 0


def test_delete_rejects_null_ids(spark, tbl):
    _base(spark, tbl)
    with pytest.raises(ValueError, match="None"):
        sha_table_delete(spark, tbl, [1, None])
    ids_df = spark.createDataFrame([(1,), (None,)], "doc_id long")
    with pytest.raises(ValueError, match="NULL"):
        sha_table_delete(spark, tbl, ids_df)


def test_delete_empty_guard_and_auto_compact(spark, tbl):
    _base(spark, tbl)
    with pytest.raises(ValueError, match="EMPTY"):
        sha_table_delete(spark, tbl, list(range(20)))
    # 10 of 20 > 0.2 → auto-compact folds the sidecar away physically
    assert sha_table_delete(spark, tbl, list(range(10))) == 10
    from etl_apache_kafka_python_doker_aws_spark.functions.index_store import (
        _table_exists,
    )

    assert not _table_exists(spark, f"{tbl}_tombstones")
    assert spark.table(tbl).count() == 10


def test_compact_sweeps_unmarked_orphans_and_heals_swap(spark, tbl):
    _base(spark, tbl)
    # forge a crashed append: data rows without a marker
    _docs(spark, [(500, "orphan content")]).select(
        F.sha2(F.col("text").cast("string"), 256).alias("content_hash"),
        F.col("doc_id").alias("_id"),
        F.lit("ghost").alias("_batch"),
    ).write.mode("append").bucketBy(4, "content_hash").format(
        "parquet"
    ).saveAsTable(tbl)
    assert sha_table_batches(spark, tbl) == ["b0"]
    # invisible to dedup (marked batches only), unreachable by delete
    assert sha_table_delete(spark, tbl, [500], compact_threshold=2.0) == 0
    assert sha_table_compact(spark, tbl) == 1  # the physical sweep
    assert spark.table(tbl).filter(F.col("_id") == 500).count() == 0
    # retry contract: same batch_id appends cleanly after the sweep
    sha_table_append(_docs(spark, [(500, "orphan content")]), "doc_id",
                     "text", tbl, batch_id="ghost", buckets=4)
    assert sha_table_batches(spark, tbl) == ["b0", "ghost"]

    # crash window: a staged twin BESIDE the live table (CTAS crashed
    # before the swap) is dropped by recovery; a twin WITHOUT the live
    # table (killed between DROP and RENAME) is renamed in
    spark.table(tbl).limit(1).write.bucketBy(4, "content_hash").format(
        "parquet"
    ).saveAsTable(f"{tbl}_deleting")
    assert sha_table_dedup_batch(spark, tbl, "b0").count() == 20  # heals
    from etl_apache_kafka_python_doker_aws_spark.functions.index_store import (
        _table_exists,
    )

    assert not _table_exists(spark, f"{tbl}_deleting")
    n_live = spark.table(tbl).count()
    spark.sql(f"ALTER TABLE {tbl} RENAME TO {tbl}_deleting")
    assert sha_table_dedup_batch(spark, tbl, "b0").count() == 20  # renamed in
    assert spark.table(tbl).count() == n_live


def test_compact_noop_keeps_table_and_drops_stale_tombstones(spark, tbl):
    _base(spark, tbl)
    assert sha_table_compact(spark, tbl) == 0  # nothing pending
    # tombstones re-planted after their rows are already gone (kill
    # between swap and the sidecar drop): the no-rewrite exit drops them
    assert sha_table_delete(spark, tbl, [4], compact_threshold=2.0) == 1
    tomb = spark.table(f"{tbl}_tombstones").collect()
    assert sha_table_compact(spark, tbl) == 1
    spark.createDataFrame(tomb).write.mode("overwrite").format(
        "parquet"
    ).saveAsTable(f"{tbl}_tombstones")
    assert sha_table_compact(spark, tbl) == 0
    from etl_apache_kafka_python_doker_aws_spark.functions.index_store import (
        _table_exists,
    )

    assert not _table_exists(spark, f"{tbl}_tombstones")
    assert spark.table(tbl).count() == 19


def test_drop_purges_twins(spark, tbl):
    _base(spark, tbl)
    spark.table(tbl).limit(1).write.bucketBy(4, "content_hash").format(
        "parquet"
    ).saveAsTable(f"{tbl}_deleting")
    drop_sha_table(spark, tbl)
    from etl_apache_kafka_python_doker_aws_spark.functions.index_store import (
        _table_exists,
    )

    for suffix in ("", "_meta", "_batches", "_tombstones", "_deleting"):
        assert not _table_exists(spark, f"{tbl}{suffix}")
    # the name is immediately reusable (locations purged too)
    _base(spark, tbl)
    assert sha_table_batches(spark, tbl) == ["b0"]


def test_append_writes_at_most_buckets_files(spark, tbl):
    """ADVICE r12: without a repartition on the bucket column, bucketBy
    writes one file per (task, bucket) pair — a many-partition crawl
    batch fragments the table by tasks× per snapshot."""
    import glob
    import os

    b0 = _docs(spark, [(i, f"doc number {i} content") for i in range(200)])
    sha_table_append(
        b0.repartition(16), "doc_id", "text", tbl, batch_id="b0", buckets=4
    )
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}")
        .filter(F.col("col_name") == "Location")
        .first()
        .data_type
    )
    loc = loc.removeprefix("file:")
    files = [
        f
        for f in glob.glob(os.path.join(loc, "*.parquet"))
        if not os.path.basename(f).startswith(("_", "."))
    ]
    assert 0 < len(files) <= 4, files


def test_delete_writes_one_tombstone_file_per_request(spark, tbl):
    """review r13: the Arrow local-relation frame parallelizes a list
    request into one partition PER ID — without coalesce(1) a 5-id
    delete appended 5 files, so 1000 GDPR requests of 25 ids would put
    25k tiny files on every pairs query's anti-join read path."""
    import glob
    import os

    _base(spark, tbl)
    sha_table_delete(spark, tbl, [1, 2, 3, 4, 5], compact_threshold=2.0)
    sha_table_delete(spark, tbl, [6, 7, 8], compact_threshold=2.0)
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}_tombstones")
        .filter(F.col("col_name") == "Location")
        .first()
        .data_type.removeprefix("file:")
    )
    files = glob.glob(os.path.join(loc, "*.parquet"))
    assert len(files) == 2, files  # one request-sized file per delete


def _lang(df):
    return df.withColumn(
        "lang",
        F.when(F.pmod("doc_id", F.lit(2)) == 0, F.lit("en")).otherwise(
            F.lit("de")
        ),
    )


def test_payload_where_verdict(spark, tbl):
    """r15: payload columns on the EXACT tier (completing the rule
    across all three dedup tiers) — where= filters BOTH the batch rows
    and the prior-occurrence candidates, so the verdict is "duplicate
    of any LICENSED earlier doc"; keepers always satisfy the
    predicate; filtered-out batch rows are absent."""
    b0 = _lang(_docs(spark, [(i, f"doc number {i} content") for i in range(20)]))
    sha_table_append(b0, "doc_id", "text", tbl, batch_id="b0", buckets=4,
                     payload_cols=["lang"])
    assert sha_table_meta(spark, tbl)["payload_cols"] == ["lang"]
    # 103 copies doc 3 ('de'), 104 copies doc 4 ('en'); batch rows:
    # 103 odd->'de', 104 even->'en'
    b1 = _lang(_docs(spark, [
        (103, "doc number 3 content"),
        (104, "doc number 4 content"),
    ]))
    sha_table_append(b1, "doc_id", "text", tbl, batch_id="b1", buckets=4)
    full = {r.doc_id: r for r in sha_table_dedup_batch(spark, tbl, "b1").collect()}
    assert full[103].keeper_id == 3 and full[104].keeper_id == 4
    en = {r.doc_id: r
          for r in sha_table_dedup_batch(spark, tbl, "b1",
                                         where="lang = 'en'").collect()}
    # only the 'en' batch row appears, and its keeper is the 'en' copy
    assert set(en) == {104} and en[104].is_dup and en[104].keeper_id == 4
    de = {r.doc_id: r
          for r in sha_table_dedup_batch(spark, tbl, "b1",
                                         where="lang = 'de'").collect()}
    assert set(de) == {103} and de[103].keeper_id == 3
    # append guards: pinned schema required and conflicting lists loud
    with pytest.raises(ValueError, match="lacks"):
        sha_table_append(_docs(spark, [(300, "z")]), "doc_id", "text", tbl,
                         batch_id="b2", buckets=4)
    with pytest.raises(ValueError, match="pins payload_cols"):
        sha_table_append(_lang(_docs(spark, [(300, "z")]))
                         .withColumnRenamed("lang", "lic"),
                         "doc_id", "text", tbl, batch_id="b2", buckets=4,
                         payload_cols=["lic"])
    with pytest.raises(ValueError, match="shadow"):
        sha_table_append(
            _docs(spark, [(1, "x")]).withColumn("content_hash", F.lit("y")),
            "doc_id", "text", tbl + "_fresh", batch_id="b0", buckets=4,
            payload_cols=["content_hash"],
        )


def test_payload_survives_delete_and_compact(spark, tbl):
    """r15: stored payload values and the where= verdict survive the
    tombstone delete + physical compact cycle (whole-row rewrite)."""
    b0 = _lang(_docs(spark, [(i, f"doc number {i} content") for i in range(20)]))
    sha_table_append(b0, "doc_id", "text", tbl, batch_id="b0", buckets=4,
                     payload_cols=["lang"])
    b1 = _lang(_docs(spark, [(104, "doc number 4 content"),
                             (106, "doc number 6 content")]))
    sha_table_append(b1, "doc_id", "text", tbl, batch_id="b1", buckets=4)
    # retract keeper 4 -> 104's 'en' verdict loses its keeper
    assert sha_table_delete(spark, tbl, [4], compact_threshold=2.0) == 1
    en = {r.doc_id: r
          for r in sha_table_dedup_batch(spark, tbl, "b1",
                                         where="lang = 'en'").collect()}
    assert not en[104].is_dup and en[106].keeper_id == 6
    assert sha_table_compact(spark, tbl) > 0
    en2 = {r.doc_id: r
           for r in sha_table_dedup_batch(spark, tbl, "b1",
                                          where="lang = 'en'").collect()}
    assert {d: (r.is_dup, r.keeper_id) for d, r in en.items()} == \
           {d: (r.is_dup, r.keeper_id) for d, r in en2.items()}
    rows = spark.table(tbl).select("_id", "lang").collect()
    assert rows and all(
        r.lang == ("en" if r._id % 2 == 0 else "de") for r in rows
    )
