"""Persisted MinHash band index / incremental dedup (VERDICT r6 #1)."""

import pytest

from pyspark.sql import functions as F

from etl_apache_kafka_python_doker_aws_spark.functions.dedup import minhash_near_dup_pairs
from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
    minhash_index_append,
    minhash_index_batches,
    minhash_index_dedup_batch,
    minhash_index_meta,
    minhash_index_pairs_vs_batch,
)

DOCS = [
    # b0: the "existing corpus"
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "sphinx of black quartz judge my vow"),
    (4, "how vexingly quick daft zebras jump"),
    # b1: the "new crawl" — 101 duplicates 1 (cross-batch), 102/103
    # duplicate each other (within-batch), 104 is novel
    (101, "the quick brown fox jumps over the lazy dog"),
    (102, "bright vixens jump dozy fowl quack together loudly"),
    (103, "bright vixens jump dozy fowl quack together loudly"),
    (104, "two driven jocks help fax my big quiz"),
]


def _frames(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    return df.filter("doc_id < 100"), df.filter("doc_id >= 100"), df


def test_incremental_pairs_tile_the_whole_corpus(spark, tmp_path):
    """batch-vs-index + within-batch pairs, unioned across batches,
    equal the from-scratch whole-corpus run (the losslessness
    contract); the cross-batch and within-batch planted dups are both
    recovered by the b1 query specifically."""
    base, new, both = _frames(spark)
    path = str(tmp_path / "idx")
    minhash_index_append(base, "doc_id", "text", path, batch_id="b0")
    p0 = minhash_index_pairs_vs_batch(spark, path, "b0")
    p1 = minhash_index_dedup_batch(new, "doc_id", "text", path, batch_id="b1")
    got1 = {(r.id_a, r.id_b) for r in p1.collect()}
    assert (1, 101) in got1  # cross-batch dup via the persisted index
    assert (102, 103) in got1  # within-batch dup
    whole = minhash_near_dup_pairs(both, "doc_id", "text")
    incr = {(r.id_a, r.id_b) for r in p0.collect()} | got1
    assert incr == {(r.id_a, r.id_b) for r in whole.collect()}
    assert minhash_index_batches(spark, path) == ["b0", "b1"]
    assert minhash_index_meta(spark, path) == {
        "num_hashes": 32, "bands": 4, "shingle_n": 3, "seed": 42,
        "payload_cols": [],
    }


def test_index_rejects_param_drift_and_redelivery(spark, tmp_path):
    base, new, _ = _frames(spark)
    path = str(tmp_path / "idx")
    minhash_index_append(base, "doc_id", "text", path, batch_id="b0")
    with pytest.raises(ValueError, match="built with"):
        minhash_index_append(new, "doc_id", "text", path, batch_id="b1", seed=7)
    with pytest.raises(ValueError, match="already appended"):
        minhash_index_append(new, "doc_id", "text", path, batch_id="b0")
    with pytest.raises(ValueError, match="no index"):
        minhash_index_pairs_vs_batch(spark, str(tmp_path / "nope"), "b0")
    with pytest.raises(ValueError, match="no index"):
        minhash_index_dedup_batch(new, "doc_id", "text", str(tmp_path / "nope"),
                                  batch_id="b1")


def test_compaction_preserves_index_sidecars_and_pairs(spark, tmp_path):
    """Index maintenance (SCALING.md): appends create one file-set per
    batch; compact_small_files must keep the hive band_idx layout AND
    carry the _graft_meta/_graft_batches sidecars through the staging
    swap — before the round-7 sidecar fix, the swap silently destroyed
    the index meta. Pairs before == pairs after."""
    from etl_apache_kafka_python_doker_aws_spark.sources.layout import (
        compact_small_files,
    )

    base, new, _ = _frames(spark)
    path = str(tmp_path / "idx")
    minhash_index_append(base, "doc_id", "text", path, batch_id="b0")
    minhash_index_append(new, "doc_id", "text", path, batch_id="b1")
    before = {(r.id_a, r.id_b) for r in
              minhash_index_pairs_vs_batch(spark, path, "b1").collect()}
    compact_small_files(spark, path)
    assert minhash_index_meta(spark, path) is not None
    assert minhash_index_batches(spark, path) == ["b0", "b1"]
    after = {(r.id_a, r.id_b) for r in
             minhash_index_pairs_vs_batch(spark, path, "b1").collect()}
    assert after == before and (1, 101) in after


def test_index_meta_params_flow_into_dedup_batch(spark, tmp_path):
    """minhash_index_dedup_batch signs the new batch with the INDEX'S
    pinned params, not the defaults — a non-default index still joins."""
    base, new, both = _frames(spark)
    path = str(tmp_path / "idx")
    minhash_index_append(
        base, "doc_id", "text", path, batch_id="b0", num_hashes=16, bands=8, seed=9
    )
    p1 = minhash_index_dedup_batch(new, "doc_id", "text", path, batch_id="b1")
    got = {(r.id_a, r.id_b) for r in p1.collect()}
    assert (1, 101) in got and (102, 103) in got


def test_bucketed_table_form_matches_path_form(spark, tmp_path):
    """The bucketed-table tier shares _pairs_for_batch with the path
    form — this pins the STORAGE layer: same pair set, same guards
    (param/bucket drift + redelivery rejected)."""
    import pytest

    base, new, _ = _frames(spark)
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        drop_minhash_table,
        minhash_table_append,
        minhash_table_batches,
        minhash_table_pairs_vs_batch,
    )

    tbl = "t_mh_bucketed_eq"
    drop_minhash_table(spark, tbl)
    try:

        minhash_table_append(base, "doc_id", "text", tbl, batch_id="b0", buckets=4)
        minhash_table_append(new, "doc_id", "text", tbl, batch_id="b1", buckets=4)
        assert minhash_table_batches(spark, tbl) == ["b0", "b1"]
        with pytest.raises(ValueError, match="already appended"):
            minhash_table_append(new, "doc_id", "text", tbl, batch_id="b1",
                                 buckets=4)
        with pytest.raises(ValueError, match="was built with"):
            minhash_table_append(new, "doc_id", "text", tbl, batch_id="b2",
                                 buckets=8)
        got_b = {(r.id_a, r.id_b) for r in
                 minhash_table_pairs_vs_batch(spark, tbl, "b1").collect()}
        path = str(tmp_path / "idx_eq")
        minhash_index_append(base, "doc_id", "text", path, batch_id="b0")
        minhash_index_append(new, "doc_id", "text", path, batch_id="b1")
        got_p = {(r.id_a, r.id_b) for r in
                 minhash_index_pairs_vs_batch(spark, path, "b1").collect()}
        assert got_b == got_p and (1, 101) in got_b
    finally:
        drop_minhash_table(spark, tbl)


def test_bucketed_dedup_batch_convenience(spark, tmp_path):
    """minhash_table_dedup_batch = append (pinned params) + pairs query,
    params read from the table meta — and a fresh table name raises."""
    import pytest

    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        drop_minhash_table,
        minhash_table_append,
        minhash_table_dedup_batch,
    )

    base, new, _ = _frames(spark)
    tbl = "t_mh_bucketed_conv"
    drop_minhash_table(spark, tbl)
    try:
        with pytest.raises(ValueError, match="no index table"):
            minhash_table_dedup_batch(new, "doc_id", "text", tbl, batch_id="b1")
        minhash_table_append(base, "doc_id", "text", tbl, batch_id="b0", buckets=4)
        got = {(r.id_a, r.id_b) for r in
               minhash_table_dedup_batch(new, "doc_id", "text", tbl,
                                         batch_id="b1").collect()}
        assert (1, 101) in got and (102, 103) in got
    finally:
        drop_minhash_table(spark, tbl)


def test_delete_removes_pairs_and_keeps_guards(spark, tmp_path):
    """minhash_index_delete (r8): deleted docs vanish from every
    subsequent pairs query, guard counts are exact again after the
    auto-compaction (recomputed from survivors), and batch markers
    survive — a fully-deleted batch still rejects redelivery under its
    batch_id."""
    import pytest

    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        minhash_index_delete,
    )

    base, new, _ = _frames(spark)
    path = str(tmp_path / "idx")
    minhash_index_append(base, "doc_id", "text", path, batch_id="b0")
    minhash_index_append(new, "doc_id", "text", path, batch_id="b1")
    assert (1, 101) in {(r.id_a, r.id_b) for r in
                        minhash_index_pairs_vs_batch(spark, path, "b1").collect()}
    removed = minhash_index_delete(spark, path, [101])
    assert removed > 0
    got = {(r.id_a, r.id_b) for r in
           minhash_index_pairs_vs_batch(spark, path, "b1").collect()}
    assert all(101 not in p for p in got)
    assert (102, 103) in got  # untouched within-batch pair survives
    # markers retained: redelivery still rejected after full delete of
    # b1 — which crosses the dead share, so it also compacts: tombstones
    # folded in, guard counts exact again
    import os

    minhash_index_delete(spark, path, [r.doc_id for r in new.collect()])
    assert not os.path.exists(os.path.join(path, "_graft_tombstones"))
    guard = spark.read.parquet(os.path.join(path, "_graft_counts"))
    assert guard.filter("band_idx >= 0").agg(F.sum("cnt")).first()[0] == (
        spark.read.parquet(path).count()
    )
    with pytest.raises(ValueError, match="already appended"):
        minhash_index_append(new, "doc_id", "text", path, batch_id="b1")
    # deleting everything is refused, loudly, with the index intact
    with pytest.raises(ValueError, match="EMPTY"):
        minhash_index_delete(
            spark, path, [r.doc_id for r in base.collect()] + [101, 102, 103, 104]
        )
    assert minhash_index_meta(spark, path) is not None


def test_append_after_delete(spark, tmp_path):
    """VERDICT r8 #5: the tombstones and counts sidecar left by
    minhash_index_delete must compose with a SUBSEQUENT append — pairs
    queries for both an old and the new batch stay correct (the only
    index state transition that had zero test coverage)."""
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        minhash_index_delete,
    )

    base, new, _ = _frames(spark)
    path = str(tmp_path / "idx")
    minhash_index_append(base, "doc_id", "text", path, batch_id="b0")
    minhash_index_append(new, "doc_id", "text", path, batch_id="b1")
    assert minhash_index_delete(spark, path, [104]) > 0
    b2 = spark.createDataFrame(
        [(201, "the quick brown fox jumps over the lazy dog"),
         (202, "two driven jocks help fax my big quiz")],
        "doc_id long, text string",
    )
    minhash_index_append(b2, "doc_id", "text", path, batch_id="b2")
    got_new = {(r.id_a, r.id_b) for r in
               minhash_index_pairs_vs_batch(spark, path, "b2").collect()}
    # 201 pairs with BOTH prior copies of the fox doc; 202's twin (104)
    # was deleted, so no pair resurrects it
    assert (1, 201) in got_new and (101, 201) in got_new
    assert all(104 not in p for p in got_new)
    # old-batch query still green after delete + append
    got_old = {(r.id_a, r.id_b) for r in
               minhash_index_pairs_vs_batch(spark, path, "b1").collect()}
    assert (102, 103) in got_old and all(104 not in p for p in got_old)
    assert minhash_index_batches(spark, path) == ["b0", "b1", "b2"]


def test_crashed_append_is_contained(spark, tmp_path):
    """VERDICT r8 #4: a crashed append (band rows written, counts +
    marker absent) must not leave UNDER-GUARDED candidates — its rows
    are invisible to pairs queries for other batches, and a pairs query
    for the unmarked batch_id raises instead of returning empty."""
    base, new, _ = _frames(spark)
    path = str(tmp_path / "idx")
    minhash_index_append(base, "doc_id", "text", path, batch_id="b0")
    meta = minhash_index_meta(spark, path)
    # simulate the crash window: write b1's DATA rows directly (the
    # same banded form the real append writes), no counts, no marker
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup import (
        banded_minhash_signatures,
    )

    banded_minhash_signatures(
        new, "doc_id", "text", meta["num_hashes"], meta["bands"],
        meta["shingle_n"], meta["seed"],
    ).withColumn("_batch", F.lit("b1_crashed")).write.mode(
        "append"
    ).partitionBy("band_idx").parquet(path)
    # unmarked batch_id: loud, not silently-empty
    with pytest.raises(ValueError, match="not a MARKED batch"):
        minhash_index_pairs_vs_batch(spark, path, "b1_crashed")
    # leftovers invisible: b0's pairs see nothing from the crashed batch
    b0_pairs = minhash_index_pairs_vs_batch(spark, path, "b0").collect()
    assert all(r.id_a < 100 and r.id_b < 100 for r in b0_pairs)
    # re-append under a NEW id works and finds the dups (the leftover
    # rows' _batch value never matches a marker, so they stay invisible)
    minhash_index_append(new, "doc_id", "text", path, batch_id="b1")
    got = {(r.id_a, r.id_b) for r in
           minhash_index_pairs_vs_batch(spark, path, "b1").collect()}
    assert (1, 101) in got and (102, 103) in got


def test_compact_bucketed_table(spark, tmp_path):
    """VERDICT r8 #8: compact_bucketed_table rewrites a bucketed index
    through a same-spec CTAS — fewer files, identical pair set, and the
    zero-Exchange band join still plans (co-location survived)."""
    import glob
    import re

    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        drop_minhash_table,
        minhash_table_append,
        minhash_table_pairs_vs_batch,
    )
    from etl_apache_kafka_python_doker_aws_spark.sources.layout import (
        compact_bucketed_table,
    )

    base, new, _ = _frames(spark)
    tbl = "t_mh_compact"
    drop_minhash_table(spark, tbl)
    try:
        minhash_table_append(base, "doc_id", "text", tbl, batch_id="b0",
                             buckets=4)
        minhash_table_append(new, "doc_id", "text", tbl, batch_id="b1",
                             buckets=4)
        before_pairs = {(r.id_a, r.id_b) for r in
                        minhash_table_pairs_vs_batch(spark, tbl, "b1").collect()}
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        n_before = len(glob.glob(f"{wh}/{tbl}/*.parquet"))
        assert compact_bucketed_table(spark, tbl) == 4
        n_after = len(glob.glob(f"{wh}/{tbl}/*.parquet"))
        assert n_after < n_before, (n_before, n_after)
        after_pairs = {(r.id_a, r.id_b) for r in
                       minhash_table_pairs_vs_batch(spark, tbl, "b1").collect()}
        assert after_pairs == before_pairs and (1, 101) in after_pairs
        # co-location survived: no band-key Exchange in the pairs plan
        plan = (
            minhash_table_pairs_vs_batch(spark, tbl, "b1")
            ._jdf.queryExecution().executedPlan().toString()
        )
        exchanges = re.findall(
            r"Exchange (?:hash|range)partitioning\(([^)]*)\)", plan)
        assert not [e for e in exchanges if "band_" in e], plan
        # and a path-backed dir is refused
        with pytest.raises(ValueError, match="not a bucketed table"):
            compact_bucketed_table(spark, f"{tbl}_meta")
    finally:
        drop_minhash_table(spark, tbl)
        spark.sql("DROP TABLE IF EXISTS t_mh_compact_compacting")


def _dir_snapshot(root):
    """(relpath -> (size, mtime_ns)) for every file under root."""
    import os

    snap = {}
    for r, _, files in os.walk(root):
        for f in files:
            p = os.path.join(r, f)
            st = os.stat(p)
            snap[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return snap


class _BandForm:
    """One band index form — the path (``minhash_index_*``) or the
    bucketed table (``minhash_table_*``) — behind the calls the shared
    tombstone test bodies make, so one body checks both forms."""

    def __init__(self, spark, tmp_path, form, name):
        from etl_apache_kafka_python_doker_aws_spark.functions import (
            dedup_index as di,
        )

        self.spark, self.form, self.di = spark, form, di
        self.loc = str(tmp_path / name) if form == "path" else name
        if form == "table":
            di.drop_minhash_table(spark, name)

    def _call(self, op, *a, **kw):
        tier = "index" if self.form == "path" else "table"
        return getattr(self.di, f"minhash_{tier}_{op}")(*a, **kw)

    def append(self, df, batch_id):
        extra = {} if self.form == "path" else {"buckets": 4}
        self._call("append", df, "doc_id", "text", self.loc,
                   batch_id=batch_id, **extra)

    def pairs_df(self, batch_id):
        return self._call("pairs_vs_batch", self.spark, self.loc, batch_id)

    def pairs(self, batch_id):
        return {(r.id_a, r.id_b) for r in self.pairs_df(batch_id).collect()}

    def delete(self, ids):
        return self._call("delete", self.spark, self.loc, ids)

    def compact(self):
        return self._call("compact", self.spark, self.loc)

    def tombstones(self):
        from etl_apache_kafka_python_doker_aws_spark.functions.index_store import (
            _tombstones,
        )

        if self.form == "path":
            return _tombstones(self.spark, self.loc)
        return _tombstones(self.spark, table=self.loc)

    def rows(self):
        if self.form == "path":
            return self.spark.read.parquet(self.loc)
        return self.spark.table(self.loc)

    def files(self, part):
        """(size, mtime) of every data file (``part="data"``) or guard
        counts file (``part="counts"``)."""
        import os

        if self.form == "path":
            if part == "counts":
                return _dir_snapshot(os.path.join(self.loc, "_graft_counts"))
            return {r: st for r, st in _dir_snapshot(self.loc).items()
                    if r.startswith("band_idx=")}
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        name = self.loc if part == "data" else f"{self.loc}_counts"
        return _dir_snapshot(os.path.join(wh, name.lower()))

    def cleanup(self):
        if self.form == "table":
            for name in (self.loc, f"{self.loc}_counts"):
                self.spark.sql(f"DROP TABLE IF EXISTS {name}_deleting")
            self.di.drop_minhash_table(self.spark, self.loc)


def _delete_removes_pairs(form, base, new):
    """Deleted docs vanish from pairs, a no-op delete returns 0, markers
    keep rejecting redelivery, and deleting everything is refused with
    the index intact."""
    form.append(base, "b0")
    form.append(new, "b1")
    assert (1, 101) in form.pairs("b1")
    assert form.delete([101]) > 0
    got = form.pairs("b1")
    assert all(101 not in p for p in got) and (102, 103) in got
    assert form.delete([999999]) == 0
    with pytest.raises(ValueError, match="already appended"):
        form.append(new, "b1")
    with pytest.raises(ValueError, match="EMPTY"):
        form.delete([r.doc_id for r in base.collect()] + [101, 102, 103, 104])
    assert form.rows().count() > 0


def test_table_delete_removes_pairs_keeps_colocation(spark, tmp_path):
    """minhash_table_delete (r10): the bucketed tier's retraction —
    the shared pairs checks (``_delete_removes_pairs``), and the
    zero-Exchange band join still plans after the delete (co-location
    survived)."""
    import re

    base, new, _ = _frames(spark)
    form = _BandForm(spark, tmp_path, "table", "t_mh_delete")
    try:
        _delete_removes_pairs(form, base, new)
        # co-location: no band-key shuffle, and the scan is still
        # bucketed (the r8 zero-Exchange pin's assertions)
        plan = form.pairs_df("b1")._jdf.queryExecution().executedPlan().toString()
        exchanges = re.findall(
            r"Exchange (?:hash|range)partitioning\(([^)]*)\)", plan
        )
        assert not [e for e in exchanges if "band_" in e], exchanges
        assert "SelectedBucketsCount" in plan, "bucketed scan not used"
    finally:
        form.cleanup()


def test_path_delete_removes_pairs(spark, tmp_path):
    """minhash_index_delete: the band table's pairs checks, on the
    path form."""
    base, new, _ = _frames(spark)
    _delete_removes_pairs(_BandForm(spark, tmp_path, "path", "idx"), base, new)


def test_delete_rejects_null_ids_loudly(spark, tmp_path):
    """_retraction_forms (review r10): a NULL in the delete request
    never matches anything (In predicates and anti-joins both skip
    NULL) — silently deleting nothing is the keyed-merge trap, so both
    input forms reject loudly; and a NULL-_id index row is never
    swept up by a list-form delete of other ids."""
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup import (
        banded_minhash_signatures,
    )
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        minhash_index_delete,
    )

    base, new, _ = _frames(spark)
    path = str(tmp_path / "idx")
    minhash_index_append(base, "doc_id", "text", path, batch_id="b0")
    with pytest.raises(ValueError, match="None"):
        minhash_index_delete(spark, path, [None, 3])
    null_ids = spark.createDataFrame([(None,)], "doc_id long")
    with pytest.raises(ValueError, match="NULL"):
        minhash_index_delete(spark, path, null_ids)
    # a NULL-_id row in the index (a doc with a null business key)
    # survives a delete that never named it
    meta = minhash_index_meta(spark, path)
    nulldoc = spark.createDataFrame(
        [(None, "sphinx of black quartz judge my vow")],
        "doc_id long, text string",
    )
    banded_minhash_signatures(
        nulldoc, "doc_id", "text", meta["num_hashes"], meta["bands"],
        meta["shingle_n"], meta["seed"],
    ).withColumn("_batch", F.lit("b0")).write.mode("append").partitionBy(
        "band_idx"
    ).parquet(path)
    n_null = spark.read.parquet(path).filter(F.col("_id").isNull()).count()
    assert n_null > 0
    assert minhash_index_delete(spark, path, [3]) > 0
    assert spark.read.parquet(path).filter(
        F.col("_id").isNull()
    ).count() == n_null


def test_table_delete_swap_recovery(spark, tmp_path):
    """ADVICE r10: minhash_table_delete's DROP→RENAME swap is healed
    after a mid-swap kill — both staging tables exist before any swap
    starts, so a missing live table with a `_deleting` twin is renamed
    back into place by every entry point, and the delete is simply
    re-runnable."""
    from etl_apache_kafka_python_doker_aws_spark.functions.index_store import _table_exists
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        drop_minhash_table,
        minhash_table_append,
        minhash_table_delete,
        minhash_table_pairs_vs_batch,
    )

    base, new, _ = _frames(spark)
    tbl = "t_mh_swap_recover"
    drop_minhash_table(spark, tbl)
    try:
        minhash_table_append(base, "doc_id", "text", tbl, batch_id="b0",
                             buckets=4)
        minhash_table_append(new, "doc_id", "text", tbl, batch_id="b1",
                             buckets=4)
        before = {(r.id_a, r.id_b) for r in
                  minhash_table_pairs_vs_batch(spark, tbl, "b1").collect()}
        assert (1, 101) in before
        # fabricate the crash state the swap loop can produce: both
        # staging tables fully CTAS'd, then killed between `DROP TABLE
        # {tbl}` and the RENAME — live data table gone, twins stranded
        for name in (tbl, f"{tbl}_counts"):
            spark.sql(f"DROP TABLE IF EXISTS {name}_deleting")
            spark.table(name).repartition(
                4, F.col("band_idx"), F.col("band_hash")
            ).write.bucketBy(4, "band_idx", "band_hash").format(
                "parquet"
            ).saveAsTable(f"{name}_deleting")
        spark.sql(f"DROP TABLE {tbl}")
        assert not _table_exists(spark, tbl)
        # any entry point heals: pairs works again and sees the staged data
        after = {(r.id_a, r.id_b) for r in
                 minhash_table_pairs_vs_batch(spark, tbl, "b1").collect()}
        assert after == before
        assert _table_exists(spark, tbl)
        assert not _table_exists(spark, f"{tbl}_deleting")
        assert not _table_exists(spark, f"{tbl}_counts_deleting")
        # and the interrupted delete is re-runnable end-to-end
        assert minhash_table_delete(spark, tbl, [101]) > 0
        got = {(r.id_a, r.id_b) for r in
               minhash_table_pairs_vs_batch(spark, tbl, "b1").collect()}
        assert all(101 not in p for p in got) and (102, 103) in got
    finally:
        for name in (tbl, f"{tbl}_counts"):
            spark.sql(f"DROP TABLE IF EXISTS {name}_deleting")
        drop_minhash_table(spark, tbl)


def _delete_is_request_proportional(form, base, new):
    """A delete appends a request-sized tombstone: (1) data and guard
    counts files are BYTE-UNTOUCHED (mtime-pinned); the anti-join
    broadcasts; (2) retracted history stays dead while a RE-APPENDED id
    lives (seq-scoped tombstones — an id-only sidecar would either
    resurrect GDPR rows or permanently kill re-ingests); (3) compaction
    folds the tombstones in, drops the sidecar, and pairs results are
    unchanged."""
    import re

    form.append(base, "b0")
    form.append(new, "b1")
    pre_data, pre_counts = form.files("data"), form.files("counts")
    assert pre_data and pre_counts
    assert form.delete([101]) > 0
    # (1) request-proportional: data + counts byte-untouched
    assert form.files("data") == pre_data
    assert form.files("counts") == pre_counts
    assert form.tombstones() is not None
    got = form.pairs("b1")
    assert all(101 not in p for p in got) and (102, 103) in got
    # the tombstone anti-join must BROADCAST its request-sized build
    # side — an _id-key SortMergeJoin would shuffle the whole index per
    # snapshot (review r11). Keys are matched as whole attribute names:
    # the path form's band join legitimately shuffles on band_idx
    plan = form.pairs_df("b1")._jdf.queryExecution().executedPlan().toString()
    id_ex = [e for e in re.findall(
        r"Exchange (?:hash|range)partitioning\(([^)]*)\)", plan
    ) if re.search(r"(?<!\w)_(?:t_)?id#", e)]
    assert not id_ex, f"tombstone anti-join shuffled the index: {id_ex}"
    # idempotent re-delete of a dead id is a no-op
    assert form.delete([101]) == 0
    # (2) re-append the retracted id: the NEW observation lives, the
    # retracted history stays dead
    again = base.sparkSession.createDataFrame(
        [(101, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    form.append(again, "b2")
    b2 = form.pairs("b2")
    assert (1, 101) in b2
    b1 = form.pairs("b1")
    assert all(101 not in p for p in b1)
    # (3) compaction folds the tombstones in and drops the sidecar
    assert form.compact() > 0
    assert form.tombstones() is None
    assert form.pairs("b2") == b2 and form.pairs("b1") == b1
    # compact with nothing pending is a cheap no-op
    assert form.compact() == 0


def test_table_delete_tombstones_are_request_proportional(spark, tmp_path):
    """r11 (VERDICT r10 #2): minhash_table_delete appends tombstones
    instead of CTAS-rewriting the table (``_delete_is_request_proportional``);
    a forced auto-compaction (threshold 0) takes the CTAS path."""
    base, new, _ = _frames(spark)
    form = _BandForm(spark, tmp_path, "table", "t_mh_tombstones")
    try:
        _delete_is_request_proportional(form, base, new)
        assert form.di.minhash_table_delete(spark, form.loc, [104],
                                            compact_threshold=0) > 0
        assert form.tombstones() is None
        got = form.pairs("b1")
        assert all(104 not in p for p in got) and (102, 103) in got
    finally:
        form.cleanup()


def test_path_delete_tombstones_are_request_proportional(spark, tmp_path):
    """minhash_index_delete appends tombstones (the band table's
    checks, on the path form)."""
    base, new, _ = _frames(spark)
    _delete_is_request_proportional(
        _BandForm(spark, tmp_path, "path", "idx"), base, new)


def test_path_delete_runs_no_more_jobs_than_table_delete(
    spark, tmp_path, jobs_during
):
    """A non-compacting band-path delete of one id runs no more Spark
    jobs than minhash_table_delete of the same request."""
    base, new, _ = _frames(spark)
    forms = [_BandForm(spark, tmp_path, "path", "idx"),
             _BandForm(spark, tmp_path, "table", "t_mh_delete_jobs")]
    jobs = {}
    try:
        for form in forms:
            form.append(base, "b0")
            form.append(new, "b1")
            removed, jobs[form.form] = jobs_during(lambda: form.delete([101]))
            assert removed > 0 and form.tombstones() is not None  # no compaction
        assert jobs["path"] <= jobs["table"], jobs
    finally:
        forms[1].cleanup()


class Killed(Exception):
    """A simulated process kill."""


def _kill_compact_at(monkeypatch, state, path):
    """Make the next ``minhash_index_compact`` die at ``state``."""
    import os
    import shutil

    from etl_apache_kafka_python_doker_aws_spark.plans import merge

    if state == "mid_dir_swap":
        # the 4th rename moves the second staged dir in: the first
        # band dir is folded, the second sits in ``band_idx=N.old``
        real, n = os.rename, [0]

        def rename(src, dst):
            n[0] += 1
            if n[0] == 4:
                raise Killed(src)
            real(src, dst)

        monkeypatch.setattr(os, "rename", rename)
    elif state == "before_counts_swap":
        def swap_in(staging, target):
            raise Killed(target)

        monkeypatch.setattr(merge, "_swap_in", swap_in)
    else:  # before_tombstone_drop
        real_rmtree = shutil.rmtree

        def rmtree(p, *a, **kw):
            if str(p).rstrip("/").endswith("_graft_tombstones"):
                raise Killed(p)
            real_rmtree(p, *a, **kw)

        monkeypatch.setattr(shutil, "rmtree", rmtree)


@pytest.mark.parametrize(
    "state", ["mid_dir_swap", "before_counts_swap", "before_tombstone_drop"]
)
def test_path_compact_crash_windows_heal(spark, tmp_path, monkeypatch, state):
    """minhash_index_compact killed at each window: the next band entry
    point heals the swap (no ``.old`` dir left, the retracted id never
    served, the surviving pairs intact), and a re-run finishes the fold,
    makes the guard counts exact and drops the tombstones."""
    import os

    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        minhash_index_compact,
        minhash_index_delete,
    )

    base, new, _ = _frames(spark)
    path = str(tmp_path / "idx")
    minhash_index_append(base, "doc_id", "text", path, batch_id="b0")
    minhash_index_append(new, "doc_id", "text", path, batch_id="b1")
    want = minhash_index_pairs_vs_batch(spark, path, "b1").collect()
    want = {(r.id_a, r.id_b) for r in want if 101 not in (r.id_a, r.id_b)}
    n_dead = minhash_index_delete(spark, path, [101])
    assert n_dead > 0
    _kill_compact_at(monkeypatch, state, path)
    with pytest.raises(Killed):
        minhash_index_compact(spark, path)
    monkeypatch.undo()
    # the next entry point heals, and serves the post-delete pair set
    got = {(r.id_a, r.id_b) for r in
           minhash_index_pairs_vs_batch(spark, path, "b1").collect()}
    assert got == want and (102, 103) in got
    assert not [d for d in os.listdir(path) if d.endswith(".old")]
    assert sorted(d for d in os.listdir(path) if d.startswith("band_idx=")) == [
        f"band_idx={i}" for i in range(4)]
    # the re-run folds what the kill left and finishes
    left = minhash_index_compact(spark, path)
    if state == "mid_dir_swap":
        assert 0 < left < n_dead  # the dirs not yet swapped
    else:
        assert left == 0
    assert not os.path.exists(os.path.join(path, "_graft_tombstones"))
    rows = spark.read.parquet(path)
    assert rows.filter(F.col("_id") == 101).count() == 0
    guard = spark.read.parquet(os.path.join(path, "_graft_counts"))
    assert guard.filter("band_idx >= 0").agg(F.sum("cnt")).first()[0] == rows.count()
    assert {(r.id_a, r.id_b) for r in
            minhash_index_pairs_vs_batch(spark, path, "b1").collect()} == want


def test_compact_heals_stranded_counts_swap(spark, tmp_path):
    """review r11: a compact killed BETWEEN the data swap and the counts
    swap leaves post-delete data with PRE-delete counts and the
    recomputed counts stranded in `_counts_deleting`. A re-run lands in
    the nothing-to-rewrite early exit (tombstones re-kill nothing) —
    which must complete the stranded counts swap instead of silently
    abandoning it, or the guard would over-count the deleted rows
    forever."""
    from pyspark.sql import functions as F

    from etl_apache_kafka_python_doker_aws_spark.functions.index_store import (
        _live_rows,
        _marker_rows,
        _table_exists,
        _tombstones,
    )
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        drop_minhash_table,
        minhash_table_append,
        minhash_table_compact,
        minhash_table_delete,
        minhash_table_pairs_vs_batch,
    )

    base, new, _ = _frames(spark)
    tbl = "t_mh_counts_strand"
    drop_minhash_table(spark, tbl)
    try:
        minhash_table_append(base, "doc_id", "text", tbl, batch_id="b0",
                             buckets=4)
        minhash_table_append(new, "doc_id", "text", tbl, batch_id="b1",
                             buckets=4)
        assert minhash_table_delete(spark, tbl, [101]) > 0
        # fabricate the crash state: stage survivors + recomputed
        # counts exactly as compact does, swap ONLY the data table
        markers = _marker_rows(spark, table=tbl)
        survivors = _live_rows(
            spark.table(tbl), _tombstones(spark, table=tbl), markers)
        counts = (
            survivors.groupBy("band_idx", "band_hash", "_batch")
            .agg(F.count("*").alias("cnt"))
            .select("band_idx", "band_hash", "cnt", "_batch")
            .unionByName(spark.createDataFrame(
                [(-1, 0, 0, r.batch_id) for r in markers],
                "band_idx int, band_hash long, cnt long, _batch string"))
        )
        for name, df in ((tbl, survivors), (f"{tbl}_counts", counts)):
            spark.sql(f"DROP TABLE IF EXISTS {name}_deleting")
            df.repartition(4, F.col("band_idx"), F.col("band_hash")) \
              .write.bucketBy(4, "band_idx", "band_hash") \
              .format("parquet").saveAsTable(f"{name}_deleting")
        spark.sql(f"DROP TABLE {tbl}")
        spark.sql(f"ALTER TABLE {tbl}_deleting RENAME TO {tbl}")
        stale_total = spark.table(f"{tbl}_counts").agg(
            F.sum("cnt")).first()[0]
        # WORST interleaving (second review r11): an APPEND arrives
        # before any compact re-run. Entry-point recovery must complete
        # the counts swap FIRST — otherwise b2's counts land in the
        # stale table and a later early-exit compact renames the
        # pre-b2 staged counts over them, silently dropping b2-only
        # buckets from the guard whitelist (pairs lost).
        b2 = spark.createDataFrame(
            [(601, "novel sphinx wafts quick jolts of zesty vim"),
             (602, "novel sphinx wafts quick jolts of zesty vim")],
            "doc_id long, text string")
        minhash_table_append(b2, "doc_id", "text", tbl, batch_id="b2",
                             buckets=4)
        assert not _table_exists(spark, f"{tbl}_counts_deleting")
        fresh_total = spark.table(f"{tbl}_counts").agg(
            F.sum("cnt")).first()[0]
        assert fresh_total < stale_total + 8  # deleted rows left the guard
        # b2's within-batch dup pairs — its bucket exists ONLY in b2,
        # so this fails if b2's counts were stranded or overwritten
        got2 = {(r.id_a, r.id_b) for r in
                minhash_table_pairs_vs_batch(spark, tbl, "b2").collect()}
        assert (601, 602) in got2
        # compact's early exit just drops the (no-op) tombstones now
        assert minhash_table_compact(spark, tbl) == 0
        assert not _table_exists(spark, f"{tbl}_tombstones")
        got = {(r.id_a, r.id_b) for r in
               minhash_table_pairs_vs_batch(spark, tbl, "b1").collect()}
        assert all(101 not in p for p in got) and (102, 103) in got
        assert {(r.id_a, r.id_b) for r in
                minhash_table_pairs_vs_batch(spark, tbl, "b2").collect()} == got2
    finally:
        for name in (tbl, f"{tbl}_counts"):
            spark.sql(f"DROP TABLE IF EXISTS {name}_deleting")
        drop_minhash_table(spark, tbl)


def test_drop_table_clears_staging_twins(spark, tmp_path):
    """review r11: drop_minhash_table must also remove the `_deleting`
    staging twins — a twin left by a compact killed mid-swap would be
    renamed back into place by _table_swap_recover when a NEW index is
    later created under the same name, resurrecting GDPR-purged rows
    into the fresh index."""
    from pyspark.sql import functions as F

    from etl_apache_kafka_python_doker_aws_spark.functions.index_store import _table_exists
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        drop_minhash_table,
        minhash_table_append,
        minhash_table_pairs_vs_batch,
    )

    base, new, _ = _frames(spark)
    tbl = "t_mh_drop_twins"
    drop_minhash_table(spark, tbl)
    minhash_table_append(base, "doc_id", "text", tbl, batch_id="b0",
                         buckets=4)
    # stage a twin as a crashed compact would, then kill between the
    # DROP and the RENAME
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_deleting")
    spark.table(tbl).repartition(4, F.col("band_idx"), F.col("band_hash")) \
        .write.bucketBy(4, "band_idx", "band_hash").format("parquet") \
        .saveAsTable(f"{tbl}_deleting")
    drop_minhash_table(spark, tbl)
    assert not _table_exists(spark, f"{tbl}_deleting")
    # a NEW index under the same name starts EMPTY — nothing resurrected
    minhash_table_append(new, "doc_id", "text", tbl, batch_id="fresh",
                         buckets=4)
    try:
        assert spark.table(tbl).filter(F.col("_id") < 100).count() == 0
        got = {(r.id_a, r.id_b) for r in
               minhash_table_pairs_vs_batch(spark, tbl, "fresh").collect()}
        assert (102, 103) in got and all(a >= 100 for a, _ in got)
    finally:
        drop_minhash_table(spark, tbl)


def test_compact_sweeps_unmarked_rows_without_tombstones(spark, tmp_path):
    """second review r11: a GDPR id whose band rows exist ONLY in an
    UNMARKED (crashed-append) batch gets no tombstone — delete returns
    0 — so minhash_table_compact must run its physical sweep even with
    no tombstones pending, or those rows would sit in the warehouse
    forever with both entry points reporting success."""
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup import (
        banded_minhash_signatures,
    )
    from etl_apache_kafka_python_doker_aws_spark.functions.index_store import _table_exists
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        drop_minhash_table,
        minhash_table_append,
        minhash_table_compact,
        minhash_table_delete,
        minhash_table_meta,
    )

    base, _, _ = _frames(spark)
    tbl = "t_mh_unmarked_sweep"
    drop_minhash_table(spark, tbl)
    try:
        minhash_table_append(base, "doc_id", "text", tbl, batch_id="b0",
                             buckets=4)
        # simulate an append crash: band rows written, marker never was
        meta = minhash_table_meta(spark, tbl)
        orphan = spark.createDataFrame(
            [(9001, "stranded crash append document about zebras")],
            "doc_id long, text string")
        banded_minhash_signatures(
            orphan, "doc_id", "text", meta["num_hashes"], meta["bands"],
            meta["shingle_n"], meta["seed"],
        ).withColumn("_batch", F.lit("crashed")).write.mode(
            "append"
        ).bucketBy(4, "band_idx", "band_hash").format("parquet").saveAsTable(tbl)
        assert spark.table(tbl).filter(F.col("_id") == 9001).count() > 0
        # the GDPR request for the stranded id: no live rows match
        assert minhash_table_delete(spark, tbl, [9001]) == 0
        assert not _table_exists(spark, f"{tbl}_tombstones")
        # compact alone performs the physical sweep
        assert minhash_table_compact(spark, tbl) > 0
        assert spark.table(tbl).filter(F.col("_id") == 9001).count() == 0
        # idempotent afterwards
        assert minhash_table_compact(spark, tbl) == 0
    finally:
        for name in (tbl, f"{tbl}_counts"):
            spark.sql(f"DROP TABLE IF EXISTS {name}_deleting")
        drop_minhash_table(spark, tbl)


def _tombstone_id_type_is_order_independent(form, base, new):
    """The tombstone sidecar's _id type is pinned to the INDEX's id
    type, not to whichever request form ran first — a first delete with
    an INT-typed id frame must not brick a later BIGINT list delete on
    the sidecar append."""
    form.append(base, "b0")
    form.append(new, "b1")
    narrow = base.sparkSession.createDataFrame([(101,)], "doc_id int")
    assert form.delete(narrow) > 0
    assert form.tombstones().schema["_id"].simpleString() == "_id:bigint"
    # the list form (BIGINT) appends into the same sidecar cleanly
    assert form.delete([104]) > 0
    got = form.pairs("b1")
    assert all(101 not in p and 104 not in p for p in got)
    assert (102, 103) in got


def test_tombstone_sidecar_id_type_is_order_independent(spark, tmp_path):
    """second review r11, on the band table."""
    base, new, _ = _frames(spark)
    form = _BandForm(spark, tmp_path, "table", "t_mh_tomb_types")
    try:
        _tombstone_id_type_is_order_independent(form, base, new)
    finally:
        form.cleanup()


def test_path_tombstone_sidecar_id_type_is_order_independent(spark, tmp_path):
    base, new, _ = _frames(spark)
    _tombstone_id_type_is_order_independent(
        _BandForm(spark, tmp_path, "path", "idx"), base, new)


def test_apply_tombstones_bounds_the_marker_map(spark):
    """VERDICT r11 #4 / ADVICE r11 #2: the batch→seq translation of the
    read-path tombstone filter is a (broadcast) JOIN against the marker
    frame for every marker-list size — never a thousands-of-literals map
    in the plan — with the same seq-scoped semantics either way."""
    from collections import namedtuple

    from etl_apache_kafka_python_doker_aws_spark.functions.index_store import (
        _live_rows,
    )

    M = namedtuple("M", ["batch_id", "seq"])
    full = spark.createDataFrame(
        [(1, "b0"), (2, "b1"), (3, "b1050")],
        "_id long, _batch string",
    )
    tomb = spark.createDataFrame([(2, 2)], "_id long, del_seq int")

    few = [M(f"b{i}", i) for i in range(5)]
    many = [M(f"b{i}", i) for i in range(1100)]
    for markers in (few, many):
        live = _live_rows(full, tomb, markers, keep_unmarked=True)
        plan = live._jdf.queryExecution().analyzed().toString()
        assert "map(" not in plan and plan.count("Join") == 2, plan
        # id 2 (seq 1 < del_seq 2) dies; id 3's batch is unmarked under
        # the small list (NULL seq → lives) and marked with seq 1050
        # under the big one (≥ del_seq → lives)
        assert {r._id for r in live.collect()} == {1, 3}


def test_filtered_pairs_both_tiers(spark, tmp_path):
    """r14 `allowed=` (VERDICT r13 #3): both pair SIDES must be allowed,
    per-filtered-corpus semantics on the path AND bucketed tiers (shared
    _pairs_for_batch), NULL ids match nothing."""
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        drop_minhash_table,
        minhash_table_append,
        minhash_table_pairs_vs_batch,
    )

    b0, b1, full = _frames(spark)
    path = str(tmp_path / "mh_filtered")
    minhash_index_append(full, "doc_id", "text", path, batch_id="b0")
    # unfiltered reference: the verbatim pairs (1,101) and (102,103)
    ref = minhash_index_pairs_vs_batch(spark, path, "b0")
    assert {(r.id_a, r.id_b) for r in ref.collect()} >= {(1, 101), (102, 103)}
    allowed = spark.createDataFrame(
        [(1,), (101,), (104,), (None,)], "doc_id long"
    )
    got = minhash_index_pairs_vs_batch(
        spark, path, "b0", allowed=allowed
    ).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(1, 101)}, got
    # only ONE side of (102,103) allowed → the pair is filtered out
    half = spark.createDataFrame([(102,), (1,)], "doc_id long")
    got2 = minhash_index_pairs_vs_batch(
        spark, path, "b0", allowed=half
    ).collect()
    assert got2 == [], got2
    # bucketed tier shares the semantics
    tbl = "t_mh_filtered_pairs"
    drop_minhash_table(spark, tbl)
    minhash_table_append(full, "doc_id", "text", tbl, batch_id="b0", buckets=4)
    got3 = minhash_table_pairs_vs_batch(
        spark, tbl, "b0", allowed=allowed
    ).collect()
    drop_minhash_table(spark, tbl)
    assert {(r.id_a, r.id_b) for r in got3} == {(1, 101)}, got3


def test_filtered_pairs_skew_guard_uses_unfiltered_counts(spark, tmp_path):
    """review r14: the skew guard reads the UNFILTERED counts sidecar
    when `allowed=` narrows the corpus — a bucket over the cap
    UNFILTERED must stay dropped even if the filtered bucket would
    fit."""
    # three verbatim copies share EVERY band bucket (count 3); cap 2
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_guard_drift")
    minhash_index_append(docs, "doc_id", "text", path, batch_id="b0")
    allowed = spark.createDataFrame([(1,), (2,)], "doc_id long")
    # sidecar path: unfiltered count 3 > 2 → bucket dropped → no pairs
    got = minhash_index_pairs_vs_batch(
        spark, path, "b0", max_bucket_size=2, allowed=allowed
    ).collect()
    assert got == [], got
    # sanity: without the filter and a non-binding cap the pairs exist
    ref = minhash_index_pairs_vs_batch(
        spark, path, "b0", max_bucket_size=10
    ).collect()
    assert {(r.id_a, r.id_b) for r in ref} == {(1, 2), (1, 3), (2, 3)}


def _with_lang(df):
    # id-derived payload: 'en' iff even — pure function of the id, so
    # assertions never need a lookup table
    return df.withColumn(
        "lang",
        F.when(F.pmod(F.col("doc_id"), F.lit(2)) == 0, F.lit("en")).otherwise(
            F.lit("de")
        ),
    )


def test_payload_where_both_tiers(spark, tmp_path):
    """r15 payload columns + where= (the l3_payload_ann rule on the band
    tier): predicate filters BOTH pair sides on stored attributes, on
    the path AND bucketed tiers (shared _pairs_for_batch); composes
    with allowed= (AND); a broad predicate drops nothing."""
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        drop_minhash_table,
        minhash_index_meta,
        minhash_table_append,
        minhash_table_meta,
        minhash_table_pairs_vs_batch,
    )

    _, _, full = _frames(spark)
    path = str(tmp_path / "mh_payload")
    minhash_index_append(
        _with_lang(full), "doc_id", "text", path, batch_id="b0",
        payload_cols=["lang"],
    )
    assert minhash_index_meta(spark, path)["payload_cols"] == ["lang"]
    # verbatim pairs: (1,101) mixed lang (odd/odd -> de/de actually:
    # 1 odd, 101 odd -> both 'de'); (102,103) = en/de mixed
    ref = minhash_index_pairs_vs_batch(spark, path, "b0")
    assert {(r.id_a, r.id_b) for r in ref.collect()} >= {(1, 101), (102, 103)}
    got_de = minhash_index_pairs_vs_batch(
        spark, path, "b0", where="lang = 'de'"
    ).collect()
    assert {(r.id_a, r.id_b) for r in got_de} == {(1, 101)}, got_de
    # (102,103) has one side each -> filtered out under either predicate
    got_en = minhash_index_pairs_vs_batch(
        spark, path, "b0", where="lang = 'en'"
    ).collect()
    assert (102, 103) not in {(r.id_a, r.id_b) for r in got_en}
    # broad predicate == unfiltered pair set
    got_all = minhash_index_pairs_vs_batch(
        spark, path, "b0", where="lang IN ('en', 'de')"
    )
    assert {(r.id_a, r.id_b) for r in got_all.collect()} == {
        (r.id_a, r.id_b) for r in ref.collect()
    }
    # composes with allowed= (AND): allowed covers (1,101) but where
    # excludes 'de' -> empty
    allowed = spark.createDataFrame([(1,), (101,)], "doc_id long")
    got_and = minhash_index_pairs_vs_batch(
        spark, path, "b0", where="lang = 'en'", allowed=allowed
    ).collect()
    assert got_and == [], got_and
    # bucketed tier shares semantics + pins payloads in its meta table
    tbl = "t_mh_payload_pairs"
    drop_minhash_table(spark, tbl)
    minhash_table_append(
        _with_lang(full), "doc_id", "text", tbl, batch_id="b0", buckets=4,
        payload_cols=["lang"],
    )
    assert minhash_table_meta(spark, tbl)["payload_cols"] == ["lang"]
    got_t = minhash_table_pairs_vs_batch(
        spark, tbl, "b0", where="lang = 'de'"
    ).collect()
    drop_minhash_table(spark, tbl)
    assert {(r.id_a, r.id_b) for r in got_t} == {(1, 101)}, got_t


def test_payload_append_guards(spark, tmp_path):
    """r15: the payload schema is a creation-time layout property —
    missing columns, conflicting explicit lists, reserved names and
    duplicates all fail loudly (a silent NULL payload would corrupt
    where= filtering downstream)."""
    b0, b1, full = _frames(spark)
    path = str(tmp_path / "mh_payload_guards")
    with pytest.raises(ValueError, match="shadow"):
        minhash_index_append(
            b0.withColumn("_sig", F.lit("x")), "doc_id", "text", path,
            batch_id="b0", payload_cols=["_sig"],
        )
    with pytest.raises(ValueError, match="duplicate"):
        minhash_index_append(
            _with_lang(b0), "doc_id", "text", path, batch_id="b0",
            payload_cols=["lang", "lang"],
        )
    with pytest.raises(ValueError, match="not in the input frame"):
        minhash_index_append(
            b0, "doc_id", "text", path, batch_id="b0", payload_cols=["lang"]
        )
    minhash_index_append(
        _with_lang(b0), "doc_id", "text", path, batch_id="b0",
        payload_cols=["lang"],
    )
    # later appends must carry the pinned column...
    with pytest.raises(ValueError, match="lacks"):
        minhash_index_append(b1, "doc_id", "text", path, batch_id="b1")
    # ...and may not request a different schema
    with pytest.raises(ValueError, match="pins payload_cols"):
        minhash_index_append(
            _with_lang(b1).withColumn("lic", F.lit("mit")), "doc_id", "text",
            path, batch_id="b1", payload_cols=["lic"],
        )
    # carrying the pinned column works, and where= sees both batches
    minhash_index_append(_with_lang(b1), "doc_id", "text", path, batch_id="b1")
    got = minhash_index_pairs_vs_batch(
        spark, path, "b1", where="lang = 'de'"
    ).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(1, 101)}, got


def test_payload_survives_lifecycle(spark, tmp_path):
    """r15: payload values and the meta pin survive tombstone delete and
    compaction on both band forms (whole-row rewrites — this pins the
    contract, not the mechanism)."""
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        drop_minhash_table,
        minhash_index_compact,
        minhash_index_delete,
        minhash_index_meta,
        minhash_table_append,
        minhash_table_compact,
        minhash_table_delete,
        minhash_table_pairs_vs_batch,
    )

    _, _, full = _frames(spark)
    path = str(tmp_path / "mh_payload_life")
    minhash_index_append(
        _with_lang(full), "doc_id", "text", path, batch_id="b0",
        payload_cols=["lang"],
    )
    assert minhash_index_delete(spark, path, [102]) > 0
    assert minhash_index_compact(spark, path) > 0
    assert minhash_index_meta(spark, path)["payload_cols"] == ["lang"]
    got = minhash_index_pairs_vs_batch(
        spark, path, "b0", where="lang = 'de'"
    ).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(1, 101)}, got
    # stored values (not recomputed): every surviving row's lang matches
    # the id-derived rule
    rows = spark.read.parquet(path).select("_id", "lang").collect()
    assert rows and all(
        r.lang == ("en" if r._id % 2 == 0 else "de") for r in rows
    )
    # bucketed tier: tombstone delete + compact keep payloads + where=
    tbl = "t_mh_payload_life"
    drop_minhash_table(spark, tbl)
    minhash_table_append(
        _with_lang(full), "doc_id", "text", tbl, batch_id="b0", buckets=4,
        payload_cols=["lang"],
    )
    assert minhash_table_delete(spark, tbl, [102], compact_threshold=2.0) > 0
    assert minhash_table_compact(spark, tbl) > 0
    got_t = minhash_table_pairs_vs_batch(
        spark, tbl, "b0", where="lang = 'de'"
    ).collect()
    rows_t = spark.table(tbl).select("_id", "lang").collect()
    drop_minhash_table(spark, tbl)
    assert {(r.id_a, r.id_b) for r in got_t} == {(1, 101)}, got_t
    assert rows_t and all(
        r.lang == ("en" if r._id % 2 == 0 else "de") for r in rows_t
    )


def test_dedup_batch_resume_both_tiers(spark, tmp_path):
    """r15 resume contract on the band tier (the ann_index_dedup_batch
    rule): a rerun of the SAME delivery after the append committed
    skips the append and returns the IDENTICAL pair set; a same-
    batch_id rerun with different rows raises; without resume the
    redelivery guard still fires; resume over a crashed (unmarked)
    append falls through to the mid-append contract."""
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        drop_minhash_table,
        minhash_table_append,
        minhash_table_dedup_batch,
    )

    b0, b1, full = _frames(spark)
    path = str(tmp_path / "mh_resume")
    minhash_index_append(b0, "doc_id", "text", path, batch_id="b0")
    p1 = minhash_index_dedup_batch(
        b1, "doc_id", "text", path, batch_id="b1"
    ).collect()
    assert {(r.id_a, r.id_b) for r in p1} == {(1, 101), (102, 103)}
    # crash-after-append rerun
    p1b = minhash_index_dedup_batch(
        b1, "doc_id", "text", path, batch_id="b1", resume=True
    ).collect()
    assert sorted((r.id_a, r.id_b) for r in p1b) == sorted(
        (r.id_a, r.id_b) for r in p1
    )
    # different rows under the same batch_id — a redelivery bug
    with pytest.raises(ValueError, match="not the same delivery"):
        minhash_index_dedup_batch(
            b1.limit(2), "doc_id", "text", path, batch_id="b1", resume=True
        )
    # without resume the duplicate-batch_id guard still fires
    with pytest.raises(ValueError, match="already appended"):
        minhash_index_dedup_batch(b1, "doc_id", "text", path, batch_id="b1")
    # bucketed tier mirrors the contract
    tbl = "t_mh_resume"
    drop_minhash_table(spark, tbl)
    minhash_table_append(b0, "doc_id", "text", tbl, batch_id="b0", buckets=4)
    t1 = minhash_table_dedup_batch(
        b1, "doc_id", "text", tbl, batch_id="b1"
    ).collect()
    t1b = minhash_table_dedup_batch(
        b1, "doc_id", "text", tbl, batch_id="b1", resume=True
    ).collect()
    assert sorted((r.id_a, r.id_b) for r in t1b) == sorted(
        (r.id_a, r.id_b) for r in t1
    )
    with pytest.raises(ValueError, match="not the same delivery"):
        minhash_table_dedup_batch(
            b1.limit(1), "doc_id", "text", tbl, batch_id="b1", resume=True
        )
    drop_minhash_table(spark, tbl)


def _banded_rows(spark, **params):
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup import (
        banded_minhash_signatures,
    )

    _, _, both = _frames(spark)
    return sorted(
        (r._id, tuple(r._sig), r.band_idx, r.band_hash)
        for r in banded_minhash_signatures(both, "doc_id", "text", **params).collect()
    )


def test_minhash_chain_is_built_once_per_session(spark, monkeypatch):
    """The MinHash/LSH expression chain is parameter-only and memoized:
    a repeat ``banded_minhash_signatures`` call with the same parameters
    builds no HOF Column at all, and the memoized chain gives the same
    rows as one built fresh (memo bypassed)."""
    from etl_apache_kafka_python_doker_aws_spark.functions import dedup

    first = _banded_rows(spark)
    calls = {"transform": 0, "filter": 0}
    for name in calls:
        real = getattr(F, name)

        def counted(*a, _name=name, _real=real, **kw):
            calls[_name] += 1
            return _real(*a, **kw)

        monkeypatch.setattr(F, name, counted)
    again = _banded_rows(spark)
    assert calls == {"transform": 0, "filter": 0}
    assert again == first
    monkeypatch.setattr(dedup, "_col_cached", lambda tag, build: build())
    fresh = _banded_rows(spark)
    assert calls["transform"] > 0 and calls["filter"] > 0
    assert fresh == first


def test_minhash_memo_key_names_every_parameter(spark):
    """Each parameter that defines the chain is in its memo key: a
    different seed, shingle_n, num_hashes or bands gives different rows,
    and asking for the original parameters again gives the original
    rows."""
    base = _banded_rows(spark)
    for change in ({"seed": 7}, {"shingle_n": 2}, {"num_hashes": 16},
                   {"bands": 8}):
        assert _banded_rows(spark, **change) != base, change
    assert _banded_rows(spark) == base
