"""The shared index storage protocol (``functions/index_store.py``):
the table-swap recover state table on both table tiers, the meta reader's
no-swallow rule on both path tiers, and the structural rule that the
tier modules share helpers only through ``index_store``."""

import ast
import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

import etl_apache_kafka_python_doker_aws_spark.functions as fpkg
from etl_apache_kafka_python_doker_aws_spark.functions import (
    ann_index as ai,
    dedup_index as di,
    exact_index as xi,
)
from etl_apache_kafka_python_doker_aws_spark.functions.index_store import (
    _drop_table_and_location,
    _live_rows,
    _marker_rows,
    _table_exists,
    _tombstones,
)

TIERS = ("ann_index", "dedup_index", "exact_index")

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "sphinx of black quartz judge my vow"),
    (101, "the quick brown fox jumps over the lazy dog"),
    (102, "bright vixens jump dozy fowl quack together loudly"),
    (103, "bright vixens jump dozy fowl quack together loudly"),
]
GONE = 101  # the tombstoned id


def test_tier_modules_share_private_helpers_only_through_index_store():
    root = os.path.dirname(fpkg.__file__)
    bad = []
    for mod in TIERS:
        tree = ast.parse(open(os.path.join(root, f"{mod}.py")).read())
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or not node.module:
                continue
            src = node.module.rsplit(".", 1)[-1]
            if src in TIERS and src != mod:
                bad += [
                    f"{mod} imports {a.name} from {src}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert not bad, "shared helpers belong in index_store:\n" + "\n".join(bad)


# --- the table-swap recover state table --------------------------------


class Killed(Exception):
    """A simulated process kill at one catalog statement."""


def _band(spark, tbl):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    for b, cond in (("b0", "doc_id < 100"), ("b1", "doc_id >= 100")):
        di.minhash_table_append(df.filter(cond), "doc_id", "text", tbl,
                                batch_id=b, buckets=4)
    assert di.minhash_table_delete(spark, tbl, [GONE],
                                   compact_threshold=2.0) > 0

    def served():
        pairs = di.minhash_table_pairs_vs_batch(spark, tbl, "b1").collect()
        assert (102, 103) in {(r.id_a, r.id_b) for r in pairs}
        return {i for r in pairs for i in (r.id_a, r.id_b)}

    return {
        "targets": [tbl, f"{tbl}_counts"],
        "served": served,
        "compact": lambda: di.minhash_table_compact(spark, tbl),
        # the entry point for the no-twin state never reads the counts
        "no_twin_entry": lambda: di.minhash_table_delete(
            spark, tbl, [2], compact_threshold=2.0),
    }


def _sha(spark, tbl):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    for b, cond in (("b0", "doc_id < 100"), ("b1", "doc_id >= 100")):
        xi.sha_table_append(df.filter(cond), "doc_id", "text", tbl,
                            batch_id=b, buckets=4)
    assert xi.sha_table_delete(spark, tbl, [GONE], compact_threshold=2.0) == 1

    def served():
        rows = xi.sha_table_dedup_batch(spark, tbl, "b1").collect()
        assert {r.doc_id for r in rows} == {102, 103}
        return {r.doc_id for r in rows} | {r.keeper_id for r in rows}

    return {
        "targets": [tbl],
        "served": served,
        "compact": lambda: xi.sha_table_compact(spark, tbl),
        "no_twin_entry": lambda: xi.sha_table_dedup_batch(spark, tbl, "b1"),
    }


# state -> the catalog statement the kill lands on (None: planted by hand)
STATES = {
    "data_missing_beside_twin": "ALTER TABLE {t}_deleting RENAME TO {t}",
    "first_twin_beside_live": "DROP TABLE IF EXISTS {t}",
    "later_twin_beside_live": "DROP TABLE IF EXISTS {t}_counts",
    "later_missing_beside_twin":
        "ALTER TABLE {t}_counts_deleting RENAME TO {t}_counts",
    "missing_without_twin": None,
}
CASES = [
    (tier, state)
    for tier in ("band", "sha")
    for state in STATES
    if tier == "band" or "later" not in state
]


@pytest.mark.parametrize(
    "tier,state", CASES, ids=[f"{t}-{s}" for t, s in CASES]
)
def test_recover_state_table(spark, monkeypatch, tier, state):
    """Plant each state a kill can leave, call one entry point, and
    check the row counts, that the tombstoned id never comes back, and
    which twins are left (none: every state heals or is left alone)."""
    tbl = f"t_recover_{tier}_{state}"
    make = _band if tier == "band" else _sha
    cleanup = (di.drop_minhash_table if tier == "band" else xi.drop_sha_table)
    cleanup(spark, tbl)
    try:
        idx = make(spark, tbl)
        targets = idx["targets"]
        n_before = spark.table(tbl).count()
        markers = _marker_rows(spark, table=tbl)
        n_live = _live_rows(
            spark.table(tbl), _tombstones(spark, table=tbl), markers
        ).count()
        assert n_live < n_before
        kill_at = STATES[state]
        if kill_at is None:
            gone = targets[-1]
            _drop_table_and_location(spark, gone)
        else:
            real_sql = spark.sql

            def killing_sql(stmt, *a, **kw):
                if stmt == kill_at.format(t=tbl):
                    raise Killed(stmt)
                return real_sql(stmt, *a, **kw)

            monkeypatch.setattr(spark, "sql", killing_sql)
            with pytest.raises(Killed):
                idx["compact"]()
            monkeypatch.undo()
        if kill_at is None and tier == "sha":
            # the data table is gone with no twin: left alone, and the
            # entry point names the crash state instead of inventing data
            with pytest.raises(ValueError, match="data table does not"):
                idx["no_twin_entry"]()
            assert not _table_exists(spark, tbl)
        elif kill_at is None:
            assert idx["no_twin_entry"]() > 0
            assert not _table_exists(spark, gone)  # left alone
            live = _live_rows(spark.table(tbl), _tombstones(spark, table=tbl),
                              _marker_rows(spark, table=tbl))
            assert {r._id for r in live.collect()}.isdisjoint({GONE, 2})
            assert spark.table(tbl).count() == n_before
        else:
            assert GONE not in idx["served"]()
            # the swap either never started (twins dropped, physical
            # rows untouched) or was finished (compacted rows)
            swapped = state != "first_twin_beside_live"
            assert spark.table(tbl).count() == (n_live if swapped else n_before)
            if tier == "band":
                guard = spark.table(f"{tbl}_counts").filter("band_idx >= 0")
                assert guard.agg(F.sum("cnt")).first()[0] == (
                    n_live if swapped else n_before
                )
        left = [f"{t}_deleting" for t in targets
                if _table_exists(spark, f"{t}_deleting")]
        assert left == []
        if kill_at is not None:
            # tombstones were not dropped by the killed compact; the
            # re-run folds whatever is left and drops them
            assert idx["compact"]() == (0 if swapped else n_before - n_live)
            assert not _table_exists(spark, f"{tbl}_tombstones")
            assert GONE not in idx["served"]()
    finally:
        monkeypatch.undo()
        cleanup(spark, tbl)


# --- an unreadable meta is never "no index" ----------------------------


def _snapshot(root):
    snap = {}
    for r, _, files in os.walk(root):
        for f in files:
            p = os.path.join(r, f)
            st = os.stat(p)
            snap[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return snap


def _truncate_meta(path, keep):
    """Cut the JSON meta file to ``keep`` of its bytes (and drop the
    .crc sidecars a hand edit invalidates)."""
    meta_dir = os.path.join(path, "_graft_meta")
    (f,) = glob.glob(os.path.join(meta_dir, "*.json"))
    with open(f, "rb") as fh:
        data = fh.read()
    with open(f, "wb") as fh:
        fh.write(data[: int(len(data) * keep)])
    for crc in glob.glob(os.path.join(meta_dir, ".*.crc")):
        os.remove(crc)


@pytest.mark.parametrize("keep", [0.5, 0.0], ids=["truncated", "emptied"])
def test_band_unreadable_meta_raises_and_append_writes_nothing(
    spark, tmp_path, keep
):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "band")
    di.minhash_index_append(df.filter("doc_id < 100"), "doc_id", "text", path,
                            batch_id="b0")
    _truncate_meta(path, keep)
    pre = _snapshot(path)
    with pytest.raises(ValueError):
        di.minhash_index_meta(spark, path)
    # the pinned 32/4 meta must not be silently replaced by 64/8 while
    # b0's rows stay hashed under 32/4
    with pytest.raises(ValueError):
        di.minhash_index_append(df.filter("doc_id >= 100"), "doc_id", "text",
                                path, batch_id="b1", num_hashes=64, bands=8)
    assert _snapshot(path) == pre


def test_ann_unreadable_meta_raises_and_build_append_write_nothing(
    spark, tmp_path
):
    rng = np.random.RandomState(3)
    vecs = spark.createDataFrame(
        [(i, rng.randn(16).astype(float).tolist()) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ann")
    ai.ann_index_build(vecs.filter("vec_id < 30"), "vec_id", "embedding",
                       path, dim=16, n_cells=2, n_subspaces=4, n_centroids=4,
                       vec_buckets=4)
    _truncate_meta(path, 0.5)
    pre = _snapshot(path)
    with pytest.raises(ValueError):
        ai.ann_index_meta(spark, path)
    with pytest.raises(ValueError):
        ai.ann_index_append(vecs.filter("vec_id >= 30"), "vec_id", "embedding",
                            path, batch_id="b1")
    with pytest.raises(ValueError):
        ai.ann_index_build(vecs, "vec_id", "embedding", path, dim=16,
                           n_cells=2, n_subspaces=4, n_centroids=4,
                           vec_buckets=4)
    assert _snapshot(path) == pre
