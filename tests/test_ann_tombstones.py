"""ANN-index tombstone retraction (r12, VERDICT r11 #1): seq-scoped
sidecar deletes mirroring the band tier's r11 pattern — re-append
semantics, delete accounting, the auto-prune flip (VERDICT r11 #3),
corpus-scaled vec_buckets (VERDICT r11 #2), and the enumerated
crash-window states."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
    _auto_vec_buckets,
    _index_size_from_markers,
    ann_index_append,
    ann_index_batches,
    ann_index_build,
    ann_index_compact,
    ann_index_delete,
    ann_index_meta,
    ann_index_search,
)
from etl_apache_kafka_python_doker_aws_spark.functions.index_store import (
    _marker_rows,
)


def _corpus(spark, n=60, dim=16, seed=7):
    rng = np.random.RandomState(seed)
    rows = [(i, rng.randn(dim).astype(float).tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), rows


def _build(spark, tmp_path, name="ann", **kw):
    corpus, rows = _corpus(spark)
    path = str(tmp_path / name)
    ann_index_build(corpus, "vec_id", "embedding", path, dim=16,
                    n_cells=4, n_subspaces=4, n_centroids=8,
                    **{"vec_buckets": 8, **kw})
    return corpus, rows, path


def test_reappended_id_lives_retracted_history_dead(spark, tmp_path):
    """The seq-scoping contract (the index_store._tombstone_join rule
    on the ANN tier): delete id X, then re-append X under a NEW batch
    with a DIFFERENT vector — the re-appended row serves (dist 0 against
    its own vector) while the RETRACTED vector's row stays dead (a
    query at the old vector no longer finds X at dist 0: the refine
    tier's seq filter dropped the old row, so X re-ranks under the new
    vector only)."""
    corpus, rows = _corpus(spark)
    path = str(tmp_path / "ann")
    ann_index_build(corpus, "vec_id", "embedding", path, dim=16,
                    n_cells=4, n_subspaces=4, n_centroids=8, vec_buckets=8)
    old_vec = rows[0][1]
    twin = spark.createDataFrame([(1000, old_vec)],
                                 "vec_id long, embedding array<double>")
    ann_index_append(twin, "vec_id", "embedding", path, batch_id="b1")
    assert ann_index_delete(spark, path, [1000]) == 1
    # re-append the SAME id with a different vector (vec 7's twin)
    new_vec = rows[7][1]
    re_add = spark.createDataFrame([(1000, new_vec)],
                                   "vec_id long, embedding array<double>")
    ann_index_append(re_add, "vec_id", "embedding", path, batch_id="b2")
    q_new = corpus.filter("vec_id = 7")
    top = ann_index_search(q_new, path, k=3, n_probe=4, shortlist=20).collect()
    assert top[0].neighbor_id == 1000 and top[0].dist == 0.0, \
        "re-appended id must LIVE (its batch seq is past the tombstone)"
    q_old = corpus.filter("vec_id = 0")
    hits = ann_index_search(q_old, path, k=5, n_probe=4, shortlist=20).collect()
    assert all(not (r.neighbor_id == 1000 and r.dist == 0.0) for r in hits), \
        "the RETRACTED vector's row must stay dead"
    # compaction preserves exactly these semantics
    ann_index_compact(spark, path)
    top2 = ann_index_search(q_new, path, k=3, n_probe=4, shortlist=20).collect()
    assert top2[0].neighbor_id == 1000 and top2[0].dist == 0.0
    hits2 = ann_index_search(q_old, path, k=5, n_probe=4, shortlist=20).collect()
    assert all(not (r.neighbor_id == 1000 and r.dist == 0.0) for r in hits2)
    # physically: exactly ONE row for id 1000 in each tier post-compact
    assert spark.read.parquet(path).filter(F.col("_id") == 1000).count() == 1
    assert spark.read.parquet(f"{path}/_graft_vectors").filter(
        F.col("_id") == 1000).count() == 1


def test_delete_accounting_and_idempotence(spark, tmp_path):
    """removed counts LIVE rows only; re-deleting tombstoned ids is a
    0-row no-op; the marker size statistic stays physical until compact
    recomputes it."""
    corpus, rows, path = _build(spark, tmp_path)
    assert ann_index_delete(spark, path, [3, 4, 5]) == 3
    # already-tombstoned + unknown ids: nothing live matches
    assert ann_index_delete(spark, path, [3, 4, 999]) == 0
    # NULL ids rejected loudly in both request forms (shared
    # _retraction_forms contract)
    with pytest.raises(ValueError, match="None"):
        ann_index_delete(spark, path, [1, None])
    ids_df = spark.createDataFrame([(1,), (None,)], "vec_id long")
    with pytest.raises(ValueError, match="NULL"):
        ann_index_delete(spark, path, ids_df)
    # DataFrame request form works and casts to the index id type
    ids_df2 = spark.createDataFrame([(6,), (7,)], "vec_id int")
    assert ann_index_delete(spark, path, ids_df2) == 2
    assert _index_size_from_markers(_marker_rows(spark, path)) == 60
    # compact folds everything and recomputes the markers
    assert ann_index_compact(spark, path) == 5
    assert _index_size_from_markers(_marker_rows(spark, path)) == 55
    assert spark.read.parquet(path).count() == 55


def test_delete_empty_guard_and_auto_compact(spark, tmp_path):
    """Deleting every live vector is refused with the index intact;
    crossing compact_threshold triggers the auto fold-in (and
    compact_threshold > 1 disables it — the latency-sensitive endpoint
    escape hatch)."""
    corpus, rows, path = _build(spark, tmp_path)
    with pytest.raises(ValueError, match="EMPTY"):
        ann_index_delete(spark, path, [i for i, _ in rows])
    assert ann_index_meta(spark, path) is not None
    # 20 of 60 dead > 0.2 → auto-compact fires: sidecars folded away
    assert ann_index_delete(spark, path, list(range(20))) == 20
    assert not os.path.exists(os.path.join(path, "_graft_tombstones"))
    assert spark.read.parquet(path).count() == 40
    # threshold > 1: never auto-compacts
    assert ann_index_delete(spark, path, [30, 31, 32, 33, 34, 35, 36, 37,
                                          38, 39, 40, 41, 42, 43, 44],
                            compact_threshold=2.0) == 15
    assert os.path.exists(os.path.join(path, "_graft_tombstones"))
    assert spark.read.parquet(path).count() == 40  # untouched physically


def test_prune_auto_gates_on_physical_scan_size(spark, tmp_path, monkeypatch):
    """prune="auto" reads the PHYSICAL tier size — the scan-cost
    statistic (review r12, refining VERDICT r11 #3: tombstones shrink
    no bytes until compaction, so a retracted-but-uncompacted index
    still pays the full physical scan on the streaming path and must
    KEEP pruning); COMPACTION is what shrinks the physical tier below
    the crossover and flips auto to the streaming join."""
    import re

    from etl_apache_kafka_python_doker_aws_spark.functions import ann_index

    corpus, rows, path = _build(spark, tmp_path)
    q = corpus.filter("vec_id >= 55")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")

    def has_vb_filter(df):
        plan = df._jdf.queryExecution().explainString(mode)
        pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        return any("_vbucket" in p and "IN" in p.upper() for p in pfs)

    monkeypatch.setattr(ann_index, "_PRUNE_MIN_ROWS", 50)
    assert has_vb_filter(
        ann_index_search(q, path, k=3, n_probe=4, shortlist=10)
    ), "60 physical rows ≥ 50 → the pruned path"
    # retract 15 (no auto-compact: stay on the tombstone accounting) —
    # physical tier unchanged at 60, so auto must KEEP pruning
    ann_index_delete(spark, path, list(range(15)), compact_threshold=2.0)
    assert has_vb_filter(
        ann_index_search(q, path, k=3, n_probe=4, shortlist=10)
    ), "tombstones don't shrink the scan: 60 physical ≥ 50 stays pruned"
    # compaction shrinks the physical tier: 45 < 50 → streaming join
    assert ann_index_compact(spark, path) == 15
    assert not has_vb_filter(
        ann_index_search(q, path, k=3, n_probe=4, shortlist=10)
    ), "45 physical rows < 50 → auto must fall back to the streaming join"


def test_crash_windows_heal(spark, tmp_path):
    """The enumerated r12 crash-window table, each state proven healed:
    (a) marker dir renamed away mid-swap → the next write entry point
    restores it (append still rejects redelivery);
    (b) tombstones naming already-folded rows → compact's early exit
    drops the sidecars without rewriting anything."""
    corpus, rows, path = _build(spark, tmp_path)

    # (a) compact killed between the marker-dir renames: only .old left
    marker_dir = os.path.join(path, "_graft_batches")
    os.rename(marker_dir, marker_dir + ".old")
    assert ann_index_batches(spark, path) == []  # the unhealed read
    twin = spark.createDataFrame([(1000, rows[0][1])],
                                 "vec_id long, embedding array<double>")
    ann_index_append(twin, "vec_id", "embedding", path, batch_id="b1")
    assert ann_index_batches(spark, path) == ["base", "b1"]
    with pytest.raises(ValueError, match="already appended"):
        ann_index_append(twin, "vec_id", "embedding", path, batch_id="base")

    # (b) a real delete, then simulate "dirs already swapped, sidecars
    # pending": run compact, then re-plant the same tombstone sidecar
    assert ann_index_delete(spark, path, [9], compact_threshold=2.0) == 1
    tomb_snapshot = str(tmp_path / "tomb_copy")
    shutil.copytree(f"{path}/_graft_tombstones", tomb_snapshot)
    assert ann_index_compact(spark, path) == 1
    shutil.copytree(tomb_snapshot, f"{path}/_graft_tombstones")
    def snap():  # everything but the sidecar being dropped
        return {
            p: os.stat(p).st_mtime_ns
            for r, _, fs in os.walk(path)
            if "_graft_tombstones" not in r
            for f in fs
            for p in [os.path.join(r, f)]
        }

    pre = snap()  # data + markers must stay byte-identical: early exit
    assert ann_index_compact(spark, path) == 0
    assert not os.path.exists(f"{path}/_graft_tombstones")
    assert snap() == pre


def test_compact_rerun_heals_stale_markers(spark, tmp_path):
    """review r12 #1: a compact killed AFTER its dir swaps but BEFORE
    the marker rewrite leaves stale-high markers with both sidecars
    still present; the re-run takes the zero-dead early exit and must
    RE-VERIFY the markers against the physical survivors before
    dropping the sidecars — dropping them around stale markers would
    strand the overstatement forever (the auto shortlist, auto prune
    and the auto-compaction share would run off a phantom size)."""
    corpus, rows, path = _build(spark, tmp_path)
    marker_dir = os.path.join(path, "_graft_batches")
    stale = str(tmp_path / "markers_stale")
    shutil.copytree(marker_dir, stale)  # the pre-delete (60-row) markers
    assert ann_index_delete(spark, path, [1, 2, 3], compact_threshold=2.0) == 3
    tombs = str(tmp_path / "tombs")
    shutil.copytree(f"{path}/_graft_tombstones", tombs)
    assert ann_index_compact(spark, path) == 3
    # reconstruct the kill state: dirs already swapped (the compact
    # above did that), markers STALE-high, tombstones present
    shutil.rmtree(marker_dir)
    shutil.copytree(stale, marker_dir)
    shutil.copytree(tombs, f"{path}/_graft_tombstones")
    assert _index_size_from_markers(_marker_rows(spark, path)) == 60
    assert ann_index_compact(spark, path) == 0  # the zero-dead early exit
    assert not os.path.exists(f"{path}/_graft_tombstones")
    assert _index_size_from_markers(_marker_rows(spark, path)) == 57, \
        "early exit must heal the stale markers before dropping the tombstones"


def test_search_heals_compaction_dir_swap_window(spark, tmp_path, monkeypatch):
    """A compact killed between the two renames of a dir swap leaves a
    ``cell=N.old`` twin with no live ``cell=N``; left alone, Spark
    discovers ``N.old`` as a partition value and the scan fails to cast
    it. Search runs ``_ann_recover`` first, so it returns the
    pre-compaction hits (the restored dir still holds the dead rows, and
    the pending tombstones filter them), and a re-run compact finishes
    the fold."""
    from tests.test_dedup_index import Killed, _kill_compact_at

    corpus, rows, path = _build(spark, tmp_path)
    gone = list(range(0, 56, 2))  # 28 ids across every cell
    assert ann_index_delete(spark, path, gone, compact_threshold=2.0) == 28
    q = corpus.filter("vec_id IN (1, 7, 33)")

    def hits():
        return sorted(
            (r.query_id, r.neighbor_id, r.dist)
            for r in ann_index_search(q, path, k=5, n_probe=4,
                                      shortlist=30).collect()
        )

    want = hits()
    # the 4th rename moves the second staged cell dir in
    _kill_compact_at(monkeypatch, "mid_dir_swap", path)
    with pytest.raises(Killed):
        ann_index_compact(spark, path)
    monkeypatch.undo()
    assert [d for d in os.listdir(path) if d.endswith(".old")]
    assert hits() == want
    assert not [d for d in os.listdir(path) if d.endswith(".old")]
    assert 0 < ann_index_compact(spark, path) < 28  # the unswapped cells
    assert hits() == want
    assert spark.read.parquet(path).count() == 32


def test_delete_jobs_pinned(spark, tmp_path, jobs_during):
    """A non-compacting 1-id delete runs at most 5 Spark jobs on an
    index with no tombstones and at most 7 once some are pending."""
    corpus, rows, path = _build(spark, tmp_path)
    removed, n_fresh = jobs_during(
        lambda: ann_index_delete(spark, path, [3], compact_threshold=2.0)
    )
    assert removed == 1 and n_fresh <= 5, n_fresh
    removed, n_pending = jobs_during(
        lambda: ann_index_delete(spark, path, [4], compact_threshold=2.0)
    )
    assert removed == 1 and n_pending <= 7, n_pending


def test_compact_sweeps_unmarked_crash_append_orphans(spark, tmp_path):
    """review r12 #2: rows from an append killed before its marker
    write carry no seq, so no tombstone can ever name them — search
    serves them (conservative: data is never hidden mid-recovery),
    ann_index_delete accounts 0 for them, and ann_index_compact is the
    removal path: it physically sweeps them from BOTH tiers (rebuild
    drops them too), after which the same batch_id can be re-appended
    (the documented retry contract)."""
    from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
        ann_index_rebuild,
    )

    corpus, rows, path = _build(spark, tmp_path)
    marker_dir = os.path.join(path, "_graft_batches")
    before = set(os.listdir(marker_dir))
    ghost = spark.createDataFrame([(5000, rows[0][1])],
                                  "vec_id long, embedding array<double>")
    ann_index_append(ghost, "vec_id", "embedding", path, batch_id="ghost")
    for f in set(os.listdir(marker_dir)) - before:  # un-mark the batch
        os.remove(os.path.join(marker_dir, f))
    assert ann_index_batches(spark, path) == ["base"]
    # served (twin of vec 0 at dist 0), but unreachable by tombstones
    top = ann_index_search(corpus.filter("vec_id = 0"), path, k=2,
                           n_probe=4, shortlist=20).collect()
    assert top[0].neighbor_id == 5000 and top[0].dist == 0.0
    assert ann_index_delete(spark, path, [5000]) == 0
    # rebuild never copies the orphan forward
    new = str(tmp_path / "ann_rebuilt")
    ann_index_rebuild(spark, path, new)
    assert spark.read.parquet(new).filter(F.col("_id") == 5000).count() == 0
    # compact physically sweeps it from both tiers of the live index
    assert ann_index_compact(spark, path) == 1
    assert spark.read.parquet(path).filter(F.col("_id") == 5000).count() == 0
    assert spark.read.parquet(f"{path}/_graft_vectors").filter(
        F.col("_id") == 5000).count() == 0
    hits = ann_index_search(corpus.filter("vec_id = 0"), path, k=2,
                            n_probe=4, shortlist=20).collect()
    assert all(r.neighbor_id != 5000 for r in hits)
    # retry contract: the batch_id is still unmarked → re-append works
    ann_index_append(ghost, "vec_id", "embedding", path, batch_id="ghost")
    assert ann_index_batches(spark, path) == ["base", "ghost"]
    top2 = ann_index_search(corpus.filter("vec_id = 0"), path, k=2,
                            n_probe=4, shortlist=20).collect()
    assert top2[0].neighbor_id == 5000 and top2[0].dist == 0.0


def test_sidecar_read_errors_propagate(spark, tmp_path):
    """review r12 #4: a transient read failure on a correctness sidecar
    (tombstones, batch markers) must PROPAGATE, not read as absence —
    swallowing it would silently serve GDPR-retracted rows. Absence
    stays clean (fresh index → no tombstones), and a dir holding only
    write-temporary litter reads as absent."""
    corpus, rows, path = _build(spark, tmp_path)
    ann_index_delete(spark, path, [3], compact_threshold=2.0)
    tomb_dir = f"{path}/_graft_tombstones"
    part = [f for f in os.listdir(tomb_dir) if f.endswith(".parquet")][0]
    with open(os.path.join(tomb_dir, part), "r+b") as fh:  # corrupt footer
        fh.seek(-4, os.SEEK_END)
        fh.write(b"XXXX")
    crc = os.path.join(tomb_dir, "." + part + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    with pytest.raises(Exception):
        ann_index_search(corpus.filter("vec_id = 7"), path, k=3,
                         n_probe=4, shortlist=20).collect()
    # litter-only sidecar dir reads as ABSENT (a killed first delete
    # that never committed a file): searches serve normally
    shutil.rmtree(tomb_dir)
    os.makedirs(os.path.join(tomb_dir, "_temporary"))
    got = ann_index_search(corpus.filter("vec_id = 7"), path, k=3,
                           n_probe=4, shortlist=20).collect()
    assert got


def test_auto_vec_buckets_scaling(spark, tmp_path):
    """VERDICT r11 #2: the default refine-tier bucket count scales with
    the corpus (~50k rows/bucket, clamped [64, 4096]) and is pinned in
    meta; rebuild(vec_buckets="auto") is the migration path."""
    from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
        ann_index_rebuild,
    )

    assert _auto_vec_buckets(0) == 64
    assert _auto_vec_buckets(1_000_000) == 64
    assert _auto_vec_buckets(10_000_000) == 200
    assert _auto_vec_buckets(100_000_000) == 2000
    assert _auto_vec_buckets(500_000_000) == 4096
    corpus, rows = _corpus(spark)
    path = str(tmp_path / "ann_auto")
    ann_index_build(corpus, "vec_id", "embedding", path, dim=16,
                    n_cells=4, n_subspaces=4, n_centroids=8)  # default auto
    assert ann_index_meta(spark, path)["vec_buckets"] == 64
    # rebuild with auto re-derives from the live corpus (still 64 here,
    # but the path exercises the derivation)
    new = str(tmp_path / "ann_auto2")
    ann_index_rebuild(spark, path, new, vec_buckets="auto")
    assert ann_index_meta(spark, new)["vec_buckets"] == 64


def test_rebuild_refuses_stripped_refine_lineage(spark, tmp_path):
    """ADVICE r12: the layout stamp promises per-row lineage but the
    refine tier lacks _batch — rebuild's min(_v) fold could silently
    carry a RETRACTED embedding forward; the inconsistent layout must
    raise, not degrade."""
    import shutil as _sh

    from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
        ann_index_rebuild,
    )

    corpus, rows, path = _build(spark, tmp_path)
    vec_dir = os.path.join(path, "_graft_vectors")
    stripped = spark.read.parquet(vec_dir).drop("_batch")
    tmp_out = str(tmp_path / "stripped_vecs")
    stripped.write.partitionBy("_vbucket").parquet(tmp_out)
    _sh.rmtree(vec_dir)
    os.rename(tmp_out, vec_dir)
    with pytest.raises(ValueError, match="no _batch column"):
        ann_index_rebuild(spark, path, str(tmp_path / "ann_rebuilt"))


def test_filtered_search_composes_with_tombstones(spark, tmp_path):
    """r13 `allowed=` filtered search: only allowed ids are returned,
    the pre-filter fills top-k from the ALLOWED corpus (not a
    post-filter of the global top-k), and a tombstoned id stays dead
    even when the filter allows it."""
    corpus, rows, path = _build(spark, tmp_path)
    q = corpus.filter("vec_id = 3")
    from etl_apache_kafka_python_doker_aws_spark.util import tiny_rows_df

    allow = tiny_rows_df(
        spark, [(i,) for i in (10, 11, 12, 13)], "vec_id long"
    )
    hits = ann_index_search(
        q, path, k=4, n_probe=4, shortlist=20, allowed=allow
    ).collect()
    assert {r.neighbor_id for r in hits} == {10, 11, 12, 13}, hits
    assert len(hits) == 4, "pre-filter must fill k from the allowed corpus"
    # global top-1 (the unfiltered nearest) is NOT in the result set
    g = ann_index_search(q, path, k=1, n_probe=4, shortlist=20).collect()
    if g[0].neighbor_id not in (10, 11, 12, 13):
        assert all(r.neighbor_id != g[0].neighbor_id for r in hits)
    # tombstone wins over the filter: delete 11, it must vanish
    assert ann_index_delete(spark, path, [11], compact_threshold=2.0) == 1
    hits2 = ann_index_search(
        q, path, k=4, n_probe=4, shortlist=20, allowed=allow
    ).collect()
    assert {r.neighbor_id for r in hits2} == {10, 12, 13}, hits2


def test_filtered_search_null_and_empty_allowed(spark, tmp_path):
    """NULL ids in `allowed` match nothing; an all-excluding filter
    returns an empty frame with the search's stable schema."""
    corpus, rows, path = _build(spark, tmp_path)
    q = corpus.filter("vec_id = 3")
    from etl_apache_kafka_python_doker_aws_spark.util import tiny_rows_df

    allow = tiny_rows_df(spark, [(None,), (10,)], "vec_id long")
    hits = ann_index_search(
        q, path, k=4, n_probe=4, shortlist=20, allowed=allow
    ).collect()
    assert {r.neighbor_id for r in hits} == {10}
    none_allowed = tiny_rows_df(spark, [], "vec_id long")
    out = ann_index_search(
        q, path, k=4, n_probe=4, shortlist=20, allowed=none_allowed
    )
    assert out.columns == ["query_id", "neighbor_id", "dist", "rk"]
    assert out.count() == 0


def test_delete_on_nonfile_scheme_keeps_tombstones(spark, tmp_path):
    """A remote-scheme index retracts by tombstone through the Hadoop FS
    API and is never compacted in place: past the auto-compaction share
    the tombstones stay pending (no dir swap runs), search filters the
    retracted ids, and the marker sum stays physical. `viewfs://mock/`
    is a Hadoop mount table backed by local disk, so every FS call goes
    through the Hadoop API under a scheme the local-path gates
    (urlparse-based: _ann_recover no-op, auto-compact skip) treat as
    remote."""
    backing = str(tmp_path / "viewfs_backing")
    os.makedirs(backing)
    spark.sparkContext._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.mock.link./idx", f"file://{backing}"
    )
    corpus, rows = _corpus(spark)
    path = "viewfs://mock/idx/ann_remote"
    ann_index_build(corpus, "vec_id", "embedding", path, dim=16,
                    n_cells=4, n_subspaces=4, n_centroids=8, vec_buckets=8)
    for i in range(6):
        assert ann_index_delete(spark, path, [i]) == 1
    # 15 of 60 dead is past the 0.2 share: a local index would compact
    assert ann_index_delete(spark, path, list(range(6, 15))) == 9
    local = os.path.join(backing, "ann_remote")
    assert os.path.isdir(os.path.join(local, "_graft_tombstones"))
    assert spark.read.parquet(path).count() == 60  # physically untouched
    assert _index_size_from_markers(_marker_rows(spark, path)) == 60
    q = corpus.filter("vec_id = 2")
    hits = ann_index_search(q, path, k=3, n_probe=4, shortlist=20).collect()
    assert hits and all(r.neighbor_id >= 15 for r in hits)


def test_filtered_search_retargets_probes(spark, tmp_path):
    """ADVICE r13 (medium): with a selective `allowed` whose rows live
    OUTSIDE the query's globally-nearest cells, ranking probes against
    the unfiltered cell set under-fills or zeroes top-k. Default
    retarget_probes=True restricts centroid ranking to cells that
    actually hold allowed rows — n_probe=1 must still find them;
    retarget_probes=False pins the documented opt-out (probes stay
    global, the far-cell filter returns nothing)."""
    corpus, rows, path = _build(spark, tmp_path)
    codes = spark.read.parquet(path).select("_id", "cell").collect()
    cell_of = {r._id: r.cell for r in codes}
    q = corpus.filter("vec_id = 3")
    # allowed = every id in a DIFFERENT cell than the query's own
    far_ids = sorted(i for i, c in cell_of.items() if c != cell_of[3])
    assert far_ids, "fixture must spread over >1 cell"
    from etl_apache_kafka_python_doker_aws_spark.util import tiny_rows_df

    allow = tiny_rows_df(spark, [(i,) for i in far_ids], "vec_id long")
    hits = ann_index_search(
        q, path, k=3, n_probe=1, shortlist=20, allowed=allow
    ).collect()
    assert len(hits) == 3, "retargeted probes must fill k from allowed cells"
    assert all(r.neighbor_id in set(far_ids) for r in hits)
    off = ann_index_search(
        q, path, k=3, n_probe=1, shortlist=20, allowed=allow,
        retarget_probes=False,
    )
    # the query's single global probe is its own cell — zero allowed rows
    assert off.count() == 0
