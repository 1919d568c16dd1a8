"""Persisted MinHash band index → INCREMENTAL corpus dedup (VERDICT r6
#1): deduplicate each NEW batch (crawl snapshot) against the existing
corpus WITHOUT recomputing the corpus — the one shape a 100 TB training
pipeline actually runs. ``minhash_near_dup_pairs`` is corpus-vs-itself;
this module persists the banded signatures it already computes
(`banded_minhash_signatures`, one row per (doc, band)) as a partitioned
parquet index, then answers "which docs in this batch near-duplicate
anything already indexed (or each other)?" with one equi-join.

Index layout at ``path`` (``layout_version`` 2 — the only layout this
module reads; see "Layout contract" below):
  * data rows, ``partitionBy("band_idx")`` parquet:
      (_id, _sig array<long>[, payload cols...], band_hash long,
      _batch string, band_idx)
    where ``payload cols`` are optional creation-pinned per-doc
    attribute columns (served by ``pairs_vs_batch(where=...)`` as
    pushed scan predicates). Each append writes one file per band dir.
    The full 32-long signature is stored per band row ON PURPOSE — the
    verify stage needs both sides' signatures, and re-attaching them
    after an ids-only join was measured 5.7x slower at 1M docs
    (functions/dedup.py join note). Index size ≈ bands × (8B id +
    num_hashes×8B sig + 8B hash) per doc ≈ 1.1 KB/doc at 4×32 — ~1.1 TB
    per billion docs, a flat parquet table any executor count can scan.
  * ``_graft_meta/`` — one JSON row pinning (num_hashes, bands,
    shingle_n, seed), ``payload_cols`` (the attribute schema — every
    append must carry it) and ``layout_version``. Appends with
    different LSH params are REJECTED loudly: signatures hashed under
    different seeds never collide, so a silent mismatch wouldn't fail —
    it would just find nothing.
  * ``_graft_batches/`` — one JSON row per appended batch_id
    (batch_id, seq, n_rows), written LAST by each append: the commit
    marker. A duplicate batch_id is REJECTED (the keyed-merge
    redelivery lesson: anti-join-style "it'll dedup out" reasoning
    silently doubles every bucket; re-delivery must be explicit).
  * ``_graft_counts/`` — per-batch (band_idx, band_hash, _batch, cnt)
    parquet, written by each append BEFORE its marker: the PERSISTED
    skew-guard state. Bucket totals come from summing this sidecar
    (~16 B per distinct bucket) over the marked batches instead of
    re-running a count window over the full index per query — the
    guard scan shrinks ~70× (counts bytes vs 1.1 KB/doc index bytes)
    and never shuffles index rows.
  * ``_graft_tombstones/`` — pending delete requests (``_id``,
    ``del_seq``), anti-joined out of every pairs query until
    ``minhash_index_compact`` folds them in.
  All subdirs start with ``_`` so Spark's parquet listing of ``path``
  ignores them.

Scale notes (SCALING.md "incremental dedup"):
  * Per-batch candidate work is BATCH-proportional (VERDICT r7 #1):
    the query pre-filters the index scan to ``_batch == batch_id``
    (pushed to parquet) and joins that batch side against the index on
    (band_idx, band_hash) — candidate mass is O(batch_bucket_rows ×
    index_bucket_rows) in only the buckets the batch touches. The
    previous form self-joined full×full with the batch membership as a
    non-pushable disjunction, re-enumerating the whole corpus's
    per-bucket m² candidates every batch.
  * The path form's batch-vs-index join shuffles index+batch rows on
    (band_idx, band_hash). The cluster-scale upgrade is the BUCKETED
    TABLE tier below (``minhash_table_*``, r8): index + counts sidecar
    bucketed on exactly the join keys → guard agg, semi-join and band
    join all plan with ZERO Exchange (plan-pinned); the path form stays
    for storage-agnostic use.
  * Skew guard semantics under append: bucket sizes are evaluated over
    the CURRENT index (the summed counts sidecar), so a bucket that
    crosses ``max_bucket_size`` stops producing pairs for later batches
    but earlier batches' pairs were already emitted — incremental
    recall is ≥ a from-scratch run's (which would drop the whole
    bucket). Never worse, by construction.
  * Maintenance: appends create one file per band dir per batch — run
    ``sources/layout.compact_small_files`` on ``path`` periodically.
    Both forms retract the same way (``index_store``'s tombstone
    protocol): ``minhash_index_delete`` / ``minhash_table_delete``
    append a request-sized tombstone (batch markers preserved, so
    redelivery stays rejected) and auto-compact past the shared dead
    share; guard counts over-count tombstoned rows until compaction,
    which can only drop a bucket early.

Layout contract: every meta writer (the first ``minhash_index_append``,
the first ``minhash_table_append``) stamps ``layout_version``, every
meta reader refuses any other stamp, and the commit-marker, tombstone
and swap/recover rules are the shared storage protocol — all of it
lives in ``index_store`` (its docstring holds the protocol and the
recover state table), shared with the ANN and exact tiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_apache_kafka_python_doker_aws_spark.util import tiny_rows_df

from etl_apache_kafka_python_doker_aws_spark.functions.dedup import (
    banded_minhash_signatures,
    estimate_jaccard_pairs,
)
from etl_apache_kafka_python_doker_aws_spark.functions.index_store import (
    _AUTO_COMPACT_SHARE,
    _TOMB_DIR,
    _append_marker,
    _compact_tables,
    _drop_tables,
    _fold_partition_dirs,
    _live_rows,
    _local_path,
    _marker_rows,
    _new_batch_seq,
    _pinned_payloads,
    _read_meta,
    _recover_partition_dirs,
    _recover_tables,
    _require_local_path,
    _require_marked,
    _resume_skips_append,
    _tombstone_delete,
    _tombstones,
    _write_meta,
)

_COUNTS_DIR = "_graft_counts"
_PARAMS = ("num_hashes", "bands", "shingle_n", "seed")

#: Column names the band-index machinery owns — a payload column
#: shadowing one would silently corrupt the layout or the guard
#: (r15, the ann_index _RESERVED_COLS rule on the band tier).
_RESERVED_BAND_COLS = frozenset(
    {"_id", "_sig", "band_idx", "band_hash", "_batch", "cnt", "del_seq"}
)


def _guard_counts(rows: DataFrame, batch_ids: list) -> DataFrame:
    """The skew guard's persisted state for ``rows``: per-(band_idx,
    band_hash, _batch) row counts, plus one zero-count sentinel row per
    batch (band_idx -1 matches no real bucket — ADVICE r8), so even a
    batch with zero shingle-eligible docs leaves a counts row."""
    return (
        rows.groupBy("band_idx", "band_hash", "_batch")
        .agg(F.count("*").alias("cnt"))
        .select("band_idx", "band_hash", "cnt", "_batch")
        .unionByName(
            tiny_rows_df(
                rows.sparkSession,
                [(-1, 0, 0, b) for b in batch_ids],
                "band_idx int, band_hash long, cnt long, _batch string",
            )
        )
    )


def _counts_total(counts: DataFrame, markers: list) -> int:
    """Physical band rows of the marked batches, summed from the
    METADATA-sized counts sidecar (the sentinels excluded): the delete's
    dead-share denominator — tombstones never change it."""
    return (
        counts.filter(F.col("band_idx") >= 0)
        .filter(F.col("_batch").isin([r.batch_id for r in markers]))
        .agg(F.sum("cnt").alias("s"))
        .first()
        .s
        or 0
    )


def _band_recover(path: str) -> None:
    """Heal the swap windows a killed ``minhash_index_compact`` can
    leave, run by every band-path entry point (append, pairs, delete,
    compact — the ``ann_index._ann_recover`` rule): a half-swapped
    ``band_idx=`` dir (``_recover_partition_dirs``; left alone, its
    ``.old`` name would be discovered as a partition value) and the
    counts-dir swap (``plans.merge._recover``). No-op on a remote
    path, which is never compacted in place."""
    if not _local_path(path):
        return
    from etl_apache_kafka_python_doker_aws_spark.plans.merge import _recover

    _recover_partition_dirs(path)
    _recover(f"{path}/{_COUNTS_DIR}")


def minhash_index_meta(spark: SparkSession, path: str) -> dict | None:
    """Read the index's pinned LSH parameters and payload schema, or
    None if no index exists at ``path`` yet; raises on an unreadable
    meta or one without the current ``layout_version``
    (``index_store._read_meta``)."""
    row = _read_meta(spark, path)
    if row is None:
        return None
    meta = {k: int(row[k]) for k in _PARAMS}
    meta["payload_cols"] = row["payload_cols"]
    return meta


def minhash_index_batches(spark: SparkSession, path: str) -> list[str]:
    """Batch ids already appended, in append order (empty for a fresh
    path). One tiny JSON row per batch — listing this is metadata-cheap
    regardless of index size."""
    return [r.batch_id for r in _marker_rows(spark, path)]


def minhash_index_append(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    *,
    batch_id: str,
    num_hashes: int = 32,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 42,
    payload_cols: list[str] | None = None,
) -> None:
    """Sign ``df`` and APPEND its band rows to the index at ``path``
    (creating the index, and pinning the LSH params, on first use).

    ``payload_cols`` (r15, the ann_index payload rule on the band
    tier): caller-named per-doc ATTRIBUTE columns (lang, license,
    source, doc ids — keep them SLIM) stored on every band row and
    pinned in meta at CREATION. Later appends must carry the pinned
    columns (absence fails loudly — a silent NULL payload would
    corrupt ``where=`` filtering); a conflicting explicit list is
    rejected. ``minhash_index_pairs_vs_batch(where=...)`` then filters
    on stored attributes as a PUSHED parquet predicate — zero
    caller-side allowed frames at any selectivity. Payload values ride
    the zero-shuffle signature projection (``carry_cols``), are
    replicated per band row (bands× the attribute bytes — the price of
    scan-time filtering), and survive delete and compact unchanged
    (whole-row rewrites).

    Sink helper — runs write jobs (data, guard counts; the meta row on
    creation and the batch marker are driver-side sidecar writes). The
    batch's banded rows are persisted (memory+disk,
    batch-sized) across the data and counts writes so signatures are
    computed once. Raises ValueError on param drift or batch_id
    redelivery; callers that legitimately retry a failed append must
    remove the batch's files first. Crash windows (marker written
    LAST): a crash between the DATA write and the COUNTS write leaves
    band rows that join as candidates while contributing nothing to
    the bucket totals — those buckets under-guard until the partial
    batch is cleaned up; a crash after counts leaves data+counts
    consistent but unmarked. Either way the batch is unmarked —
    ``minhash_index_compact`` is the cleanup (it sweeps an unmarked
    batch's rows and counts); re-append after it.
    """
    spark = df.sparkSession
    _band_recover(path)
    meta = minhash_index_meta(spark, path)
    params = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "seed": seed,
    }
    if meta is not None and {k: meta[k] for k in _PARAMS} != params:
        raise ValueError(
            f"minhash_index_append: index at {path} was built with {meta}, "
            f"append requested {params} — signatures hashed under different "
            "params never collide; rebuild the index or match its params"
        )
    seq = _new_batch_seq(_marker_rows(spark, path), batch_id,
                         "minhash_index_append", path)
    pay = _pinned_payloads(df, meta, payload_cols, "minhash_index_append",
                           _RESERVED_BAND_COLS)
    if meta is None:
        _write_meta(spark, {**params, "payload_cols": pay}, path)
    # n_rows on the marker (r15): the resume contract's "same delivery"
    # evidence — one count job over the batch lineage, batch-sized. It
    # cannot ride the write as an observation (as the ANN tier's does):
    # the write filters short docs and explodes bands, so the INPUT row
    # count is only visible below the repartition, in a shuffle-map
    # stage, where a re-executed task may apply its count twice. The
    # table tier's append has the same shape.
    n_in = df.count()
    banded = banded_minhash_signatures(
        df, id_col, text_col, num_hashes, bands, shingle_n, seed,
        carry_cols=tuple(pay),
    ).withColumn("_batch", F.lit(batch_id))
    # repartition ON the partition column so each directory is written
    # by exactly one task → ONE file per band dir per append (r10): a
    # naive partitionBy write opens tasks × bands writers, and the
    # per-batch pairs query pays every file in listing + footer reads.
    # The write runs ``bands`` tasks over one batch's rows.
    banded = banded.repartition(F.col("band_idx"))
    banded.persist()
    try:
        banded.write.mode("append").partitionBy("band_idx").parquet(path)
        _guard_counts(banded, [batch_id]).write.mode("append").parquet(
            f"{path}/{_COUNTS_DIR}"
        )
    finally:
        banded.unpersist()
    # the marker is written AFTER the counts — a marked batch provably
    # has its guard counts
    _append_marker(
        spark, {"batch_id": batch_id, "seq": seq, "n_rows": n_in}, path
    )


def minhash_index_pairs_vs_batch(
    spark: SparkSession,
    path: str,
    batch_id: str,
    *,
    threshold: float = 0.5,
    max_bucket_size: int = 200,
    allowed: DataFrame | None = None,
    where: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard) where AT LEAST
    ONE side belongs to ``batch_id`` — batch-vs-index candidates plus
    within-batch candidates, in ONE band equi-join over the persisted
    index (no signature recomputation for any previously indexed doc).
    ``allowed`` restricts BOTH pair sides to a caller-evaluated id set
    before the band join (per-filtered-corpus enumeration — semantics
    and cost documented on ``_pairs_for_batch``). ``where`` (r15) is
    the PREDICATE form: a SQL boolean expression over stored columns
    (append-time ``payload_cols``; ``_id`` is also legal), applied to
    both sides as a PUSHED parquet filter — the right form for broad
    attribute filters ("lang = 'en'"), where an ``allowed`` id frame
    would be corpus-sized and shuffle the index on ``_id``. Composes
    with ``allowed`` (AND).

    Across batches b0..bn this tiles the whole-corpus pair set exactly:
    every pair (x ∈ bi, y ∈ bj, i ≤ j) is emitted by the bj query and
    no other — so ⋃ pairs_vs_batch(bi) == minhash_near_dup_pairs(corpus)
    whenever the skew cap doesn't bind (the registered
    l2_incremental_dedup contract pins this union-losslessness on the
    fixture; under a binding cap the incremental union is a superset —
    see the module docstring).

    Plan shape (VERDICT r7 #1, pinned in tests/test_plans.py): the
    batch side is a ``_batch == batch_id`` filter PUSHED into its own
    parquet scan, then one equi-join against the full index on
    (band_idx, band_hash) with ``a._id != b._id``; pair ids are
    normalized to (least, greatest) and the within-batch double
    emission collapses in ``estimate_jaccard_pairs``'s dedup. Candidate
    mass is confined to buckets the batch touches — batch-proportional,
    not corpus-proportional. The skew guard reads the summed
    ``_graft_counts`` sidecar (no full-index count window).
    Oversized buckets are excluded on the BATCH side only — an index
    row in a dropped bucket can only pair with batch rows of that same
    bucket, so the emitted pair set is identical to guarding both
    sides. Pending tombstones are anti-joined out exactly as
    ``minhash_table_pairs_vs_batch`` does.
    """
    _band_recover(path)
    meta = minhash_index_meta(spark, path)
    if meta is None:
        raise ValueError(f"minhash_index_pairs_vs_batch: no index at {path}")
    markers = _marker_rows(spark, path)
    marked = _require_marked(markers, batch_id,
                             "minhash_index_pairs_vs_batch", path)
    # crash-window containment (VERDICT r8 #4): a crashed append leaves
    # band rows without counts/marker, which would join as UNDER-GUARDED
    # candidates — filter the index scan to marked batches (tiny pushed
    # In predicate) so leftovers are invisible until cleanup; pending
    # tombstones are a request-sized broadcast anti-join
    full = _live_rows(
        spark.read.parquet(path).filter(F.col("_batch").isin(marked)),
        _tombstones(spark, path),
        markers,
        keep_unmarked=True,
    )
    # counts rows from a crashed append (counts written, marker not)
    # would INFLATE bucket totals and spuriously drop buckets
    per_batch = spark.read.parquet(f"{path}/{_COUNTS_DIR}").filter(
        F.col("_batch").isin(marked)
    )
    return _pairs_for_batch(
        full, per_batch, batch_id, meta["num_hashes"], threshold,
        max_bucket_size, allowed, where,
    )


def _pairs_for_batch(
    full: DataFrame,
    per_batch: DataFrame,
    batch_id: str,
    num_hashes: int,
    threshold: float,
    max_bucket_size: int,
    allowed: DataFrame | None = None,
    where: str | None = None,
) -> DataFrame:
    """The shared batch-vs-index pair plan (path-backed and
    table-bucketed forms must never drift): guard whitelist from the
    summed counts of the marked batches (``per_batch``), batch-side
    filter, one band equi-join, (least, greatest) normalization,
    signature verify.

    ``allowed`` (r14, VERDICT r13 #3 — the filtered-ANN rule on the
    band tier): a DataFrame whose FIRST column holds the ids the pair
    query may touch ("near-duplicates among the licensed/English
    subset"). Applied as a PRE-filter semi-join on the index frame
    BEFORE the batch split and the band self-join, so BOTH pair sides
    are allowed and candidate enumeration is per-FILTERED-corpus — a
    post-filter of the unfiltered pairs would pay the full candidate
    m² first (the r8 blowup this module exists to avoid). A selective
    allowed set broadcasts under AQE (zero index shuffle); a broad one
    shuffles the index rows once on ``_id``. NULL ids match nothing
    (null-rejecting equality). The skew guard keeps reading the
    UNFILTERED counts sidecar — a conservative resource bound (filtered
    buckets are never bigger), so the bounded-candidate-mass contract
    is untouched.

    ``where`` (r15 — the predicate form): a stored-column SQL filter
    applied to the WHOLE frame before the batch split, so BOTH pair
    sides satisfy it and enumeration is per-filtered-corpus, exactly
    like ``allowed``. Being a deterministic expression over scan
    columns it PUSHES into the parquet reader (plan-pinned) — zero
    extra frames, joins, or shuffles at any selectivity. The skew
    guard stays on the UNFILTERED counts, same as ``allowed``."""
    if where is not None:
        full = full.filter(where)
    if allowed is not None:
        akey = allowed.columns[0]
        full = full.join(
            allowed.select(F.col(akey).alias("_id")), "_id", "left_semi"
        )
    bucket_ok = (
        per_batch.groupBy("band_idx", "band_hash")
        .agg(F.sum("cnt").alias("_n"))
        .filter(F.col("_n") <= max_bucket_size)
        .select("band_idx", "band_hash")
    )
    batch = (
        full.filter(F.col("_batch") == batch_id)
        .join(bucket_ok, ["band_idx", "band_hash"], "left_semi")
        .alias("a")
    )
    cand = batch.join(
        full.alias("b"),
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a._id") != F.col("b._id")),
    ).select(
        F.least("a._id", "b._id").alias("id_a"),
        F.greatest("a._id", "b._id").alias("id_b"),
        F.col("a._sig").alias("sig_a"),
        F.col("b._sig").alias("sig_b"),
    )
    return estimate_jaccard_pairs(cand, num_hashes, threshold)




def minhash_index_dedup_batch(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    *,
    batch_id: str,
    threshold: float = 0.5,
    max_bucket_size: int = 200,
    where: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """Convenience production step: append the new batch to the index,
    then return its near-dup pairs vs everything indexed (itself
    included). Equivalent to ``minhash_index_append`` +
    ``minhash_index_pairs_vs_batch``; LSH params come from the index
    meta (a fresh path gets the defaults via an explicit append first).
    ``where`` (r15) passes to the pairs query — filter both pair sides
    by a stored-payload predicate; note the append itself is UNfiltered
    (the whole batch becomes searchable for later snapshots).

    ``resume`` (r15, the ann_index_dedup_batch retry contract): the
    append commits (marker written LAST) before the caller consumes the
    pairs, so a crash in between leaves a rerun hitting the
    duplicate-batch_id guard. ``resume=True`` on a retry of the SAME
    delivery skips the append when the batch marker's recorded
    ``n_rows`` matches this input and re-runs only the pairs query —
    identical pair set, since the index state is byte-identical to the
    first run's post-append state. A count mismatch raises; no marker
    at all means the crash
    hit MID-append — clean up the unmarked files first (the append
    contract above), then re-run.
    """
    spark = new_df.sparkSession
    meta = minhash_index_meta(spark, path)
    if meta is None:
        raise ValueError(
            f"minhash_index_dedup_batch: no index at {path} — create it "
            "with minhash_index_append (pinning the LSH params) first"
        )
    if not (resume and _resume_skips_append(
        _marker_rows(spark, path), batch_id, new_df,
        "minhash_index_dedup_batch",
    )):
        minhash_index_append(
            new_df,
            id_col,
            text_col,
            path,
            batch_id=batch_id,
            **meta,
        )
    return minhash_index_pairs_vs_batch(
        spark, path, batch_id, threshold=threshold,
        max_bucket_size=max_bucket_size, where=where,
    )


def minhash_index_delete(spark: SparkSession, path: str, ids) -> int:
    """Delete documents from the path-backed band index — the
    right-to-be-forgotten / retraction op a long-lived crawl index
    needs. ``ids`` is a Python list (the GDPR shape: small, explicit)
    or a DataFrame whose FIRST column holds the ids (bulk retractions).

    The table tier's TOMBSTONE protocol (``minhash_table_delete``,
    ``index_store._tombstone_delete``): the request is APPENDED to
    ``_graft_tombstones/`` and every pairs query anti-joins it out, so
    data and counts files stay byte-untouched (mtime-pinned in tests)
    and the delete works on any Hadoop filesystem. Guard counts
    over-count the tombstoned rows until compaction — they can only
    make the skew guard drop a bucket early, never re-open the m²
    blowup. Once dead rows pass the shared dead share of the index
    (``index_store._AUTO_COMPACT_SHARE``) a local index is compacted
    (``minhash_index_compact``); a remote one keeps its tombstones
    until it is compacted where it is locally mounted. Markers and
    meta are untouched: a fully-deleted batch still rejects
    redelivery, and a re-appended id LIVES while its retracted history
    stays dead. Deleting every live document is refused. Returns the
    number of live band rows retracted."""
    _band_recover(path)
    if minhash_index_meta(spark, path) is None:
        raise ValueError(f"minhash_index_delete: no index at {path}")
    return _tombstone_delete(
        spark,
        ids,
        path,
        who="minhash_index_delete",
        n_total_fn=lambda markers: _counts_total(
            spark.read.parquet(f"{path}/{_COUNTS_DIR}"), markers
        ),
        compact_fn=lambda: _local_path(path) and minhash_index_compact(
            spark, path
        ),
        compact_threshold=_AUTO_COMPACT_SHARE,
    )


def minhash_index_compact(spark: SparkSession, path: str) -> int:
    """Fold pending tombstones into the path-backed band index: rewrite
    the ``band_idx=`` dirs that hold dead rows
    (``index_store._fold_partition_dirs`` — dead = tombstoned rows plus
    unmarked crash-append orphans, which no tombstone can reach),
    recompute ``_graft_counts`` from the survivors (``_guard_counts``,
    staged then swapped), and drop the tombstones LAST. Crash windows,
    each healed by ``_band_recover`` at the next band entry point and
    finished by a re-run:

    * mid-dir-swap — the ``.old`` copy is restored; the re-run folds
      that dir again;
    * after the dir swaps, before the counts swap — counts over-count
      the folded rows (conservative) and the tombstones anti-join rows
      already gone (a no-op); the re-run finds nothing to fold,
      rewrites the counts and drops the tombstones;
    * after the counts swap, before the tombstone drop — the same
      re-run, with counts already exact.

    Single-writer (the table-tier rule). Local-filesystem paths only
    (the swaps are os.rename-based). Returns the number of dead band
    rows folded out (0 when nothing pends)."""
    import os
    import shutil

    from etl_apache_kafka_python_doker_aws_spark.plans.merge import _swap_in

    _require_local_path(path, "minhash_index_compact")
    _band_recover(path)
    if minhash_index_meta(spark, path) is None:
        raise ValueError(f"minhash_index_compact: no index at {path}")
    tomb = _tombstones(spark, path)
    markers = _marker_rows(spark, path)
    n_dead = _fold_partition_dirs(
        spark.read.parquet(path), path, "band_idx", tomb, markers,
        "minhash_index_compact",
    )
    if n_dead or tomb is not None:
        counts_dir = f"{path}/{_COUNTS_DIR}"
        staging = counts_dir + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        _guard_counts(
            spark.read.parquet(path), [r.batch_id for r in markers]
        ).write.parquet(staging)
        _swap_in(staging, counts_dir)
    shutil.rmtree(os.path.join(path, _TOMB_DIR), ignore_errors=True)  # LAST
    return n_dead


# --- Bucketed-table tier (round 8): the SCALING.md upgrade, built ---
#
# The path-backed index above shuffles index+batch rows on
# (band_idx, band_hash) for every per-batch join. Writing the index as
# a BUCKETED TABLE on those keys makes the join co-located: both sides
# are bucketed scans with matching specs, so SortMergeJoin plans with
# ZERO Exchange — no index shuffle per crawl snapshot, the property
# that matters when the index is 10⁹ docs and the batch is 10⁵
# (plan-pinned in tests/test_plans.py). Sidecars become sibling tables
# (`<name>_meta` / `<name>_batches` / `<name>_counts`) so the whole
# index lives in the catalog.


def _targets(table: str) -> list[str]:
    """The table tier's ordered swap targets: data, then guard counts."""
    return [table, f"{table}_counts"]


def minhash_table_meta(spark: SparkSession, table: str) -> dict | None:
    """Pinned LSH params (+ bucket count) of a bucketed band index, or
    None if the index table doesn't exist yet; raises on an unreadable
    meta or one without the current ``layout_version``."""
    row = _read_meta(spark, table=table)
    if row is None:
        return None
    meta = {k: int(row[k]) for k in _PARAMS + ("buckets",)}
    meta["payload_cols"] = row["payload_cols"]
    return meta


def minhash_table_batches(spark: SparkSession, table: str) -> list[str]:
    return [r.batch_id for r in _marker_rows(spark, table=table)]


def minhash_table_append(
    df: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    *,
    batch_id: str,
    buckets: int = 64,
    num_hashes: int = 32,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 42,
    payload_cols: list[str] | None = None,
) -> None:
    """Sign ``df`` and APPEND its band rows to the bucketed index table
    (created, with params+buckets pinned in ``<table>_meta``, on first
    use). Same guards and write order as the path form: param/bucket
    drift and batch_id redelivery are rejected loudly; marker row
    written LAST. ``buckets`` sizes the (band_idx, band_hash) bucketing
    — at 10⁹ docs pick buckets so each holds a few hundred MB; it is
    pinned at creation because appends into a different bucket count
    would silently break join co-location. ``payload_cols`` (r15): same
    contract as the path tier (see ``minhash_index_append``) — pinned
    at creation, required of every append, served by
    ``minhash_table_pairs_vs_batch(where=...)`` as a scan predicate
    that keeps this tier's zero-Exchange property (unlike a broad
    ``allowed`` set, which shuffles on ``_id``)."""
    spark = df.sparkSession
    _recover_tables(spark, _targets(table))
    meta = minhash_table_meta(spark, table)
    params = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "seed": seed,
        "buckets": buckets,
    }
    if meta is not None and {
        k: meta[k] for k in _PARAMS + ("buckets",)
    } != params:
        raise ValueError(
            f"minhash_table_append: index {table} was built with {meta}, "
            f"append requested {params} — rebuild or match its params"
        )
    seq = _new_batch_seq(_marker_rows(spark, table=table), batch_id,
                         "minhash_table_append", table)
    pay = _pinned_payloads(df, meta, payload_cols, "minhash_table_append",
                           _RESERVED_BAND_COLS)
    if meta is None:
        _write_meta(spark, {**params, "payload_cols": pay}, table=table)
    n_in = df.count()
    banded = banded_minhash_signatures(
        df, id_col, text_col, num_hashes, bands, shingle_n, seed,
        carry_cols=tuple(pay),
    ).withColumn("_batch", F.lit(batch_id))
    banded.persist()
    try:
        banded.write.mode("append").bucketBy(
            buckets, "band_idx", "band_hash"
        ).format("parquet").saveAsTable(table)
        # counts bucketed on the SAME keys: the guard's sum-by-bucket
        # and its semi-join against the (equally bucketed) batch side
        # then also plan shuffle-free — the only Exchange left in the
        # whole pairs query is the tiny pair-dedup
        _guard_counts(banded, [batch_id]).write.mode("append").bucketBy(
            buckets, "band_idx", "band_hash"
        ).format("parquet").saveAsTable(f"{table}_counts")
    finally:
        banded.unpersist()
    _append_marker(
        spark, {"batch_id": batch_id, "seq": seq, "n_rows": n_in}, table=table,
    )


def minhash_table_pairs_vs_batch(
    spark: SparkSession,
    table: str,
    batch_id: str,
    *,
    threshold: float = 0.5,
    max_bucket_size: int = 200,
    allowed: DataFrame | None = None,
    where: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs for one batch vs the bucketed index — the
    same plan as ``minhash_index_pairs_vs_batch`` (shared
    ``_pairs_for_batch``, including the r14 ``allowed`` pre-filter —
    note a BROAD allowed set costs this tier its zero-Exchange property
    for the call: the semi-join shuffles on ``_id``, not the bucket
    keys; a selective set broadcasts and keeps it — and the r15
    ``where`` predicate on stored payload columns, which being a scan
    filter keeps zero-Exchange at ANY selectivity: the predicate form
    is strictly better than ``allowed`` here whenever a stored column
    encodes the filter) except the band equi-join is CO-LOCATED:
    both sides are bucketed scans of ``table`` on exactly the join
    keys, so SortMergeJoin plans with zero Exchange (pinned in
    tests/test_plans.py::test_bucketed_index_join_has_no_exchange).
    Per-batch cost = one bucketed scan + per-partition sorts; nothing
    shuffles, at any index size.

    MEASURED at 1M docs single-JVM (quiet, median of 3): bucketed pairs
    query 4.8 s vs 2.0 s for the path form — the bucketed scan caps
    parallelism at the bucket count and pays mandatory per-bucket
    sorts, while a local shuffle is nearly free. The zero-Exchange
    property is the CLUSTER trade (shuffling ~1.1 TB of index per
    snapshot at 10⁹ docs is the cost that matters); registered
    scale_form="bounded" accordingly — locally, prefer the path form."""
    _recover_tables(spark, _targets(table))
    meta = minhash_table_meta(spark, table)
    if meta is None:
        raise ValueError(f"minhash_table_pairs_vs_batch: no index table {table}")
    markers = _marker_rows(spark, table=table)
    marked = _require_marked(markers, batch_id, "minhash_table_pairs_vs_batch",
                             table)
    # same crash-window containment as the path form (VERDICT r8 #4);
    # pending tombstones (r11 retraction sidecar) are anti-joined out —
    # request-sized build side, the index itself never shuffles for it
    full = _live_rows(
        spark.table(table).filter(F.col("_batch").isin(marked)),
        _tombstones(spark, table=table),
        markers,
        keep_unmarked=True,
    )
    per_batch = spark.table(f"{table}_counts").filter(
        F.col("_batch").isin(marked)
    )
    return _pairs_for_batch(
        full, per_batch, batch_id, meta["num_hashes"], threshold,
        max_bucket_size, allowed, where,
    )


def drop_minhash_table(spark: SparkSession, table: str) -> None:
    """Drop a bucketed band index (data + meta/batches/counts sidecar
    tables) INCLUDING their warehouse locations. ``DROP TABLE IF
    EXISTS`` alone is not idempotent across sessions: a fresh session's
    in-memory catalog has never heard of the table, so the DROP no-ops
    while the warehouse directory persists, and the next ``saveAsTable``
    fails with LOCATION_ALREADY_EXISTS. Deleting the location through
    the Hadoop FS API makes rebuild-from-scratch runs (driver reruns,
    tests) idempotent on any filesystem.

    Default-database bare names only (review r8): Spark lowercases
    managed-table locations ({warehouse}/{lower(name)}) and nests
    qualified names under {db}.db/ — a naive concat would delete the
    wrong (or no) directory, leaving exactly the stale-location failure
    this function exists to prevent."""
    if "." in table:
        raise ValueError(
            f"drop_minhash_table: qualified name {table!r} not supported — "
            "its location lives under <db>.db/; pass the bare table name "
            "in the default database"
        )
    # staging twins and sidecars go too (index_store._drop_tables)
    _drop_tables(spark, _targets(table))


def minhash_table_dedup_batch(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    *,
    batch_id: str,
    threshold: float = 0.5,
    max_bucket_size: int = 200,
    where: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """Bucketed-tier mirror of ``minhash_index_dedup_batch``: append the
    new batch (signed with the table's pinned params/buckets), then
    return its near-dup pairs vs everything indexed. Maintenance note:
    unlike the path form, do NOT run ``compact_small_files`` on a
    bucketed table's directory — bucket membership is encoded in the
    file names, and rewriting files outside ``bucketBy`` writes would
    silently break join co-location. Use
    ``sources/layout.compact_bucketed_table`` (r9), which rewrites
    through a CTAS staging table with the pinned bucket spec.
    ``where`` / ``resume`` (r15): same contracts as the path form."""
    spark = new_df.sparkSession
    meta = minhash_table_meta(spark, table)
    if meta is None:
        raise ValueError(
            f"minhash_table_dedup_batch: no index table {table} — create it "
            "with minhash_table_append (pinning params + buckets) first"
        )
    if not (resume and _resume_skips_append(
        _marker_rows(spark, table=table), batch_id, new_df,
        "minhash_table_dedup_batch",
    )):
        minhash_table_append(
            new_df,
            id_col,
            text_col,
            table,
            batch_id=batch_id,
            **meta,
        )
    return minhash_table_pairs_vs_batch(
        spark, table, batch_id, threshold=threshold,
        max_bucket_size=max_bucket_size, where=where,
    )


def minhash_table_delete(
    spark: SparkSession, table: str, ids, *,
    compact_threshold: float = _AUTO_COMPACT_SHARE,
) -> int:
    """Delete documents from the BUCKETED band index table — retraction
    for the zero-Exchange tier. ``ids`` is a Python list or a DataFrame
    whose FIRST column holds the ids.

    TOMBSTONE sidecar (r11, VERDICT r10 #2 — the r10 form CTAS-rewrote
    the whole table per delete): bucket membership lives in file NAMES,
    so there is nothing to localize on disk; instead each delete
    APPENDS its request to ``<table>_tombstones`` (``_id`` + the marker
    sequence at delete time) and every pairs query anti-joins the
    tombstones out (``index_store._live_rows`` — request-sized build
    side, no index shuffle). The WRITE side is therefore
    request-sized — data and counts tables stay byte-untouched
    (mtime-pinned in tests) — and the accounting is one columnar
    counting scan of the index plus a metadata-sized sidecar sum;
    measured at the 1M-doc probe: delete 3.7 s vs 13.0 s for the CTAS
    rewrite, pairs-query overhead of the anti-join ≈ 0 (SCALING.md
    r11). The CTAS rewrite is demoted to
    ``minhash_table_compact``, run automatically once dead rows exceed
    ``compact_threshold`` of the table (pass 0 to force, or a value
    > 1 to never auto-compact). Guard counts stay UNTOUCHED until
    compaction — they over-count dead rows, which can only make the
    skew guard drop a bucket early (the bounded-resource outcome the
    cap already allows), never re-open the m² blowup.

    Markers and meta are untouched: a fully-deleted batch still rejects
    redelivery. A re-appended id LIVES (its batch seq is past every
    tombstone) while its retracted history stays dead. Returns the
    number of live band rows retracted."""
    _recover_tables(spark, _targets(table))
    if minhash_table_meta(spark, table) is None:
        raise ValueError(f"minhash_table_delete: no index table {table}")

    return _tombstone_delete(
        spark,
        ids,
        table=table,
        who="minhash_table_delete",
        drop_hint="drop_minhash_table",
        n_total_fn=lambda markers: _counts_total(
            spark.table(f"{table}_counts"), markers
        ),
        compact_fn=lambda: minhash_table_compact(spark, table),
        compact_threshold=compact_threshold,
    )


def minhash_table_compact(spark: SparkSession, table: str) -> int:
    """Fold accumulated tombstones into the bucketed band index: one
    staged CTAS rewrite of data + recomputed guard counts with the
    PINNED bucket spec (co-location — the tier's whole point —
    survives), zero-count sentinels re-seeded per marked batch, then
    the tombstone sidecar is dropped LAST (``index_store._compact_tables``
    — also the PHYSICAL sweep of unmarked crash-append rows, which no
    tombstone can reach). The swap windows are healed by
    ``index_store._recover_tables``, run here and by every read/write
    entry point. Returns the number of dead rows compacted away (0 when
    there is nothing to fold or sweep).

    SINGLE-WRITER assumption (ADVICE r11 #1): run one maintenance
    writer per index at a time. A READER in another session that lands
    between this compact's data swap and its counts swap will itself
    complete the counts swap — after which this compact's own counts
    DROP deletes the just-renamed table and the RENAME throws, leaving
    ``<table>_counts`` missing until a compact re-run. Fine under a
    single coordinating writer (the deployment shape for every
    swap-based maintenance op here); concurrent multi-session
    compaction needs an external lock."""
    _recover_tables(spark, _targets(table))
    meta = minhash_table_meta(spark, table)
    if meta is None:
        raise ValueError(f"minhash_table_compact: no index table {table}")

    def targets(survivors, markers):
        counts = _guard_counts(survivors, [r.batch_id for r in markers])
        return [(table, survivors), (f"{table}_counts", counts)]

    return _compact_tables(
        spark, table, targets, buckets=meta["buckets"],
        cols=("band_idx", "band_hash"), who="minhash_table_compact",
        drop_hint="drop_minhash_table",
    )
