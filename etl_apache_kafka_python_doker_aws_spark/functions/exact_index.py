"""Incremental EXACT-content dedup index (r12) — the L1 tier's
persisted form, completing the lifecycle symmetry with the band index
(L2) and the ANN index (L3): a crawl pipeline appends each snapshot's
content hashes once, asks "which of MY documents duplicate something
already ingested" at batch-proportional cost, and retracts documents
with request-sized tombstones.

Reference parity note: the reference repo
(/root/reference/dags/etl_dags.py) has no dedup at all — this tier is
part of the training-data-pipeline surface built on top, following the
standard production crawl-dedup shape (content-hash table, first
occurrence wins).

Layout (all catalog tables, so the tier works wherever the warehouse
lives):

* ``<t>``             — (content_hash, _id, _batch), bucketed by
                        ``content_hash``: the dedup join and the
                        keeper aggregation are both on the bucket key,
                        so nothing corpus-sized shuffles per batch at
                        any index size.
* ``<t>_meta``        — pinned bucket count (appends into a different
                        bucketing would silently break co-location),
                        payload schema and ``layout_version``.
* ``<t>_batches``     — (batch_id, seq) markers, written LAST per
                        append (the commit marker; redelivery of a
                        marked batch_id is rejected loudly).
* ``<t>_tombstones``  — (_id, del_seq) retraction sidecar, seq-scoped:
                        a re-appended id lives while its retracted
                        history stays dead.

Meta, markers, tombstones, retraction forms, the staged compaction swap
and its recovery, and the drop-with-location hygiene are the shared
storage protocol in ``index_store`` (its docstring holds the recover
state table); this tier's one swap target is the data table.
SINGLE-WRITER assumption on maintenance ops, same as the other tiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_apache_kafka_python_doker_aws_spark.functions.index_store import (
    _AUTO_COMPACT_SHARE,
    _append_marker,
    _compact_tables,
    _drop_tables,
    _live_rows,
    _marker_rows,
    _marker_seq_join,
    _new_batch_seq,
    _pinned_payloads,
    _read_meta,
    _recover_tables,
    _require_marked,
    _table_exists,
    _tombstone_delete,
    _tombstones,
    _write_meta,
)

#: Column names this tier owns (r15 payload columns must not shadow
#: them — the band tier's _RESERVED_BAND_COLS rule)
_RESERVED_SHA_COLS = frozenset({"content_hash", "_id", "_batch", "del_seq"})


def sha_table_meta(spark: SparkSession, table: str) -> dict | None:
    """Pinned bucket count (+ r15 payload schema), or None if the
    index doesn't exist yet; raises on an unreadable meta or one
    without the current ``layout_version``."""
    row = _read_meta(spark, table=table)
    if row is None:
        return None
    return {"buckets": int(row["buckets"]), "payload_cols": row["payload_cols"]}


def _require_data_table(spark: SparkSession, table: str, who: str) -> dict:
    """The index's meta, after checking the DATA table exists too:
    a first append killed between its meta write and its data write
    leaves exactly that state (review r12 — the enumerated-crash-state
    sweep). ``spark.table`` would throw a raw TABLE_OR_VIEW_NOT_FOUND
    with no recovery guidance; name the state and the heal instead."""
    meta = sha_table_meta(spark, table)
    if meta is None:
        raise ValueError(f"{who}: no index table {table}")
    if not _table_exists(spark, table):
        raise ValueError(
            f"{who}: {table}_meta exists but the data table does not — a "
            "first append crashed between its meta and data writes; retry "
            f"sha_table_append (same batch_id) or drop_sha_table({table!r})"
        )
    return meta


def sha_table_batches(spark: SparkSession, table: str) -> list[str]:
    return [r.batch_id for r in _marker_rows(spark, table=table)]


def sha_table_append(
    df: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    *,
    batch_id: str,
    buckets: int = 64,
    payload_cols: list[str] | None = None,
) -> None:
    """Hash ``df``'s content (sha256 of the text column) and APPEND to
    the bucketed index table (created, with ``buckets`` pinned in
    ``<t>_meta``, on first use). Marker row written LAST — the crash
    contract of the other tiers: a kill before it leaves UNMARKED
    orphan rows that dedup queries never see and that
    ``sha_table_compact`` sweeps physically; retry under the SAME
    batch_id after a compact (or clean the rows), never blind.
    Duplicate content WITHIN the batch is stored as-is — dedup
    semantics are defined at query time (first occurrence by
    (batch seq, id) wins).

    ``payload_cols`` (r15 — the payload rule completed across all
    three dedup tiers): per-doc attribute columns stored on every
    index row, pinned in meta at creation, required of every later
    append; ``sha_table_dedup_batch(where=...)`` then filters the
    verdict's corpus by a stored-column predicate as a pushed scan
    filter (keeps the co-located zero-shuffle plan)."""
    spark = df.sparkSession
    _recover_tables(spark, [table])
    meta = sha_table_meta(spark, table)
    if meta is not None and meta["buckets"] != buckets:
        raise ValueError(
            f"sha_table_append: index {table} is bucketed {meta['buckets']}, "
            f"append requested {buckets} — appends must match the pinned "
            "bucket count (co-location breaks silently otherwise)"
        )
    seq = _new_batch_seq(_marker_rows(spark, table=table), batch_id,
                         "sha_table_append", table)
    pay = _pinned_payloads(df, meta, payload_cols, "sha_table_append",
                           _RESERVED_SHA_COLS)
    if meta is None:
        _write_meta(spark, {"buckets": buckets, "payload_cols": pay}, table=table)
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup import (
        content_hash,
    )

    # the SAME fingerprint l1_exact_dedup / dedup_exact_by_content use,
    # so whole-corpus and incremental verdicts agree hash-for-hash
    rows = df.select(
        content_hash(F.col(text_col).cast("string")).alias("content_hash"),
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in pay],
        F.lit(batch_id).alias("_batch"),
    )
    # repartition ON the bucket column first (ADVICE r12, the r10
    # files=tasks×buckets trap): bucketBy writes one file per (task,
    # bucket) pair, so a many-partition crawl batch would fragment the
    # table by tasks× per snapshot; repartition uses the same Murmur3
    # hash as bucket assignment, so each task holds exactly one bucket
    # → ≤ buckets files per append.
    rows.repartition(buckets, F.col("content_hash")).write.mode(
        "append"
    ).bucketBy(buckets, "content_hash").format("parquet").saveAsTable(table)
    _append_marker(spark, {"batch_id": batch_id, "seq": seq}, table=table)


def sha_table_dedup_batch(
    spark: SparkSession, table: str, batch_id: str,
    *, where: str | None = None,
) -> DataFrame:
    """Exact-duplicate verdict for one MARKED batch against everything
    ingested BEFORE it: one row per batch row — ``(doc_id, is_dup,
    keeper_id)`` where ``keeper_id`` is the EARLIEST live occurrence of
    the same content hash in a strictly earlier batch (ordered by
    (batch seq, id) — "first occurrence wins", the production
    crawl-dedup rule), NULL when the content is new. Within-batch
    duplicates are NOT flagged here (that is ``l1_exact_dedup``'s
    whole-corpus groupBy); this is the incremental form: per-snapshot
    cost is the batch's rows against a co-located hash join — the
    corpus never reshuffles.

    Retraction semantics compose: tombstoned rows are anti-joined out
    (request-sized build side), so content whose every earlier copy was
    GDPR-deleted reads as NEW again, and the keeper is always a LIVE
    row.

    ``where`` (r15): a stored-payload SQL predicate applied to BOTH
    sides (batch rows and prior-occurrence candidates) — "is this
    batch a duplicate of any LICENSED earlier document?" Filtered-out
    batch rows are absent from the verdict (per-filtered-corpus, the
    band/ANN tier rule); a keeper always satisfies the predicate. A
    pushed scan filter, so the co-located zero-Exchange plan is
    untouched at any selectivity."""
    _recover_tables(spark, [table])
    _require_data_table(spark, table, "sha_table_dedup_batch")
    markers = _marker_rows(spark, table=table)
    marked = _require_marked(markers, batch_id, "sha_table_dedup_batch", table)
    batch_seq = next(int(r.seq) for r in markers if r.batch_id == batch_id)
    live = _live_rows(
        spark.table(table).filter(F.col("_batch").isin(marked)),
        _tombstones(spark, table=table),
        markers,
        keep_unmarked=True,
    )
    if where is not None:
        live = live.filter(where)
    live_seq = _marker_seq_join(live, markers, "inner")
    batch = live_seq.filter(F.col("_batch") == F.lit(batch_id)).select(
        F.col("_id").alias("doc_id"), "content_hash"
    )
    # earliest prior occurrence per hash: min over the (seq, id) struct
    # — deterministic across re-evaluations (the r10 dropDuplicates
    # lesson), and the aggregation key IS the bucket key, so the corpus
    # side aggregates and joins without an Exchange
    keepers = (
        live_seq.filter(F.col("_seq") < F.lit(batch_seq))
        .groupBy("content_hash")
        .agg(F.min(F.struct("_seq", "_id")).alias("_first"))
        .select("content_hash", F.col("_first._id").alias("keeper_id"))
    )
    return batch.join(keepers, "content_hash", "left").select(
        "doc_id",
        F.col("keeper_id").isNotNull().alias("is_dup"),
        "keeper_id",
    )


def sha_table_delete(
    spark: SparkSession, table: str, ids, *,
    compact_threshold: float = _AUTO_COMPACT_SHARE,
) -> int:
    """Retraction — right-to-be-forgotten for the exact-dedup tier.
    ``ids`` is a Python list or a DataFrame whose FIRST column holds
    the ids. Appends the request to ``<t>_tombstones`` (seq-scoped: a
    re-appended id lives, retracted history stays dead; the data table
    stays byte-untouched) — WRITE side request-proportional; accounting
    is the shared single-aggregate scan (``_tombstone_delete``), plus
    one columnar count only when auto-compaction is armed (threshold
    ≤ 1). Auto-compacts past ``compact_threshold`` dead mass (0 forces,
    >1 defers — the latency-sensitive endpoint pattern). Returns live
    rows retracted."""
    _recover_tables(spark, [table])
    _require_data_table(spark, table, "sha_table_delete")
    return _tombstone_delete(
        spark,
        ids,
        table=table,
        who="sha_table_delete",
        drop_hint="drop_sha_table",
        n_total_fn=lambda markers: _live_rows(
            spark.table(table), None, markers
        ).count(),
        compact_fn=lambda: sha_table_compact(spark, table),
        compact_threshold=compact_threshold,
    )


def sha_table_compact(spark: SparkSession, table: str) -> int:
    """Fold tombstones in physically: one CTAS of the marked live
    survivors with the PINNED bucket spec, staged as ``<t>_deleting``
    BEFORE the swap, tombstones dropped LAST (a re-killed crash re-runs
    idempotently). Also the PHYSICAL sweep for unmarked crash-append
    orphans — unreachable by seq-scoped tombstones, so compact rewrites
    whenever marked live survivors differ from the physical table.
    Crash windows: staged-twin-beside-live and twin-without-live are
    both healed by ``index_store._recover_tables`` at every entry point;
    a kill after the swap but before the tombstone drop leaves
    tombstones that anti-join already-gone rows (no-op) and the next
    compact's nothing-to-rewrite exit drops them. SINGLE-WRITER per
    index. Returns the number of dead rows compacted away."""
    _recover_tables(spark, [table])
    meta = _require_data_table(spark, table, "sha_table_compact")
    return _compact_tables(
        spark, table, lambda survivors, _markers: [(table, survivors)],
        buckets=meta["buckets"], cols=("content_hash",),
        who="sha_table_compact", drop_hint="drop_sha_table",
    )


def drop_sha_table(spark: SparkSession, table: str) -> None:
    """Drop the index and every sidecar INCLUDING warehouse locations
    (DROP alone is not idempotent across sessions — the r8 lesson) and
    including the staging twin, so a reused name can never resurrect
    purged data (the r11 drop-twins lesson)."""
    _drop_tables(spark, [table])
