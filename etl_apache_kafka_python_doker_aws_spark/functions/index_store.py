"""The storage protocol every persisted-index tier shares — the band
path (``dedup_index.minhash_index_*``), the band table
(``dedup_index.minhash_table_*``), the ANN path (``ann_index``) and the
exact table (``exact_index``). This is the engine's form of the
reference's keyed, idempotent insert (see the ``plans/merge.py``
docstring): each append writes its data, writes a commit marker last,
and the next call heals a torn swap. Every tier retracts the same way:
a delete appends tombstones, a compaction folds them in. The tiers keep
only what is specific to them (encoding, signing, search and pairs),
so the rules below are proved once, here.

Locations. A path tier keeps its sidecars as ``_``-prefixed subdirs of
the index root, which Spark's listing of the data ignores:
``_graft_meta/`` (one JSON row), ``_graft_batches/`` (JSON lines) and
``_graft_tombstones/`` (parquet). A table tier keeps them as sibling
catalog tables ``<t>_meta``, ``<t>_batches`` and ``<t>_tombstones``.
Every helper that serves both forms takes ``path`` or ``table=``.

The protocol:

* **Meta is the index's commit marker.** ``_write_meta`` stamps
  ``layout_version`` = ``LAYOUT_VERSION`` and omits an empty
  ``payload_cols``. ``_read_meta`` returns None only when no meta
  exists, refuses any other stamp (``_check_layout``: an index in any
  other layout is rebuilt from source, never read through a
  compatibility branch — a future layout change bumps the version) and
  raises on a meta it cannot read. An unreadable meta never reads as
  "no index": the next append would pin new parameters over rows
  written under the old ones.
* **Payload columns** are pinned in meta at creation
  (``_pinned_payloads``): every later append must carry them, and a
  conflicting request is rejected.
* **Batch markers** (batch_id, seq[, n_rows]) are written LAST by each
  append (``_append_marker``), so a marked batch provably has its rows;
  an unmarked row is a crash-append orphan. A read error on an existing
  marker location propagates (swallowing it would strip every row's
  seq). ``_marker_seq_join`` translates batch → seq with a broadcast
  join against the metadata-sized marker frame;
  ``_resume_skips_append`` decides a ``resume=True`` retry from the
  marker's ``n_rows``.
* **Tombstones** (``_id``, ``del_seq``) retract rows without rewriting
  data (``_append_tombstones``: ``del_seq`` = 1 + the last marker seq,
  ids de-duplicated and cast to the index's id type). A row is dead iff
  a tombstone names its id AND its batch was marked before the delete
  (``_tombstone_join``), so a re-appended id lives while its retracted
  history stays dead. ``_live_rows`` keeps unmarked orphans on the read
  path (``keep_unmarked=True``: a crashed append degrades to serving its
  orphans, never to losing data) and drops them for compaction and
  delete accounting, which is where orphans are swept; ``_dead_rows``
  is its complement.
* **Table swaps.** A table tier's compaction (``_compact_tables``)
  stages every swap target — data first, then any derived table — as a
  ``<name>_deleting`` twin before the first swap, swaps the targets in
  order (DROP, then RENAME), and drops the tombstones last.
  ``_recover_tables`` runs at every table entry point and heals by
  presence over the same ordered targets:

  ======================================  ==============================
  state a kill can leave                  heal
  ======================================  ==============================
  a target is missing beside its twin     rename the twin in, then
                                          finish the later targets
  the first twin sits beside the live     the swap never started: drop
  first table                             every twin with its location
  the first twin is gone and a later      finish that swap
  twin sits beside its live table
  a target is missing and has no twin     leave it alone (a first
                                          append that crashed, not a
                                          swap window)
  ======================================  ==============================

  Presence is unambiguous only with ONE maintenance writer per index.
* **Directory swaps.** A path tier's compaction rewrites exactly the
  partition dirs that hold dead rows (``_fold_partition_dirs`` over
  ``_dir_swap``, healed by ``_recover_partition_dirs``) and swaps whole
  sidecar dirs (``plans.merge._swap_in``/``_recover``, which stay in
  ``plans.merge`` because ``merge_upsert`` uses them). Only compaction
  renames, so only compaction is local-filesystem-only
  (``_require_local_path``); deletes append and work on any Hadoop
  filesystem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_apache_kafka_python_doker_aws_spark.util import (
    sidecar_json_append,
    sidecar_json_rows,
    sidecar_read,
    tiny_rows_df,
)

#: The on-disk layout every index tier writes and the only one it reads
#: — stamped into each meta row. 2: the band path partitions by
#: ``band_idx`` alone and retracts by tombstone.
LAYOUT_VERSION = 2

#: Dead share of an index past which a delete compacts it (every tier).
_AUTO_COMPACT_SHARE = 0.2

_META_DIR = "_graft_meta"
_BATCH_DIR = "_graft_batches"
_TOMB_DIR = "_graft_tombstones"
#: Staging twins of a table swap target: compaction's, and
#: ``sources.layout.compact_bucketed_table``'s.
_TWINS = ("_deleting", "_compacting")


def _table_exists(spark: SparkSession, table: str) -> bool:
    return spark.catalog.tableExists(table)


# --- layout and meta -------------------------------------------------


def _check_layout(meta: dict, where: str) -> None:
    """Refuse a meta row without the current ``layout_version`` stamp —
    an index written in any other layout is rebuilt, never read."""
    got = meta.get("layout_version")
    if got != LAYOUT_VERSION:
        raise ValueError(
            f"{where} has layout_version {got!r}, but only layout_version "
            f"{LAYOUT_VERSION} is readable — rebuild the index from source"
        )


def _read_meta(
    spark: SparkSession, path: str | None = None, *, table: str | None = None
) -> dict | None:
    """The layout-checked meta row as a dict (``payload_cols``
    defaulting to []), or None when no meta exists. Driver-side FS read
    for a path tier (``util.sidecar_json_rows``: no Spark job). Any read
    error propagates, and a meta location that holds no row raises."""
    if table is None:
        where = f"index at {path}"
        rows = sidecar_json_rows(spark, f"{path}/{_META_DIR}")
        if rows is None:
            return None
    else:
        where = f"index table {table}"
        if not _table_exists(spark, f"{table}_meta"):
            return None
        rows = spark.table(f"{table}_meta").collect()
    if not rows:
        raise ValueError(
            f"{where} has a meta location with no row — the meta is "
            "unreadable; restore it or rebuild the index from source"
        )
    meta = rows[0].asDict()
    _check_layout(meta, where)
    meta["payload_cols"] = list(meta.get("payload_cols") or [])
    return meta


def _write_meta(
    spark: SparkSession, meta: dict, path: str | None = None, *,
    table: str | None = None,
) -> None:
    """Write the one meta row, stamped with ``LAYOUT_VERSION``. An empty
    ``payload_cols`` is omitted (an empty list fails the createDataFrame
    round trip); ``_read_meta`` reads the absent field as []."""
    row = {k: v for k, v in meta.items() if k != "payload_cols"}
    row["layout_version"] = LAYOUT_VERSION
    if meta.get("payload_cols"):
        row["payload_cols"] = list(meta["payload_cols"])
    w = tiny_rows_df(spark, [row]).coalesce(1).write.mode("overwrite")
    if table is None:
        w.json(f"{path}/{_META_DIR}")
    else:
        w.saveAsTable(f"{table}_meta")


# --- payloads --------------------------------------------------------


def _check_payload_request(df: DataFrame, payload_cols: list, who: str,
                           reserved: frozenset) -> None:
    """Creation-time payload schema validation: reserved-name
    shadowing, duplicates, and absence from the input frame are all
    caller bugs — reject loudly before anything is written.
    ``reserved`` is the tier's index-owned column set."""
    bad = [c for c in payload_cols if c in reserved]
    if bad:
        raise ValueError(
            f"{who}: payload column(s) {bad} shadow index-owned columns; "
            f"reserved names: {sorted(reserved)}"
        )
    if len(set(payload_cols)) != len(payload_cols):
        raise ValueError(f"{who}: duplicate payload column names {payload_cols}")
    missing = [c for c in payload_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"{who}: payload column(s) {missing} not in the input frame "
            f"(columns: {df.columns}) — a column not in corpus or batch "
            "cannot be stored"
        )


def _pinned_payloads(
    df: DataFrame, meta: dict | None, payload_cols, who: str,
    reserved: frozenset,
) -> list[str]:
    """The effective payload column list for a write: the request,
    validated, when creating (``meta`` None); the index's pinned schema
    otherwise — a conflicting explicit request is a caller bug, and
    every later batch must carry the pinned columns (a silent NULL
    payload would corrupt ``where=`` filtering downstream)."""
    if meta is None:
        req = list(payload_cols or [])
        _check_payload_request(df, req, who, reserved)
        return req
    pinned = list(meta["payload_cols"])
    if payload_cols is not None and list(payload_cols) != pinned:
        raise ValueError(
            f"{who}: index pins payload_cols={pinned}, append requested "
            f"{list(payload_cols)} — the payload schema is a creation-time "
            "layout property; rebuild to change it"
        )
    missing = [c for c in pinned if c not in df.columns]
    if missing:
        raise ValueError(
            f"{who}: index pins payload column(s) {pinned} but the batch "
            f"lacks {missing} — every append must carry the creation-time "
            "payload schema"
        )
    return pinned


# --- batch markers ---------------------------------------------------


def _marker_rows(
    spark: SparkSession, path: str | None = None, *, table: str | None = None
) -> list:
    """Batch-marker rows in append order (empty for a fresh index). One
    tiny row per batch — metadata-cheap at any index size. Absence is an
    explicit existence check; a READ error on an existing marker
    location propagates."""
    if table is None:
        rows = sidecar_json_rows(spark, f"{path}/{_BATCH_DIR}") or []
    elif _table_exists(spark, f"{table}_batches"):
        rows = spark.table(f"{table}_batches").collect()
    else:
        rows = []
    return sorted(rows, key=lambda r: r.seq)


def _append_marker(
    spark: SparkSession, row: dict, path: str | None = None, *,
    table: str | None = None,
) -> None:
    """Commit a batch: append its marker row, LAST. A path tier appends
    driver-side (``util.sidecar_json_append``, no Spark job)."""
    if table is None:
        sidecar_json_append(spark, f"{path}/{_BATCH_DIR}", row)
    else:
        tiny_rows_df(spark, [row]).write.mode("append").saveAsTable(
            f"{table}_batches"
        )


def _new_batch_seq(markers: list, batch_id: str, who: str, where: str) -> int:
    """The seq a new batch gets; a batch_id that is already marked is
    REJECTED — a redelivered append would silently double every row it
    touches (the keyed-merge redelivery lesson: re-delivery must be
    explicit, see ``resume=``)."""
    if any(r.batch_id == batch_id for r in markers):
        raise ValueError(
            f"{who}: batch_id {batch_id!r} already appended to {where} — "
            "duplicate appends double every row silently; use a fresh "
            "batch_id per delivery"
        )
    return len(markers)


def _require_marked(markers: list, batch_id: str, who: str, where: str) -> list:
    """The marked batch ids, after checking ``batch_id`` is one of them.
    An unmarked batch_id is a typo or a crashed append (data written,
    marker absent); answering for it would read as "no duplicates" —
    silent corruption downstream."""
    marked = [r.batch_id for r in markers]
    if batch_id not in marked:
        raise ValueError(
            f"{who}: batch_id {batch_id!r} is not a MARKED batch of {where} "
            f"(marked: {marked}) — a crashed append must be swept (compact "
            "or clean up) and re-appended"
        )
    return marked


def _marker_seq_join(df: DataFrame, markers, how: str) -> DataFrame:
    """Attach each row's batch SEQUENCE as ``_seq`` by joining the
    metadata-sized marker frame (one tiny row per batch) — the ONE
    batch→seq translation every tier shares. ``how="left"`` keeps
    unmarked (crashed-append) rows with a NULL seq; ``how="inner"``
    restricts to marked rows. The broadcast hint is structural: the
    build side is one row per batch marker, metadata-bounded at any
    corpus size, and a literal map of a long-lived index's markers
    (~35k a year at 15-min snapshots) would bloat every plan."""
    mdf = tiny_rows_df(
        df.sparkSession,
        [(r.batch_id, int(r.seq)) for r in markers],
        "_mb string, _seq int",
    )
    return df.join(F.broadcast(mdf), df["_batch"] == mdf["_mb"], how).drop("_mb")


def _resume_skips_append(markers, batch_id: str, new_df: DataFrame,
                         who: str) -> bool:
    """Shared resume contract of every ``*_dedup_batch`` (band path,
    band table, ANN): True = the batch marker proves THIS delivery
    already appended (skip the append, re-run only the search side);
    False = no marker, append normally. A marker whose recorded
    ``n_rows`` differs from the input raises — same batch_id with
    different payload is a redelivery bug, not a retry."""
    marked = next((r for r in markers if r.batch_id == batch_id), None)
    if marked is None:
        return False
    n_in = new_df.count()
    n_marked = int(marked.n_rows)
    if n_marked != n_in:
        raise ValueError(
            f"{who}: resume of batch_id {batch_id!r} found a marker with "
            f"n_rows={n_marked} but the input has {n_in} rows — not the "
            "same delivery; use a fresh batch_id for new data"
        )
    return True


# --- tombstones ------------------------------------------------------


def _tombstones(
    spark: SparkSession, path: str | None = None, *, table: str | None = None
) -> DataFrame | None:
    """The pending delete requests (``_id``, ``del_seq``), or None when
    none are pending — compaction drops the sidecar whole, so absence
    is the common fast path (zero extra plan nodes). A READ error on an
    existing sidecar propagates: swallowing it would silently serve
    retracted rows."""
    if table is None:
        return sidecar_read(spark, f"{path}/{_TOMB_DIR}", "parquet")
    if not _table_exists(spark, f"{table}_tombstones"):
        return None
    return spark.table(f"{table}_tombstones")


def _tombstone_join(seqd: DataFrame, tomb: DataFrame, how: str) -> DataFrame:
    """The ONE seq-scoped tombstone predicate every tier shares: a row is
    dead iff some tombstone names its ``_id`` AND the row's batch was
    already marked when the delete ran (``_seq < del_seq``). ``seqd``
    carries ``_seq`` (``_marker_seq_join``); ``how="left_anti"`` keeps
    the live rows, ``"left_semi"`` the dead ones. A NULL ``_seq``
    (unmarked crash-append row) never satisfies the predicate. The
    tombstone side is delete-request-sized, so it broadcasts — the
    index never shuffles for retraction. Drops ``_seq``."""
    t = tomb.select(F.col("_id").alias("_t_id"), "del_seq")
    return seqd.join(
        t,
        (F.col("_id") == F.col("_t_id")) & (F.col("_seq") < F.col("del_seq")),
        how,
    ).drop("_seq")


def _live_rows(
    df: DataFrame, tomb: DataFrame | None, markers: list, *,
    keep_unmarked: bool = False,
) -> DataFrame:
    """``df``'s rows that no tombstone kills. ``keep_unmarked=True`` is
    the read-path filter: unmarked crash-append orphans are served (and
    ``df`` comes back untouched when no tombstone is pending). The
    default drops them — the compaction keep set and the delete
    accounting set, since an orphan has no seq, no tombstone can ever
    name it, and compaction is its only removal path."""
    if keep_unmarked and tomb is None:
        return df
    seqd = _marker_seq_join(df, markers, "left" if keep_unmarked else "inner")
    if tomb is None:
        return seqd.drop("_seq")
    return _tombstone_join(seqd, tomb, "left_anti")


def _dead_rows(df: DataFrame, tomb: DataFrame | None, markers: list) -> DataFrame:
    """Complement of ``_live_rows``: seq-scoped tombstoned rows PLUS
    unmarked crash-append orphans (disjoint sets — a NULL seq never
    satisfies ``_seq < del_seq``)."""
    seqd = _marker_seq_join(df, markers, "left")
    unmarked = seqd.filter(F.col("_seq").isNull()).drop("_seq")
    if tomb is None:
        return unmarked
    return _tombstone_join(seqd, tomb, "left_semi").unionByName(unmarked)


def _retraction_forms(full: DataFrame, ids, who: str):
    """Normalize a delete request (Python list or DataFrame whose FIRST
    column holds the ids) into ``(hit, drop, gone)`` with ONE NULL
    semantics across every delete path (review r10 — the four
    copy-pasted blocks had drifted: the list form's ``~isin`` silently
    erased NULL-id index rows it was never asked to delete, while the
    DataFrame form kept them):

    * a NULL in the REQUEST is rejected loudly — anti-joins and In
      predicates never match NULL, so the request would silently no-op
      (the r5 keyed-merge lesson);
    * a NULL-``_id`` INDEX row is never deleted — it matches no
      requested id under either input form.

    ``hit`` = the full frame filtered to requested rows; ``drop`` maps
    any frame to its survivors; ``gone`` is the distinct-id DataFrame
    (None for the list form — list callers keep the pushed-In shape)."""
    if isinstance(ids, DataFrame):
        key = ids.columns[0]
        gone = ids.select(F.col(key).alias("_id")).distinct()
        if gone.filter(F.col("_id").isNull()).count():
            raise ValueError(
                f"{who}: delete ids contain NULL — an anti-join never "
                "matches NULL, so the request would silently delete "
                "nothing for it; drop the NULL from the request"
            )
        hit = full.join(gone, "_id", "left_semi")
        drop = lambda df: df.join(gone, "_id", "left_anti")  # noqa: E731
        return hit, drop, gone
    ids = list(ids)
    if any(i is None for i in ids):
        raise ValueError(
            f"{who}: delete ids contain None — an In predicate never "
            "matches NULL, so the request would silently delete nothing "
            "for it; drop the None from the request"
        )
    hit = full.filter(F.col("_id").isin(ids))
    drop = lambda df: df.filter(  # noqa: E731
        ~F.col("_id").isin(ids) | F.col("_id").isNull()
    )
    return hit, drop, None


def _append_tombstones(
    spark: SparkSession, ids, gone: DataFrame | None, full: DataFrame,
    markers: list, path: str | None = None, *, table: str | None = None,
) -> int:
    """Append one delete request to the tombstone sidecar and return its
    ``del_seq`` (1 + the last marker seq). ``ids`` is the list form
    (``gone`` None) or ``gone`` is the request's distinct-id frame
    (``_retraction_forms``). The sidecar's ``_id`` is pinned to the
    index's id type (``full``): the first delete's request form must not
    fix a schema a later, differently-typed request fails to append
    under. Duplicate ids are written once. coalesce(1): one
    request-sized file per delete, not one per id."""
    del_seq = 1 + max((int(r.seq) for r in markers), default=-1)
    if gone is not None:
        rows = gone.select(F.col("_id").cast(full.schema["_id"].dataType).alias("_id"))
    else:
        rows = tiny_rows_df(
            spark, [(i,) for i in dict.fromkeys(ids)], full.select("_id").schema
        )
    w = rows.withColumn("del_seq", F.lit(del_seq)).coalesce(1).write.mode("append")
    if table is None:
        w.parquet(f"{path}/{_TOMB_DIR}")
    else:
        w.format("parquet").saveAsTable(f"{table}_tombstones")
    return del_seq


def _tombstone_delete(
    spark: SparkSession,
    ids,
    path: str | None = None,
    *,
    table: str | None = None,
    who: str,
    drop_hint: str | None = None,
    n_total_fn,
    compact_fn,
    compact_threshold: float,
) -> int:
    """Tombstone retraction for all four forms: the band path, band
    table, ANN path and exact table. ONE index scan computes both
    statistics (live rows + requested live rows, marked batches only:
    unmarked orphans must neither count as removed nor trip the EMPTY
    guard); then the EMPTY guard, the tombstone append and the
    threshold'd auto-compaction. ``n_total_fn(markers)`` — the
    physical size of the marked batches — is only invoked when
    auto-compaction is possible (``compact_threshold`` ≤ 1).
    ``drop_hint`` names a table tier's drop function for the EMPTY
    refusal. Returns the number of live rows retracted."""
    if not isinstance(ids, DataFrame):
        ids = list(ids)  # one-shot-iterable lesson (ADVICE r10)
    markers = _marker_rows(spark, path, table=table)
    full = spark.read.parquet(path) if table is None else spark.table(table)
    live = _live_rows(full, _tombstones(spark, path, table=table), markers)
    _, _, gone = _retraction_forms(live, ids, who)
    if gone is not None:
        marked_live = live.join(gone.withColumn("_dead", F.lit(1)), "_id", "left")
    else:
        marked_live = live.withColumn(
            "_dead", F.when(F.col("_id").isin(ids), F.lit(1))
        )
    stats = marked_live.agg(
        F.count(F.lit(1)).alias("n_live"), F.count("_dead").alias("removed")
    ).first()
    n_live, removed = int(stats.n_live), int(stats.removed)
    if removed == 0:
        # nothing LIVE matches — ids unknown, already tombstoned, or
        # stranded in unmarked crash-append rows (compact sweeps those)
        return 0
    if n_live == removed:
        if table is None:
            where, hint = f"index at {path}", "remove the index path"
        else:
            where, hint = f"index table {table}", f"drop it ({drop_hint})"
        raise ValueError(
            f"{who}: deleting these ids would EMPTY the {where} — {hint} "
            "instead"
        )
    _append_tombstones(spark, ids, gone, full, markers, path, table=table)
    if compact_threshold <= 1:
        n_total = n_total_fn(markers)
        dead = n_total - (n_live - removed)
        if n_total and dead / n_total > compact_threshold:
            compact_fn()
    return removed


# --- table swap and recovery -----------------------------------------


def _drop_table_and_location(spark: SparkSession, name: str) -> None:
    """DROP TABLE IF EXISTS *and* delete its default warehouse
    location: a fresh session's catalog has never heard of a table
    written by a crashed earlier session, so the DROP no-ops while the
    directory persists and the next ``saveAsTable`` fails with
    LOCATION_ALREADY_EXISTS (the r8 lesson, shared by the index drops
    and the compact staging prep)."""
    sc = spark.sparkContext
    wh = spark.conf.get("spark.sql.warehouse.dir")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    p = sc._jvm.org.apache.hadoop.fs.Path(f"{wh}/{name.lower()}")
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)


def _drop_tables(spark: SparkSession, targets: list[str]) -> None:
    """Drop a table tier: its swap ``targets`` (data first), their
    staging twins and its sidecars, INCLUDING warehouse locations —
    ``DROP TABLE IF EXISTS`` alone is not idempotent across sessions.
    Twins go first (a twin left beside a dropped target would be renamed
    back in by ``_recover_tables`` under a reused name, resurrecting
    purged rows) and meta goes last (a killed drop still reads as an
    index, never as leftover data a new index silently adopts)."""
    names = [f"{t}{s}" for t in targets for s in _TWINS] + list(targets)
    names += [f"{targets[0]}{s}" for s in ("_tombstones", "_batches", "_meta")]
    for n in names:
        _drop_table_and_location(spark, n)


def _recover_tables(spark: SparkSession, targets: list[str]) -> None:
    """Heal a table compaction killed mid-swap, by table/twin PRESENCE
    over the ordered swap ``targets`` (the state table in the module
    docstring). Run by EVERY table entry point, so no append can
    interleave with a half-applied swap. Single-writer: a reader that
    recovers while another session's compact is mid-swap races that
    compact's own renames."""
    has = lambda name: _table_exists(spark, name)  # noqa: E731

    def finish(first: int) -> None:
        for t in targets[first:]:
            if has(f"{t}_deleting"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
                spark.sql(f"ALTER TABLE {t}_deleting RENAME TO {t}")

    for i, t in enumerate(targets):
        if not has(t) and has(f"{t}_deleting"):
            finish(i)
            return
    if has(f"{targets[0]}_deleting"):
        for t in targets:
            _drop_table_and_location(spark, f"{t}_deleting")
    else:
        finish(1)


def _compact_tables(
    spark: SparkSession,
    table: str,
    targets_fn,
    *,
    buckets: int,
    cols: tuple,
    who: str,
    drop_hint: str,
) -> int:
    """Fold tombstones into a table tier physically: one staged CTAS per
    swap target with the PINNED bucket spec (repartitioned on the bucket
    columns with the bucket count, so co-location survives and each
    bucket is one file), then the swaps in order, then the tombstone
    drop LAST — a kill before it leaves tombstones that re-kill
    already-gone rows (a no-op), so compaction is idempotent.
    ``targets_fn(survivors, markers)`` returns the ordered (table,
    frame) targets, data first; every frame is staged before any swap
    because a derived frame (the band counts) reads the ORIGINAL data.
    Both twins are dropped upfront, location included, so a twin can
    only exist as this attempt's staging or as a swap in progress —
    the two states ``_recover_tables`` tells apart.

    Survivors are the MARKED live rows, so this is also the physical
    sweep of unmarked crash-append orphans: it rewrites whenever the
    survivors differ from the physical table, tombstones pending or
    not. With no marker at all, zero survivors is a crashed first
    append and sweeping to an empty table is its recovery. Returns the
    number of rows compacted away."""
    markers = _marker_rows(spark, table=table)
    tomb = _tombstones(spark, table=table)
    full = spark.table(table)
    survivors = _live_rows(full, tomb, markers)
    before, after = full.count(), survivors.count()
    if after == 0 and markers:
        raise ValueError(
            f"{who}: pending tombstones would EMPTY the index table "
            f"{table} — drop it ({drop_hint}) instead"
        )
    if after < before:
        targets = targets_fn(survivors, markers)
        # pin the bucketed scan: the planner elides the repartition
        # because the scan already provides the bucket partitioning,
        # and autoBucketedScan would then split it into plain file
        # tasks — many files per bucket (sources.layout's measurement)
        auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        old_auto = spark.conf.get(auto_key)
        spark.conf.set(auto_key, "false")
        try:
            for name, _ in targets:
                _drop_table_and_location(spark, f"{name}_deleting")
            for name, df in targets:
                df.repartition(buckets, *[F.col(c) for c in cols]).write.bucketBy(
                    buckets, *cols
                ).format("parquet").saveAsTable(f"{name}_deleting")
            for name, _ in targets:
                spark.sql(f"DROP TABLE IF EXISTS {name}")
                spark.sql(f"ALTER TABLE {name}_deleting RENAME TO {name}")
        finally:
            spark.conf.set(auto_key, old_auto)
    if tomb is not None:
        spark.sql(f"DROP TABLE {table}_tombstones")
    return before - after


# --- directory swap and recovery (path tiers) ------------------------


def _local_path(path: str) -> bool:
    """True for a local-filesystem index path (no scheme, or file:)."""
    from urllib.parse import urlparse

    return urlparse(path).scheme in ("", "file")


def _require_local_path(path: str, who: str) -> None:
    """Index COMPACTIONS stage + swap through os.rename/shutil (local-FS
    semantics); on an hdfs://... or s3a://... index the Spark staging
    write would succeed REMOTELY while the local renames find nothing,
    stranding remote staging garbage (ADVICE r8). Fail fast with the
    real reason instead. Reads, appends, deletes and searches work on
    any Hadoop filesystem."""
    if not _local_path(path):
        raise ValueError(
            f"{who}: compaction is local-filesystem-only (the staging swap "
            f"uses os.rename); got {path} — run the compaction where the "
            "index is locally mounted, or rebuild the index from source"
        )


def _recover_partition_dirs(root: str) -> None:
    """Heal a compaction killed mid-swap (r9): ``_dir_swap`` renames
    live partition dir → ``<dir>.old`` then staged → live; a kill
    between the renames leaves only the .old copy — restore it (the
    compaction is then simply incomplete and re-runnable). A leftover
    .old NEXT TO a live dir means the swap completed but cleanup
    didn't — drop it. One listing of ``root``: every path tier
    partitions one level deep."""
    import glob
    import os
    import shutil

    for old in glob.glob(os.path.join(root, "*=*.old")):
        live = old[: -len(".old")]
        if os.path.exists(live):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(old, live)


def _dir_swap(root: str, part_col: str, values: list, write_staging) -> None:
    """Partition-directory rewrite (r9, VERDICT r8 #7): write the
    survivors of the AFFECTED partitions to a staging dir (hive layout),
    then swap each affected ``<part_col>=<v>`` directory in with paired
    renames — untouched partition directories are never read or written
    (their files stay byte-identical; mtime-pinned in tests). A
    partition whose survivors are empty simply has its live dir removed
    (partition discovery skips missing dirs). Staging lives NEXT TO root
    (``.delstage``), distinct from the whole-dir ``.staging`` machinery
    so plans/merge._recover never mistakes it for a complete table
    copy."""
    import os
    import shutil

    staging = root.rstrip("/") + ".delstage"
    shutil.rmtree(staging, ignore_errors=True)
    write_staging(staging)
    try:
        for v in values:
            live = os.path.join(root, f"{part_col}={v}")
            new = os.path.join(staging, f"{part_col}={v}")
            old = live + ".old"
            shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(live):
                os.rename(live, old)
            if os.path.exists(new):
                os.rename(new, live)
            shutil.rmtree(old, ignore_errors=True)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _fold_partition_dirs(
    df: DataFrame, root: str, part_col: str, tomb: DataFrame | None,
    markers: list, who: str, sort_ids: bool = False,
) -> int:
    """Fold dead rows out of a path tier physically — the ONE
    compaction core of the path tiers (ANN ``cell`` and ``_vbucket``,
    band ``band_idx``): a dead-row histogram per ``part_col`` value
    (``_dead_rows``: tombstoned rows plus unmarked crash-append
    orphans), then ``_dir_swap`` of exactly the dirs that hold dead
    rows, each rewritten as one file (id-sorted with ``sort_ids``).
    Refuses a fold that would EMPTY the tier before anything is
    written. Returns the number of rows folded out (0: nothing
    written)."""
    hist = (
        _dead_rows(df, tomb, markers)
        .groupBy(part_col)
        .agg(F.count("*").alias("_n"))
        .collect()
    )
    n_dead = sum(r._n for r in hist)
    if n_dead == 0:
        return 0
    if df.count() <= n_dead:
        raise ValueError(
            f"{who}: folding the pending dead rows would EMPTY the index "
            f"at {root} — remove the path instead (live index untouched)"
        )
    values = sorted(r[part_col] for r in hist)
    keep = _live_rows(df.filter(F.col(part_col).isin(values)), tomb, markers)
    keep = keep.repartition(F.col(part_col))
    if sort_ids:
        keep = keep.sortWithinPartitions(part_col, "_id")
    _dir_swap(
        root, part_col, values,
        lambda staging: keep.write.partitionBy(part_col).parquet(staging),
    )
    return n_dead


def _fs_nonempty(spark: SparkSession, path: str) -> bool:
    """True if ``path`` exists and holds anything — Hadoop FS API, so it
    works on whatever filesystem the index targets."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs.exists(hpath) and len(fs.listStatus(hpath)) > 0
