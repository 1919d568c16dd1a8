"""Storage layout for scale — SURVEY.md §4.2 rows that live at write time:
partitioned parquet (static + dynamic partition pruning) and bucketed
tables (co-located joins with no exchange).

At 100 TB these two decisions dominate query cost: a date-partitioned
fact table turns time-range scans into partition pruning, and bucketing
the fact tables on their join key removes the per-query shuffle entirely
(the shuffle is paid once, at write).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_apache_kafka_python_doker_aws_spark.util import spark_hidden, tiny_rows_df


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = 5_000_000,
) -> None:
    """Write parquet partitioned by the given columns (hive-style dirs).
    Readers filtering on partition_cols get partition pruning — verify
    with .explain: 'PartitionFilters'.

    max_records_per_file caps file size inside each partition (file-size
    hygiene at 100 TB: too-large files serialize row groups, too many
    small files melt the listing); None disables the cap."""
    writer = df.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Save as a bucketed (and optionally sorted) table in the session
    catalog. Two tables bucketed on the same key with the same bucket
    count join WITHOUT a shuffle (SortMergeJoin over pre-bucketed data, no
    Exchange) — the write-once-shuffle-never pattern."""
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def zorder_key(cols: list[str], bits: int = 16):
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    integer column so that sorting by the key clusters rows that are
    close in EVERY dimension, not just the leading sort column.

    Why it matters at 100 TB: parquet row-group/file min-max stats prune
    scans only when values are clustered. A linear sort makes stats tight
    for the first column and useless for the rest; a Z-order sort makes
    them moderately tight for all interleaved columns, so selective
    filters on ANY of them skip most files (same trick as
    Delta/Databricks OPTIMIZE ZORDER BY, built from public bit-twiddling).

    Columns must be non-negative integers that fit in ``bits`` bits —
    bucketize/rank anything else first. ``len(cols) * bits`` must stay
    ≤ 63: bit 63 is the long sign bit (a key using it sorts negatives
    FIRST and breaks the clustering), and shifts ≥ 64 wrap (shift & 63
    in the JVM) silently interleaving different dimensions onto the
    same bits. The expression is a static unroll
    of shift/mask/or terms, fully JVM-side and codegen-friendly.
    """
    from pyspark.sql import functions as F

    k = len(cols)
    if k * bits > 63:
        raise ValueError(
            f"zorder_key: {k} cols x {bits} bits = {k * bits} exceeds the 63 "
            f"usable bits of a long; lower bits to {63 // k} or fewer"
        )
    key = F.lit(0).cast("long")
    lo, hi = F.lit(0).cast("long"), F.lit((1 << bits) - 1).cast("long")
    for c_idx, name in enumerate(cols):
        # clamp to [0, 2^bits): out-of-range values would otherwise alias
        # distant rows onto nearby keys (high bits silently dropped) and
        # negatives would scatter; saturating keeps the key monotone so
        # min-max pruning still works at the range edges. NULLs must be
        # re-propagated explicitly — least/greatest SKIP null arguments,
        # which would silently clamp a missing value to the maximum key
        # and interleave missing-data rows with the hottest value range;
        # a NULL bit nulls the whole key, so such rows keep sorting into
        # their own range partition as before.
        raw = F.col(name).cast("long")
        col = F.when(raw.isNull(), F.lit(None).cast("long")).otherwise(
            F.greatest(lo, F.least(raw, hi))
        )
        for i in range(bits):
            bit = F.shiftright(col, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * k + c_idx))
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered by Z-order over ``zorder_cols``:
    range-partition on the Morton key (balanced files regardless of data
    distribution — range, not hash, so key-adjacent rows land together),
    then sort within each file so row-group stats are tight too."""
    if "_zkey" in df.columns:
        raise ValueError(
            "write_zordered: input already carries a '_zkey' column — the "
            "internal sort key would silently clobber and drop it; rename "
            "the column first"
        )
    keyed = df.withColumn("_zkey", zorder_key(zorder_cols, bits))
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact a parquet directory's small files into ~target-sized ones
    (the 100 TB hygiene job: streaming sinks and fine-grained partitions
    produce thousands of KB-sized files, and file listing + per-file
    open cost then dominates scan time). Sizes the output file count
    from the actual on-disk bytes, rewrites via staging + atomic swap
    (plans/merge.py machinery — crash mid-compact leaves the original
    readable), and returns the new file count."""
    import math

    from etl_apache_kafka_python_doker_aws_spark.plans.merge import _recover, _swap_in

    _recover(path)  # heal a previous compact/merge killed mid-swap first
    # ONE walk feeds both the flat total and the per-directory sizes the
    # partitioned branch needs (review r6: the tree with thousands of
    # small files — the whole reason this function exists — was walked
    # twice).
    dir_bytes: dict[str, int] = {}
    total = 0
    for root, dirnames, files in os.walk(path):
        # prune hidden dirs IN PLACE by Spark's listing rule: the walk
        # must not descend into sidecars like the ANN index's
        # _graft_vectors (its _vbucket= dirs would masquerade as
        # partition values and mis-size the splits), yet must keep
        # underscore-named partition dirs like the ANN refine tier's
        # `_vbucket=` (VERDICT r12 #1: dropping those walked ZERO bytes
        # while partition discovery below still found the columns →
        # empty splits).
        dirnames[:] = [d for d in dirnames if not spark_hidden(d)]
        b = sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet") and not spark_hidden(f)
        )
        if b:
            dir_bytes[root] = b
            total += b
    if total == 0:
        # No listable parquet bytes (empty dir, or sidecar-only tree):
        # nothing to compact. Return 0 instead of letting the rewrite
        # crash on an empty splits map (VERDICT r12 #2).
        return 0
    n_files = max(1, math.ceil(total / target_file_bytes))
    staging = path.rstrip("/") + ".staging"
    # Preserve a hive-partitioned layout: partition discovery folds the
    # dir-encoded columns into the frame, and a flat rewrite would
    # destroy the layout (readers lose PartitionFilters pruning). The
    # `name=value` first-level dirs name the partition columns in order;
    # rewrite partitionBy them.
    part_cols: list[str] = []
    probe = path
    while True:
        # same listing rule as the byte walk above (review r13): a
        # dot-prefixed `name=value` dir is invisible to Spark and must
        # not be discovered as a partition column either
        subdirs = [
            d
            for d in os.listdir(probe)
            if os.path.isdir(os.path.join(probe, d))
            and "=" in d
            and not spark_hidden(d)
        ]
        if not subdirs:
            break
        part_cols.append(subdirs[0].split("=", 1)[0])
        probe = os.path.join(probe, subdirs[0])
    src = spark.read.parquet(path)
    if part_cols:
        # Size each hive partition INDIVIDUALLY (ADVICE r5, medium):
        # repartition(n, *part_cols) hashes only the partition columns,
        # sending each hive partition's rows to exactly ONE task — a
        # 10 GB partition became one 10 GB file written by a single
        # straggler. Instead, walk per-partition byte totals, give each
        # partition ceil(bytes / target) output slots, and add an
        # intra-partition split key so big partitions are written by
        # several tasks in parallel. Sizes are approximate: two splits
        # of the same partition that hash-collide into one task merge
        # into one ~2x-target file (each task still writes one file per
        # partitionBy value it holds).
        from urllib.parse import unquote

        per_part: dict[tuple[str, ...], int] = {}
        for root, pbytes in dir_bytes.items():
            rel = os.path.relpath(root, path)
            vals = tuple(
                unquote(seg.split("=", 1)[1])
                for seg in rel.split(os.sep)
                if "=" in seg
            )
            if len(vals) == len(part_cols):
                per_part[vals] = per_part.get(vals, 0) + pbytes
        splits = {
            vals: max(1, math.ceil(b / target_file_bytes))
            for vals, b in per_part.items()
        }
        n_files = max(1, sum(splits.values()))
        pv_cols = [f"_pv_{i}" for i in range(len(part_cols))]
        nmap = tiny_rows_df(
            spark,
            [(*vals, n) for vals, n in splits.items()],
            pv_cols + ["_n_split"],
        )
        # Join on the dir-rendered string form of each partition value
        # (NULL renders as the hive default-partition sentinel); a
        # render mismatch degrades to the old one-file-per-partition
        # behavior via the coalesce(…, 1), never to data loss.
        cond = None
        for c, pv in zip(part_cols, pv_cols):
            eq = F.coalesce(
                F.col(c).cast("string"), F.lit("__HIVE_DEFAULT_PARTITION__")
            ) == F.col(pv)
            cond = eq if cond is None else (cond & eq)
        data_cols = [c for c in src.columns if c not in part_cols]
        # spark_partition_id rides as a hash INPUT (not added after —
        # bigint + would overflow under ANSI) so constant-content rows
        # still spread across splits.
        split_key = F.pmod(
            F.xxhash64(*[F.col(c) for c in data_cols], F.spark_partition_id()),
            F.coalesce(F.col("_n_split"), F.lit(1)).cast("bigint"),
        )
        (
            src.join(F.broadcast(nmap), cond, "left")
            .withColumn("_split", split_key)
            .repartition(n_files, *part_cols, "_split")
            .drop("_split", "_n_split", *pv_cols)
            .write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(staging)
        )
    else:
        src.repartition(n_files).write.mode("overwrite").parquet(staging)
    # Carry SIDECAR entries through the swap (round 7): Spark's parquet
    # listing ignores hidden paths (``spark_hidden``), so the staging rewrite
    # doesn't contain them — but the swap replaces the WHOLE directory,
    # which would silently destroy index metadata living beside the data
    # (the dedup/ANN indexes keep `_graft_meta`/`_graft_batches`/
    # `_graft_vectors` there; same class as a `_spark_metadata` dir).
    # COPY (not move) so a crash mid-copy leaves the live dir whole for
    # _recover. `_SUCCESS` is skipped — staging has its own.
    for entry in os.listdir(path):
        if not spark_hidden(entry):
            continue
        if entry == "_SUCCESS" or entry.endswith((".staging", ".old")):
            continue
        src_e = os.path.join(path, entry)
        dst_e = os.path.join(staging, entry)
        if os.path.exists(dst_e):
            continue
        if os.path.isdir(src_e):
            shutil.copytree(src_e, dst_e)
        else:
            shutil.copy2(src_e, dst_e)
    _swap_in(staging, path)
    return n_files


def compact_bucketed_table(spark: SparkSession, table: str) -> int:
    """Compact a BUCKETED table to ~one file per bucket — the hygiene
    job compact_small_files cannot do (VERDICT r8 #8): bucket
    membership is encoded in file NAMES, so rewriting files outside a
    ``bucketBy`` write silently breaks join co-location (the trap was
    documented on minhash_table_dedup_batch; an API beats a warning).

    Reads the bucket spec from the catalog, rewrites through a CTAS
    staging table with the SAME spec, verifies the row count, then
    swaps via DROP + RENAME. ``repartition(n, *bucket_cols)`` uses the
    same Murmur3 hash as bucket assignment, so each task holds exactly
    one bucket's rows → one file per bucket (appends create one
    file-set per batch; k appends ⇒ k files per bucket before, 1
    after). The swap window (DROP→RENAME) is catalog-atomic per
    statement but not across the pair — run it in a maintenance window,
    like any Hive-metastore compaction. Returns the bucket count.

    Zero-Exchange joins still plan after compaction — pinned in
    tests/test_dedup_index.py::test_compact_bucketed_table."""
    if "." in table:
        # the staging twin's warehouse-location cleanup assumes a
        # default-database bare name (review r12 — the same rule
        # drop_minhash_table enforces: a naive '{warehouse}/{name}'
        # concat would delete the wrong, or no, directory for db.tbl)
        raise ValueError(
            f"compact_bucketed_table: qualified name {table!r} is not "
            "supported — the staging-twin location cleanup only handles "
            "default-database tables"
        )
    # heal a compact killed between its DROP and RENAME (review r12 —
    # without this arm the only copy sits stranded in <t>_compacting and
    # every retry throws TABLE_OR_VIEW_NOT_FOUND before reaching a heal)
    if not spark.catalog.tableExists(table) and spark.catalog.tableExists(
        f"{table}_compacting"
    ):
        spark.sql(f"ALTER TABLE {table}_compacting RENAME TO {table}")
    desc = {
        r.col_name.strip(): (r.data_type or "").strip()
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
        if r.col_name
    }
    if "Num Buckets" not in desc or not desc.get("Bucket Columns"):
        raise ValueError(
            f"compact_bucketed_table: {table} is not a bucketed table — "
            "use compact_small_files for path-backed parquet"
        )
    n_buckets = int(desc["Num Buckets"])
    bucket_cols = [
        c.strip().strip("`")
        for c in desc["Bucket Columns"].strip("[]").split(",")
    ]
    # carry the sort spec too (review r12: rewriting a sorted bucketed
    # table without it silently drops per-bucket sorting from the
    # catalog spec — downstream plans re-plan a Sort forever after)
    sort_cols = [
        c.strip().strip("`")
        for c in desc.get("Sort Columns", "").strip("[]").split(",")
        if c.strip().strip("`")
    ]
    tmp = f"{table}_compacting"
    # drop the staging twin's warehouse LOCATION too (ADVICE r11 #3): a
    # CTAS killed mid-write leaves files with no catalog entry — a bare
    # DROP no-ops and the retry bricks on LOCATION_ALREADY_EXISTS (the
    # r8 lesson, same helper the _deleting twins use)
    from etl_apache_kafka_python_doker_aws_spark.functions.index_store import (
        _drop_table_and_location,
    )

    _drop_table_and_location(spark, tmp)
    before = spark.table(table).count()
    # force the BUCKETED scan for the rewrite: the planner elides the
    # repartition because the bucketed scan already provides
    # hashpartitioning(bucket_cols, n) — but autoBucketedScan then
    # converts the scan to a plain file-split scan (measured: 30 task
    # files instead of one per bucket, i.e. no compaction at all);
    # pinning the bucketed scan keeps task == bucket, one file each
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old_auto = spark.conf.get(auto_key)
    spark.conf.set(auto_key, "false")
    try:
        w = (
            spark.table(table)
            .repartition(n_buckets, *[F.col(c) for c in bucket_cols])
            .write.bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.format("parquet").saveAsTable(tmp)
    finally:
        spark.conf.set(auto_key, old_auto)
    after = spark.table(tmp).count()
    if after != before:
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        raise RuntimeError(
            f"compact_bucketed_table: staging row count {after} != "
            f"{before} for {table} — original left untouched"
        )
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    return n_buckets
