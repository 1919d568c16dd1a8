#!/usr/bin/env python
"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is a full-plan action via the noop sink (no driver-side collect
bottleneck — rows are produced and discarded executor-side), matching how
a cluster job would drain results to a sink.

Timing is STEADY-STATE and NOISE-ROBUST: every headline query runs once
untimed (warm pass), then each is timed over REPEATS fresh
build+execute passes and the per-query MEDIAN is reported. The warm pass
absorbs one-time session machinery — JVM/JIT warmup of shuffle/sort
internals, Janino codegen compilation, streaming engine + state-store
init (measured ~3 s on the first streaming query, ~4 s on the first LSH
plan) — fixed overhead amortized over a cluster job's lifetime, not
data-path cost. The median-of-3 guards against contended-host spikes
(round-3 artifact showed a 10x single-pass swing on an unchanged tree);
"spread" in the JSON reports sum-of-mins vs sum-of-maxes so the artifact
self-documents its own noise floor.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family, weighted toward the plans whose
# shape matters at scale (fact-fact join, window shuffle, LSH dedup,
# similarity search, streaming parity, full ETL pipeline).
HEADLINE = [
    "a1_pricing_summary",
    "a3_count_distinct",
    "a5_cube",
    "j1_inner_join",
    "j2_broadcast_join",
    "j7_asof_join",
    "w1_ranking",
    "w4_running_sum",
    "o3_topk_per_group",
    "l1_exact_dedup",
    "l2_minhash_near_dup",
    "l3_cosine_topk",
    "l4_word_topk",
    # r6 (VERDICT r5 #1): bench the SHIP shapes — append mode + tight
    # watermark (t2b/t4b), not the complete-mode batch-parity forms.
    "t2b_tumbling_append",
    "t4b_session_append",
    "etl_reference_pipeline",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    # r5 additions (VERDICT r4 #6): one query from each previously
    # unmeasured heavy family — iterative graph, curation capstone,
    # binary decode — so regressions there are visible round-over-round.
    "g1_graph_components",
    "l11_curation_pipeline",
    "l5_multimodal_wav",
    # r5 sketch/quality families — regressions in the bloom bitmap path
    # and the one-scan expectations suite stay visible round-over-round.
    "l2_bloom_dedup",
    "d7_data_quality",
    # r6 additions: retrieval tier (BM25 + bigram-LM scoring), CDC
    # replay, and the second iterative graph op.
    "l3_bm25_topk",
    "l4_bigram_perplexity",
    "d9_cdc_apply",
    "g2_pagerank",
    # r8 (VERDICT r7 #3/#4): bench the OPERATOR paths, not the proofs.
    # r7's l2_incremental_dedup / l3_ivf_pq_search entries spent 53% of
    # the headline on contract overhead (fresh index builds, from-scratch
    # recompute, losslessness anti-joins, per-call KMeans retraining,
    # engine-exact baselines) — self-verification a user never runs, and
    # noise that hides regressions in the other 28 queries. The full
    # contract queries stay in the correctness sweep; here we time what
    # a user runs: dedup ONE pre-indexed batch / search a pre-built
    # persisted index (setup outside the timer, see OPERATOR_OPS).
    "l2_index_dedup_batch",
    "l3_ann_index_search",
    # r11 (VERDICT r10 #6): time the retraction path too — localized
    # deletes from both persisted indexes, fresh id chunk per pass.
    "l2l3_index_delete",
    # r12 (VERDICT r11 #5): the third delete shape — the bucketed-tier
    # tombstone append (minhash_table_delete), compaction outside the
    # timer, so the r11 flagship's cost is regression-tracked too.
    "l2_table_delete",
    # r13: the exact tier's per-batch verdict (third dedup tier gets
    # the same operator-path regression tracking as L2/L3).
    "l1_sha_dedup_batch",
    # r14 (VERDICT r13 #1): index-backed multi-vector retrieval — the
    # grouped serving shape (chunk search → doc pool → top-k docs).
    "l3_grouped_ann_search",
    # r15 (VERDICT r14 #5): the FILTERED serving path — allowed-set
    # search with probe re-targeting default-on (one distinct-cells job
    # + the allowed semi-join), previously untracked round-over-round.
    "l3_filtered_ann_search",
    # r15: the stored-payload PREDICATE serving path (where= pushed
    # scan filter on a payload-backed index) — the round's headline
    # filtering form, tracked separately from the id-set path above.
    "l3_payload_ann_search",
]

REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def _op_index_dedup_batch(spark, sf_dir: str):
    """Operator path: near-dup pairs for ONE already-appended crawl
    batch vs the persisted band index (functions/dedup_index.py) —
    the per-snapshot query a 100 TB ingest pipeline pays repeatedly.
    Setup (untimed): index the corpus as `base`, append a planted-copy
    batch `b1` (every 25th doc verbatim under id+100000, the
    l2_incremental_dedup shape)."""
    import tempfile

    from pyspark.sql import functions as F

    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        minhash_index_append,
        minhash_index_pairs_vs_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="bench_mh_idx_")
    _BENCH_TMP.append(path)
    minhash_index_append(docs, "doc_id", "text", path, batch_id="base")
    new = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    minhash_index_append(new, "doc_id", "text", path, batch_id="b1")
    return lambda: minhash_index_pairs_vs_batch(spark, path, "b1")


def _op_ann_index_search(spark, sf_dir: str):
    """Operator path: top-k search against a pre-built persisted IVF-PQ
    index (functions/ann_index.py) — models pinned at build, so the
    timed path is LUT projection + cell equi-join + shortlist re-rank,
    zero training. Setup (untimed): one ann_index_build over the
    embeddings corpus."""
    import tempfile

    from pyspark.sql import functions as F

    from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
        ann_index_build,
        ann_index_search,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = tempfile.mkdtemp(prefix="bench_ann_idx_")
    _BENCH_TMP.append(path)
    ann_index_build(
        e, "vec_id", "embedding", path, dim=64, n_cells=16, n_subspaces=8,
        n_centroids=32,
    )
    q = e.filter(F.col("vec_id") < 100)
    return lambda: ann_index_search(q, path, k=5, n_probe=8, shortlist=200)


def _op_index_delete(spark, sf_dir: str):
    """Operator path (r11, VERDICT r10 #6): retraction from both
    persisted indexes — minhash_index_delete and ann_index_delete, each
    a request-sized TOMBSTONE append (no dir rewrite), of a fresh 25-id
    chunk per pass, so delete-cost regressions are caught the way query
    regressions are.
    Setup (untimed): build both indexes once; reserve disjoint id
    chunks so every warm/timed pass deletes ids that are still live (a
    re-delete would no-op and time nothing). Both deletes stay below
    the auto-compact threshold at this corpus/pass count — the timed
    path is the pure sidecar append."""
    import tempfile

    from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
        ann_index_build,
        ann_index_delete,
    )
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        minhash_index_append,
        minhash_index_delete,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    mh_path = tempfile.mkdtemp(prefix="bench_mh_del_")
    _BENCH_TMP.append(mh_path)
    minhash_index_append(docs, "doc_id", "text", mh_path, batch_id="base")
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    ann_path = tempfile.mkdtemp(prefix="bench_ann_del_")
    _BENCH_TMP.append(ann_path)
    ann_index_build(
        e, "vec_id", "embedding", ann_path, dim=64, n_cells=16, n_subspaces=8,
        n_centroids=32,
    )
    doc_ids = [r.doc_id for r in
               docs.select("doc_id").orderBy("doc_id").limit(500).collect()]
    vec_ids = [r.vec_id for r in
               e.select("vec_id").orderBy("vec_id").limit(500).collect()]
    state = {"i": 0}

    def run():
        i = state["i"]
        state["i"] += 1
        dchunk = doc_ids[i * 25:(i + 1) * 25]
        vchunk = vec_ids[i * 25:(i + 1) * 25]
        if len(dchunk) < 25 or len(vchunk) < 25:
            # never silently time a no-op delete (review r11): an
            # exhausted reservation would record near-zero samples and
            # MASK a delete-cost regression instead of catching it
            raise RuntimeError(
                "l2l3_index_delete: reserved id chunks exhausted after "
                f"{i} passes — lower SPARK_GRAFT_BENCH_REPEATS or raise "
                "the 500-id reservation in _op_index_delete"
            )
        from etl_apache_kafka_python_doker_aws_spark.util import tiny_rows_df

        nd = minhash_index_delete(spark, mh_path, dchunk)
        nv = ann_index_delete(spark, ann_path, vchunk)
        return tiny_rows_df(
            spark, [(nd, nv)], "mh_removed long, ann_removed long"
        )

    return run


def _op_table_delete(spark, sf_dir: str):
    """Operator path (r12, VERDICT r11 #5): the bucketed-tier tombstone
    retraction — minhash_table_delete of a fresh 25-id chunk per pass
    (compact_threshold > 1 pins the timed path to the request-sized
    sidecar append + the metadata accounting; the CTAS fold-in is a
    maintenance op, run once OUTSIDE the timers at cleanup). Setup
    (untimed): one bucketed-table append of the corpus."""
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        minhash_table_append,
        minhash_table_delete,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    app = "".join(
        c if c.isalnum() else "_" for c in spark.sparkContext.applicationId
    ).lower()
    tbl = f"bench_mh_table_del_{app}"
    _BENCH_TABLES.append(tbl)
    minhash_table_append(docs, "doc_id", "text", tbl, batch_id="base", buckets=8)
    doc_ids = [r.doc_id for r in
               docs.select("doc_id").orderBy("doc_id").limit(500).collect()]
    state = {"i": 0}

    def run():
        i = state["i"]
        state["i"] += 1
        chunk = doc_ids[i * 25:(i + 1) * 25]
        if len(chunk) < 25:
            raise RuntimeError(
                "l2_table_delete: reserved id chunks exhausted after "
                f"{i} passes — lower SPARK_GRAFT_BENCH_REPEATS or raise "
                "the 500-id reservation in _op_table_delete"
            )
        from etl_apache_kafka_python_doker_aws_spark.util import tiny_rows_df

        n = minhash_table_delete(spark, tbl, chunk, compact_threshold=2.0)
        return tiny_rows_df(spark, [(n,)], "tbl_removed long")

    return run


def _op_sha_dedup_batch(spark, sf_dir: str):
    """Operator path (r13): the EXACT tier's per-snapshot verdict —
    sha_table_dedup_batch of one pre-appended planted-copy batch vs the
    persisted sha256 content-hash table (functions/exact_index.py), the
    L1 analog of l2_index_dedup_batch. Both the batch join and the
    keeper agg sit on the content_hash bucket key (zero corpus
    shuffle). Setup (untimed): append corpus as b0, planted copies
    (every 25th doc verbatim under id+100000) as b1."""
    from pyspark.sql import functions as F

    from etl_apache_kafka_python_doker_aws_spark.functions.exact_index import (
        sha_table_append,
        sha_table_dedup_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    app = "".join(
        c if c.isalnum() else "_" for c in spark.sparkContext.applicationId
    ).lower()
    tbl = f"bench_sha_dedup_{app}"
    _BENCH_SHA_TABLES.append(tbl)
    sha_table_append(docs, "doc_id", "text", tbl, batch_id="b0", buckets=32)
    b1 = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    sha_table_append(b1, "doc_id", "text", tbl, batch_id="b1", buckets=32)
    return lambda: sha_table_dedup_batch(spark, tbl, "b1")


def _op_grouped_ann_search(spark, sf_dir: str):
    """Operator path (r14, VERDICT r13 #1): index-backed MULTI-VECTOR
    retrieval — ann_grouped_topk over a pre-built chunk index (doc =
    vec_id % 100, the l3_grouped_ann shape without its contract
    overhead). Timed path: chunk search (LUT projection + cell
    equi-join + shortlist re-rank) + size-gated-hinted doc_map join +
    min-pool + top-k documents. Setup (untimed): one ann_index_build
    over the embeddings corpus."""
    import tempfile

    from pyspark.sql import functions as F

    from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
        ann_index_build,
    )
    from etl_apache_kafka_python_doker_aws_spark.functions.similarity import (
        ann_grouped_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = tempfile.mkdtemp(prefix="bench_ann_grouped_")
    _BENCH_TMP.append(path)
    ann_index_build(
        e, "vec_id", "embedding", path, dim=64, n_cells=16, n_subspaces=8,
        n_centroids=32,
    )
    doc_map = e.select(
        F.col("vec_id").alias("chunk_id"),
        F.pmod(F.col("vec_id"), F.lit(100)).alias("doc_id"),
    )
    q = e.filter(F.col("vec_id") < 100)
    return lambda: ann_grouped_topk(
        q, path, doc_map, k=5, chunk_k=20, n_probe=8, shortlist=200
    )


def _op_filtered_ann_search(spark, sf_dir: str):
    """Operator path (r15, VERDICT r14 #5): ATTRIBUTE-FILTERED top-k
    search against the pre-built index — the allowed-set pre-filter
    semi-join + probe RE-TARGETING (default-on since r14: one
    distinct-cells job over the filtered slim frame) that the unfiltered
    l3_ann_index_search entry never exercises. Selective filter (every
    20th vector allowed — the serving ACL shape; broadcasts under AQE).
    Setup (untimed): one ann_index_build + the allowed frame."""
    import tempfile

    from pyspark.sql import functions as F

    from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
        ann_index_build,
        ann_index_search,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = tempfile.mkdtemp(prefix="bench_ann_filt_")
    _BENCH_TMP.append(path)
    ann_index_build(
        e, "vec_id", "embedding", path, dim=64, n_cells=16, n_subspaces=8,
        n_centroids=32,
    )
    allowed = e.filter(F.col("vec_id") % 20 == 0).select("vec_id")
    q = e.filter(F.col("vec_id") < 100)
    return lambda: ann_index_search(
        q, path, k=5, n_probe=8, shortlist=200, allowed=allowed
    )


def _op_payload_ann_search(spark, sf_dir: str):
    """Operator path (r15): stored-payload PREDICATE top-k search — the
    where= pushed scan filter on a payload-backed index (zero caller
    frames/joins at any selectivity; the broad-filter serving form).
    Setup (untimed): one ann_index_build with payload_cols. Broad
    predicate (half the corpus by id parity — the shape where the
    id-set API would need a corpus-sized allowed frame)."""
    import tempfile

    from pyspark.sql import functions as F

    from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
        ann_index_build,
        ann_index_search,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        "embedding",
        F.when(F.pmod("vec_id", F.lit(2)) == 0, F.lit("en"))
        .otherwise(F.lit("de")).alias("lang"),
    )
    path = tempfile.mkdtemp(prefix="bench_ann_pay_")
    _BENCH_TMP.append(path)
    ann_index_build(
        e, "vec_id", "embedding", path, dim=64, n_cells=16, n_subspaces=8,
        n_centroids=32, payload_cols=["lang"],
    )
    q = e.filter(F.col("vec_id") < 100).select("vec_id", "embedding")
    return lambda: ann_index_search(
        q, path, k=5, n_probe=8, shortlist=200, where="lang = 'en'"
    )


# name -> setup(spark, sf_dir) -> zero-arg thunk returning the DataFrame
# to drain. Setup runs ONCE, before the warm pass, outside every timer.
OPERATOR_OPS = {
    "l2_index_dedup_batch": _op_index_dedup_batch,
    "l3_ann_index_search": _op_ann_index_search,
    "l2l3_index_delete": _op_index_delete,
    "l2_table_delete": _op_table_delete,
    "l1_sha_dedup_batch": _op_sha_dedup_batch,
    "l3_grouped_ann_search": _op_grouped_ann_search,
    "l3_filtered_ann_search": _op_filtered_ann_search,
    "l3_payload_ann_search": _op_payload_ann_search,
}

# persisted-index fixtures built by the setups — removed after the run
# (hundreds of MB per bench invocation otherwise accumulate in /tmp);
# catalog tables get one compaction pass (outside all timers — the
# maintenance op the tombstone path defers) and are then dropped
_BENCH_TMP: list[str] = []
_BENCH_TABLES: list[str] = []
_BENCH_SHA_TABLES: list[str] = []


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from etl_apache_kafka_python_doker_aws_spark import get_spark
    from etl_apache_kafka_python_doker_aws_spark.workloads import QUERIES

    spark = get_spark(app_name="etl_apache_kafka_python_doker_aws_spark-bench")

    spark.range(1000).selectExpr("sum(id)").collect()

    # try/finally (ADVICE r8): the hundreds-of-MB persisted index
    # fixtures must be removed even when a warm/timed pass throws —
    # a success-only cleanup is exactly the /tmp accumulation the
    # cleanup exists to prevent
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    try:
        # Operator-path entries build their fixture (persisted index)
        # ONCE here, outside every timer (VERDICT r7 #3/#4).
        thunks = {}
        for name in HEADLINE:
            if name in OPERATOR_OPS:
                thunks[name] = OPERATOR_OPS[name](spark, sf_dir)
            else:
                thunks[name] = lambda n=name: QUERIES[n](spark, sf_dir)

        # Untimed warm pass (see module docstring): absorbs one-time
        # session machinery so the timed passes measure steady-state
        # throughput.
        for name in HEADLINE:
            thunks[name]().write.mode("overwrite").format("noop").save()

        # round-robin the repeats (pass 1 of every query, then pass 2,
        # ...) so a transient host spike dents one sample of many
        # queries instead of all samples of one query
        for _ in range(REPEATS):
            for name in HEADLINE:
                t0 = time.perf_counter()
                df = thunks[name]()
                df.write.mode("overwrite").format("noop").save()
                samples[name].append(time.perf_counter() - t0)
    finally:
        import shutil

        for p in _BENCH_TMP:
            shutil.rmtree(p, ignore_errors=True)
        from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
            drop_minhash_table,
            minhash_table_compact,
        )

        for t in _BENCH_TABLES:
            try:
                # one fold-in OUTSIDE the timers — exercises the
                # maintenance path the tombstone deletes deferred
                minhash_table_compact(spark, t)
            except Exception:
                pass
            finally:
                drop_minhash_table(spark, t)
        from etl_apache_kafka_python_doker_aws_spark.functions.exact_index import (
            drop_sha_table,
            sha_table_compact,
        )

        for t in _BENCH_SHA_TABLES:
            try:
                sha_table_compact(spark, t)
            except Exception:
                pass
            finally:
                drop_sha_table(spark, t)

    timings = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "repeats": REPEATS,
                "spread": {
                    "sum_min_sec": round(sum(min(s) for s in samples.values()), 3),
                    "sum_max_sec": round(sum(max(s) for s in samples.values()), 3),
                },
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
