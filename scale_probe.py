#!/usr/bin/env python
"""Round-over-round scale probe for the ITERATIVE tier (VERDICT r5 #5):
the three superlinear-risk plans — MinHash-LSH pair generation
(l2_minhash_near_dup), label-propagation connected components
(g1_graph_components) and the full curation capstone
(l11_curation_pipeline) — run once per round against a synthetic
sf1-class corpus (default 1M documents, ~200× the sf0.1 documents
fixture), recording wall time AND rounds-to-convergence
(``dedup_clusters.last_rounds``) in SCALING.md. Any superlinear jump
becomes a visible regression instead of a surprise at 100 TB.

Corpus: deterministic, id-derived (no RNG to coordinate): 60 tokens per
doc from a 30k-word vocabulary via xxhash64(content_id, position); every
50-doc family opens with 10 NEAR-copies (same content_id, plus one
distinct tail token each), so 20% of the corpus is near-duplicate mass
in 10-cliques that survives the exact-dedup stage and must be collapsed
by MinHash+CC — dense enough to stress candidate generation and label
propagation, structured enough that clique convergence is provably fast
(diameter 1). All other tables are symlinked from the base sf dir.

Usage:  python scale_probe.py            # 1M docs, prints one JSON line
        SPARK_GRAFT_PROBE_DOCS=200000 python scale_probe.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PROBE_QUERIES = ["l2_minhash_near_dup", "g1_graph_components", "l11_curation_pipeline"]
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "embeddings",
]


def build_probe_dir(spark, base_sf: str, probe_dir: str, n_docs: int) -> None:
    from pyspark.sql import functions as F

    os.makedirs(probe_dir, exist_ok=True)
    for t in TABLES:
        src = os.path.join(base_sf, f"{t}.parquet")
        dst = os.path.join(probe_dir, f"{t}.parquet")
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)
    docs_path = os.path.join(probe_dir, "documents.parquet")
    marker = os.path.join(probe_dir, f".docs_{n_docs}")
    if os.path.exists(marker) and os.path.exists(docs_path):
        return
    shutil.rmtree(docs_path, ignore_errors=True)
    content = (
        F.when((F.col("id") % 50) < 10, F.col("id") - F.col("id") % 50)
        .otherwise(F.col("id"))
    )
    # every 10th token is a real stopword so the Gopher-style quality
    # gate (stopword ratio >= 0.01) keeps the corpus
    stopwords = F.array(*[F.lit(w) for w in ("the", "and", "of", "to", "a")])
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(59)),
        lambda i: F.when(
            i % 10 == 0,
            F.element_at(
                stopwords,
                (F.pmod(F.xxhash64(F.col("_content"), i), F.lit(5)) + 1).cast("int"),
            ),
        ).otherwise(
            F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(F.col("_content"), i), F.lit(30000)).cast("string"),
            )
        ),
    )
    (
        spark.range(n_docs)
        .repartition(64)
        .withColumn("_content", content)
        .select(
            F.col("id").alias("doc_id"),
            # near-copy families: a distinct tail token keeps the sha256
            # distinct (survives exact dedup) while ~59/60 shingles are
            # shared (caught by MinHash+CC)
            F.concat(
                F.array_join(toks, " "),
                F.when(
                    ((F.col("id") % 50) < 10) & ((F.col("id") % 50) > 0),
                    F.concat(F.lit(" zz"), (F.col("id") % 50).cast("string")),
                ).otherwise(F.lit("")),
            ).alias("text"),
            F.lit("en").alias("lang"),
            F.concat(F.lit("src"), (F.col("id") % 5).cast("string")).alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
        .write.mode("overwrite")
        .parquet(docs_path)
    )
    for f in os.listdir(probe_dir):
        if f.startswith(".docs_"):
            os.remove(os.path.join(probe_dir, f))
    open(marker, "w").close()


def main() -> None:
    n_docs = int(os.environ.get("SPARK_GRAFT_PROBE_DOCS", "1000000"))
    base_sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    probe_dir = os.environ.get(
        "SPARK_GRAFT_PROBE_DIR", "/tmp/spark_graft_scale_probe"
    )
    from etl_apache_kafka_python_doker_aws_spark import get_spark
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup import dedup_clusters
    from etl_apache_kafka_python_doker_aws_spark.workloads import QUERIES

    spark = get_spark()
    t0 = time.time()
    build_probe_dir(spark, base_sf, probe_dir, n_docs)
    build_sec = round(time.time() - t0, 1)

    timings: dict[str, float] = {}
    cc_rounds: dict[str, int] = {}
    for name in PROBE_QUERIES:
        dedup_clusters.last_rounds = 0  # type: ignore[attr-defined]
        t0 = time.time()
        QUERIES[name](spark, probe_dir).write.mode("overwrite").format("noop").save()
        timings[name] = round(time.time() - t0, 1)
        rounds = getattr(dedup_clusters, "last_rounds", 0)
        if rounds:
            cc_rounds[name] = rounds
    # Graph tier at scale: the registry's g1/g2 graph is bounded by the
    # fixture lineitem, so scale it here by DISJOINT replication (each
    # copy's node ids offset by 10M — component structure and rank
    # distribution replicate exactly, edge volume grows linearly) and
    # time label propagation + PageRank directly.
    graph_copies = int(os.environ.get("SPARK_GRAFT_PROBE_GRAPH_COPIES", "10"))
    from pyspark.sql import functions as F

    from etl_apache_kafka_python_doker_aws_spark.functions.dedup import pagerank
    from etl_apache_kafka_python_doker_aws_spark.workloads.curation import (
        urgent_order_edges,
    )

    ab = urgent_order_edges(spark, base_sf)
    # disjointness guard (review r6): each copy's ids shift by `offset`;
    # a base id >= offset would fuse adjacent copies' components and the
    # probe would silently time a different graph
    offset = 10_000_000
    r = ab.agg(
        F.max("a").alias("ma"),
        (F.max("b") - F.lit(1_000_000_000)).alias("ms"),
    ).first()
    max_cust, max_supp = r.ma or 0, r.ms or 0
    if (
        max(max_cust, max_supp) >= offset
        or max_cust + graph_copies * offset >= 1_000_000_000
    ):
        raise ValueError(
            f"graph probe: base ids (cust {max_cust}, supp {max_supp}) do not "
            f"fit {graph_copies} disjoint copies at offset {offset} — copies "
            "would overlap; raise the offset"
        )
    off = F.col("_c").cast("long") * offset
    scaled = (
        ab.withColumn(
            "_c", F.explode(F.array(*[F.lit(i) for i in range(graph_copies)]))
        )
        .select((F.col("a") + off).alias("a"), (F.col("b") + off).alias("b"))
        # truncate lineage BEFORE the timers so cc_sec/pr_sec measure the
        # graph algorithms, not 3-4 re-derivations of the join+explode
        .localCheckpoint(eager=True)
    )

    t0 = time.time()
    pairs = scaled.select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    ids = (
        scaled.select(F.col("a").alias("node_id"))
        .union(scaled.select(F.col("b").alias("node_id")))
        .distinct()
    )
    dedup_clusters.last_rounds = 0  # type: ignore[attr-defined]
    dedup_clusters(pairs, ids, "node_id", max_iter=8).write.mode(
        "overwrite"
    ).format("noop").save()
    cc_sec = round(time.time() - t0, 1)
    cc_scaled_rounds = getattr(dedup_clusters, "last_rounds", 0)

    t0 = time.time()
    edges = scaled.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        scaled.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    pagerank(edges, iterations=3).write.mode("overwrite").format("noop").save()
    pr_sec = round(time.time() - t0, 1)

    # rounds-to-tol at the replicated scale (VERDICT r6 #8): disjoint
    # replication preserves the rank distribution, so convergence depth
    # is a structure property — a superlinear regression here means the
    # tol check or the per-round plan changed shape
    t0 = time.time()
    pagerank.last_rounds = 0  # type: ignore[attr-defined]
    pagerank(edges, iterations=20, tol=1e-6).write.mode("overwrite").format(
        "noop"
    ).save()
    pr_tol_sec = round(time.time() - t0, 1)
    pr_tol_rounds = getattr(pagerank, "last_rounds", 0)

    # Incremental dedup at probe scale (round 7): index the 90%
    # "existing corpus" once, then dedup the 10% "new crawl" against it.
    # The number that matters is batch10pct_sec vs the whole-corpus
    # recompute (queries_sec.l2_minhash_near_dup): per-snapshot cost
    # should track BATCH size + one index join, not corpus size.
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        minhash_index_append,
        minhash_index_dedup_batch,
    )

    docs = spark.read.parquet(os.path.join(probe_dir, "documents.parquet"))
    split = int(n_docs * 0.9)
    idx = os.path.join(probe_dir, "band_index_probe")
    shutil.rmtree(idx, ignore_errors=True)
    t0 = time.time()
    minhash_index_append(
        docs.filter(F.col("doc_id") < split), "doc_id", "text", idx, batch_id="base"
    )
    idx_build_sec = round(time.time() - t0, 1)
    t0 = time.time()
    minhash_index_dedup_batch(
        docs.filter(F.col("doc_id") >= split), "doc_id", "text", idx, batch_id="b1"
    ).write.mode("overwrite").format("noop").save()
    incr_sec = round(time.time() - t0, 1)

    # Batch-proportionality check (round 8): a 1% batch's PAIRS QUERY
    # should cost far less than the 10% batch's — the r7 full×full join
    # barely moved between batch sizes because its candidate mass was
    # corpus-bound (measured 7.9 s → 4.4 s pre/post fix at 1M docs).
    # The 1% batch here is a re-crawl of the first 1% of the base docs
    # under shifted ids, so the join has real work to do.
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        minhash_index_pairs_vs_batch,
    )

    small = docs.filter(F.col("doc_id") < int(n_docs * 0.01)).select(
        (F.col("doc_id") + 2 * n_docs).alias("doc_id"), "text"
    )
    minhash_index_append(small, "doc_id", "text", idx, batch_id="b2")
    minhash_index_pairs_vs_batch(spark, idx, "b2").write.mode("overwrite").format(
        "noop"
    ).save()  # warm
    t0 = time.time()
    minhash_index_pairs_vs_batch(spark, idx, "b2").write.mode("overwrite").format(
        "noop"
    ).save()
    batch1pct_query_sec = round(time.time() - t0, 1)

    # ANN serving probe (round 9, VERDICT r8 #1): the persisted-index
    # point lookup at probe scale, both refine-tier read shapes — PRUNED
    # (shortlist ids collected and pushed as a partition-pruned scan)
    # vs the streaming JOIN (the whole tier streamed through a
    # broadcast join; what prune="auto" picks below _PRUNE_MIN_ROWS).
    # The gap here is the per-search refine-tier read cost; at 10⁹
    # vectors the join shape reads the full 512 B/vec cold tier per
    # search batch.
    from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
        ann_index_build,
        ann_index_search,
    )

    n_vecs = n_docs // 5
    emb = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000)) / 1000.0
            ).cast("double"),
        ).alias("embedding"),
    ).localCheckpoint(eager=True)
    ann_q = emb.filter(F.col("vec_id") < 10)
    ann_times: dict[str, float] = {}
    for tag in ("pruned", "join"):
        apath = os.path.join(probe_dir, f"ann_probe_{tag}")
        shutil.rmtree(apath, ignore_errors=True)
        t0 = time.time()
        ann_index_build(
            emb, "vec_id", "embedding", apath, dim=64, n_cells=64,
            n_subspaces=8, n_centroids=32, train_fraction=0.05,
            vec_buckets=64,
        )
        ann_times[f"{tag}_build_sec"] = round(time.time() - t0, 1)
        # prune forced per leg (r10): prune="auto" would pick the join
        # for BOTH at probe scale (200k < _PRUNE_MIN_ROWS) and the A/B
        # would silently time the same plan twice
        search = lambda: ann_index_search(  # noqa: E731
            ann_q, apath, k=5, n_probe=8, shortlist=1000,
            prune=(tag == "pruned"),
        ).write.mode("overwrite").format("noop").save()
        search()  # warm
        runs = []
        for _ in range(3):
            t0 = time.time()
            search()
            runs.append(time.time() - t0)
        ann_times[f"{tag}_search_sec"] = round(sorted(runs)[1], 2)

    print(
        json.dumps(
            {
                "probe": "iterative_tier",
                "n_docs": n_docs,
                "build_sec": build_sec,
                "incremental_dedup": {
                    "index_build_sec": idx_build_sec,
                    "batch10pct_sec": incr_sec,
                    "batch1pct_query_sec": batch1pct_query_sec,
                },
                "ann_serving": {"n_vecs": n_vecs, **ann_times},
                "queries_sec": timings,
                "cc_rounds": cc_rounds,
                "graph_copies": graph_copies,
                "graph_sec": {
                    "connected_components": cc_sec,
                    "pagerank3": pr_sec,
                    "pagerank_tol1e6": pr_tol_sec,
                },
                "graph_cc_rounds": cc_scaled_rounds,
                "graph_pr_tol_rounds": pr_tol_rounds,
            }
        )
    )


if __name__ == "__main__":
    main()
