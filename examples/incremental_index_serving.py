#!/usr/bin/env python
"""The SERVING shapes (rounds 7-8): persisted indexes that outlive the
batch that built them.

1. Incremental corpus dedup — sign each crawl snapshot ONCE, persist the
   banded MinHash signatures, and answer "does this batch duplicate
   anything ever indexed?" with one batch-filtered equi-join (never
   re-sign the corpus). Path-backed form here; the bucketed-table form
   (`minhash_table_*`) plans the same query with ZERO index shuffle for
   cluster-scale indexes.
2. ANN vector serving — train IVF-PQ models once, append new vectors
   encoded with the PINNED models (stored codes stay comparable), search
   from disk with an exact shortlist re-rank.

Run:  python examples/incremental_index_serving.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_apache_kafka_python_doker_aws_spark import get_spark
from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
    ann_index_append,
    ann_index_build,
    ann_index_search,
)
from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
    minhash_index_append,
    minhash_index_batches,
    minhash_index_dedup_batch,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="incremental-index-serving")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    print("== 1. index yesterday's corpus (signs + persists band rows) ==")
    idx = tempfile.mkdtemp(prefix="example_band_idx_")
    minhash_index_append(docs, "doc_id", "text", idx, batch_id="crawl-2026-08-14")

    print("== 2. today's snapshot: 2% of docs re-crawled verbatim ==")
    batch = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    pairs = minhash_index_dedup_batch(
        batch, "doc_id", "text", idx, batch_id="crawl-2026-08-15"
    )
    print("near-dup pairs vs everything indexed (batch-proportional join):")
    pairs.orderBy("id_a").show(5)
    print("batches indexed:", minhash_index_batches(spark, idx))

    print("== 3. persisted ANN index: build once, append, search ==")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    ann = tempfile.mkdtemp(prefix="example_ann_idx_")
    shutil.rmtree(ann)  # build wants a fresh path
    ann_index_build(
        emb, "vec_id", "embedding", ann, dim=64, n_cells=16, n_subspaces=8,
        n_centroids=32,
    )
    twins = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    ann_index_append(twins, "vec_id", "embedding", ann, batch_id="new-arrivals")
    print("queries find their appended verbatim twins at rank 1 / dist 0:")
    ann_index_search(
        emb.filter(F.col("vec_id") < 3), ann, k=3, n_probe=8, shortlist=200
    ).orderBy("query_id", "rk").show(9)

    print("== 3b. filtered + grouped serving (r13/r14) ==")
    from etl_apache_kafka_python_doker_aws_spark.functions.similarity import (
        ann_grouped_topk,
    )

    # attribute-filtered search: "nearest neighbors among the EVEN ids"
    allowed = emb.select("vec_id").filter(F.col("vec_id") % 2 == 0)
    print("filtered top-k (per-filtered-corpus; probes re-target to")
    print("cells that actually hold allowed rows):")
    ann_index_search(
        emb.filter(F.col("vec_id") < 2), ann, k=3, n_probe=8,
        shortlist=200, allowed=allowed,
    ).orderBy("query_id", "rk").show(6)
    # multi-vector retrieval: chunks grouped into documents, a doc
    # scores by its best chunk, top-k DOCUMENTS come back
    doc_map = emb.select(
        F.col("vec_id").alias("chunk_id"),
        F.pmod(F.col("vec_id"), F.lit(50)).alias("doc_id"),
    )
    print("grouped (multi-vector) retrieval — top docs per query:")
    ann_grouped_topk(
        emb.filter(F.col("vec_id") < 2), ann, doc_map, k=3, chunk_k=12,
        n_probe=8, shortlist=200,
    ).orderBy("query_id", "rk").show(6)

    print("== 4. right-to-be-forgotten: tombstone retraction ==")
    # both deletes append a request-sized tombstone that every pairs
    # query / search anti-joins out — data files stay byte-identical
    # until a compaction folds the tombstones in; markers survive, so
    # redelivery stays rejected
    from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
        ann_index_delete,
    )
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        minhash_index_delete,
    )

    print("band rows retracted:", minhash_index_delete(spark, idx, [1_000_000]))
    print("vectors retracted:", ann_index_delete(spark, ann, [1_000_000]))
    print("deleted twin no longer serves (query 0's old rank-1 is gone):")
    ann_index_search(
        emb.filter(F.col("vec_id") == 0), ann, k=3, n_probe=8, shortlist=200
    ).show(3)

    shutil.rmtree(idx, ignore_errors=True)
    shutil.rmtree(ann, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
