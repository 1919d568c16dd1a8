"""The benchmark's workloads.

A workload reads the seeded input tables under ``data``, builds its
fixtures under ``root`` (``setup``, timed and repeated by the runner),
then hands out one pass of operations at a time (``pass_ops``). An
operation calls the package's public functions only; it returns either a
DataFrame, which the runner drains through the ``noop`` sink, or a plain
value (the write calls). Each operation carries a check that runs after
the timers have stopped.

Pass 0 is the untimed warm pass: every code path is compiled, and every
output checked, once before timing starts.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from dataclasses import dataclass
from typing import Any, Callable

import duckdb
import numpy as np

import datagen

K = 5
N_QUERIES = 100
BATCH = 25
PLANT_OFFSET = 100_000
COMPACT_THRESHOLD = 0.2

# Relational queries, one per operator family: scan and aggregation,
# window ranking and a five-way shuffle join.
RELATIONAL = ["a1_pricing_summary", "w1_ranking", "q5_local_supplier_volume"]
# Multi-job pipelines: append-mode streaming and iterative connected
# components.
PIPELINES = ["t2b_tumbling_append", "g1_graph_components"]


@dataclass
class Op:
    """One call of the workload. ``kind`` is ``read`` or ``write``;
    ``layer`` names the package module the call enters."""

    name: str
    kind: str
    layer: str
    call: Callable[[], Any]
    check: Callable[[Any], str | None]
    # Re-run the check on timed passes too. Only for calls whose output
    # depends on state that changes from pass to pass.
    check_every_pass: bool = False
    # ANN index the call reads; the traced run times its meta reads.
    meta_path: str | None = None


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def tree_files(path: str) -> int:
    return sum(len(files) for _root, _dirs, files in os.walk(path))


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Workload:
    """Base. ``sf`` sizes the input tables, ``tables`` names the ones
    the workload reads (None for all)."""

    sf = 0.02
    tables = None

    def __init__(self, spark, root: str, data: str, seed: int):
        self.spark = spark
        self.root = root
        self.data = data
        self.seed = seed
        self.calls = 0

    def setup(self) -> None:
        """Build the fixtures the operations read, under ``root``."""

    def pass_ops(self, index: int) -> list[Op]:
        raise NotImplementedError

    def state(self) -> dict[str, float]:
        """End-of-run figures of the stored state, for the traced run."""
        return {}

    def problems(self) -> list[str]:
        """Run-level invariant failures, checked after the last pass."""
        return []

    def close(self) -> None:
        """Release session-scoped state such as catalog tables."""

    def rng(self) -> np.random.Generator:
        self.calls += 1
        return np.random.default_rng([self.seed, self.calls])


def _compare():
    """The Spark-vs-DuckDB compare the repo's oracle tests use."""
    tests = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    from oracle_harness import compare

    return compare


class Analytics(Workload):
    """The query-engine path: relational queries, the reference ETL
    pipeline, a streaming runner and an iterative graph loop. No index
    tier is called, so index changes should not move it. The ETL
    pipeline is the workload's write: its three stages each materialize
    to disk."""

    sf = 0.01

    def setup(self) -> None:
        self.con = duckdb.connect()
        for t in datagen.BUILDERS:
            path = os.path.join(self.data, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def _checked(self, name: str):
        from etl_apache_kafka_python_doker_aws_spark.workloads import ORACLES

        compare = _compare()

        def check(df):
            ok, detail = compare(df, self.con, ORACLES[name])
            return None if ok else detail

        return check

    def pass_ops(self, index: int) -> list[Op]:
        from etl_apache_kafka_python_doker_aws_spark.catalog import load_table
        from etl_apache_kafka_python_doker_aws_spark.plans.pipeline import (
            run_reference_pipeline,
        )
        from etl_apache_kafka_python_doker_aws_spark.workloads import QUERIES

        def query(name):
            return Op(name, "read", "workloads",
                      lambda: QUERIES[name](self.spark, self.data), self._checked(name))

        def etl():
            wd = tempfile.mkdtemp(prefix="etl_", dir=self.root)
            customer = load_table(self.spark, self.data, "customer")
            return run_reference_pipeline(self.spark, customer, wd).exported

        return ([query(n) for n in RELATIONAL]
                + [Op("etl_reference_pipeline", "write", "pipeline", etl,
                      self._checked("etl_reference_pipeline"))]
                + [query(n) for n in PIPELINES])

    def close(self) -> None:
        self.con.close()


def _lang(vec_id):
    from pyspark.sql import functions as F

    return F.when(F.pmod(vec_id, F.lit(2)) == 0, "en").otherwise("de").alias("lang")


class Indexes(Workload):
    """Serving reads and maintenance writes on the three persisted-index
    tiers: an ANN index over every embedding (with a ``lang`` payload),
    the path-backed band index over every document, and an exact SHA
    table holding the corpus plus a copy of every 25th document.

    Each step appends a 25-vector batch, and a 25-doc batch of planted
    copies to the band and the exact tier, deletes 25 vectors, then
    searches the ANN index with a fresh seeded 100-query slice, pairs
    the new doc batch against the band index and asks the exact tier for
    the verdict on its set-up planted batch.

    Set-up tombstones just enough vectors that the warm step stays under
    the 20% auto-compaction threshold and the first timed step crosses
    it, so every run pays exactly one compaction at its natural size."""

    tables = ("documents", "embeddings")

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
            ann_index_build,
            ann_index_delete,
        )
        from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
            minhash_index_append,
        )
        from etl_apache_kafka_python_doker_aws_spark.functions.exact_index import (
            sha_table_append,
        )

        spark = self.spark
        rng = np.random.default_rng([self.seed, 0])
        tag = f"{os.getpid()}_{os.path.basename(self.root)}"
        emb = spark.read.parquet(f"{self.data}/embeddings.parquet")
        self.vecs = {r[0]: [float(x) for x in r[1]]
                     for r in emb.select("vec_id", "embedding").collect()}
        self.ann = os.path.join(self.root, "ann")
        ann_index_build(emb.select("vec_id", "embedding", _lang(F.col("vec_id"))),
                        "vec_id", "embedding", self.ann, dim=datagen.EMBED_DIM,
                        n_cells=4, n_subspaces=1, n_centroids=16, vec_buckets=4,
                        payload_cols=["lang"])
        self.docs = spark.read.parquet(f"{self.data}/documents.parquet").select(
            "doc_id", "text")
        self.doc_ids = [r[0] for r in self.docs.select("doc_id").collect()]
        self.band = os.path.join(self.root, "band")
        minhash_index_append(self.docs, "doc_id", "text", self.band, batch_id="base")
        planted = self.docs.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), "text")
        self.sha = f"perfbench_sha_{tag}"
        sha_table_append(self.docs, "doc_id", "text", self.sha, batch_id="b0", buckets=8)
        sha_table_append(planted, "doc_id", "text", self.sha, batch_id="b1", buckets=8)
        self.n_planted = planted.count()

        # Dead share after the warm step: (pre + B) / (n + B), just under
        # the threshold; the first timed step adds B more dead of n + 2B.
        # Deletes take ids in a seeded order.
        n = len(self.vecs)
        pre = int(COMPACT_THRESHOLD * (n + BATCH)) - BATCH - 5
        self.vec_deletable = rng.permutation(list(self.vecs)).tolist()
        gone = self.vec_deletable[:pre]
        self.vec_deletable = self.vec_deletable[pre:]
        removed = ann_index_delete(spark, self.ann, gone)
        if removed != pre:
            raise RuntimeError(f"set-up delete removed {removed} of {pre} vectors")
        for vid in gone:
            del self.vecs[vid]
        self.next_vec = PLANT_OFFSET * 10
        self.ann_live = len(self.vecs)
        self.band_live = len(self.doc_ids)
        self.compactions = 0
        self.steps = 0

    def _queries(self, rng):
        """A fresh seeded slice of live query vectors, ids 0..N_QUERIES-1."""
        ids = rng.choice(sorted(self.vecs), N_QUERIES).tolist()
        rows = [(i, self.vecs[v]) for i, v in enumerate(ids)]
        return self.spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def pass_ops(self, step: int) -> list[Op]:
        from pyspark.sql import functions as F

        from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
            ann_index_append,
            ann_index_delete,
            ann_index_search,
        )
        from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
            minhash_index_append,
            minhash_index_pairs_vs_batch,
        )
        from etl_apache_kafka_python_doker_aws_spark.functions.exact_index import (
            sha_table_append,
            sha_table_dedup_batch,
        )

        spark = self.spark
        rng = self.rng()
        batch = f"s{step}"
        offset = PLANT_OFFSET * (step + 2)
        new_vecs = []
        for vid in rng.choice(sorted(self.vecs), BATCH, replace=False):
            vec = np.asarray(self.vecs[vid]) + rng.normal(0, 0.01, datagen.EMBED_DIM)
            new_vecs.append((self.next_vec, [float(x) for x in vec]))
            self.next_vec += 1
        ann_del = self.vec_deletable[:BATCH]
        self.vec_deletable = self.vec_deletable[BATCH:] + [v for v, _ in new_vecs]
        sources = rng.choice(self.doc_ids, BATCH, replace=False).tolist()
        queries = self._queries(rng)
        self.steps += 1

        def ann_append():
            df = spark.createDataFrame(new_vecs, "vec_id long, embedding array<float>")
            ann_index_append(df.withColumn("lang", _lang(F.col("vec_id"))),
                             "vec_id", "embedding", self.ann, batch_id=batch)
            self.vecs.update(new_vecs)
            self.ann_live += BATCH
            return BATCH

        planted = self.docs.filter(F.col("doc_id").isin(sources)).select(
            (F.col("doc_id") + offset).alias("doc_id"), "text")

        def band_append():
            minhash_index_append(planted, "doc_id", "text", self.band, batch_id=batch)
            self.band_live += BATCH
            return BATCH

        def sha_append():
            sha_table_append(planted, "doc_id", "text", self.sha, batch_id=batch, buckets=8)
            return BATCH

        def ann_delete():
            before = tree_bytes(self.ann)
            n = ann_index_delete(spark, self.ann, ann_del,
                                 compact_threshold=COMPACT_THRESHOLD)
            for vid in ann_del:
                self.vecs.pop(vid, None)
            self.ann_live -= n
            # A compaction rewrites the index without its dead rows; a
            # plain delete only adds tombstones.
            if tree_bytes(self.ann) < before:
                self.compactions += 1
            return n

        def removed(n):
            return None if n == BATCH else f"removed {n}, expected {BATCH}"

        def planted_pairs(df):
            got = df.filter(F.col("id_b") == F.col("id_a") + offset).count()
            return None if got == BATCH else f"{got} planted pairs, expected {BATCH}"

        def sha_check(df):
            got = df.filter(F.col("is_dup")).count()
            return None if got == self.n_planted else f"{got} dups, expected {self.n_planted}"

        return [
            Op("ann_append", "write", "ann", ann_append, lambda n: None),
            Op("band_append", "write", "band", band_append, lambda n: None),
            Op("sha_append", "write", "sha", sha_append, lambda n: None),
            Op("ann_delete", "write", "ann", ann_delete, removed, True),
            Op("ann_search", "read", "ann",
               lambda: ann_index_search(queries, self.ann, k=K, n_probe=2),
               _rows_per_query, True, self.ann),
            Op("band_pairs_vs_batch", "read", "band",
               lambda: minhash_index_pairs_vs_batch(spark, self.band, batch),
               planted_pairs, True),
            Op("sha_dedup_batch", "read", "sha",
               lambda: sha_table_dedup_batch(spark, self.sha, "b1"), sha_check),
        ]

    def state(self) -> dict[str, float]:
        size = tree_bytes(self.ann) + tree_bytes(self.band)
        return {
            "ann.compactions": self.compactions,
            "band.files": tree_files(self.band),
            "index_bytes_per_row": size / (self.ann_live + self.band_live),
        }

    def problems(self) -> list[str]:
        if self.compactions < 1:
            return [f"no ANN compaction in {self.steps} steps"]
        return []

    def close(self) -> None:
        from etl_apache_kafka_python_doker_aws_spark.functions.exact_index import (
            drop_sha_table,
        )

        drop_sha_table(self.spark, self.sha)


def _rows_per_query(df) -> str | None:
    counts = {r[0]: r[1] for r in df.groupBy("query_id").count().collect()}
    bad = {q: c for q, c in counts.items() if c != K}
    if len(counts) != N_QUERIES or bad:
        return f"{len(counts)} query ids, wrong row counts {dict(list(bad.items())[:3])}"
    return None


WORKLOADS = {"analytics": Analytics, "indexes": Indexes}
