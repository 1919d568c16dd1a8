"""Deduplication operators (SURVEY.md §2.11 L1/L2): exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale design: every near-dup path follows the bucket-then-verify pattern —
candidate generation via an equi-join on a bucket key (shuffle-friendly,
linear) and exact verification only within buckets. Nothing here does an
O(n²) cross join; at 100 TB the band-bucket join is the only shuffle and
its fan-out is controlled by (num_hashes, bands, rows-per-band-bucket).

MinHash/shingle pipeline is pure built-in HOFs (JVM codegen). SimHash uses
an Arrow-batched Pandas UDF (numpy bit-packing) — the documented slow-path
pattern for ops built-ins can't express cleanly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_apache_kafka_python_doker_aws_spark.functions.text import tokenize
from etl_apache_kafka_python_doker_aws_spark.util import _col_cached

# Deterministic MinHash parameters (seeded; SURVEY.md §7 hard-parts (iv)).
# 31-bit Mersenne prime: a*h+b stays < 2^62, no long overflow under ANSI mode.
_MERSENNE = (1 << 31) - 1


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = np.random.RandomState(seed)
    return [
        (int(rng.randint(1, _MERSENNE - 1)), int(rng.randint(0, _MERSENNE - 1)))
        for _ in range(num_hashes)
    ]


def dedup_exact_by_key(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """L1: exact dedup by key — hash-shuffle on the key, keep one row.
    (The fix for the reference's duplicate-key crash on Kafka redelivery,
    /root/reference/dags/etl_dags.py:37,47-48.)"""
    return df.dropDuplicates(key_cols)


def content_hash(text: Column | str) -> Column:
    """L1: content fingerprint for exact-content dedup (sha256)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.sha2(col, 256)


def dedup_exact_by_content(df: DataFrame, text_col: str) -> DataFrame:
    """L1: exact-content dedup via sha256 group-by (min doc survives)."""
    return df.withColumn("_h", content_hash(text_col)).dropDuplicates(["_h"]).drop("_h")


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (empty for short docs)."""
    toks = tokenize(text)
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def minhash_signature(text: Column | str, num_hashes: int = 32, shingle_n: int = 3,
                      seed: int = 42) -> Column:
    """MinHash signature (array<long>, length num_hashes) over word
    shingles as a single Column expression: sig[i] = min over shingles of
    (a_i*xxhash64(s)+b_i mod p).

    NOTE: convenient for ad-hoc column use, but the nested HOFs
    re-evaluate the shingle-hash array per hash function (measured ~40
    ms/doc at 32 hashes). The pair pipeline uses
    `minhash_signatures_df`, the pure-projection form, which computes the
    shingle-hash array once per doc as its own column and takes each
    permutation's min over it (no shuffle).
    """
    sh = shingles(text, shingle_n)
    base = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))
    params = _hash_params(num_hashes, seed)

    def perm(a: int, b: int):
        # closure factory (PySpark HOF lambdas must take exactly one param)
        return lambda h: F.pmod(a * h + b, F.lit(_MERSENNE))

    return F.array(
        *[
            F.coalesce(F.array_min(F.transform(base, perm(a, b))), F.lit(_MERSENNE))
            for a, b in params
        ]
    )


def minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
    *,
    carry_cols: tuple = (),
) -> DataFrame:
    """MinHash signatures as a pure projection: hash tokens once, build
    the shingle-hash array ONCE as its own materialized column, then take
    ``array_min`` of each of the 32 affine permutations of that array —
    no explode, no shuffle, all whole-stage codegen.

    Two shapes were measured at sf0.1 (local[32], steady-state):
      * naive nested-HOF (shingle expression inlined into every hash
        fn): ~80x slower — Catalyst re-evaluates the tokenize+hash
        subtree per hash function (no CSE across sibling array exprs).
      * explode + groupBy with 32 partial-min aggregates: 1.4-1.9s —
        map-side combine keeps the shuffle tiny, but pays per-shingle
        row machinery and a hash-aggregate pass.
      * THIS form: 1.1-1.3s — the trick is that CollapseProject refuses
        to inline a non-trivial alias referenced 32 times, so ``_sh`` is
        computed once per row and the 32 array_min passes scan it
        in-place. Zero shuffles; per-doc memory is O(doc length).

    The expression Columns are parameter-only, so each is built once per
    session (``util._col_cached``): building the 32-permutation ``_sig``
    Column costs 0.34 s of py4j lambda round trips, while a select over
    a reused one takes 0.05 s (4-core VM, median of 6).

    Returns (id_col, _sig array<long>[, carry_cols...]). Docs with no
    shingles (shorter than shingle_n words) get the sentinel all-p
    signature. ``carry_cols`` (r15) names input columns to pass through
    unchanged — the zero-shuffle way to keep per-doc attributes (index
    payload columns) next to their signatures; a join-back would cost a
    batch-sized shuffle per append.
    """
    from etl_apache_kafka_python_doker_aws_spark.util import ensure_parallelism

    df = ensure_parallelism(df)
    carry = [F.col(c) for c in carry_cols]
    tok_hashed = df.select(
        F.col(id_col).alias("_id"), _token_hashes(text_col).alias("_th"), *carry
    )
    shingled = tok_hashed.select("_id", _shingle_hashes(shingle_n).alias("_sh"), *carry)
    return shingled.select(
        F.col("_id").alias(id_col),
        _signature(num_hashes, seed).alias("_sig"),
        *carry,
    )


# The MinHash/LSH chain is parameter-only: each Column below is built once
# per session by ``util._col_cached``, keyed on every column name and
# parameter it reads (measured build cost in ``minhash_signatures_df``).


def _tokens(text_col: str) -> Column:
    return _col_cached(f"minhash.tok:{text_col}", lambda: tokenize(text_col))


def _token_hashes(text_col: str) -> Column:
    """Each token hashed ONCE, as a materialized array column, so the
    shingle expression references an attribute, not a recomputed
    subtree."""
    return _col_cached(f"minhash.th:{text_col}", lambda: F.transform(
        _tokens(text_col), lambda t: F.pmod(F.xxhash64(t), F.lit(_MERSENNE))
    ))


def _shingle_hashes(shingle_n: int) -> Column:
    """Consecutive token hashes of ``_th`` combined polynomially into
    shingle hashes — no shingle strings are ever built. Coefficients keep
    values < 2^62 under ANSI mode (token hashes are 31-bit)."""
    def build():
        n_sh = F.size("_th") - (shingle_n - 1)
        return F.when(n_sh <= 0, F.array().cast("array<long>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_sh, F.lit(1))),
                lambda i: F.pmod(
                    sum(
                        (
                            F.element_at(F.col("_th"), i + j)
                            * (31 ** (shingle_n - 1 - j))
                            for j in range(shingle_n)
                        ),
                        F.lit(0),
                    ),
                    F.lit(_MERSENNE),
                ),
            )
        )

    return _col_cached(f"minhash.sh:{shingle_n}", build)


def _signature(num_hashes: int, seed: int) -> Column:
    """``num_hashes`` affine permutations of ``_sh``, each reduced by
    ``array_min`` (the all-p sentinel for a doc with no shingles)."""
    def perm(a: int, b: int):
        # closure factory (PySpark HOF lambdas must take exactly one param)
        return lambda h: F.pmod(a * h + b, F.lit(_MERSENNE))

    return _col_cached(
        f"minhash.sig:{num_hashes}:{seed}",
        lambda: F.array(
            *[
                F.coalesce(
                    F.array_min(F.transform(F.col("_sh"), perm(a, b))),
                    F.lit(_MERSENNE),
                )
                for a, b in _hash_params(num_hashes, seed)
            ]
        ),
    )


def _band_keys(num_hashes: int, bands: int) -> Column:
    """``_sig`` exploded into ``bands`` (band_idx, band_hash) structs."""
    rows_per_band = num_hashes // bands
    return _col_cached(
        f"minhash.bands:{num_hashes}:{bands}",
        lambda: F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.xxhash64(
                        F.concat_ws(",", F.transform(
                            F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ))
                    ).alias("band_hash"),
                ),
            )
        ),
    )


def banded_minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 42,
    *,
    carry_cols: tuple = (),
) -> DataFrame:
    """The shared signature→band stage of the LSH pipeline: filter to
    shingle-eligible docs, compute MinHash signatures, and explode each
    into ``bands`` (band_idx, band_hash) bucket keys. Zero shuffles —
    pure projection + generate over the input partitioning.

    Returns (_id, _sig array<long>[, carry_cols...], band_idx int,
    band_hash long), one row per (doc, band) — ``carry_cols`` (r15)
    passes per-doc attribute columns through for the payload-column
    index layout. This is both the self-join input of
    ``minhash_near_dup_pairs`` and the PERSISTED row format of the
    incremental band index (``functions/dedup_index.py``) — one shape,
    so a corpus indexed yesterday and a batch signed today can never
    disagree on bucketing given equal (num_hashes, bands, shingle_n,
    seed).
    """
    # docs shorter than shingle_n words have NO shingles; they must be
    # excluded from pairing, not given a shared sentinel signature (which
    # would pair every short doc with every other at est_jaccard 1.0 and
    # silently delete them in dedup_corpus_near)
    eligible = df.filter(F.size(_tokens(text_col)) >= shingle_n)
    sig = minhash_signatures_df(
        eligible, id_col, text_col, num_hashes, shingle_n, seed,
        carry_cols=carry_cols,
    ).select(F.col(id_col).alias("_id"), "_sig", *carry_cols)
    return sig.select(
        "_id", "_sig", *carry_cols, _band_keys(num_hashes, bands).alias("_band")
    ).select("_id", "_sig", *carry_cols,
             F.col("_band.band_idx").cast("int").alias("band_idx"),
             "_band.band_hash")


def guard_band_buckets(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """Skew guard shared by the self-join and incremental paths: drop
    (band_idx, band_hash) buckets larger than ``max_bucket_size`` before
    any quadratic work (a bucket of size m contributes m² pairs; hot
    buckets are boilerplate/empty-shingle clusters, dropped the way
    stop-words are). Window form — see the measurement note in
    ``minhash_near_dup_pairs``."""
    from pyspark.sql.window import Window

    bucket_sz = Window.partitionBy("band_idx", "band_hash")
    return (
        banded.withColumn("_bsz", F.count("*").over(bucket_sz))
        .filter(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )


def estimate_jaccard_pairs(
    cand: DataFrame, num_hashes: int, threshold: float
) -> DataFrame:
    """Verify stage shared by the self-join and incremental paths: score
    banded candidates (id_a, id_b, sig_a, sig_b) by signature-agreement
    fraction, threshold, then dedup multi-band collisions. Score +
    threshold run BEFORE the pair-dedup: a pair colliding in k bands is
    scored k times (cheap zip_with, map-side) but the dedup shuffle then
    carries (id_a, id_b, est) instead of two full signatures per row —
    3 values wide vs 2+2x32 longs. Duplicate collisions score
    identically, so dropDuplicates after is safe."""
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(num_hashes)
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int = 200,
) -> DataFrame:
    """L2: MinHash+LSH near-duplicate pairs (id_a < id_b, est_jaccard).

    shingle → minhash → band → bucket-join → verify, the EDBT/ICDE-style
    scalable pipeline: candidates come from an equi-join on
    (band_idx, band_hash); the estimated Jaccard (signature agreement
    fraction) filters to >= threshold.

    Scale controls (both essential at 100 TB — measured 250s → 3s at
    sf0.1 on the fixture corpus):
      * bands=4 × 8 rows/band: collision prob j^8 per band, so weakly
        similar pairs (the quadratic mass) almost never collide while
        j≥0.9 pairs are caught with P≈0.97.
      * max_bucket_size: buckets larger than this are boilerplate/empty-
        shingle clusters; a bucket of size m contributes m² pairs, so hot
        buckets are dropped the same way stop-words are (skew guard).

    For deduplicating a NEW batch against an already-indexed corpus
    (the production crawl-snapshot shape) use
    ``functions/dedup_index.py`` — same stages, but the corpus side
    reads persisted band signatures instead of recomputing them.
    """
    banded = banded_minhash_signatures(
        df, id_col, text_col, num_hashes, bands, shingle_n, seed
    )

    # skew guard: drop pathological buckets before the quadratic self-join.
    # Window form, kept after measuring the alternatives at sf0.1 (fresh
    # process AND warm, identical 253 pairs each): count-over-window 6.5s
    # cold / 1.9s warm vs groupBy-count + semi-join 7.7s / 2.2s (the extra
    # aggregate + join costs more than the window sort, which reuses the
    # band shuffle and spills via the external sorter at scale). A
    # collect_list-per-bucket variant measured faster still (5.7s / 1.2s)
    # but buffers whole buckets in the aggregate — unbounded memory on a
    # degenerate mega-bucket — so it is not scale-safe.
    banded = guard_band_buckets(banded, max_bucket_size)

    # The self-join deliberately CARRIES both signatures (32 longs/side)
    # through the band shuffle. The "slimmer" alternative — ids-only band
    # join, then re-attach signatures with two joins against the sig
    # table — was measured 5.7x SLOWER at 1M docs (289 s vs 51 s,
    # identical 2.9M pairs): the re-attach pays three extra shuffles of
    # the candidate set + sig table, which costs far more than the wider
    # Tungsten rows in one shuffle. Do not "optimize" this to ids-only.
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._sig").alias("sig_a"),
            F.col("b._sig").alias("sig_b"),
        )
    )
    return estimate_jaccard_pairs(cand, num_hashes, threshold)


@F.pandas_udf(T.LongType())
def _simhash_pack(tok_hashes: pd.Series) -> pd.Series:
    """Pack pre-hashed tokens (array<long>, JVM xxhash64) into a 64-bit
    SimHash. Pure numpy: per doc, one (n_tokens × 64) bit matrix, column
    sums, sign → bits. The per-token hashing happens JVM-side in
    whole-stage codegen (VERDICT r1 #5 replaced a per-character Python
    FNV loop here — the old slow path hashed bytes one at a time inside
    the UDF)."""
    shifts = np.arange(64, dtype=np.uint64)
    out = np.zeros(len(tok_hashes), dtype=np.int64)
    for i, arr in enumerate(tok_hashes):
        if arr is None or len(arr) == 0:
            continue
        h = np.asarray(arr, dtype=np.int64).view(np.uint64)
        # bits[t, b] = bit b of token t's hash → ±1 vote sums per bit
        bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        acc = 2 * bits.sum(axis=0) - len(h)
        sim = int(np.bitwise_or.reduce((acc > 0).astype(np.uint64) << shifts))
        out[i] = sim - (1 << 64) if sim >= (1 << 63) else sim  # two's-complement long
    return pd.Series(out)


def simhash(text_col: str) -> Column:
    """L2: SimHash fingerprint column. Tokens are hashed JVM-side
    (xxhash64 inside codegen); only the bit-packing crosses into an
    Arrow-batched Pandas UDF. Near-dups = small Hamming distance; pair
    generation buckets on fingerprint bands (split-and-index trick) to
    stay join-based."""
    tok_hashed = F.transform(tokenize(text_col), lambda t: F.xxhash64(t))
    return _simhash_pack(tok_hashed)


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, min_jaccard: float = 0.4
) -> DataFrame:
    """L2: exact n-gram (token-set) Jaccard pairs via the inverted-index
    join: explode distinct tokens, self-join on token (candidates share ≥1
    token), count intersections, compute |A∩B| / (|A|+|B|-|A∩B|).

    Scale note: the token join is the inverted index — its fan-out is
    bounded by document frequency; hot tokens should be stop-worded first
    (df > threshold) to cap skew, which is the standard trick.
    """
    from etl_apache_kafka_python_doker_aws_spark.util import ensure_parallelism

    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(tokenize(text_col))).alias("tok"),
    )
    sizes = toks.groupBy("_id").agg(F.count("*").alias("_sz"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("sz_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """L2: SimHash near-dup pairs via the split-and-index trick: split the
    64-bit fingerprint into n_bands 16-bit bands; any pair within
    max_hamming <= n_bands-1 bits must collide on >= 1 band (pigeonhole),
    so candidates come from an equi-join on (band_idx, band_value) and the
    exact Hamming distance (bit_count of xor) filters them. Join-based —
    no cross join — like every other near-dup path here.
    """
    from etl_apache_kafka_python_doker_aws_spark.util import ensure_parallelism

    if max_hamming > n_bands - 1:
        raise ValueError(
            f"pigeonhole guarantee requires max_hamming <= n_bands-1 "
            f"(got {max_hamming} > {n_bands - 1}); raise n_bands or lower max_hamming"
        )
    bits_per_band = 64 // n_bands
    fp = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"), simhash(text_col).alias("_fp")
    )
    banded = fp.select(
        "_id",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.pmod(
                            F.shiftrightunsigned(F.col("_fp"), i * bits_per_band),
                            F.lit(1 << bits_per_band),
                        ).alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("_b"),
    ).select("_id", "_fp", "_b.band_idx", "_b.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._fp").bitwiseXOR(F.col("b._fp"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 5,
) -> DataFrame:
    """Group near-dup pairs into clusters via iterative min-label
    propagation (connected components, small-diameter graphs): every id
    starts as its own label; each round, a node adopts the minimum label
    among itself and its neighbors. Dup clusters have tiny diameter, so
    a handful of rounds converges.

    The genuinely iterative op in the engine (not SQL-expressible):
    each round is ONE eager job — neighbor-min aggregate + label update
    fused into a single checkpointed pass — plus a near-free convergence
    probe; lineage is truncated with localCheckpoint so the plan doesn't
    grow exponentially — the standard Spark pattern for bounded
    iterative algorithms. Rounds run EAGERLY with a convergence check:
    label propagation needs only eccentricity(min-id node) rounds, so
    dup-cluster graphs (tiny diameter) usually converge in 2-3.

    r15 optimization (guide §2.4 — remove shuffles outright): the
    pre-r15 loop ran THREE node-sized joins per round — (a) the
    neighbor-min aggregate (eager checkpoint), (b) a separate
    ``improved.isEmpty()`` join of that aggregate back against labels
    for the convergence check, and (c) the label-update join, deferred
    into the NEXT round's lineage by the lazy checkpoint. Fusing (b)
    and (c) into one pass — the update join also emits a ``_chg`` flag,
    the new labels are checkpointed EAGERLY, and convergence reads
    ``sum(_chg)`` off the checkpoint (zero joins, one scan of
    node-sized local blocks) — drops a full node-sized shuffle join per
    round while computing the identical labels and stopping on the
    identical condition (some node improved ⇔ some ``_chg`` = 1).
    Measured on the g1-shaped graph at sf0.1 (local[32], interleaved
    same-session A/B — host drift hits both arms equally — medians of
    4): old 4.78 s → fused 3.21 s (−33%); identical outputs
    (oracle-pinned) and identical round counts
    (tests/test_llm_ops.py::test_dedup_clusters_fused_round_semantics).

    Returns (id_col, cluster_id) where cluster_id is the minimum member
    id; singletons keep their own id. The number of propagation rounds
    the last call executed (including the final no-improvement check
    round) is recorded on ``dedup_clusters.last_rounds`` — the
    round-over-round scale probe (scale_probe.py) tracks it so a
    superlinear convergence regression is visible.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = ids.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        dedup_clusters.last_rounds = rounds  # type: ignore[attr-defined]
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        # fused update + convergence flag, ONE eager job per round (r15,
        # guide §2.4 — see docstring): the aggregate's output is already
        # hash-partitioned by id, so the update join adds no exchange
        # for the neighbor_min side; _chg marks exactly the rows the old
        # ``improved`` join would have returned (no nm row ⇒ coalesce
        # falls back to label ⇒ never <).
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "label"
                ),
                (F.coalesce(F.col("nlabel"), F.col("label")) < F.col("label"))
                .cast("int")
                .alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        # convergence probe: one scan of the checkpointed local blocks —
        # no join, no shuffle beyond the 1-row partial-agg gather
        n_changed = new_labels.agg(F.sum("_chg")).first()[0] or 0
        labels = new_labels.select("id", "label")
        if n_changed == 0:
            break
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


def dedup_corpus_near(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_iter: int = 5, **minhash_kwargs
) -> DataFrame:
    """End-to-end near-dedup: MinHash-LSH pairs → connected components →
    keep the minimum-id document of each cluster. Returns the deduped
    DataFrame (same schema as input).

    max_iter bounds label propagation: clusters merge fully only up to
    graph diameter max_iter (near-dup chains are short; raise it for
    template-revision corpora with long chains)."""
    pairs = minhash_near_dup_pairs(df, id_col, text_col, **minhash_kwargs)
    clusters = dedup_clusters(pairs, df.select(id_col), id_col, max_iter=max_iter)
    keep = clusters.groupBy("cluster_id").agg(F.min(id_col).alias(id_col)).select(id_col)
    return df.join(keep, id_col, "left_semi")


def jaccard_pairs_prefix_filtered(
    df: DataFrame, id_col: str, text_col: str, min_jaccard: float = 0.4
) -> DataFrame:
    """L2: EXACT token-set Jaccard pairs at corpus scale via prefix
    filtering (the SSJoin/PPJoin family of published similarity-join
    techniques): identical output to ``ngram_jaccard_pairs``, but the
    candidate self-join runs only over each document's PREFIX — its
    rarest tokens under one global frequency order — instead of every
    token.

    Why this is the scale path: the inverted-index join's fan-out per
    token is quadratic in document frequency, and common tokens dominate
    (stop-wording caps the blow-up but changes recall at the margin).
    Under a global rare-first total order, any pair with Jaccard ≥ τ
    must share a token inside both prefixes of length
    ``|x| − ⌈τ·|x|⌉ + 1``, so candidates from prefix tokens alone are a
    superset of the answer — and prefixes are BIASED TOWARD RARE tokens,
    whose postings lists are short. The verify step then computes exact
    Jaccard from the full (sorted) token arrays JVM-side
    (``array_intersect``), so the final answer is exact, not banded.

    We lengthen the prefix to ``|x| − ⌊τ·|x|⌋ + 1`` (floor, not ceil):
    IEEE ``τ·|x|`` can land an ulp above an integer and ceil would then
    SHORTEN the prefix below the theorem's bound, dropping true pairs;
    floor only ever adds candidates, never loses them.

    Plan shape: token explode → df-count join (hash) → per-doc sorted
    array (one shuffle) → prefix explode self-join (short postings) →
    broadcast-free verify join on the pair ids. No all-pairs stage.

    MEASURED honestly (local[32]): on the fixture corpus the inverted
    index WINS (sf0.1, 5000 docs: 5.5 s vs 173 s at τ=0.4; 6.7 s vs
    128 s at τ=0.9) — the fixture's template-generated vocabulary is so
    small that even "rare" prefix tokens are hot, candidates stay ~all
    pairs (83% of ALL pairs exceed Jaccard 0.4 here), and the verify
    join then shuffles token ARRAYS for millions of pairs where the
    inverted form only counts. On a Zipfian synthetic corpus the
    CROSSOVER is real and measured: at 30k docs / 50k vocab both prune
    well (600 true pairs; 8.3 s vs 4.4 s), but at 150k docs / 200k
    vocab the hot-token postings make the inverted join's Σ df²
    explode and THIS form wins 3.6× (28.3 s vs 101.8 s, identical
    3000 pairs). Rule of thumb: template/small vocab (or tiny corpus) →
    ``ngram_jaccard_pairs``; Zipfian web-scale vocab at ≥100k docs →
    this. The token-df histogram (``l4_stopword_discovery``) tells you
    which regime you are in before you pay for the wrong join.
    """
    from etl_apache_kafka_python_doker_aws_spark.util import ensure_parallelism

    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(tokenize(text_col))).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("_df"))
    docs = (
        toks.join(dfreq, "tok")
        .groupBy("_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_df", "tok"))),
                lambda x: x["tok"],
            ).alias("_toks_rare_first"),
            F.count("*").alias("_sz"),
        )
        .withColumn(
            "_plen",
            (
                F.col("_sz")
                - F.floor(F.col("_sz") * F.lit(min_jaccard)).cast("long")
                + 1
            ).cast("int"),
        )
    )
    prefix = docs.select(
        "_id",
        F.explode(F.slice(F.col("_toks_rare_first"), F.lit(1), F.col("_plen"))).alias(
            "tok"
        ),
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    da = docs.select(
        F.col("_id").alias("id_a"),
        F.col("_toks_rare_first").alias("_ta"),
        F.col("_sz").alias("sz_a"),
    )
    db = docs.select(
        F.col("_id").alias("id_b"),
        F.col("_toks_rare_first").alias("_tb"),
        F.col("_sz").alias("sz_b"),
    )
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("_ta", "_tb")))
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    tol: float | None = None,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """G2: PageRank over a directed edge list — the second classic
    iterative graph primitive next to connected components
    (dedup_clusters); at corpus scale it ranks pages/documents by link
    mass for crawl-frontier and quality weighting.

    Each iteration is one join + one aggregate (contributions grouped by
    destination) with the same bounded-iteration shape as label
    propagation; lineage is truncated per round with localCheckpoint.
    Dangling-node mass is dropped (documented choice — redistribute
    variants renormalize afterwards; the oracle mirrors this exactly).

    Cross-engine determinism: each iteration's rank is ROUNDED to 9 dp
    after the aggregate — the contribution SUM is the only
    order-nondeterministic float step, and rounding collapses its
    few-ulp variance so the next iteration starts from bit-identical
    inputs on any engine (the cross-engine-float discipline; a DuckDB
    oracle unrolls the same iterations as CTEs).

    ``tol``: when set, iteration STOPS EARLY once
    ``max |pr_t − pr_{t−1}| < tol`` — the dedup_clusters
    iterate-until-stable pattern; at unknown graph scale
    convergence-driven rounds beat a guessed fixed count (a web-scale
    graph may need 20+, a dup-cluster graph 3). The check is one tiny
    max-aggregate per round over the already-computed join of old/new
    ranks; ``iterations`` stays the hard cap. The rounds the last call
    executed are recorded on ``pagerank.last_rounds`` (scale_probe
    tracks it, like ``dedup_clusters.last_rounds``).

    ``redistribute_dangling``: the standard dangling-mass fix — each
    round, the rank mass sitting on nodes with NO out-edges is summed
    (one 1-row aggregate, broadcast back) and redistributed uniformly
    to every node, so total rank stays ~1.0 instead of leaking. Kept
    opt-in: the default drop-mass form is what the exact unrolled-CTE
    oracle mirrors (g2_pagerank).

    Returns (node_id, pr) for every node appearing in the edge list.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().localCheckpoint(eager=False)
    # nodes/outdeg are loop-invariant — truncate them too (review r6:
    # un-checkpointed they re-embed a distinct-union and an aggregate
    # into EVERY iteration's plan, two redundant shuffles per round)
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .union(e.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("_deg")).localCheckpoint(
        eager=False
    )
    # r15 optimization attempt, MEASURED AND REVERTED (guide §1.1):
    # hoisting the loop-invariant edges⋈outdeg join out of the round
    # (e_deg = e.join(outdeg, "src").localCheckpoint()) A/B-measured
    # +8% at sf0.1 over 3 rounds (interleaved medians 1.93 → 2.09 s) —
    # the wider 3-column edge checkpoint write costs more than the
    # per-round node-sized outdeg join it saves at this round count;
    # outdeg is already lineage-truncated, so the per-round join is a
    # cheap hash join against a pinned frame.
    n_total = nodes.agg(F.count("*").cast("double").alias("_n"))
    ranks = nodes.crossJoin(F.broadcast(n_total)).select(
        "node_id", (F.lit(1.0) / F.col("_n")).alias("pr")
    )
    if redistribute_dangling:
        # dangling = nodes with no out-edge; loop-invariant, tiny join key set
        dangling = nodes.join(
            outdeg.select(F.col("src").alias("node_id")), "node_id", "left_anti"
        ).localCheckpoint(eager=False)
    rounds = 0
    for _ in range(iterations):
        rounds += 1
        pagerank.last_rounds = rounds  # type: ignore[attr-defined]
        contribs = (
            e.join(ranks, e.src == ranks.node_id)
            .join(outdeg, "src")
            .select(F.col("dst").alias("node_id"), (F.col("pr") / F.col("_deg")).alias("_c"))
            .groupBy("node_id")
            .agg(F.sum("_c").alias("_in"))
        )
        base_mass = F.lit(1.0 - damping) / F.col("_n")
        in_mass = F.coalesce(F.col("_in"), F.lit(0.0))
        if redistribute_dangling:
            d_mass = dangling.join(ranks, "node_id").agg(
                F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dm")
            )
            new_ranks = (
                nodes.join(contribs, "node_id", "left")
                .crossJoin(F.broadcast(n_total))
                .crossJoin(F.broadcast(d_mass))
                .select(
                    "node_id",
                    F.round(
                        base_mass
                        + F.lit(damping) * (in_mass + F.col("_dm") / F.col("_n")),
                        9,
                    ).alias("pr"),
                )
                .localCheckpoint(eager=False)
            )
        else:
            new_ranks = (
                nodes.join(contribs, "node_id", "left")
                .crossJoin(F.broadcast(n_total))
                .select(
                    "node_id",
                    F.round(base_mass + F.lit(damping) * in_mass, 9).alias("pr"),
                )
                .localCheckpoint(eager=False)
            )
        if tol is not None:
            delta = (
                new_ranks.alias("n")
                .join(ranks.select("node_id", F.col("pr").alias("_prev")), "node_id")
                .agg(F.max(F.abs(F.col("pr") - F.col("_prev"))).alias("_d"))
                .first()[0]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks
