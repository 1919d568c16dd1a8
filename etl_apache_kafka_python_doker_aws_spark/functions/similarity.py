"""Similarity search over embedding columns (SURVEY.md §2.11 L3/L5).

Two tiers, same API:
  * `cosine_topk` — exact brute force: broadcast the (small) query set,
    JVM HOF dot products, per-query top-k via window. The correctness
    baseline and the right choice when |queries| is small.
  * `lsh_topk` — random-hyperplane (sign) LSH: bucket corpus + queries by
    signature bands, search only colliding buckets. The 100 TB path —
    candidate generation is an equi-join, never a cross join.

Vectors are `array<float>`; all arithmetic is cast to double so results
are stable and DuckDB-comparable.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_apache_kafka_python_doker_aws_spark.util import _col_cached


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns via zip_with + aggregate (JVM)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, with the zero-vector case pinned to 0.0.

    Without the guard a zero-norm vector yields 0.0/0.0 = NaN, and Spark
    orders NaN ABOVE every double — so one all-zero embedding would rank
    as the #1 neighbor of every query and pass any `>= threshold` dup
    filter. A zero vector has no direction; similarity 0 is the honest
    value."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


# Size-aware broadcast gate (VERDICT r10 #1): the exact-topk / re-rank
# plans broadcast a QUERY-BATCH-proportional frame — bounded per query,
# NOT bounded in the number of queries. For point-lookup serving the
# explicit hint is right (skips a corpus shuffle); for the
# crawl-snapshot batches the dedup paths feed through the same code an
# unconditional hint is a forced OOM AQE cannot demote. So every such
# hint is gated on the frame's measured mass in 8-byte CELLS
# (rows × per-row payload slots): below the bound → hint; above →
# plain join/crossJoin, and AQE picks the strategy from runtime stats.
# 24M cells ≈ 192 MB of payload doubles ≈ a ≲500 MB built relation —
# comfortably under Spark's 8 GB broadcast hard cap with headroom for
# row overhead, yet far past any serving batch. The r11 10M-vector
# probe (SCALING.md) measured the AQE fallback at parity with the
# hinted join at this scale — the gate costs nothing where it bites.
_BCAST_MAX_CELLS = 24_000_000


def _batch_stats(q: DataFrame, vec_col: str = "_qvec") -> tuple[int, int]:
    """One tiny agg job: (row count, max vector width) of a query
    batch — the inputs every broadcast-mass gate needs. The batch
    lineage is evaluated once here and again by the main query; for
    every caller the corpus-side work dwarfs that second evaluation."""
    row = q.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size(F.col(vec_col))).alias("d")
    ).first()
    return int(row.n), int(row.d or 0)


def _hint_if_bounded(df: DataFrame, cells: int) -> DataFrame:
    """``F.broadcast(df)`` when its measured mass fits the gate, else
    ``df`` unchanged (AQE converts small joins at runtime anyway)."""
    return F.broadcast(df) if cells <= _BCAST_MAX_CELLS else df


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan shape: broadcast(queries) ⋈ corpus (no shuffle of the corpus),
    then one window shuffle on query_id for the top-k — the optimal exact
    plan when queries fit in a broadcast. The hint is SIZE-GATED
    (VERDICT r10 #1): one tiny agg measures the batch, and past
    ``_BCAST_MAX_CELLS`` the hint is dropped so a corpus-sized query
    batch plans a partitioned cross join instead of a forced-OOM
    broadcast. Excludes self-matches. Ties break on corpus id for
    determinism.
    """
    from pyspark.sql.window import Window

    from etl_apache_kafka_python_doker_aws_spark.util import ensure_parallelism

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    n_q, d_q = _batch_stats(q)
    scored = (
        c.crossJoin(_hint_if_bounded(q, n_q * (d_q + 1)))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qvec"), F.col("_cvec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_signature(vec: Column, planes: list[list[float]], band_bits: int = 4) -> Column:
    """Sign-LSH signature: bit i = (vec · plane_i) >= 0, grouped into
    bands of `band_bits` bits. Returns an array<int> of band hashes.

    Band width tunes selectivity: for vectors at angle θ a bit agrees with
    prob 1-θ/π, a band collides at that prob^band_bits. Weakly-similar
    corpora (near-orthogonal embeddings) need narrow bands (4) + more
    bands for recall; tight near-dup search can afford 8-16."""
    if not 1 <= band_bits <= 16:
        # the band code space is band_index*100000 + hash; a 17-bit band
        # hash (131071) would alias into the next band's range and join
        # unrelated vectors as candidates
        raise ValueError(f"band_bits must be in [1, 16], got {band_bits}")
    # one _model_lit per plane (r10): the per-scalar F.lit form built
    # n_planes × dim py4j Columns per call — seconds of driver time at
    # 128 planes × 64 dims
    bits = [
        (
            F.aggregate(
                F.zip_with(
                    vec,
                    _model_lit(plane),
                    lambda x, wgt: x.cast("double") * wgt,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0
        ).cast("int")
        for plane in planes
    ]
    bands = []
    for b in range(0, len(bits), band_bits):
        chunk = bits[b : b + band_bits]
        acc = F.lit(0)
        for bit in chunk:
            acc = acc * 2 + bit
        bands.append((F.lit(b // band_bits) * 100000 + acc).alias(f"band{b // band_bits}"))
    return F.array(*bands)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 32,
    band_bits: int = 4,
    *,
    dim: int,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k cosine via sign-LSH band collision.

    corpus and queries are bucketed by band signature; candidates are
    pairs colliding in ≥1 band (equi-join on band value), then exact
    cosine + window top-k on candidates only. Recall is tunable via
    n_planes/bands; at 100 TB the band join replaces the full scan per
    query that brute force would need.

    ``dim`` (the vector length) is REQUIRED — a wrong dim makes zip_with
    pad with NULLs → NULL band hashes → silently empty results, and the
    old probe-one-row fallback ran a hidden driver-side job per call
    (VERDICT r4 "What's wrong" #2), so the caller must state it.
    """
    from pyspark.sql.window import Window

    from etl_apache_kafka_python_doker_aws_spark.util import ensure_parallelism

    planes = _hyperplanes(dim, n_planes, seed)
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        F.explode(lsh_signature(F.col(vec_col), planes, band_bits)).alias("band"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.explode(lsh_signature(F.col(vec_col), planes, band_bits)).alias("band"),
    )
    cand = (
        c.join(q, "band")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("_qvec"), F.col("_cvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 32,
    band_bits: int = 4,
    dim: int | None = None,
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """L2 (embedding-cosine near-dup): pairs (id_a < id_b, cos_sim) with
    cosine >= threshold.

    exact=False (default, the scale path): sign-LSH band self-join for
    candidates, exact cosine verify within buckets — same
    bucket-then-verify shape as MinHash dedup.
    exact=True: brute-force all-pairs (bounded inputs only; the oracle
    path for correctness checks).

    ``dim`` is REQUIRED for the LSH path (exact=False); there is
    deliberately no probe-a-row fallback (VERDICT r4 "What's wrong" #2 —
    a hidden driver job per call). exact=True ignores it.
    """
    from etl_apache_kafka_python_doker_aws_spark.util import ensure_parallelism

    if not exact and dim is None:
        raise ValueError(
            "embedding_near_dup_pairs(exact=False) requires dim= (vector "
            "length); a wrong or probed dim silently empties the result"
        )
    if exact:
        a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
        b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        planes = _hyperplanes(dim, n_planes, seed)
        banded = ensure_parallelism(corpus).select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.explode(lsh_signature(F.col(vec_col), planes, band_bits)).alias("band"),
        )
        a = banded.alias("a")
        b = banded.alias("b")
        pairs = (
            a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a._id") < F.col("b._id")))
            .select(
                F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                F.col("a._v").alias("_va"),
                F.col("b._v").alias("_vb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    return (
        pairs.withColumn("cos_sim", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _pq_train(
    dense: DataFrame,
    sub: int,
    n_subspaces: int,
    n_centroids: int,
    seed: int,
    train_fraction: float | None,
) -> list[list[list[float]]]:
    """Train one seeded KMeans codebook per subspace slice of the
    ``_v`` (array<double>) column. Returns [subspace][centroid][comp].
    Only this training step iterates; everything downstream (encode,
    ADC lookup tables) is pure JVM expressions over the literals."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    codebooks = []
    for s in range(n_subspaces):
        sl = dense.select(
            array_to_vector(F.slice("_v", s * sub + 1, sub)).alias("features")
        )
        train = sl
        if train_fraction is not None and train_fraction < 1.0:
            train = train.sample(False, train_fraction, seed=seed + s)
        km = KMeans(k=n_centroids, seed=seed + s, maxIter=10).fit(train)
        codebooks.append([list(map(float, c)) for c in km.clusterCenters()])
    return codebooks


def _kmeans_cells(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    seed: int,
    train_fraction: float | None,
) -> tuple[DataFrame, list[list[float]]]:
    """Seeded KMeans cell assignment shared by ivf_topk and
    semantic_dedup_pairs (review r6: the two inline copies could drift
    apart — the _pq_assign argument). Trains on ``train_fraction`` of
    the corpus (assignment always covers every vector), assigns each
    vector to its nearest centroid via the materialized-distance-array
    argmin, and returns (assigned, centroids) where assigned has
    columns ``_id``, ``_v`` (array<double>, built ONCE and reused for
    the feature vector) and ``_cell``."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from etl_apache_kafka_python_doker_aws_spark.util import ensure_parallelism

    dense = (
        ensure_parallelism(corpus)
        .select(
            F.col(id_col).alias("_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
        .withColumn("features", array_to_vector(F.col("_v")))
    )
    train = dense.select("features")
    if train_fraction is not None and train_fraction < 1.0:
        train = train.sample(withReplacement=False, fraction=train_fraction, seed=seed)
    km = KMeans(k=n_cells, seed=seed, maxIter=10).fit(train)
    centroids = [list(map(float, c)) for c in km.clusterCenters()]
    assigned = dense.select(
        "_id", "_v", _subspace_dists("_v", centroids).alias("_d")
    ).select(
        "_id",
        "_v",
        (F.array_position(F.col("_d"), F.array_min(F.col("_d"))) - 1)
        .cast("int")
        .alias("_cell"),
    )
    return assigned, centroids


def _pq_assign(dense: DataFrame, codebooks: list, sub: int) -> DataFrame:
    """Nearest-centroid assignment per subspace (shared by pq_encode and
    pq_topk so the stored codes and the search-path codes can never
    desynchronize — review r6): adds ``_c{s}`` (the code, 0-based) and
    ``_e{s}`` (squared distance to the chosen centroid) per subspace.
    ``_d{s}`` is materialized as a column reference first so the
    n_centroids × sub_dim distance tree evaluates once per row."""
    out = dense
    for s, book in enumerate(codebooks):
        out = out.withColumn(
            f"_d{s}", _subspace_dists(f"slice(_v, {s * sub + 1}, {sub})", book)
        )
    sel = [F.col(c) for c in dense.columns]
    for s in range(len(codebooks)):
        sel.append(
            (F.array_position(F.col(f"_d{s}"), F.array_min(F.col(f"_d{s}"))) - 1)
            .cast("int")
            .alias(f"_c{s}")
        )
        sel.append(F.array_min(F.col(f"_d{s}")).alias(f"_e{s}"))
    return out.select(*sel)


def _model_lit(values: list) -> Column:
    """The model table as ONE Catalyst ``Literal`` node (r16, VERDICT
    r15 #3). History of this hot spot: ``F.lit`` recursed one py4j
    Column per scalar (~1.4 s per 8×32×8 codebook set, r10); the r10-r15
    SQL ``array(array(…))`` text held ~n_elements CreateArray/Literal
    nodes, and every subsequent DataFrame composition step re-ANALYZES
    the whole plan, so ~12 steps per search call × ~3k literal leaves
    stayed the construction wall (~1.0 s/call). A single ``Literal``
    whose VALUE is the prebuilt ArrayData is O(1) for every analyzer
    walk: values cross py4j as raw IEEE-754 bytes (struct.pack →
    ByteBuffer → UnsafeArrayData), so they are bit-identical to
    ``F.lit`` (pinned element-wise in
    tests/test_operators_misc.py::test_model_lit_bit_identical_to_lit),
    and the plan prints/canonicalizes exactly like the constant-folded
    form the optimizer produced anyway. The built Column is
    session-cached keyed on CONTENT (``_model_key`` — expression
    construction, never data)."""
    return _col_cached("lit:" + _model_key(values), lambda: _literal_col(values))


def _model_key(values) -> str:
    """Content digest of a (possibly nested) model table — the cache
    key for built literal/LUT Columns. Raises on non-finite values
    (model tables are finite by construction; NaN/Inf here means a
    broken training step, rejected loudly)."""
    import hashlib
    import struct as _struct

    h = hashlib.sha1()

    def walk(v):
        if isinstance(v, (list, tuple)):
            h.update(b"[")
            for x in v:
                walk(x)
            h.update(b"]")
        else:
            f = float(v)
            if f != f or f in (float("inf"), float("-inf")):
                raise ValueError(f"_model_lit: non-finite model value {v!r}")
            h.update(_struct.pack(">d", f))

    walk(values)
    return h.hexdigest()


def _literal_col(values: list) -> Column:
    """Build the single-``Literal`` Column for a non-empty depth-1 or
    depth-2 float table via the classic py4j surface (the package needs
    the classic ``SparkContext`` JVM handle everywhere — the index
    sidecar reads go through it too). Raises ValueError on any other
    shape; a py4j error propagates. The ByteBuffer hop moves each row in
    ONE py4j transfer instead of one call per scalar."""
    import struct as _struct

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        raise ValueError("_literal_col: no active SparkContext")
    jvm = sc._jvm
    gw = sc._gateway

    def darr(vals):
        packed = _struct.pack(f">{len(vals)}d", *[float(v) for v in vals])
        bb = jvm.java.nio.ByteBuffer.wrap(bytearray(packed))
        arr = gw.new_array(jvm.double, len(vals))
        bb.asDoubleBuffer().get(arr)
        return arr

    uad = jvm.org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    jt = jvm.org.apache.spark.sql.types
    dbl = jt.DataTypes.DoubleType
    if values and all(
        isinstance(r, (list, tuple)) and len(r) > 0 for r in values
    ):
        oarr = gw.new_array(jvm.java.lang.Object, len(values))
        for i, r in enumerate(values):
            oarr[i] = uad.fromPrimitiveArray(darr(r))
        data = jvm.org.apache.spark.sql.catalyst.util.GenericArrayData(oarr)
        dt = jt.ArrayType(jt.ArrayType(dbl, False), False)
    elif values and all(not isinstance(v, (list, tuple)) for v in values):
        data = uad.fromPrimitiveArray(darr(values))
        dt = jt.ArrayType(dbl, False)
    else:
        raise ValueError(
            "_literal_col: model tables are non-empty depth-1 or depth-2 "
            f"float lists, got {values!r:.80}"
        )
    lit = jvm.org.apache.spark.sql.catalyst.expressions.Literal(data, dt)
    return Column(jvm.org.apache.spark.sql.classic.ExpressionUtils.column(lit))


def _residual(vec_col: Column, cell_col: Column, centroids: list[list[float]]) -> Column:
    """vec − centroid[cell], as a JVM expression over the literal
    centroid table — the classic FAISS IVFPQ residual: PQ codebooks
    trained on residuals see the (much tighter) within-cell spread
    instead of the global spread, so the same code budget quantizes
    finer when cells are tight."""
    cent = _model_lit(centroids)
    return F.zip_with(
        vec_col, F.element_at(cent, cell_col.cast("int") + 1), lambda x, c: x - c
    )


def ann_shortlist(n: int) -> int:
    """Corpus-scaled exact-re-rank shortlist: min(max(200, n // 10),
    100k). Promoted from the workload layer (VERDICT r8 #2): fixed
    shortlists are calibration-dependent — r7: 50 sat at the recall
    boundary between sf0.01 and sf0.1 (200 restored margin); the r8
    synthetic-sf1 sweep measured fixed-200 at recall 0.22 on a
    20k-vector decorrelated corpus while n/10 restores 0.86. A serving
    system sizes the shortlist from its index size; the library
    defaults (``shortlist="auto"`` in ivf_pq_topk / ann_index_search)
    do the same so a direct caller never ships the fixture-tuned
    footgun.

    The n/10 growth is the SMALL-corpus recall fix (fixture-sized
    models quantize coarsely relative to the corpus, so the re-rank
    must see a real fraction of it) — it must not extrapolate
    linearly: an uncapped auto shortlist at 10⁹ vectors would mean
    10⁸-row windows per query and (in ann_index_search) an O(n)
    driver-side candidate collect. Past the cap the recall lever is
    the MODEL, not the shortlist: rebuild with more cells/centroids
    (``ann_index_rebuild``) or pin an explicit FAISS-class shortlist
    (1k-10k) sized to measured recall."""
    return min(max(200, n // 10), 100_000)


def _query_probe_luts(
    q_base: DataFrame,
    centroids: list[list[float]],
    codebooks: list,
    sub: int,
    n_probe: int,
    residual: bool,
    allowed_cells: list[int] | None = None,
) -> DataFrame:
    """The shared QUERY side of IVFPQ search (extracted r8 — the
    _kmeans_cells/_pq_assign drift argument: ivf_pq_topk and the
    persisted ann_index_search must rank/probe/LUT identically or the
    serving path silently desynchronizes from the analytics path).
    ``q_base`` is (query_id, _qvec array<double>); returns one row per
    (query, probed cell): (query_id, _qvec, cell, _lut).

    Ranks centroids by distance — restricted to ``allowed_cells`` when
    given, BEFORE taking the top ``n_probe`` (ADVICE r7: a query whose
    globally-nearest cells fall outside the whitelist probes its
    nearest whitelisted cells, never silently fewer) — explodes the
    probes, and builds the ADC lookup tables: per query for global
    codebooks, per (query, probed cell) over (qvec − centroid[cell])
    when ``residual``."""
    # SQL-string forms (r15): each _subspace_dists call used to build
    # ~6 py4j lambda Columns; with 8 codebooks + the centroid ranking
    # that was ~0.46 s of driver time per search call (A/B-measured,
    # same session, vs 0.09 s after) — one F.expr parse per LUT now
    q_dists = _subspace_dists("_qvec", centroids)
    ranked = F.array_sort(
        F.zip_with(
            q_dists,
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        )
    )
    if allowed_cells is not None:
        # -1 sentinel for an empty whitelist: F.array() of zero args has
        # no element type, and no real cell is negative
        allowed = (
            F.array(*[F.lit(int(c)) for c in allowed_cells])
            if allowed_cells
            else F.array(F.lit(-1))
        )
        ranked = F.filter(
            ranked, lambda s: F.array_contains(allowed, s.getField("i"))
        )
    probe = F.explode(
        F.slice(F.transform(ranked, lambda s: s.getField("i")), 1, n_probe)
    ).alias("cell")
    if residual:
        return (
            q_base.select("query_id", "_qvec", probe)
            .withColumn("_qres", _residual(F.col("_qvec"), F.col("cell"), centroids))
            .select(
                "query_id",
                "_qvec",
                "cell",
                _lut_expr("_qres", codebooks, sub).alias("_lut"),
            )
        )
    return q_base.select(
        "query_id",
        "_qvec",
        _lut_expr("_qvec", codebooks, sub).alias("_lut"),
        probe,
    )


def _sq_l2(slice_col: Column):
    """Closure factory for the per-centroid squared-L2 lambda (the
    default-arg-closure HOF trap from CLAUDE.md: a two-param lambda
    binds its second arg to the ARRAY INDEX). The body is byte-for-byte
    the one the r15 SQL text built, so every float result is
    identical."""
    return lambda cen: F.aggregate(
        F.zip_with(slice_col, cen, lambda x, cc: (x - cc) * (x - cc)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _lut_expr(vec_name: str, codebooks: list, sub: int) -> Column:
    """The full per-query ADC lookup table — one array entry per
    subspace codebook — composed over single-``Literal`` codebooks and
    session-cached as ONE built Column (r16; the r15 form rendered it
    as one cached ``F.expr`` parse, but the parsed ~2k-literal tree
    still charged every later composition step's analysis — see
    ``_model_lit``)."""
    return _col_cached(
        f"lut:{vec_name}:{sub}:{_model_key(codebooks)}",
        lambda: F.array(
            *[
                F.transform(
                    _model_lit(book),
                    _sq_l2(F.slice(F.col(vec_name), s * sub + 1, sub)),
                )
                for s, book in enumerate(codebooks)
            ]
        ),
    )


def _subspace_dists(slice_col, book: list[list[float]]) -> Column:
    """Squared L2 distance from an array slice to each centroid of one
    codebook, as an array<double> expression. The codebook enters as ONE
    single-node LITERAL + a transform HOF (r8 shrank the unrolled
    aggregate trees to one literal tree per book; r16 collapses that
    tree to one Literal NODE — see ``_model_lit``), so executor-side
    cost is unchanged while analyzer walks stop scaling with model
    size.

    ``slice_col`` may be a SQL STRING (a bare column name or an
    expression like ``"slice(_v, 1, 8)"``) — the composed Column is
    then session-cached keyed on (expression text, codebook content),
    so repeat calls (every search/encode on a pinned-model index) reuse
    the built expression outright."""
    if isinstance(slice_col, str):
        return _col_cached(
            f"sd:{slice_col}:{_model_key(book)}",
            lambda: F.transform(_model_lit(book), _sq_l2(F.expr(slice_col))),
        )
    return F.transform(_model_lit(book), _sq_l2(slice_col))


def pq_encode(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
    n_subspaces: int = 4,
    n_centroids: int = 16,
    seed: int = 42,
    train_fraction: float | None = None,
) -> DataFrame:
    """L3/L5 storage path: PRODUCT QUANTIZATION — compress each vector to
    ``n_subspaces`` small codes (one seeded KMeans codebook per subspace
    slice), the standard way to hold billions of embeddings in memory:
    dim×4 bytes shrink to n_subspaces×1 (16 centroids fit a byte; 64-d
    float32 → 4 bytes = 64×). Returns (id, codes array<int>,
    reconstruction_mse double) — the codebooks are tiny
    (n_subspaces × n_centroids × sub_dim) and broadcast as literals, so
    encode and decode are pure JVM expressions over the corpus; only
    codebook TRAINING iterates (``train_fraction`` samples it at scale,
    like ivf_topk).

    Asymmetric-distance search over these codes is ``pq_topk``; recall
    for that path is bounded by reconstruction MSE, which is what the
    registered contract pins."""
    from etl_apache_kafka_python_doker_aws_spark.util import ensure_parallelism

    if dim % n_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub = dim // n_subspaces
    dense = ensure_parallelism(corpus).select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    codebooks = _pq_train(dense, sub, n_subspaces, n_centroids, seed, train_fraction)

    out = _pq_assign(dense, codebooks, sub)
    total_err = sum((F.col(f"_e{s}") for s in range(n_subspaces)), F.lit(0.0))
    return out.select(
        F.col("_id").alias(id_col),
        F.array(*[F.col(f"_c{s}") for s in range(n_subspaces)]).alias("codes"),
        (total_err / dim).alias("reconstruction_mse"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    dim: int,
    n_subspaces: int = 4,
    n_centroids: int = 16,
    seed: int = 42,
    train_fraction: float | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """L3 scale path #3: PQ ASYMMETRIC-DISTANCE (ADC) top-k search
    (VERDICT r5 #3) — approximate nearest neighbors by squared L2 over
    the compressed codes; the raw corpus vectors are touched only for
    the (tiny) re-rank shortlist, never for scoring the corpus.

    How: train per-subspace codebooks (seeded KMeans, ``train_fraction``
    samples at scale), encode every corpus vector to ``n_subspaces``
    byte codes, and compute for each query a lookup table
    LUT[s][c] = ||q_s - centroid_{s,c}||² (n_subspaces × n_centroids
    doubles — the classic ADC table). A corpus item's approximate
    distance is then Σ_s LUT[s][codes[s]] — one array lookup + add per
    subspace, a pure JVM ``zip_with``/``aggregate`` over the broadcast
    query LUTs. At 100 TB the scan side carries n_subspaces small ints
    per vector instead of dim floats (4×16 → **64× less memory/IO**,
    8×32 → 32×), the reason PQ is how billion-vector indexes fit in RAM.

    ``shortlist=N`` adds the standard ADC-then-refine stage: take the
    top-N per query by ADC, fetch ONLY those rows' raw vectors (a
    broadcast join of |queries|·N ids against the corpus — at cluster
    scale this is the point-lookup tier), and re-rank exactly. On
    near-uniform embeddings quantized distances concentrate, so
    ADC-only ranking is weak but the shortlist still contains the true
    neighbors — MEASURED recall-of-true-top-5 on the seeded sf0.01
    fixture (64-d): 4×16 ADC-only 0.10, 8×32 ADC-only 0.24, 8×32 +
    shortlist-50 exact re-rank **0.86** (the registered l3_pq_search
    contract uses the latter, bound 0.6).

    Plan shape: broadcast(queries+LUTs) ⋈ corpus-codes (no corpus
    shuffle), one window shuffle on query_id for the shortlist, one
    broadcast join + window for the re-rank — identical skeleton to
    cosine_topk but over codes. Both hints are SIZE-GATED (VERDICT
    r10 #1): past ``_BCAST_MAX_CELLS`` of measured mass they are
    dropped and AQE picks the join from runtime stats.

    Returns (query_id, neighbor_id, dist, rk) — dist ASCENDING squared
    L2 (ADC-approximate without ``shortlist``, exact over the re-ranked
    shortlist with it), ties broken on neighbor_id.

    Queries are assumed drawn from the CORPUS ID SPACE: a corpus row
    whose id equals the query id is excluded as a self-match. For an
    external query frame, make its ids disjoint from the corpus ids
    (or re-key) — a coincidental id collision would silently drop a
    legitimate neighbor (ADVICE r6).
    """
    from pyspark.sql.window import Window

    from etl_apache_kafka_python_doker_aws_spark.util import ensure_parallelism

    if dim % n_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub = dim // n_subspaces
    dense = ensure_parallelism(corpus).select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    codebooks = _pq_train(dense, sub, n_subspaces, n_centroids, seed, train_fraction)

    # Encode the corpus with the SAME assignment stage pq_encode uses.
    coded = _pq_assign(dense, codebooks, sub).select(
        F.col("_id").alias("neighbor_id"),
        F.array(*[F.col(f"_c{s}") for s in range(n_subspaces)]).alias("_codes"),
    )

    # Per-query ADC lookup tables: array of n_subspaces arrays of
    # n_centroids squared distances (codebooks ride as literals).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_qvec"),
    ).select(
        "query_id",
        "_qvec",
        _lut_expr("_qvec", codebooks, sub).alias("_lut"),
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("_codes"),
            F.col("_lut"),
            lambda code, lut_row: F.element_at(lut_row, code + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # size-gated hints (VERDICT r10 #1): one stats job covers both the
    # query-LUT broadcast (n_q rows × [vec + n_subspaces·n_centroids
    # LUT cells]) and the re-rank candidate broadcast below (≤
    # n_q·shortlist rows, each carrying the query vector)
    n_q, d_q = _batch_stats(q)
    lut_cells = n_subspaces * n_centroids
    scored = (
        coded.crossJoin(_hint_if_bounded(q, n_q * (d_q + lut_cells + 1)))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "_qvec", "neighbor_id", adc.alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    if shortlist is None:
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "neighbor_id", "dist", "rk")
        )
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} must be >= k {k}")
    cand = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= shortlist)
        .select("query_id", "_qvec", "neighbor_id")
    )
    # Exact refine: fetch raw vectors for shortlist ids only — a
    # size-gated broadcast of the ≤ |queries|·shortlist candidate rows
    # (each carrying its query vector) against the corpus scan; past
    # the gate the hint is dropped and AQE picks the join (r11,
    # VERDICT r10 #1: the unconditional hint was a forced OOM at
    # crawl-snapshot query-batch sizes).
    exact_d = F.aggregate(
        F.zip_with(
            F.col("_qvec"),
            F.col("_v"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    reranked = (
        dense.withColumnRenamed("_id", "neighbor_id")
        .join(_hint_if_bounded(cand, n_q * shortlist * (d_q + 2)), "neighbor_id")
        .select("query_id", "neighbor_id", exact_d.alias("dist"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        reranked.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "dist", "rk")
    )


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact squared-L2 top-k (the correctness baseline for pq_topk —
    same metric, uncompressed). Broadcast(queries) ⋈ corpus, one window
    shuffle; returns (query_id, neighbor_id, l2_dist, rk).

    Queries are assumed drawn from the CORPUS ID SPACE: a corpus row
    whose id equals the query id is excluded as a self-match. For an
    external query frame, make its ids disjoint from the corpus ids
    (or re-key) — a coincidental id collision would silently drop a
    legitimate neighbor (ADVICE r6).
    """
    from pyspark.sql.window import Window

    from etl_apache_kafka_python_doker_aws_spark.util import ensure_parallelism

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    d = F.aggregate(
        F.zip_with(
            F.col("_qvec"),
            F.col("_cvec"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n_q, d_q = _batch_stats(q)
    scored = (
        c.crossJoin(_hint_if_bounded(q, n_q * (d_q + 1)))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d.alias("l2_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "l2_dist", "rk")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train_fraction: float | None = None,
) -> DataFrame:
    """L3 scale path #2: IVF (inverted-file) approximate top-k.

    Train KMeans centroids (MLlib, seeded) on the corpus, assign every
    vector to its nearest cell, and search each query only in its
    `n_probe` nearest cells. Candidate generation is an equi-join on
    cell_id — like LSH but with data-adaptive partitions, which beats
    random hyperplanes when the corpus is clustered. At 100 TB the
    centroid model is tiny (n_cells × dim) and broadcast everywhere.

    ``train_fraction``: seeded Bernoulli sample of the corpus used for
    KMeans training only (assignment still covers every vector). At
    cluster scale pass e.g. 1e-4 — centroid quality needs thousands of
    vectors per cell, not the full corpus, and KMeans makes maxIter
    passes over its training set (VERDICT r1: training must sample at
    100 TB). None/1.0 trains on everything (fixture scale).
    """
    from pyspark.sql.window import Window

    assigned, centroids = _kmeans_cells(
        corpus, id_col, vec_col, n_cells, seed, train_fraction
    )
    c_assigned = assigned.select(
        F.col("_id").alias("neighbor_id"),
        F.col("_v").alias("_cvec"),
        F.col("_cell").alias("cell"),
    )
    q_dists = _subspace_dists(
        F.transform(F.col(vec_col), lambda x: x.cast("double")), centroids
    )
    q_cells = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.explode(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.zip_with(
                            q_dists,
                            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
                        )
                    ),
                    lambda s: s.getField("i"),
                ),
                1,
                n_probe,
            )
        ).alias("cell"),
    )
    cand = c_assigned.join(q_cells, "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id", "neighbor_id", cosine(F.col("_qvec"), F.col("_cvec")).alias("cos_sim")
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    dim: int,
    n_cells: int = 16,
    n_probe: int = 8,
    n_subspaces: int = 8,
    n_centroids: int = 32,
    seed: int = 42,
    train_fraction: float | None = None,
    shortlist: int | str | None = "auto",
    residual: bool = False,
) -> DataFrame:
    """L3 deployable ANN shape (VERDICT r6 #2): IVF coarse quantizer +
    PQ asymmetric-distance scan + exact shortlist re-rank, COMPOSED —
    the FAISS-IVFPQ layout every billion-vector serving index uses.

    Why compose: ``pq_topk`` still ADC-scans EVERY corpus code per
    query (cheap per row, but 100 TB of rows is 100 TB of rows);
    ``ivf_topk`` scans only ``n_probe``/``n_cells`` of the corpus but
    carries raw vectors through its candidate join. This path does
    both reductions at once — candidates come from the cell equi-join
    (rows scanned per query ≈ corpus × n_probe/n_cells — ~125 of 500
    fixture rows at 4/16 probed vs 500/query for full-corpus ADC) and
    each candidate row carries only
    ``n_subspaces`` byte codes (8 B at 8×32 vs 512 B of raw floats —
    64× less candidate-join IO). Exact distances touch only the
    ``shortlist`` re-rank ids (broadcast point-lookup join), the same
    refine stage pq_topk ships.

    Approximation stack (documented, each measurable): IVF recall loss
    (true neighbor in an unprobed cell) × PQ ranking loss inside probed
    cells (bounded by shortlist + exact re-rank). By default raw
    vectors are PQ'd as-is with GLOBAL codebooks shared across cells;
    ``residual=True`` (VERDICT r7 #6) trains and encodes per-cell
    RESIDUALS (vec − centroid[cell]) — classic FAISS IVFPQ, which wins
    when cells are tight (the query-side ADC LUT is then computed per
    probed cell, after the probe explode — n_probe tiny tables per
    query). Measured on the near-uniform fixture (sf0.1, 8 probes of
    16 cells, shortlist 200): recall-of-exact-top-5 parity with the
    global-codebook form — see SCALING.md "residual IVFPQ"; cells are
    wide there, so the residual win is reserved for clustered corpora.
    MEASURED recall-of-true-top-5, sf0.01 fixture (64-d, 8×32,
    shortlist=50): n_probe=4/16 cells 0.70, n_probe=8/16 **0.78** vs
    0.86 for full-scan pq_topk — the recall cost buys the 2-4×
    candidate-row reduction (n_probe/n_cells tunes that trade; fixture
    cell sizes 3-67, mean 31, so 4 probes ≈ 125 rows/query scanned).

    Plan: two tiny broadcast models (centroids n_cells×dim, codebooks
    n_subspaces×n_centroids×sub as literals), corpus side = one
    projection to (cell, codes), one cell equi-join, one window
    shuffle, one SIZE-GATED broadcast re-rank join (past
    ``_BCAST_MAX_CELLS`` the hint is dropped — VERDICT r10 #1). No
    corpus-wide crossJoin.

    Returns (query_id, neighbor_id, dist, rk) — squared L2, exact over
    the re-ranked shortlist (ADC-approximate when ``shortlist=None``).
    Queries are assumed drawn from the corpus id space: exact id
    matches are excluded as self-matches (pass disjoint ids — or dedup
    downstream — for external query frames; see pq_topk note).
    """
    from pyspark.sql.window import Window

    if dim % n_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    if shortlist == "auto":
        # corpus-scaled, not fixture-tuned (VERDICT r8 #2 — the sf1
        # sweep measured recall 0.22 with fixed shortlist=50 on a 20k
        # corpus); one cheap columnar count
        shortlist = ann_shortlist(corpus.count())
    sub = dim // n_subspaces
    assigned, centroids = _kmeans_cells(
        corpus, id_col, vec_col, n_cells, seed, train_fraction
    )
    enc_in = assigned
    if residual:
        enc_in = assigned.select(
            "_id",
            _residual(F.col("_v"), F.col("_cell"), centroids).alias("_v"),
            "_cell",
        )
    codebooks = _pq_train(enc_in, sub, n_subspaces, n_centroids, seed, train_fraction)
    coded = _pq_assign(enc_in, codebooks, sub).select(
        F.col("_id").alias("neighbor_id"),
        F.col("_cell").alias("cell"),
        F.array(*[F.col(f"_c{s}") for s in range(n_subspaces)]).alias("_codes"),
    )

    # Per-query: ADC lookup tables + the n_probe nearest cells by
    # centroid distance (both from broadcast literal models) — the
    # query side shared verbatim with ann_index_search.
    qv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q_base = queries.select(F.col(id_col).alias("query_id"), qv.alias("_qvec"))
    q_cells = _query_probe_luts(q_base, centroids, codebooks, sub, n_probe, residual)
    adc = F.aggregate(
        F.zip_with(
            F.col("_codes"),
            F.col("_lut"),
            lambda code, lut_row: F.element_at(lut_row, code + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        coded.join(q_cells, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "_qvec", "neighbor_id", adc.alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    if shortlist is None:
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "neighbor_id", "dist", "rk")
        )
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} must be >= k {k}")
    cand = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= shortlist)
        .select("query_id", "_qvec", "neighbor_id")
    )
    exact_d = F.aggregate(
        F.zip_with(F.col("_qvec"), F.col("_v"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # size-gated re-rank hint (VERDICT r10 #1): ≤ n_q·shortlist rows,
    # each carrying the query vector — bounded per query, not in the
    # number of queries, so a crawl-snapshot batch drops the hint
    n_q, d_q = _batch_stats(q_base)
    reranked = (
        assigned.select(F.col("_id").alias("neighbor_id"), "_v")
        .join(_hint_if_bounded(cand, n_q * shortlist * (d_q + 2)), "neighbor_id")
        .select("query_id", "neighbor_id", exact_d.alias("dist"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        reranked.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "dist", "rk")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rk",
    k: int = 60,
    top: int = 20,
) -> DataFrame:
    """Reciprocal Rank Fusion — the standard hybrid-retrieval combiner
    (fuse a sparse/BM25 ranking with a dense/cosine ranking without
    score calibration): score(id) = Σ_lists 1 / (k + rank_list(id)),
    absent-from-list contributes 0.

    Exactness: ranks are integers, 1.0/(k + rk) is one exactly-rounded
    IEEE division, and the sum is a FIXED-ORDER expression over the
    rankings list (an outer-join chain, not an aggregation) — so fused
    scores are bit-identical on any engine and an exact-hash oracle is
    safe. Plan: |lists|-1 small outer joins over top-N lists (tiny by
    construction), TakeOrderedAndProject for the final cut.

    Returns (id_col, rrf_score, rk) — rk ties break on id.
    """
    from pyspark.sql.window import Window

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    fused = None
    for i, r in enumerate(rankings):
        ri = r.select(F.col(id_col), F.col(rank_col).alias(f"_rk{i}"))
        fused = ri if fused is None else fused.join(ri, id_col, "full_outer")
    score = None
    for i in range(len(rankings)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(k) + F.col(f"_rk{i}")), F.lit(0.0)
        )
        score = term if score is None else score + term
    topped = (
        fused.withColumn("_score", score)
        .orderBy(F.col("_score").desc(), F.col(id_col).asc())
        .limit(top)
    )
    w = Window.orderBy(F.col("_score").desc(), F.col(id_col).asc())
    return topped.withColumn("rk", F.row_number().over(w)).select(
        F.col(id_col),
        F.round("_score", 6).alias("rrf_score"),
        "rk",
    )


def ann_grouped_topk(
    queries: DataFrame,
    path: str,
    doc_map: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    chunk_k: int = 20,
    n_probe: int = 8,
    shortlist: int | str | None = "auto",
    allowed: DataFrame | None = None,
    where: str | None = None,
    prune: bool | str = "auto",
    retarget_probes: bool = True,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Index-backed MULTI-VECTOR (grouped) retrieval — the serving form
    of the late-interaction-lite shape (VERDICT r13 #1): documents are
    represented by MANY chunk vectors living in a persisted ANN index
    (``ann_index_build`` over the chunk tier), a document's score for a
    query is the best (minimum squared-L2 ⇔ maximum similarity) over
    its chunks, and retrieval returns top-``k`` DOCUMENTS. The exact
    form (``workloads.llm.l3_grouped_maxsim``) scans the WHOLE chunk
    tier per query batch — right for analytics, unserveable at 100 TB;
    this form touches only the index's probed cells + the bounded
    shortlist, like any other ``ann_index_search``.

    Two forms (r15, VERDICT r14 #1 — payload-backed vs doc_map):

    * **Payload form** (``doc_map=None``, the default): the index was
      built with ``payload_cols=[doc_col, …]`` (``ann_index_build``),
      so every chunk hit already CARRIES its document id — the plan is
      (1) ``ann_index_search(queries, path, k=chunk_k, …)`` with all
      the index machinery composing (tombstone retraction, probe
      re-targeting, cost-based refine pruning, auto shortlist);
      (2) min-pool per (query, doc) straight off the hits — partial
      map-side agg, ONE exchange carrying one row per (query, doc)
      pair; (3) window top-``k`` docs. NO frame but the index tiers
      and ``queries`` is scanned (plan-pinned) and no per-call count
      job runs — the r14 form's 1-3 corpus-cardinality doc_map scans
      per call are gone. A DOC-level ``allowed`` filter semi-joins the
      stored ``doc_col`` on the slim codes tier directly
      (``ann_index_search(allowed_on=doc_col)``) — no doc→chunk
      translation join either.
    * **doc_map form** (payload-less indexes): map the
      ≤ |queries|·chunk_k chunk hits to documents via ``doc_map``
      (first two columns = (chunk_id, doc_id)) — the hits side rides a
      SIZE-GATED broadcast hint (the r11 rule; one cheap count of the
      query batch sizes the gate), so the corpus-sized ``doc_map`` scan
      never shuffles; relying on AQE's runtime SMJ→BHJ conversion instead
      would still SHUFFLE-WRITE the whole map first — AQE decides from
      materialized shuffle stats, so the corpus-sized pass to local
      disk has already happened by the time it converts (measured in
      the plan pin: the initial exchange survives in the final
      adaptive plan). Past the gate (a corpus-sized query batch) the
      hint drops and the pair shuffle is the honest plan. This form
      never re-scans or re-shuffles the VECTOR corpus, but it does
      scan the corpus-CARDINALITY ``doc_map`` once per call (and its
      ``allowed`` translation semi-joins it again) — the priced trade
      the payload form removes; a 2-column map is ~6% of the vector
      tier's bytes.

    ``chunk_k`` bounds how many chunk hits pool per query — a doc
    ranks by its BEST surviving chunk, so recall needs chunk_k large
    enough that k distinct docs appear among the nearest chunks
    (chunks of one hot doc can crowd the list; default 20 = 4× k=5).
    ``allowed`` filters at the DOCUMENT level (first column = allowed
    doc ids) in both forms, per-filtered-corpus top-k with probes
    re-targeted to the cells that hold allowed docs' chunks
    (``retarget_probes`` passes through — keep the default for
    selective filters, pass False for broad ones). ``where`` (r15)
    passes a stored-payload SQL predicate to the underlying search
    (pushed scan filter, composes with ``allowed`` by AND) — with a
    doc-level attribute stored per chunk (e.g. ``payload_cols=
    ["doc_id","lang"]``) this is doc-level attribute filtering with
    zero caller frames at any selectivity; on the doc_map form the
    predicate may only reference ``_id``/``cell`` (a payload-less
    index stores nothing else). Self-chunk matches
    are excluded by the index (shared-id-space rule); a query's own
    document may still rank via its other chunks — same semantics as
    the exact form.

    Returns (query_id, doc_id, dist, rk): dist = exact squared-L2 of
    the doc's best surviving chunk, rk 1..k per query (ties break on
    doc_id)."""
    from pyspark.sql.window import Window

    from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
        ann_index_meta,
        ann_index_search,
    )

    if doc_map is None:
        meta = ann_index_meta(queries.sparkSession, path)
        if meta is None:
            raise ValueError(f"ann_grouped_topk: no index at {path}")
        if doc_col not in (meta.get("payload_cols") or []):
            raise ValueError(
                f"ann_grouped_topk: no doc_map given and the index at "
                f"{path} stores no {doc_col!r} payload column "
                f"(payload_cols={meta.get('payload_cols')}) — build with "
                f"payload_cols=[{doc_col!r}] or pass doc_map"
            )
        hits = ann_index_search(
            queries,
            path,
            id_col,
            vec_col,
            k=chunk_k,
            n_probe=n_probe,
            shortlist=shortlist,
            prune=prune,
            allowed=allowed,
            allowed_on=doc_col if allowed is not None else None,
            where=where,
            retarget_probes=retarget_probes,
        )
        pooled = (
            hits.select(
                "query_id", F.col(doc_col).alias("doc_id"), "dist"
            )
            .groupBy("query_id", "doc_id")
            .agg(F.min("dist").alias("dist"))
        )
    else:
        chunk_col, map_doc_col = doc_map.columns[0], doc_map.columns[1]
        chunk_allowed = None
        if allowed is not None:
            akey = allowed.columns[0]
            chunk_allowed = doc_map.join(
                allowed.select(F.col(akey).alias(map_doc_col)),
                map_doc_col,
                "left_semi",
            ).select(chunk_col)
        hits = ann_index_search(
            queries,
            path,
            id_col,
            vec_col,
            k=chunk_k,
            n_probe=n_probe,
            shortlist=shortlist,
            prune=prune,
            allowed=chunk_allowed,
            where=where,
            retarget_probes=retarget_probes,
        )
        # the gate needs the query-batch size: one cheap count (the
        # _batch_stats pattern — under a nondeterministic queries
        # lineage the count is gate-only, recall-safe)
        n_q = queries.select(id_col).count()
        pooled = (
            doc_map.select(
                F.col(chunk_col).alias("neighbor_id"),
                F.col(map_doc_col).alias("doc_id"),
            )
            # slim the hits to the pooled keys BEFORE the map join
            # (review r15): a payload-backed index returns its stored
            # columns on every hit, and a payload named doc_id would
            # collide with the map's — AMBIGUOUS_REFERENCE at best,
            # silently pooling on the wrong column at worst
            .join(
                _hint_if_bounded(
                    hits.select("query_id", "neighbor_id", "dist"),
                    n_q * chunk_k * 4,
                ),
                "neighbor_id",
            )
            .groupBy("query_id", "doc_id")
            .agg(F.min("dist").alias("dist"))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("doc_id").asc()
    )
    return (
        pooled.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "dist", "rk")
    )


def ann_grouped_dedup_batch(
    new_chunks: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    doc_map: DataFrame | None = None,
    *,
    batch_id: str,
    threshold: float,
    chunk_k: int = 20,
    n_probe: int = 8,
    shortlist: int | str | None = "auto",
    allowed: DataFrame | None = None,
    where: str | None = None,
    retarget_probes: bool = True,
    doc_col: str = "doc_id",
    resume: bool = False,
) -> DataFrame:
    """DOC-level semantic near-duplicate detection for a NEW batch of
    multi-chunk documents against the persisted ANN index — the dedup
    twin of ``ann_grouped_topk`` and the grouped analog of
    ``ann_index_dedup_batch``: a crawl snapshot arrives as chunk
    vectors grouped into documents, and the question is "which of my
    NEW documents near-duplicate any document ever ingested?" — scored
    at the document level (best chunk pair), not the chunk level, so a
    doc re-crawled with reordered/renamed chunks still pairs.

    Appends the batch first (encoded with the pinned models — it
    becomes part of the index for the NEXT snapshot, the incremental
    contract the minhash tier set in r7), searches each new chunk
    (``chunk_k`` hits through all the index machinery: tombstones,
    refine pruning, auto shortlist), maps BOTH hit sides to documents,
    drops same-document pairs, min-pools squared L2 per (new doc,
    other doc) and keeps pairs with ``dist <= threshold``. Cosine rule
    via L2-normalized embeddings: ``threshold = 2*(1-tau)`` (the
    ann_index_dedup_batch note).

    Two doc-lineage forms (r15, VERDICT r14 #1, mirroring
    ``ann_grouped_topk``):

    * **Payload form** (``doc_map=None``, the default): the index
      stores ``doc_col`` as a payload column, so every hit carries the
      NEIGHBOR's doc id already, and ``new_chunks`` must carry
      ``doc_col`` too (the append pins the payload schema) — the QUERY
      side's doc ids come from the batch frame itself. Cost shape per
      snapshot: one encode projection + one batch-sized search + one
      batch-sized (query_id → query_doc) join + one (doc, doc) pair
      shuffle. NOTHING corpus-cardinality is scanned per call — the
      r14 form's 2-3 doc_map scans are gone. A DOC-level ``allowed``
      semi-joins the stored payload on the slim tier directly.
    * **doc_map form** (payload-less indexes): first two columns =
      (chunk_id, doc_id); must cover indexed AND new chunks. Joins
      ride the SIZE-GATED broadcast hint on the bounded hits side (the
      ann_grouped_topk rule — AQE's runtime conversion would still
      shuffle-write the corpus-sized map). This form never re-scans or
      re-shuffles the VECTOR corpus, but it scans the
      corpus-cardinality ``doc_map`` twice per call (pooled join +
      query-map derivation; three times with ``allowed``) — the priced
      trade the payload form removes.

    Approximate by construction; VERBATIM chunk copies are exact
    (identical cell + codes ⇒ shortlisted ⇒ re-rank 0), so a
    verbatim-recrawled doc pairs at dist exactly 0. Pairs where BOTH
    docs arrived in this batch are emitted in both directions
    (provenance stays "new doc → matched doc").

    ``allowed`` filters at the DOCUMENT level, like ``ann_grouped_topk``
    ("does this snapshot duplicate anything in the licensed subset?");
    probes re-target per ``retarget_probes``. The batch's own docs pair
    only if listed in ``allowed`` — the chunk-level NOTE above applies
    at doc granularity. ``where`` (r15) passes a stored-payload SQL
    predicate to the search side (pushed scan filter, ANDs with
    ``allowed``); note the predicate filters NEIGHBOR candidates only —
    the batch's own appended rows are subject to it like any other
    indexed row.

    ``resume`` (r15, VERDICT r14 #3): retry contract for a crash AFTER
    the append committed but before the caller consumed the pairs —
    passes through to ``ann_index_dedup_batch``: the rerun skips the
    append when the batch marker exists with a matching row count and
    re-runs only the search side, returning the identical pair set
    (mismatch raises; no marker yet ⇒ the mid-append contract applies:
    compact, then rerun).

    Returns (query_doc, neighbor_doc, dist)."""
    from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
        ann_index_dedup_batch,
        ann_index_meta,
    )

    if doc_map is None:
        meta = ann_index_meta(new_chunks.sparkSession, path)
        if meta is None:
            raise ValueError(f"ann_grouped_dedup_batch: no index at {path}")
        if doc_col not in (meta.get("payload_cols") or []):
            raise ValueError(
                f"ann_grouped_dedup_batch: no doc_map given and the index "
                f"at {path} stores no {doc_col!r} payload column "
                f"(payload_cols={meta.get('payload_cols')}) — build with "
                f"payload_cols=[{doc_col!r}] or pass doc_map"
            )
        if doc_col not in new_chunks.columns:
            raise ValueError(
                f"ann_grouped_dedup_batch: payload form needs {doc_col!r} "
                f"on new_chunks (columns: {new_chunks.columns})"
            )
        # threshold applies AFTER doc-level min-pooling (inf passthrough
        # — see the doc_map branch comment)
        hits = ann_index_dedup_batch(
            new_chunks, id_col, vec_col, path,
            batch_id=batch_id, threshold=float("inf"), k=chunk_k,
            n_probe=n_probe, shortlist=shortlist,
            allowed=allowed,
            allowed_on=doc_col if allowed is not None else None,
            where=where,
            retarget_probes=retarget_probes, resume=resume,
        )
        n_new = new_chunks.select(id_col).count()
        # query docs from the BATCH frame (the review-r14 rule — never
        # recover ids from the uncached search lineage); batch-sized,
        # so the hint gate is the batch mass
        query_map = new_chunks.select(
            F.col(id_col).alias("query_id"),
            F.col(doc_col).alias("query_doc"),
        )
        pooled = (
            hits.select(
                "query_id",
                F.col(doc_col).alias("neighbor_doc"),
                "dist",
            )
            .join(_hint_if_bounded(query_map, n_new * 2), "query_id")
            .filter(F.col("query_doc") != F.col("neighbor_doc"))
            .groupBy("query_doc", "neighbor_doc")
            .agg(F.min("dist").alias("dist"))
            .filter(F.col("dist") <= F.lit(float(threshold)))
        )
        return pooled.select("query_doc", "neighbor_doc", "dist")

    chunk_col, map_doc_col = doc_map.columns[0], doc_map.columns[1]
    chunk_allowed = None
    if allowed is not None:
        akey = allowed.columns[0]
        chunk_allowed = doc_map.join(
            allowed.select(F.col(akey).alias(map_doc_col)),
            map_doc_col,
            "left_semi",
        ).select(chunk_col)
    # the threshold is applied AFTER doc-level min-pooling, so the chunk
    # layer must hand over everything it shortlisted un-filtered —
    # dist <= +inf is the always-true form of its filter (min-pooling
    # commutes with <=, so passing `threshold` through would be
    # output-identical; inf keeps the doc layer the single place the
    # cutoff is applied)
    hits = ann_index_dedup_batch(
        new_chunks, id_col, vec_col, path,
        batch_id=batch_id, threshold=float("inf"), k=chunk_k,
        n_probe=n_probe, shortlist=shortlist,
        allowed=chunk_allowed, where=where,
        retarget_probes=retarget_probes, resume=resume,
    )
    n_new = new_chunks.select(id_col).count()
    slim_map = doc_map.select(
        F.col(chunk_col).alias("_chunk"), F.col(map_doc_col).alias("_doc")
    )
    mass = n_new * chunk_k * 4
    # the query→doc lookup comes from the BATCH id projection, never
    # from hits.select("query_id").distinct() (review r14): `hits` is
    # an uncached search lineage, and a second consumer would re-run
    # the whole encode + cell-join + shortlist subtree just to recover
    # ids the caller already holds; the subsequent inner join drops
    # hitless chunks identically
    query_map = (
        slim_map.withColumnRenamed("_chunk", "query_id")
        .withColumnRenamed("_doc", "query_doc")
        .join(
            _hint_if_bounded(
                new_chunks.select(F.col(id_col).alias("query_id")),
                n_new * 2,
            ),
            "query_id",
        )
    )
    pooled = (
        slim_map.withColumnRenamed("_chunk", "neighbor_id")
        .withColumnRenamed("_doc", "neighbor_doc")
        # slim hits to the join keys (review r15 — the ann_grouped_topk
        # payload-collision rule; also halves the hinted build side)
        .join(
            _hint_if_bounded(
                hits.select("query_id", "neighbor_id", "dist"), mass
            ),
            "neighbor_id",
        )
        .join(_hint_if_bounded(query_map, n_new * 2), "query_id")
        .filter(F.col("query_doc") != F.col("neighbor_doc"))
        .groupBy("query_doc", "neighbor_doc")
        .agg(F.min("dist").alias("dist"))
        .filter(F.col("dist") <= F.lit(float(threshold)))
    )
    return pooled.select("query_doc", "neighbor_doc", "dist")


def semantic_dedup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_cells: int = 16,
    seed: int = 42,
    train_fraction: float | None = None,
    max_cell_size: int = 10_000,
    return_excluded: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """L2 (SemDeDup-style semantic dedup): near-duplicate embedding
    pairs via KMEANS-CELL buckets + exact cosine verify within each
    cell — the data-ADAPTIVE alternative to the sign-LSH buckets of
    embedding_near_dup_pairs (clustered corpora pack near-dups into the
    same cell far more reliably than random hyperplanes; the published
    SemDeDup recipe is exactly cluster-then-compare-within-cluster).

    Same bucket-then-verify scale shape: candidate generation is a
    self-equi-join on cell id (never a cross join), centroids are tiny
    literals broadcast everywhere, ``train_fraction`` samples KMeans
    input at scale. ``max_cell_size`` is the quadratic-mass guard (the
    minhash ``max_bucket_size`` pattern): members ranked past the cap
    within their cell are excluded from pairing, bounding the verify
    work at n_cells · max_cell_size² comparisons no matter how skewed
    the clustering — size n_cells so cells stay well under it (SemDeDup
    runs with thousands of clusters at corpus scale). Known-by-design
    miss: a pair straddling a cell boundary is not compared (SemDeDup
    accepts this; raise n_cells or union with the LSH pairs for
    recall). IDENTICAL vectors always share a cell (identical distance
    arrays ⇒ identical argmin), which is what the planted-duplicate
    contract pins.

    ``return_excluded=True`` additionally returns the per-cell count of
    members the ``max_cell_size`` guard excluded from pairing, as
    ``(cell int, n_excluded long)`` — the no-silent-caps rule (VERDICT
    r6 #5; minhash's skew guard has the same observability): when the
    cap binds in production, the recall loss is measurable instead of
    invisible. The stats frame shares the one cell-window shuffle with
    the pair plan; counting it is a separate (caller-triggered) action.

    Returns (id_a < id_b, cos_sim) with cosine >= threshold — or
    (pairs, excluded_stats) with ``return_excluded=True``.
    """
    from pyspark.sql.window import Window

    assigned, _ = _kmeans_cells(
        corpus, id_col, vec_col, n_cells, seed, train_fraction
    )
    w = Window.partitionBy("_cell").orderBy(F.col("_id").asc())
    ranked = assigned.withColumn("_rn", F.row_number().over(w))
    excluded = (
        ranked.filter(F.col("_rn") > max_cell_size)
        .groupBy(F.col("_cell").alias("cell"))
        .agg(F.count("*").alias("n_excluded"))
    )
    assigned = ranked.filter(F.col("_rn") <= max_cell_size).drop("_rn")
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._cell") == F.col("b._cell")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            cosine(F.col("a._v"), F.col("b._v")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    if return_excluded:
        return pairs, excluded
    return pairs
