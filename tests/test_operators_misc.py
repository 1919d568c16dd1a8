"""Coverage for operators without DuckDB oracles: S6 DDL, batch
sessionization, Spark-only hashes, approximate-aggregate accuracy,
rolling fingerprint determinism."""

from __future__ import annotations

import os
import tempfile

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_apache_kafka_python_doker_aws_spark.catalog import load_table
from etl_apache_kafka_python_doker_aws_spark.functions.text import fingerprint_rolling
from etl_apache_kafka_python_doker_aws_spark.operators.windows import sessionize
from etl_apache_kafka_python_doker_aws_spark.sources.connectors import ensure_table
from tests.conftest import SF_SMOKE


def test_ensure_table_idempotent(spark):
    """S6: CREATE TABLE IF NOT EXISTS — second call is a no-op, table is
    queryable through the catalog."""
    wd = tempfile.mkdtemp()
    path = os.path.join(wd, "t")
    load_table(spark, SF_SMOKE, "region").write.mode("overwrite").parquet(path)
    schema = T.StructType(
        [T.StructField("r_regionkey", T.IntegerType()), T.StructField("r_name", T.StringType())]
    )
    ensure_table(spark, "ensured_region", schema, path)
    ensure_table(spark, "ensured_region", schema, path)  # idempotent
    assert spark.sql("SELECT COUNT(*) FROM ensured_region").first()[0] == 5
    spark.sql("DROP TABLE ensured_region")


def test_batch_sessionize_matches_streaming_session_count(spark):
    """Batch sessionize (lag+cumsum) must produce the same number of
    sessions per user as the streaming session_window query (same 30-min
    gap)."""
    e = load_table(spark, SF_SMOKE, "events")
    batch = sessionize(e, "user_id", "ts", gap_minutes=30)
    n_batch = (
        batch.select("user_id", "session_id").distinct().groupBy("user_id").count()
    )
    streaming_equiv = (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .groupBy("user_id")
        .count()
    )
    a = {r.user_id: r["count"] for r in n_batch.collect()}
    b = {r.user_id: r["count"] for r in streaming_equiv.collect()}
    assert a == b


def test_spark_native_hashes(spark):
    """xxhash64 / hash (no DuckDB analog): deterministic across runs and
    collision-free on the fixture keys."""
    d = load_table(spark, SF_SMOKE, "documents")
    h1 = d.select("doc_id", F.xxhash64("text").alias("h"), F.hash("text").alias("h32"))
    h2 = d.select("doc_id", F.xxhash64("text").alias("h"), F.hash("text").alias("h32"))
    assert sorted(map(tuple, h1.collect())) == sorted(map(tuple, h2.collect()))
    n_texts = d.select("text").distinct().count()
    assert h1.select("h").distinct().count() == n_texts


def test_approx_count_distinct_accuracy(spark):
    """A4: HLL++ within 5% of exact at rsd=0.02."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).first()
    assert abs(row.approx - row.exact) / row.exact < 0.05


def test_rolling_fingerprint_order_sensitive(spark):
    """L4 rolling hash: deterministic, and sensitive to token order
    (unlike the sorted-set md5 fingerprint)."""
    df = spark.createDataFrame([("a b c",), ("c b a",), ("a b c",)], ["text"])
    rows = df.select(fingerprint_rolling("text").alias("fp")).collect()
    assert rows[0].fp == rows[2].fp
    assert rows[0].fp != rows[1].fp


def test_salted_join_matches_plain_join(spark):
    """Skew salting must be semantically invisible: salted_join == plain
    join on a deliberately skewed fact (90% of rows share one key)."""
    from etl_apache_kafka_python_doker_aws_spark.operators.skew import salted_group_count, salted_join

    skewed = spark.range(0, 20000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("dval"))
    plain = skewed.join(dim, "k").groupBy("k").agg(F.count("*").alias("n"), F.sum("dval").alias("s"))
    salted = salted_join(skewed, dim, "k").groupBy("k").agg(F.count("*").alias("n"), F.sum("dval").alias("s"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    counts = {r.k: r.n for r in salted_group_count(skewed, "k").collect()}
    exact = {r.k: r["count"] for r in skewed.groupBy("k").count().collect()}
    assert counts == exact


def test_binned_range_join_exact_at_nanos_and_negative(spark):
    """ADVICE r4: the bin computation must be exact integer floor
    division — epoch-NANOS magnitudes (~1.8e18, beyond double's 2^53
    exact range) and negative values just below a bin boundary both bin
    correctly, so no candidate pair is silently lost."""
    from etl_apache_kafka_python_doker_aws_spark.operators.joins import binned_range_join

    nanos = 1_800_000_000_000_000_000  # ~2027 in epoch nanos
    lmin = -(2**63)
    pts = spark.createDataFrame(
        [(1, nanos + 1), (2, nanos + 999), (3, -1001), (4, -1), (5, lmin + 5)],
        "pid long, x long",
    )
    ivs = spark.createDataFrame(
        [(10, nanos, nanos + 1000), (20, -2000, 0), (30, lmin, lmin + 1000)],
        "iid long, lo long, hi long",
    )
    got = {
        (r.pid, r.iid)
        for r in binned_range_join(pts, ivs, None, "x", "lo", "hi", 1000).collect()
    }
    # double division at nanos scale would round the bin and drop pairs;
    # cast-truncation would misbin the negatives; the (c - pmod) form
    # would WRAP within bin_width of Long.MIN_VALUE (review r5)
    assert got == {(1, 10), (2, 10), (3, 20), (4, 20), (5, 30)}, got


def test_tfidf_rare_term_outweighs_common(spark):
    """IDF must upweight rare terms: a term unique to one doc gets a
    higher weight than a term present in every doc."""
    from pyspark.ml.functions import vector_to_array

    from etl_apache_kafka_python_doker_aws_spark.functions.text import tfidf_features

    docs = spark.createDataFrame(
        [(1, "common rare"), (2, "common other"), (3, "common thing")],
        "doc_id long, text string",
    )
    feats = tfidf_features(docs, "doc_id", "text", n_features=1 << 10)
    arr = feats.select("doc_id", vector_to_array(F.col("tfidf")).alias("v")).collect()
    weights = {r.doc_id: sorted((x for x in r.v if x > 0), reverse=True) for r in arr}
    # doc 1 has [rare, common]; rare weight must dominate and common ~0
    assert weights[1][0] > 0
    assert len(weights[1]) >= 1
    # the common term (in all 3 docs) has IDF log((3+1)/(3+1)) = 0
    assert all(len(w) <= 2 for w in weights.values())
    assert min(weights[1]) >= 0


def test_sampling_deterministic_and_proportional(spark):
    """Seeded sample() must be reproducible and close to the requested
    fraction; sampleBy must respect per-stratum fractions."""
    from etl_apache_kafka_python_doker_aws_spark.catalog import load_table as _lt

    li = _lt(spark, SF_SMOKE, "lineitem")
    s1 = li.sample(fraction=0.1, seed=42).count()
    s2 = li.sample(fraction=0.1, seed=42).count()
    assert s1 == s2
    total = li.count()
    assert abs(s1 / total - 0.1) < 0.03

    strata = li.sampleBy("l_returnflag", {"A": 0.3, "N": 0.01}, seed=7)
    counts = {r.l_returnflag: r["count"] for r in strata.groupBy("l_returnflag").count().collect()}
    base = {r.l_returnflag: r["count"] for r in li.groupBy("l_returnflag").count().collect()}
    assert "R" not in counts                      # unlisted stratum dropped
    assert abs(counts["A"] / base["A"] - 0.3) < 0.08
    assert counts.get("N", 0) / base["N"] < 0.05


def test_asof_join_edge_cases(spark):
    """as-of join edges: left rows before any right row get NULL payload;
    an exactly-simultaneous right row matches (<=); empty right side
    yields all-NULL payloads rather than dropping left rows."""
    import datetime as dt

    from etl_apache_kafka_python_doker_aws_spark.operators.joins import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, 10, t(0)), (2, 10, t(5)), (3, 10, t(9))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, t(5), 55.0), (10, t(7), 77.0)], "user_id long, ts timestamp, value double"
    )
    out = {r.event_id: r.asof_value for r in
           asof_join(left, right, "user_id", "ts", "ts", ["value"]).collect()}
    assert out[1] is None          # before any right row
    assert out[2] == 55.0          # simultaneous right row matches (<=)
    assert out[3] == 77.0          # latest preceding

    empty_right = right.filter("user_id < 0")
    out2 = asof_join(left, empty_right, "user_id", "ts", "ts", ["value"]).collect()
    assert len(out2) == 3 and all(r.asof_value is None for r in out2)


def test_asof_join_missing_key_raises(spark):
    from etl_apache_kafka_python_doker_aws_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 1)], "event_id long, user_id long")
    right = spark.createDataFrame([(1,)], "other long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="key column"):
        asof_join(left, right, "user_id", "event_id", "other", ["other"])


def test_asof_join_missing_payload_raises(spark):
    """ADVICE r5: a payload column absent from the right side must raise
    the same ValueError pattern as key/tiebreak, not a raw KeyError."""
    import pytest as _pytest

    from etl_apache_kafka_python_doker_aws_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 1)], "event_id long, user_id long")
    right = spark.createDataFrame([(1, 2)], "user_id long, ts long")
    with _pytest.raises(ValueError, match="payload column"):
        asof_join(left, right, "user_id", "event_id", "ts", ["nope"])


def test_asof_join_quoted_payload_names(spark):
    """ADVICE r5: payload/key names needing quoting (spaces, dashes,
    reserved words) must survive — the null payload is a typed struct
    built from DataType objects, never a parsed DDL string."""
    import datetime as dt

    from etl_apache_kafka_python_doker_aws_spark.operators.joins import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, 10, t(6))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, t(5), 55.0, "x")],
        "user_id long, ts timestamp, `the value` double, `select` string",
    )
    out = asof_join(
        left, right, "user_id", "ts", "ts", ["the value", "select"]
    ).collect()
    assert len(out) == 1
    row = out[0].asDict()
    assert row["asof_the value"] == 55.0
    assert row["asof_select"] == "x"


def test_asof_join_multi_key(spark):
    """j7b shape: composite (k1, k2) as-of keys — rows only match within
    the exact key combination, never across."""
    import datetime as dt

    from etl_apache_kafka_python_doker_aws_spark.operators.joins import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, 10, "eu", t(6)), (2, 10, "us", t(6)), (3, 11, "eu", t(6))],
        "event_id long, user_id long, region string, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, "eu", t(5), 1.0), (10, "us", t(4), 2.0), (12, "eu", t(3), 3.0)],
        "user_id long, region string, ts timestamp, value double",
    )
    out = {
        r.event_id: r.asof_value
        for r in asof_join(
            left, right, ["user_id", "region"], "ts", "ts", ["value"]
        ).collect()
    }
    assert out == {1: 1.0, 2: 2.0, 3: None}


def test_char_ngram_lang_id_scores_profiles(spark):
    """Char-trigram lang ID: a text full of German trigrams scores 'de';
    profile-free text scores 'und'; deterministic across runs."""
    from etl_apache_kafka_python_doker_aws_spark.functions.text import lang_id_char_ngrams

    df = spark.createDataFrame(
        [("der einer schon und ich",), ("xxxxx yyyyy zzzzz",)], ["text"]
    )
    rows = df.select(lang_id_char_ngrams("text").alias("p")).collect()
    assert rows[0].p == "de"
    assert rows[1].p == "und"
    rows2 = df.select(lang_id_char_ngrams("text").alias("p")).collect()
    assert [r.p for r in rows] == [r.p for r in rows2]


def test_mask_pii_and_chunking(spark):
    """mask_pii removes emails/phones exactly; chunk_tokens produces the
    stride/overlap layout with a short final window and empty-doc safety."""
    from etl_apache_kafka_python_doker_aws_spark.functions.text import chunk_tokens, mask_pii
    from pyspark.sql import functions as F

    rows = [
        (1, "write to bob.smith+x@corp.example.co or call +1 (555) 010-9988 now"),
        (2, "no pii here at all"),
        (3, ""),
        (4, "a b c d e f g h i j"),  # 10 tokens
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    masked = {r.id: r.m for r in df.select("id", mask_pii("text").alias("m")).collect()}
    assert masked[1] == "write to <EMAIL> or call <PHONE> now"
    assert masked[2] == "no pii here at all"

    chunks = {
        r.id: r.c
        for r in df.select("id", chunk_tokens("text", chunk_size=4, overlap=1).alias("c")).collect()
    }
    # stride 3 over 10 tokens -> starts 0,3,6,9: three full windows + short tail
    assert chunks[4] == ["a b c d", "d e f g", "g h i j", "j"]
    assert chunks[3] == []
    import pytest

    with pytest.raises(ValueError):
        chunk_tokens("text", chunk_size=4, overlap=4)


def test_synthetic_python_datasource(spark):
    """S7 via the Python DataSource API: parallel partitioned generation,
    deterministic under any partitioning, reference column shapes."""
    from etl_apache_kafka_python_doker_aws_spark.sources.pysource import register

    register(spark)

    def load(parts):
        return (
            spark.read.format("synthetic_customers")
            .option("rows", 500)
            .option("partitions", parts)
            .load()
        )

    df = load(7)
    assert df.rdd.getNumPartitions() == 7
    assert df.count() == 500
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in load(3).collect())
    assert a == b, "generation must not depend on partitioning"
    row = dict(zip(df.columns, a[0]))
    assert set(df.columns) == {
        "id", "nombre", "apellido", "direccion", "telefono",
        "caja_ahorro_pesos", "caja_ahorro_dolares",
    }
    assert 0 <= row["caja_ahorro_pesos"] <= 100000
    assert round(row["caja_ahorro_pesos"], 2) == row["caja_ahorro_pesos"]


def test_gapfill_null_key_group_and_all_null_day(spark):
    """Regression: a NULL key is a legitimate group (null-safe spine
    join), and a day whose observed values are all NULL is an observed
    day, not a gap."""
    from etl_apache_kafka_python_doker_aws_spark.operators.timeseries import gapfill_locf

    rows = [
        (None, "2024-03-01 10:00:00", 5.0),
        (None, "2024-03-03 10:00:00", 7.0),
        (1, "2024-03-01 10:00:00", None),   # observed day, all-NULL value
        (1, "2024-03-02 10:00:00", 3.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double").select(
        "user_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "value"
    )
    out = gapfill_locf(df, "user_id", "ts", "value")
    got = {
        (r.user_id, str(r.day)[:10], r.total_value, r.is_gap)
        for r in out.collect()
    }
    assert (None, "2024-03-01", 5.0, False) in got
    assert (None, "2024-03-02", 5.0, True) in got       # carried + flagged gap
    assert (None, "2024-03-03", 7.0, False) in got
    assert (1, "2024-03-01", None, False) in got        # observed, NOT a gap
    assert (1, "2024-03-02", 3.0, False) in got


def test_cosine_zero_vector_is_not_nan(spark):
    """Regression: a zero-norm embedding must score 0.0, not NaN (Spark
    ranks NaN above every double, so NaN would win every top-k)."""
    from etl_apache_kafka_python_doker_aws_spark.functions.similarity import cosine_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = corpus.filter("vec_id = 1")
    top = cosine_topk(corpus, q, k=2).collect()
    assert [r.neighbor_id for r in top] == [2, 3]
    zero_row = [r for r in top if r.neighbor_id == 3][0]
    assert zero_row.cos_sim == 0.0


def test_asof_join_tiebreak_and_atomic_payload(spark):
    """Regression (r5 fourth review): (a) simultaneous right rows resolve
    by the RIGHT-side tiebreak (greatest wins), input-order-independent;
    (b) the payload fills as one struct — a latest row's genuine NULL
    field is returned verbatim, never backfilled from an older row;
    (c) NULL-timestamp right rows never match."""
    from etl_apache_kafka_python_doker_aws_spark.operators.joins import asof_join

    left = spark.createDataFrame([(100, 30)], "user_id long, ts long")
    for right_rows in (
        [(100, 10, 1.0, 7), (100, 10, 2.0, 8), (100, None, 9.9, 99)],
        [(100, 10, 2.0, 8), (100, None, 9.9, 99), (100, 10, 1.0, 7)],
    ):
        right = spark.createDataFrame(
            right_rows, "user_id long, ts long, value double, rid long"
        ).repartition(3)
        out = asof_join(
            left, right, key="user_id", left_ts="ts", right_ts="ts",
            payload_cols=["value", "rid"], tiebreak="rid",
        ).collect()
        assert len(out) == 1
        assert (out[0].asof_value, out[0].asof_rid) == (2.0, 8)

    # atomic payload: latest row (ts=20) has value NULL — keep it NULL
    right2 = spark.createDataFrame(
        [(100, 10, 1.0, 7), (100, 20, None, 8)],
        "user_id long, ts long, value double, rid long",
    )
    out2 = asof_join(
        left, right2, key="user_id", left_ts="ts", right_ts="ts",
        payload_cols=["value", "rid"], tiebreak="rid",
    ).collect()
    assert (out2[0].asof_value, out2[0].asof_rid) == (None, 8)


def test_merge_upsert_rejects_null_keys(spark):
    """Regression: a NULL-key update can never be replaced by the
    anti-join (NULL = NULL never matches) — it would duplicate on every
    redelivery, so the sink must reject it loudly."""
    import tempfile as _tf

    from etl_apache_kafka_python_doker_aws_spark.plans.merge import merge_upsert

    wd = _tf.mkdtemp()
    upd = spark.createDataFrame([(None, 1.0), (5, 2.0)], "k long, v double")
    with pytest.raises(ValueError, match="NULL values in key columns"):
        merge_upsert(spark, os.path.join(wd, "t"), upd, ["k"])


def test_scd2_batch_keeps_latest_version(spark):
    """Regression: a batch with two versions of one key must keep the
    LATEST by ts (dropDuplicates kept an arbitrary one)."""
    import tempfile as _tf

    from etl_apache_kafka_python_doker_aws_spark.plans.merge import scd2_apply

    wd = _tf.mkdtemp()
    path = os.path.join(wd, "scd2")
    upd = spark.createDataFrame(
        [(1, 10.0, "2024-01-01 00:00:00"), (1, 20.0, "2024-06-01 00:00:00")],
        "k long, v double, ts string",
    ).select("k", "v", F.col("ts").cast("timestamp_ntz").alias("ts"))
    out = scd2_apply(spark, path, upd, ["k"], "ts")
    rows = out.collect()
    assert len(rows) == 1 and rows[0].v == 20.0


def test_text_null_and_empty_edge_cases(spark):
    """Regression: punct_ratio must not DIVIDE_BY_ZERO on empty docs
    (ANSI); chunk_tokens(NULL) must yield [], not a phantom ['']."""
    from etl_apache_kafka_python_doker_aws_spark.functions.text import (
        chunk_tokens,
        quality_features,
    )

    df = spark.createDataFrame([("",), (None,), ("a b c",)], "text string")
    feats = quality_features(F.col("text"))
    got = df.select(
        feats["punct_ratio"].alias("pr"),
        chunk_tokens(F.col("text"), chunk_size=2, overlap=1).alias("c"),
    ).collect()
    by_len = {len(r.c): r for r in got}
    assert by_len[0].pr is None or by_len[0].pr == 0.0  # empty/NULL: no crash
    assert got[1].c == [] and got[0].c == []            # NULL and '' both []
    assert len(by_len[3].c) == 3                        # 'a b c': [a b],[b c],[c]


def test_asof_join_null_keys_never_match(spark):
    """Review r6: SQL join semantics for NULL keys — a NULL-key left row
    gets a NULL payload and a NULL-key right row matches nothing; the
    window partition must not cross-fill them."""
    import datetime as dt

    from etl_apache_kafka_python_doker_aws_spark.operators.joins import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, None, t(6)), (2, 10, t(6))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(None, t(5), 99.0), (10, t(5), 55.0)],
        "user_id long, ts timestamp, value double",
    )
    out = {r.event_id: r.asof_value for r in
           asof_join(left, right, "user_id", "ts", "ts", ["value"]).collect()}
    assert out == {1: None, 2: 55.0}


def test_model_lit_bit_identical_to_lit(spark):
    """VERDICT r10 #5: _model_lit renders model tables as one SQL
    array(array(…)) expression instead of F.lit's per-scalar py4j
    recursion (~160× faster construction). Its correctness rests on a
    repr()/JVM-parse round-trip property — shortest-exact decimal out,
    correctly-rounded parse back — which this test pins element-wise
    against the F.lit form over random codebooks plus the adversarial
    edges (negative zero, subnormals, max/min exponents, 17-digit
    mantissas), comparing raw IEEE bit patterns so a future formatting
    refactor (e.g. locale-sensitive rendering) cannot silently perturb
    every model literal in the engine."""
    import random
    import struct

    import pytest
    from pyspark.sql import functions as F

    from etl_apache_kafka_python_doker_aws_spark.functions.similarity import (
        _model_lit,
    )

    rng = random.Random(1117)
    edges = [
        0.0, -0.0,                                   # signed zero
        5e-324, -5e-324,                             # smallest subnormals
        2.2250738585072014e-308,                     # smallest normal
        1.7976931348623157e308, -1.7976931348623157e308,  # largest finite
        1 / 3, -1 / 3, 0.1, 2.675,                   # repeating binary
        9007199254740993.0,                          # > 2^53, rounds
        1.0000000000000002,                          # 1 + ulp
        123456789.123456789,                         # 17-digit mantissa
    ]
    vals = (
        edges
        + [rng.uniform(-1e9, 1e9) for _ in range(24)]
        + [rng.gauss(0.0, 1.0) * 10 ** rng.randint(-300, 300) for _ in range(24)]
    )
    rows = [vals[i : i + 4] for i in range(0, len(vals) // 4 * 4, 4)]

    got = spark.range(1).select(
        F.lit(rows).alias("a"), _model_lit(rows).alias("b")
    ).first()
    bits = lambda x: struct.pack("<d", x)  # noqa: E731
    flat_a = [bits(x) for r in got.a for x in r]
    flat_b = [bits(x) for r in got.b for x in r]
    flat_py = [bits(float(v)) for r in rows for v in r]
    assert flat_b == flat_a, "SQL-literal form drifted from F.lit"
    assert flat_b == flat_py, "JVM round-trip drifted from the Python floats"

    # out-of-domain: model tables are finite by construction — loud reject
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="non-finite"):
            _model_lit([[1.0, bad]])


def test_literal_col_fast_path_engages_on_test_session(spark):
    """The single-Literal model path must actually engage on a classic
    session — a None here means every model literal silently pays the
    SQL-text fallback."""
    from etl_apache_kafka_python_doker_aws_spark.functions.similarity import (
        _literal_col,
    )

    assert _literal_col([[0.0, 1.0]]) is not None
    assert _literal_col([0.5]) is not None


def test_literal_col_raises_on_py4j_failure(spark, monkeypatch):
    """There is no slower SQL-text fallback: a py4j failure while
    building the single-Literal model column propagates, and a shape
    other than a non-empty depth-1/depth-2 table is a ValueError."""
    from etl_apache_kafka_python_doker_aws_spark.functions import similarity

    def broken(_jc):
        raise RuntimeError("no classic ExpressionUtils")

    with pytest.raises(ValueError, match="depth-1 or depth-2"):
        similarity._literal_col([])
    with pytest.raises(ValueError, match="depth-1 or depth-2"):
        similarity._literal_col([[0.0], []])
    monkeypatch.setattr(similarity, "Column", broken)
    with pytest.raises(RuntimeError, match="no classic ExpressionUtils"):
        similarity._literal_col([[0.0, 1.0]])
    with pytest.raises(RuntimeError, match="no classic ExpressionUtils"):
        similarity._literal_col([0.5])


def test_tiny_rows_df_empty_rows_need_typed_schema(spark):
    """VERDICT r12 #2: an empty metadata frame must fail loudly at the
    call site (named ValueError) when untyped, and build cleanly when
    a typed schema is given."""
    from etl_apache_kafka_python_doker_aws_spark.util import tiny_rows_df

    with pytest.raises(ValueError, match="empty rows need a typed schema"):
        tiny_rows_df(spark, [])
    with pytest.raises(ValueError, match="empty rows need a typed schema"):
        tiny_rows_df(spark, [], ["a", "b"])
    df = tiny_rows_df(spark, [], "a bigint, b string")
    assert df.count() == 0
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint",
        "string",
    ]


def test_tiny_rows_df_none_in_dict_rows_stays_null(spark):
    """ADVICE r12: pandas coerces None in a numeric column to float64
    NaN, which Spark keeps as NaN — not a typed NULL. The dict path
    must emit a real NULL so sidecar anti-joins and isNull checks see
    what the caller wrote."""
    from etl_apache_kafka_python_doker_aws_spark.util import tiny_rows_df

    df = tiny_rows_df(spark, [{"k": 1, "n": 10}, {"k": 2, "n": None}])
    rows = {r.k: r.n for r in df.collect()}
    assert rows[1] == 10
    assert rows[2] is None, f"expected NULL, got {rows[2]!r}"
    assert df.filter(F.col("n").isNull()).count() == 1


def test_tiny_rows_df_warns_once_without_arrow(spark, monkeypatch):
    """Without the Arrow conf ``tiny_rows_df`` still returns the right
    frame, but its Python-RDD fallback is loud: one RuntimeWarning per
    process naming the conf, however many calls take it."""
    import warnings

    from etl_apache_kafka_python_doker_aws_spark import util

    conf = "spark.sql.execution.arrow.pyspark.enabled"
    monkeypatch.setattr(util, "_arrow_off_warned", False)
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            frames = [util.tiny_rows_df(spark, [{"k": i, "v": "x"}])
                      for i in range(2)]
    finally:
        spark.conf.set(conf, old)
    hits = [w for w in caught if issubclass(w.category, RuntimeWarning)
            and conf in str(w.message)]
    assert len(hits) == 1, [str(w.message) for w in caught]
    assert "26x" in str(hits[0].message)
    assert [[tuple(r) for r in f.collect()] for f in frames] == [
        [(0, "x")], [(1, "x")]
    ]


@pytest.mark.parametrize("env", [None, "3"], ids=["unset", "set"])
def test_get_spark_defaults_to_usable_cpus(monkeypatch, env):
    """``get_spark`` sizes ``local[N]`` and the shuffle partitions from
    ``SPARK_GRAFT_CPUS``, or, when it is unset, from the CPUs this
    process may run on. The builder is replaced by a recorder, so no
    second JVM starts."""
    from types import SimpleNamespace

    from etl_apache_kafka_python_doker_aws_spark import session

    seen = {}

    class Builder:
        def appName(self, name):
            return self

        def master(self, m):
            seen["master"] = m
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            return SimpleNamespace(
                sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=Builder()))
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    session.get_spark()
    n = env or str(len(os.sched_getaffinity(0)))
    assert seen["master"] == f"local[{n}]"
    assert seen["spark.sql.shuffle.partitions"] == n
