"""Physical-plan assertions — the 100 TB scale contract, enforced in CI:
filters push into the parquet scan, dimensions broadcast, aggregates are
two-phase (map-side partial), sort+limit avoids a global sort, and columns
are pruned to what the query reads."""

from __future__ import annotations

import re

from etl_apache_kafka_python_doker_aws_spark.workloads import QUERIES
from tests.conftest import SF_SMOKE


def plan_of_df(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def plan_of(spark, name: str) -> str:
    return plan_of_df(QUERIES[name](spark, SF_SMOKE))


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "p3_filter_predicates")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, "no PushedFilters in plan"
    pushed = m.group(1)
    assert "GreaterThanOrEqual(l_quantity,10.0)" in pushed
    assert "In(l_returnflag" in pushed


def test_column_pruning(spark):
    plan = plan_of(spark, "p1_project_rename")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # only the three projected columns are read, not all five
    assert cols == {"c_custkey", "c_name", "c_mktsegment"}, cols


def test_dimension_joins_broadcast(spark):
    # j2 hints its fixed-size dims (nation/region) — must broadcast, never SMJ
    plan = plan_of(spark, "j2_broadcast_join")
    assert "BroadcastHashJoin" in plan, "j2: no broadcast join"
    assert "SortMergeJoin" not in plan, "j2: dim join fell back to SMJ"
    # q5 hints only nation/region; customer/supplier are AQE's call — at
    # fixture scale Catalyst's size estimate still broadcasts everything
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 2, "q5: nation/region dims not broadcast"


_FACT_RELATION = re.compile(r"Relation ?\[(l_|o_|c_|p_|s_)")


def _node_depth(line: str) -> int:
    best = -1
    for marker in ("+- ", ":- "):
        p = line.rfind(marker)
        if p > best:
            best = p
    return best


def test_no_fact_table_broadcast_hints(spark):
    """VERDICT r1 #3 guard: no explicit broadcast hint may cover a scan of
    a fact-proportional table (lineitem/orders/customer/part/supplier —
    they all grow with sf; a hint overrides AQE's size check and OOMs at
    100x). Allowed hint scopes: nation/region relations and scalar (global
    aggregate, 1-row) subplans like q15's MAX / q22's AVG."""
    batch_star_queries = [
        n
        for n in QUERIES
        if n[0] in "qja" and not n.startswith(("j9", "j10"))
    ]
    offenders = []
    for name in batch_star_queries:
        df = QUERIES[name](spark, SF_SMOKE)
        plan = df._jdf.queryExecution().analyzed().toString()
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "ResolvedHint" not in ln or "broadcast" not in ln.lower():
                continue
            depth = _node_depth(ln)
            scope = []
            for nxt in lines[i + 1:]:
                if _node_depth(nxt) <= depth:
                    break
                scope.append(nxt)
            # a global aggregate in scope → 1-row scalar subplan, size-bounded
            scalar = any(
                "Aggregate [" in s and "], [" not in s for s in scope
            )
            if scalar:
                continue
            for s in scope:
                if _FACT_RELATION.search(s):
                    offenders.append((name, s.strip()[:80]))
                    break
    assert not offenders, f"fact-table scans under broadcast hints: {offenders}"


def test_aggregate_is_two_phase(spark):
    plan = plan_of(spark, "a1_pricing_summary")
    # partial + final hash aggregate around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_sort_limit_is_topk(spark):
    plan = plan_of(spark, "o1_sort_limit")
    assert "TakeOrderedAndProject" in plan, "sort+limit should not be a global sort"


def test_wordcount_partial_aggregates_before_shuffle(spark):
    plan = plan_of(spark, "l4_word_topk")
    # the generate(explode) must be followed by a partial aggregate, then
    # the exchange — the shuffle carries (word, count) not raw tokens
    gen = plan.find("Generate")
    first_agg = plan.find("HashAggregate")
    assert gen != -1 and first_agg != -1
    assert plan.count("HashAggregate") >= 2


def test_aqe_active_on_shuffle_joins(spark):
    """AQE must wrap shuffle-join plans (runtime re-planning: coalesce,
    skew split, join demotion) — SURVEY.md §4.2."""
    plan = plan_of(spark, "j1_inner_join")
    assert "AdaptiveSparkPlan" in plan


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling observed end-to-end: with thresholds scaled
    to fixture size, a 90%-hot-key join must execute with skew-split
    partitions (the executed SMJ reports skew=true)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # coalescing first would merge the tiny partitions and mask the
        # skew signal at this miniature scale
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
            F.concat(F.lit("payload-"), F.col("id"), F.lit("x" * 64)).alias("p"),
        )
        right = spark.range(0, 50).select(F.col("id").alias("k"), F.col("id").alias("v"))
        # action directly on the join: a downstream aggregation would veto
        # the split (extra shuffle) unless forceOptimizeSkewedJoin is set
        joined = left.join(right, "k")
        joined.foreach(lambda r: None)
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, "skewed join was not split by AQE"
        assert "AQEShuffleRead skewed" in final
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cbo_stats_available_after_analyze(spark):
    """§4.2 CBO row: ANALYZE TABLE COMPUTE STATISTICS populates rowCount/
    sizeInBytes that the cost-based optimizer consumes (fixtures are
    small, so CBO stays optional — this pins the stats plumbing)."""
    load_table = __import__(
        "etl_apache_kafka_python_doker_aws_spark.catalog", fromlist=["load_table"]
    ).load_table
    df = load_table(spark, SF_SMOKE, "nation")
    df.write.mode("overwrite").saveAsTable("nation_stats")
    try:
        spark.sql("ANALYZE TABLE nation_stats COMPUTE STATISTICS FOR ALL COLUMNS")
        detail = spark.sql("DESCRIBE EXTENDED nation_stats").collect()
        stats_row = [r for r in detail if r.col_name == "Statistics"]
        assert stats_row, "no Statistics row after ANALYZE"
        assert "rows" in stats_row[0].data_type  # e.g. '3144 bytes, 25 rows'
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_stats")


def test_runtime_bloom_filter_on_selective_join(spark):
    """§4.2 runtime filtering: a selective filter on the small side of a
    shuffle join must inject a bloom-filter aggregate whose
    might_contain() prunes the big side BEFORE the shuffle — at 100 TB
    this is the difference between shuffling all of lineitem and shuffling
    only rows whose orderkey can match. (Thresholds lowered to trigger at
    fixture scale; on by default in the session conf.)"""
    from pyspark.sql import functions as F

    from etl_apache_kafka_python_doker_aws_spark.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1B",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_SMOKE, "lineitem")
        o = load_table(spark, SF_SMOKE, "orders").filter(F.col("o_totalprice") > 450000)
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, "no bloom filter creation in plan"
        assert "might_contain" in plan, "no bloom filter application in plan"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lateral_topk_decorrelates_to_window(spark):
    """q_lateral_topk must plan as ONE ranked window over a single
    shuffle of customer — not a per-nation nested-loop rescan. A
    cartesian/nested-loop plan here would be a 100 TB disaster."""
    plan = plan_of(spark, "q_lateral_topk")
    assert "Window" in plan, "lateral subquery not decorrelated to a window"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_is_equi_join_shaped(spark):
    """l6 must generate candidates by hash equi-join on the gram, never
    an all-pairs comparison."""
    plan = plan_of(spark, "l6_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the gram-hit count is a two-phase aggregate (partial before shuffle)
    assert "partial_count" in plan or "HashAggregate" in plan


def test_fuzzy_join_blocks_before_verify(spark):
    """j12's levenshtein must run AFTER the brand equi-join (verify on
    block-bounded candidates), not as a join condition forcing a
    nested-loop over all pairs."""
    plan = plan_of(spark, "j12_fuzzy_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shuffle_hash_hint_beats_smj_when_asked(spark):
    """Join-strategy control: a SHUFFLE_HASH hint must produce a
    ShuffledHashJoin (no sort phase — the right call when one side is
    much smaller but too big to broadcast and sorting would dominate)."""
    from etl_apache_kafka_python_doker_aws_spark.catalog import load_table

    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer").hint("SHUFFLE_HASH")
    plan = o.join(c, o.o_custkey == c.c_custkey)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _shuffle_count(spark, name: str) -> int:
    import re as _re

    df = QUERIES[name](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_re.findall(r"Exchange (?:hash|range)partitioning", plan))


def test_shuffle_budgets(spark):
    """Pin each operator's shuffle count — a regression here means a plan
    rewrite silently added an exchange that multiplies at 100 TB."""
    budgets = {
        "ts_sessionize": 1,      # windows + final agg all share user_id
        "ts_funnel": 1,          # stage agg on user_id; global rollup is 1-row
        "l9_pack_sequences": 1,  # shard window feeds the bin agg in place
        "ts_gapfill_locf": 2,    # daily agg + spine join/window
        "l6_contamination": 3,   # corpus gram agg + hit agg + final join
        # Expensive-family budgets (VERDICT r6 #4). Iterative queries
        # (g1/g2) lazily localCheckpoint each round, so the returned
        # frame's plan is the LAST round's shape — exactly the per-round
        # budget that multiplies by rounds at scale. The r6 PageRank
        # regression (un-checkpointed loop invariants re-embedding two
        # shuffles per round) is precisely what these counts catch.
        "g1_graph_components": 3,   # per-round: edge⋈label + min-agg + contract agg
        "g2_pagerank": 0,           # contract row reads the checkpointed final
                                    # ranks + broadcast 1-row aggs ONLY — any
                                    # exchange here means checkpointing broke
        "l11_curation_pipeline": 14,  # full funnel: exact dedup + minhash-LSH
                                      # (band window + pair dedup) + CC rounds +
                                      # 5-gram decontamination + summary rollup
        "l3_bm25_topk": 0,          # TakeOrderedAndProject + broadcast stats —
                                    # zero wide exchanges end to end
        "l3_hybrid_rrf": 3,         # two ranked lists + outer-join fuse
        "l4_bigram_perplexity": 4,  # bigram agg + unigram agg + 2 count joins
        "l2_minhash_near_dup": 4,   # band window + pair dedup + contract join
    }
    for name, budget in budgets.items():
        got = _shuffle_count(spark, name)
        assert got <= budget, f"{name}: {got} shuffles (budget {budget})"


def test_binned_range_join_is_equi_shaped(spark):
    """j13 must never plan a nested-loop/cartesian: candidates come from
    the (user, bin) hash equi-join."""
    plan = plan_of(spark, "j13_binned_range_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bitmap_distinct_avoids_expand(spark):
    """a17's bitmap distinct must not plan the Expand + double-shuffle
    that exact count(DISTINCT) (a3) pays — that is its reason to exist."""
    plan3 = plan_of(spark, "a3_count_distinct")
    plan17 = plan_of(spark, "a17_bitmap_distinct")
    assert "Expand" in plan3  # the baseline really does expand
    assert "Expand" not in plan17


def test_salted_agg_two_phase_shape(spark):
    """a18's salted aggregation must plan exactly two hash exchanges —
    (key, salt) partial then key merge — with no Expand and no extra
    shuffle; and the deterministic salt must spread the hot key's rows
    over multiple partial groups (the whole point: bounded first-stage
    partitions with zero dropped rows)."""
    import re as _re

    plan = plan_of(spark, "a18_salted_hot_key_agg")
    assert "Expand" not in plan
    # formatted mode puts the partitioning on the Exchange's Arguments line
    n_ex = len(_re.findall(r"hashpartitioning\(", plan))
    assert n_ex == 2, f"expected 2 exchanges (partial+merge), got {n_ex}"
    # salt must be a deterministic function of payload columns, not rand()
    assert "rand(" not in plan.lower()
    assert "xxhash" in plan.lower()

    from pyspark.sql import functions as F

    from etl_apache_kafka_python_doker_aws_spark.operators.skew import salted_agg

    # 1000 rows of ONE key: first-stage groups must be ~1000/16 each
    hot = spark.range(1000).select(F.lit("hot").alias("k"), F.col("id").alias("v"))
    partials = (
        hot.withColumn("_salt", F.pmod(F.xxhash64("v"), F.lit(16)))
        .groupBy("k", "_salt")
        .count()
    )
    sizes = [r["count"] for r in partials.collect()]
    assert len(sizes) > 8, "salt did not spread the hot key"
    assert max(sizes) < 1000 / 4, f"a partial group stayed hot: {max(sizes)}"
    out = salted_agg(
        hot, ["k"], {"n": ("count", "*"), "s": ("sum", "v")}, salt_factor=16
    ).collect()
    assert out[0]["n"] == 1000 and out[0]["s"] == 499500  # lossless


def test_wire_json_read_is_native_scan(spark, tmp_path):
    """The batch wire reader must plan as a native JSON file scan, not
    read.text + from_json: the from_json Project runs interpreted (no
    whole-stage codegen) and measured ~100x slower at 6M rows (round-4
    scale-cliff, SCALING.md). from_json is for column payloads only."""
    from pyspark.sql import functions as F

    from etl_apache_kafka_python_doker_aws_spark.plans.pipeline import (
        CUSTOMERS_WIRE_SCHEMA,
    )
    from etl_apache_kafka_python_doker_aws_spark.sources.connectors import (
        read_wire_json,
        write_wire_json,
    )

    src = spark.range(10).select(
        F.col("id"),
        F.lit("a").alias("first_name"),
        F.lit("b").alias("last_name"),
        F.lit("c").alias("address"),
        F.lit("d").alias("phone_number"),
        F.lit(1.5).alias("savings_pesos"),
        F.lit(0.1).alias("savings_dollars"),
    )
    path = str(tmp_path / "wire")
    write_wire_json(src, path)
    df = read_wire_json(spark, path, CUSTOMERS_WIRE_SCHEMA)
    plan = plan_of_df(df)
    assert "from_json" not in plan, "wire read regressed to interpreted from_json"
    assert "Scan json" in plan
    assert df.count() == 10


def test_d7_quality_suite_single_scan_shape(spark):
    """d7's five checks must not plan one job per rule: exactly TWO scans
    of orders (conditional-agg pass + anti-join probe side) and one scan
    of customer, with the FK check as a broadcast anti-join at fixture
    scale (customer measures small)."""
    import re as _re

    plan = plan_of(spark, "d7_data_quality")
    # formatted mode detaches the path onto a Location: line per scan node
    orders_scans = len(_re.findall(r"Location: [^\n]*orders\.parquet", plan))
    customer_scans = len(_re.findall(r"Location: [^\n]*customer\.parquet", plan))
    assert orders_scans == 2, f"expected 2 orders scans, got {orders_scans}"
    assert customer_scans == 1, f"expected 1 customer scan, got {customer_scans}"
    assert "LeftAnti" in plan


def test_a19_heavy_hitters_no_full_key_shuffle(spark):
    """a19's final aggregation must run on the candidate-restricted rows
    (semi-join before the exact count) and no full-table groupBy on the
    raw key: the only hashpartitioning exchanges allowed are the
    candidate distinct and the post-semi-join count."""
    plan = plan_of(spark, "a19_heavy_hitters")
    assert "MapInPandas" in plan
    assert "LeftSemi" in plan
    # exact verify still two-phase: partial + final HashAggregate pairs
    assert plan.count("HashAggregate") >= 4


def test_bm25_uses_take_ordered_not_global_sort(spark):
    """l3_bm25_topk's top-k must plan as TakeOrderedAndProject (map-side
    partial top-k) — a global Sort or a single-partition Window over the
    whole corpus would serialize the ranking at 100 TB."""
    plan = plan_of(spark, "l3_bm25_topk")
    assert "TakeOrderedAndProject" in plan, plan[:800]


def test_hybrid_rrf_uses_take_ordered(spark):
    plan = plan_of(spark, "l3_hybrid_rrf")
    assert "TakeOrderedAndProject" in plan


def test_pq_search_broadcasts_queries_and_shortlist(spark):
    """l3_pq_search: the ADC scoring side must broadcast the query LUTs
    (BroadcastNestedLoopJoin over the codes scan — never shuffle the
    corpus), and the exact re-rank must broadcast the tiny shortlist
    into a BroadcastHashJoin against the corpus."""
    plan = plan_of(spark, "l3_pq_search")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the corpus codes side must not be exchanged for the cross join
    assert plan.count("BroadcastExchange") >= 2, "queries/shortlist not broadcast"


def test_cdc_apply_single_window_shuffle(spark):
    """d9: one keyed window (hashpartitioning on the key) applies the
    whole log — no per-op joins, no iterative passes."""
    plan = plan_of(spark, "d9_cdc_apply")
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan


def test_incremental_dedup_batch_side_prefiltered(spark, tmp_path):
    """VERDICT r7 #1: minhash_index_pairs_vs_batch must filter _batch
    BEFORE the band equi-join — a `_batch == bid` predicate pushed into
    its own parquet scan of the index — and must NOT run a count window
    over the full index (the old guard_band_buckets form). Candidate
    mass has to be batch-proportional: the old full×full self-join with
    the batch membership as a non-pushable join-side disjunction
    re-enumerated the whole corpus's per-bucket m² candidates per batch."""
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        minhash_index_append,
        minhash_index_pairs_vs_batch,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(80)
    path = str(tmp_path / "band_idx_plan")
    minhash_index_append(docs, "doc_id", "text", path, batch_id="b0")
    plan = plan_of_df(minhash_index_pairs_vs_batch(spark, path, "b0"))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("EqualTo(_batch,b0)" in p for p in pushed), (
        "batch-side _batch filter not pushed to a parquet scan:\n" + plan
    )
    assert "Window" not in plan, "full-index count window back in the plan"
    # the guard reads the tiny _graft_counts sidecar, never index rows
    assert "_graft_counts" in plan


def test_filtered_pairs_prefilter_lands_before_band_join(spark, tmp_path):
    """r14 `allowed=` (VERDICT r13 #3): the id semi-join must restrict
    the index frame BEFORE the band self-join — below it in the
    optimized plan tree — so candidate enumeration is per-filtered-
    corpus (a post-filter of the pair output would pay the full m²
    candidate mass first, the r8 blowup). The pushed `_batch` scan
    filter and the no-Window guard must survive the composition."""
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        minhash_index_append,
        minhash_index_pairs_vs_batch,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(80)
    path = str(tmp_path / "band_idx_filtered_plan")
    minhash_index_append(docs, "doc_id", "text", path, batch_id="b0")
    allowed = docs.select("doc_id").filter("doc_id % 2 = 0")
    df = minhash_index_pairs_vs_batch(spark, path, "b0", allowed=allowed)
    plan = plan_of_df(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("EqualTo(_batch,b0)" in p for p in pushed), plan
    assert "Window" not in plan
    # tree order: parents print above children, so the band inner join
    # must appear BEFORE (above) the allowed LeftSemi in the optimized
    # logical plan — i.e. the semi-join is inside the band join's inputs
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    band_at = opt.find("Join Inner")
    semi_at = opt.find("Join LeftSemi")
    assert band_at != -1 and semi_at != -1, opt
    assert semi_at > band_at, (
        "allowed semi-join planned ABOVE the band join (post-filter):\n" + opt
    )


def test_payload_where_is_pushed_and_keeps_zero_exchange(spark, tmp_path):
    """r15 payload where=: the stored-attribute predicate must reach the
    parquet reader as a PUSHED filter on BOTH band-join inputs (path
    tier) — the scan-filter form's whole point is zero extra frames,
    joins, or shuffles at any selectivity. On the bucketed tier the
    same predicate must keep the zero-band-Exchange property that a
    broad `allowed=` set forfeits (the r14 documented trade this form
    closes)."""
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        drop_minhash_table,
        minhash_index_append,
        minhash_index_pairs_vs_batch,
        minhash_table_append,
        minhash_table_pairs_vs_batch,
    )

    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .limit(80)
        .withColumn(
            "lang",
            F.when(F.pmod("doc_id", F.lit(2)) == 0, F.lit("en")).otherwise(
                F.lit("de")
            ),
        )
    )
    path = str(tmp_path / "band_idx_payload_plan")
    minhash_index_append(
        docs, "doc_id", "text", path, batch_id="b0", payload_cols=["lang"]
    )
    df = minhash_index_pairs_vs_batch(spark, path, "b0", where="lang = 'en'")
    plan = plan_of_df(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    lang_pushed = [p for p in pushed if "EqualTo(lang,en)" in p]
    # both sides of the band self-join scan with the predicate pushed
    assert len(lang_pushed) >= 2, (
        "payload predicate not pushed to both band-join scans:\n" + plan
    )
    assert any("EqualTo(_batch,b0)" in p for p in pushed), plan
    assert "Window" not in plan
    # no join machinery beyond the unfiltered form's (whose only
    # LeftSemi is the band-keyed skew-guard whitelist): the predicate
    # must add no id-keyed semi-join — that's the allowed= shape this
    # form exists to avoid
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    id_semis = [
        c for c in re.findall(r"Join LeftSemi, \(([^\n]*)\)", opt)
        if "_id#" in c
    ]
    assert not id_semis, (
        "where= must be a scan filter, not an id semi-join:\n" + opt
    )
    # bucketed tier: zero band-key Exchange survives the predicate
    tbl = "t_mh_payload_plan"
    drop_minhash_table(spark, tbl)
    minhash_table_append(
        docs, "doc_id", "text", tbl, batch_id="b0", buckets=4,
        payload_cols=["lang"],
    )
    tplan = (
        minhash_table_pairs_vs_batch(spark, tbl, "b0", where="lang = 'en'")
        ._jdf.queryExecution().executedPlan().toString()
    )
    drop_minhash_table(spark, tbl)
    exchanges = re.findall(r"Exchange (?:hash|range)partitioning\(([^)]*)\)", tplan)
    band_ex = [e for e in exchanges if "band_" in e]
    assert not band_ex, f"where= cost the bucketed tier its co-location: {band_ex}"
    assert "SelectedBucketsCount" in tplan


def test_bucketed_index_join_has_no_exchange(spark, tmp_path):
    """Round-8 bucketed-table tier: with the band index AND its counts
    sidecar bucketed on (band_idx, band_hash), the per-batch pairs
    query must plan its guard agg, semi-join and band join shuffle-free
    — the ONLY Exchange allowed is the tiny (id_a, id_b) pair-dedup.
    This is the zero-index-shuffle-per-snapshot property that matters
    at 10⁹ indexed docs."""
    from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
        drop_minhash_table,
        minhash_table_append,
        minhash_table_pairs_vs_batch,
    )

    tbl = "t_mh_bucketed_plan"
    drop_minhash_table(spark, tbl)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(80)
    minhash_table_append(docs, "doc_id", "text", tbl, batch_id="b0", buckets=4)
    plan = (
        minhash_table_pairs_vs_batch(spark, tbl, "b0")
        ._jdf.queryExecution().executedPlan().toString()
    )
    drop_minhash_table(spark, tbl)
    exchanges = re.findall(r"Exchange (?:hash|range)partitioning\(([^)]*)\)", plan)
    band_ex = [e for e in exchanges if "band_" in e]
    assert not band_ex, f"band-key shuffle crept back in: {band_ex}"
    assert "SelectedBucketsCount" in plan, "bucketed scan not used"


def test_sha_table_dedup_batch_has_no_shuffle(spark):
    """Round-12 exact-dedup tier: with the content-hash table bucketed
    on the join/agg key, the per-batch verdict must plan with ZERO
    shuffle Exchanges — the keeper aggregation and the batch join both
    sit on the bucket key (broadcasts of the metadata-sized marker
    frames and stats-elected small sides are fine; a hash-partitioning
    Exchange of the corpus is the regression this pins against)."""
    from etl_apache_kafka_python_doker_aws_spark.functions.exact_index import (
        drop_sha_table,
        sha_table_append,
        sha_table_dedup_batch,
    )

    tbl = "t_sha_plan"
    drop_sha_table(spark, tbl)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(80)
    sha_table_append(docs, "doc_id", "text", tbl, batch_id="b0", buckets=4)
    # a SECOND batch, so the prior-batches keeper side is non-empty —
    # against a single batch Catalyst folds the whole corpus join to
    # literals and the plan proves nothing
    from pyspark.sql import functions as F

    sha_table_append(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text"),
        "doc_id", "text", tbl, batch_id="b1", buckets=4,
    )
    plan = (
        sha_table_dedup_batch(spark, tbl, "b1")
        ._jdf.queryExecution().executedPlan().toString()
    )
    drop_sha_table(spark, tbl)
    exchanges = re.findall(r"Exchange (?:hash|range)partitioning\(([^)]*)\)", plan)
    assert not exchanges, f"corpus shuffle crept into the sha tier: {exchanges}"
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, \
        "bucketed scan not used"


def test_every_broadcast_hint_site_is_classified():
    """VERDICT r10 #3: the fact-scan guard above only inspects hinted
    SCANS — a derived frame (e.g. the ann re-rank candidate set) could
    still carry an unconditional hint. This guard enumerates EVERY
    ``F.broadcast`` call site in the package via AST and requires each
    to be classified: a 1-row/global aggregate, a structurally bounded
    dim or sketch (nation/region, ≤m/64 bloom bitmap, d×w CMS,
    metadata-sized maps), a documented caller contract, or behind the
    r11 size gate (the enclosing function must reference
    ``_BCAST_MAX_CELLS``). Adding a new hint — or moving a gated one
    out of its gate — fails here until it is deliberately classified."""
    import ast
    import os

    import etl_apache_kafka_python_doker_aws_spark as pkg

    ONE_ROW = "one-row/global aggregate"
    DIM = "structurally bounded dim/sketch"
    CONTRACT = "documented caller contract"
    GATED = "size-gated (_BCAST_MAX_CELLS)"
    allow = {
        ("operators/joins.py", "intervals"): CONTRACT,  # keyless interval join: docstring requires broadcastable intervals
        ("workloads/composite.py", "n"): DIM,           # nation
        ("workloads/composite.py", "r"): DIM,           # region
        ("workloads/composite.py", "r.filter(F.col('r_name') == 'ASIA')"): DIM,
        ("workloads/composite.py", "sn"): DIM,          # nation-derived
        ("workloads/composite.py", "cn"): DIM,          # nation-derived
        ("workloads/composite.py", "avg_bal"): ONE_ROW,
        ("workloads/composite.py", "max_rev"): ONE_ROW,
        ("workloads/curation.py", "centroid"): ONE_ROW,
        ("workloads/curation.py", "g_inertia"): ONE_ROW,
        ("workloads/curation.py", "summary"): ONE_ROW,
        ("workloads/etl.py", "orphans"): ONE_ROW,
        ("workloads/etl.py", "replay"): ONE_ROW,
        ("workloads/joins.py", "n"): DIM,
        ("workloads/joins.py", "r"): DIM,
        ("workloads/llm.py", "n_missing"): ONE_ROW,
        ("workloads/llm.py", "n_extra"): ONE_ROW,
        ("workloads/llm.py", "n_diff"): ONE_ROW,
        ("workloads/llm.py", "n_excluded"): ONE_ROW,
        ("workloads/llm.py", "n_outside"): ONE_ROW,    # r13 l3_filtered_ann audit count
        ("workloads/llm.py", "n_bad_lang"): ONE_ROW,   # r15 l3_payload_ann audit count
        ("workloads/llm.py", "n_bad"): ONE_ROW,        # r15 l2_payload_pairs audit count
        ("workloads/llm.py", "n_bad_en"): ONE_ROW,     # r15 l1_payload_verdict audit count
        ("workloads/llm.py", "n_bad_doc"): ONE_ROW,    # r15 l3_payload_ann audit count
        ("workloads/llm.py", "q"): DIM,                # r13 l3_grouped_maxsim: ≤5 query vectors (literal vec_id < 5 bound)
        ("workloads/llm.py", "qn"): DIM,               # r14 l3_grouped_ann: ≤5 query vectors (literal vec_id < 5 bound)
        ("workloads/llm.py", "recall"): ONE_ROW,       # r14 l3_grouped_ann
        ("workloads/llm.py", "k_ok"): ONE_ROW,         # r14 l3_grouped_ann
        ("workloads/llm.py", "comp_var"): ONE_ROW,
        ("workloads/llm.py", "n_q"): ONE_ROW,
        ("workloads/llm.py", "n_tw"): ONE_ROW,
        ("workloads/llm.py", "n_docs"): ONE_ROW,
        ("workloads/llm.py", "fp"): ONE_ROW,
        ("workloads/llm.py", "total"): ONE_ROW,
        ("workloads/sql_surface.py", "lossless"): ONE_ROW,
        ("workloads/streaming.py", "mx"): ONE_ROW,
        ("workloads/streaming.py", "n_diff_g"): ONE_ROW,  # r15 t15 replay audit count
        ("sources/layout.py", "nmap"): DIM,             # partition-dir rename map (metadata-sized)
        ("functions/ann_index.py", "cand.select('query_id').distinct()"): GATED,
        ("functions/ann_index.py", "cand"): GATED,
        ("functions/ann_index.py", "q_side"): GATED,
        ("functions/index_store.py", "mdf"): DIM,       # batch-marker frame (_marker_seq_join, shared by every index tier)
        ("functions/dedup.py", "n_total"): ONE_ROW,
        ("functions/dedup.py", "d_mass"): ONE_ROW,
        ("functions/similarity.py", "df"): GATED,       # _hint_if_bounded, the gate itself
        ("functions/sketches.py", "bitmap"): DIM,       # bloom bitmap ≤ m/64 rows
        ("functions/sketches.py", "total.select('n_total')"): ONE_ROW,
        ("functions/sketches.py", "sketch"): DIM,       # CMS: d×w rows
        ("functions/text.py", "stats"): ONE_ROW,
        ("functions/text.py", "vocab"): ONE_ROW,
    }

    root = os.path.dirname(pkg.__file__)
    found: dict[tuple[str, str], list] = {}

    class V(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.stack = rel, []

        def visit_FunctionDef(self, node):
            self.stack.append(node)
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "broadcast"
                and isinstance(f.value, ast.Name)
                and f.value.id == "F"
            ):
                arg = ast.unparse(node.args[0]) if node.args else "?"
                found.setdefault((self.rel, arg), []).append(
                    (node.lineno, self.stack[-1] if self.stack else None)
                )
            self.generic_visit(node)

    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root)
            V(rel).visit(ast.parse(open(p).read()))

    unknown = sorted(
        f"{rel}:{hits[0][0]}: F.broadcast({arg})"
        for (rel, arg), hits in found.items()
        if (rel, arg) not in allow
    )
    assert not unknown, (
        "unclassified F.broadcast sites (classify in the allowlist with a "
        "category, or drop the hint and let AQE decide):\n" + "\n".join(unknown)
    )
    stale = sorted(f"{rel}: {arg}" for (rel, arg) in allow if (rel, arg) not in found)
    assert not stale, "allowlist entries no longer in the code:\n" + "\n".join(stale)
    for (rel, arg), hits in found.items():
        if allow[(rel, arg)] != GATED:
            continue
        for lineno, fnode in hits:
            assert fnode is not None and "_BCAST_MAX_CELLS" in ast.unparse(fnode), (
                f"{rel}:{lineno}: F.broadcast({arg}) is classified size-gated "
                "but its enclosing function no longer references "
                "_BCAST_MAX_CELLS — the hint escaped its gate"
            )
