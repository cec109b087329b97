"""Physical-plan assertions (the 100 TB posture checks of SURVEY.md §4):
pushdown reaches the scan, pruning shrinks ReadSchema, dims broadcast,
aggregates partial-combine, top-k avoids full sort."""


from pyspark.sql import functions as F

from kafka_connect_sse_spark.io import load_table
from kafka_connect_sse_spark.plans import (
    formatted_plan,
    pushed_filters,
    read_schema_width,
    uses_broadcast_join,
    wholestage_codegen_spans,
)
from kafka_connect_sse_spark.registry import queries

# KCSS_PLAN_SF lets the same plan-shape assertions run against any tier
# (e.g. the generated sf1) — plan SHAPE claims must be scale-invariant,
# and running this file at sf1 proves AQE/thresholds don't flip them.
import os as _os
import re

SF = _os.environ.get("KCSS_PLAN_SF", "/root/testdata/sf0.001")


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = load_table(spark, SF, "lineitem")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey")
    pf = pushed_filters(df)
    assert "l_quantity" in pf, pf


def test_column_pruning_projects_only_needed_cols(spark):
    li = load_table(spark, SF, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    assert read_schema_width(df) == 2


def test_dim_join_is_broadcast(spark):
    df = queries()["q_join_inner_broadcast"](spark, SF)
    assert uses_broadcast_join(df)


def test_multiway_join_broadcasts_dims(spark):
    """Fixed-size dims (nation, region) broadcast; customer — which SCALES
    with the data — must NOT carry a forced broadcast hint (a driver-OOM /
    broadcast-timeout scale-killer at 100 TB).  AQE may still pick a
    broadcast for it at tiny SF, which is fine — the assertion is about
    the *hint*, i.e. what we force regardless of size."""
    df = queries()["q_join_multiway"](spark, SF)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    logical = str(df._jdf.queryExecution().logical())
    # exactly two explicit broadcast hints: nation + region, never customer
    assert logical.lower().count("broadcast") == 2, logical


def test_groupby_has_partial_aggregation(spark):
    df = queries()["q_agg_groupby"](spark, SF)
    plan = formatted_plan(df)
    assert "partial" in plan.lower(), plan


def test_global_topk_uses_takeordered(spark):
    df = queries()["q_limit_topk"](spark, SF)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_scalar_pipeline_is_single_codegen_stage(spark):
    """Chained projection+filter+json-extract must fuse into one
    WholeStageCodegen span — the Catalyst replacement for the reference's
    per-record SMT interpretation (SURVEY.md §4.1)."""
    e = load_table(spark, SF, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    df = (
        e.filter(F.col("event_type") != "x")
        .select("event_id", k.alias("k"))
        .filter(F.col("k") >= 0)
    )
    assert wholestage_codegen_spans(df) >= 1


def test_scalar_subquery_is_decorrelated(spark):
    """Correlated subquery must plan as aggregate+join, not per-row
    re-execution."""
    plan = formatted_plan(queries()["q_scalar_subquery"](spark, SF))
    assert "Join" in plan
    assert "SubqueryExec" not in plan


def test_per_group_topk_uses_window_group_limit(spark):
    """rn<=k filter must push a per-partition limit into the window sort."""
    plan = formatted_plan(queries()["q_topk_per_group"](spark, SF))
    assert "WindowGroupLimit" in plan


def test_theta_join_broadcasts_the_band_side(spark):
    plan = formatted_plan(queries()["q_join_theta_range"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan


def test_exact_queries_avoid_python_row_udfs(spark):
    """Every hot-path relational operator stays JVM-side: no BatchEvalPython
    (row-at-a-time Python) in any q_* plan."""
    qs = queries()
    offenders = []
    for name, fn in qs.items():
        if not name.startswith(("q_", "x_")):
            continue
        if name in ("x_multimodal_features",):  # mapInPandas by design
            continue
        df = fn(spark, SF)
        if "BatchEvalPython" in formatted_plan(df):
            offenders.append(name)
    assert not offenders, offenders


def test_map_only_ops_have_zero_exchanges(spark):
    """Every operator SCALE.md declares map-only must stay shuffle-free:
    projections/explodes/higher-order folds inherit input partitioning
    (the 100 TB property)."""
    for name in (
        "x_doc_chunk",
        "x_pii_scrub",
        "x_fingerprint",
        "x_word_entropy",
        "x_repetition_score",
        "x_text_stats",
        "x_token_count_regex",
        "x_quality_score",
        "x_langid_ngram",
        "x_embed_quantize",
        "x_embed_norms",
        "u_arrow_map",
    ):
        plan = formatted_plan(queries()[name](spark, SF))
        assert "Exchange" not in plan, (name, plan)


def test_ivf_broadcasts_queries_not_corpus(spark):
    df = queries()["x_sim_topk_ivf"](spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # the bounded query set broadcasts; the corpus side must not
    logical = str(df._jdf.queryExecution().logical()).lower()
    assert logical.count("broadcast") == 1, logical


def test_bucketed_join_is_exchange_free(spark):
    """Both bucketed scans feed the SortMergeJoin directly; the only
    Exchange in the plan is the post-join aggregation shuffle."""
    import re

    df = queries()["q_join_bucketed"](spark, SF)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) == 1, plan


def test_exists_correlated_plans_semi_and_anti(spark):
    """EXISTS/NOT EXISTS decorrelate to LeftSemi + LeftAnti with the
    subquery filters pushed into the scans; no forced broadcast (AQE may
    pick one at small SF, but a scaling table must not be hint-pinned)."""
    qs = queries()
    plan = formatted_plan(qs["q_exists_correlated"](spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "150000" in plan  # subquery predicate reached the orders scan


def test_gapfill_broadcasts_spine_not_fact(spark):
    """The date spine (types x days, metadata-sized) broadcasts; the only
    fact-table shuffles are the daily aggregate's."""
    qs = queries()
    plan = formatted_plan(qs["q_ts_gapfill"](spark, SF))
    assert "BroadcastExchange" in plan
    # the fact scan must feed a partial aggregate, not a join build side
    assert "partial_count" in plan


def test_partitioned_reread_prunes_partitions(spark):
    """The partition-key predicate must land in PartitionFilters (directory
    pruning), not as a post-scan filter."""
    df = queries()["snk_parquet_pruned"](spark, SF)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan, plan
    assert "event_type = click" in plan.replace("#", " ").replace(")", " ") or \
        "click" in plan.split("PartitionFilters", 1)[1][:400], plan


def test_sessionize_shares_one_shuffle(spark):
    """lag + running-sum windows and the per-session rollup all reuse the
    user_id hash partitioning: exactly ONE Exchange in the whole plan."""
    import re

    plan = formatted_plan(queries()["q_sessionize"](spark, SF))
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) == 1, plan
    assert plan.count("Window") >= 2


def test_seq_pack_windows_on_lang_shard(spark):
    """Two-level packing: the corpus-sized window must partition by
    (lang, shard) — never bare lang, which would funnel a whole language
    through one task — and the offsets side must come back as a broadcast
    join, with its per-shard pack counts computed by a partial-aggregated
    groupBy (no second corpus-wide window)."""
    import re

    for op in ("x_seq_pack", "x_doc_concat"):
        plan = formatted_plan(queries()[op](spark, SF))
        win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert win_specs, plan
        big = [s for s in win_specs if "lang" in s]
        assert big and all("shard" in s for s in big), (op, win_specs)
        assert "BroadcastExchange" in plan, op
        assert "partial_" in plan, op  # offsets agg has a map-side phase


def test_merge_upsert_is_single_join(spark):
    """The CDC apply is ONE full-outer join (SortMergeJoin FullOuter or
    AQE-chosen equivalent), not a union of three filtered joins."""
    plan = formatted_plan(queries()["q_merge_upsert"](spark, SF))
    assert plan.count("Join type: FullOuter") == 1, plan
    assert plan.count("Join type:") == 1, plan


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's runtime skew-join split — the no-code-change complement to the
    manual salting op (q_join_salted_skew) — must engage on a skewed
    shuffle join once partition sizes cross the (lowered) thresholds:
    SortMergeJoin(skew=true) + an AQEShuffleRead marked skewed."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 != 0, 7)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k").groupBy("k").count()
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_downsample_shares_one_exchange(spark):
    """Both OHLC window sorts (asc/desc) and the final rollup reuse the
    (event_type, hour) hash partitioning: ONE Exchange total."""
    import re

    plan = formatted_plan(queries()["q_ts_downsample"](spark, SF))
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) == 1, plan
    assert len(set(re.findall(r"\((\d+)\) Window", plan))) == 2, plan
    assert "partial_" in plan, plan


def test_reservoir_sample_uses_takeordered(spark):
    """Bottom-k hash sampling must plan as TakeOrderedAndProject (per-task
    k-heaps merged on the driver), never a global sort."""
    df = queries()["x_sample_reservoir"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_bloom_prune_probes_jvm_side(spark):
    """The bloom probe (getbit on the literal word array) sits in the fact
    scan's filter stage — no Python evaluator — and the exact verify is a
    broadcast LEFT SEMI."""
    df = queries()["q_join_bloom_prune"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "getbit" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_interleave_global_window_is_post_filter(spark):
    """The corpus-sized window partitions by lang; the single-partition
    global ordering runs only over the K quota-selected rows (filter is
    below — i.e. deeper in the tree than — the SinglePartition exchange
    feeding the final window)."""
    import re

    df = queries()["x_interleave_sources"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("lang" in s for s in specs), specs
    # exactly one single-partition exchange (the global-order one)
    singles = [
        m.start() for m in re.finditer(r"Exchange SinglePartition", plan)
    ]
    assert len(singles) == 1, plan
    # the quota filter must appear AFTER it in the top-down tree print,
    # i.e. as its descendant: only quota survivors ride the exchange
    quota_filter = plan.find("<= coalesce")
    assert quota_filter > singles[0], plan


def test_bpe_pair_counts_is_take_ordered(spark):
    """x_bpe_pair_counts' merge-candidate selection must plan as
    TakeOrderedAndProject (per-task top-k heaps); the ranking window runs
    over only the BPE_TOP surviving rows, never the full distinct-pair
    relation (no SinglePartition exchange anywhere)."""
    df = queries()["x_bpe_pair_counts"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    # the ranking window must exist AND sit above TakeOrdered (ranks its
    # output); find() would return -1 if the window vanished, which would
    # pass the < comparison vacuously
    assert "windowspecdefinition" in plan, plan
    assert plan.find("windowspecdefinition") < plan.find(
        "TakeOrderedAndProject"
    ), plan


def test_dpp_prunes_fact_partitions(spark):
    """The dim-side filter must reach the partitioned fact scan as a
    dynamicpruningexpression in PartitionFilters — unmatched partition
    directories are never opened."""
    df = queries()["q_join_dpp"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "dynamicpruning" in pf[0].lower(), plan


def test_ann_rerank_window_carries_no_vectors(spark):
    """Stage-1's ranking shuffle must carry only (query_id, neighbor_id,
    iscore) — embedding arrays stay out of the window exchange (they
    rejoin after the shortlist)."""
    import re

    df = queries()["x_ann_rerank"](spark, SF)
    plan = formatted_plan(df)
    m = re.search(r"\(\d+\) Exchange[^\n]*\n(?:.*\n)*?Input(?: \[\d+\])?: \[([^\]]*)\]", plan)
    # find every Exchange's input column list; none may include an array col
    exch_inputs = re.findall(
        r"\(\d+\) Exchange[^\n]*\nInput \[\d+\]: \[([^\]]*)\]", plan
    )
    assert exch_inputs, plan
    for cols in exch_inputs:
        assert "qq" not in cols and "fv" not in cols and "qv" not in cols, cols


def test_ann_pipeline_window_carries_no_vectors(spark):
    """x_ann_pipeline inherits x_ann_rerank's shuffle discipline across
    all three stages: the prefiltered shortlist ranking exchange carries
    (query_id, neighbor_id, iscore) only; int8 and fp64 vectors travel
    exclusively via broadcast or the post-shortlist key join."""
    import re

    df = queries()["x_ann_pipeline"](spark, SF)
    plan = formatted_plan(df)
    exch_inputs = re.findall(
        r"\(\d+\) Exchange[^\n]*\nInput \[\d+\]: \[([^\]]*)\]", plan
    )
    assert exch_inputs, plan
    for cols in exch_inputs:
        assert "qq" not in cols and "fv" not in cols and "qv" not in cols, cols


def test_claimed_single_exchange_ops(spark):
    """Every operator whose SURVEY row claims 'both frames/windows share
    ONE Exchange' must mechanically show exactly one Exchange — the claim
    audit that keeps 'plan-verified' honest."""
    import re

    for op in ("q_join_asof_nearest", "q_win_count_distinct"):
        plan = formatted_plan(queries()[op](spark, SF))
        assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) == 1, (
            op,
            plan,
        )


def test_ann_pipeline_scans_stored_int8_index(spark):
    """Round 7: stage 1 must read the MATERIALIZED index (build-once
    array<tinyint> parquet via ann_index_path), not re-quantize the fp
    base inline — the scan location and the tinyint read schema are both
    visible in the physical plan, and the IVF prefilter stays a
    BroadcastHashJoin on the cell id."""
    df = queries()["x_ann_pipeline"](spark, SF)
    plan = formatted_plan(df)
    assert "ann_index.parquet" in plan, plan
    assert "array<tinyint>" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_dehinted_joins_carry_no_forced_broadcast(spark):
    """VERDICT r6 weak flags: x_containment_dedup's per-doc sizes join
    (O(n_docs)) and x_tfidf_top_term's document-frequency join
    (O(|vocab|)) must never carry a forced broadcast hint again — AQE
    decides from measured sizes.  Pin the analyzed-plan hint count:
    containment has ZERO hints; tfidf exactly ONE (the 1-row corpus
    count, which is bounded at any scale and stays hinted on purpose)."""
    an_c = (
        queries()["x_containment_dedup"](spark, SF)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "Hint" not in an_c, an_c
    an_t = (
        queries()["x_tfidf_top_term"](spark, SF)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert an_t.count("ResolvedHint") == 1, an_t

def _final_plan(df):
    """Execute, then return only the == Final Plan == section of the
    adaptive plan (the Initial Plan section would false-positive
    needles like SortMergeJoin that AQE replaces at runtime)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    cut = plan.find("== Initial Plan ==")
    return plan if cut == -1 else plan[:cut]


def test_cms_sketch_reduce_side_is_constant(spark):
    """x_cms_heavy_hitters' corpus-sized pass must partial-aggregate
    below its exchange (map-side combine caps each task's shuffle
    contribution at DEPTH*WIDTH rows); no token-keyed sort-merge join
    may appear (the only SMJ-eligible join is the constant-size
    (row, cell) sketch compare) and nothing runs in Python."""
    plan = _final_plan(queries()["x_cms_heavy_hitters"](spark, SF))
    assert "partial_count" in plan, plan
    for m in re.finditer(r"SortMergeJoin \[(\w+)", plan):
        assert m.group(1) in ("row", "cell"), plan
    assert "BatchEvalPython" not in plan, plan


def test_zipf_regression_partial_aggregates_and_skips_global_sort(spark):
    """x_zipf_fit: the regression moments must partial-aggregate
    (partial_regr_slope — mergeable Welford state, the property that
    lets 1000 executors fit independently and combine), the rank
    selection must plan as TakeOrderedAndProject (per-task top-k heaps),
    and the FINAL plan must contain NO SinglePartition exchange at all —
    the window runs over the 40 TakeOrdered survivors, never the corpus
    or the vocabulary."""
    plan = _final_plan(queries()["x_zipf_fit"](spark, SF))
    assert "partial_regr_slope" in plan, plan
    assert "TakeOrderedAndProject(limit=40" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange hashpartitioning(w" in plan, plan


def test_cooccur_pmi_slices_are_materialized(spark):
    """The PMI bigram build must follow the round-8 shingle rule: the
    zip_with consumes two MATERIALIZED top-level slice columns, so
    split(text) is never re-evaluated per exploded element — the
    Generate line carries the zip_with over plain attributes, with
    split confined to its own Project below; ranked output rides
    TakeOrderedAndProject, never a full sort."""
    plan = _final_plan(queries()["x_cooccur_pmi"](spark, SF))
    gen_lines = [l for l in plan.splitlines() if "Generate explode(zip_with" in l]
    assert gen_lines, plan
    assert all("split(" not in l for l in gen_lines), gen_lines
    assert any(
        "slice(" in l and "Project" in l for l in plan.splitlines()
    ), plan
    assert "TakeOrderedAndProject(limit=15" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_ks_drift_reuses_count_exchange(spark):
    """x_ks_drift: both populations' counts ride one value-keyed
    partial-agg shuffle, and the totals branch must REUSE that exchange
    (ReusedExchange in the final plan) rather than re-scan the corpus —
    two logical passes, one physical one."""
    plan = _final_plan(queries()["x_ks_drift"](spark, SF))
    assert "partial_sum" in plan, plan
    assert "ReusedExchange" in plan, plan
    # exactly one corpus scan survives in the final plan
    assert plan.count("FileScan parquet") == 1, plan


def test_chi2_keyness_single_token_shuffle(spark):
    """x_chi2_keyness: ONE token-keyed partial-agg shuffle carries both
    population counts (no join between per-source aggregates), one
    corpus scan feeds it (the totals reuse its exchange), and the
    ranking is TakeOrdered-capped."""
    plan = _final_plan(queries()["x_chi2_keyness"](spark, SF))
    assert "partial_sum" in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "TakeOrderedAndProject(limit=20" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_domain_mix_single_corpus_scan(spark):
    """x_domain_mix: the corpus is scanned ONCE (totals ride windows over
    the |sources|-row aggregate, not re-aggregating cross joins), the
    per-source profile partial-aggregates below its exchange, and both
    total windows share one SinglePartition exchange of the tiny
    relation — count the exchanges to pin it."""
    plan = _final_plan(queries()["x_domain_mix"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    # source-hash exchange + ONE shared SinglePartition window exchange
    assert len(re.findall(r"\bExchange (?:hash|Single)", plan)) == 2, plan
    assert "BatchEvalPython" not in plan, plan


def test_curriculum_order_groupby_reuses_window_partitioning(spark):
    """x_curriculum_order: one corpus scan feeds the lang-keyed ntile
    window, and the (lang, stage) rollup must satisfy its clustering
    from the window's lang partitioning — exactly ONE exchange in the
    whole plan, no Python."""
    plan = _final_plan(queries()["x_curriculum_order"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert "ntile" in plan, plan
    assert len(re.findall(r"\bExchange ", plan)) == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_split_leakage_safe_assignment_is_mapside(spark):
    """x_split_leakage_safe: the cluster relation joins as a BROADCAST
    left-outer (dup-evidence-sized build side), the md5 split assignment
    is a projection below the first aggregate — the only exchanges are
    the two of the distinct-rollup pair, and the corpus parquet is
    scanned once."""
    plan = _final_plan(queries()["x_split_leakage_safe"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert len(re.findall(r"\bExchange hash", plan)) == 2, plan


def test_bm25_tf_is_mapside_and_topk_is_heap(spark):
    """x_bm25_score: term frequencies come from list_filter projections —
    NO Generate (token explode) anywhere; the single-row corpus stats
    broadcast (BroadcastNestedLoopJoin Cross), ranking is
    TakeOrderedAndProject, nothing runs in Python."""
    plan = _final_plan(queries()["x_bm25_score"](spark, SF))
    assert "Generate" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan and "Cross" in plan, plan
    assert "TakeOrderedAndProject(limit=20" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_source_overlap_pairs_expand_mapside(spark):
    """x_source_overlap: the pair relation expands from stored posting
    lists (Scan ExistingRDD — the corpus-sized shuffle happened once at
    posting build) via two Generates with the a<b filter below the
    partial aggregate; per-source sizes join as broadcasts; no Python."""
    plan = _final_plan(queries()["x_source_overlap"](spark, SF))
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("Generate explode") >= 3, plan  # 2 pair + 1 sizes
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "FileScan parquet" not in plan, plan  # corpus not re-read


def test_quality_classifier_is_mapside_only(spark):
    """x_quality_classifier: a logistic scorer is a pure projection —
    ZERO exchanges, zero joins, nothing in Python, one column-pruned
    corpus scan.  Any exchange appearing here means a feature was
    accidentally computed as an aggregate."""
    plan = _final_plan(queries()["x_quality_classifier"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string,lang:string>" in plan, plan


def test_pack_efficiency_partial_aggregates_to_bins(spark):
    """x_pack_efficiency: token counting is len(split) — NO Generate; the
    corpus-sized pass partial-aggregates below its exchange onto |bins|
    groups; the only SinglePartition exchange feeds the window over the
    |bins|-row relation."""
    plan = _final_plan(queries()["x_pack_efficiency"](spark, SF))
    assert "Generate" not in plan, plan
    assert "partial_count" in plan and "partial_sum" in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_dedup_semantic_broadcasts_centroids_no_python(spark):
    """x_dedup_semantic: both assignment passes cross-join the K-row
    centroid relation as broadcasts (BroadcastNestedLoopJoin Cross) — the
    embedding relation is never shuffled by centroid; the in-cell pair
    join and the survivor-flag join build broadcast-side too at this
    sample size; no SinglePartition exchange, nothing in Python."""
    plan = _final_plan(queries()["x_dedup_semantic"](spark, SF))
    assert plan.count("BroadcastNestedLoopJoin") >= 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_dup_graph_degree_joins_edges_as_broadcast(spark):
    """x_dup_graph_degree: the dup-evidence degree relation broadcasts
    onto the documents spine (never a corpus-keyed SortMergeJoin), and
    the histogram partial-aggregates below its exchange."""
    plan = _final_plan(queries()["x_dup_graph_degree"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_count" in plan, plan


def test_src_parquet_scan_prunes_to_projected_columns(spark):
    """Independent current-code evidence for src_parquet_scan (window-
    deferral contract): the scan's ReadSchema must carry ONLY the 11
    projected columns (l_comment and the other unused ones never leave
    parquet) and the whole query is scan + project — zero exchanges."""
    plan = _final_plan(queries()["src_parquet_scan"](spark, SF))
    assert "l_comment" not in plan, plan
    assert "Exchange" not in plan, plan
    m = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert m and "l_shipdate" in m[0] and "l_quantity" in m[0], plan


def test_vocab_coverage_topk_is_heap_then_tiny_window(spark):
    """x_vocab_coverage: the vocab cut is TakeOrderedAndProject (per-task
    heaps over the vocab-bounded count relation); the total-token branch
    is len(split) — the plan holds exactly the two expected Generates
    (the tf explode + the literal k explode), and the only SinglePartition
    exchange feeds the rank window over the bounded top-k relation."""
    plan = _final_plan(queries()["x_vocab_coverage"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Generate explode") == 2, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_source_novelty_single_corpus_shuffle(spark):
    """x_source_novelty: the posting build is the ONLY corpus-sized stage
    — both rollups read the localCheckpointed posting relation (Scan
    ExistingRDD; the corpus parquet appears in no branch twice), the
    novelty join broadcasts, and no SortMergeJoin appears."""
    plan = _final_plan(queries()["x_source_novelty"](spark, SF))
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("FileScan parquet") == 0, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_tokenizer_fertility_is_generate_free_single_exchange(spark):
    """x_tokenizer_fertility: both token counts are len() projections —
    no Generate — and the lang rollup partial-aggregates below the one
    exchange."""
    plan = _final_plan(queries()["x_tokenizer_fertility"](spark, SF))
    assert "Generate" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan, plan


def test_pandas_grouped_agg_runs_as_arrow_aggregate(spark):
    """u_pandas_grouped_agg: the UDAF executes as the Arrow grouped
    aggregate operator (ArrowAggregatePython) over ONE event_type
    exchange with a column-pruned scan — the Arrow batch carries only
    the two aggregate inputs."""
    plan = _final_plan(queries()["u_pandas_grouped_agg"](spark, SF))
    assert "ArrowAggregatePython" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "ReadSchema: struct<user_id:bigint,event_type:string,value:double>" in plan, plan


def test_embed_outliers_centroid_broadcasts_rank_window_bounded(spark):
    """x_embed_outliers: the centroid comes back as a single broadcast
    row (BroadcastNestedLoopJoin Cross); the embedding table is scanned,
    never shuffled by key — the only hash exchange feeds the per-
    dimension centroid aggregate; the rank window's SinglePartition
    exchange carries (vec_id, dist) pairs only, no vectors."""
    plan = _final_plan(queries()["x_embed_outliers"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    import re

    win_exch = [
        l for l in plan.splitlines() if "Exchange SinglePartition" in l
    ]
    assert win_exch, plan


def test_funnel_three_windows_share_one_exchange(spark):
    """q_funnel_stages: the three chained conditional-min windows AND the
    per-user rollup all ride ONE user_id hash exchange (q_sessionize
    discipline); the only other exchange is the single-row final
    aggregate's SinglePartition."""
    plan = _final_plan(queries()["q_funnel_stages"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert plan.count("Window") >= 3, plan
    assert "BatchEvalPython" not in plan, plan


def test_retention_join_shape(spark):
    """q_retention_cohort: the first-day side broadcasts and no
    SortMergeJoin appears — true in BOTH checkpoint branches (the
    round-9 size-conditional materialization is covered by
    test_retention_cohort_checkpoint_is_size_conditional; at this SF
    the measured-faster rescan branch is active)."""
    plan = _final_plan(queries()["q_retention_cohort"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_attribution_single_window_exchange(spark):
    """q_attribution_last_touch: attribution is ONE user_id window
    exchange (ignore-nulls last_value over a 1-preceding frame — no self
    join anywhere); the rollup shuffles |event types| groups."""
    plan = _final_plan(queries()["q_attribution_last_touch"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_anomaly_zscore_reads_events_once_stats_broadcast(spark):
    """q_anomaly_zscore_daily: one column-pruned events scan feeds the
    (type, day) partial-agg counts; the per-type stats roll up from that
    relation and rejoin as a broadcast — integer-sum moments, nothing in
    Python."""
    plan = _final_plan(queries()["q_anomaly_zscore_daily"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_pareto_abc_windows_over_parts_only(spark):
    """q_pareto_abc: the corpus-sized stage is the per-part revenue
    partial agg; ranking + total ride ONE SinglePartition exchange over
    the |parts|-bounded relation (one Sort serves the cumulative
    window)."""
    plan = _final_plan(queries()["q_pareto_abc"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert "partial_sum" in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_rfm_profile_is_single_corpus_shuffle(spark):
    """q_rfm_segments: events scan exactly once (the reference date is a
    window over the per-user profile, not a second MAX scan); the three
    ntile windows run post-profile; no join anywhere."""
    plan = _final_plan(queries()["q_rfm_segments"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Window") >= 3, plan
    assert "partial_count" in plan, plan


def test_mad_broadcasts_group_medians(spark):
    """q_agg_mad: both median relations are |groups| rows and broadcast
    back onto the fact — no SortMergeJoin; both fact passes are
    column-pruned to two columns."""
    plan = _final_plan(queries()["q_agg_mad"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ReadSchema: struct<l_extendedprice:double,l_returnflag:string>" in plan, plan


def test_fn_interval_is_mapside_only(spark):
    """q_fn_interval: calendar arithmetic is one codegen'd projection —
    zero exchanges, zero joins."""
    plan = _final_plan(queries()["q_fn_interval"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_pca_power_broadcasts_direction_every_step(spark):
    """x_embed_pca_power: every iteration scores rows against a ONE-row
    broadcast direction (BroadcastNestedLoopJoin per step + the lambda
    pass); per-dimension accumulations partial-aggregate onto dim-
    bounded groups; nothing in Python."""
    plan = _final_plan(queries()["x_embed_pca_power"](spark, SF))
    assert plan.count("BroadcastNestedLoopJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_triangle_count_joins_checkpointed_edges(spark):
    """q_triangle_count: the edge and oriented-edge relations are
    localCheckpointed (multiple consumers each) — the co-activity
    self-join never replays; downstream joins read Scan ExistingRDD
    only.  SCALE PIN (VERDICT r8 item 2): orientation is the inlined
    (degree, id) tuple comparison — the plan holds NO window operator
    (the old SinglePartition row_number over |nodes| is gone) and no
    rank relation exists to broadcast."""
    plan = _final_plan(queries()["q_triangle_count"](spark, SF))
    assert plan.count("FileScan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Window" not in plan, plan


def test_retention_cohort_rescans_parquet(spark):
    """q_retention_cohort has one form: the shared (user, day) distinct
    relation is recomputed from a column-pruned parquet scan, never
    checkpointed (the checkpoint lost to the rescan at every measured
    tier)."""
    plan = _final_plan(queries()["q_retention_cohort"](spark, SF))
    assert "FileScan parquet" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_rfm_segments_approx_is_sketch_only(spark):
    """q_rfm_segments_approx (VERDICT r8 item 3): the scale twin's plan
    holds NO window operator — quartile cuts come from mergeable
    percentile_approx sketches and assignment/checking are map-side
    aggregates; the |users| profile is checkpointed so the corpus agg
    runs once."""
    plan = _final_plan(queries()["q_rfm_segments_approx"](spark, SF))
    assert "Window" not in plan, plan
    assert "percentile_approx" in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("FileScan parquet") == 0, plan


def test_embed_outliers_approx_is_sketch_only(spark):
    """x_embed_outliers_approx (VERDICT r8 item 3): no window operator
    anywhere — the outlier cut is a one-pass percentile_approx sketch
    broadcast back as one row; contrast with x_embed_outliers' global
    rank, which this twin exists to replace at scale."""
    plan = _final_plan(queries()["x_embed_outliers_approx"](spark, SF))
    assert "Window" not in plan, plan
    assert "percentile_approx" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_pagerank_topk_uses_heaps_not_global_sort(spark):
    """q_pagerank_iter: the top-k cut is TakeOrderedAndProject (per-task
    heaps + driver merge of k rows — never a global sort), the edge
    relation reads the checkpoint (self-join runs once), no Window
    operator exists, and the contribution aggregates partial-combine
    map-side.  Runs at sf0.01: the sampled co-activity graph is EMPTY
    at sf0.001 and AQE's empty-relation propagation collapses the whole
    plan (a correct optimization that would make this pin vacuous)."""
    plan = _final_plan(
        queries()["q_pagerank_iter"](spark, "/root/testdata/sf0.01")
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_ohlc_is_one_partial_agg_no_window(spark):
    """q_ts_ohlc: ONE partial-aggregating groupBy (min_by/max_by carry
    constant per-group state, combine runs map-side) — no window
    operator, no join, one parquet scan."""
    plan = _final_plan(queries()["q_ts_ohlc"](spark, SF))
    assert "Window" not in plan, plan
    assert "partial_min" in plan or "partial_count" in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_length_outliers_reads_metadata_columns_only(spark):
    """x_length_outliers: both passes are metadata-only — the ReadSchema
    of every documents scan carries (lang, n_chars) and never the text
    column (the whole point: robust corpus QA without touching bytes)."""
    plan = _final_plan(queries()["x_length_outliers"](spark, SF))
    assert "text" not in plan.split("ReadSchema")[1][:200], plan
    assert re.search(r"ReadSchema:.*n_chars", plan), plan
    assert "SortMergeJoin" not in plan, plan


def test_token_budget_windows_ride_one_exchange(spark):
    """x_token_budget: token counting is len(split) (no Generate); the
    total/rank/extras windows all ride the |sources|-row relation
    through SinglePartition — the corpus never passes through it."""
    plan = _final_plan(queries()["x_token_budget"](spark, SF))
    assert "Generate" not in plan, plan
    assert plan.count("SinglePartition") <= 2, plan
    assert "partial_sum" in plan, plan


def test_attribution_linear_single_user_window(spark):
    """q_attribution_linear: the corpus-sized user_id window runs
    EXACTLY ONCE (its only consumer, the bounded count rollup, is
    checkpointed for the three downstream branches — the first draft
    replayed the window 3x via the AQE no-cross-stage-reuse trap and
    this pin caught it).  The checkpoint truncates lineage, so the
    final plan holds ZERO Window operators (the one window executed at
    materialization) and every branch reads Scan ExistingRDD; no
    parquet rescan, no BatchEvalPython."""
    plan = _final_plan(queries()["q_attribution_linear"](spark, SF))
    assert plan.count("Window") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("FileScan parquet") == 0, plan
    assert "BatchEvalPython" not in plan, plan


def test_streaks_window_exchange_reused_by_island_rollup(spark):
    """q_win_streaks: the island window partitions by user over the
    DISTINCT (user, day) relation and the island rollup reuses that
    clustering — exactly one Window, no extra exchange between them."""
    plan = _final_plan(queries()["q_win_streaks"](spark, SF))
    assert plan.count("Window") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_cluster_purity_rolls_up_cell_label_counts(spark):
    """x_cluster_purity: after the shared assignment, every relation is
    (cell, label)-bounded — the final plan holds no SinglePartition
    window over anything larger than the K-row cell relations and no
    SortMergeJoin."""
    plan = _final_plan(queries()["x_cluster_purity"](spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "partial_count" in plan, plan


def test_mad_approx_three_pruned_scans_no_window(spark):
    """q_agg_mad_approx: exactly THREE column-pruned lineitem scans
    (median sketch + n, MAD sketch with n/med carried through, guarantee
    counts) and ZERO Window operators — the first draft hit four scans
    when `med` fed two broadcast stages (the AQE no-cross-stage-reuse
    trap, caught by tools/plan_audit.py) and no per-group sort may ever
    appear (the sketch replaces exact percentile's sort/buffer)."""
    plan = _final_plan(queries()["q_agg_mad_approx"](spark, SF))
    assert plan.count("FileScan parquet") == 3, plan
    assert plan.count("Window") == 0, plan
    assert "percentile_approx" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_holt_and_cusum_single_scan_fold(spark):
    """q_ts_holt / q_ts_cusum: ONE events scan each — the recurrence is
    an array fold per group (no Window, no second pass for the moment
    sums, which ride the same grouped aggregate as the array)."""
    for name in ("q_ts_holt", "q_ts_cusum"):
        plan = _final_plan(queries()[name](spark, SF))
        assert plan.count("FileScan parquet") == 1, (name, plan)
        assert plan.count("Window") == 0, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)


def test_seasonal_dow_single_scan_totals_broadcast(spark):
    """q_ts_seasonal_dow: the per-type totals derive from the SAME
    (type, day) daily aggregate as the per-dow rollup — one events
    scan, totals rejoin as a broadcast."""
    plan = _final_plan(queries()["q_ts_seasonal_dow"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_skew_kurt_and_corr_matrix_one_pass_moments(spark):
    """q_agg_skew_kurt / q_agg_corr_matrix: ONE scan, ONE partial-agg
    pass — the moments ARE the mergeable state; no window, no join, no
    second pass for any of the closed-form statistics."""
    for name in ("q_agg_skew_kurt", "q_agg_corr_matrix"):
        plan = _final_plan(queries()[name](spark, SF))
        assert plan.count("FileScan parquet") == 1, (name, plan)
        assert plan.count("Window") == 0, (name, plan)
        assert "partial_" in plan, (name, plan)


def test_markov_lead_window_feeds_partial_agg(spark):
    """q_markov_transitions: one events scan; the per-user lead()
    window is the only corpus-sized sort and the transition rollup
    partial-aggregates above it; the normalizing window rides the
    bounded |types|^2 relation (2 windows total, 1 scan)."""
    plan = _final_plan(queries()["q_markov_transitions"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Window") == 2, plan
    assert "partial_count" in plan, plan


def test_tok_len_hist_single_scan_no_generate(spark):
    """x_tok_len_hist: token counting is len(split) — NO Generate — and
    totals derive from the bounded histogram, so exactly one documents
    scan exists (the first draft's totals branch rescanned the corpus;
    caught by the plan-audit gate)."""
    plan = _final_plan(queries()["x_tok_len_hist"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Generate" not in plan, plan


def test_doc_len_gini_one_scan_one_window(spark):
    """x_doc_len_gini: one documents scan, the per-source ranking
    window, and the rank-formula rollup reusing its clustering."""
    plan = _final_plan(queries()["x_doc_len_gini"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Window") == 1, plan


def test_embed_dim_stats_single_posexplode_partial_agg(spark):
    """x_embed_dim_stats: posexplode -> ONE (dim)-keyed partial agg;
    one embeddings scan, no window, no join."""
    plan = _final_plan(queries()["x_embed_dim_stats"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Window") == 0, plan
    assert "Generate" in plan, plan  # the posexplode


def test_decontaminate_is_shuffle_free_map_side_gram_build(spark):
    """x_decontaminate (round-10 rewrite): grams build in ONE map-side
    transform+slice lambda — no Window (the rejected lead()-window
    variant would show 4), and the benchmark branch's rescan is
    doc_id-pruned (PushedFilters), so neither scan is 'the corpus
    twice'."""
    plan = _final_plan(queries()["x_decontaminate"](spark, SF))
    assert plan.count("Window") == 0, plan
    assert plan.count("FileScan parquet") == 2, plan
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,20)]" in plan \
        or "LessThan(doc_id,20)" in plan, plan


def test_importance_resample_sampled_weight_pass_is_mapside(spark):
    """x_importance_resample_sampled (the DSIR scale twin): the weight
    pass folds each document's token array against ONE broadcast
    256-element decimal array — no persist (zero InMemoryTableScan,
    unlike the exact op), ONE Generate (the 1/16-sampled profile
    explode; the corpus-wide weight pass must NOT explode), two
    documents scans (profile + weight), and the final ranking is a
    TakeOrderedAndProject heap, never a global sort."""
    plan = _final_plan(queries()["x_importance_resample_sampled"](spark, SF))
    assert "InMemoryTableScan" not in plan, plan
    assert plan.count("Generate") == 1, plan
    assert plan.count("FileScan parquet") == 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_theil_sen_pairs_expand_on_checkpointed_daily_relation(spark):
    """q_ts_theil_sen: the (type, day) relation feeds three consumers
    (both self-join sides + n_days), so it must be localCheckpointed —
    zero events FileScans in the final plan (lineage truncated), the
    AQE no-cross-stage-reuse rule's bounded-relation arm."""
    plan = _final_plan(queries()["q_ts_theil_sen"](spark, SF))
    assert plan.count("FileScan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan


def test_trimmed_mean_windows_run_on_histogram_not_rows(spark):
    """q_agg_trimmed_mean: ONE lineitem scan feeding the (group, value)
    partial agg; the cumulative/total windows run over the 50-value
    histogram, never over raw rows (the scan's aggregate sits BELOW
    both Window operators in the plan)."""
    plan = _final_plan(queries()["q_agg_trimmed_mean"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert "HashAggregate" in plan, plan


def test_mann_kendall_runs_on_checkpointed_daily_relation(spark):
    """q_ts_mann_kendall: the (type, day) relation feeds three
    consumers (sign-pair join sides + tie rollup) — localCheckpointed,
    zero events FileScans in the final plan (the theil_sen pin's
    twin)."""
    plan = _final_plan(queries()["q_ts_mann_kendall"](spark, SF))
    assert plan.count("FileScan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan


def test_cramers_v_grid_runs_on_checkpointed_cells(spark):
    """q_agg_cramers_v: the (type, dow) cell table feeds four
    consumers — localCheckpointed, zero events FileScans; the
    zero-filled grid join and chi-square run on cells."""
    plan = _final_plan(queries()["q_agg_cramers_v"](spark, SF))
    assert plan.count("FileScan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan


def test_rank_stats_pair_work_runs_on_checkpointed_histograms(spark):
    """q_agg_spearman / q_agg_kendall_tau / q_agg_hodges_lehmann: the
    joint (or value) histogram is the checkpoint boundary — zero
    lineitem FileScans in any final plan; Walsh/cell-pair expansion
    and rank windows run on the bounded relation."""
    for name in (
        "q_agg_spearman",
        "q_agg_kendall_tau",
        "q_agg_hodges_lehmann",
    ):
        plan = _final_plan(queries()[name](spark, SF))
        assert plan.count("FileScan parquet") == 0, (name, plan)
        assert "ExistingRDD" in plan, (name, plan)


def test_sample_temperature_token_count_runs_once(spark):
    """x_sample_temperature: the per-lang token count is the
    checkpoint boundary (feeds normalizer + weights) — zero documents
    FileScans in the final plan."""
    plan = _final_plan(queries()["x_sample_temperature"](spark, SF))
    assert plan.count("FileScan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan


def test_fuzzy_edit_blocks_join_the_checkpointed_name_relation(spark):
    """x_dedup_fuzzy_edit: the vocabulary-sized name relation feeds
    both self-join sides — localCheckpointed, zero part FileScans;
    levenshtein evaluates only on in-block candidate pairs."""
    plan = _final_plan(queries()["x_dedup_fuzzy_edit"](spark, SF))
    assert plan.count("FileScan parquet") == 0, plan
    assert "ExistingRDD" in plan, plan


def test_win_median_frame_is_constant_and_single_scan(spark):
    """q_win_median: one events scan into the daily partial agg; the
    median window runs on the calendar-bounded relation with an O(1)
    collect frame (no unbounded collect_list)."""
    plan = _final_plan(queries()["q_win_median"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Window" in plan, plan


def test_changepoint_single_scan_windows_on_daily(spark):
    """q_ts_changepoint: single events scan; prefix sums, totals, and
    the argmax all run as windows over the daily relation."""
    plan = _final_plan(queries()["q_ts_changepoint"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Window" in plan, plan


def test_simhash_bitparallel_plan_shape(spark):
    """x_dedup_simhash (r11 rewrite): one documents scan, ONE Generate
    (the token explode feeding codegen), no higher-order filter chain,
    and a partial-aggregated exchange (map-side combine on doc_id) —
    the eval-regime fix SCALE.md documents."""
    plan = _final_plan(queries()["x_dedup_simhash"](spark, SF))
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Generate") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_graph_pair_never_rescans_lineitem(spark):
    """Round-12 posting-list shape (co_catalog_postings): the corpus
    is scanned and collect_set-shuffled ONCE into the localCheckpointed
    |parts|-row posting relation; every consumer (cap profile, degree
    explode, pair expansion) must read the CHECKPOINT (Scan
    ExistingRDD), never the parquet again.  The r11 shape carried
    three corpus-wide stages; a regression to a lineitem self-join
    would surface here as a parquet scan in the final plan."""
    for op in ("q_jaccard_neighbors", "q_graph_assortativity"):
        plan = formatted_plan(queries()[op](spark, SF))
        assert "lineitem" not in plan, (op, "corpus re-scanned")
        assert "Scan ExistingRDD" in plan, op


def test_target_encoding_bucketed_join_is_exchange_free(spark):
    """The bucketed target-encoding twin (VERDICT r12 item 6): both
    custkey-bucketed scans feed the SortMergeJoin with NO exchange on
    either join side — the only Exchange is the segment aggregation's.
    The op localCheckpoints the seg relation (cutting lineage), so the
    join stage is pinned via the factored-out tenc_bucketed_seg."""
    import re

    # run the op once so the bucketed tables exist, then pin the
    # factored join stage's plan
    queries()["x_target_encoding_bucketed"](spark, SF).collect()
    from kafka_connect_sse_spark.operators.pipeline import tenc_bucketed_seg

    plan = formatted_plan(tenc_bucketed_seg(spark))
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) == 1, plan


def test_zorder_only_wide_stage_is_the_range_exchange_on_z(spark):
    """snk_parquet_zorder's clustering claim at the plan level: the
    write pipeline's ONLY Exchange is the rangepartitioning on z (the
    clustering itself) — the Morton code is computed map-side, no
    extra shuffle sneaks in between scan and write."""
    from kafka_connect_sse_spark.io import scratch_dir
    from kafka_connect_sse_spark.operators.sinks import (
        _ZORDER_FILES,
        write_zorder_layout,
    )
    import shutil as _sh

    out = scratch_dir("kcss_zorder_plan")
    _sh.rmtree(out, ignore_errors=True)
    # rebuild the pre-write DataFrame exactly as the writer does, but
    # explain instead of write: reuse the helper then introspect the
    # written directory AND pin the logical shape via a twin frame
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    mm = li.agg(
        F.min("l_orderkey").alias("xmin"), F.max("l_orderkey").alias("xmax")
    ).first()
    from kafka_connect_sse_spark.operators.sinks import _zorder_expr

    zed = li.select(
        F.expr(_zorder_expr("l_orderkey", "l_partkey")).alias("z")
    ).repartitionByRange(_ZORDER_FILES, "z")
    plan = formatted_plan(zed)
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) == 1, plan
    assert "rangepartitioning(z" in plan, plan
    assert mm is not None  # min/max pass is a separate tiny job


def test_connected_comp_iterations_reuse_checkpointed_edges(spark):
    """Min-label propagation must iterate on the session-cached edge
    artifact: after the op runs once, a second invocation's plan scans
    NO parquet at all (every corpus-sized input comes from the
    checkpointed RDD)."""
    queries()["q_graph_connected_comp"](spark, SF).collect()
    plan = formatted_plan(queries()["q_graph_connected_comp"](spark, SF))
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_scan_partitions_parses_byte_strings(spark):
    """_scan_partitions reads the split confs with Spark's own suffix
    rules ("128MB", "16k"), and matches the scan Spark actually plans for
    every fixture table."""
    from kafka_connect_sse_spark.io import TABLES, table_path
    from kafka_connect_sse_spark.plans import _scan_partitions

    key = "spark.sql.files.maxPartitionBytes"
    try:
        for value in ("128MB", "16k"):
            spark.conf.set(key, value)
            for t in TABLES:
                # a fresh DataFrame each time: one caches its physical plan
                df = spark.read.parquet(table_path(SF, t))
                assert _scan_partitions(df) == df.rdd.getNumPartitions(), (t, value)
    finally:
        spark.conf.unset(key)
