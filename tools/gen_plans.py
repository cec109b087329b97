"""Generate PLANS.md: formatted physical plans for the headline queries
with the scale-relevant properties called out — the artifact of the
".explain and iterate" loop (SURVEY.md §4, SCALE.md)."""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

SF = "/root/testdata/sf0.001"

COMMENTARY = {
    "q_agg_groupby": "partial_ aggregates before the exchange (map-side combine); one WholeStageCodegen span scan→partial-agg.",
    "q_join_multiway": "three BroadcastHashJoins for the dim chain; the only Exchange is orders⋈lineitem; AQE re-plans at runtime.",
    "q_join_inner_shuffle": "hash-partitioned Exchange on the join key both sides; AQE skew-split stands by.",
    "q_topk_per_group": "WindowGroupLimit pushes rn<=3 into the sort — each partition retains k rows, not all.",
    "q_limit_topk": "TakeOrderedAndProject: per-partition heaps + driver merge of k rows; no global sort.",
    "q_scalar_subquery": "correlated subquery decorrelated to aggregate + join; no per-row re-execution.",
    "q_join_theta_range": "BroadcastNestedLoopJoin — correct only because the band side is 3 rows; fact-fact ranges must be banded first.",
    "x_dedup_exact_hash": "shuffle carries 32-byte sha256 digests, not documents; partial count before the exchange.",
    "x_sim_topk_cosine": "query rows are collected at construction and shipped to ONE mapInArrow stage; the candidate scan is a single pass; each batch emits only rows near its k-th best per query, so the ranking window (partitioned by query id) sees a few dozen rows per batch.",
    "q_fn_json": "get_json_object stays inside codegen — the SMT chain as one fused JVM loop, PushedFilters/ReadSchema pruned.",
    "q_sessionize": "lag + running-sum windows and the session rollup share ONE user_id exchange (the rollup's (user, session) clustering is satisfied by the window partitioning).",
    "q_merge_upsert": "the CDC apply is a single FullOuter SortMergeJoin; bucketing the base side on the key removes its exchange for repeated merges.",
    "q_ts_gapfill": "the (types x days) spine broadcasts (metadata-sized at any SF); the fact table's only shuffles are the daily aggregate's partial+final pair.",
    "x_decontaminate": "ONE map-side pass builds 5-grams via a single transform(sequence, i -> concat_ws(slice(toks, i, 5))) lambda over a MATERIALIZED token column (round-10 rewrite: 1.6x over the 4-chained-zip_with form at sf10, and shuffle-free — the 3.8x posexplode+lead-window alternative pays a full corpus token exchange, the wrong trade at 100 TB); the benchmark gram set broadcasts; its branch rescans only doc_id<20 via pushdown.",
    "x_corpus_prep": "quality filter pushed into the scan; dedup window shuffles 32-byte md5 keys (text dropped pre-exchange); balance window + final agg are the only other wide stages.",
    "x_seq_pack": "two-level packing: the corpus window partitions by (lang, shard) — never bare lang — and the per-shard offsets branch is a partial-aggregated groupBy + tiny window that comes back as a BroadcastExchange.",
    "x_embed_quantize": "map-only: scan -> one codegen'd projection of higher-order lambdas; no Exchange anywhere.",
    "q_join_asof_nearest": "backward MAX and forward MIN frames share one (user_id, ts) Exchange+Sort — nearest-match semantics at single-window cost.",
    "q_win_count_distinct": "dense_rank + full-frame MAX share one Exchange: the portable COUNT(DISTINCT)-over-window emulation costs the same shuffle as any single window.",
    "x_dedup_incremental": "the corpus appears only as its banded index (localCheckpoint = stored table); batch signatures join (band, bucket) against it, then candidates-only verification.",
    "q_fn_xml": "from_xml stays inside the scan projection like the JSON tier — one codegen'd pass builds the envelope and re-parses it; no Exchange, no Python.",
    "q_join_bloom_prune": "4 getbit probes on the 32 KB literal word array sit in the fact scan's filter stage (WholeStageCodegen, no Python); survivors feed a broadcast LEFT SEMI verify — false positives die there, so semantics stay the exact IN-subquery while ~all non-matching rows never reach the join.",
    "q_ts_downsample": "asc and desc OHLC window sorts and the final rollup all share the (event_type, hour) hash partitioning — ONE Exchange total; partial_ aggregates combine map-side above the windows.",
    "x_sample_reservoir": "TakeOrderedAndProject: each task keeps a 200-row heap, driver merges heaps — zero Exchange, no global sort; the bottom-k hash IS the reservoir sample, reproducibly.",
    "x_interleave_sources": "per-corpus quota draw is a lang-partitioned window; the single-partition global interleave window runs only over the K selected rows (filter below it in the plan), never the corpus.",
    "x_ann_rerank": "stage-1 ranking exchange carries only (query_id, neighbor_id, iscore) — int8 shortlist scan at a quarter of the memory bandwidth, vectors rejoin only for the 4k-candidate exact re-rank (neighbor side key join, query side broadcast).",
    "q_join_dpp": "dim filter reaches the partitioned fact scan as dynamicpruningexpression in PartitionFilters — unmatched partition directories are never opened; the dim broadcasts.",
    "x_ann_pipeline": "the IVF prefilter is a BroadcastHashJoin on the cell id (vs x_ann_rerank's nested loop over all pairs); stage 1 scans the MATERIALIZED int8 index (array<tinyint> parquet built once by ann_index_path — no inline re-quantization of the fp base in the query plan); the shortlist ranking exchange carries ids+iscore only; fp64 vectors rejoin after the shortlist (neighbor key join, query broadcast).",
    "x_containment_dedup": "one posting-list groupBy on (shingle, lang) is the only corpus-sized shuffle; ordered pairs expand from each posting list map-side (two Generates), pair counts partial-aggregate; the per-doc sizes join is UNHINTED — sizes is O(n_docs), so AQE broadcasts it only when its measured size is small (it is here) and degrades to a shuffled join on a billions-of-docs corpus instead of OOMing on a forced hint.",
    "x_tfidf_top_term": "tf and df are partial-aggregated before their exchanges; the df join is UNHINTED — df is O(|vocab|), unbounded on web text, so AQE broadcasts it only while it measures small (it does here) and otherwise reuses the term-keyed partitioning df's own aggregation produced; only the 1-row corpus count carries an explicit broadcast.",
    "x_dedup_span": "spans explode map-side and immediately become md5 digests — every exchange (dup-span groupBy, dup join, per-doc rollup) carries 32-hex keys, never span text; the dup-span relation is UNHINTED (it grows with corpus boilerplate — AQE broadcasts only while it measures small); span count per doc is n_chars/40 (stride, not every offset), so the explode is linear in corpus bytes.",
    "x_perplexity_filter": "one bigram explode feeds the LM build (lang,w1,w2 / lang,w1 partial-agg groupBys) and the scoring joins — all uniform token-keyed shuffles; the two language-level relations (context vocabulary, per-language mean) are n_langs rows and UNHINTED, so AQE broadcasts them on size; no Python anywhere, the whole LM + scoring is codegen'd joins and aggregates.",
    "x_zipf_fit": "one vocabulary-bounded partial-agg shuffle is the only corpus-sized stage; rank selection is TakeOrderedAndProject (per-task heaps), and the regression carries partial_regr_* mergeable moment state — the final plan has ZERO SinglePartition exchanges.",
    "x_cooccur_pmi": "bigrams explode from a zip_with over two MATERIALIZED slice columns (split runs once per row, never per element); pair and unigram counts each partial-aggregate on vocab-bounded keys; marginal joins UNHINTED (AQE broadcasts while vocab measures small); TakeOrdered caps the ranked output at 15 before the row_number window.",
    "x_cms_heavy_hitters": "the corpus pass partial-aggregates into at most 4x64 = 256 (row, cell) groups — a CONSTANT-size reduce side at any corpus/vocab scale; candidate probes and the sketch compare all join against 256-row relations (AQE-broadcast); merge consistency is proven in-plan by summing per-source grids.",
    "x_ks_drift": "both population counts ride ONE value-keyed partial-agg shuffle (the focus flag rides the row — no per-source pass, no join); the totals branch REUSES that exchange (ReusedExchange in the final plan) and the CDF window runs over the bounded distinct-value relation, never the corpus.",
    "x_chi2_keyness": "one token-keyed partial-agg shuffle carries BOTH population counts; totals are a single-row broadcast cross join; chi2 scoring is a map-side projection over the vocab-bounded relation and TakeOrdered caps the ranking before the row_number window.",
    "x_split_leakage_safe": "the cluster relation (dup-evidence-sized) joins as a broadcast left-outer; split assignment is a pure md5 projection below the rollup, so the only corpus-sized exchanges are the distinct-cluster pair — assignment never shuffles the corpus on anything but the 5-way split key.",
    "x_domain_mix": "ONE corpus scan: the per-source profile partial-aggregates below its source-keyed exchange, and BOTH totals (token sum + source count, then the resampled-token sum) ride windows over the |sources|-row relation sharing a single SinglePartition exchange — the cross-join formulation re-scanned the corpus once per total.",
    "x_curriculum_order": "one corpus scan feeds the lang-partitioned ntile window, and the (lang, stage) rollup's clustering is satisfied by the window's lang partitioning — the final plan holds exactly ONE Exchange; difficulty ties break on a content hash, so stage membership is rank-exact with no FP boundary.",
    "x_bm25_score": "term frequencies are list_filter projections — NO token explode, the corpus scan stays a map-side feature pass; the single-row stats (N, avgdl, per-term df) broadcast back as a BNLJ cross; per-term contributions sum in fixed textual order (bit-identical doubles across engines) and TakeOrderedAndProject caps the ranking.",
    "x_source_overlap": "the one corpus-sized shuffle builds per-shingle SOURCE posting lists (collect_set bounded by |sources| — no hot-postings cap needed, unlike doc-id postings); ordered pairs expand map-side from the stored posting relation via two Generates, pair counts partial-aggregate on a |sources|^2-bounded key space, and the size joins broadcast.",
    "x_quality_classifier": "a logistic scorer is a pure projection: every feature (length score, stopword ratio, distinct ratio, mean word length) and the logit live in ONE codegen'd map stage over the column-pruned scan — ZERO exchanges, zero joins (plan-pinned); the keep flag thresholds the raw logit at 0, pure fixed-order arithmetic, so no libm ulp can flip it across engines.",
    "x_importance_resample": "ONE corpus explode: the (doc, bucket) partial-agg counts are persisted (bounded at 256 rows/doc) because AQE plans the broadcast profile branch as its own stage and would otherwise re-explode the corpus; the 256-row log-ratio relation broadcasts back, per-doc weights sum as exact DECIMAL (order-free), and TakeOrdered heaps cap the selection at 100.",
    "x_pack_efficiency": "token counting is len(split) — NO Generate; the corpus-sized pass partial-aggregates below its exchange onto |bins| groups, and the only SinglePartition exchange feeds the share window over the |bins|-row relation (plan-pinned).",
    "x_dedup_semantic": "both assignment passes are broadcast cross joins against the K-row centroid relation (the embedding table is never shuffled by centroid); the Lloyd step is a posexplode -> (cell, dim) partial agg of K x dim groups; in-cell pairs and the survivor flag build broadcast-side at this sample size and key on the cell id at scale — no SinglePartition exchange, no Python (plan-pinned).",
    "x_dup_graph_degree": "edges come from the banded-MinHash pipeline (dup-evidence-sized); the degree relation broadcasts onto the documents spine — never a corpus-keyed SortMergeJoin — and the histogram partial-aggregates onto the handful of distinct degrees (plan-pinned).",
    "x_vocab_coverage": "the vocab cut is TakeOrderedAndProject (per-task heaps over the vocab-bounded tf relation); the total-token branch is len(split) — no second explode; the rank window and the k-join run on the 10k-row top relation, the only SinglePartition exchange (plan-pinned).",
    "x_source_novelty": "ONE corpus-sized shuffle: groupBy(shingle) computes MIN(source) and the source posting set together; the vocab-bounded posting relation is localCheckpointed so both rollups (novelty credit + per-source totals) read it instead of replaying the explode (AQE plans broadcast branches as separate stages — no cross-stage exchange reuse); the final join broadcasts |sources| rows.",
    "x_tokenizer_fertility": "both token counts are len() projections — Generate-free — and the lang rollup partial-aggregates below its single exchange (plan-pinned).",
    "u_pandas_grouped_agg": "the UDAF runs as ArrowAggregatePython over one event_type exchange; the Arrow batches carry exactly the two aggregate input columns (ReadSchema-pinned); inside, the sums are exact int64 (order-free) with one double division — the (num, den) pair IS the mergeable partial-state story at scale.",
    "x_embed_outliers": "the per-dimension centroid aggregate is the only hash exchange; the centroid rejoins as a one-row broadcast (BNLJ Cross); the global rank window's SinglePartition exchange carries (vec_id, dist) pairs — never vectors — and the embedding table is orders of magnitude smaller than the corpus (approx-percentile is the documented swap at larger N).",
    "q_funnel_stages": "three chained conditional-min windows (first view, first click AFTER it, first purchase after THAT) and the per-user rollup all ride ONE user_id hash exchange (plan-pinned); the funnel summary is a single-row final aggregate.",
    "q_retention_cohort": "the DISTINCT (user, day) activity relation localCheckpoints — raw events are scanned ONCE (plan-pinned zero parquet scans downstream); the |users|-sized first-day side broadcasts back onto it and the cohort rollup shuffles |cohort days| groups.",
    "q_attribution_last_touch": "attribution is one user_id window exchange (ignore-nulls last_value over a 1-preceding frame — the in-stream as-of lookup, no self join in the plan); the rollup shuffles |event types| groups and the share rides a window over that bounded relation.",
    "q_anomaly_zscore_daily": "one column-pruned events scan -> (type, day) partial-agg counts; per-type moment sums (n, Σn, Σn²) roll up from that bounded relation and rejoin as a broadcast — all-integer moments mean no accumulation-order exposure; z rounds before the flag compares it.",
    "q_pareto_abc": "the corpus-sized stage is the per-part DECIMAL revenue partial agg; cumulative + total ride ONE SinglePartition exchange over the |parts|-bounded relation, and class boundaries compare integer-scaled decimals (cum*100 <= total*80) — no float anywhere past the scan.",
    "q_rfm_segments": "ONE corpus shuffle builds the per-user profile; the reference date is MAX(last_d) as a window over that relation (not a second events scan — plan-pinned one FileScan, Join-free); three ntile windows share the profile's SinglePartition residency and the cell rollup is 4^3 groups.",
    "q_agg_mad": "two column-pruned fact passes (median, then deviation median + fence count) with the |groups|-row median relations broadcast back — no SortMergeJoin; exact per-group medians are the small-SF form, percentile_approx the documented scale swap.",
    "q_fn_interval": "calendar arithmetic is one codegen'd projection — zero exchanges; the portable day-of-week formula (days since a known Monday mod 7) replaces the engines' disagreeing dayofweek builtins.",
    "x_embed_pca_power": "each power-iteration step is a one-row broadcast direction (BNLJ) + posexplode partial agg onto dim-bounded groups + renormalize — per-step state is O(dim), which is how distributed Lanczos/power steps shard; coordinates re-round to 6dp per step so engines share one trajectory.",
    "q_triangle_count": "the edge and oriented-edge relations localCheckpoint for their consumers — the co-activity self-join runs once; degree-ORDER orientation is inlined (degree, id) tuple comparisons with degrees attached by unhinted node-keyed joins (AQE broadcasts only while the graph measures small) — NO Window operator and NO rank relation exist in the plan (round 9, plan-pinned); (type, minute) bucketing keeps pair volume near-linear in events and the deterministic vertex sample halves it again.",
    "x_cluster_purity": "after the shared seeded-kmeans assignment every relation is (cell, label)-bounded — K x |labels| rows; the label join broadcasts the bounded sample and majority election is a row_number on the tiny count relation.",
    "q_rfm_segments_approx": "the per-user profile partial-aggregates once and localCheckpoints (both the sketch aggregate and the check aggregate consume it — the AQE no-cross-stage-reuse trap); percentile_approx carries mergeable sketch state through ONE partial-agg pass; NO window operator anywhere (plan-pinned) — contrast q_rfm_segments' three ntile sorts.",
    "x_embed_outliers_approx": "the sketch threshold is one mergeable percentile_approx pass over the shared centroid-distance projection, rejoined as a one-row broadcast; no SinglePartition window exists (plan-pinned) — this is x_embed_outliers' documented swap, implemented.",
    "q_ts_ohlc": "ONE partial-agg shuffle onto (type, day): min_by/max_by carry constant (value, key) state per group, so map-side combine does nearly all the work — the window-sort formulation would sort every partition instead.",
    "q_ts_autocorr": "the corpus-sized stage is the (type, day) partial-agg count; the lag-1 self-join and moment rollup run over that bounded relation (AQE broadcasts it); all moments are integer sums — no accumulation-order exposure.",
    "q_attribution_linear": "ONE user_id window exchange builds the purchase-count groups; touch rollup, group sizes, and the purchase spine all key on (user, grp) — AQE broadcasts the smaller sides; per-touch 1/k credits are rounded then CARRIED AS DECIMAL so the grouped sums are order-free.",
    "q_session_paths": "one user_id window exchange produces the lag pairs; the transition rollup partial-aggregates onto a |types|^2-bounded matrix and the conditional-probability window rides that tiny relation.",
    "q_user_stickiness": "the corpus-sized stage is the DISTINCT (user, day) partial-agg pass; the month rollup (with its two exact distincts) expands over the already-distinct relation onto |months| groups — no second corpus scan.",
    "x_heaps_law": "one explode feeds a (source, word) partial-agg distinct — the shuffle carries each (source, word) once, not per occurrence; the rollup is |sources| groups.",
    "x_dup_ratio_by_source": "the md5 digest is computed BEFORE the shuffle (32-byte keys, never documents); the global digest-count relation joins back unhinted (AQE broadcasts while duplication evidence measures small) and the rollup is |sources| groups.",
    "x_embed_whiten": "the power-iteration direction is ONE broadcast row; the whitening pass is a pure codegen'd projection per vector (three array folds) — zero exchanges beyond _pca_direction's dim-bounded iterations.",
    "q_agg_linreg": "one partial-agg shuffle carrying five DECIMAL moment accumulators per group — exact associative partial state at any cluster size; the closed-form solve is a |groups|-row projection.",
    "q_agg_entropy": "one corpus-sized (day, type) partial-agg count; the c*ln(c) terms round then sum as DECIMAL over the bounded relation — associative, order-free — onto |days| groups.",
    "q_pagerank_iter": "per iteration ONE destination-keyed partial-agg shuffle (DECIMAL contribution terms combine map-side) + node-keyed joins reusing that partitioning; the edge self-join reads the checkpoint once; top-k is TakeOrderedAndProject heaps, the teleport count a 1-row broadcast — no Window, no SinglePartition relation above 1 row (plan-pinned).",
    "q_ts_ewma": "one (type, day) partial-agg count; collect_list is |days|-bounded per type and the EWMA fold is a codegen'd array aggregate over the |types|-row relation — the sequential recurrence never leaves the row.",
    "q_agg_hhi": "one corpus-sized (day, user) partial-agg count, then a |days|-group rollup carrying two integer accumulators — the moments are the mergeable state.",
    "x_label_separation": "one posexplode partial agg builds every label centroid ((|labels| x dim) groups); the pair matrix and size joins are |labels|-bounded — label-bounded everything after the single corpus pass.",
    "x_langid_confusion": "prediction is a pure map-side array expression; the rollup partial-aggregates onto a (|langs| x 2) matrix and the share window rides that tiny relation.",
    "q_win_streaks": "the corpus-sized stage is the DISTINCT (user, day) partial-agg pass; the island window partitions BY USER over that bounded relation and its user_id exchange is reused by the island rollup (same clustering); the histogram is |streak-length| groups.",
    "q_agg_topn_share": "one (day, user) partial-agg count; the ranking window partitions BY DAY over the bounded relation — WindowGroupLimit-eligible per-partition sort, never global; |days|-group rollup.",
    "x_token_budget": "len(split) token counting (Generate-free) into a |sources|-group partial agg; total, remainder rank, and the extras all ride windows over the |sources|-row relation through one SinglePartition exchange; floor division is SQL integral `div` on longs — exact integer arithmetic end to end, never F.floor of a double quotient.",
    "x_length_outliers": "two metadata-only (lang, n_chars) passes (ReadSchema-pruned — no text column is read); the |langs|-row median relations broadcast back; medians 6-dp-rounded at computation on both sides.",
    "x_dup_cross_lang": "two doc-keyed joins of the dup-evidence-sized pair relation against the (doc_id, lang) projection (AQE broadcasts the pairs) + a |langs|²-group rollup over the minhash pipeline.",
    "q_agg_mad_approx": "three column-pruned fact scans, each a map-side partial agg onto |groups| rows (median sketch + n, MAD sketch, guarantee counts) with the |groups|-row boundary relations broadcast back — mergeable percentile_approx state replaces q_agg_mad's per-group value→count buffer; no per-group sort anywhere.",
    "q_ts_holt": "one (type, day) partial-agg count; the |days|-bounded sorted array folds a (level, trend) struct per row — the recurrence never leaves the row, and the EXACT-INTEGER micro-unit state (binary-exact 1/2, 1/4 coefficients) closes the fold-chain rounding-tie hazard.",
    "q_ts_cusum": "same single (type, day) partial-agg shape as q_ts_holt; the fold state S = n·s stays exact-integer with NO rounding in the loop; μ/σ come from BIGINT moment sums computed in the same grouped pass as the array.",
    "q_ts_seasonal_dow": "one corpus-sized (type, day) partial-agg count; per-dow rollup and per-type totals both aggregate the bounded daily relation, totals rejoin as a |types|-row broadcast.",
    "q_agg_skew_kurt": "one partial-agg shuffle carrying four BIGINT power-sum accumulators per group (the mergeable state); the closed-form skew/kurtosis solve is a |groups|-row projection.",
    "q_agg_corr_matrix": "one partial-agg shuffle carrying 15 DECIMAL moment accumulators per group; the 6 pair correlations and the explode expand over the |groups|-row relation — adding measures grows state quadratically but the pass count stays 1.",
    "q_markov_transitions": "the lead() window partitions PER USER (bounded task state); one partial-agg shuffle onto the |types|²-bounded transition matrix; the normalizing window rides that tiny relation.",
    "q_funnel_ttc": "two event_type-filtered passes (predicates pushed to the scan), per-user join with AQE free to broadcast the first-stage side; the summary is a single-row mergeable final aggregate.",
    "x_tok_len_hist": "bucket assignment is map-side integer division on len(split) — no Generate; one partial-agg shuffle onto the |langs|×10 histogram with |langs|-row totals broadcast back.",
    "x_doc_len_gini": "the ranking window partitions BY SOURCE (per-source sort spills cleanly — the q_agg_topn_share shape); the rank-formula sums partial-aggregate onto |sources| rows; all arithmetic integer until one final division.",
    "x_char_ngram_entropy": "the trigram explode shuffles (lang, gram) with map-side combine — wide state is the charset³-bounded count relation, never text; the entropy reduction is a second partial agg onto |langs| rows with DECIMAL-carried terms.",
    "x_embed_dim_stats": "posexplode into ONE (dim)-keyed partial agg carrying two DECIMAL accumulators — map-side combine absorbs the dim× row expansion; output is |dims| rows.",
    "x_importance_resample_sampled": "profile pass explodes only the 1/16 doc sample (pushed filter) onto a 256-key partial agg; the weight pass is MAP-ONLY — each doc folds its token array against one broadcast 256-long micro-unit array; the sole exchange is the top-100 TakeOrderedAndProject merge; no persist, no InMemoryTableScan (plan-pinned).",
    "q_ts_theil_sen": "the (type, day) partial-agg relation is localCheckpointed (three consumers — bounded-relation arm of the AQE reuse rule), so the final plan shows ZERO events scans; the |days|² pair self-join and the per-type sorted slope list ride the bounded relation only.",
    "q_agg_trimmed_mean": "one corpus scan into the (group, value) partial-agg histogram; cumulative + total windows run over the 50-row-per-group histogram; everything integer until the two final divisions.",
}


def main() -> None:
    from kafka_connect_sse_spark.plans import formatted_plan
    from kafka_connect_sse_spark.registry import queries
    from kafka_connect_sse_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    out = [
        "# PLANS — physical plans of the headline queries (generated by tools/gen_plans.py)",
        "",
        f"Captured at {SF} on local mode; plan *shape* is scale-invariant —",
        "AQE adjusts partition counts and join strategies at runtime.",
        "",
    ]
    for name, note in COMMENTARY.items():
        plan = formatted_plan(qs[name](spark, SF))
        # keep the tree + the scan details; drop the verbose per-node I/O lists
        tree = plan.split("\n\n")[0]
        scans = "\n".join(
            line.strip()
            for line in plan.splitlines()
            if "PushedFilters" in line or "ReadSchema" in line
        )
        # strip expression ids (#123) for readability
        tree = re.sub(r"#\d+L?", "", tree)
        out += [
            f"## {name}",
            "",
            f"**Why this plan:** {note}",
            "",
            "```",
            tree.strip(),
            *( [scans] if scans else [] ),
            "```",
            "",
        ]
    out += _ab_bloom_section()
    out += _ab_ann_section()
    out += _ab_shingles_section()
    out += _ab_stage_reuse_section()
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


def _ab_bloom_section() -> list[str]:
    """Render tools/ab_bloom_results.json: the measured A/B of the
    hand-built bloom literal vs Spark's injected runtime bloom filter
    (VERDICT r4 item 6)."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "ab_bloom_results.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        recs = json.load(f)
    out = [
        "## A/B: hand bloom vs AQE injected runtime bloom filter",
        "",
        "Measured by `tools/ab_bloom.py --record` (last in commit 59f8317;",
        "median of 3, same logical semi-join; `smj_*` variants run with",
        "autoBroadcast off to stage the dim-outgrows-broadcast regime;",
        "runtime-filter thresholds lowered to force injection, which local",
        "fixture sizes never trigger by default). All variants return",
        "identical results.",
        "",
        "| sf dir | broadcast semi | hand bloom (getbit) | SMJ plain | SMJ + injected bloom |",
        "|---|---|---|---|---|",
    ]
    for r in recs:
        v = r["variants"]
        out.append(
            "| {} | {} s | {} s | {} s | {} s |".format(
                r["sf"],
                v["broadcast"]["median_s"],
                v["hand_bloom"]["median_s"],
                v["smj_plain"]["median_s"],
                v["smj_runtime_bf"]["median_s"],
            )
        )
    out += [
        "",
        "**Guidance (when does the manual twin earn its complexity):** as",
        "long as the filtered dim fits the broadcast threshold, the plain",
        "broadcast semi-join is the right plan and the hand bloom's extra",
        "build job is pure overhead. Once the dim outgrows broadcast (the",
        "100 TB regime, staged by the `smj_*` rows), the injected runtime",
        "bloom (`spark.sql.optimizer.runtime.bloomFilter.enabled`) prunes",
        "the fact side before the shuffle and beats both the plain SMJ and",
        "the hand-built literal — prefer it. The hand-built bloom",
        "(q_join_bloom_prune) remains the right tool only where the",
        "optimizer cannot inject: pruning a scan feeding a NON-join",
        "operator, reusing one filter across many queries, or pushing the",
        "predicate into a source the injection rule does not cover. Its",
        "value in this repo is the mechanism demonstration; production",
        "default is the injected filter.",
        "",
    ]
    return out


def _ab_ann_section() -> list[str]:
    """Render tools/ab_ann_results.json: the measured A/B of the
    materialized int8 index vs the r6 inline-quantization pipeline
    (VERDICT r6 item 3)."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "ab_ann_results.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        recs = json.load(f)
    out = [
        "## A/B: stored int8 ANN index vs inline re-quantization",
        "",
        "Measured by `tools/ab_ann.py --record` (last in commit 59f8317;",
        "median of 3; identical result rows asserted across pipeline",
        "variants; index build time excluded from query medians and shown",
        "separately — at 100 TB the build runs once at ingest and",
        "amortizes over every query).",
        "",
        "| sf dir | index build | rerank (no prefilter, inline q8) |"
        " pipeline, inline q8 (r6) | pipeline, stored index (r7) |",
        "|---|---|---|---|---|",
    ]
    for r in recs:
        v = r["variants"]
        out.append(
            "| {} | {} s | {} s | {} s | {} s |".format(
                r["sf"],
                r["build_s"],
                v["rerank_inline"]["median_s"],
                v["pipeline_inline"]["median_s"],
                v["pipeline_stored"]["median_s"],
            )
        )
    out += [
        "",
        "**Reading (sf1):** with the index materialized the inline",
        "quantization floor PLANS.md r6 identified (~1.8 s of the 2.5 s",
        "inline pipeline) disappears from the query path; what remains in",
        "the stored-index variant is dominated by the prefiltered",
        "pair-count term plus the bounded re-rank — i.e. the cost profile",
        "an IVF index is supposed to have, and the configuration where the",
        "prefilter's N/cells advantage over the full-scan rerank is fully",
        "visible (stored pipeline vs rerank at the same exactness",
        "contract).  The q8 codes are stored as `array<tinyint>` — the",
        "genuine 4x storage/scan compression — and widened to long inside",
        "the dot-product lambda, so scores are bit-identical to the",
        "inline form (asserted by the A/B tool; tests/test_weak_ops.py",
        "now checks the stored-index rows against the DuckDB oracle,",
        "which quantizes inline).",
        "",
    ]
    return out




def _ab_stage_reuse_section() -> list[str]:
    """Render tools/ab_stage_reuse_results.json: the measured cost of
    the AQE no-cross-stage-exchange-reuse trap vs the shipped
    materialization fixes, including where the fix does NOT pay."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(__file__), "ab_stage_reuse_results.json"
    )
    if not os.path.exists(path):
        return []
    with open(path) as f:
        recs = json.load(f)
    out = [
        "## A/B: AQE cross-stage reuse trap — materialize vs recompute (round 8)",
        "",
        "Measured by `tools/ab_stage_reuse.py --record` (last in commit",
        "59f8317; median of 3 after",
        "a warm run; result parity asserted before timing).  The trap form",
        "recomputes the shared subtree once per AQE stage; the shipped form",
        "materializes it (persist / localCheckpoint).  The decision rule",
        "SCALE.md documents: materialize only when the shared subtree is",
        "EXPENSIVE relative to its output size — the numbers below include",
        "a case on each side of that line: DSIR's token explode is worth",
        "persisting from sf1 up (the bucket counts are tiny vs the token",
        "stream), while retention's column-pruned events scan is cheap",
        "enough at these tiers that the checkpoint costs ~0.4 s, so",
        "q_retention_cohort ships the rescan form only.",
        "",
        "| sf dir | DSIR persisted (current) | DSIR recompute (trap form) | retention checkpointed | retention rescan (current) |",
        "|---|---|---|---|---|",
    ]
    for r in recs:
        v = r["variants"]
        out.append(
            "| {} | {} s | {} s | {} s | {} s |".format(
                r["sf"],
                v["dsir_persisted_current"]["median_s"],
                v["dsir_no_persist_trap"]["median_s"],
                v["retention_checkpoint_current"]["median_s"],
                v["retention_no_checkpoint_trap"]["median_s"],
            )
        )
    out.append("")
    return out


def _ab_shingles_section() -> list[str]:
    """Render tools/ab_shingles_results.json: the measured A/B of the
    round-8 zip_with shingles() rebuild vs the superseded transform-slice
    form whose lambda re-split the document per array element."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(__file__), "ab_shingles_results.json"
    )
    if not os.path.exists(path):
        return []
    with open(path) as f:
        recs = json.load(f)
    out = [
        "## A/B: zip_with shingles vs transform-slice (round 8)",
        "",
        "Measured by `tools/ab_shingles.py --record` (last in commit",
        "59f8317; median of 3 after a",
        "warm run; parity of the exploded (doc_id, shingle) relation is",
        "asserted before timing — the rewrite is purely physical).  The",
        "legacy lambda referenced the outer `split(text)` expression and",
        "re-evaluated it per array ELEMENT on Catalyst's interpreted",
        "lambda path; the zip_with chain takes k top-level slices as",
        "plain per-row arguments.  `contam_estimate_current` is one real",
        "consumer end-to-end on the current code (15.6 s pre-rewrite at",
        "sf1).",
        "",
        "| sf dir | explode legacy transform | explode zip_with | x_contam_estimate (current) |",
        "|---|---|---|---|",
    ]
    for r in recs:
        v = r["variants"]
        out.append(
            "| {} | {} s | {} s | {} s |".format(
                r["sf"],
                v["explode_legacy_transform"]["median_s"],
                v["explode_zipwith"]["median_s"],
                v["contam_estimate_current"]["median_s"],
            )
        )
    out.append("")
    return out


if __name__ == "__main__":
    main()
