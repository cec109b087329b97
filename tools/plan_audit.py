"""Repo-wide rescan audit + gate: execute every batch operator at
sf0.001 and count FileScan operators per table in the FINAL adaptive
plan — the institutional detector for the AQE no-cross-stage-reuse trap
(a relation feeding two consumers silently recomputes when one consumer
becomes a broadcast stage; see SCALE.md "Named trap").  Round 9 it
caught a live 3× corpus-window replay in q_attribution_linear; round 10
it caught q_agg_mad_approx at 4 scans (fixed to its documented 3) and
x_tok_len_hist rescanning the corpus for its totals (fixed to 1) before
either shipped.

    python tools/plan_audit.py          # report all >=2-scan ops
    python tools/plan_audit.py --gate   # exit 1 on NEW or WORSENED ops

The gate compares against ALLOWLIST below: every entry is a DOCUMENTED
multi-pass shape with its maximum per-table scan count.  An op missing
from the allowlist with >=2 scans of one table, or exceeding its
allowed count, fails the gate — tools/sf1_gate.py runs this before the
sf1 sweep so a rescan regression can never ride into a green round
record.  When a new op legitimately multi-passes, add it here WITH the
reason, in the same commit.
"""

from __future__ import annotations

import argparse
import re
import sys
from collections import Counter

sys.path.insert(0, "/root/repo")

SF = "/root/testdata/sf0.001"

# {op: max FileScans allowed for any single table}.  Triage classes:
#   multi-pass algorithms (>=3): sketch+mine+proof (x_cms_heavy_hitters),
#     LM build+score (x_perplexity_filter), median-then-deviation
#     (q_agg_mad, x_length_outliers), sketch+sketch+guarantee-counts
#     (q_agg_mad_approx), power-iteration unrolls (x_embed_pca_power,
#     x_embed_whiten), shortlist+rerank (x_ann_rerank), shared
#     seeded-kmeans passes (x_dedup_semantic, x_cluster_purity),
#     bounds+spine+daily (q_ts_gapfill), mergeable-sketch halves+proof
#     (q_agg_hll_mergeable), shingle-set pair relations
#     (x_ngram_jaccard, x_contam_estimate, x_dedup_span), tf+df+join
#     (x_tfidf_top_term, x_cooccur_pmi);
#   two-branch by construction (2): set ops, self/semi/anti joins and
#     subqueries reading the relation on both sides, query-vs-candidate
#     similarity ops, mergeable-sketch halves, filtered funnel stages
#     (q_funnel_ttc), profile-vs-corpus compares (x_skew_profile,
#     x_data_card, x_dup_ratio_by_source, x_vocab_coverage, ...).
ALLOWLIST = {
    "q_agg_hll_mergeable": 3,
    "q_agg_kll_mergeable": 2,
    # round 14: q_agg_mad is ONE corpus scan (everything derives from
    # the persisted exact-value histogram) — no allowlist entry needed;
    # a reappearing multi-scan should fail the gate.
    "q_agg_mad_approx": 3,
    # sketch-boundary pass + exact Lorenz counting pass (documented
    # two-scan design, r12)
    "q_agg_gini_approx": 2,
    "q_agg_median_mode": 2,
    # round-14 percentile selection: ONE corpus scan per measure builds
    # a persisted exact-value histogram; percentile_cont_by_hist's two
    # passes run over that cached relation, not the corpus.
    # q_agg_percentile has TWO measures (quantity, price) -> 2;
    # q_agg_percentile_approx = sketch pass + exact-reference leg -> 2.
    "q_agg_percentile": 2,
    "q_agg_percentile_approx": 2,
    "q_agg_theta_overlap": 2,
    "q_exists_correlated": 2,
    "q_funnel_ttc": 2,
    "q_incremental_merge": 2,
    "q_join_null_safe": 2,
    "q_join_range_banded": 2,
    "q_join_self": 2,
    "q_merge_upsert": 2,
    "q_retention_cohort": 2,
    "q_scalar_subquery": 2,
    # q_snapshot_diff: the two scans ARE the semantics — snapshot A and
    # snapshot B are distinct tables in production; the fixture carves
    # both from orders, so the full-outer diff join necessarily reads
    # the file twice (disjoint filters, no shared relation to reuse)
    "q_snapshot_diff": 2,
    "q_set_except": 2,
    "q_set_except_all": 2,
    "q_set_intersect": 2,
    "q_set_intersect_all": 2,
    "q_set_union_all": 2,
    "q_set_union_distinct": 2,
    "q_ts_gapfill": 3,
    "u_grouped_map": 2,
    "x_ann_pipeline": 2,
    "x_ann_rerank": 4,
    "x_bm25_score": 2,
    "x_cluster_purity": 4,
    "x_cms_heavy_hitters": 6,
    # 3 = sizes pass + postings pass + the r11 auto-knee 1/16-sampled
    # df profile pass (deliberate: re-scanning 1/16 of the shingle
    # keyspace beats re-aggregating or caching the full postings
    # relation — see the op docstring)
    "x_containment_dedup": 3,
    "x_contam_estimate": 3,
    "x_cooccur_pmi": 3,
    "x_data_card": 2,
    "x_decontaminate": 2,
    "x_dedup_near_embedding": 2,
    "x_dedup_near_embedding_lsh": 2,
    "x_dedup_semantic": 4,
    "x_dedup_span": 3,
    "x_doc_concat": 2,
    "x_dup_ratio_by_source": 2,
    "x_embed_outliers": 2,
    "x_embed_pca_power": 4,
    "x_embed_whiten": 4,
    "x_hard_negatives": 2,
    # 2 = the 1/16-sampled profile pass + the map-only weight pass —
    # deliberately two scans instead of persisting a corpus-sized
    # (doc, bucket) relation (see the op docstring; plan-pinned)
    "x_importance_resample_sampled": 2,
    "x_label_separation": 2,
    "x_length_outliers": 3,
    "x_ngram_jaccard": 3,
    # x_ccnet_buckets reuses x_perplexity_filter's LM-build shape (the
    # bigram relation feeds lm2/lm1/vocab AND the scoring join; a
    # localCheckpoint would materialize the 45M-row-at-sf10 bigram
    # relation, so the documented multi-pass stands — same triage
    # class as x_perplexity_filter)
    "x_ccnet_buckets": 4,
    "x_perplexity_filter": 5,
    "x_seq_pack": 2,
    "x_seq_tensorize": 2,
    # eval slice + corpus slice of the same table (r12; the
    # x_hard_negatives query/candidate class — a checkpoint would
    # materialize the whole corpus to save a 20-row scan)
    "x_decontaminate_semantic": 2,
    # same disjoint-filter shape as the dense twin: eval probes
    # (vec_id < N) and corpus (vec_id >= N) are two scans by
    # construction; at billion-vector scale the eval side is a
    # separate tiny table anyway
    "x_decontaminate_semantic_lsh": 2,
    # centroid pass + scoring pass over embeddings (r12; the same
    # query/candidate class — checkpointing the corpus to save the
    # second scan is exactly the move the class note above rejects)
    "x_ece_calibration": 2,
    # query slice + relevance pass over embeddings (r12; the
    # x_hard_negatives class verbatim — the greedy itself runs on
    # checkpointed pool-bounded relations)
    "x_embed_mmr_diversify": 2,
    "x_sim_topk_ivf": 2,
    "x_sim_topk_lsh": 2,
    "x_sim_topk_lsh_multiprobe": 2,
    "x_skew_profile": 2,
    "x_tfidf_top_term": 3,
    "x_tok_len_hist": 1,
    "x_vocab_coverage": 2,
}


def scan_counts(df) -> dict[str, int]:
    """Per-table FileScan counts in the FINAL adaptive plan of an
    executed DataFrame."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    cut = plan.find("== Initial Plan ==")
    plan = plan if cut == -1 else plan[:cut]
    c: Counter = Counter()
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            m = re.search(r"(\w+)\.parquet", line)
            if m:
                c[m.group(1)] += 1
    return dict(c)


def audit(spark, sf: str = SF, queries_dict=None) -> dict[str, dict]:
    """Run every batch op, return {op: {table: n_scans}} for ops with
    >=2 FileScans of one table."""
    if queries_dict is None:
        from kafka_connect_sse_spark.registry import queries

        queries_dict = queries()
    flagged: dict[str, dict] = {}
    for name, fn in queries_dict.items():
        if name[:2] == "s_" or name[:4] in ("snk_", "src_"):
            continue  # streaming/sink ops drive their own execution
        try:
            df = fn(spark, sf)
            df.collect()
            multi = {
                t: n for t, n in scan_counts(df).items() if n >= 2
            }
            if multi:
                flagged[name] = multi
        except Exception as e:  # pragma: no cover - audit tool
            print("ERR", name, str(e)[:80])
    return flagged


def violations(flagged: dict[str, dict]) -> list[str]:
    """Gate rule: an op with a >=2 scan of any table must sit in the
    allowlist and stay within its allowed maximum."""
    out = []
    for name, multi in flagged.items():
        worst = max(multi.values())
        allowed = ALLOWLIST.get(name, 1)
        if worst > allowed:
            out.append(
                f"{name}: {multi} exceeds allowlisted max {allowed} — "
                "a relation is being recomputed (AQE no-cross-stage-"
                "reuse); restructure to one pass or localCheckpoint, "
                "or document the multi-pass in ALLOWLIST"
            )
    return out


def _git_commit_ts(path: str) -> int | None:
    """Unix time of the last commit touching `path`; None if untracked
    (checkout mtimes are meaningless, so freshness compares COMMIT
    times; an untracked file was generated in this working tree and is
    fresh by construction)."""
    import subprocess

    out = subprocess.run(
        ["git", "log", "-1", "--format=%ct", "--", path],
        capture_output=True, text=True, cwd="/root/repo",
    ).stdout.strip()
    return int(out) if out else None


def dump_freshness_violations(plans_root: str = "/root/repo/plans") -> list[str]:
    """Plan-dump freshness gate (VERDICT r13 item 7: the committed
    x_containment_dedup_after.txt predated the commit that changed the
    op).  For every `<op>_after.txt` under plans/r13+, the dump's last
    commit must not predate the last commit touching the op's source
    MODULE — unless a LATER round's dump of the same op supersedes it
    (before-dumps are snapshots of older code by definition and are
    exempt).  Module granularity is deliberately conservative: editing
    any op in a module stales every after-dump of that module's ops,
    and `--refresh-dumps` regenerates them in seconds."""
    import inspect
    import os

    from kafka_connect_sse_spark.registry import queries

    qs = queries()
    rounds = sorted(
        d for d in os.listdir(plans_root)
        if re.fullmatch(r"r\d+", d) and int(d[1:]) >= 13
        and os.path.isdir(os.path.join(plans_root, d))
    )
    # op -> latest round dir holding an after-dump for it
    latest: dict[str, str] = {}
    for rd in rounds:  # ascending => later rounds overwrite
        for f in os.listdir(os.path.join(plans_root, rd)):
            if f.endswith("_after.txt"):
                latest[f[: -len("_after.txt")]] = rd
    out = []
    for op, rd in sorted(latest.items()):
        fn = qs.get(op)
        if fn is None:
            continue  # renamed/removed op; nothing to compare against
        dump = os.path.join(plans_root, rd, f"{op}_after.txt")
        dump_ts = _git_commit_ts(dump)
        if dump_ts is None:
            continue  # regenerated in this working tree — fresh
        src = inspect.getfile(inspect.unwrap(fn))
        src_ts = _git_commit_ts(src)
        if src_ts is not None and src_ts > dump_ts:
            out.append(
                f"{dump}: committed before the last commit touching "
                f"{os.path.relpath(src, '/root/repo')} — regenerate with "
                "`python tools/plan_audit.py --refresh-dumps plans/rNN`"
            )
    return out


def refresh_dumps(spark, out_dir: str, sf: str = SF) -> None:
    """Regenerate `<op>_after.txt` into `out_dir` for every op that has
    an after-dump in any plans/r13+ round dir (plus any op named in the
    current out_dir), so the committed evidence trail matches HEAD."""
    import os

    from kafka_connect_sse_spark.registry import queries

    qs = queries()
    plans_root = os.path.dirname(os.path.abspath(out_dir)) or "plans"
    names = set()
    for rd in os.listdir(plans_root):
        p = os.path.join(plans_root, rd)
        if re.fullmatch(r"r\d+", rd) and int(rd[1:]) >= 13 and os.path.isdir(p):
            for f in os.listdir(p):
                if f.endswith("_after.txt"):
                    names.add(f[: -len("_after.txt")])
    os.makedirs(out_dir, exist_ok=True)
    for op in sorted(names):
        fn = qs.get(op)
        if fn is None:
            continue
        df = fn(spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{op}_after.txt"), "w") as fh:
            fh.write(plan)
        print("dumped", op)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--gate", action="store_true",
                    help="exit 1 on any op over its allowlisted scan "
                         "count or any stale plans/r13+ after-dump")
    ap.add_argument("--refresh-dumps", metavar="DIR",
                    help="regenerate every tracked after-dump into DIR "
                         "from HEAD code, then exit")
    args = ap.parse_args()

    from kafka_connect_sse_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    if args.refresh_dumps:
        refresh_dumps(spark, args.refresh_dumps)
        return
    flagged = audit(spark)
    print("ops with >=2 FileScans of one table (see ALLOWLIST triage):")
    for name, multi in sorted(flagged.items(), key=lambda x: -max(x[1].values())):
        print(" ", name, multi)
    bad = violations(flagged)
    stale = dump_freshness_violations()
    if bad:
        print("\nPLAN-AUDIT VIOLATIONS:")
        for b in bad:
            print(" ", b)
    if stale:
        print("\nSTALE PLAN DUMPS:")
        for s in stale:
            print(" ", s)
    if args.gate:
        sys.exit(1 if (bad or stale) else 0)


if __name__ == "__main__":
    main()
