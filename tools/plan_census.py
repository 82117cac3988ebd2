"""Plan-shape census over the ENTIRE registry: for every ``queries()``
entry, count the physical-plan features the 100 TB design cares about
(non-broadcast exchanges, join strategies, cartesian/BNLJ nodes,
Python-eval nodes, scan count) and flag violations of the global
contracts (no cartesian anywhere; BNLJ only where a bounded build side
is documented; Python eval only in the multimodal allowlist).

Output: PLANS.md (one row per query) + one JSON summary line on
stdout.  Complements tests/test_plans.py (deep per-query contracts) by
making the whole surface auditable at a glance.

Usage: python tools/plan_census.py [sf_dir] [query ...]
       (with query names, only those rows of PLANS.md are rebuilt and
       rewritten; every other row and violation is kept as it stands)
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.session import (  # noqa: E402
    get_spark,
)

# BNLJ with a documented bounded build side (1-row scalar aggregates,
# broadcast dims in theta joins the reference semantics require)
BNLJ_ALLOWLIST = {
    "containment_first", "containment_longest", "regex_kb_match",
    "fuzzy_part_names", "orders_label_cascade", "part_keyword_antifilter",
    "bm25_search", "hybrid_retrieval", "rag_index_pipeline",
    "distinctive_terms", "zipf_slope", "corpus_datacard", "dsir_weights",
    "zorder_clustering", "acctbal_band_join", "novelty_scores",
    "quality_percentile_gate", "tail_token_coverage", "weighted_doc_sample",
    "charset_anomaly", "neyman_stratified_sample",
    "token_frequency", "doc_unigram_logprob", "bigram_logprob",
    "doc_repetition", "token_entropy", "bigram_pmi", "ccnet_buckets",
    "boilerplate_ngrams", "boilerplate_strip", "quality_calibration",
    "cross_lang_dups", "winnow_fingerprints", "cusum_alarms",
    "mixture_budget", "temperature_mix", "epoch_mixture", "target_mix",
    "domain_mix_sample", "balanced_docs", "lang_mix_drift", "source_drift",
    "source_drift_q", "key_skew", "heavy_hitters_merge", "hll_set_algebra",
    "histogram_quantiles", "contamination_fraction", "tokenizer_fertility",
    "bpe_merges", "bpe_encode", "bpe_token_shards", "tfidf_terms",
    "feature_mi", "dedup_cluster_histogram", "grouped_holdout",
    "quality_filter", "corpus_shuffle_rank", "token_shards",
    "quantity_percentiles", "pareto_parts",
    # audited round 6 (all BuildRight over 1-row scalar aggregates or
    # bounded dims): Q11/Q22 threshold scalars, now()-scalar decay,
    # min/max histogram scalars, report-position dim, 1-row schema
    # census, per-iteration n/v scalars (pagerank x3, pca x6),
    # node-count scalar (negative_edges), three-scalar crossJoin
    # (parts_except_intersect), broadcast as-of dim, burst-window
    # scalar, the reference pipeline's containment/regex KB dims
    # (reference_batch_parity).  (ann_int8 was demoted from the
    # registry in r7 — its quadratic baseline leg is test-side only;
    # the registered scale form is ann_int8_pruned.)
    "important_parts", "idle_rich_customers", "time_decayed_value",
    "price_histogram", "export_render", "schema_guard",
    "pagerank_parts", "pca_top_component", "negative_edges",
    "parts_except_intersect", "asof_rate_join", "session_burst_overlap",
    "reference_batch_parity",
    # 1-row basket-count scalar broadcast (lift denominator)
    "frequent_item_pairs",
    # 1-row share-total scalar broadcast over 4 channel rows (r7)
    "markov_attribution",
    # 1-row scalar broadcasts: the midpoint-cut aggregate and (cuped)
    # the pooled-theta aggregate (r7)
    "ab_test_zstat", "cuped_lift",
    # same 1-row scalar class (r8): midpoint cut + pooled theta/moments
    # (srm/mde/msprt/ratio), and the |metrics|-sized p-value table
    # crossJoined with the 1-row per-arm totals (fdr_bh)
    "ab_srm_check", "cuped_ztest", "ab_power_mde", "ab_msprt",
    "ratio_metric_ztest", "ab_fdr_bh",
    # same class (r9): the k−1 treatment rows crossJoin the 1-row
    # broadcast control aggregate, then the |arms|-sized BH window
    "ab_multiarm_readout",
    # INTERNAL execution (r11, first round the census can see DML
    # internals): optimize_zorder's rewrite crossJoins the snapshot
    # with the broadcast 1-ROW min/max span aggregate
    # (delta_lite.py optimize_zorder) — the same bounded scalar class
    "delta_optimize_zorder",
}
# Arrow-batched Python at genuine codec boundaries only
PYTHON_ALLOWLIST = {
    "media_decode_dims", "media_wav_stats", "media_resize",
    "media_features", "media_frames", "media_dhash", "image_near_dup",
}
# Python eval inside INTERNAL executions (VERDICT r10 #2): the change-
# feed family runs the Python-data-source CDF scan and applyInPandas
# maintainers in its micro-batches — the documented Python boundaries
# of the streaming surface, mirrored from the jobs.py allowlist.
INTERNAL_PYTHON_ALLOWLIST = {
    "delta_change_feed", "cdc_rollup_maintained", "cdc_minmax_rollup",
    "cdc_scd2_history", "delta_cdf_pacing", "decontaminate_merge",
    "stream_sessionize", "stream_dedup_watermark", "reservoir_stream",
    "cms_stream", "experiment_units_stream",
}


def _read_census(path: str) -> tuple[list, list]:
    """(rows, violations) of an existing PLANS.md."""
    rows, violations = [], []
    with open(path) as fh:
        for line in fh:
            m = re.match(r"- VIOLATION `([^`]+)`: (.*)$", line)
            if m:
                violations.append((m.group(1), m.group(2)))
            elif line.startswith("| ") and not line.startswith("| query |"):
                rows.append(tuple(c.strip() for c in line.strip()[1:-1].split("|")))
    return rows, violations


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    registry = entrymod.queries()
    unknown = only - set(registry)
    if unknown:
        sys.exit(f"unknown queries: {sorted(unknown)}")
    spark = get_spark(app_name="plan-census")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    # INTERNAL execution capture (VERDICT r10 #2): DML/CDC queries run
    # their real work as actions against temp tables while the query
    # function executes and return only a small materialized frame, so
    # explaining the returned DataFrame sees none of it.  Every action
    # runs under a SQL execution whose physicalPlanDescription is the
    # formatted explain — diff the shared SQL status store around the
    # fn() call and run the same counters over each internal plan.
    store = spark._jsparkSession.sharedState().statusStore()

    def counters(p: str) -> dict:
        # count DETAIL-section headers "(N) NodeName" — the tree lines
        # carry join type/build side between name and id, so a naive
        # "Name (" count silently misses every join node
        node = lambda n: len(re.findall(rf"\(\d+\) {n}\b", p))  # noqa: E731
        return {
            "ex": node("Exchange"),
            "bhj": node("BroadcastHashJoin"),
            "smj": node("SortMergeJoin"),
            "bnlj": node("BroadcastNestedLoopJoin"),
            "cart": node("CartesianProduct"),
            "py": node("ArrowEvalPython") + node("BatchEvalPython")
            + node("MapInPandas") + node("FlatMapGroupsInPandas")
            + node("FlatMapGroupsInPandasWithState"),
            "scans": node("Scan parquet"),
        }

    rows, violations = [], []
    for name, fn in registry.items():
        if only and name not in only:
            continue
        n0 = store.executionsList().size()
        try:
            df = fn(spark, sf_dir)
            p = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001
            rows.append((name, "ERROR", str(e)[:80]))
            violations.append((name, f"plan error: {e}"[:120]))
            continue
        c = counters(p)
        pushed = "PushedFilters: [" in p and "PushedFilters: []" not in p
        # internal executions triggered while fn() ran (zero for pure
        # lazy queries; the DML surface's scans/rewrites land here)
        lst = store.executionsList()
        ic = {k: 0 for k in c}
        n_int = 0
        for i in range(n0, lst.size()):
            desc = lst.apply(i).physicalPlanDescription()
            n_int += 1
            for k, v in counters(desc).items():
                ic[k] += v
        rows.append(
            (name,
             f"ex={c['ex']} bhj={c['bhj']} smj={c['smj']} "
             f"bnlj={c['bnlj']} cart={c['cart']} py={c['py']} "
             f"scans={c['scans']} pushed={int(pushed)}",
             f"int: n={n_int} ex={ic['ex']} bnlj={ic['bnlj']} "
             f"cart={ic['cart']} py={ic['py']} scans={ic['scans']}"
             if n_int else "")
        )
        if c["cart"]:
            violations.append((name, "CartesianProduct in plan"))
        if c["bnlj"] and name not in BNLJ_ALLOWLIST:
            violations.append((name, f"BNLJ not allowlisted ({c['bnlj']})"))
        if c["py"] and name not in PYTHON_ALLOWLIST:
            violations.append((name, f"Python eval not allowlisted ({c['py']})"))
        if ic["cart"]:
            violations.append((name, "CartesianProduct in INTERNAL execution"))
        if ic["bnlj"] and name not in BNLJ_ALLOWLIST:
            violations.append(
                (name, f"internal BNLJ not allowlisted ({ic['bnlj']})")
            )
        if ic["py"] and name not in (
            PYTHON_ALLOWLIST | INTERNAL_PYTHON_ALLOWLIST
        ):
            violations.append(
                (name, f"internal Python eval not allowlisted ({ic['py']})")
            )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    if only:
        old_rows, old_violations = _read_census(out)
        fresh = {r[0]: r for r in rows}
        rows = [fresh.pop(r[0], r) for r in old_rows] + list(fresh.values())
        violations = [v for v in old_violations if v[0] not in only] + violations
    with open(out, "w") as fh:
        fh.write("# Plan-shape census (tools/plan_census.py)\n\n")
        fh.write(f"Registry size: {len(rows)}; sf_dir: {sf_dir}.\n")
        fh.write("Contracts: zero CartesianProduct anywhere; BNLJ only with a\n"
                 "documented bounded build side (allowlist in the tool); Python\n"
                 "eval nodes only at the multimodal codec boundary.\n\n")
        fh.write(f"**Violations: {len(violations)}**\n\n")
        for n, v in violations:
            fh.write(f"- VIOLATION `{n}`: {v}\n")
        fh.write("\n| query | plan shape | note |\n|---|---|---|\n")
        for n, shape, note in rows:
            fh.write(f"| {n} | {shape} | {note} |\n")
    print(json.dumps({"queries": len(rows), "violations": len(violations),
                      "violation_list": [n for n, _ in violations]}))
    spark.stop()


if __name__ == "__main__":
    main()
