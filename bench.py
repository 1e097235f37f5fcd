"""Per-query timer and job-count gate over the query registry at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Usage: python bench.py [q_name ...]    (no names: every query in SECTIONS)

Per query, in one shared SparkSession: one untimed warmup, then PASSES
timed passes. Cached tables and persisted RDDs are released before the
warmup and before every pass, so no pass reads an earlier one's cache.
Each pass records ``build_s`` (the call that returns the DataFrame,
including any eager actions the operator runs), ``exec_s`` (``count()``)
and ``jobs`` (Spark jobs in the pass's own job group).

Gate: for a fixed plan and fixture a query's job count is deterministic,
so every query's ``jobs`` must agree across its passes and equal the
committed BENCH_LOCAL.json's exactly; the run exits 1 when one differs,
and reports queries missing from the baseline and an unusable baseline
explicitly. Wall-time ratios
against the baseline are printed to stderr for information only; wall-time
claims belong to perfbench/ (``python3 perfbench/run.py --workload W
--seed N``).

A full run rewrites BENCH_LOCAL.json with the per-query record. The last
stdout line is one JSON object: {"metric", "value", "unit", "queries",
"sf"}, where ``queries`` maps each query to its median build_s + exec_s.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from perfbench.probe import release_storage  # noqa: E402

BASELINE = os.path.join(HERE, "BENCH_LOCAL.json")
PASSES = 3

SECTIONS = {
    "relational": [
        "q_topk", "q_sql_tpch_q1", "q_sql_tpch_q3", "q_sql_tpch_q6",
        "q_skyline", "q_table_diff", "q_train_shuffle", "q_xml_ingest",
    ],
    "joins": [
        "q_join_star", "q_join_broadcast", "q_join_salted",
        "q_join_bloom_prefilter", "q_join_interval_bucket",
        "q_geo_radius_join", "q_entity_resolve",
    ],
    "aggregates": [
        "q_agg_basic", "q_groupby_avg_orderby", "q_sketch_rollup",
        "q_heavy_hitters_cms", "q_sketch_intersection", "q_bitmap_rollup",
        "q_quantile_rollup", "q_percentile_weighted", "q_stats_equidepth",
        "q_group_regress", "q_gini", "q_dp_release",
    ],
    "windows": [
        "q_window_avg_two_grains", "q_window_rank", "q_rolling_distinct",
        "q_time_interpolate", "q_markov_transitions", "q_event_pattern",
    ],
    "text_dedup": [
        "q_text_wordcount", "q_dedup_minhash", "q_dedup_ngram_jaccard",
        "q_simhash_hamming", "q_minhash_accuracy", "q_dedup_span",
        "q_dedup_savings", "q_decontaminate", "q_bm25_rank", "q_doc_chunk",
        "q_phrase_search", "q_lm_perplexity", "q_feature_hash",
        "q_url_canonicalize", "q_token_entropy", "q_curation_pipeline",
        "q_domain_mixture", "q_dsir_select", "q_doremi_step",
        "q_mixture_concentration", "q_zipf_fit", "q_nb_classify",
        "q_topic_keywords",
    ],
    "vectors": [
        "q_similarity_topk", "q_kmeans", "q_dedup_semantic",
        "q_dedup_semantic_scaled", "q_pca_power", "q_random_projection",
        "q_ann_pq", "q_ann_ivfpq", "q_rrf_fusion", "q_hard_negatives",
        "q_knn_label_noise", "q_retrieval_eval", "q_mmr_diversify",
        "q_item_cf",
    ],
    "graph": [
        "q_pagerank", "q_graph_bfs", "q_graph_labelprop", "q_graph_kcore",
        "q_graph_jaccard",
    ],
    "versioned_io": [
        "q_time_travel", "q_merge_versioned", "q_compact",
        "q_versioned_zone_skip", "q_versioned_sidecar",
    ],
    "timeseries_stats": [
        "q_stl_decompose", "q_forecast_backtest", "q_forecast_conformal",
        "q_anomaly_seasonal", "q_changepoint_cusum", "q_acf", "q_ccf",
        "q_survival_km", "q_survival_logrank", "q_abtest_welch",
        "q_abtest_sprt", "q_abtest_cuped", "q_abtest_srm", "q_abtest_did",
        "q_ks_test", "q_mannwhitney", "q_spearman", "q_mutual_info",
        "q_bootstrap_ci", "q_calibration", "q_classifier_eval",
        "q_attribution_decay",
    ],
    "mining": [
        "q_assoc_rules", "q_collocations_pmi", "q_seq_pairs", "q_path_mining",
    ],
    "multimodal": ["q_image_dedup", "q_audio_dedup", "q_multimodal_scene_detect"],
}


def _pass(spark, fn, sf_dir: str, group: str) -> dict:
    """One pass of ``fn`` from released storage, inside job group ``group``."""
    sc = spark.sparkContext
    release_storage(spark)
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.count()
        t2 = time.perf_counter()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return {"build_s": round(t1 - t0, 4), "exec_s": round(t2 - t1, 4), "jobs": jobs}


def measure(spark, fn, sf_dir: str, name: str) -> dict:
    """Warmup plus PASSES timed passes; medians of the times, and the job
    count every pass must agree on (``jobs_per_pass`` keeps them all)."""
    _pass(spark, fn, sf_dir, f"bench:{name}:warmup")
    runs = [_pass(spark, fn, sf_dir, f"bench:{name}:{i}") for i in range(PASSES)]
    return {
        "build_s": round(statistics.median(r["build_s"] for r in runs), 4),
        "exec_s": round(statistics.median(r["exec_s"] for r in runs), 4),
        "jobs": runs[0]["jobs"],
        "jobs_per_pass": [r["jobs"] for r in runs],
    }


def gate(record: dict, path: str = BASELINE) -> dict:
    """Compare this run's per-query job counts with the baseline file.

    ``changed``: queries whose ``jobs`` differ from the baseline, or vary
    across this run's passes; ``new``: queries the baseline lacks;
    ``error``: why the baseline could not be used (then every query is
    reported as new); ``wall_ratio``: now / baseline median wall time,
    information only."""
    out = {"vs": os.path.basename(path), "error": None, "changed": [], "new": [],
           "wall_ratio": {}}
    try:
        with open(path) as fh:
            base = {q: (int(r["jobs"]), r["build_s"] + r["exec_s"])
                    for q, r in json.load(fh)["queries"].items()}
    except (OSError, ValueError, KeyError, TypeError, AttributeError) as exc:
        out["error"] = f"unusable baseline {path}: {type(exc).__name__}: {exc}"
        base = {}
    for q, r in record.items():
        jobs, wall = base.get(q, (None, 0))
        if jobs is None:
            out["new"].append(q)
        if (jobs is not None and jobs != r["jobs"]) or len(set(r["jobs_per_pass"])) > 1:
            out["changed"].append({"query": q, "was": jobs, "now": r["jobs_per_pass"]})
        if wall > 0:
            out["wall_ratio"][q] = round((r["build_s"] + r["exec_s"]) / wall, 2)
    return out


def main(argv: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    section_of = {q: s for s, qs in SECTIONS.items() for q in qs}
    names = argv or list(section_of)

    import __spark_entry__ as E
    from nyc_tlc_trip_data_pipelines_spark.session import get_spark

    qs = E.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"bench: unknown query ids {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("bench")
    t_start = time.perf_counter()
    record: dict[str, dict] = {}
    for name in names:
        record[name] = {"section": section_of.get(name), **measure(spark, qs[name], sf_dir, name)}
        r = record[name]
        print(
            f"bench: {name} build_s={r['build_s']} exec_s={r['exec_s']} "
            f"jobs={r['jobs_per_pass']} at {time.perf_counter() - t_start:.0f}s",
            file=sys.stderr, flush=True,
        )

    verdict = gate(record)
    for q, ratio in sorted(verdict["wall_ratio"].items(), key=lambda kv: -kv[1]):
        print(f"bench: wall {q} {ratio}x baseline (information only)", file=sys.stderr)
    if verdict["error"]:
        print(f"bench: {verdict['error']}", file=sys.stderr)
    for q in verdict["new"]:
        print(f"bench: {q} has no baseline job count (new)", file=sys.stderr)
    for c in verdict["changed"]:
        print(f"bench: JOB COUNT CHANGED {c['query']}: {c['was']} -> {c['now']}",
              file=sys.stderr)

    try:
        sf_label: float | str = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:  # non-"sfX" directory names
        sf_label = sf_dir
    walls = {q: round(r["build_s"] + r["exec_s"], 3) for q, r in record.items()}
    if not argv:
        payload = {"sf": sf_label, "passes": PASSES, "gate": verdict, "queries": record}
        with open(BASELINE, "w") as fh:
            json.dump(payload, fh, indent=1)
            fh.write("\n")
    print(json.dumps({
        "metric": "queries_total_time",
        "value": round(sum(walls.values()), 3),
        "unit": "sec",
        "queries": walls,
        "sf": sf_label,
    }))
    return 1 if verdict["changed"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
