"""Benchmark runner — the driver's per-round feedback loop.

Runs the headline declared queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is fully materialized via a count-ish action that forces
every operator (df.write would add sink cost; .count() after a
deterministic plan is the standard engine-bench convention).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from glonassdatamining_spark import registry
from glonassdatamining_spark.session import get_spark
from glonassdatamining_spark.sources import drop_derived

# Headline set: the flagship + the heaviest representative per
# section, favoring the SCALE paths (bucketed/LSH forms) over the
# brute-force correctness twins.
HEADLINE = [
    "q1_pricing_summary",     # scan → filter → agg → sort (flagship)
    "q5_local_supplier_volume",  # 6-table snowflake: broadcast dims + one SMJ
    "q18_large_volume_customer",  # aggregate-then-join rewrite + top-k
    "n1_connected_components",  # iterative graph kernel (hybrid CC)
    "a3_predicate_pushdown",  # pushdown scan
    "c2_shuffle_join",        # large×large sort-merge join
    "c9_asof_join",           # as-of via union-tag + running last
    "c12_knn_join",           # broadcast brute-force kNN
    "d5_rollup",              # multi-granularity aggregation
    "d8_percentiles",         # exact quantiles
    "e8_sessionization",      # gap sessionization (single shuffle)
    "f3_global_topk",         # TakeOrderedAndProject
    "h5_array_funcs",         # higher-order array kernels
    "i3_distance_self_join",  # grid-bucketed ε-join
    "i6_dbscan",              # distributed DBSCAN (pandas UDF + merge)
    "i12_hotspot_zscore",     # Getis-Ord-style neighborhood z-scores
    "i11_trajectory_similarity",  # sketch-then-pair trajectory top-k
    "i17_comovement",         # flock detection: grid pair join + run windows
    "k2b_minhash_lsh_dedup",  # MinHash-LSH dedup (scale path)
    "k3_cosine_topk",         # all-pairs cosine top-k
    "k8_langid_heuristic",    # two-stage corpus profile + classify
    "k22_unigram_loglik",     # corpus-LM quality scoring
    "l9_stream_stream_join",  # interval-band join (stream-stream twin)
    "l3_session_window",      # native session windows
    "m2_grouped_map_udf",     # Arrow grouped-map path
    # round-2 additions (BASELINE.md documents the headline widening):
    "q7_nation_volume",       # bilateral-nation snowflake, disjunctive dims
    "d22_heavy_hitters",      # two-pass Misra-Gries exact heavy hitters
    "i24_snap_to_poi",        # literal-POI argmin snap (join-free)
    "e14_sequence_pattern",   # regex-over-rows behavioral patterns
    "l12_chained_windows",    # two-level windowed rollup
    # round-3 additions (BASELINE.md: geometry tier, no earlier baseline):
    "i30_polygon_intersect_pairs",  # grid-bucketed polygon-polygon join
    "i31_path_self_intersections",  # O(m²)-in-row segment crossing scan
    # round-4 additions (BASELINE.md: WKB + curation tier, no earlier baseline):
    "i33_wkb_polygon_hole_area",    # WKB encode → pure-Catalyst parse → area
    "e18_rfm_segments",             # percentile-cutoff RFM segmentation
    "n8_clustering_coefficient",    # wedge join + triangle closure per node
    "i37_radius_of_gyration",       # one-shuffle exact-moment mobility scalar
    "k38_ngram_novelty",            # trigram inverted-index novelty join
    "k37_wav_audio_stats",          # real WAV encode→decode Arrow pipeline
    # round-4 late additions (BASELINE.md: no earlier baseline):
    "k43_source_drift_tv",          # integer-exact per-source TV drift
    "i44_mobility_markov",          # grid-cell transition model
    "e27_cusum_alarm",              # HOF-folded sequential detector
    # round-5 additions (BASELINE.md: no earlier baseline):
    "i48_bounded_knn_join",         # grid-bucketed exact kNN self-join
    "g10_scd2_asof_lookup",         # 3-probe point-in-time max_by
    "i49_trajectory_sinuosity",     # one-shuffle window + endpoint fold
    # n16_two_hop_ball RETIRED from the headline set in round 7
    # (round-6 verdict ask #5): its uncapped Σ deg² growth (sf1 15.5×)
    # made it the one headline plan with a known densification cliff.
    # It stays REGISTERED (n16b's oracle needs it); n16b below is the
    # operator's headline row (sf1 2.21×). BASELINE.md documents the
    # retirement; its r01-era 2× bar retires with it.
    "c19_disjunctive_join",         # OR-join as union-of-equi-joins
    # round-6 additions (BASELINE.md: no earlier baseline):
    "n16b_two_hop_ball_capped",     # n16 with the super-hub cap applied
    "m8_stateful_sessions",         # explicit-state session fold (Arrow)
    # round-7 additions (BASELINE.md: no earlier baseline):
    "i53_haversine_knn_join",       # geodesy tier: lat-adaptive kNN grid
    "i57_zone_overlay_area",        # constructive geometry: SH overlay
    # round-8 additions (BASELINE.md: no earlier baseline):
    "i60_concave_overlay_booleans",  # signed-fan concave boolean areas
    "i61_projected_local_grid",      # projected-CRS local plane + grid
    "n18_label_propagation",         # LPA community detection (4 rounds)
    "k8b_multilingual_langid",       # char-bigram profile classifier
    # round-9 additions (BASELINE.md: no earlier baseline):
    "i62b_concave_overlay_general",  # both-rings-per-row concave overlay
    "i63_geodesic_geofence",         # local-plane transform + ray cast
    "n19_weighted_sssp",             # integer-relax frontier SSSP
    # n20_weighted_pagerank is NOT benched (n2's precedent: a fixed
    # 10-power-iteration kernel measures iteration pacing, ~13 s of
    # eager checkpoints — its evidence is the replay tests + the
    # scale-curve row, ratio 1.64x)
    "k55_bpe_merge_learning",        # 8-round BPE merge training
    "k49b_learned_fertility",        # learned-tokenizer fertility rescore
    "g16_lakehouse_positional_deletes",  # merge-on-read delete tier
    "i64_map_matching",              # snap-to-segment traffic rollup
    "k55b_learned_fertility_prebuilt",  # frozen-artifact scoring pass
    # round-10 additions (BASELINE.md: no earlier baseline):
    "i65_hausdorff_similarity",      # Arrow numpy batch refine (round-10
                                     # fix: was interpreted-HOF-paced at
                                     # ~12.7 s and excluded; now benched)
    "i66_hmm_map_matching",          # per-vehicle Viterbi decode
    "i67_spherical_geofence",        # great-circle crossing parity
    "g17_lakehouse_v2_schema_mapping",  # eq deletes + field-id mapping
    "i68_geodesic_polygon_area",     # spherical-excess ST_Area
    "k56_winnowing_fingerprints",    # MOSS guaranteed-detection census
    "d47_tdigest_quantile_rollup",   # mergeable quantile sketch tiers
    # round-11 additions (BASELINE.md: no earlier baseline):
    "n8b_clustering_coefficient_capped",  # n8 wedge with the super-hub cap
    "i48b_knn_local_index",          # per-partition KD-tree kNN engine
    "i48c_unbounded_knn",            # expanding-ring exact unbounded kNN
    "i69_frechet_similarity",        # order-aware Frechet DP refine
    "i70_cascaded_union_area",       # N-ary signed-fan union
    "k56b_winnowing_detection_join", # guaranteed-detection dedup pairs
    # n22_betweenness_sampled is NOT benched (n2/n20's class: a
    # k-source iterative frontier kernel measures round pacing, not
    # work — its evidence is the python Brandes replay, the hand-graph
    # exactness tests, and the scale-curve row)
    # (l15/l16 bus queries are NOT benched: their duration is wall-clock
    # micro-batch trigger pacing, not work — a throughput-style number
    # would be meaningless. Their evidence is the t2 hash + live tests.)
]


def pick_headline() -> list[str]:
    available = registry.all_queries()
    return [n for n in HEADLINE if n in available]


def main() -> None:
    # Hot-table mode: fixture parquet files are single-row-group, so a
    # cold scan decodes on ONE core (parquet splits only at row-group
    # boundaries) — re-decoding the same file in every query measures
    # the local file layout, not the engine. The bench therefore runs
    # with the base tables in Spark's in-memory columnar cache spread
    # over all cores (see sources._cached); the un-timed warm-up pass
    # materializes it. Correctness runs never set this.
    os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("gdm-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()

    def materialize(df):
        # JVM-side noop sink: computes every row, writes nothing, never
        # serializes results to Python — measures the engine only.
        df.write.format("noop").mode("overwrite").save()

    headline = pick_headline()
    # Generated classes compiled per round (sidecar only; read between
    # rounds, outside every query's timed region): the warm-up compiles
    # the headline set's working set, and a warm session should
    # compile next to nothing after it.
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME().getCount
    c0 = compiled()
    # Warm-up pass (untimed): JIT, IO, and the bench-mode derived
    # frames (sources.derived) all materialize here.
    for name in headline:
        materialize(queries[name](spark, sf_dir))
    compiles_warmup = compiled() - c0

    # Interleaved min-of-N: repetitions run ROUND-ROBIN across the
    # whole headline set instead of back-to-back per query. The shared
    # bench host carries external load spikes of ±50% lasting tens of
    # seconds — back-to-back sampling put all of one query's samples
    # inside a single spike window (the r4 k8/i12 bar breaches, both
    # measured under their bars on a quiet host); with samples ~full-
    # sweep apart, a spike can inflate each query's min at most once.
    N_ROUNDS = 4
    # Small/noise-sensitive queries whose 2x bars sit closest to the
    # noise floor get extra interleaved samples at the end (cheap:
    # ~1 s each) so their min rests on 6 well-separated draws.
    EXTRA_ROUNDS = {"k8_langid_heuristic", "i12_hotspot_zscore"}
    best: dict[str, float] = {n: float("inf") for n in headline}
    compiles_per_round: list[int] = []
    for rnd in range(N_ROUNDS + 2):
        c0 = compiled()
        for name in headline:
            if rnd >= N_ROUNDS and name not in EXTRA_ROUNDS:
                continue
            t0 = time.perf_counter()
            materialize(queries[name](spark, sf_dir))
            best[name] = min(best[name], time.perf_counter() - t0)
        compiles_per_round.append(compiled() - c0)
    timings = {name: round(best[name], 3) for name in headline}

    # Cold-rep pass (round-6 verdict ask #6): for the queries whose
    # bench-mode derived frames exclude real cold work from the warm
    # number (the BASELINE.md cache-inventory table), record ONE rep
    # after sources.drop_derived() — base tables and split copies stay
    # hot (the documented bench substrate for every query), so "cold"
    # here means exactly the inventory's "what the timed rep pays
    # cold" column: fixture projection + derived shuffle for i6/i12,
    # encode + plan re-analysis for the WKB tier, plan re-analysis for
    # k8. Runs AFTER all warm sampling so dropping can't perturb the
    # mins.
    COLD_QUERIES = [
        "i6_dbscan",
        "i12_hotspot_zscore",
        "i33_wkb_polygon_hole_area",
        "k8_langid_heuristic",
    ]

    cold: dict[str, float] = {}
    for name in COLD_QUERIES:
        if name not in headline:
            continue
        drop_derived()
        t0 = time.perf_counter()
        materialize(queries[name](spark, sf_dir))
        cold[name] = round(time.perf_counter() - t0, 3)

    total = round(sum(timings.values()), 3)
    # ONE compact line, flushed, as the only stdout the run produces
    # (console progress is suppressed in session.py). The driver keeps
    # only the LAST 2000 stdout chars, so the whole line MUST fit in
    # that window (round 9/10 artifacts recorded parsed:null because
    # the line outgrew it). Two levers (round-10 verdict ask #1):
    #   1. per-query values rounded to 2 decimals;
    #   2. if the full map still pushes the line past the window, the
    #      inline map shrinks to the 25 BASELINE.md queries + n_queries
    #      (the FULL map ships in the committed BENCH_quiet_r*.json);
    # and `value`/`sf` sit at the END of the object so any future
    # truncation cuts query entries, not the verdict fields.
    BASELINE_25 = [
        "q1_pricing_summary", "q5_local_supplier_volume",
        "q18_large_volume_customer", "n1_connected_components",
        "a3_predicate_pushdown", "c2_shuffle_join", "c9_asof_join",
        "c12_knn_join", "d5_rollup", "d8_percentiles",
        "e8_sessionization", "f3_global_topk", "h5_array_funcs",
        "i3_distance_self_join", "i6_dbscan", "i12_hotspot_zscore",
        "i11_trajectory_similarity", "i17_comovement",
        "k2b_minhash_lsh_dedup", "k3_cosine_topk", "k8_langid_heuristic",
        "k22_unigram_loglik", "l9_stream_stream_join", "l3_session_window",
        "m2_grouped_map_udf",
    ]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    def payload_line(qmap: dict[str, float], cmap: dict[str, float]) -> str:
        return json.dumps(
            {
                "metric": "headline_queries_total",
                "unit": "sec",
                "n_queries": len(timings),
                "queries": {n: round(t, 2) for n, t in qmap.items()},
                "cold": {n: round(t, 2) for n, t in cmap.items()},
                "total": total,
                "value": total,
                "sf": sf_val,
            },
            separators=(",", ":"),
        )

    # Full-resolution sidecar (quiet-run artifact): the stdout line
    # deliberately shrinks to fit the driver's capture window, so the
    # complete per-query map is exported here when requested
    # (BENCH_quiet_r*.json is built from this).
    full_out = os.environ.get("SPARK_GRAFT_BENCH_FULL_OUT")
    if full_out:
        with open(full_out, "w") as fh:
            json.dump(
                {
                    "metric": "headline_queries_total",
                    "unit": "sec",
                    "n_queries": len(timings),
                    "queries": timings,
                    "cold": cold,
                    "codegen_compiles_warmup": compiles_warmup,
                    "codegen_compiles_per_round": compiles_per_round,
                    "total": total,
                    "value": total,
                    "sf": sf_val,
                },
                fh,
            )

    LIMIT = 1950  # headroom under the driver's 2000-char tail window
    line = payload_line(timings, cold)
    if len(line) > LIMIT:
        subset = {n: timings[n] for n in BASELINE_25 if n in timings}
        line = payload_line(subset, cold)
    if len(line) > LIMIT:  # last resort: verdict fields only
        line = payload_line({}, {})
    print(line, flush=True)


if __name__ == "__main__":
    main()
