#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation,
no driver collect overhead).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "log_scan",
    "log_reverse",
    "kvidx_latest",
    "sink_fanout_multi",
    "mlog_ranks",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "events_daily",
    "events_sessions",
    "events_asof",
    "events_range_join",
    "events_rollup",
    "events_json",
    "events_funnel",
    "events_approx_distinct",
    "events_approx_quantiles",
    "sample_docs",
    "sample_split",
    "sample_stratified",
    "dedup_exact",
    "dedup_jaccard",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_embedding",
    "dedup_clusters",
    "corpus_curation",
    "decontaminate",
    "pack_sequences",
    "training_data",
    "ann_topk",
    "ann_matryoshka",
    "ann_matryoshka_recall",
    "ann_ivf",
    "text_stats",
    "text_repetition",
    "text_langid",
    "text_topterms",
    "text_fingerprint",
    "text_vocab_oov",
    "text_simpson",
]

# Families added to the measured bench in round 5 (span-level dedup,
# graph, SCD2 versioning, stateful streaming, video containers, real
# BPE). Kept in a separate list so the r1-r4-comparable 37-query
# subtotal can still be reported alongside the full total.
HEADLINE_V2 = [
    "dedup_span_cut",
    "docs_pagerank",
    "docs_scd2",
    "stream_topk",
    "multimodal_video_meta",
    "multimodal_decode_video",
    "text_bpe_tokens",
    # denser streaming coverage (the NOTES r5 candidate): one
    # stateful-dedup, one watermark-session, one budget-gate arm so a
    # regression anywhere in the streaming engine moves the bench
    "stream_dedup_exact",
    "stream_events_sessions",
    "stream_token_budget",
    # web curation + sharded export (added with the r5 web family)
    "web_canonical_urls",
    "export_shards",
    # r6: the rest of the streaming family measured (a regression in
    # the stateful horizon dedup, as-of join, SCD2 ingest, stateless
    # scrub/web filters or the CMS was previously invisible to BENCH
    # deltas), plus the round's new graded families
    "stream_dedup_window",
    "stream_events_asof",
    "stream_docs_scd2",
    "stream_pii_redact",
    "stream_web_filter",
    "stream_cms",
    "stream_token_budget_bpe",
    "web_domain_psl",
    "ann_ivf_int8",
    "text_lm_surprise",
    # r6 late additions: sketches (batch + streaming), winnowing,
    # at-ingest LM gate, mixture materialization
    "text_winnow",
    "events_bloom",
    "events_hll",
    "events_hist_quantiles",
    "stream_bloom",
    "stream_hll",
    "stream_histogram",
    "stream_lm_filter",
    "corpus_mixture_materialize",
    "corpus_unimax_materialize",
    "pack_padding_report",
    # r8: the graded tail the verdict flagged as invisible to BENCH
    # deltas — the Arrow-heavy image dHash pair (new in r7), the HLL
    # group-by, URL dedup, the incremental/cross-corpus dedup arms,
    # streaming decontamination, and the r8 NB classifier pair
    "multimodal_image_dhash",
    "multimodal_image_dedup",
    "multimodal_image_phash",
    "multimodal_image_phash_dedup",
    "stream_image_phash",
    "events_hll_groups",
    "web_url_dedup",
    "dedup_incremental",
    "dedup_cross_corpus",
    "decontaminate_semantic",
    "stream_decontaminate",
    "text_nb_quality",
    "text_nb_classify",
    "stream_nb_filter",
    "multimodal_audio_fp",
    "multimodal_audio_dedup",
    "corpus_dsir_weights",
    "corpus_dsir_select",
    "stream_dsir_filter",
    "multimodal_dedup_clusters",
    "stream_ivf_assign",
    # r8 second half: SemDeDup pruning, the PQ quantization ladder
    # (flat ADC + composed IVFADC), streaming PQ intake
    "dedup_semantic",
    "ann_pq_topk",
    "ann_pq_distortion",
    "ann_ivf_pq",
    "stream_pq_assign",
    "ann_ivf_pq_indexed",
    "docs_hash_embed",
    "docs_semantic_dedup",
    "docs_kcore",
    "embeddings_contrastive",
    "embeddings_pca",
    "events_kmv_intersect",
    "events_zorder_key",
    "stream_hash_embed",
    "stream_kmv",
    "text_bpe_fertility",
]

# r10: boot-speed canary (VERDICT r9 ask #3). The r8→r9b episode
# showed the same code timing ~1.4× slower on a slower host boot, so
# raw cross-round totals are NOT comparable without a per-boot speed
# reference. These three queries run FIRST — isolated, warmup +
# best-of-3, before the long session can contend — and their total
# divided by the r9 fast-boot reference gives boot_speed_factor;
# subtotals are reported both raw and canary-normalized. The
# reference values are the r09_233q.json uncontended numbers at
# sf0.1/local[32] (bench_local/README.md documents that boot).
CANARY = ["log_scan", "tpch_q1", "dedup_jaccard"]
CANARY_REF_SF01 = {"log_scan": 0.123, "tpch_q1": 1.168, "dedup_jaccard": 1.119}

# r12 (VERDICT r11 ask #1): the driver keeps only a ~2000-char stdout
# TAIL and computes its per-query round-over-round comparison from the
# "queries" map of the last parseable JSON line. The full 267-entry
# map cannot fit that tail, so the FINAL line carries the per-query
# map for exactly the driver-graded query set (the 50 names graded in
# CORRECTNESS_r*.json — ~1.4 KB with timings, measured). The full map
# still prints on the adjacent line and lands in bench_local/.
DRIVER_GRADED = [
    "log_scan", "log_get", "log_seq", "log_range", "log_limit",
    "log_reverse", "log_append_seq", "log_nulled_overlay",
    "log_replace_overlay", "log_check_consistency", "log_snapshot_read",
    "mlog_list", "mlog_ranks", "mlog_sublog_get", "mlog_sublog_query",
    "mlog_cardinalities", "mlog_has", "mlog_delete", "mlog_set_ops",
    "kvidx_latest", "kvidx_point", "sink_fanout", "sink_fanout_multi",
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q14", "tpch_q4",
    "tpch_q10", "tpch_q18", "tpch_q22", "tpch_q7", "tpch_q17",
    "tpch_q19", "tpch_q2", "tpch_q8", "tpch_q9", "tpch_q11",
    "tpch_q12", "tpch_q13", "tpch_q15", "tpch_q16", "tpch_q20",
    "tpch_q21", "customers_without_orders", "orders_topn_per_cust",
    "events_daily", "events_sessions", "events_asof",
]

# r9: FULL bench coverage — every graded queries() entry is measured.
# The r8 verdict flagged ~113 graded queries invisible to BENCH deltas
# (cheap variants of measured families, but a regression there was
# unobservable). This list is built at runtime as "everything not
# already in HEADLINE/HEADLINE_V2" so a query added to the contract
# can never silently go unmeasured again.
HEADLINE_V3: list[str] = []  # populated in main() from entry.queries()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"

    import __spark_entry__ as entry
    from margaret_spark.session import get_spark

    spark = get_spark(app_name="margaret-spark-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM/executor pool so the first query isn't charged
    # session startup
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    qs = entry.queries()
    missing = sorted(set(DRIVER_GRADED) - set(qs))
    assert not missing, f"DRIVER_GRADED names not in queries(): {missing}"

    def best_of(fn, runs: int) -> float:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = None
        for _ in range(runs):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        return best

    # boot-speed canary: isolated best-of-3 BEFORE the session loop.
    # r11 (ADVICE): gate on the parsed SF value, not the exact
    # directory-name string, so "sf0.10" still normalizes.
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    canary = {n: round(best_of(qs[n], 3), 3) for n in CANARY}
    canary_total = round(sum(canary.values()), 3)
    ref_total = round(sum(CANARY_REF_SF01.values()), 3)
    boot_speed_factor = (
        round(canary_total / ref_total, 3) if sf_val == 0.1 else None
    )

    measured = set(HEADLINE) | set(HEADLINE_V2)
    HEADLINE_V3.extend(n for n in sorted(qs) if n not in measured)
    timings: dict[str, float] = {}
    # r11 (ADVICE): the canary queries were already measured isolated
    # warmup+best-of-3 above — reuse those timings instead of timing
    # them a second time inside the session loop (the isolated number
    # is the cleaner steady-state estimate, and it removes redundant
    # warmups from the session wall time)
    timings.update(canary)
    for name in HEADLINE + HEADLINE_V2 + HEADLINE_V3:
        if name in canary:
            continue
        fn = qs[name]
        # one warm-up run (JIT/codegen compilation), then the best of
        # N measured runs — steady-state timing, standard repeated-run
        # methodology (HotSpot keeps tiering up through the first few
        # runs of the multi-stage dedup pipelines, and this box shows
        # ±0.5 s run-to-run noise). The round-over-round comparable
        # sets (HEADLINE + V2) stay best-of-3; the auto-complement
        # tail runs best-of-2 to keep the full-coverage bench inside
        # the driver's wall budget at 240+ measured queries.
        runs = 3 if name in measured else 2
        timings[name] = round(best_of(fn, runs), 3)
        # drop the query's localCheckpoint RDD blocks: 233 queries x 4
        # executions otherwise accumulate cached blocks in the one
        # long-lived JVM, and the creeping heap pressure taxes every
        # later query (this is a session-hygiene step, not a timing
        # change - the checkpoints live WITHIN one execution)
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    total = round(sum(timings.values()), 3)
    subtotal_v1 = round(sum(timings[n] for n in HEADLINE), 3)
    # r11 measurement-artifact fix (VERDICT r10 ask #7): the driver's
    # BENCH capture keeps only the TAIL of stdout (~2000 chars) and
    # parses a JSON line found there — r01-r05 parsed because the
    # single output line was <2000 chars; it has been "parsed": null
    # since r06, when the full per-query map outgrew the buffer. The
    # full contract line (with the complete per-query map) is still
    # printed, and a COMPACT summary line (metric/value/subtotals/
    # canary — everything but the 267-entry map, which cannot fit) is
    # printed both FIRST and LAST so a head- or tail-limited capture
    # always contains one complete parseable line. The per-query map
    # also lands in bench_local/ scoreboards each round. No timing
    # methodology changed.
    compact = json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": total,
            "unit": "sec",
            "subtotal_37q_r1_comparable": subtotal_v1,
            "subtotal_111q_r8_comparable": round(
                sum(timings[n] for n in HEADLINE + HEADLINE_V2), 3
            ),
            "canary": canary,
            "canary_total": canary_total,
            "canary_reference_total": ref_total if sf_val == 0.1 else None,
            "boot_speed_factor": boot_speed_factor,
            "subtotal_37q_canary_normalized": (
                round(subtotal_v1 / boot_speed_factor, 3)
                if boot_speed_factor
                else None
            ),
            "total_canary_normalized": (
                round(total / boot_speed_factor, 3)
                if boot_speed_factor
                else None
            ),
            "n_queries": len(timings),
            "queries_detail": "full per-query map on the adjacent "
            "output line and in bench_local/",
            "sf": float(sf),
            "cpus": int(cpus) if str(cpus).isdigit() else cpus,
        }
    )
    print(compact)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                # the original 37-query set benched since r1 — compare
                # THIS number round-over-round; "value" additionally
                # includes the HEADLINE_V2 families added in r5
                "subtotal_37q_r1_comparable": subtotal_v1,
                # r9: the full graded contract is measured; this is the
                # r8-comparable 111-query subtotal (HEADLINE+V2 only)
                "subtotal_111q_r8_comparable": round(
                    sum(timings[n] for n in HEADLINE + HEADLINE_V2), 3
                ),
                # boot-speed canary (VERDICT r9 ask #3): isolated
                # best-of-3 of three stable queries measured BEFORE the
                # session loop, vs the r9 fast-boot reference. Compare
                # rounds on the canary-normalized subtotals; a factor
                # far from 1.0 means the HOST is the difference, not
                # the code (r8→r9b measured exactly this at ~1.4×).
                "canary": canary,
                "canary_total": canary_total,
                "canary_reference_total": ref_total if sf_val == 0.1 else None,
                "boot_speed_factor": boot_speed_factor,
                "subtotal_37q_canary_normalized": (
                    round(subtotal_v1 / boot_speed_factor, 3)
                    if boot_speed_factor
                    else None
                ),
                "total_canary_normalized": (
                    round(total / boot_speed_factor, 3)
                    if boot_speed_factor
                    else None
                ),
                "queries": timings,
                "sf": float(sf),
                "cpus": int(cpus) if str(cpus).isdigit() else cpus,
                # methodology self-description: each query gets one
                # unmeasured warm-up execution (JIT/codegen tiering),
                # then the BEST of 3 measured noop-sink executions —
                # this box shows ±0.5-1 s run-to-run noise on the
                # multi-stage pipelines, so best-of-N is the
                # steady-state estimator
                "methodology": {
                    "warmup_runs": 1,
                    "measured_runs": "3 (headline/v2 subtotals), 2 (tail)",
                    "aggregation": "best",
                    "sink": "noop",
                    "noise_note": "±0.5-1s run-to-run on this box; "
                    "measure uncontended",
                },
            }
        )
    )
    # the LAST line: the compact summary WITH the per-query map for
    # the driver-graded 50 queries (r12, VERDICT r11 ask #1 — the
    # driver's per-query/scaling comparison reads "queries" from the
    # last parseable line of its ~2000-char tail; this line is ~1.4 KB
    # so it always fits). Timing methodology unchanged; the full map
    # is on the line above and in bench_local/.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": {
                    n: timings[n] for n in DRIVER_GRADED if n in timings
                },
                "boot_speed_factor": boot_speed_factor,
                "total_canary_normalized": (
                    round(total / boot_speed_factor, 3)
                    if boot_speed_factor
                    else None
                ),
                "n_queries": len(timings),
                "queries_detail": "graded-50 subset; full per-query "
                "map on the adjacent output line and in bench_local/",
                "sf": float(sf),
                "cpus": int(cpus) if str(cpus).isdigit() else cpus,
            }
        )
    )


if __name__ == "__main__":
    main()
