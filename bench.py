#!/usr/bin/env python
"""Bench harness (driver contract): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the CPUs in the affinity mask);
prints ONE JSON line.

Queries are materialized with a noop-format write (full execution, no
driver collect).  The flagship extraction also reports docs/sec — the
BASELINE.json metric.  Session startup and input synthesis are excluded
from per-query timings.

Truncation-proofing (VERDICT r3 #2: the r3 artifact's tail-captured
134-query line was cut mid-object, "parsed": null, and the round's
headline number was unrecoverable): the final stdout line is now a
COMPACT summary — headline seconds, docs/sec, probe, q1/q3/q5 and the
flagship/slowest timings — small enough to survive any sane tail
capture, while the FULL per-query map is written to
BENCH/headline_$SPARK_GRAFT_BENCH_ROUND.json (default "latest") and
committed with the round.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")

from ocr_gang_spark.contract import queries as contract_queries  # noqa: E402
from ocr_gang_spark.hostprobe import (  # noqa: E402
    HEADLINE_PROBE_SEC,
    QUIET_PROBE_SEC,
    ProbeSampler,
    steal_probe,
)
from ocr_gang_spark.pipeline import broadcast_weights, extract_documents  # noqa: E402
from ocr_gang_spark.session import get_spark, task_slots  # noqa: E402
from ocr_gang_spark.synth import synth_documents, synth_media  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "sessionize_events",
    "events_asof_join",
    "dedup_exact",
    "minhash_signatures",
    "minhash_lsh_buckets",
    "simhash_signatures",
    "jaccard_candidate_pairs",
    "dedup_pipeline_decisions",
    "dedup_components",
    "dedup_canonical_quality",
    "leakage_safe_split",
    "sorted_neighborhood_pairs",
    "incremental_dedup_index",
    "embedding_topk_cosine",
    "embedding_quantized_topk",
    "pq_adc_topk",
    "kmeans_quantized_assign",
    "ann_ivf_kmeans_topk",
    "embedding_near_dup_pairs",
    "ann_ivf_probe_topk",
    "ann_ivf_multiprobe_topk",
    "token_stats",
    "bpe_token_stats",
    "quality_filter_decisions",
    "quality_classifier_scores",
    "caption_pair_mining",
    "caption_negative_samples",
    "unigram_lm_tiers",
    "repetition_ngram_stats",
    "rolling_fingerprint",
    "winnow_fingerprints",
    "lang_id_markers",
    "url_domain_stats",
    "pii_redact_stats",
    "tfidf_top_terms",
    "chunk_dedup",
    "rag_chunk_plan",
    "decontaminate_overlap",
    "domain_quota_sample",
    "domain_mixture_weights",
    "dsir_importance_resample",
    "bpe_merge_pairs",
    "bpe_encode_large_vocab",
    "cms_heavy_hitters",
    "quantile_hist_sketch",
    "cooc_pmi_topk",
    "semantic_dedup",
    "text_normalize_stats",
    "bm25_retrieval_topk",
    "pagerank_domains",
    "corpus_snapshot_diff",
    "changelog_merge_read",
    "sequence_pack_bins",
    "multimodal_pack_plan",
    "stream_dedup_events",
    "stream_changelog_upsert",
    "stream_caption_pairs",
    "epoch_shard_layout",
    "stream_quality_decisions",
    "warc_ingest_records",
    "warc_extract_main_content",
    "stream_warc_ingest",
    "tar_shard_samples",
    "data_quality_checks",
    "interval_overlap_join",
    "sliding_event_window",
    "ocr_error_rates",
    "ocr_spell_correction",
    "ann_ivfpq_topk",
    "ann_ivfpq_residual_topk",
    "quality_classifier_trained",
    "snapshot_time_travel",
    "salted_hot_key_join",
    "stream_snapshot_ingest",
]

# pandas-UDF-heavy extraction queries: every task pins a JVM thread AND
# a python worker, so above ~cores/4 the box oversubscribes and thrashes
# (BENCH/NOTES.md; measured ~8x slower at local[32] than local[8]).
# These ALWAYS run in their own session capped at EXTRACT_CPUS —
# SPARK_GRAFT_CPUS does not lift the cap (round-1 lesson: the driver's
# local[32] run recorded 82 docs/s for an engine that does ~687 at
# local[8]).  Override knob for experiments: SPARK_GRAFT_EXTRACT_CPUS.
HEADLINE_EXTRACT = [
    "ocr_extract_spans",
    "ocr_confidence_stats",
    "ocr_caption_agreement",
    "interleaved_text_render",
    "media_resolution_report",
    "layout_xy_blocks",
    "hough_deskew",
    "media_metadata",
    "media_resize_stats",
    "decode_quarantine_stats",
    "image_phash_dedup",
    "phash_hamming_pairs",
    "cdc_chunk_dedup",
    "augmentation_counts",
    "pdf_layout_spans",
    "main_content_blocks",
    "stream_extraction_spans",
    "stream_confidence",
]
EXTRACT_CPUS = 8


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = task_slots()
    # 40k docs (~120k media blobs): the measured ~12.6s fixed share
    # (planning, commit, metrics) stays under 10% of the timed run even
    # at contended throughput, so docs/sec reflects the engine, not the
    # job envelope (VERDICT r2 #3)
    n_synth = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "40000"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    extract_cpus = int(
        os.environ.get("SPARK_GRAFT_EXTRACT_CPUS", min(EXTRACT_CPUS, cpus))
    )
    # parse up front so a malformed value fails before 4+ minutes of
    # headline queries, not at the flagship gate (review fix)
    pre_gate = float(os.environ.get("SPARK_GRAFT_BENCH_GATE", "0"))

    spark = get_spark("bench", cpus=cpus)
    spark.range(1000).count()  # JVM warm-up
    steal_probe()  # probe warm-up: first call pays numpy first-touch (~1s)

    qs = contract_queries()
    timings: dict[str, float] = {}
    windows: dict[str, tuple[float, float]] = {}

    # ONE sampler spans the whole bench so every query's entry in the
    # committed artifact carries the probe samples taken DURING it
    # (VERDICT r4 #1: per-query probe attribution — without it the 0.8
    # validity floor admitted both a 923 docs/s and an 1157 docs/s
    # window and the round's headline was unadjudicable).  interval=10
    # matches the r4 sampler cadence so per-query timings stay
    # round-comparable; the sampler's own cost is one core at <=50%
    # duty, and samples taken during the full-width headline queries
    # necessarily include the bench's OWN load — the gates below are
    # evaluated on the extract_synth window (local[extract_cpus]),
    # where on a host wider than EXTRACT_CPUS the probe reads genuine
    # external contention.
    with ProbeSampler(interval=10.0) as ps:
        for name in HEADLINE:
            t0 = time.time()
            materialize(qs[name](spark, sf_dir))
            t1 = time.time()
            timings[name] = round(t1 - t0, 3)
            windows[name] = (t0, t1)

        # flagship extraction input: synthesize + persist at full
        # parallelism (excluded from timings), then re-read
        tmp = f"/tmp/ocr_gang_bench_{os.getpid()}"
        docs = synth_documents(spark, n_synth, seed=42, skew_frac=0.01)
        media = synth_media(spark, docs)
        docs.write.mode("overwrite").parquet(f"{tmp}/docs")
        media.write.mode("overwrite").parquet(f"{tmp}/media")

        if extract_cpus != cpus:
            spark.stop()
            spark = get_spark("bench-extract", cpus=extract_cpus)

        for name in HEADLINE_EXTRACT:
            t0 = time.time()
            materialize(qs[name](spark, sf_dir))
            t1 = time.time()
            timings[name] = round(t1 - t0, 3)
            windows[name] = (t0, t1)

        # flagship synthetic-corpus extraction (docs/sec — the BASELINE
        # metric) with in-window probe evidence (VERDICT r2 #3)
        bc = broadcast_weights(spark)
        docs_p = spark.read.parquet(f"{tmp}/docs")
        media_p = spark.read.parquet(f"{tmp}/media")
        materialize(extract_documents(docs_p.limit(64), media_p, bc))  # warm-up
        # optional pre-flight gate for committed-artifact runs (the
        # scaling collector's discipline: gate on the independent
        # probe, never on the throughput being measured, so the gate
        # cannot select the answer — only the window).  Off by default
        # (SPARK_GRAFT_BENCH_GATE unset/0): the driver's per-round run
        # is unchanged; a builder chasing a headline_quiet artifact on
        # a bursty box sets it to HEADLINE_PROBE_SEC and the flagship
        # start waits (bounded) for a quiet stretch.
        pre_gate_probe = None
        pre_gate_met = None
        if pre_gate > 0:
            deadline = time.time() + 600
            while time.time() < deadline:
                pre_gate_probe = steal_probe()
                if pre_gate_probe <= pre_gate:
                    break
                time.sleep(20)
            # explicit marker: a reader must not have to compare two
            # floats to notice the gate timed out (review fix)
            pre_gate_met = pre_gate_probe <= pre_gate
        t0 = time.time()
        materialize(extract_documents(docs_p, media_p, bc))
        t1 = time.time()
        dt = t1 - t0
    timings["extract_synth"] = round(dt, 3)
    windows["extract_synth"] = (t0, t1)
    docs_per_sec = round(n_synth / dt, 2)

    query_probe = {
        name: ps.samples_between(w0, w1) for name, (w0, w1) in windows.items()
    }
    hl = query_probe["extract_synth"]
    probe_post_hoc = False
    if not hl:
        # a short window (small SPARK_GRAFT_BENCH_DOCS) can fall inside
        # the gap between two samples; never commit null gates — take
        # one adjacent sample now and mark it (review fix)
        hl = [steal_probe()]
        query_probe["extract_synth"] = hl
        probe_post_hoc = True
    hl_mean = round(sum(hl) / len(hl), 3)

    total = round(sum(timings.values()), 3)
    conditions = {
        "sf": sf,
        "cpus": cpus,
        # extraction conditions (ADVICE: state them next to the
        # headline): the extract_* queries and extract_docs_per_sec
        # ran at local[extract_cpus] with one untimed warm-up batch
        "extract_cpus": extract_cpus,
        "extract_warmup_excluded": True,
        "synth_docs": n_synth,
        "extract_docs_per_sec": docs_per_sec,
        # host-contention evidence: probe_mean/max cover the flagship
        # extract_synth window (backward-compatible meaning); quiet
        # (<=0.8) is the VALIDITY floor — below it the number reflects
        # the engine at all; headline_quiet (<=0.25) is the gate a
        # COMMITTED headline docs/sec claim must pass (VERDICT r4 #1)
        "probe_mean": hl_mean,
        "probe_max": round(max(hl), 3),
        "probe_post_hoc": probe_post_hoc,
        "quiet": hl_mean <= QUIET_PROBE_SEC,
        "quiet_probe_threshold_sec": QUIET_PROBE_SEC,
        # a probe taken after the window cannot certify a headline
        "headline_quiet": not probe_post_hoc and hl_mean <= HEADLINE_PROBE_SEC,
        "headline_probe_threshold_sec": HEADLINE_PROBE_SEC,
        "preflight_gate": pre_gate if pre_gate > 0 else None,
        "preflight_gate_probe": pre_gate_probe,
        "preflight_gate_met": pre_gate_met,
        # whole-bench probe trace summary
        "bench_probe_mean": ps.mean,
        "bench_probe_max": ps.max,
    }

    # full per-query map -> committed artifact (never on stdout, where
    # tail capture truncated it in r3)
    round_tag = os.environ.get("SPARK_GRAFT_BENCH_ROUND", "latest")
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    full_path = os.path.join(bench_dir, f"headline_{round_tag}.json")
    with open(full_path, "w") as f:
        json.dump(
            {"metric": "headline_suite_seconds", "value": total, "unit": "sec",
             "queries": timings, "query_probe": query_probe, **conditions},
            f, indent=1, sort_keys=True,
        )
        f.write("\n")

    # compact final line: the fixed round-over-round comparison set
    # (q1/q3/q5 + flagship extraction) plus the 5 slowest queries, so a
    # regression in ANY expensive query stays visible even if only this
    # line survives
    compact_set = [
        "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
        "ocr_extract_spans", "stream_extraction_spans", "hough_deskew",
        "extract_synth",
    ]
    slowest = sorted(timings, key=timings.get, reverse=True)[:5]
    compact_queries = {
        k: timings[k] for k in sorted(set(compact_set) | set(slowest))
    }
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": compact_queries,
                "queries_full": os.path.relpath(full_path),
                "n_queries": len(timings),
                **conditions,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
