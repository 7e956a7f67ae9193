"""Per-layer numbers for one traced run, measured from outside the program.

Spark layers: each public sub-plan of the job is materialized with a
noop write under its own ``setJobGroup``, all on the same shard, each
with a fresh weights broadcast so no pass reuses the glyph
classifications an earlier one memoized.  (The segmentation memo of
``kernels.ocr`` is module-level and is not reset.  It can save a later
pass at most part of ``segment_page``: 0.5 ms of a page's ~1.8 ms of
OCR, about 0.3 s of wall time on a shard's ~1800 pages at 3 slots.)
A layer's ``.s`` is its self time: its wall
seconds minus those of the sub-plans it is built from (minus the
longer one where two of them run side by side).
Stage core-seconds come from the event log through
``scripts/stage_times.stage_report``; stages are mapped to layers by
the job group each job carries.

Kernels: each is called directly on one core (the Spark driver, after the
session stops) on a fixed sample of the workload's own blobs and text
spans: the first ``SAMPLE`` media refs of a shard in ref order.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pyarrow.parquet as pq

SAMPLE = 200  # pages timed per kernel
OCR_BATCH = 512  # spark.sql.execution.arrow.maxRecordsPerBatch
REPEATS = 3  # pure kernels: median of this many passes

# per-layer metric -> (unit, the end-to-end metric and workload it
# should move)
LAYERS = {
    "session.get_spark.s": (
        "s", "setup_s on every workload"),
    "kernels.bmp.decode_media_blob.ms_per_page": (
        "ms", "docs_per_s on extract_noisy and extract_clean"),
    "kernels.image_ops.binarize.ms_per_page": (
        "ms", "docs_per_s on extract_noisy and extract_clean"),
    "kernels.image_ops.segment_page.ms_per_page": (
        "ms", "docs_per_s on extract_noisy and extract_clean"),
    "kernels.image_ops.segment_page.glyphs_per_page": (
        "glyphs/page", "docs_per_s on extract_noisy and extract_clean"),
    "kernels.nn.classify.ms_per_glyph": (
        "ms", "docs_per_s on extract_noisy"),
    "kernels.ocr.ocr_pages_to_text.ms_per_page": (
        "ms", "docs_per_s on extract_noisy and extract_clean, opposite ways for memo changes"),
    "kernels.ocr.distinct_glyph_share": (
        "ratio", "docs_per_s on extract_noisy and extract_clean, opposite ways for memo changes"),
    "kernels.ocr.ocr_pages_to_text_margins.ms_per_page": (
        "ms", "none listed: the margin OCR path of mm_curation.run_mm_curation"),
    "kernels.html_strip.strip_html_batch.ms_per_kspan": (
        "ms", "docs_per_s on extract_noisy and extract_clean"),
    "pipeline.explode_spans.s": (
        "s", "docs_per_s on extract_noisy and extract_clean"),
    "pipeline.extract_text_spans.s": (
        "s", "docs_per_s on extract_noisy and extract_clean"),
    "pipeline.extract_media_spans.s": (
        "s", "docs_per_s on extract_noisy"),
    "pipeline.extract_media_spans.run_cs": (
        "core-s", "docs_per_s on extract_noisy"),
    "pipeline.extract_media_spans.gc_cs": (
        "core-s", "docs_per_s on extract_noisy"),
    "pipeline.extract_media_spans.fetch_wait_cs": (
        "core-s", "docs_per_s on extract_noisy"),
    "pipeline.extract_media_spans.shuffle_write_bytes": (
        "B", "docs_per_s on extract_noisy"),
    "pipeline.extract_media_spans.task_max_over_median": (
        "ratio", "docs_per_s on extract_noisy"),
    "pipeline.extract_documents.s": (
        "s", "docs_per_s on extract_noisy and extract_clean"),
    "checkpoint.write_s": (
        "s", "docs_per_s on extract_noisy and extract_clean"),
    "checkpoint.bytes_per_doc": (
        "B", "docs_per_s on extract_noisy and extract_clean"),
    "checkpoint.files": (
        "count", "docs_per_s on extract_noisy and extract_clean"),
    "mm_curation.mm_decisions.s": (
        "s", "none listed: the decision stage of mm_curation.run_mm_curation"),
    "spark.tasks_failed_share": (
        "ratio", "docs_per_s on every workload (retried work)"),
    "trace.overhead_share": (
        "ratio", "none: traced vs untraced docs_per_s of the same run"),
}


def spark_layers(run, spark):
    """Times the job's sub-plans on one shard; returns (metrics, the
    shard, which the kernels then sample, and the run_extraction pass's
    docs/s)."""
    from pyspark.sql import functions as F

    from check import check_extraction
    from ocr_gang_spark.checkpoint import run_extraction
    from ocr_gang_spark.mm_curation import mm_decisions
    from ocr_gang_spark.pipeline import (
        broadcast_weights,
        explode_spans,
        extract_documents,
        extract_media_spans,
        extract_text_spans,
    )

    shard = run.shard()
    out = os.path.join(run.work, "layers-out")
    docs, media = run.inputs(spark, shard)
    t, ids = {}, {}

    def timed(name: str, action) -> None:
        # a fresh broadcast per pass: the classification memo rides on
        # the workers' copy of the weights object, so it starts empty
        bc = broadcast_weights(spark)
        spark.sparkContext.setJobGroup(name, name)
        t0, w0 = time.perf_counter(), time.time()
        action(bc)
        t[name] = time.perf_counter() - t0
        ids[name] = run.span(name, w0, w0 + t[name])

    def noop(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    timed("pipeline.explode_spans", lambda bc: noop(explode_spans(docs)))
    timed("pipeline.extract_text_spans",
          lambda bc: noop(extract_text_spans(explode_spans(docs))))
    timed("pipeline.extract_media_spans",
          lambda bc: noop(extract_media_spans(explode_spans(docs), media, bc)))
    timed("pipeline.extract_documents",
          lambda bc: noop(extract_documents(docs, media, bc)))
    timed("checkpoint.run_extraction",
          lambda bc: run_extraction(spark, docs, media, f"{out}/output",
                                    f"{out}/checkpoint", weights_bc=bc))
    bad = check_extraction(f"{out}/output", shard.expected)
    run.attempted += shard.n_docs
    run.failed |= bad
    sizes = [os.path.getsize(os.path.join(d, f))
             for d, _, fs in os.walk(f"{out}/output")
             for f in fs if f.endswith(".parquet")]

    # the extract job writes no margin column: with NULL margins every
    # document passes the gate, so the decisions pack all of them
    extracted = spark.read.parquet(f"{out}/output").withColumn(
        "doc_min_margin_ppm", F.lit(None).cast("long"))
    timed("mm_curation.mm_decisions", lambda bc: noop(mm_decisions(
        extracted.select("doc_id", "spans", "doc_min_margin_ppm"))))
    shutil.rmtree(out)

    # logical parents: run_extraction > extract_documents > text/media
    # branches > explode
    parent = {
        "pipeline.explode_spans": "pipeline.extract_text_spans",
        "pipeline.extract_text_spans": "pipeline.extract_documents",
        "pipeline.extract_media_spans": "pipeline.extract_documents",
        "pipeline.extract_documents": "checkpoint.run_extraction",
    }
    for child, par in parent.items():
        run.spans[ids[child]]["parent"] = ids[par]

    explode = t["pipeline.explode_spans"]
    text, media_s = t["pipeline.extract_text_spans"], t["pipeline.extract_media_spans"]
    documents = t["pipeline.extract_documents"]
    metrics = {
        "pipeline.explode_spans.s": explode,
        "pipeline.extract_text_spans.s": text - explode,
        "pipeline.extract_media_spans.s": media_s - explode,
        # the text and media branches run side by side inside
        # extract_documents, so the longer one is the part it covers
        "pipeline.extract_documents.s": documents - max(text, media_s),
        "checkpoint.write_s": t["checkpoint.run_extraction"] - documents,
        "checkpoint.bytes_per_doc": sum(sizes) / shard.n_docs,
        "checkpoint.files": len(sizes),
        "mm_curation.mm_decisions.s": t["mm_curation.mm_decisions"],
    }
    return metrics, shard, shard.n_docs / t["checkpoint.run_extraction"]


def read_eventlog(eventlog: str) -> dict:
    """stage id -> {group, submit, complete, task_run_ms, swrite_bytes,
    failed} from the raw event log (job groups, per-task numbers)."""
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {"group": None, "submit": None,
                                       "complete": None, "task_run_ms": [],
                                       "swrite_bytes": 0, "failed": 0})

    # same file walk as stage_report: Spark rolls the log into a
    # directory of event files beside an appstatus_ marker
    paths = [os.path.join(d, fn) for d, _, fns in os.walk(eventlog)
             for fn in fns if not fn.startswith("appstatus_")]
    for path in paths:
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:  # a torn last line
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage(sid)["group"] = group
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    st = stage(si["Stage ID"])
                    st["submit"] = si.get("Submission Time")
                    st["complete"] = si.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    st = stage(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    st["task_run_ms"].append(m.get("Executor Run Time", 0))
                    st["swrite_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        st["failed"] += 1
    return stages


def fold_stages(run, eventlog: str) -> dict:
    """Adds one span per stage under its layer's span and returns the
    event-log metrics of the media layer and of the whole session."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts"))
    from stage_times import stage_report

    raw = read_eventlog(eventlog)
    group_span = {run.spans[i]["name"]: i for i in range(len(run.spans))}
    media = {"run_ms": 0, "gc_ms": 0, "fetch_ms": 0, "swrite_bytes": 0}
    media_stages = []
    for st in stage_report(eventlog):
        sid = int(st["stage"].split(".")[0])
        r = raw.get(sid)
        if r is None or r["submit"] is None:
            continue
        run.span(f"stage {st['stage']}", r["submit"] / 1e3, r["complete"] / 1e3,
                 group_span.get(r["group"]), name_spark=st.get("name"),
                 tasks=st["n_tasks"], run_cs=st["run_ms"] / 1e3,
                 gc_cs=st["gc_ms"] / 1e3, fetch_wait_cs=st["fetch_ms"] / 1e3,
                 shuffle_write_bytes=r["swrite_bytes"])
        if r["group"] == "pipeline.extract_media_spans":
            for k in ("run_ms", "gc_ms", "fetch_ms"):
                media[k] += st[k]
            media["swrite_bytes"] += r["swrite_bytes"]
            media_stages.append(r)
    # skew: slowest over median task of the layer's busiest stage
    busiest = max(media_stages, key=lambda r: sum(r["task_run_ms"]))
    runs = busiest["task_run_ms"]
    n_tasks = sum(len(r["task_run_ms"]) for r in raw.values())
    return {
        "pipeline.extract_media_spans.run_cs": media["run_ms"] / 1e3,
        "pipeline.extract_media_spans.gc_cs": media["gc_ms"] / 1e3,
        "pipeline.extract_media_spans.fetch_wait_cs": media["fetch_ms"] / 1e3,
        "pipeline.extract_media_spans.shuffle_write_bytes": media["swrite_bytes"],
        "pipeline.extract_media_spans.task_max_over_median":
            max(runs) / max(statistics.median(runs), 1),
        "spark.tasks_failed_share":
            sum(r["failed"] for r in raw.values()) / max(n_tasks, 1),
    }


def _median_pass(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _batched(fn, pages, w) -> None:
    for i in range(0, len(pages), OCR_BATCH):
        fn(pages[i:i + OCR_BATCH], w)


def kernel_metrics(run, shard) -> dict:
    from ocr_gang_spark.kernels.bmp import decode_media_blob
    from ocr_gang_spark.kernels.html_strip import strip_html_batch
    from ocr_gang_spark.kernels.image_ops import binarize, segment_page
    from ocr_gang_spark.kernels.nn import classify
    from ocr_gang_spark.kernels.ocr import (
        ocr_pages_to_text,
        ocr_pages_to_text_margins,
    )
    from ocr_gang_spark.pipeline import default_weights

    media = sorted(pq.read_table(shard.media).to_pylist(),
                   key=lambda r: r["media_ref"])
    blobs = [r["bytes"] for r in media[:SAMPLE]]
    warm_blobs = [r["bytes"] for r in media[SAMPLE:2 * SAMPLE]]
    texts = [s["text"] for r in pq.read_table(shard.docs).to_pylist()
             for s in r["spans"] if s["kind"] == "text"]
    w = default_weights()
    n = len(blobs)
    w0 = time.time()

    pages = [decode_media_blob(b) for b in blobs]
    bws = [binarize(p) for p in pages]
    lines = [segment_page(bw) for bw in bws]
    mats = [m for page in lines for ln in page for m in ln if m is not None]
    stack = np.stack(mats)
    classify(stack[:1], w)  # builds the conv LUT outside the timing
    m = {
        "kernels.bmp.decode_media_blob.ms_per_page":
            _median_pass(lambda: [decode_media_blob(b) for b in blobs]) * 1e3 / n,
        "kernels.image_ops.binarize.ms_per_page":
            _median_pass(lambda: [binarize(p) for p in pages]) * 1e3 / n,
        "kernels.image_ops.segment_page.ms_per_page":
            _median_pass(lambda: [segment_page(bw) for bw in bws]) * 1e3 / n,
        "kernels.image_ops.segment_page.glyphs_per_page": len(mats) / n,
        "kernels.nn.classify.ms_per_glyph":
            _median_pass(lambda: classify(stack, w)) * 1e3 / len(mats),
        "kernels.ocr.distinct_glyph_share":
            len({x.tobytes() for x in mats}) / len(mats),
        "kernels.html_strip.strip_html_batch.ms_per_kspan":
            _median_pass(lambda: strip_html_batch(texts)) * 1e6 / len(texts),
    }
    # the memoized OCR entry points run once per sample, after a warm-up
    # on the next refs, as a long-lived Python worker would see them
    warm = [decode_media_blob(b) for b in warm_blobs]
    for name, fn in (("ocr_pages_to_text", ocr_pages_to_text),
                     ("ocr_pages_to_text_margins", ocr_pages_to_text_margins)):
        _batched(fn, warm, w)
        t0 = time.perf_counter()
        _batched(fn, pages, w)
        m[f"kernels.ocr.{name}.ms_per_page"] = (time.perf_counter() - t0) * 1e3 / n
    run.span("kernels", w0, time.time(), None, pages=n, glyphs=len(mats),
             text_spans=len(texts))
    return m


def traced_layers(run, eventlog: str) -> tuple[dict, dict]:
    """The traced half of a ``--trace 1`` run: a second session with the
    event log on (same set-up, no timed window), the Spark layers, the
    event-log fold and the kernels.  ``trace.overhead_share`` compares
    the traced ``run_extraction`` pass, which runs after four other
    passes of the session, with the untraced median.  Returns (metrics,
    units)."""
    spark, _setup_s = run.session("traced", eventlog, timed=False)
    try:
        metrics, sample, traced_rate = spark_layers(run, spark)
    finally:
        spark.stop()
    metrics.update(fold_stages(run, eventlog))
    metrics.update(kernel_metrics(run, sample))
    shutil.rmtree(sample.path)
    metrics["session.get_spark.s"] = run.start_s[0]
    metrics["trace.overhead_share"] = 1 - traced_rate / statistics.median(run.rates)
    return metrics, {k: unit for k, (unit, _) in LAYERS.items()}
