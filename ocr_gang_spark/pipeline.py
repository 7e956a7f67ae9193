"""The Spark extraction pipeline: documents + media -> extracted spans.

Relational skeleton (all stock DataFrame ops, Catalyst-optimized)
routes spans by kind and owns ordering/scale; pixels never leave the
Arrow-batched kernels (SURVEY.md §7.0 "one fused kernel").

Dataflow — the Spark-first re-expression of PerformOCR
(reference source/ocr/ocr.c:112-175) over a whole corpus:

  documents(doc_id, spans)                        -- Iceberg/parquet scan
    -> posexplode-style span explode              -- 1 row per span
    -> kind='text'  : strip_html pandas UDF       -- our pinned spec
       kind='media' : join media blobs on media_ref (shuffle join — blobs
                      must NOT be broadcast at scale), repartition by
                      (media_ref) to spread media-heavy documents, then
                      mapInPandas fused OCR kernel (decode -> binarize ->
                      segment -> batched CNN+MLP classify -> assemble)
    -> union -> groupBy(doc_id) ordered reassembly (array_sort on offset)

Skew note (north_rule): the explode IS the primary skew treatment — it
is key-salting in its exact form: the hot key (a media-heavy doc_id)
is split into per-span keys (media_ref embeds doc_id + span index, i.e.
a derived salt), each hashed independently across the cluster, and the
reassembly groupBy is the unsalt step, moving only small extracted
strings.  Unlike a generic random salt column, the split points are
semantic (one blob = one unit of kernel work), so per-task cost is
bounded by the largest BLOB, not the largest document.  AQE skew-join
handles residual blob-size skew.  Measured A/B: BENCH/NOTES.md "Skew
treatment A/B" (naive p99/median 9.49 vs treated 1.22 on a hot-key
corpus).

Weights ship once per executor via SparkContext.broadcast (S4-S6:
driver-side parse of the reference-format fixture files).
"""

from __future__ import annotations

import os
import sys
import zipimport
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernels.bmp import decode_media_blob
from .kernels.html_strip import strip_html_batch
from .kernels.nn import OcrWeights, load_weights
from .kernels.ocr import ocr_pages_to_text_margins
from .session import stage_tasks

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_MLP = os.path.join(_REPO_ROOT, "fixtures", "ocrwb.txt")
DEFAULT_CNN = os.path.join(_REPO_ROOT, "fixtures", "cnnwb.txt")

OUT_SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


def default_weights() -> OcrWeights:
    return load_weights(DEFAULT_MLP, DEFAULT_CNN)


def broadcast_weights(spark: SparkSession, weights: OcrWeights | None = None):
    return spark.sparkContext.broadcast(weights or default_weights())


def _drop_zip_finders() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``.

    The Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and on Python 3.11 each cached zipimporter
    then re-reads its archive's whole central directory (pyspark.zip,
    the py4j zip, the spark-core jar), once per cached package
    directory: 16 of them in an extraction worker.  On a 4-vCPU host
    that was 0.21 s per task, and 0.2 ms once ``ocr_batches`` and
    ``strip_udf`` call this first, so the next task of the reused
    worker finds no zip finder to invalidate.

    Safe because ``sys.path_importer_cache`` is only a cache: the next
    lookup on a dropped path builds a new finder from
    ``zipimport._zip_directory_cache`` without re-reading the archive,
    and modules already imported keep their own loaders.  This relies
    on the archives on a worker's path not changing while the worker
    lives."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents -> one row per span (doc_id, kind, text, media_ref, offset).

    explode_OUTER, not explode: a document whose spans array is empty
    or NULL emits one all-NULL-fields row instead of vanishing (round-4
    review — plain explode silently dropped such docs from the output
    AND from lineage doc counts).  The NULL-kind row rides the
    reassembly shuffle as a placeholder and is filtered out of the
    final spans array, so the doc survives with spans=[]."""
    return docs.select("doc_id", F.explode_outer("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )


def extract_text_spans(spans: DataFrame) -> DataFrame:
    """kind='text' branch: HTML boilerplate strip (Arrow-batched)."""

    @F.pandas_udf("string")
    def strip_udf(texts: pd.Series) -> pd.Series:
        _drop_zip_finders()
        return pd.Series(strip_html_batch(list(texts)), dtype=object)

    return (
        spans.where(F.col("kind") == "text")
        .select(
            "doc_id",
            F.lit("text").alias("kind"),
            strip_udf("text").alias("text"),
            "media_ref",
            "offset",
        )
    )


def deskew_page(rgb):
    """Optional pre-OCR deskew (kernels/preproc.py): estimate the skew
    on the binarized page and rotate it out.  Returns the INPUT array
    unchanged when the Hough estimate is exactly 0.0 — a no-op whenever
    the estimate is 0.0.  0.0 wins only via the smallest-|angle|
    tie-break, so "straight page => 0.0" is a property of the corpus,
    not of the estimator; it is pinned across a 50-page atlas sample by
    tests/test_preproc.py::TestHoughDeskew::test_straight_corpus_sample_all_zero,
    which is what licenses enabling deskew on the exact-match acceptance
    path for this corpus.  Binarize-idempotent: feeding the rotated
    {0,255} image back through the OCR kernel's binarize reproduces it
    bit-for-bit."""
    import numpy as np

    from .kernels.image_ops import binarize
    from .kernels.preproc import hough_skew_deg, rotate_nn

    bw = binarize(rgb)
    skew = hough_skew_deg(bw)
    if skew == 0.0:
        return rgb
    fixed = rotate_nn(bw, -skew, fill=255)
    return np.repeat(fixed[:, :, None], 3, axis=2)


def _ocr_quarantine_fallback(pages, idx, errs, weights):
    """Batch OCR raised under ``on_error='quarantine'``: isolate the
    raising page(s) by re-running OCR one page at a time, recording
    raisers into ``errs`` (mutated in place, keyed by batch position)
    so they surface as kind='error' spans while every healthy blob in
    the same Arrow batch still produces text.  Before this fallback the
    quarantine try covered only decode/degrade/deskew, so a single
    pathological page could still fail the whole task (r3 self-review).
    The batch path stays the fast path — this runs only after it raised.

    Returns (texts, stats, surviving idx)."""
    texts, stats, kept = [], [], []
    for k, page in enumerate(pages):
        try:
            t1, s1 = ocr_pages_to_text_margins([page], weights)
        except Exception as ex:  # noqa: BLE001 — quarantine = catch all
            errs[idx[k]] = f"{type(ex).__name__}: {ex}"[:200]
            continue
        kept.append(idx[k])
        texts.extend(t1)
        stats.extend(s1)
    return texts, stats, kept


def extract_media_spans(
    spans: DataFrame,
    media: DataFrame,
    weights_bc,
    deskew: bool = False,
    on_error: str = "fail",
    with_margins: bool = False,
) -> DataFrame:
    """kind='media' branch: resolve blobs, OCR them in Arrow batches.

    The blob join stays a shuffle join on purpose: at 10^12-doc scale the
    media side is petabytes — broadcasting blobs is never correct.

    Physical-plan engineering (verified via event-log stage timings):
    * both sides are explicitly co-repartitioned on media_ref into
      ``n_tasks`` partitions BEFORE the join, so (a) a media-heavy
      document's spans spread across the cluster (explicit skew handling
      per north_rule), (b) blob bytes cross the network exactly ONCE,
      and (c) the CPU-bound OCR stage keeps explicit parallelism — AQE
      would otherwise coalesce the post-shuffle stage by *bytes* (~64MB
      targets), capping a compute-bound stage at a handful of tasks;
    * the join is hinted SHUFFLE_HASH: sort-merge would sort blob-sized
      rows for no benefit.

    ``on_error``: 'fail' (default — a corrupt blob fails the task,
    keeping the exact-match acceptance semantics) or 'quarantine' — the
    100TB posture: a blob whose decode/OCR raises becomes a
    kind='error' span carrying the exception summary, the rest of the
    batch is unaffected, and corrupt inputs are VISIBLE in the output
    instead of killing a thousand-executor stage at hour nine.

    Every batch runs the one OCR walk,
    kernels/ocr.ocr_pages_to_text_margins, which yields each page's text
    and its softmax-margin stats from the same forward.
    ``with_margins=True`` only decides whether the per-page margin floor
    is emitted as an extra ``min_margin_ppm`` column — the output schema
    the multimodal curation job reads; the text is the same either way.
    """
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be 'fail' or 'quarantine', got {on_error!r}")
    n_tasks = stage_tasks(spans.sparkSession)
    media_spans = (
        spans.where(F.col("kind") == "media")
        .select("doc_id", "media_ref", "offset")
        .repartition(n_tasks, "media_ref")
        .join(media.repartition(n_tasks, "media_ref").hint("shuffle_hash"),
              "media_ref", "left")
    )

    def ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _drop_zip_finders()
        w = weights_bc.value
        quarantine = on_error == "quarantine"
        for pdf in batches:
            blobs = pdf["bytes"]
            idx, pages, errs = [], [], {}
            for i, b in enumerate(blobs):
                if b is None:
                    # blob-join miss: the media table has no bytes for
                    # this ref.  Loud in both modes (round-4 review —
                    # previously skipped silently, leaving a NULL-text
                    # media span that vanished from rendered training
                    # text): 'fail' kills the task naming the ref,
                    # 'quarantine' emits a visible kind='error' span.
                    ref = str(pdf["media_ref"].iloc[i])
                    if not quarantine:
                        raise ValueError(
                            f"missing media blob for {ref}: media_ref "
                            "not present in the media table (resolve "
                            "pending blobs first — see "
                            "media_resolution_report)"
                        )
                    errs[i] = f"MissingBlob: {ref} has no bytes in the media table"
                    continue
                try:
                    page = decode_media_blob(bytes(b))
                    if deskew:
                        page = deskew_page(page)
                except Exception as ex:
                    if not quarantine:
                        raise
                    errs[i] = f"{type(ex).__name__}: {ex}"[:200]
                    continue
                idx.append(i)
                pages.append(page)
            try:
                texts, stats = ocr_pages_to_text_margins(pages, w)
            except Exception:
                if not quarantine:
                    raise
                texts, stats, idx = _ocr_quarantine_fallback(
                    pages, idx, errs, w
                )
            out = [None] * len(pdf)
            kind = ["media"] * len(pdf)
            margins = [None] * len(pdf)
            for i, t, st in zip(idx, texts, stats):
                out[i] = t
                margins[i] = st[1]
            for i, msg in errs.items():
                out[i] = msg
                kind[i] = "error"
                # an error span has ZERO confidence, not no-opinion:
                # under NULL the doc-level F.min skipped it, so a doc
                # whose every image failed got a NULL margin and the
                # mm gate auto-accepted a total OCR failure as if it
                # were media-free (round-4 review).  0 ppm routes it
                # to review, where a failed decode belongs.
                margins[i] = 0
            cols = {
                "doc_id": pdf["doc_id"],
                "kind": pd.Series(kind, dtype=object),
                "text": pd.Series(out, dtype=object),
                "media_ref": pdf["media_ref"],
                "offset": pdf["offset"],
            }
            if with_margins:
                cols["min_margin_ppm"] = pd.Series(margins, dtype="Int64")
            yield pd.DataFrame(cols)

    out_schema = "doc_id string, kind string, text string, media_ref string, offset int"
    if with_margins:
        out_schema += ", min_margin_ppm long"
    return media_spans.mapInPandas(ocr_batches, schema=out_schema)


def rendered_interleaved_expr(spans_col: str = "spans"):
    """The ONE interleaved training-text serialization rule: text spans
    verbatim, each media span as an ``<img:ref>`` placeholder line
    followed by its OCR text, pieces newline-joined in span (offset)
    order.  ``kind='error'`` spans — quarantined decode/OCR failures —
    are dropped BEFORE rendering, so exception summaries can never be
    serialized into training shards (and their cost stays zero, which
    is exactly what ``mm_decisions`` charges them).  Shared by the
    oracle-pinned `interleaved_text_render` query and the mm curation
    job's stage M — previously two verbatim copies of the lambda, so a
    format change could pass every render test while the job silently
    shipped the old format (r3 self-review).

    Pure in-row expression (filter + transform + array_join): adds no
    shuffle wherever it is used."""
    kept = F.filter(spans_col, lambda s: s.kind != F.lit("error"))
    piece = F.transform(
        kept,
        lambda s: F.when(
            s.kind == "media",
            F.concat(F.lit("<img:"), s.media_ref, F.lit(">\n"), s.text),
        ).otherwise(s.text),
    )
    return F.array_join(piece, "\n")


def reassemble(extracted: DataFrame, extra_aggs=None) -> DataFrame:
    """Ordered span reassembly per document (N8's relational analog).

    array_sort on struct(offset first) gives document order (offsets are
    unique per doc); the final transform restores the input_hint field
    order (kind, text, media_ref, offset).  ``extra_aggs`` ride the
    SAME groupBy (no second shuffle) — used by the margin path to carry
    the per-doc confidence floor next to the spans.
    """
    sorted_spans = F.array_sort(
        F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
    )
    reordered = F.transform(
        sorted_spans,
        lambda s: F.struct(
            s.kind.alias("kind"),
            s.text.alias("text"),
            s.media_ref.alias("media_ref"),
            s.offset.alias("offset"),
        ),
    )
    # drop the explode_outer placeholder an empty/NULL-spans doc rides
    # in on — the doc keeps its row, its spans become []
    present = F.filter(reordered, lambda s: s.kind.isNotNull())
    return extracted.groupBy("doc_id").agg(
        present.alias("spans"), *(extra_aggs or [])
    )


def extract_documents(
    docs: DataFrame,
    media: DataFrame,
    weights_bc=None,
    spark: SparkSession | None = None,
    deskew: bool = False,
    on_error: str = "fail",
    with_margins: bool = False,
) -> DataFrame:
    """Full pipeline: documents + media -> documents with extracted spans.

    ``deskew=True`` inserts the optional Hough deskew stage before OCR
    (no-op on straight pages; see deskew_page) — off by default because
    the acceptance invariant is equality with the reference binary,
    which has no deskew.  ``on_error='quarantine'`` turns corrupt blobs
    into kind='error' spans instead of failed tasks (see
    extract_media_spans).  ``with_margins=True`` adds a per-document
    ``doc_min_margin_ppm`` column (min page confidence margin over the
    doc's media spans; NULL only for genuinely media-free docs —
    quarantined kind='error' spans carry margin 0, so a doc whose
    every image failed routes to review, never auto-accept) aggregated
    in the SAME groupBy as the span reassembly — the single-pass
    confidence gate the multimodal curation job reads.  Every option
    reads the blobs as given: a degraded scan is degraded in the media
    table (e.g. synth.blob_for_degraded_ref), never by the pipeline."""
    if weights_bc is None:
        spark = spark or docs.sparkSession
        weights_bc = broadcast_weights(spark)
    spans = explode_spans(docs)
    text_out = extract_text_spans(spans)
    media_out = extract_media_spans(spans, media, weights_bc, deskew=deskew,
                                    on_error=on_error,
                                    with_margins=with_margins)
    # empty/NULL-spans docs ride through as their explode_outer
    # placeholder row (kind NULL) so they keep an output row with
    # spans=[] — the text/media branches filter on kind and would
    # otherwise drop them (round-4 review)
    empty_out = spans.where(F.col("kind").isNull()).select(
        "doc_id", "kind", "text", "media_ref", "offset"
    )
    if not with_margins:
        return reassemble(
            text_out.unionByName(media_out).unionByName(empty_out)
        )
    text_m = text_out.withColumn(
        "min_margin_ppm", F.lit(None).cast("long")
    )
    empty_m = empty_out.withColumn(
        "min_margin_ppm", F.lit(None).cast("long")
    )
    return reassemble(
        text_m.unionByName(media_out).unionByName(empty_m),
        extra_aggs=[F.min("min_margin_ppm").alias("doc_min_margin_ppm")],
    )


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Per-run metrics (lineage side table content): span counts by kind."""
    return (
        extracted.select(F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.length("s.text")).alias("n_chars"),
        )
    )
