"""End-to-end MULTIMODAL curation: extraction -> confidence gate ->
interleaved training-text render -> multimodal sequence packing, as one
resumable batch job (the multimodal twin of curation.py's text job).

Three stages, each with the resume discipline its data size demands:

* Stage E (extraction) — the data- and compute-heavy pass; delegated
  verbatim to checkpoint.run_extraction (per-part ledger, dynamic
  partition overwrite, idempotent re-run).
* Stage D (decisions) — per-document accept/review from the OCR
  confidence router plus the packing assignment for accepted docs.
  Decisions are GLOBAL (bin offsets depend on every accepted doc), so
  the stage is one deterministic job whose small doc_id-keyed output
  (ids + flags + bin slots, no text) is written atomically and reused
  when present — exactly curation.py's phase-1 rule.
* Stage M (materialization) — join extracted docs x accepted
  decisions, render the interleaved training text (<img:ref> +
  OCR-text convention, extraction_queries.interleaved_text_render),
  write partitioned by part_id through the shared done-part ledger
  (checkpoint.commit_parts).

Single-pass confidence: the one OCR walk
(kernels/ocr.ocr_pages_to_text_margins) computes every page's margins
from the SAME NN forward as its text.  Stage E runs the extraction
pipeline with ``with_margins=True``, which emits them as a column;
Stage D then reads the per-doc ``doc_min_margin_ppm`` column straight
off the extracted table — no second decode/NN pass over the blobs.
The job scores the pages it is given: a degraded scan arrives degraded
in the media table (the synth corpus writes its degraded slice as
blobs, synth.blob_for_degraded_ref), so the gate and the two-pass
confidence router (extraction_queries.ocr_confidence_stats) score the
same pixels.  The exact-match flagship does not set ``with_margins``,
so its output schema and the reference-equality fixtures are untouched.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import (
    _check_run_manifest,
    commit_parts,
    done_part_ids,
    run_extraction,
    with_part_id,
)
from .extraction_queries import OCR_REVIEW_PPM
from .textops import MM_IMG_TOKENS, MM_PACK_BUDGET, _prefix_pack

# fixed level-two size for the packing scan over string keys: 4096
# buckets broadcast as a 4096-row offset table at ANY corpus size and
# give 4096-way scan parallelism
MM_PACK_BUCKETS = 4096

MM_CHECKPOINT_SCHEMA = (
    "part_id int, n_parts int, n_docs long, n_chars_out long, "
    "wall_ms long, status string, run_id string"
)


def mm_decisions(extracted: DataFrame) -> DataFrame:
    """Per-document multimodal curation decisions, computed entirely
    from the margin-carrying extracted table (single NN pass).

    Columns: doc_id, accept (bool), reason ('' | 'low_confidence'),
    n_media, min_margin_ppm (NULL for media-free docs), seq_cost,
    bin_id/bin_offset (NULL for rejected docs).

    A document is rejected iff ANY of its pages routes to review
    (min page margin < OCR_REVIEW_PPM) — one bad scan poisons the
    whole interleaved sequence, so the gate is doc-level."""
    text_cost = F.aggregate(
        F.transform(
            "spans",
            lambda s: F.when(
                s.kind == "text", F.size(F.split(s.text, " "))
            ).otherwise(0).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n_media = F.aggregate(
        F.transform(
            "spans", lambda s: F.when(s.kind == "media", 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("bigint")
    d = extracted.select(
        "doc_id",
        n_media.alias("n_media"),
        (text_cost + F.lit(MM_IMG_TOKENS) * n_media).alias("seq_cost"),
        F.col("doc_min_margin_ppm").alias("min_margin_ppm"),
    )
    # NULL margin now means GENUINELY media-free (extraction gives
    # quarantined error spans margin 0, so an all-images-failed doc
    # lands below the threshold and routes to review instead of
    # auto-accepting as text-only — round-4 review)
    accept = F.col("min_margin_ppm").isNull() | (
        F.col("min_margin_ppm") >= OCR_REVIEW_PPM
    )
    d = d.select(
        "doc_id", "n_media", "seq_cost", "min_margin_ppm",
        accept.alias("accept"),
    )
    rejected = d.where(~F.col("accept")).select(
        "doc_id", "accept", F.lit("low_confidence").alias("reason"),
        "n_media", "min_margin_ppm", "seq_cost",
        F.lit(None).cast("bigint").alias("bin_id"),
        F.lit(None).cast("bigint").alias("bin_offset"),
    )
    # pack over the FULL string key: fixed hash buckets + in-bucket
    # doc_id order is a deterministic, collision-free total order for
    # ANY doc_id scheme (the earlier trailing-numeral parse broke on
    # UUID keys from --input-docs parquet tables and silently collided
    # 'doc-123'/'img-123' — code-review fix), and a FIXED bucket count
    # keeps the level-two broadcast O(MM_PACK_BUCKETS) at 10^12 docs
    # where the numeric-range rule's bucket table grows with the corpus
    acc = d.where(F.col("accept"))
    packed = _prefix_pack(
        acc, "seq_cost", "cum_cost", MM_PACK_BUDGET,
        bucket_col=F.pmod(
            F.xxhash64(F.col("doc_id").cast("string")),
            F.lit(MM_PACK_BUCKETS),
        ),
    )
    accepted = packed.select(
        "doc_id",
        F.col("accept"),
        F.lit("").alias("reason"),
        "n_media", "min_margin_ppm", "seq_cost", "bin_id", "bin_offset",
    )
    return accepted.unionByName(rejected)


@dataclass
class MMCurationResult:
    run_id: str
    n_parts_processed: int
    n_docs_out: int
    n_rejected: int
    n_bins: int
    wall_ms: int


def run_mm_curation(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    workdir: str,
    n_parts: int = 64,
    run_id: str | None = None,
    weights_bc=None,
    on_error: str = "fail",
) -> MMCurationResult:
    """One (possibly resuming) multimodal curation run.  Layout under
    ``workdir``: extracted/ + extract_cp/ (stage E), decisions/ (stage
    D, atomic), shards/ + cp/ (stage M ledger).

    ``on_error='quarantine'`` is the 10^12-blob posture: corrupt blobs
    become kind='error' spans in stage E instead of failed tasks;
    stage M's shared render expression drops them, so exception text
    never reaches a training shard and their seq_cost is zero in both
    the decisions table and the shipped bytes."""
    from .pipeline import broadcast_weights, rendered_interleaved_expr

    run_id = run_id or f"mm-{int(time.time() * 1000)}"
    weights_bc = weights_bc or broadcast_weights(spark)
    cp_dir = os.path.join(workdir, "cp")
    _check_run_manifest(
        cp_dir,
        {
            "n_parts": int(n_parts),
            "review_ppm": int(OCR_REVIEW_PPM),
            "img_tokens": int(MM_IMG_TOKENS),
            "pack_budget": int(MM_PACK_BUDGET),
            # bin-assignment rule version: v2 = hash-bucketed string
            # keys (v1 parsed a trailing numeral); resumes across the
            # rule change must refuse, not mix bin layouts
            "pack_rule": 2,
            "on_error": str(on_error),
        },
        # pre-flag checkpoints behaved as the defaults; pack_rule was 1
        # before hash-bucketed string keys, so old runs refuse (correct)
        defaults={"on_error": "fail", "pack_rule": 1},
    )
    t0 = time.time()

    # Stage E — resumable extraction (its own ledger under extract_cp/)
    # with the single-pass margin column
    run_extraction(
        spark, docs, media,
        os.path.join(workdir, "extracted"),
        os.path.join(workdir, "extract_cp"),
        n_parts=n_parts, run_id=f"{run_id}-extract", weights_bc=weights_bc,
        with_margins=True, on_error=on_error,
    )
    extracted = spark.read.parquet(os.path.join(workdir, "extracted")).select(
        "doc_id", "spans", "doc_min_margin_ppm"
    )

    # Stage D — atomic decisions table, reused when present
    decisions_dir = os.path.join(workdir, "decisions")
    if not os.path.exists(os.path.join(decisions_dir, "_SUCCESS")):
        mm_decisions(extracted).write.mode("overwrite").parquet(decisions_dir)
    decisions = spark.read.parquet(decisions_dir)
    n_rejected = decisions.where(~F.col("accept")).count()
    n_bins = (
        decisions.where(F.col("accept"))
        .agg(F.countDistinct("bin_id").alias("b")).collect()[0]["b"]
    )

    # Stage M — render + shard the accepted docs, per-part ledger
    kept = decisions.where(F.col("accept")).select(
        "doc_id", "bin_id", "bin_offset", "seq_cost"
    )
    out = with_part_id(
        extracted.join(kept, "doc_id").select(
            "doc_id", "bin_id", "bin_offset", "seq_cost",
            rendered_interleaved_expr("spans").alias("rendered"),
        ),
        n_parts,
    )
    done_ids = done_part_ids(spark, cp_dir, n_parts)
    if len(done_ids) >= n_parts:
        return MMCurationResult(
            run_id, 0, 0, n_rejected, n_bins,
            int((time.time() - t0) * 1000),
        )

    # a corpus the confidence gate rejects entirely writes no shard:
    # n_docs_out=0 with n_rejected set IS the correct answer
    n_done, n_docs, wall_ms = commit_parts(
        spark, out.where(~F.col("part_id").isin(sorted(done_ids))),
        os.path.join(workdir, "shards"), cp_dir, n_parts=n_parts,
        done_ids=done_ids, run_id=run_id, t0=t0,
        schema=MM_CHECKPOINT_SCHEMA,
        # code points, as Spark's length() counts a string
        sums={"n_chars_out": pc.utf8_length(pc.field("rendered"))},
    )
    return MMCurationResult(run_id, n_done, n_docs, n_rejected, n_bins, wall_ms)
