"""End-to-end corpus curation: quality filter -> near-dup dedup ->
training-sequence packing, as one resumable batch job.

This is the training-data shape of the reference's batch pipeline
(reference/main.c:24-107 runs load -> process -> recognize over a
directory; here the per-document work is corpus curation instead of
OCR): take a documents table, decide per document whether it enters the
training corpus and where, then materialize the survivors.

Two phases, because the decisions are GLOBAL and the materialization is
not:

* Phase 1 (decisions): quality rules are per-row, but dedup components
  and bin packing depend on every other document — a partial resume of
  phase 1 would change component ids and bin offsets for already-written
  parts.  So phase 1 is a single deterministic job whose output — a
  doc_id-keyed decisions table, orders of magnitude smaller than the
  corpus (ids + flags, no text) — is written atomically (overwrite +
  _SUCCESS) and simply reused when present.
* Phase 2 (materialization): join docs x decisions, keep survivors,
  write partitioned by part_id with dynamic overwrite and the same
  done-part ledger + run-manifest option pinning as the extraction job
  (checkpoint.py) — this is the data-sized IO, and it resumes per part.

At 10^12 documents phase 1's decisions table is ~10^12 x ~40 bytes of
ids/flags — big but shuffle-friendly (hash joins on doc_id throughout);
the expensive global pieces inside it (LSH buckets, component
propagation, two-level prefix scan) each have their scale notes on the
operators in textops.py.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import _check_run_manifest, commit_parts, done_part_ids, with_part_id
from .textops import (
    DEDUP_JACCARD_T,
    SEQ_PACK_BUDGET,
    components_from,
    quality_decisions_from,
    sequence_pack_from,
    split_label_expr,
    verified_pairs_from,
)

CURATION_CHECKPOINT_SCHEMA = (
    "part_id int, n_parts int, n_docs long, n_tokens_out long, "
    "wall_ms long, status string, run_id string"
)


def curation_decisions(docs: DataFrame) -> DataFrame:
    """Per-document curation decision table.

    Columns: doc_id, keep (bool), stage ('kept' | 'quality' | 'dedup'),
    drop_reasons (quality rule names, '' otherwise), bin_id/bin_offset
    (packing assignment for kept docs, NULL otherwise), group_id (the
    near-dup component group key the split is hashed on; == doc_id for
    docs with no verified duplicate) and split ('train'/'val'/'test'
    for kept docs, NULL otherwise — hashed on group_id so surviving
    docs whose near-dups were dropped still land deterministically
    with their cluster, the leakage-safe rule of
    textops.leakage_safe_split).

    Order of stages follows the production convention: cheap per-row
    quality rules first (they shrink the corpus before the shuffling
    stages), dedup over the survivors, packing over what remains.
    """
    q = quality_decisions_from(docs).select("doc_id", "keep", "drop_reasons")
    nulls = [
        F.lit(None).cast("bigint").alias("bin_id"),
        F.lit(None).cast("bigint").alias("bin_offset"),
        F.lit(None).cast("bigint").alias("group_id"),
        F.lit(None).cast("string").alias("split"),
    ]
    q_drop = q.where(~F.col("keep")).select(
        "doc_id",
        F.lit(False).alias("keep"),
        F.lit("quality").alias("stage"),
        "drop_reasons",
        *nulls,
    )
    q_docs = docs.join(
        q.where(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    )
    comps = components_from(verified_pairs_from(q_docs))
    dup_drop_ids = comps.where(F.col("decision") == "drop").select("doc_id")
    d_drop = dup_drop_ids.select(
        "doc_id",
        F.lit(False).alias("keep"),
        F.lit("dedup").alias("stage"),
        F.lit("near_dup").alias("drop_reasons"),
        *nulls,
    )
    kept_docs = q_docs.join(dup_drop_ids, "doc_id", "left_anti")
    # leakage-safe split for the survivors: hash the component group key
    # (the component table is already computed above — one small left
    # join, in-row md5 bucket; same 90/5/5 rule as leakage_safe_split)
    group = kept_docs.select("doc_id").join(
        comps.select("doc_id", "component_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("component_id", "doc_id").alias("group_id")
    )
    split_of = group.select(
        "doc_id",
        F.col("group_id").cast("bigint").alias("group_id"),
        split_label_expr(F.col("group_id")).alias("split"),
    )
    packed = sequence_pack_from(kept_docs).select(
        "doc_id",
        F.lit(True).alias("keep"),
        F.lit("kept").alias("stage"),
        F.lit("").alias("drop_reasons"),
        "bin_id",
        "bin_offset",
    ).join(split_of, "doc_id")
    return packed.unionByName(q_drop).unionByName(d_drop)


@dataclass
class CurationResult:
    run_id: str
    n_parts_processed: int
    n_docs_out: int
    n_dropped_quality: int
    n_dropped_dedup: int
    n_bins: int
    wall_ms: int


def _decisions_ready(decisions_dir: str) -> bool:
    return os.path.exists(os.path.join(decisions_dir, "_SUCCESS"))


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    n_parts: int = 64,
    run_id: str | None = None,
) -> CurationResult:
    """One (possibly resuming) curation run; see module docstring for
    the two-phase design.  The run manifest pins every option that
    changes decisions or output layout (same refusal semantics as the
    extraction job)."""
    run_id = run_id or f"run-{int(time.time() * 1000)}"
    _check_run_manifest(
        checkpoint_dir,
        {
            "n_parts": int(n_parts),
            "jaccard_t": float(DEDUP_JACCARD_T),
            "pack_budget": int(SEQ_PACK_BUDGET),
            # decisions-table schema version: bumping it makes resumes
            # against a pre-split decisions dir refuse loudly instead of
            # failing on a missing column
            "decisions_schema": 2,
        },
        # a manifest without the version key is schema 1 -> refuses
        defaults={"decisions_schema": 1},
    )
    t0 = time.time()

    # sibling of the ledger dir, NOT inside it: done_part_ids reads
    # checkpoint_dir as one parquet table, and a foreign-schema subdir
    # would break that read
    decisions_dir = checkpoint_dir.rstrip("/") + "_decisions"
    if not _decisions_ready(decisions_dir):
        curation_decisions(docs).write.mode("overwrite").parquet(decisions_dir)
    decisions = spark.read.parquet(decisions_dir)

    # stage tallies come from the decisions table (tiny scan, pruned
    # columns), not from the output — they must be reported even when
    # every part is already materialized
    tallies = {
        r["stage"]: r["n"]
        for r in decisions.groupBy("stage").agg(F.count("*").alias("n")).collect()
    }
    n_bins = (
        decisions.where(F.col("keep"))
        .agg(F.countDistinct("bin_id").alias("b"))
        .collect()[0]["b"]
    )

    kept = decisions.where(F.col("keep")).select(
        "doc_id", "bin_id", "bin_offset", "split"
    )
    out = with_part_id(docs.join(kept, "doc_id"), n_parts)
    done_ids = done_part_ids(spark, checkpoint_dir, n_parts)
    if len(done_ids) >= n_parts:
        return CurationResult(
            run_id, 0, 0, tallies.get("quality", 0), tallies.get("dedup", 0),
            n_bins, int((time.time() - t0) * 1000),
        )

    n_done, n_docs, wall_ms = commit_parts(
        spark,
        out.where(~F.col("part_id").isin(sorted(done_ids))).withColumn(
            "n_tokens", F.size(F.split("text", " ")).cast("bigint")
        ),
        output_dir, checkpoint_dir, n_parts=n_parts, done_ids=done_ids,
        run_id=run_id, t0=t0, schema=CURATION_CHECKPOINT_SCHEMA,
        sums={"n_tokens_out": pc.field("n_tokens")},
    )
    return CurationResult(
        run_id, n_done, n_docs, tallies.get("quality", 0),
        tallies.get("dedup", 0), n_bins, wall_ms,
    )
