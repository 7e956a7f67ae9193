#!/usr/bin/env python
"""spark-submit entry point: resumable MULTIMODAL curation job.

Extraction -> OCR-confidence gate -> interleaved training-text render
(<img:ref> + OCR text) -> multimodal sequence packing -> partitioned
shards with a done-part ledger (see ocr_gang_spark/mm_curation.py for
the three-stage design and its resume semantics).  The synth and
testdata modes store every synth.OCR_NOISE_EVERY-th document's pages as
degraded scans (synth.blob_for_degraded_ref), so the gate has a known
slice to reject; parquet mode reads the blobs as given.

Deploy exactly like the extraction job:

    scripts/submit.sh --job mmcurate --mode testdata \
        --sf-dir /root/testdata/sf0.01 --workdir /tmp/mm_run --n-parts 32

Prints one JSON line with wall time, shipped/rejected tallies, and bin
count.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def build_session(cpus: int | None, exec_mode: str | None = None) -> SparkSession:
    from ocr_gang_spark.session import build_session as _bs

    return _bs("mmcurate_job", cpus=cpus, exec_mode=exec_mode)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--mode", choices=["synth", "testdata", "parquet"],
                   default="testdata")
    p.add_argument("--n-docs", type=int, default=2000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--skew-frac", type=float, default=0.01)
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--input-docs")
    p.add_argument("--input-media")
    p.add_argument("--workdir", required=True)
    p.add_argument("--n-parts", type=int, default=64)
    p.add_argument("--run-id", default=None)
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("--exec-mode", choices=["threads", "processes"], default=None)
    p.add_argument("--on-error", choices=["fail", "quarantine"], default="fail")
    args = p.parse_args()

    spark = build_session(args.cpus, exec_mode=args.exec_mode)

    from ocr_gang_spark.mm_curation import run_mm_curation
    from ocr_gang_spark.synth import (
        blob_for_degraded_ref,
        spans_from_testdata,
        synth_documents,
        synth_media,
    )

    if args.mode == "synth":
        docs = synth_documents(spark, args.n_docs, seed=args.seed,
                               skew_frac=args.skew_frac)
        media = synth_media(spark, docs, blob_fn=blob_for_degraded_ref)
    elif args.mode == "testdata":
        docs = spans_from_testdata(spark, args.sf_dir, seed=args.seed)
        media = synth_media(spark, docs, blob_fn=blob_for_degraded_ref)
    else:
        docs = spark.read.parquet(args.input_docs)
        media = spark.read.parquet(args.input_media)

    t0 = time.time()
    res = run_mm_curation(
        spark, docs, media, args.workdir,
        n_parts=args.n_parts, run_id=args.run_id, on_error=args.on_error,
    )
    wall = time.time() - t0
    print(json.dumps({
        "run_id": res.run_id,
        "mode": args.mode,
        "n_parts_processed": res.n_parts_processed,
        "n_docs_out": res.n_docs_out,
        "n_rejected": res.n_rejected,
        "n_bins": res.n_bins,
        "wall_sec": round(wall, 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
