"""Partition-level resumable runs with lineage + metrics.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics".  The reference has no counterpart (single-image CLI); this is
a batch-resumability design (SURVEY.md §2.7: Structured Streaming not
required), one done-part ledger protocol shared by run_extraction,
curation.run_curation and stage M of mm_curation.run_mm_curation:

* every document deterministically belongs to a partition
  ``part_id = pmod(xxhash64(doc_id), n_parts)`` — a pure function, so
  resume needs NO join against the output: done_part_ids collects the
  done part_ids (at most n_parts) to the driver, without a Spark job
  while the ledger is empty, and the job filters its input with
  ``~part_id.isin(done)``;
* commit_parts writes the rest partitionBy(part_id) with dynamic
  partition overwrite => re-running a part is idempotent (exactly-once
  per part); the driver then reads the new parts' *written* files
  directly — row counts from the parquet footers, each ledger sum from
  its one column, no Spark job (reading them also validates the
  write) — and appends the per-part rows to the ledger as one parquet
  file with run_id lineage.

A killed run leaves some parts absent from the ledger; the next
invocation processes exactly those.  Iceberg note: on a real cluster
the output/checkpoint tables would be Iceberg
(``writeTo(...).overwritePartitions()`` gives the same idempotency with
snapshot isolation); this sandbox has no Iceberg jars, so the parquet
dynamic-overwrite path is the tested implementation and the API keeps
the table abstraction.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import broadcast_weights, extract_documents
from .session import stage_tasks

CHECKPOINT_SCHEMA = (
    "part_id int, n_parts int, n_docs long, n_spans_out long, n_chars_out long, "
    "wall_ms long, status string, run_id string"
)


def with_part_id(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn("part_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int"))


def _ledger_has_data(checkpoint_dir: str) -> bool:
    """Whether checkpoint_dir holds a file Spark's parquet reader would
    read; it skips names starting with '_' or '.', so the run manifest
    alone does not count."""
    return os.path.isdir(checkpoint_dir) and any(
        not name.startswith(("_", ".")) for name in os.listdir(checkpoint_dir)
    )


def done_part_ids(spark: SparkSession, checkpoint_dir: str, n_parts: int) -> set[int]:
    """part_ids already marked done *under the same n_parts
    partitioning*.  part_id is only meaningful relative to n_parts, so
    entries written with a different configuration are ignored rather
    than silently short-circuiting a run with genuine remaining work
    (ADVICE r1).  Defense-in-depth: every job's run manifest refuses an
    n_parts change outright before this filter ever applies (r3).
    Starts no Spark job while the ledger holds no data file."""
    if not _ledger_has_data(checkpoint_dir):
        return set()
    done = spark.read.parquet(checkpoint_dir).where(
        (F.col("status") == "done") & (F.col("n_parts") == n_parts)
    )
    return {r.part_id for r in done.select("part_id").distinct().collect()}


_ARROW_TYPES = {"int": pa.int32(), "long": pa.int64(), "string": pa.string()}


def _append_ledger(checkpoint_dir: str, rows: list[dict], schema: str) -> None:
    """One driver-written parquet file with the column types Spark
    writes for the DDL ``schema``, so older Spark-written ledger files
    read with it as one table; the '_' temp name hides it from readers
    until the rename (the run manifest's local-FS stand-in)."""
    arrow_schema = pa.schema(
        [(name, _ARROW_TYPES[t]) for name, t in (f.split() for f in schema.split(","))]
    )
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(checkpoint_dir, "_" + name)
    pq.write_table(pa.Table.from_pylist(rows, arrow_schema), tmp)
    os.replace(tmp, os.path.join(checkpoint_dir, name))


def commit_parts(
    spark: SparkSession,
    parts: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    *,
    n_parts: int,
    done_ids: set[int],
    run_id: str,
    t0: float,
    schema: str,
    sums: dict[str, pc.Expression],
) -> tuple[int, int, int]:
    """Write ``parts`` (rows whose part_id is not in ``done_ids``) to
    output_dir and append a ledger row (``schema``) per written part:
    n_docs plus ``sums``, each ledger column's total of a pyarrow
    expression over the part's written rows (NULLs skipped, NULL when
    no row has a value — ``F.sum``'s semantics).  Returns (parts
    written, docs written, wall_ms up to the write); empty input writes
    no part file and no ledger row.

    The explicit task count stops AQE coalescing the small output into
    one task that commits every part file in turn; each part still
    lands in one task, so one file per part.  partitionOverwriteMode
    rides the WRITER (scoped to this write), never spark.conf.set — a
    session-level set leaked dynamic semantics into unrelated overwrite
    writes.  Every part dir outside ``done_ids`` is
    attributed to this run: with immutable inputs across resumes
    (ADVICE r1), an orphan part from a crashed run is exactly the data
    this run would have produced.

    The ledger rows come from the new parts' files, read on the driver:
    n_docs from their parquet footers, each sum from its column alone.
    A Spark read-back of output_dir costs ~1 s per call in 4 more jobs,
    one of which lists every part dir, so its cost grows with the
    output already written; a torn file fails this read as it would
    fail that one."""
    parts.repartition(stage_tasks(spark), "part_id").write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("part_id").parquet(output_dir)
    wall_ms = int((time.time() - t0) * 1000)
    files = _part_files(output_dir)
    rows = []
    for pid in sorted(set(files) - done_ids):
        part = pads.dataset(files[pid], format="parquet")
        totals = part.to_table(columns=sums)
        rows.append({
            "part_id": pid, "n_parts": n_parts, "n_docs": part.count_rows(),
            **{c: pc.sum(totals[c]).as_py() for c in sums},
            "wall_ms": wall_ms, "status": "done", "run_id": run_id,
        })
    if not rows:
        return 0, 0, wall_ms
    _append_ledger(checkpoint_dir, rows, schema)
    return len(rows), sum(r["n_docs"] for r in rows), wall_ms


# Underscore-prefixed so Spark's parquet reader ignores it inside
# checkpoint_dir.  On a real cluster this lives behind the Hadoop FS API
# (or as Iceberg table properties); local-FS json is the sandbox stand-in.
MANIFEST_NAME = "_run_manifest.json"


def _check_run_manifest(
    checkpoint_dir: str, opts: dict, defaults: dict | None = None
) -> None:
    """Pin output-affecting options across resumes (ADVICE r2): the first
    run records them next to the done-part ledger; a resume with a
    different value would silently mix e.g. deskewed and non-deskewed
    parts in one output directory, so refuse instead.

    ``defaults`` maps each key added to or dropped from the manifest to
    the value runs without it had (a flag that did not exist behaved as
    its default; a versioned rule was at its previous version; a removed
    option left only its default behavior).  One rule covers every key
    the manifest stores or the run passes: a key missing on either side
    takes its ``defaults`` value, then both sides must agree.  So a
    pre-flag checkpoint resumes under default options, while a resume
    across a behavior change, or from a checkpoint written with a
    removed option switched on, refuses."""
    defaults = defaults or {}
    path = os.path.join(checkpoint_dir, MANIFEST_NAME)
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        diff = {}
        for k in {**prev, **opts}:
            old, new = prev.get(k, defaults.get(k)), opts.get(k, defaults.get(k))
            if old != new:
                diff[k] = (old, new)
        if diff:
            raise ValueError(
                f"refusing to resume: run manifest {path} pins "
                + ", ".join(f"{k}={old!r} but this run passes {new!r}" for k, (old, new) in diff.items())
                + "; clear the checkpoint and output directories to rerun with new options"
            )
        return
    os.makedirs(checkpoint_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(opts, f, sort_keys=True)
    os.replace(tmp, path)


@dataclass
class RunResult:
    run_id: str
    n_parts_processed: int
    n_docs: int
    wall_ms: int


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    n_parts: int = 64,
    run_id: str | None = None,
    weights_bc=None,
    deskew: bool = False,
    on_error: str = "fail",
    with_margins: bool = False,
) -> RunResult:
    """One (possibly resuming) extraction run.

    Documents whose part_id is already done in the ledger are filtered
    out of the input; the remaining parts are extracted and handed to
    commit_parts, which writes them idempotently, measures them and
    marks them done.
    """
    run_id = run_id or f"run-{int(time.time() * 1000)}"
    # n_parts is output-affecting too: the ledger ignores done entries
    # from a different n_parts (full reprocess), but dynamic partition
    # overwrite only replaces the NEW part_id dirs — stale dirs from the
    # old partitioning would silently duplicate documents in the output;
    # on_error changes what rows corrupt blobs produce; with_margins
    # changes the output schema
    _check_run_manifest(
        checkpoint_dir,
        {"deskew": bool(deskew), "n_parts": int(n_parts),
         "on_error": str(on_error), "with_margins": bool(with_margins)},
        # a checkpoint from before a flag existed behaved as its
        # default; the last key is a removed noise-injection option
        # (degraded scans are input now): only runs without it resume
        defaults={"on_error": "fail", "with_margins": False,
                  "degrade_slice": False},
    )
    weights_bc = weights_bc or broadcast_weights(spark)
    t0 = time.time()

    docs_p = with_part_id(docs, n_parts)
    done_ids = done_part_ids(spark, checkpoint_dir, n_parts)
    remaining = docs_p.where(~F.col("part_id").isin(sorted(done_ids)))
    # no pre-scan of the input to enumerate work; only a resume pays
    # the empty probe, which spares the blob shuffle when every part
    # holding documents is already done
    if len(done_ids) >= n_parts or (done_ids and remaining.isEmpty()):
        return RunResult(run_id, 0, 0, int((time.time() - t0) * 1000))

    extracted = extract_documents(
        remaining.drop("part_id"), media, weights_bc, deskew=deskew,
        on_error=on_error, with_margins=with_margins,
    )
    # per-doc span stats become plain columns so the lineage pass can
    # read 3 small columns instead of re-exploding the spans arrays
    out = with_part_id(extracted, n_parts).select(
        "*",
        F.size("spans").alias("n_spans"),
        F.aggregate(
            F.transform("spans", lambda s: F.coalesce(F.length(s.text), F.lit(0))),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_chars"),
    )
    return RunResult(run_id, *commit_parts(
        spark, out, output_dir, checkpoint_dir, n_parts=n_parts,
        done_ids=done_ids, run_id=run_id, t0=t0, schema=CHECKPOINT_SCHEMA,
        sums={"n_spans_out": pc.field("n_spans"), "n_chars_out": pc.field("n_chars")},
    ))


@dataclass
class CompactResult:
    run_id: str
    n_parts_compacted: int
    files_before: int
    files_after: int
    n_rows: int


COMPACTION_LOG = "_compactions.json"


def _part_files(output_dir: str) -> dict[int, list[str]]:
    """{part_id: [paths of its .parquet files]} from the directory
    listing, for every part dir holding at least one — metadata only,
    no data scan.  On a real cluster this is the Iceberg manifest read
    (data_files per partition); local-FS walk is the sandbox stand-in,
    same as the run manifest."""
    files: dict[int, list[str]] = {}
    if not os.path.isdir(output_dir):
        return files
    for name in os.listdir(output_dir):
        if not name.startswith("part_id="):
            continue
        part_dir = os.path.join(output_dir, name)
        paths = [
            os.path.join(part_dir, f)
            for f in sorted(os.listdir(part_dir)) if f.endswith(".parquet")
        ]
        if paths:
            files[int(name.split("=", 1)[1])] = paths
    return files


def _part_file_stats(output_dir: str) -> dict[int, tuple[int, int]]:
    """{part_id: (n_files, total_bytes)} of ``_part_files``."""
    return {
        pid: (len(paths), sum(os.path.getsize(p) for p in paths))
        for pid, paths in _part_files(output_dir).items()
    }


def compact_output(
    spark: SparkSession,
    output_dir: str,
    target_bytes: int = 128 << 20,
    run_id: str | None = None,
) -> CompactResult:
    """Small-file maintenance over a part_id-partitioned output table —
    the Iceberg OPTIMIZE/rewrite_data_files analog.  Resumed runs,
    streaming micro-batches and high write parallelism all strand many
    small files per partition; at 10^12 documents the scan-planning and
    object-store-request cost of those files dominates reads, so
    compaction is a first-class maintenance operator, not a nicety.

    Mechanics: pick every partition holding more files than its
    target file count ceil(total_bytes / target_bytes) — a 300x1MB
    partition compacts to 3 files at the 128MB default, a 4x10MB one
    to a single file (the old rule skipped any partition whose total
    exceeded target_bytes, which excluded exactly the resume-heavy
    fragmented partitions the operator exists for, at every possible
    target; round-4 review).  Read exactly those partitions
    (their part dirs only), rewrite via one hash repartition on
    (part_id, _ck) where _ck buckets doc_id into the partition's
    target file count (<= that many output files per partition, one
    for small ones), and swap with dynamic partition overwrite — the
    same idempotent commit run_extraction uses, so untouched
    partitions are never rewritten.  Rows are
    validated pre/post (count per partition must match; loud failure
    otherwise) and every compaction appends a JSON lineage entry
    (run_id, parts, files before/after, rows) to _compactions.json
    next to the data.  Iceberg note: on a real cluster the swap is a
    snapshot commit (atomic, time-travelable); the parquet
    dynamic-overwrite stand-in has a crash window between partition
    replacements, which a re-run heals idempotently."""
    run_id = run_id or f"compact-{int(time.time() * 1000)}"
    stats = _part_file_stats(output_dir)
    n_target = {
        pid: max(1, -(-b // target_bytes)) for pid, (n, b) in stats.items()
    }
    todo = {
        pid: (n, b)
        for pid, (n, b) in stats.items()
        if n > n_target[pid]
    }
    if not todo:
        return CompactResult(run_id, 0, 0, 0, 0)

    pids = sorted(todo)
    # only the picked part dirs: a read of output_dir would list every
    # part dir of the table (a listing job past 32 dirs) to rewrite a few
    src = spark.read.option("basePath", output_dir).parquet(
        *[os.path.join(output_dir, f"part_id={pid}") for pid in pids]
    )
    # _ck buckets each oversized partition's rows into its target file
    # count, via a broadcast join against the tiny (part_id, n_target)
    # table.  The first version built this as a nested CASE WHEN chain
    # (one F.when per fragmented partition), whose expression tree —
    # and therefore codegen — grew linearly in partition count and
    # would hit Catalyst codegen limits with thousands of fragmented
    # partitions (ADVICE r4); the broadcast join keeps the plan size
    # constant no matter how many partitions compact.
    tgt = spark.createDataFrame(
        [(pid, int(n_target[pid])) for pid in pids],
        "part_id int, _ck_n int",
    )
    src = (
        src.join(F.broadcast(tgt), "part_id")
        .withColumn("_ck", F.pmod(F.xxhash64("doc_id"), F.col("_ck_n")))
        .drop("_ck_n")
    )
    # Spark (correctly) refuses to overwrite a path it is reading from;
    # localCheckpoint materializes the pruned partitions to executor
    # storage (memory-and-disk) and detaches the plan from the source
    # files.  Storage bound = sum of the fragmented partitions' bytes;
    # for a huge backlog, compact a subset of partitions per call by
    # pre-splitting the table, or run on a session with executor disk
    # to spare.  (Iceberg commits read+replace as one snapshot, no
    # materialization needed — see module docstring.)
    src = src.localCheckpoint(eager=True)
    n_before = src.count()

    src.repartition("part_id", "_ck").drop("_ck").write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(
        "part_id"
    ).parquet(output_dir)

    # row counts from the compacted parts' footers: a Spark read of
    # output_dir would list every part dir of the table to check a few
    after = _part_files(output_dir)
    n_after = pads.dataset(
        [p for pid in pids for p in after.get(pid, [])], format="parquet"
    ).count_rows()
    if n_after != n_before:
        raise RuntimeError(
            f"compaction row-count mismatch on parts {pids}: "
            f"{n_before} before vs {n_after} after"
        )

    files_before = sum(n for n, _ in todo.values())
    files_after = sum(len(after.get(pid, [])) for pid in pids)
    entry = {
        "run_id": run_id,
        "ts": int(time.time() * 1000),
        "parts": pids,
        "files_before": files_before,
        "files_after": files_after,
        "n_rows": n_before,
        "target_bytes": target_bytes,
    }
    log_path = os.path.join(output_dir, COMPACTION_LOG)
    log = []
    if os.path.exists(log_path):
        with open(log_path) as f:
            log = json.load(f)
    log.append(entry)
    tmp = log_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(log, f, sort_keys=True)
    os.replace(tmp, log_path)
    return CompactResult(run_id, len(pids), files_before, files_after, n_before)


def clean_orphans(output_dir: str, n_parts: int) -> dict:
    """Orphan cleanup for the output table — the Iceberg
    remove_orphan_files analog, closing the two documented local-FS
    hazards a snapshot store would prevent:

    * **stale partition dirs from an older n_parts** — dynamic
      overwrite only replaces the new partitioning's dirs, so a
      part_id >= n_parts dir left by a previous configuration would
      silently DUPLICATE documents on read (run_extraction's manifest
      refuses the resume, but a cleared-manifest rerun could still
      read the stale dirs);
    * **write-protocol leftovers** (_temporary staging trees from a
      crashed commit).

    Deliberately NOT removed: in-range partition dirs (live data),
    the compaction log and run manifest.  Returns
    {removed_part_dirs, removed_staging} counts; pure local-FS
    metadata work, no Spark job."""
    import shutil

    removed_parts, removed_staging = [], 0
    if not os.path.isdir(output_dir):
        return {"removed_part_dirs": [], "removed_staging": 0}
    for name in list(os.listdir(output_dir)):
        path = os.path.join(output_dir, name)
        if name.startswith("part_id="):
            pid = int(name.split("=", 1)[1])
            if not (0 <= pid < n_parts):
                shutil.rmtree(path)
                removed_parts.append(pid)
        elif name.startswith("_temporary") or name.startswith(".spark-staging"):
            shutil.rmtree(path, ignore_errors=True)
            removed_staging += 1
    return {
        "removed_part_dirs": sorted(removed_parts),
        "removed_staging": removed_staging,
    }


def load_output(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(output_dir)


def checkpoint_table(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    if not _ledger_has_data(checkpoint_dir):
        # no ledger, or only the underscore-prefixed run manifest (a
        # first run crashed before its first append): empty progress,
        # not 'Unable to infer schema'
        return spark.createDataFrame([], CHECKPOINT_SCHEMA)
    return spark.read.parquet(checkpoint_dir)
