#!/usr/bin/env python3
"""The repo benchmark: one seeded extraction workload, end to end.

    python3 perfbench/run.py --workload extract_noisy --seed 1 --seconds 12 --trace 0

Run from the repository root.  A run generates the workload's input
shards from ``--seed`` (see workloads.py), then

1. set-up: starts one Spark session at ``nproc - 1`` task slots
   (driver heap sized from physical RAM; see size_host), broadcasts
   the OCR weights and makes two untimed warm-up calls of the job,
   on a small shard and on a full-size one (see WARMUP_DOCS);
2. timed window: calls the job (``checkpoint.run_extraction``, default
   options, parquet inputs) on a fresh shard per call until
   ``--seconds`` of job time have passed and at least MIN_CALLS calls
   were made;
3. checks every call's written output against the generator's
   expected table (check.py).

``--trace 0`` prints the end-to-end metrics: ``docs_per_s`` (median
over timed calls of shard documents / job-call wall time),
``docs_per_core_s``, ``cpu_ms_per_doc`` (median over timed calls of
the CPU time the Spark driver, JVM and Python workers spent in the call, per
document), ``setup_s`` and ``peak_rss_mb`` (Spark driver + JVM +
Python workers).  ``--trace 1`` then runs a second session with the
Spark event log on and prints the per-layer metrics of layers.py
instead.  Failed documents are the result line's ``failed`` count; a
run with any fails the check, prints no speed numbers and exits 1.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root; only ``results/`` (one JSON per run: host sizing,
per-call numbers, host-contention evidence (``hostprobe`` samples and
the CPU steal share, per call and per run) and, traced, the spans) is
kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

from procs import (
    PeakRss,
    become_subreaper,
    cpu_steal,
    end_descendants,
    shutdown_jvm,
    steal_share,
    tree_cpu_s,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PROBE_INTERVAL_S = 10.0  # bench.py's cadence; each sample takes a core for ~0.3 s
# Set-up pays two untimed job calls.  The first, on a WARMUP_DOCS-
# document shard, starts the Python workers and compiles the JVM's hot
# paths (a cold call took 17-21 s at 20 or 200 documents, a warm
# 200-document one 7-8 s).  The full-size call after it still ran
# 13-35% slower, with as much more CPU time, than the ones after it
# (also when the cold call had a full-size shard), so it is set-up too.
# The window then makes at least MIN_CALLS calls and reports their
# median.
WARMUP_DOCS = 100
MIN_CALLS = 2


def size_host(work: str) -> dict:
    """Task slots from the CPU affinity mask, driver heap from physical
    RAM, and the process environment the Spark driver, the JVM and its Python
    workers inherit (package on PYTHONPATH, every scratch path inside
    ``work``).

    One CPU is left to the Spark driver, the JVM's compiler and GC threads:
    on a 4-CPU host, extract_noisy ran 62-67 docs/s at 3 slots against
    55-57 at 4 (same seeds, same hour)."""
    slots = max(1, len(os.sched_getaffinity(0)) - 1)
    with open("/proc/meminfo") as f:
        ram_mb = next(int(ln.split()[1]) // 1024 for ln in f
                      if ln.startswith("MemTotal:"))
    heap_mb = max(1024, min(4096, ram_mb // 4))
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "lut"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "TMPDIR": tmp,
        # no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_LUT_DIR": os.path.join(work, "lut"),
    })
    os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    return {"slots": slots, "ram_mb": ram_mb, "driver_heap_mb": heap_mb}


class Run:
    """One benchmark run: shard supply, job calls, checks and spans."""

    def __init__(self, w, seed: int, seconds: float, host: dict, work: str,
                 gen, probe):
        self.w, self.seed, self.seconds = w, seed, seconds
        self.host, self.work, self.gen, self.probe = host, work, gen, probe
        self.run_id = f"{w.name}-s{seed}-p{os.getpid()}"
        self.spans: list[dict] = []
        self.attempted = 0
        self.failed: set[str] = set()
        self.start_s: list[float] = []  # session start seconds, per session
        self.rates: list[float] = []  # docs/s of the untraced timed calls
        self.cpu_ms: list[float] = []  # and their CPU ms per document
        self._next = 0
        self.steal0 = cpu_steal()

    def span(self, name: str, start: float, end: float,
             parent: int | None = None, **attrs) -> int:
        """Record a span (wall-clock seconds); returns its id."""
        self.spans.append({"id": len(self.spans), "run_id": self.run_id,
                           "name": name, "start": start, "end": end,
                           "parent": parent, **attrs})
        return len(self.spans) - 1

    def shard(self, n_docs: int | None = None):
        self._next += 1
        return self.gen.shard(self._next - 1, n_docs)

    def inputs(self, spark, shard):
        return spark.read.parquet(shard.docs), spark.read.parquet(shard.media)

    def call(self, spark, bc, shard, name: str,
             parent: int | None) -> tuple[float, float]:
        """One job call on ``shard`` under job group ``name``; checks the
        output, frees the shard, returns the call's wall seconds and the
        CPU seconds the process tree spent in it."""
        from check import check_extraction
        from ocr_gang_spark.checkpoint import run_extraction

        out = os.path.join(self.work, name)
        spark.sparkContext.setJobGroup(name, name)
        steal0 = cpu_steal()
        cpu0 = tree_cpu_s(self.gen.pids)
        t0, w0 = time.perf_counter(), time.time()
        docs, media = self.inputs(spark, shard)
        run_extraction(spark, docs, media, f"{out}/output",
                       f"{out}/checkpoint", weights_bc=bc)
        dt = time.perf_counter() - t0
        cpu_s = tree_cpu_s(self.gen.pids) - cpu0
        steal = steal_share(steal0)
        bad = check_extraction(f"{out}/output", shard.expected)
        self.attempted += shard.n_docs
        self.failed |= bad
        self.span(name, w0, w0 + dt, parent, docs=shard.n_docs,
                  blobs=shard.n_blobs, gen_s=shard.gen_s, cpu_s=cpu_s,
                  failed=len(bad),
                  probe_s=self.probe.samples_between(w0, w0 + dt),
                  steal_share=steal)
        shutil.rmtree(out)
        shutil.rmtree(shard.path)
        return dt, cpu_s

    def session(self, tag: str, eventlog: str | None = None,
                timed: bool = True):
        """Set-up, then (if ``timed``) the timed window, in a fresh Spark
        session; the window's per-call numbers go to ``rates`` and
        ``cpu_ms``.  Returns (spark, set-up seconds)."""
        from ocr_gang_spark.pipeline import broadcast_weights
        from ocr_gang_spark.session import get_spark

        if eventlog:
            os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = eventlog
        # the traced session's layer passes run the job's plans before
        # its timed run_extraction pass, so it needs only the cold call
        warm = [self.shard(WARMUP_DOCS)] + ([self.shard()] if timed else [])
        t0, w0 = time.perf_counter(), time.time()
        spark = get_spark("perfbench", cpus=self.host["slots"])
        start_s = time.perf_counter() - t0
        self.start_s.append(start_s)
        bc = broadcast_weights(spark)
        root = self.span(f"{tag}.session", w0, w0, None)
        self.span("session.get_spark", w0, w0 + start_s, root)
        for i, shard in enumerate(warm):
            self.call(spark, bc, shard, f"{tag}.warmup{i}", root)
        setup_s = time.perf_counter() - t0
        self.span(f"{tag}.setup", w0, w0 + setup_s, root)
        rates, cpu_ms, job_s = [], [], 0.0
        while timed and (job_s < self.seconds or len(rates) < MIN_CALLS):
            shard = self.shard()
            dt, cpu_s = self.call(spark, bc, shard, f"{tag}.call{len(rates)}",
                                  root)
            job_s += dt
            rates.append(shard.n_docs / dt)
            cpu_ms.append(cpu_s * 1e3 / shard.n_docs)
        self.spans[root]["end"] = time.time()
        if timed:
            self.rates, self.cpu_ms = rates, cpu_ms
        return spark, setup_s


def measure(w, args, host: dict, work: str):
    """Generates, sets up, times and checks; returns (run, metrics, units)."""
    from layers import traced_layers
    from ocr_gang_spark.hostprobe import ProbeSampler
    from workloads import Generator

    with Generator(w, args.seed, os.path.join(work, "inputs"),
                   len(os.sched_getaffinity(0))) as gen, \
            PeakRss(exclude=gen.pids) as rss, \
            ProbeSampler(interval=PROBE_INTERVAL_S) as probe:
        run = Run(w, args.seed, args.seconds, host, work, gen, probe)
        try:
            spark, setup_s = run.session("untraced")
            spark.stop()
            shutdown_jvm()  # the traced session starts a JVM of its own
            if args.trace:
                metrics, units = traced_layers(
                    run, os.path.join(work, "eventlog"))
                return run, metrics, units
        finally:
            shutdown_jvm()
    rate = statistics.median(run.rates)
    return run, {
        "docs_per_s": rate,
        "docs_per_core_s": rate / host["slots"],
        "cpu_ms_per_doc": statistics.median(run.cpu_ms),
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
    }, {"docs_per_s": "docs/s", "docs_per_core_s": "docs/s",
        "cpu_ms_per_doc": "ms", "setup_s": "s", "peak_rss_mb": "MB"}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ocr_gang_spark", "__init__.py")):
        print(f"perfbench: no ocr_gang_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    # every way out, SIGTERM included, passes end_descendants
    signal.signal(signal.SIGTERM, lambda sig, _frame: sys.exit(128 + sig))
    become_subreaper()
    try:
        return report(WORKLOADS[args.workload], args)
    finally:
        end_descendants()


def report(w, args) -> int:
    """Measures, writes the run's result file, prints the result line
    last; returns the exit code."""
    from layers import LAYERS

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    host = size_host(work)
    try:
        run, result, units = measure(w, args, host, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = not run.failed
    info = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "run_id": run.run_id, "host": host, "gen_s": run.gen.gen_s,
        "session_start_s": run.start_s, "call_docs_per_s": run.rates,
        "call_cpu_ms_per_doc": run.cpu_ms,
        "docs_failed_share": len(run.failed) / max(run.attempted, 1),
        "failed_doc_ids": sorted(run.failed)[:20],
        "probe_s": run.probe.samples, "steal_share": steal_share(run.steal0),
    }
    if correct:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in result.items()}
    else:
        metrics = {"docs_failed_share": {"value": info["docs_failed_share"],
                                         "unit": "ratio"}}
    line = {"correct": correct, "attempted": run.attempted,
            "failed": len(run.failed), "metrics": metrics}
    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    with open(os.path.join(WORK_ROOT, "results", f"{run.run_id}-t{args.trace}.json"),
              "w") as f:
        json.dump({**line, "info": info, "spans": run.spans,
                   "layer_targets": {k: t for k, (_, t) in LAYERS.items()}
                   if args.trace else {}}, f, indent=1)
    print(json.dumps({"info": info}))
    print(json.dumps(line))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
