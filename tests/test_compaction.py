"""compact_output (the Iceberg OPTIMIZE stand-in): small-file
partitions collapse to one file each, values are untouched, large
partitions are left alone, a second pass is a no-op, and the lineage
log records what happened."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ocr_gang_spark.checkpoint import (
    COMPACTION_LOG,
    _part_file_stats,
    compact_output,
)

N_PARTS = 6
ROWS = 600


@pytest.fixture()
def fragmented(spark, tmp_path):
    """A part_id-partitioned table where every partition holds several
    small files (the post-resume / micro-batch shape)."""
    out = str(tmp_path / "out")
    df = spark.range(ROWS).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % N_PARTS).cast("int").alias("part_id"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    # high write parallelism strands ~8 files per partition
    df.repartition(8).write.partitionBy("part_id").parquet(out)
    return out


def rows_of(spark, out):
    return sorted(
        (r.doc_id, r.part_id, r.payload)
        for r in spark.read.parquet(out).collect()
    )


def test_compacts_values_intact(spark, fragmented):
    before_stats = _part_file_stats(fragmented)
    assert all(n > 1 for n, _ in before_stats.values())
    before_rows = rows_of(spark, fragmented)

    res = compact_output(spark, fragmented)
    assert res.n_parts_compacted == N_PARTS
    assert res.files_after == N_PARTS  # one file per partition
    assert res.files_before == sum(n for n, _ in before_stats.values())
    assert res.n_rows == ROWS

    after_stats = _part_file_stats(fragmented)
    assert all(n == 1 for n, _ in after_stats.values())
    assert rows_of(spark, fragmented) == before_rows

    log = json.load(open(os.path.join(fragmented, COMPACTION_LOG)))
    assert len(log) == 1 and log[0]["n_rows"] == ROWS


def test_second_pass_is_noop(spark, fragmented):
    compact_output(spark, fragmented)
    res2 = compact_output(spark, fragmented)
    assert res2.n_parts_compacted == 0
    log = json.load(open(os.path.join(fragmented, COMPACTION_LOG)))
    assert len(log) == 1  # no-op passes do not append lineage


def test_oversized_fragmented_partition_compacts_to_file_budget(spark, fragmented):
    """Round-4 review: the old rule skipped any partition whose total
    bytes exceeded target_bytes — at EVERY possible target — which
    excluded exactly the resume-heavy fragmented partitions the
    operator exists for.  Now such a partition compacts down to its
    file budget ceil(total_bytes / target_bytes); partitions already
    at or under budget are untouched."""
    import math

    stats = _part_file_stats(fragmented)
    before_rows = rows_of(spark, fragmented)
    smallest = min(b for _, b in stats.values())
    target = max(1, smallest // 2)  # every partition exceeds the target
    res = compact_output(spark, fragmented, target_bytes=target)
    after = _part_file_stats(fragmented)
    budgets = {
        pid: max(1, math.ceil(b / target)) for pid, (n, b) in stats.items()
    }
    over = [pid for pid, (n, _b) in stats.items() if n > budgets[pid]]
    assert res.n_parts_compacted == len(over)
    for pid, (n, _b) in stats.items():
        if pid in over:
            assert 1 <= after[pid][0] <= budgets[pid]
        else:
            assert after[pid] == stats[pid]
    assert rows_of(spark, fragmented) == before_rows


def test_compaction_lists_only_picked_parts(spark, tmp_path):
    """Compacting 3 fragmented parts of a 40-part table reads those 3
    part dirs: no stage of the call has a task per part dir, as the
    whole-table listing job (one task per dir past 32 dirs) had."""
    out = str(tmp_path / "wide")
    n_dirs, picked = 40, [0, 1, 2]
    spark.range(n_dirs * 10).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % n_dirs).cast("int").alias("part_id"),
    ).coalesce(1).write.partitionBy("part_id").parquet(out)
    spark.range(60).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % len(picked)).cast("int").alias("part_id"),
    ).repartition(4).write.mode("append").partitionBy("part_id").parquet(out)
    stats = _part_file_stats(out)
    assert len(stats) == n_dirs
    assert sorted(p for p, (n, _b) in stats.items() if n > 1) == picked

    sc = spark.sparkContext
    sc.setJobGroup("compact-3-of-40", "compact-3-of-40")
    try:
        res = compact_output(spark, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.n_parts_compacted == len(picked)
    assert res.n_rows == len(picked) * 10 + 60
    tracker = sc.statusTracker()
    stage_tasks = [
        tracker.getStageInfo(sid).numTasks
        for jid in tracker.getJobIdsForGroup("compact-3-of-40")
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    ]
    assert stage_tasks and max(stage_tasks) < n_dirs - len(picked), stage_tasks


def test_clean_orphans_removes_stale_partitions_only(spark, fragmented):
    import os
    import shutil

    from ocr_gang_spark.checkpoint import clean_orphans

    before = rows_of(spark, fragmented)
    # simulate an old-n_parts leftover and a crashed-commit staging tree
    stale = os.path.join(fragmented, "part_id=99")
    shutil.copytree(os.path.join(fragmented, "part_id=0"), stale)
    os.makedirs(os.path.join(fragmented, "_temporary", "0"))

    # stale dir would duplicate part-0 rows on read
    assert len(rows_of(spark, fragmented)) > len(before)

    res = clean_orphans(fragmented, n_parts=N_PARTS)
    assert res == {"removed_part_dirs": [99], "removed_staging": 1}
    assert rows_of(spark, fragmented) == before

    # idempotent; live dirs untouched
    assert clean_orphans(fragmented, n_parts=N_PARTS) == {
        "removed_part_dirs": [],
        "removed_staging": 0,
    }
