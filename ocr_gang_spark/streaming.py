"""Structured Streaming surface (beyond the reference — SURVEY §2.7
notes the north_rule needs only batch resumability; this module adds the
streaming analogs a production corpus pipeline wants anyway).

Both jobs read the events table as a *file stream* (one-file micro-
batches via maxFilesPerTrigger, Trigger.AvailableNow) so the tested
path is the real streaming engine with state + watermarks, not a
re-dressed batch query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def write_batch_idempotent(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Replay-safe foreachBatch parquet sink: the batch lands under its
    own ``bid=<batch_id>`` partition via DYNAMIC partition overwrite,
    so a micro-batch re-run after a crash between the sink commit and
    the checkpoint advance REPLACES its own rows instead of appending
    them a second time.  Plain ``mode('append')`` sinks are only
    at-least-once under that crash window (r3 self-review) — this is
    the same idempotency move as checkpoint.py's part_id overwrite and
    the changelog stream's gen-<bid> swap, expressed as one helper all
    foreachBatch parquet sinks share.  ``read_batches`` drops the
    bookkeeping column on the way back out."""
    (
        df.withColumn("bid", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bid")
        .parquet(out_dir)
    )


def read_batches(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a `write_batch_idempotent` sink back, without the bid
    partition column."""
    return spark.read.parquet(out_dir).drop("bid")


def windowed_event_counts_stream(
    spark: SparkSession, sf_dir: str, checkpoint: str, out_table: str = "stream_counts"
) -> DataFrame:
    """Watermarked 1-hour tumbling-window counts per event_type,
    processed with Trigger.AvailableNow into an in-memory sink.
    Equivalent batch query: groupBy(window(ts, '1 hour'), event_type).
    """
    # the streaming file source wants a directory; events.parquet is a
    # single file, so stream the parent dir with a glob filter
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(out_table)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(out_table)


def windowed_event_counts_stream_append(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    out_table: str = "stream_counts_append",
    watermark: str = "2 hours",
) -> DataFrame:
    """Append-mode variant where the watermark's DROP semantics are
    live (in ``complete`` mode above the watermark never drops — every
    window stays in state).  Reads all parquet files under
    ``events_dir`` one per micro-batch, so a later file's events that
    fall ``watermark`` behind the max event time of an earlier batch
    are dropped on arrival, and a window is emitted exactly once, when
    the watermark passes its end (late-data contract pinned by
    tests/test_sources_streaming.py::test_watermark_drops_late_events —
    VERDICT r2 #8)."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(out_table)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(out_table)


def windowed_event_counts_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch equivalent the streaming result must match exactly."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sessionize_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    out_table: str = "stream_sessions",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Stateful streaming sessionization via applyInPandasWithState —
    the custom-stateful-operator surface (G2's run detection as a
    stream).  Per user_id the state carries (last_ts_epoch, n_sessions,
    n_events); a new session starts when the gap to the previous event
    exceeds ``gap_seconds`` (same rule as the batch sessionize_events
    query, which is the equivalence oracle in tests).

    ``events_dir`` must contain time-partitioned event files whose
    modification order follows event time (the file-stream source
    processes oldest-mtime first), so state genuinely carries across
    micro-batches; rows within a micro-batch are sorted in-kernel.
    Emits an update row per (user, micro-batch); the latest row per
    user (max n_events — monotone) is the final answer.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_sessions(key, pdfs, state: GroupState):
        last_ts, n_sessions, n_events = (
            state.get if state.exists else (None, 0, 0)
        )
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values(["ts", "event_id"])
        # integer MICROSECONDS, matching the batch query's unix_micros
        # rule — whole-second truncation would disagree with the batch
        # oracle for true gaps in (gap, gap+1s) (code-review fix)
        gap_us = gap_seconds * 1_000_000
        for ts in rows["ts"]:
            epoch = int(pd.Timestamp(ts).value) // 1000
            if last_ts is None or epoch - last_ts > gap_us:
                n_sessions += 1
            last_ts = epoch
            n_events += 1
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_sessions": [n_sessions], "n_events": [n_events]}
        )

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(events_dir)
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        update_sessions,
        outputStructType="user_id long, n_sessions long, n_events long",
        stateStructType="last_ts long, n_sessions long, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(out_table)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # latest update per user: n_events grows monotonically
    updates = spark.table(out_table)
    w_latest = F.struct("n_events", "n_sessions").alias("s")
    return (
        updates.groupBy("user_id")
        .agg(F.max(w_latest).alias("s"))
        .select("user_id", F.col("s.n_sessions").alias("n_sessions"),
                F.col("s.n_events").alias("n_events"))
    )


def _stream_work_dir(tag: str, sf_dir: str) -> str:
    """Deterministic per-(tag, sf_dir, pid) work dir, wiped and rebuilt
    on each call — the snapshot-ingest rule generalized to every
    streaming driver entry (round-4 review: seven entries still leaked
    a fresh mkdtemp of corpus-sized slices/checkpoints per invocation).
    Deterministic per process, disjoint across processes, so repeated
    bench/correctness runs reuse ONE path and concurrent gates on the
    same sf never race each other's files.  Within one process,
    consume the returned frame before calling the same entry again
    (the rebuild deletes the files the lazy plan points at)."""
    import hashlib
    import shutil
    import tempfile

    work = _os.path.join(
        tempfile.gettempdir(),
        f"ocrgang_{tag}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
        f"_p{_os.getpid()}",
    )
    shutil.rmtree(work, ignore_errors=True)
    _os.makedirs(work, exist_ok=True)
    return work


def _slice_pred(lo_e: int, step: int, k: int):
    return (
        (F.unix_timestamp("ts") >= lo_e + k * step)
        & (F.unix_timestamp("ts") < lo_e + (k + 1) * step)
    )


def _write_time_sliced(spark: SparkSession, sf_dir: str, out_dir: str,
                       n_files: int, extra_rows=None) -> str:
    """Shared micro-batch-file writer: split events into ``n_files``
    disjoint time slices, one parquet file each, mtimes increasing in
    time order (the file-stream source processes oldest-mtime first).
    ``extra_rows(k, events, lo_e, step)`` may return a DataFrame to
    union into slice ``k`` (e.g. injected duplicates)."""
    import os
    from datetime import timezone

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    # events.ts is TIMESTAMP_NTZ, so .first() hands back NAIVE UTC
    # wall-clock datetimes; naive .timestamp() would interpret them in
    # the HOST timezone while _slice_pred's unix_timestamp uses the
    # session tz (pinned UTC) — on any non-UTC host the slices would
    # shift by the UTC offset and silently drop the first hours of the
    # corpus (round-4 review; latent here because this box runs UTC).
    # Pin the epoch conversion to UTC explicitly.
    lo_e = int(lo.replace(tzinfo=timezone.utc).timestamp())
    hi_e = int(hi.replace(tzinfo=timezone.utc).timestamp()) + 1
    step = max(1, (hi_e - lo_e + n_files - 1) // n_files)
    os.makedirs(out_dir, exist_ok=True)
    for k in range(n_files):
        part = events.where(_slice_pred(lo_e, step, k))
        if extra_rows is not None:
            extra = extra_rows(k, events, lo_e, step)
            if extra is not None:
                part = part.unionByName(extra)
        path = os.path.join(out_dir, f"part{k:02d}")
        part.coalesce(1).write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for fn in files:
                # the explicit stamps ARE the ordering the file-stream
                # source reads (oldest mtime first) — no wall-clock
                # dependence
                os.utime(os.path.join(root, fn), (1e9 + k, 1e9 + k))
    return out_dir


def write_time_split_events(spark: SparkSession, sf_dir: str, out_dir: str,
                            n_files: int = 4) -> str:
    """Split the events table into ``n_files`` disjoint time ranges,
    one parquet file each, with mtimes increasing in time order — the
    multi-micro-batch input sessionize_stream needs."""
    return _write_time_sliced(spark, sf_dir, out_dir, n_files)


def write_events_with_dups(spark: SparkSession, sf_dir: str, out_dir: str,
                           n_files: int = 4, every: int = 20,
                           dup_delay_s: int = 601) -> str:
    """Time-split events into ``n_files`` micro-batch files and inject a
    DUPLICATE of every ``every``-th event into the NEXT file (ts shifted
    +``dup_delay_s``), so streaming dedup state must genuinely cross
    micro-batch boundaries to suppress them.  Deterministic: dup
    placement is a pure function of event_id."""
    def dups_from_prev_slice(k, events, lo_e, step):
        if k == 0:
            return None
        return (
            events.where(_slice_pred(lo_e, step, k - 1)
                         & (F.col("event_id") % every == 0))
            .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {dup_delay_s} SECONDS"))
        )

    return _write_time_sliced(spark, sf_dir, out_dir, n_files,
                              extra_rows=dups_from_prev_slice)


def dedup_events_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    out_table: str = "stream_dedup",
    watermark: str = "744 hours",
) -> DataFrame:
    """Streaming exact dedup via ``dropDuplicatesWithinWatermark`` —
    the incremental-ingest analog of the batch dedup_exact query: the
    first-seen row per event_id is emitted, later duplicates are
    suppressed for as long as the watermark keeps their state alive.
    The driver query sizes ``watermark`` to the full corpus span so
    retention is total and the output equals the original events
    exactly; the eviction->readmission caveat (a duplicate arriving
    after its key's state aged out IS re-emitted) is pinned separately
    in tests/test_sources_streaming.py."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(events_dir)
    )
    deduped = (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        # ts stays in the output: the kept row must be the FIRST-seen
        # (original) occurrence, not the +601s duplicate — the value
        # hash catches a wrong survivor, not just a wrong count
        .select("event_id", "ts", "user_id", "event_type",
                F.col("value").cast("double").alias("value"))
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(out_table)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(out_table)


def snapshot_append_stream(
    spark: SparkSession,
    events_dir: str,
    table_dir: str,
    checkpoint: str,
) -> int:
    """Streaming ingest INTO the snapshot table layer: each micro-batch
    commits as one append snapshot (the Iceberg streaming-append
    pattern), so downstream consumers time-travel to any ingest point
    and read_incremental() between consecutive versions to process
    exactly one batch's rows.

    Replay idempotency — the property every foreachBatch sink in this
    module pins — comes from the manifest tag: a restarted stream
    re-delivers a batch_id, has_tag() sees its tag on a committed
    manifest, and the commit is skipped; a batch that crashed
    mid-commit left no manifest (or an uncommitted phantom), so the
    retry commits cleanly over the orphan (snapshot_store crash
    contract).  Returns the table's final version (== number of
    distinct committed batches)."""
    from . import snapshot_store as ss

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        tag = f"batch-{batch_id}"
        if ss.has_tag(table_dir, tag):
            return
        ss.commit_snapshot(
            spark,
            table_dir,
            batch_df.select("event_id", "ts", "user_id", "event_type"),
            op="append",
            tag=tag,
        )

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(events_dir)
    )
    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ss.current_version(table_dir) or 0


# ---------------------------------------------------------------------------
# Driver-contract entry: the streaming job under the value-hash gate
# ---------------------------------------------------------------------------

import os as _os  # noqa: E402
from itertools import count as _count  # noqa: E402

from .queries import register  # noqa: E402

_qid = _count()
_FIXTURES = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "fixtures"
)


@register(
    "stream_windowed_counts",
    # Spark's window('1 hour').start is epoch-aligned == date_trunc hour
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Structured Streaming engine (file source -> watermark ->
    windowed agg -> AvailableNow -> memory sink) under the driver's
    value oracle: the finished stream result must hash-match the plain
    SQL aggregation DuckDB runs over the same events."""
    import tempfile

    name = f"t_stream_wc_{next(_qid)}"
    return windowed_event_counts_stream(
        spark, sf_dir, checkpoint=_stream_work_dir("swc", sf_dir) + "/cp",
        out_table=name,
    )


@register(
    "stream_dedup_events",
    # the stream suppresses every injected duplicate and keeps the
    # first-seen (original) row, so the finished result is exactly the
    # original events table's rows on these columns
    """
    SELECT event_id, ts, user_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup under the driver's value oracle:
    events are re-split into 4 time-ordered micro-batch files with a
    duplicate of every 20th event injected into the NEXT file (+601s),
    then deduped cross-batch with dropDuplicatesWithinWatermark.  The
    finished stream must hash-equal the original events table — wrong
    survivor, missed dup, or a dropped original all break the hash."""
    import tempfile

    name = f"t_stream_dedup_{next(_qid)}"
    work = _stream_work_dir("sdedup", sf_dir)
    events_dir = write_events_with_dups(spark, sf_dir, f"{work}/ev")
    return dedup_events_stream(
        spark, events_dir, checkpoint=f"{work}/cp", out_table=name,
    )


_SNAP_N_BATCH = 4

_SNAP_INGEST_DUCK = f"""
    WITH b AS (SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT) AS lo,
                      CAST(floor(epoch(MAX(ts))) AS BIGINT) + 1 AS hi
               FROM events),
    s AS (SELECT lo,
                 GREATEST(1, (hi - lo + {_SNAP_N_BATCH - 1}) // {_SNAP_N_BATCH})
                   AS step
          FROM b)
    SELECT e.event_id, e.ts, e.user_id, e.event_type,
           CAST((CAST(floor(epoch(e.ts)) AS BIGINT) - s.lo) // s.step + 1
                AS BIGINT) AS version
    FROM events e, s
    """


@register("stream_snapshot_ingest", _SNAP_INGEST_DUCK)
def stream_snapshot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming snapshot-layer ingest under the driver's value
    hash: events re-split into 4 time-ordered micro-batch files, each
    committed as one append snapshot by snapshot_append_stream, then
    EVERY row read back through the snapshot layer — v1 via
    read_snapshot, later versions via read_incremental — carrying the
    version that committed it.  The oracle recomputes each row's
    time-slice (same lo/step arithmetic as the file splitter), so a
    lost batch, a double-committed replay, a wrong manifest chain, or
    a row landing in the wrong snapshot all break the hash.

    The work dir is deterministic per (sf_dir, pid) and rebuilt each
    call (the snapshot_time_travel rule) — repeated runs in one process
    reuse one path instead of leaking a fresh mkdtemp per invocation,
    and concurrent processes on the same sf never race each other's
    files.  Within one process, consume the returned frame before
    calling again (rebuild deletes the files the lazy plan points
    at)."""
    import hashlib
    import shutil
    import tempfile

    from . import snapshot_store as ss

    # (sf_dir, pid)-keyed like snapshot_time_travel's: deterministic
    # per process, disjoint across processes so concurrent gates on the
    # same sf never rebuild under each other's lazy frames (ADVICE r3)
    work = _os.path.join(
        tempfile.gettempdir(),
        f"ocrgang_snaping_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
        f"_p{_os.getpid()}",
    )
    shutil.rmtree(work, ignore_errors=True)
    ev_dir = write_time_split_events(
        spark, sf_dir, f"{work}/ev", _SNAP_N_BATCH
    )
    tbl = f"{work}/tbl"
    final = snapshot_append_stream(spark, ev_dir, tbl, f"{work}/cp")

    parts = []
    for v in range(1, final + 1):
        d = (
            ss.read_snapshot(spark, tbl, 1)
            if v == 1
            else ss.read_incremental(spark, tbl, v - 1, v)
        )
        parts.append(d.withColumn("version", F.lit(v).cast("bigint")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def extraction_stream(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    work_dir: str,
    n_files: int = 3,
) -> DataFrame:
    """Run the extraction pipeline as a Structured Streaming job.

    The documents land in ``n_files`` parquet files that a file-stream
    source consumes one per micro-batch (maxFilesPerTrigger=1,
    Trigger.AvailableNow); each micro-batch runs the SAME
    pipeline.extract_documents as the batch flagship inside
    ``foreachBatch`` and appends to a parquet sink.  Documents are the
    unit of work (their spans travel together in one row), so batch
    boundaries cannot split a document — streamed output is batch
    output, row for row.  At scale this is the continuous-ingest shape:
    new corpus partitions arrive, each micro-batch extracts and appends,
    the stream checkpoint replaces the batch job's part_id ledger.

    Returns the extracted documents read back from the sink.  The
    number of micro-batches actually run is written to
    ``work_dir/batches`` (one marker file per foreachBatch call).
    """
    import os

    from .pipeline import broadcast_weights, extract_documents
    from .synth import DOCUMENTS_SCHEMA

    in_dir = os.path.join(work_dir, "in")
    media_dir = os.path.join(work_dir, "media")
    out_dir = os.path.join(work_dir, "out")
    cp_dir = os.path.join(work_dir, "cp")
    marker_dir = os.path.join(work_dir, "batches")
    os.makedirs(marker_dir, exist_ok=True)

    # stage the stream input + the static media side as parquet (the
    # static side is read fresh per micro-batch — parquet, not a
    # re-synthesized plan)
    docs.repartition(n_files).write.mode("overwrite").parquet(in_dir)
    media.write.mode("overwrite").parquet(media_dir)
    media_p = spark.read.parquet(media_dir)
    weights_bc = broadcast_weights(spark)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_idempotent(
            extract_documents(batch_df, media_p, weights_bc),
            out_dir, batch_id,
        )
        open(os.path.join(marker_dir, f"b{batch_id:05d}"), "w").close()

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_batches(spark, out_dir)


@register(
    "stream_extraction_spans",
    # the SAME committed expected-output fixture the batch flagship
    # hash-matches: streamed extraction must be value-identical to it
    f"""
    SELECT doc_id, pos, kind, text, media_ref, "offset"
    FROM read_parquet('{_FIXTURES}/expected_extraction.parquet')
    WHERE corpus_key = (SELECT CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT)
                        AS VARCHAR) FROM documents)
    """,
)
def stream_extraction_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship-as-a-stream: the extraction pipeline driven by the real
    streaming engine (file source, multi-micro-batch AvailableNow,
    foreachBatch) over the same corpus as ocr_extract_spans — and
    value-checked against the same committed expected-output parquet,
    so the driver pins streamed == batch == renderer-constructed truth."""
    import tempfile

    from .synth import spans_from_testdata, synth_media

    docs = spans_from_testdata(spark, sf_dir)
    media = synth_media(spark, docs)
    work = _stream_work_dir("sext", sf_dir)
    out = extraction_stream(spark, docs, media, work)
    return (
        out.select("doc_id", F.posexplode("spans").alias("pos", "s"))
        .select(
            "doc_id",
            "pos",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )
    )


@register(
    "stream_confidence",
    # the SAME committed fixture the batch confidence router
    # hash-matches: streamed routing must be value-identical to it
    f"""
    SELECT media_ref, degraded, n_glyphs, min_margin_ppm, sum_margin_ppm,
           decision
    FROM read_parquet('{_FIXTURES}/expected_confidence.parquet')
    WHERE corpus_key = (SELECT CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT)
                        AS VARCHAR) FROM documents)
    """,
)
def stream_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR confidence routing as a continuous-ingest stream: media
    blobs arrive as 3 time-ordered parquet files consumed one per
    micro-batch (maxFilesPerTrigger=1, AvailableNow); each micro-batch
    runs the SAME confidence_stats_from the batch router uses inside
    foreachBatch and appends decisions.  Routing is per-blob, so batch
    boundaries cannot change any decision — the finished stream must
    hash-equal the batch fixture, which the driver checks.  This is
    the triage shape at 10^12 docs: scans land continuously, degraded
    pages route to review within one micro-batch instead of after a
    full-corpus pass."""
    import tempfile

    from .extraction_queries import confidence_stats_from
    from .pipeline import broadcast_weights
    from .synth import blob_for_degraded_ref, spans_from_testdata, synth_media

    docs = spans_from_testdata(spark, sf_dir)
    media = synth_media(spark, docs, blob_fn=blob_for_degraded_ref)
    weights_bc = broadcast_weights(spark)
    work = _stream_work_dir("sconf", sf_dir)
    in_dir = _os.path.join(work, "in")
    out_dir = _os.path.join(work, "out")
    cp_dir = _os.path.join(work, "cp")
    media.withColumn(
        "f", F.pmod(F.xxhash64("media_ref"), F.lit(3)).cast("int")
    ).repartition("f").write.partitionBy("f").mode("overwrite").parquet(in_dir)

    stream = (
        spark.readStream.schema("media_ref string, bytes binary")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )

    def fb(batch_df: DataFrame, _bid: int) -> None:
        # one arrival file = one scan partition = ONE task: restore the
        # batch path's explicit parallelism before the CPU-bound NN
        # stage (same rationale as the media-branch REPARTITION_BY_NUM
        # plan pin — AQE/file-split parallelism must not gate a
        # compute-dense kernel).  Measured 19.6s -> batch-comparable.
        spread = batch_df.repartition(
            batch_df.sparkSession.sparkContext.defaultParallelism, "media_ref"
        )
        write_batch_idempotent(
            confidence_stats_from(spread, weights_bc), out_dir, _bid
        )

    q = (
        stream.writeStream.foreachBatch(fb)
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_batches(spark, out_dir)


from .textops import _qf_duck  # noqa: E402


@register(
    "stream_quality_decisions",
    # identical decision semantics to the batch quality filter — the
    # stream must reproduce it row for row across micro-batch boundaries
    _qf_duck(),
)
def stream_quality_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's front stage as a continuous-ingest
    stream: documents arrive as 3 time-ordered parquet files consumed
    one per micro-batch (maxFilesPerTrigger=1, Trigger.AvailableNow);
    each micro-batch runs the SAME quality_decisions_from as the batch
    filter inside foreachBatch and appends decisions to a parquet sink.
    Quality rules are per-row, so batch boundaries cannot change any
    decision — the finished stream must hash-equal the batch oracle,
    which is exactly what the driver checks.  At 10^12 docs this is the
    shape of corpus intake: new crawl partitions land, each micro-batch
    filters and appends, the stream checkpoint is the resume ledger."""
    import tempfile

    from .textops import quality_decisions_from

    from .queries import load

    (docs,) = load(spark, sf_dir, "documents")
    work = _stream_work_dir("squal", sf_dir)
    in_dir = _os.path.join(work, "in")
    out_dir = _os.path.join(work, "out")
    cp_dir = _os.path.join(work, "cp")
    # 3 time-ordered arrival files, deterministic membership
    docs.withColumn("f", (F.col("doc_id") % 3).cast("int")).repartition(
        "f"
    ).write.partitionBy("f").mode("overwrite").parquet(in_dir)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )

    def fb(batch_df: DataFrame, _bid: int) -> None:
        write_batch_idempotent(quality_decisions_from(batch_df), out_dir, _bid)

    q = (
        stream.writeStream.foreachBatch(fb)
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_batches(spark, out_dir)



# ---------------------------------------------------------------------------
# Stream-stream join: click -> purchase attribution
# ---------------------------------------------------------------------------

def attribution_join_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    out_table: str = "stream_attr",
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join — the third stateful engine
    path after windowed agg and dropDuplicatesWithinWatermark: both
    sides buffer rows in the state store and the time-range condition
    plus the two watermarks bound how long click state is retained.

    Each purchase joins every click by the same user in the preceding
    hour (ad-attribution shape).  The input files are disjoint
    time-ordered slices and the condition forces click_ts <=
    purchase_ts, so a purchase's matching clicks are always in the
    same or an earlier micro-batch — with a 2h watermark against a 1h
    join window no pair is ever dropped, and the finished stream equals
    the batch join exactly (the driver's value oracle).  At 100 TB the
    same topology holds: state is bounded by (watermark + window) x
    per-user click rate, not by corpus size."""
    def side(kind: str, prefix: str):
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(events_dir)
            .where(F.col("event_type") == kind)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "2 hours")
        )

    clicks = side("click", "click")
    purchases = side("purchase", "purchase")
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        F.col("click_id"),
        F.col("purchase_id"),
        F.col("click_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(out_table)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(out_table)


@register(
    "stream_event_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id, c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream attribution join under the driver's value oracle:
    events re-split into 4 time-ordered micro-batch files, read as TWO
    independent file streams (clicks / purchases), joined stateful with
    watermarks — the finished stream must hash-equal DuckDB's batch
    interval join over the same events."""
    import tempfile

    name = f"t_stream_attr_{next(_qid)}"
    work = _stream_work_dir("sattr", sf_dir)
    events_dir = write_time_split_events(spark, sf_dir, f"{work}/ev")
    return attribution_join_stream(
        spark, events_dir, checkpoint=f"{work}/cp", out_table=name,
    )


# ---------------------------------------------------------------------------
# CDC upsert as a stream: the streaming twin of changelog_merge_read.
# ---------------------------------------------------------------------------

def _mor_duck_sql() -> str:
    from .queries import _MOR_DUCK

    return _MOR_DUCK


def _cdc_gens(tbl_dir: str) -> list:
    return sorted(
        int(d.split("-")[1])
        for d in _os.listdir(tbl_dir)
        if d.startswith("gen-")
    )


def cdc_merge_generation(
    spark: SparkSession, tbl_dir: str, batch_df: DataFrame, bid: int
) -> None:
    """One CDC micro-batch merge: latest-version-wins over the
    PREDECESSOR generation plus this batch, written to ``gen-<bid>``.

    The predecessor is the newest generation STRICTLY OLDER than
    ``bid`` — never ``gen-<bid>`` itself.  On a micro-batch replay
    (crash between the gen-<bid> write and the stream checkpoint
    advance) the generation list already contains ``bid``; merging
    gen-<bid> into its own rewrite would read the directory being
    overwritten and double-count ``n_versions``.  Replaying against the
    same predecessor instead redoes the identical merge, which is what
    makes the generation swap idempotent (pinned by
    tests/test_sources_streaming.py::test_cdc_generation_replay_is_idempotent).
    """
    from pyspark.sql import Window as W

    incoming = batch_df.select(
        "doc_id", "version", "op",
        F.md5("text").alias("text_md5"),
        F.lit(1).cast("bigint").alias("n_versions"),
    )
    prior = [g for g in _cdc_gens(tbl_dir) if g < bid]
    if prior:
        prev = spark.read.parquet(
            _os.path.join(tbl_dir, f"gen-{prior[-1]}")
        )
        incoming = prev.unionByName(incoming)
    win = W.partitionBy("doc_id")
    merged = (
        incoming.select(
            "*",
            F.row_number()
            .over(win.orderBy(F.desc("version")))
            .alias("rn"),
            F.sum("n_versions").over(win).alias("nv"),
        )
        .where(F.col("rn") == 1)
        .select(
            "doc_id", "version", "op", "text_md5",
            F.col("nv").alias("n_versions"),
        )
    )
    merged.write.mode("overwrite").parquet(
        _os.path.join(tbl_dir, f"gen-{bid}")
    )


@register("stream_changelog_upsert", _mor_duck_sql())
def stream_changelog_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over a CDC changelog: the same
    versioned I/U/D log changelog_merge_read resolves in one batch
    arrives here as 3 micro-batches (one per version tier,
    maxFilesPerTrigger=1, AvailableNow); each foreachBatch merges the
    incoming rows into the materialized table with the SAME
    latest-version-wins window and writes the next table GENERATION
    (gen-<k> swap — never overwrite-while-reading).  Delete tombstones
    persist in the materialized generations (a later batch may outrank
    them) and are filtered only in the returned current view, so the
    finished stream must equal the batch merge — which is what the
    oracle checks.

    The merge is ORDER-INDEPENDENT (the version column decides, not
    arrival order), so the equality holds under any micro-batch
    interleaving — stronger than the arrival-ordered streaming queries
    above.  At scale foreachBatch-merge-into-table is exactly Spark's
    documented upsert pattern for non-transactional sinks; the
    generation swap is what Delta/Iceberg commit protocols do with
    manifests instead of directories."""
    import tempfile

    from .queries import load

    (docs,) = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.lit(0).alias("version"), F.lit("I").alias("op"), "text"
    )
    upd = docs.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.lit(1).alias("version"), F.lit("U").alias("op"),
        F.concat(F.lit("v2 "), F.col("text")).alias("text"),
    )
    dele = docs.where(F.col("doc_id") % 11 == 0).select(
        "doc_id", F.lit(2).alias("version"), F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("text"),
    )
    log = base.unionAll(upd).unionAll(dele)

    work = _stream_work_dir("scdc", sf_dir)
    in_dir = _os.path.join(work, "in")
    tbl_dir = _os.path.join(work, "tbl")
    cp_dir = _os.path.join(work, "cp")
    _os.makedirs(tbl_dir)
    log.withColumn("f", F.col("version").cast("int")).repartition(
        "f"
    ).write.partitionBy("f").mode("overwrite").parquet(in_dir)

    in_schema = "doc_id bigint, version int, op string, text string"
    stream = (
        spark.readStream.schema(in_schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )

    def fb(batch_df: DataFrame, bid: int) -> None:
        cdc_merge_generation(spark, tbl_dir, batch_df, bid)

    q = (
        stream.writeStream.foreachBatch(fb)
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cur = spark.read.parquet(
        _os.path.join(tbl_dir, f"gen-{_cdc_gens(tbl_dir)[-1]}")
    )
    return cur.where(F.col("op") != "D").select(
        "doc_id",
        F.col("version").cast("bigint").alias("cur_version"),
        "op", "text_md5", "n_versions",
    )


# ---------------------------------------------------------------------------
# Caption mining as a continuous-ingest stream (interleaved payload).
# ---------------------------------------------------------------------------

def _cap_oracle_sql() -> str:
    from .extraction_queries import _CAP_ORACLE

    return _CAP_ORACLE


@register("stream_caption_pairs", _cap_oracle_sql())
def stream_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-caption pair mining over a document stream: 3 arrival
    files consumed one per micro-batch, each foreachBatch runs the SAME
    caption_pairs_from the batch query uses and appends pairs to the
    sink.  The pairing window is per-document and documents never split
    across batches (the arrival files partition on doc_id), so batch
    boundaries cannot change any pair — the finished stream hash-equals
    the batch oracle.  This is alt-text mining as crawl partitions
    land: pairs stream out while the crawl is still running, instead of
    a corpus-wide job afterwards."""
    import tempfile

    from .extraction_queries import caption_pairs_from
    from .queries import load

    (docs,) = load(spark, sf_dir, "documents")
    work = _stream_work_dir("scap", sf_dir)
    in_dir = _os.path.join(work, "in")
    out_dir = _os.path.join(work, "out")
    cp_dir = _os.path.join(work, "cp")
    docs.select("doc_id", "text").withColumn(
        "f", (F.col("doc_id") % 3).cast("int")
    ).repartition("f").write.partitionBy("f").mode("overwrite").parquet(in_dir)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )

    def fb(batch_df: DataFrame, _bid: int) -> None:
        write_batch_idempotent(caption_pairs_from(batch_df), out_dir, _bid)

    q = (
        stream.writeStream.foreachBatch(fb)
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_batches(spark, out_dir)


from .extraction_queries import WARC_ORACLE_SQL  # noqa: E402


@register("stream_warc_ingest", WARC_ORACLE_SQL)
def stream_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous crawl ingest: WARC archive files ARRIVE over time (3
    time-ordered parquet arrival files, maxFilesPerTrigger=1,
    AvailableNow) and each micro-batch parses just its archives with
    the SAME warc_records_from the batch query uses, landing rows via
    the replay-idempotent per-batch sink.  Parsing is per-archive, so
    batch boundaries cannot change any recovered field — the finished
    stream must hash-equal the batch oracle (same WARC_ORACLE_SQL),
    which the driver checks.  This is the crawl shape at 10^12 docs:
    archives land on storage continuously and enter the corpus within
    one micro-batch of arriving, with the stream checkpoint carrying
    the per-file lineage the batch job keeps in its part ledger."""
    import tempfile

    from .extraction_queries import warc_files_df, warc_records_from
    from .queries import load

    (docs,) = load(spark, sf_dir, "documents")
    work = _stream_work_dir("swarc", sf_dir)
    in_dir = _os.path.join(work, "in")
    out_dir = _os.path.join(work, "out")
    cp_dir = _os.path.join(work, "cp")
    warc_files_df(docs).withColumn(
        "f", F.pmod(F.xxhash64("file_id"), F.lit(3)).cast("int")
    ).repartition("f").write.partitionBy("f").mode("overwrite").parquet(in_dir)

    stream = (
        spark.readStream.schema("file_id bigint, blob binary")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )

    def fb(batch_df: DataFrame, _bid: int) -> None:
        # one arrival file = one scan partition; spread the CPU-bound
        # parse across cores before the kernel stage (same rationale as
        # stream_confidence's explicit parallelism)
        spread = batch_df.repartition(
            batch_df.sparkSession.sparkContext.defaultParallelism, "file_id"
        )
        write_batch_idempotent(warc_records_from(spread), out_dir, _bid)

    q = (
        stream.writeStream.foreachBatch(fb)
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_batches(spark, out_dir)
