"""Resume semantics: a run killed after k of n parts must, on rerun,
process only the remainder and produce output identical to a clean run
(FIXTURES.md §6)."""

import os
import time

import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from ocr_gang_spark.checkpoint import (
    CHECKPOINT_SCHEMA,
    MANIFEST_NAME,
    _part_file_stats,
    checkpoint_table,
    commit_parts,
    done_part_ids,
    load_output,
    run_extraction,
    with_part_id,
)
from ocr_gang_spark.curation import CURATION_CHECKPOINT_SCHEMA
from ocr_gang_spark.mm_curation import MM_CHECKPOINT_SCHEMA
from ocr_gang_spark.pipeline import broadcast_weights
from ocr_gang_spark.synth import synth_documents, synth_media

N_DOCS = 24
N_PARTS = 8
SEED = 11


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_documents(spark, N_DOCS, seed=SEED)
    media = synth_media(spark, docs)
    return docs, media


def spans_by_doc(df):
    return {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in df.collect()
    }


def test_clean_run_then_noop_resume(spark, corpus, tmp_path):
    docs, media = corpus
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    bc = broadcast_weights(spark)

    r1 = run_extraction(spark, docs, media, out, cp, n_parts=N_PARTS,
                        run_id="r1", weights_bc=bc)
    assert r1.n_docs == N_DOCS and r1.n_parts_processed > 0

    # all parts done -> resume is a no-op
    r2 = run_extraction(spark, docs, media, out, cp, n_parts=N_PARTS,
                        run_id="r2", weights_bc=bc)
    assert r2.n_parts_processed == 0 and r2.n_docs == 0

    cp_df = checkpoint_table(spark, cp)
    assert cp_df.where(F.col("run_id") == "r1").count() == r1.n_parts_processed
    # lineage metrics present and positive
    row = cp_df.agg(F.sum("n_docs").alias("d"), F.sum("n_spans_out").alias("s")).first()
    assert row.d == N_DOCS and row.s > 0


def test_mismatched_n_parts_is_refused(spark, corpus, tmp_path):
    """part_id is only meaningful relative to n_parts: entries written
    under a different n_parts must never short-circuit genuine remaining
    work (ADVICE r1).  Since round 3 the manifest refuses the mismatch
    outright — dynamic overwrite only replaces NEW part_id dirs, so a
    reused output dir would keep stale dirs from the old partitioning
    and silently duplicate documents.  A fresh checkpoint dir (the
    documented way to change n_parts) reprocesses the full corpus."""
    docs, media = corpus
    cp = str(tmp_path / "cp")
    bc = broadcast_weights(spark)

    r1 = run_extraction(spark, docs, media, str(tmp_path / "out4"), cp,
                        n_parts=4, run_id="a", weights_bc=bc)
    assert r1.n_docs == N_DOCS

    with pytest.raises(ValueError, match="n_parts"):
        run_extraction(spark, docs, media, str(tmp_path / "out8"), cp,
                       n_parts=8, run_id="b", weights_bc=bc)

    # fresh checkpoint dir: full reprocess under the new scheme
    r2 = run_extraction(spark, docs, media, str(tmp_path / "out8"),
                        str(tmp_path / "cp8"), n_parts=8, run_id="b2",
                        weights_bc=bc)
    assert r2.n_docs == N_DOCS and r2.n_parts_processed > 0


def test_killed_run_resumes_to_identical_output(spark, corpus, tmp_path):
    docs, media = corpus
    bc = broadcast_weights(spark)

    # reference: clean run
    clean_out = str(tmp_path / "clean")
    run_extraction(spark, docs, media, clean_out, str(tmp_path / "cp0"),
                   n_parts=N_PARTS, weights_bc=bc)
    expected = spans_by_doc(load_output(spark, clean_out))

    # simulate a kill after half the parts: first run sees only docs of
    # parts {0..3} (as if the job died before the rest committed)
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    docs_p = with_part_id(docs, N_PARTS)
    first_half = docs_p.where(F.col("part_id") < N_PARTS // 2).drop("part_id")
    r1 = run_extraction(spark, first_half, media, out, cp, n_parts=N_PARTS,
                        run_id="partial", weights_bc=bc)
    done_parts = {x.part_id for x in checkpoint_table(spark, cp)
                  .select("part_id").distinct().collect()}
    assert all(p < N_PARTS // 2 for p in done_parts)

    # resume with the FULL corpus: must process only the missing parts
    r2 = run_extraction(spark, docs, media, out, cp, n_parts=N_PARTS,
                        run_id="resume", weights_bc=bc)
    assert r2.n_parts_processed + r1.n_parts_processed <= N_PARTS
    new_parts = {x.part_id for x in checkpoint_table(spark, cp)
                 .where(F.col("run_id") == "resume")
                 .select("part_id").distinct().collect()}
    assert new_parts.isdisjoint(done_parts)

    got = spans_by_doc(load_output(spark, out).drop("part_id"))
    assert got == expected


def test_resume_with_different_deskew_refused(spark, corpus, tmp_path):
    """Output-affecting options are pinned in the run manifest: a resume
    with a different --deskew would silently mix deskewed and
    non-deskewed parts in one output directory (ADVICE r2)."""
    docs, media = corpus
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    bc = broadcast_weights(spark)

    run_extraction(spark, docs.limit(6), media, out, cp, n_parts=N_PARTS,
                   run_id="r1", weights_bc=bc, deskew=False)
    with pytest.raises(ValueError, match="deskew"):
        run_extraction(spark, docs, media, out, cp, n_parts=N_PARTS,
                       run_id="r2", weights_bc=bc, deskew=True)
    # a different n_parts is equally output-affecting: stale part_id
    # dirs from the old partitioning would duplicate docs (dynamic
    # overwrite only replaces the new dirs), so it must refuse too
    with pytest.raises(ValueError, match="n_parts"):
        run_extraction(spark, docs, media, out, cp, n_parts=N_PARTS * 2,
                       run_id="r2b", weights_bc=bc, deskew=False)
    # same options resume normally and pick up the remaining docs (those
    # whose part_id was not completed by the 6-doc first run)
    r3 = run_extraction(spark, docs, media, out, cp, n_parts=N_PARTS,
                        run_id="r3", weights_bc=bc, deskew=False)
    assert r3.n_docs > 0 and r3.n_docs <= N_DOCS - 6


def test_manifest_missing_keys_compare_against_defaults(tmp_path):
    """A checkpoint written before a manifest key existed must resume
    when the new run passes that option's default (the old run WAS the
    default behavior), and still refuse when it passes a different
    value or when a versioned rule moved past the implied old version
    (code-review fix for the bare prev.get comparison)."""
    import json
    import os

    import pytest

    from ocr_gang_spark.checkpoint import MANIFEST_NAME, _check_run_manifest

    cp = str(tmp_path / "cp")
    os.makedirs(cp)
    with open(os.path.join(cp, MANIFEST_NAME), "w") as f:
        json.dump({"deskew": False, "n_parts": 4}, f)  # pre-flag manifest

    opts = {"deskew": False, "n_parts": 4, "on_error": "fail"}
    _check_run_manifest(cp, opts, defaults={"on_error": "fail"})  # proceeds

    with pytest.raises(ValueError, match="refusing to resume"):
        _check_run_manifest(
            cp, {**opts, "on_error": "quarantine"},
            defaults={"on_error": "fail"},
        )
    with pytest.raises(ValueError, match="refusing to resume"):
        _check_run_manifest(
            cp, {**opts, "pack_rule": 2},
            defaults={"on_error": "fail", "pack_rule": 1},
        )


@pytest.mark.parametrize("stored", [True, False, None])
def test_removed_noise_option_resumes_only_when_off(spark, corpus, tmp_path, stored):
    """run_extraction no longer takes a noise-injection option: a
    checkpoint whose manifest recorded it switched on holds noisy parts
    and must refuse, while one that recorded it off, or never had the
    key, resumes as a no-op."""
    import json

    docs, media = corpus
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    bc = broadcast_weights(spark)
    run_extraction(spark, docs, media, out, cp, n_parts=N_PARTS,
                   run_id="r1", weights_bc=bc)
    path = os.path.join(cp, MANIFEST_NAME)
    with open(path) as f:
        manifest = json.load(f)
    assert "degrade_slice" not in manifest
    if stored is not None:
        manifest["degrade_slice"] = stored
    with open(path, "w") as f:
        json.dump(manifest, f)
    if stored:
        with pytest.raises(ValueError, match="degrade_slice=True"):
            run_extraction(spark, docs, media, out, cp, n_parts=N_PARTS,
                           run_id="r2", weights_bc=bc)
    else:
        r2 = run_extraction(spark, docs, media, out, cp, n_parts=N_PARTS,
                            run_id="r2", weights_bc=bc)
        assert r2.n_parts_processed == 0 and r2.n_docs == 0


def test_done_part_ids_on_fresh_ledger_starts_no_job(spark, tmp_path):
    """A ledger dir holding only the run manifest (every fresh run) is
    answered from the listing: no Spark job.  Once the ledger holds a
    data file the same call does run a job, so the probe can see one."""
    import json
    import os

    cp = str(tmp_path / "cp")
    os.makedirs(cp)
    with open(os.path.join(cp, MANIFEST_NAME), "w") as f:
        json.dump({"n_parts": N_PARTS}, f)
    sc = spark.sparkContext

    sc.setJobGroup("fresh-ledger", "fresh-ledger")
    try:
        assert done_part_ids(spark, cp, N_PARTS) == set()
        assert done_part_ids(spark, str(tmp_path / "missing"), N_PARTS) == set()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("fresh-ledger")) == []

    spark.createDataFrame(
        [(3, N_PARTS, 1, 1, 1, 0, "done", "r"),
         (5, N_PARTS * 2, 1, 1, 1, 0, "done", "r")], CHECKPOINT_SCHEMA,
    ).write.mode("append").parquet(cp)
    sc.setJobGroup("filled-ledger", "filled-ledger")
    try:
        # the entry from another n_parts is ignored
        assert done_part_ids(spark, cp, N_PARTS) == {3}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("filled-ledger"))


def test_mixed_ledger_reads_back_and_resumes(spark, corpus, tmp_path):
    """A ledger written partly by Spark (older runs appended through a
    DataFrame write) and partly by the driver reads back as one table
    with exactly CHECKPOINT_SCHEMA, and a resume skips both files'
    parts."""
    import os

    docs, media = corpus
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    bc = broadcast_weights(spark)
    docs_p = with_part_id(docs, N_PARTS)

    # driver-written file: a run over the docs of parts 0..3
    run_extraction(spark, docs_p.where(F.col("part_id") < 4).drop("part_id"),
                   media, out, cp, n_parts=N_PARTS, run_id="driver",
                   weights_bc=bc)
    driver_files = {f for f in os.listdir(cp) if f.endswith(".parquet")}
    assert len(driver_files) == 1
    driver_parts = done_part_ids(spark, cp, N_PARTS)
    assert driver_parts and all(p < 4 for p in driver_parts)

    # Spark-written file: the ledger row of part 4 from a separate run
    other_cp = str(tmp_path / "other_cp")
    run_extraction(spark, docs_p.where(F.col("part_id") == 4).drop("part_id"),
                   media, str(tmp_path / "other_out"), other_cp,
                   n_parts=N_PARTS, run_id="spark", weights_bc=bc)
    spark.createDataFrame(
        checkpoint_table(spark, other_cp).collect(), CHECKPOINT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(cp)
    spark_files = {f for f in os.listdir(cp) if f.endswith(".parquet")} - driver_files
    assert len(spark_files) == 1

    table = checkpoint_table(spark, cp)
    assert table.schema == _parse_datatype_string(CHECKPOINT_SCHEMA)
    assert {r.run_id for r in table.collect()} == {"driver", "spark"}
    skipped = done_part_ids(spark, cp, N_PARTS)
    assert skipped == driver_parts | {4}

    resumed = run_extraction(spark, docs, media, out, cp, n_parts=N_PARTS,
                             run_id="resume", weights_bc=bc)
    resumed_parts = {r.part_id for r in checkpoint_table(spark, cp)
                     .where(F.col("run_id") == "resume").collect()}
    assert resumed_parts and resumed_parts.isdisjoint(skipped)
    assert resumed.n_docs == docs_p.where(
        ~F.col("part_id").isin(sorted(skipped))).count()


def test_one_file_per_written_part(spark, corpus, tmp_path):
    """The part write spreads parts over the task slots but keeps each
    part in one task: exactly one parquet file per written part_id,
    and the ledger names exactly the written parts."""
    docs, media = corpus
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    run_extraction(spark, docs, media, out, cp, n_parts=N_PARTS,
                   weights_bc=broadcast_weights(spark))
    stats = _part_file_stats(out)
    assert stats and all(n == 1 for n, _ in stats.values())
    assert set(stats) == done_part_ids(spark, cp, N_PARTS)


# the three callers' sum shapes: int and long columns summed, and a
# string column's length in code points (Spark aggregates built lazily:
# a Column needs the session)
@pytest.mark.parametrize("schema,sums,aggs", [
    (CHECKPOINT_SCHEMA,
     {"n_spans_out": pc.field("n_int"), "n_chars_out": pc.field("n_long")},
     lambda: [F.sum("n_int"), F.sum("n_long")]),
    (CURATION_CHECKPOINT_SCHEMA,
     {"n_tokens_out": pc.field("n_long")}, lambda: [F.sum("n_long")]),
    (MM_CHECKPOINT_SCHEMA,
     {"n_chars_out": pc.utf8_length(pc.field("rendered"))},
     lambda: [F.sum(F.length("rendered"))]),
], ids=["extraction", "curation", "mm"])
def test_ledger_matches_spark_aggregate(spark, tmp_path, schema, sums, aggs):
    """The driver-built ledger rows equal Spark's count/sum over the same
    written output, NULL handling included (part 1 holds only NULLs), and
    the ledger reads back with exactly the caller's schema."""
    parts = spark.createDataFrame(
        [("a", 0, 3, 10, "na\u00efve \u2603"), ("b", 0, None, 1 << 40, None),
         ("c", 0, 2, 5, "\U0001d518x \u00e9"), ("d", 1, None, None, None)],
        "doc_id string, part_id int, n_int int, n_long long, rendered string",
    )
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    os.makedirs(cp)  # the callers' run manifest makes it
    assert commit_parts(
        spark, parts, out, cp, n_parts=N_PARTS, done_ids=set(), run_id="r",
        t0=time.time(), schema=schema, sums=sums,
    )[:2] == (2, 4)

    ledger = spark.read.parquet(cp)
    assert ledger.schema == _parse_datatype_string(schema)
    expected = (
        spark.read.parquet(out).groupBy("part_id")
        .agg(F.count("*").alias("n_docs"),
             *(a.alias(c) for c, a in zip(sums, aggs())))
        .select(F.lit(N_PARTS).alias("n_parts"), "*",
                F.lit("done").alias("status"), F.lit("r").alias("run_id"))
    )
    cols = ["part_id", "n_parts", "n_docs", *sums, "status", "run_id"]
    assert sorted(ledger.select(cols).collect()) == sorted(
        expected.select(cols).collect())


def test_commit_parts_starts_no_job_after_write(spark, tmp_path):
    """Past 32 part dirs a Spark read of the output starts a parallel
    'Listing leaf files' job; the ledger rows come from the written
    files on the driver instead, so committing into a large output runs
    exactly the jobs of the write itself."""
    df = spark.range(200).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") % 40).cast("int").alias("part_id"),
        F.col("id").cast("int").alias("n_spans"),
        F.lit(1).cast("long").alias("n_chars"),
    )
    new = df.where(F.col("part_id") >= 36)
    sums = {"n_spans_out": pc.field("n_spans"), "n_chars_out": pc.field("n_chars")}
    sc = spark.sparkContext

    def jobs(group, out, done_ids):
        (tmp_path / group).mkdir()
        sc.setJobGroup(group, group)
        try:
            res = commit_parts(
                spark, new, out, str(tmp_path / group), n_parts=64,
                done_ids=done_ids, run_id=group, t0=time.time(),
                schema=CHECKPOINT_SCHEMA, sums=sums,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return res[:2], len(sc.statusTracker().getJobIdsForGroup(group))

    # the write's own jobs: every written part is already done, so the
    # call commits no ledger row
    committed, n_write = jobs("write-only", str(tmp_path / "w"), set(range(64)))
    assert committed == (0, 0) and n_write

    out = str(tmp_path / "out")
    (tmp_path / "cp0").mkdir()
    commit_parts(
        spark, df.where(F.col("part_id") < 36), out, str(tmp_path / "cp0"),
        n_parts=64, done_ids=set(), run_id="first", t0=time.time(),
        schema=CHECKPOINT_SCHEMA, sums=sums,
    )
    assert len(_part_file_stats(out)) == 36
    assert jobs("commit", out, set(range(36))) == ((4, 20), n_write)
