"""run_mm_curation end-to-end: over the degraded corpus variant the
confidence gate rejects exactly the degraded slice, over clean blobs it
rejects nothing, accepted docs ship with valid render + bin assignment,
and the run resumes as a no-op."""

import pytest
from pyspark.sql import functions as F

from ocr_gang_spark.mm_curation import run_mm_curation
from ocr_gang_spark.synth import (
    OCR_NOISE_EVERY,
    blob_for_degraded_ref,
    spans_from_testdata,
    synth_media,
)
from ocr_gang_spark.textops import MM_PACK_BUDGET

SF = "/root/testdata/sf0.001"
N_PARTS = 16


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("mmcur"))
    docs = spans_from_testdata(spark, SF)
    media = synth_media(spark, docs, blob_fn=blob_for_degraded_ref)
    res = run_mm_curation(spark, docs, media, wd, n_parts=N_PARTS)
    return spark, wd, docs, media, res


def test_gate_rejects_exactly_the_degraded_slice(run):
    spark, wd, docs, media, res = run
    n_docs = docs.count()
    degraded = docs.where(
        F.expr(f"CAST(regexp_extract(doc_id, '([0-9]+)$', 1) AS BIGINT) "
               f"% {OCR_NOISE_EVERY} = 0")
    ).count()
    assert res.n_rejected == degraded
    assert res.n_docs_out == n_docs - degraded
    decisions = spark.read.parquet(wd + "/decisions")
    for r in decisions.collect():
        did = int(r.doc_id.split("-")[1])
        assert r.accept == (did % OCR_NOISE_EVERY != 0)
        assert (r.reason == "low_confidence") == (not r.accept)


def test_clean_blobs_are_never_rejected(spark, tmp_path):
    """The job scores the blobs it is given and injects nothing: over
    the plain renderer's blobs, degraded-slice documents included,
    every document is accepted."""
    docs = spans_from_testdata(spark, SF).where(F.col("doc_id") < "doc-00000040")
    media = synth_media(spark, docs)
    res = run_mm_curation(spark, docs, media, str(tmp_path / "mmclean"), n_parts=4)
    assert res.n_rejected == 0
    assert res.n_docs_out == docs.count() == 40


def test_shards_render_and_pack(run):
    spark, wd, docs, media, res = run
    shards = spark.read.parquet(wd + "/shards")
    rows = shards.collect()
    assert len(rows) == res.n_docs_out
    assert res.n_bins == len({r.bin_id for r in rows})
    for r in rows:
        assert 0 <= r.bin_offset < MM_PACK_BUDGET
        assert r.seq_cost > 0
        assert len(r.rendered) > 0
        did = int(r.doc_id.split("-")[1])
        n_media = did % 2 + 1  # spans_from_testdata layout
        assert r.rendered.count("<img:") == n_media


def test_quarantine_keeps_error_spans_out_of_shards(spark, tmp_path):
    """on_error='quarantine' (now threaded through the mm job, r3
    self-review): a corrupt blob becomes a kind='error' span in stage E,
    stage M's shared render DROPS it — no exception text in any shard —
    and the manifest pins the flag so a resume with a different
    on_error refuses."""
    from ocr_gang_spark.synth import synth_documents

    docs = synth_documents(spark, 40, seed=11, skew_frac=0.0, media_prob=1.0)
    media = synth_media(spark, docs)
    bad_ref = media.select("media_ref").orderBy("media_ref").first()[0]
    corrupted = media.withColumn(
        "bytes",
        F.when(F.col("media_ref") == bad_ref,
               F.lit(b"\x00not-an-image")).otherwise(F.col("bytes")),
    )
    wd = str(tmp_path / "mmq")
    run_mm_curation(spark, docs, corrupted, wd, n_parts=4,
                    on_error="quarantine")
    extracted = spark.read.parquet(wd + "/extracted")
    err_rows = extracted.select(
        F.explode("spans").alias("s")
    ).where(F.col("s.kind") == "error").collect()
    assert len(err_rows) >= 1  # the corrupt blob is visible upstream
    err_texts = {r.s.text for r in err_rows}
    shards = spark.read.parquet(wd + "/shards")
    for r in shards.collect():
        assert f"<img:{bad_ref}>" not in r.rendered
        assert not any(t in r.rendered for t in err_texts)
    with pytest.raises(ValueError, match="refusing to resume"):
        run_mm_curation(spark, docs, corrupted, wd, n_parts=4,
                        on_error="fail")


def test_resume_is_noop_and_manifest_pins(run):
    spark, wd, docs, media, _ = run
    res2 = run_mm_curation(spark, docs, media, wd, n_parts=N_PARTS)
    assert res2.n_parts_processed == 0 and res2.n_docs_out == 0
    with pytest.raises(ValueError, match="refusing to resume"):
        run_mm_curation(spark, docs, media, wd, n_parts=N_PARTS * 2)


def test_mm_decisions_packs_arbitrary_doc_keys(spark):
    """Bin assignment must be deterministic and total for doc_ids with
    NO trailing numeral (UUIDs from --input-docs parquet) and must not
    collide keys sharing a numeric suffix — the code-review bug was a
    regexp_extract of the trailing digits (NULL for UUIDs, 123 for both
    'doc-123' and 'img-123')."""
    from ocr_gang_spark.mm_curation import mm_decisions

    span_t = (
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    rows = [
        ("ab12cd34-uuid-key", [("text", "five words of text here", None, 0)], None),
        ("doc-123", [("text", "w1 w2", None, 0)], None),
        ("img-123", [("text", "w3 w4 w5", None, 0)], None),
        ("zz-no-digits", [("text", "tail words", None, 0)], None),
    ]
    df = spark.createDataFrame(
        rows, f"doc_id string, spans {span_t}, doc_min_margin_ppm bigint"
    )
    got = {r.doc_id: r for r in mm_decisions(df).collect()}
    assert len(got) == 4 and all(r.accept for r in got.values())
    assert all(
        r.bin_id is not None and r.bin_offset is not None
        for r in got.values()
    )
    # doc-123 and img-123 are DISTINCT keys: both packed, costs correct
    assert got["doc-123"].seq_cost == 2 and got["img-123"].seq_cost == 3
    again = {r.doc_id: r for r in mm_decisions(df).collect()}
    assert {k: (v.bin_id, v.bin_offset) for k, v in got.items()} == {
        k: (v.bin_id, v.bin_offset) for k, v in again.items()
    }


def test_all_rejected_corpus_returns_zero_result(spark, tmp_path):
    """A fresh run where the confidence gate rejects EVERY document must
    return n_docs_out=0 with n_rejected set — not crash reading back a
    zero-row partitioned shards dir (code-review fix)."""
    import numpy as np

    from ocr_gang_spark.extraction_queries import OCR_REVIEW_PPM
    from ocr_gang_spark.synth import synth_documents

    docs = synth_documents(spark, 12, seed=5, skew_frac=0.0, media_prob=1.0)
    media = synth_media(spark, docs)
    wd = str(tmp_path / "mmzero")
    import ocr_gang_spark.mm_curation as mm

    orig = mm.mm_decisions

    def all_reject(extracted):
        d = orig(extracted)
        return d.select(
            "doc_id", F.lit(False).alias("accept"),
            F.lit("low_confidence").alias("reason"),
            "n_media", "min_margin_ppm", "seq_cost",
            F.lit(None).cast("bigint").alias("bin_id"),
            F.lit(None).cast("bigint").alias("bin_offset"),
        )

    mm.mm_decisions = all_reject
    try:
        res = run_mm_curation(spark, docs, media, wd, n_parts=4)
    finally:
        mm.mm_decisions = orig
    assert res.n_docs_out == 0 and res.n_rejected == 12 and res.n_bins == 0
