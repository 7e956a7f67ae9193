"""Spark pipeline == NumPy oracle, doc by doc (the BASELINE.json
span-sequence invariant: equality on (kind, text, media_ref, order))."""

import pytest

from ocr_gang_spark.atlas import page_for_ref
from ocr_gang_spark.kernels.html_strip import strip_html
from ocr_gang_spark.pipeline import (
    broadcast_weights,
    explode_spans,
    extract_documents,
    extraction_metrics,
)
from ocr_gang_spark.synth import (
    synth_doc_spans,
    synth_documents,
    synth_media,
    spans_from_testdata,
)

SEED = 77
N_DOCS = 30


def oracle_extract(seed: int, doc_id: str, **synth_kw) -> list:
    """Driver-side oracle: expected extracted span sequence of one doc."""
    out = []
    for s in synth_doc_spans(seed, doc_id, **synth_kw):
        if s["kind"] == "text":
            text = strip_html(s["text"])
        else:
            text = page_for_ref(s["media_ref"])[0]
        out.append((s["kind"], text, s["media_ref"], s["offset"]))
    return out


@pytest.fixture(scope="module")
def extracted(spark):
    docs = synth_documents(spark, N_DOCS, seed=SEED, skew_frac=0.1)
    media = synth_media(spark, docs)
    return {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in extract_documents(docs, media).collect()
    }


def test_every_doc_matches_oracle(extracted):
    assert len(extracted) == N_DOCS
    for i in range(N_DOCS):
        doc_id = f"doc-{i:08d}"
        expected = oracle_extract(SEED, doc_id, skew_frac=0.1)
        assert extracted[doc_id] == expected, f"span mismatch for {doc_id}"


def test_offsets_strictly_ordered(extracted):
    for doc_id, spans in extracted.items():
        offsets = [s[3] for s in spans]
        assert offsets == sorted(offsets) and len(set(offsets)) == len(offsets)


def test_skewed_docs_present(extracted):
    # skew_frac=0.1 over 30 docs should have produced at least one
    # media-heavy doc (>= 50 spans) — the tier the salting design targets
    assert any(len(s) >= 50 for s in extracted.values())


def test_missing_media_ref_is_loud_in_both_modes(spark):
    """Round-4 review: a blob-join miss used to be skipped silently in
    EVERY mode — a kind='media' span with NULL text that then vanished
    from rendered training text.  Now 'fail' kills the task naming the
    ref and 'quarantine' emits a visible kind='error' span."""
    docs = synth_documents(spark, 5, seed=3, skew_frac=0.0, media_prob=1.0)
    empty_media = spark.createDataFrame([], "media_ref string, bytes binary")
    with pytest.raises(Exception, match="missing media blob"):
        extract_documents(docs, empty_media).collect()
    rows = extract_documents(docs, empty_media, on_error="quarantine").collect()
    assert rows
    media_spans = [
        s for r in rows for s in r.spans if s.media_ref is not None
    ]
    assert media_spans
    assert all(
        s.kind == "error" and s.text.startswith("MissingBlob") for s in media_spans
    )


def test_all_media_failed_doc_gets_margin_zero_not_null(spark):
    """Round-4 review: a doc whose EVERY image failed used to aggregate
    a NULL doc_min_margin_ppm (F.min skips NULLs), indistinguishable
    from a media-free doc — the mm gate auto-accepted a total OCR
    failure.  Error spans now carry margin 0."""
    docs = synth_documents(spark, 4, seed=5, skew_frac=0.0, media_prob=1.0)
    empty_media = spark.createDataFrame([], "media_ref string, bytes binary")
    rows = extract_documents(
        docs, empty_media, on_error="quarantine", with_margins=True
    ).collect()
    assert rows
    for r in rows:
        has_error = any(s.kind == "error" for s in r.spans)
        if has_error:
            assert r.doc_min_margin_ppm == 0, r.doc_id


def test_empty_spans_doc_survives_extraction(spark):
    """Round-4 review: a doc with spans=[] was dropped by the plain
    explode — absent from output AND from lineage doc counts.  It must
    come out the other end with spans=[]."""
    from pyspark.sql import functions as F

    docs = synth_documents(spark, 4, seed=9, skew_frac=0.0)
    schema = docs.schema
    empty_doc = spark.createDataFrame(
        [("doc-empty", [])], schema=schema
    )
    media = synth_media(spark, docs)
    out = extract_documents(docs.unionByName(empty_doc), media).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(by_id) == 5
    assert by_id["doc-empty"].spans == []
    # the normal docs are unaffected
    assert all(len(by_id[f"doc-{i:08d}"].spans) > 0 for i in range(4))


def test_corrupt_blob_quarantine_vs_fail(spark):
    """on_error='quarantine' turns a corrupt blob into a kind='error'
    span (exception summary as text) while every other span of the
    corpus still extracts exactly; the default 'fail' raises."""
    from pyspark.sql import functions as F

    docs = synth_documents(spark, 6, seed=11, skew_frac=0.0, media_prob=1.0)
    media = synth_media(spark, docs)
    # corrupt exactly one blob (deterministic choice)
    bad_ref = media.select("media_ref").orderBy("media_ref").first()[0]
    corrupted = media.withColumn(
        "bytes",
        F.when(F.col("media_ref") == bad_ref,
               F.lit(b"\x00garbage-not-an-image")).otherwise(F.col("bytes")),
    )

    rows = extract_documents(docs, corrupted, on_error="quarantine").collect()
    flat = [(r.doc_id, s.kind, s.text, s.media_ref) for r in rows for s in r.spans]
    errors = [f for f in flat if f[1] == "error"]
    assert len(errors) == 1 and errors[0][3] == bad_ref
    assert "ValueError" in errors[0][2] or "Error" in errors[0][2]
    # every OTHER media span still matches the oracle exactly
    for doc_id, kind, text, ref in flat:
        if kind == "media" and ref != bad_ref and text is not None:
            assert text == page_for_ref(ref)[0]

    with pytest.raises(Exception):
        extract_documents(docs, corrupted, on_error="fail").collect()

    with pytest.raises(ValueError, match="on_error"):
        extract_documents(docs, corrupted, on_error="bogus")


def test_ocr_quarantine_fallback_isolates_raiser(monkeypatch):
    """The quarantine promise covers the OCR stage too: when batch OCR
    raises, the per-page fallback quarantines exactly the raising page
    and every healthy page in the Arrow batch still produces text
    (r3 self-review — previously only decode was inside the try)."""
    from ocr_gang_spark import pipeline

    pages = ["good-a", "pathological", "good-b"]
    idx = [0, 2, 5]  # batch positions of the decodable blobs
    errs = {}

    def fake_ocr(pgs, weights):
        if "pathological" in pgs:
            raise RuntimeError("segmentation blew up")
        return [p.upper() for p in pgs], [(0, None, 0)] * len(pgs)

    monkeypatch.setattr(pipeline, "ocr_pages_to_text_margins", fake_ocr)
    texts, stats, kept = pipeline._ocr_quarantine_fallback(
        pages, idx, errs, None
    )
    assert kept == [0, 5]
    assert texts == ["GOOD-A", "GOOD-B"]
    assert stats == [(0, None, 0), (0, None, 0)]
    assert list(errs) == [2] and "RuntimeError" in errs[2]


def test_metrics_match_span_counts(spark, extracted):
    docs = synth_documents(spark, N_DOCS, seed=SEED, skew_frac=0.1)
    media = synth_media(spark, docs)
    m = {r.kind: r.n_spans for r in extraction_metrics(
        extract_documents(docs, media)).collect()}
    expected_total = sum(len(s) for s in extracted.values())
    assert sum(m.values()) == expected_total


def test_explode_preserves_all_spans(spark):
    docs = synth_documents(spark, 10, seed=5)
    n_spans = explode_spans(docs).count()
    expected = sum(len(synth_doc_spans(5, f"doc-{i:08d}")) for i in range(10))
    assert n_spans == expected


def test_spans_from_testdata_deterministic(spark):
    sf = "/root/testdata/sf0.001"
    a = spans_from_testdata(spark, sf).orderBy("doc_id").limit(3).collect()
    b = spans_from_testdata(spark, sf).orderBy("doc_id").limit(3).collect()
    assert a == b
    for r in a:
        kinds = [s.kind for s in r.spans]
        assert kinds[0] == "text" and all(k == "media" for k in kinds[1:])


def test_extraction_over_testdata_runs(spark):
    docs = spans_from_testdata(spark, "/root/testdata/sf0.001").limit(8)
    media = synth_media(spark, docs)
    out = extract_documents(docs, media, broadcast_weights(spark))
    rows = out.collect()
    assert len(rows) == 8
    for r in rows:
        text0 = r.spans[0].text
        assert text0 is not None and "<" not in text0  # boilerplate stripped
        assert all(s.text for s in r.spans if s.kind == "media")


def test_span_input_order_invariance(spark):
    """north_rule: the output span sequence is (kind, text, media_ref,
    ORDER) — order must come from the offset column, never from the
    input array's storage order.  Reversing every document's spans
    array must produce an identical extraction."""
    from pyspark.sql import functions as F

    docs = synth_documents(spark, 12, seed=11, skew_frac=0.0, media_prob=0.7)
    media = synth_media(spark, docs)
    ordered = sorted(
        map(tuple, extract_documents(docs, media).select(
            "doc_id", "spans").collect())
    )
    shuffled_docs = docs.select(
        "doc_id", F.reverse("spans").alias("spans")
    )
    shuffled = sorted(
        map(tuple, extract_documents(shuffled_docs, media).select(
            "doc_id", "spans").collect())
    )
    assert ordered == shuffled


def test_reused_workers_hold_no_zip_finders(spark):
    """Each Python task starts with importlib.invalidate_caches(), which
    re-reads the archive of every cached zipimporter (pyspark.zip, the
    py4j zip, the spark-core jar): ~0.2 s per task.  After a warm
    extraction pass, a worker reused for the next task must hold no
    zipimporter in sys.path_importer_cache.

    A worker-only env var gives this test its own Python worker pool
    (pools are keyed by the function's env), so every reused worker the
    probe meets last ran an extraction task."""
    sc = spark.sparkContext
    sc.environment["OCR_GANG_ZIP_FINDER_PROBE"] = "1"
    try:
        docs = synth_documents(spark, 12, seed=21, skew_frac=0.0)
        media = synth_media(spark, docs)
        bc = broadcast_weights(spark)
        for _ in range(2):  # the second pass runs on reused workers
            extract_documents(docs, media, bc).write.format("noop").mode(
                "overwrite").save()

        def probe(batches):
            import sys
            import zipimport

            import pandas as pd

            n_zip = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
            # both extraction UDFs import html_strip when unpickled
            reused = "ocr_gang_spark.kernels.html_strip" in sys.modules
            for _ in batches:
                pass
            yield pd.DataFrame({"reused": [reused], "n_zip": [n_zip]})

        n_slots = sc.defaultParallelism
        rows = spark.range(n_slots, numPartitions=n_slots).mapInPandas(
            probe, "reused boolean, n_zip long").collect()
    finally:
        del sc.environment["OCR_GANG_ZIP_FINDER_PROBE"]
    reused = [r.n_zip for r in rows if r.reused]
    assert reused, rows
    assert reused == [0] * len(reused), rows
