"""OCR confidence routing: per-glyph softmax top1-top2 margins
(kernels/nn.classify_margin_ppm), per-page aggregates from the one OCR
walk (kernels/ocr.ocr_pages_to_text_margins) and its memos, and the
inject-then-detect driver query
(extraction_queries.ocr_confidence_stats)."""

import numpy as np
import pytest

from ocr_gang_spark.atlas import page_for_ref, render_page
from ocr_gang_spark.extraction_queries import OCR_REVIEW_PPM, ocr_confidence_stats
from ocr_gang_spark.kernels.bmp import decode_media_blob
from ocr_gang_spark.kernels.image_ops import binarize, segment_page
from ocr_gang_spark.kernels.nn import (
    classify,
    classify_margin_ppm,
    load_weights,
    mlp_forward,
    softmax,
    cnn_forward_binary,
    conv_lut_for,
)
from ocr_gang_spark.kernels import ocr
from ocr_gang_spark.kernels.ocr import (
    ocr_pages_to_text,
    ocr_pages_to_text_margins,
)
from ocr_gang_spark.pipeline import default_weights
from ocr_gang_spark.synth import (
    OCR_NOISE_EVERY,
    blob_for_degraded_ref,
    blob_for_ref,
    inject_scan_noise_rgb,
    is_degraded_ref,
)


@pytest.fixture(scope="module")
def weights():
    return load_weights("fixtures/ocrwb.txt", "fixtures/cnnwb.txt")


@pytest.fixture(scope="module")
def glyphs(weights):
    _, page = page_for_ref("m42-doc-00000007-1")
    bw = binarize(page)
    mats = [m for line in segment_page(bw) for m in line if m is not None]
    assert mats
    return np.stack(mats)


def test_chars_match_classify(glyphs, weights):
    chars, ppm = classify_margin_ppm(glyphs, weights)
    assert np.array_equal(chars, classify(glyphs, weights))
    assert ppm.dtype == np.int64
    assert ((ppm >= 0) & (ppm <= 1_000_000)).all()


def test_margin_matches_direct_softmax(glyphs, weights):
    _, ppm = classify_margin_ppm(glyphs, weights)
    logits = mlp_forward(cnn_forward_binary(glyphs, conv_lut_for(weights)), weights)
    for i in range(len(glyphs)):
        p = sorted(softmax(logits[i]))
        assert ppm[i] == int(np.floor((p[-1] - p[-2]) * 1e6))


def test_page_stats_aggregate_per_instance(glyphs, weights):
    # a page-of-batches view: duplicate page must double the sum, keep min
    (n1, mn1, sm1), (n2, mn2, sm2) = ocr_pages_to_text_margins(
        [binarize(page_for_ref("m42-doc-00000007-1")[1])] * 2, weights
    )[1]
    assert (n1, mn1, sm1) == (n2, mn2, sm2)
    _, ppm = classify_margin_ppm(glyphs, weights)
    # page glyph multiset == segmented glyph multiset
    assert n1 == len(glyphs)
    assert sm1 == int(ppm.sum()) and mn1 == int(ppm.min())


def test_empty_page(weights):
    blank = np.full((40, 60), 255, dtype=np.uint8)
    assert ocr_pages_to_text_margins([blank], weights)[1] == [(0, None, 0)]


def test_noise_injection_is_deterministic():
    rgb = page_for_ref("m42-doc-00000005-1")[1]
    a = inject_scan_noise_rgb("m42-doc-00000005-1", rgb)
    b = inject_scan_noise_rgb("m42-doc-00000005-1", rgb)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, rgb)
    assert blob_for_degraded_ref("m42-doc-00000005-1") == blob_for_degraded_ref(
        "m42-doc-00000005-1"
    )


# one degraded and one clean ref per codec of the synth format mix
_CODEC_REFS = {
    "zlib-bmp": ["m42-doc-00000000-1", "m42-doc-00000001-1"],
    "png": ["m42-doc-00000010-1", "m42-doc-00000003-2"],
    "jpeg": ["m42-doc-00000005-2", "m42-doc-00000027-2"],
}


@pytest.mark.parametrize("codec", sorted(_CODEC_REFS))
def test_degraded_blob_differs_only_for_degraded_refs(codec):
    degraded, clean = _CODEC_REFS[codec]
    assert is_degraded_ref(degraded) and not is_degraded_ref(clean)
    assert blob_for_degraded_ref(clean) == blob_for_ref(clean)
    assert blob_for_degraded_ref(degraded) != blob_for_ref(degraded)
    # the ref keeps its own codec: same leading magic bytes
    for ref in (degraded, clean):
        assert blob_for_degraded_ref(ref)[:2] == blob_for_ref(ref)[:2]


def test_degraded_slice_is_synth_refs_only():
    # synth refs: every OCR_NOISE_EVERY-th document, any seed / span
    assert is_degraded_ref("m42-doc-00000005-1")
    assert is_degraded_ref("m7-doc-00000010-0")
    assert is_degraded_ref("m3-doc-123000005-12")
    assert not is_degraded_ref("m42-doc-00000007-1")
    assert not is_degraded_ref("m42-doc-00000011-0")
    # any other ref is never degraded, and never raises
    for ref in ["s3://bucket/img.png", "img-7", "scan-page-a-1", "", "doc-00000005-1",
                "m42-doc-0005-1", "m42-doc-00000005-x", "xm42-doc-00000005-1"]:
        assert not is_degraded_ref(ref), ref


def test_router_scores_the_stored_degraded_blob(spark, weights):
    # the router injects nothing: its stats for a degraded ref are the
    # OCR walk's stats on that ref's stored blob, every codec included
    from ocr_gang_spark.extraction_queries import confidence_stats_from
    from ocr_gang_spark.pipeline import broadcast_weights

    refs = [d for d, _ in _CODEC_REFS.values()]
    media = spark.createDataFrame(
        [(r, blob_for_degraded_ref(r)) for r in refs],
        "media_ref string, bytes binary",
    )
    got = {
        r.media_ref: r
        for r in confidence_stats_from(media, broadcast_weights(spark)).collect()
    }
    for ref in refs:
        page = decode_media_blob(blob_for_degraded_ref(ref))
        ((n, mn, sm),) = ocr_pages_to_text_margins([page], weights)[1]
        r = got[ref]
        assert r.degraded
        assert (r.n_glyphs, r.min_margin_ppm, r.sum_margin_ppm) == (n, mn, sm)


def _mixed_pages():
    refs = [
        "m42-doc-00000005-1",  # degraded slice member
        "m42-doc-00000007-1",
        "m42-doc-00000012-0",
    ]
    pages = []
    for ref in refs:
        _, rgb = page_for_ref(ref)
        if int(ref.split("-")[2]) % OCR_NOISE_EVERY == 0:
            rgb = inject_scan_noise_rgb(ref, rgb)
        pages.append(rgb)
    pages.append(np.full((40, 60, 3), 255, dtype=np.uint8))  # empty page
    return pages


def test_margins_path_text_identical_and_stats_match(weights):
    # texts byte-identical to the text-only view; RGB pages and their
    # binarized 2-D twins give the same (texts, stats)
    pages = _mixed_pages()
    texts, stats = ocr_pages_to_text_margins(pages, weights)
    assert texts == ocr_pages_to_text(pages, weights)
    assert (texts, stats) == ocr_pages_to_text_margins(
        [binarize(p) for p in pages], weights
    )
    assert stats[-1] == (0, None, 0)


def test_text_path_warms_memo_margins_keep_ppm():
    # the text-only view fills the shared glyph memo; a margin call
    # served from it must match a cold call on fresh weights
    pages = _mixed_pages()
    warm = default_weights()
    ocr_pages_to_text(pages, warm)
    assert warm._glyph_memo
    cold = ocr_pages_to_text_margins(pages, default_weights())
    assert ocr_pages_to_text_margins(pages, warm) == cold
    assert any(mn is not None and mn < 1_000_000 for _, mn, _ in cold[1])


def test_matrix_memo_bounded_after_call(weights, monkeypatch):
    # noisy glyphs are all distinct crops, so one page overruns a small
    # bound within a single call; the bound must hold once it returns
    monkeypatch.setattr(ocr, "_MAT_CACHE_MAX", 8)
    page, _ = render_page("Bounded matrix memo\nevery crop distinct", key="mat-bound")
    ocr_pages_to_text([page], weights)
    assert len(ocr._MAT_CACHE) <= 8


def test_router_flags_degraded_slice(spark):
    rows = ocr_confidence_stats(spark, "/root/testdata/sf0.001").collect()
    clean = [r for r in rows if not r.degraded]
    degraded = [r for r in rows if r.degraded]
    assert clean and degraded
    # degraded flag is exactly the injected slice
    for r in rows:
        assert r.degraded == (int(r.media_ref.split("-")[2]) % OCR_NOISE_EVERY == 0)
    # zero false positives; high recall on the injected degradation
    assert all(r.decision == "accept" for r in clean)
    flagged = sum(1 for r in degraded if r.decision == "review")
    assert flagged >= 0.9 * len(degraded)
    # decision is the documented threshold rule
    for r in rows:
        want = (
            "review"
            if r.min_margin_ppm is not None and r.min_margin_ppm < OCR_REVIEW_PPM
            else "accept"
        )
        assert r.decision == want
