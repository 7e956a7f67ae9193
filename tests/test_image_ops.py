"""Micro-tests pinning the oracle kernels to the reference C semantics.

Every case here is hand-enumerable from the cited reference code
(integer divisions, exact-equality space rule, floor-index resampling).
"""

import numpy as np
import pytest

from ocr_gang_spark.kernels.image_ops import (
    binarize,
    channel_sum,
    char_items,
    col_marker_mask,
    glyph_to_matrix,
    resize1,
    row_marker_mask,
    runs_of_nonmarker,
    size_of_char,
)


def rgb(px):
    """Build an (h, w, 3) uint8 image from a nested list of (r,g,b)."""
    return np.array(px, dtype=np.uint8)


class TestBinarize:
    def test_integer_division_boundary(self):
        # (179+180+181)//3 == 180 >= 180 -> white; (178+180+181)//3 == 179 -> ink
        img = rgb([[(179, 180, 181), (178, 180, 181)]])
        assert binarize(img).tolist() == [[255, 0]]

    def test_truncation_not_rounding(self):
        # (179+179+181)//3 = 539//3 = 179 (true mean 179.67 would round to 180)
        img = rgb([[(179, 179, 181)]])
        assert binarize(img).tolist() == [[0]]

    def test_extremes(self):
        img = rgb([[(0, 0, 0), (255, 255, 255), (180, 180, 180)]])
        assert binarize(img).tolist() == [[0, 255, 255]]

    def test_channel_sum_matches_axis_reduction(self):
        # binarize and preproc.gray_intdiv read the page through
        # channel_sum; it must equal the uint16 reduction it replaced,
        # on random pages and at the sums around the 540 threshold and
        # the 765 maximum
        rng = np.random.default_rng(7)
        pages = [rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
                 for h, w in ((1, 1), (37, 53), (120, 300))]
        pages.append(rgb([[(179, 180, 180), (180, 180, 180), (255, 255, 255)]]))
        for page in pages:
            got = channel_sum(page)
            want = page.sum(axis=2, dtype=np.uint16)
            assert got.dtype == want.dtype and got.shape == want.shape
            assert np.array_equal(got, want)
        assert channel_sum(pages[-1]).tolist() == [[539, 540, 765]]


class TestMarkers:
    def test_row_marker(self):
        bw = np.array([[255, 255], [0, 255], [255, 255]], dtype=np.uint8)
        assert row_marker_mask(bw).tolist() == [True, False, True]

    def test_col_marker(self):
        bw = np.array([[255, 0, 255], [255, 255, 255]], dtype=np.uint8)
        assert col_marker_mask(bw).tolist() == [True, False, True]


class TestRuns:
    @pytest.mark.parametrize(
        "marker,expected",
        [
            ([True, True], []),
            ([False, False], [(0, 2)]),
            ([True, False, False, True], [(1, 3)]),
            ([False, True, False], [(0, 1), (2, 3)]),
            ([True, False, True, False, False, True, True, False], [(1, 2), (3, 5), (7, 8)]),
            ([], []),
        ],
    )
    def test_rle(self, marker, expected):
        assert runs_of_nonmarker(np.array(marker, dtype=bool)) == expected


def mask_with_runs(w, runs):
    m = np.ones(w, dtype=bool)
    for s, e in runs:
        m[s:e] = False
    return m


class TestSizeOfChar:
    def test_seed_only(self):
        # no runs -> stays at seed 20 (segmentation.c:69)
        assert size_of_char(np.ones(10, dtype=bool)) == 20

    def test_fold_integer_division(self):
        # widths [4]: (20+4)/2 = 12;  [4,3]: then (12+3)/2 = 7
        assert size_of_char(mask_with_runs(10, [(1, 5)])) == 12
        assert size_of_char(mask_with_runs(12, [(1, 5), (7, 10)])) == 7

    def test_order_dependence(self):
        # [3,4]: (20+3)/2 = 11, (11+4)/2 = 7 ; [4,3] also 7 — pick widths
        # where order matters: [2,8]: 11, 9 ; [8,2]: 14, 8
        assert size_of_char(mask_with_runs(16, [(1, 3), (5, 13)])) == 9
        assert size_of_char(mask_with_runs(16, [(1, 9), (11, 13)])) == 8

    def test_sixteen_px_glyphs_always_give_12_spacesize(self):
        # the atlas invariant: any count of 16-wide runs -> charSize 16..18
        # -> (charSize/4)*3 == 12
        for n in range(1, 8):
            runs, x = [], 1
            for _ in range(n):
                runs.append((x, x + 16))
                x += 18
            cs = size_of_char(mask_with_runs(x + 1, runs))
            assert (cs // 4) * 3 == 12


class TestCharItems:
    """Space rule (segmentation.c:213-259): runs of width 4,4 -> charSize
    fold 12, 8 -> spaceSize = (8/4)*3 = 6. A gap of G white columns
    between runs inserts a space iff G >= spaceSize+1 = 7, at most one
    per gap; the gap before the first run never does; a trailing gap can.
    """

    def test_gap_below_threshold_no_space(self):
        # runs [1,5) and [11,15): gap cols 5..10 -> G=6 -> no space
        m = mask_with_runs(17, [(1, 5), (11, 15)])
        assert char_items(m) == [("glyph", 1, 5), ("glyph", 11, 15)]

    def test_gap_at_threshold_inserts_space(self):
        # runs [1,5) and [12,16): G=7 -> one space, painted at col 5+6=11
        m = mask_with_runs(18, [(1, 5), (12, 16)])
        assert char_items(m) == [("glyph", 1, 5), ("space", 11, 11), ("glyph", 12, 16)]

    def test_huge_gap_single_space_latch(self):
        m = mask_with_runs(40, [(1, 5), (30, 34)])
        items = char_items(m)
        assert items == [("glyph", 1, 5), ("space", 11, 11), ("glyph", 30, 34)]

    def test_leading_gap_never_spaces(self):
        # single run of width 4 -> charSize 12, spaceSize 9; huge left margin
        m = mask_with_runs(40, [(30, 34)])
        items = [i for i in char_items(m) if i[0] == "space" and i[1] < 30]
        assert items == []

    def test_trailing_gap_spaces(self):
        # single run [1,5): charSize 12 -> spaceSize 9; trailing whites
        # from col 5: counter hits 9 at col 5+9=14, needs w-1 >= 14
        m = mask_with_runs(16, [(1, 5)])
        assert char_items(m) == [("glyph", 1, 5), ("space", 14, 14)]
        m = mask_with_runs(15, [(1, 5)])  # w-1 = 14 is the painted col... w=15 -> col 14 exists
        assert char_items(m) == [("glyph", 1, 5), ("space", 14, 14)]
        m = mask_with_runs(14, [(1, 5)])  # counter never reaches 9 before the edge
        assert char_items(m) == [("glyph", 1, 5)]

    def test_run_to_edge(self):
        # run ending at the image edge (the C loop's benign OOB read)
        m = mask_with_runs(8, [(3, 8)])
        assert char_items(m) == [("glyph", 3, 8)]

    def test_all_marker(self):
        assert char_items(np.ones(9, dtype=bool)) == []


class TestResize1:
    def test_floor_indexing(self):
        mat = np.arange(4).reshape(2, 2)
        out = resize1(mat, 4, 4)
        # src idx y: [0*2//4, 1*2//4, 2*2//4, 3*2//4] = [0,0,1,1]
        assert out.tolist() == [[0, 0, 1, 1], [0, 0, 1, 1], [2, 2, 3, 3], [2, 2, 3, 3]]

    def test_downsample_floor(self):
        mat = np.arange(9).reshape(3, 3)
        out = resize1(mat, 2, 2)
        # idx = [0*3//2, 1*3//2] = [0, 1]
        assert out.tolist() == [[0, 1], [3, 4]]


class TestGlyphToMatrix:
    def test_empty_crop_is_space(self):
        assert glyph_to_matrix(np.full((6, 4), 255, dtype=np.uint8)) is None

    def test_single_pixel_fills_matrix(self):
        crop = np.full((5, 5), 255, dtype=np.uint8)
        crop[2, 3] = 0
        out = glyph_to_matrix(crop)
        assert out.shape == (28, 28) and np.all(out == 1)

    def test_offsets_integer_division(self):
        # bbox 3 wide x 2 tall -> size 3, off_x = 3//2-3//2 = 0, off_y = 1-1 = 0
        crop = np.full((4, 5), 255, dtype=np.uint8)
        crop[1, 1:4] = 0
        crop[2, 1:4] = 0
        out = glyph_to_matrix(crop)
        # padded 3x3: rows 0-1 ink, row 2 zeros; resize idx = arange(28)*3//28
        idx = np.arange(28) * 3 // 28
        expected = np.zeros((3, 3), dtype=np.int64)
        expected[0:2, :] = 1
        assert np.array_equal(out, expected[np.ix_(idx, idx)])

    def test_equivalence_with_literal_canvas_path(self):
        """The reference pastes the crop onto a centered white square
        canvas (DivideIntoBlocs segmentation.c:165-179) before the tight
        bbox re-crop (ImageToMatrix) — prove the direct path identical.
        """
        rng = np.random.default_rng(7)
        for _ in range(200):
            h = int(rng.integers(1, 30))
            w = int(rng.integers(1, 30))
            crop = np.where(rng.random((h, w)) < 0.3, 0, 255).astype(np.uint8)

            # literal reference path
            size = max(w, h)
            canvas = np.full((size, size), 255, dtype=np.uint8)
            ox, oy = size // 2 - w // 2, size // 2 - h // 2
            canvas[oy : oy + h, ox : ox + w] = crop
            expected = glyph_to_matrix(canvas)

            got = glyph_to_matrix(crop)
            if expected is None:
                assert got is None
            else:
                assert np.array_equal(got, expected)


def test_glyph_matrices_batch_matches_scalar():
    """glyph_matrices_batch must be bit-identical to glyph_to_matrix on
    mixed shapes/densities including empty, solid, and ring-style crops
    (the vectorized uniform-bbox fast path and the per-item fallback)."""
    import numpy as np

    from ocr_gang_spark.kernels.image_ops import (
        glyph_matrices_batch,
        glyph_to_matrix,
    )

    rng = np.random.default_rng(123)
    crops = []
    for _ in range(200):
        h = int(rng.integers(1, 40))
        w = int(rng.integers(1, 40))
        d = rng.choice([0.0, 0.02, 0.3, 1.0])
        crops.append(np.where(rng.random((h, w)) < d, 0, 255).astype(np.uint8))
    for _ in range(50):  # uniform full-extent bbox group (ring atlas regime)
        c = np.full((20, 16), 255, np.uint8)
        c[0, :] = c[-1, :] = c[:, 0] = c[:, -1] = 0
        c[1:-1, 1:-1] = np.where(rng.random((18, 14)) < 0.3, 0, 255)
        crops.append(c)
    batch = glyph_matrices_batch(crops)
    for crop, got in zip(crops, batch):
        want = glyph_to_matrix(crop)
        assert (want is None) == (got is None)
        if want is not None:
            assert np.array_equal(want, got)


class TestPhash64:
    def test_all_white_and_all_black(self):
        import numpy as np

        from ocr_gang_spark.kernels.image_ops import phash64

        assert phash64(np.full((30, 40), 255, np.uint8)) == 0
        # all 64 ink bits set == two's-complement -1 (sign bit is the
        # top-left pixel; the value must round-trip through BIGINT)
        assert phash64(np.zeros((17, 23), np.uint8)) == -1

    def test_hand_case_left_half_ink(self):
        """Left half ink, right half white: each 8-px row packs to
        11110000 (floor indexing maps thumb x<4 to src x<w/2); the
        leading ink bit makes the packed value negative."""
        import numpy as np

        from ocr_gang_spark.kernels.image_ops import phash64

        img = np.full((16, 16), 255, np.uint8)
        img[:, :8] = 0
        row = 0b11110000
        expected = 0
        for _ in range(8):
            expected = (expected << 8) | row
        expected -= 1 << 64  # two's complement (top-left is ink)
        assert phash64(img) == expected

    def test_matches_brute_double_loop(self):
        import numpy as np

        from ocr_gang_spark.kernels.image_ops import PHASH_DIM, phash64

        rng = np.random.default_rng(7)
        for _ in range(25):
            h, w = rng.integers(9, 60, 2)
            img = (rng.random((h, w)) < 0.4).astype(np.uint8) * 255
            v = 0
            for y in range(PHASH_DIM):
                for x in range(PHASH_DIM):
                    v = (v << 1) | int(img[y * h // PHASH_DIM, x * w // PHASH_DIM] == 0)
            if v >= 1 << 63:
                v -= 1 << 64
            assert phash64(img) == v

    def test_constructed_collision_not_merged(self):
        """Two images that collide on the 64-bit perceptual key (they
        differ only at a pixel the 8x8 floor-index resample never
        samples) must NOT merge: the 28x28 verify key — part of the
        dedup group key — tells them apart.  This is the in-bucket
        verification the 36-bit predecessor lacked."""
        import numpy as np

        from ocr_gang_spark.kernels.image_ops import (
            PHASH_DIM,
            PHASH_VERIFY_DIM,
            phash64,
            phash_verify,
        )

        h = w = 56  # multiple of both 8 and 28
        a = np.full((h, w), 255, np.uint8)
        a[::3, ::5] = 0  # arbitrary texture
        b = a.copy()
        # pixel (1, 1): 8x8 samples rows/cols {0,7,14,...}, 28x28
        # samples every 2nd row/col incl. 1*56//28=2... pick a pixel
        # sampled by 28x28 but not by 8x8: row 2, col 2 (2*8//56 no —
        # sample sets: 8x8 -> y*56//8 = {0,7,...,49}; 28x28 ->
        # y*56//28 = {0,2,4,...,54}).  (2, 2) is in the 28x28 set and
        # not in the 8x8 set.
        eight = {y * h // PHASH_DIM for y in range(PHASH_DIM)}
        twenty8 = {y * h // PHASH_VERIFY_DIM for y in range(PHASH_VERIFY_DIM)}
        assert 2 in twenty8 and 2 not in eight
        b[2, 2] = 0 if a[2, 2] == 255 else 255
        assert phash64(a) == phash64(b)  # a genuine 64-bit collision
        assert phash_verify(a) != phash_verify(b)  # split in-bucket

    def test_injected_dups_are_binarize_identical_across_formats(self):
        """The dedup-injection contract: a dup ref's blob (re-encoded
        under its own format choice) decodes+binarizes to exactly its
        canonical source's pixels, so (phash64, verify) group them."""
        import numpy as np

        from ocr_gang_spark.kernels.bmp import decode_media_blob
        from ocr_gang_spark.kernels.image_ops import binarize, phash64, phash_verify
        from ocr_gang_spark.synth import (
            blob_for_dedup_ref,
            blob_for_ref,
            phash_dup_source_ref,
        )

        checked = 0
        for did in (3, 8, 13, 18, 23):
            ref = f"m42-doc-{did:08d}-1"
            src = phash_dup_source_ref(ref)
            assert src == f"m42-doc-{did - 3:08d}-1"
            bw_dup = binarize(decode_media_blob(blob_for_dedup_ref(ref)))
            bw_src = binarize(decode_media_blob(blob_for_ref(src)))
            assert np.array_equal(bw_dup, bw_src)
            assert phash64(bw_dup) == phash64(bw_src)
            assert phash_verify(bw_dup) == phash_verify(bw_src)
            # and the dup's OWN page is different (injection actually
            # replaced something)
            bw_own = binarize(decode_media_blob(blob_for_ref(ref)))
            assert phash_verify(bw_own) != phash_verify(bw_src)
            checked += 1
        assert checked == 5
        # non-dup refs render byte-identical blobs under both renderers
        assert blob_for_dedup_ref("m42-doc-00000004-1") == blob_for_ref(
            "m42-doc-00000004-1"
        )
