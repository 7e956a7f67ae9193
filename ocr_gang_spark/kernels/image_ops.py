"""Oracle-exact image kernels (binarize + projection-profile segmentation).

Each function reproduces a reference C routine to the integer-division
level; file:line citations point into /root/reference (read-only study
copy of theolebever/OCR-GANG).  All arrays are NumPy; nothing here
touches Spark — the Spark pipeline calls these inside Arrow-batched
UDFs, and the unit tests pin them with hand-enumerable micro-cases.

Reference pixel encoding: the C code works on an SDL surface mutated in
place — binarized pixels are 0 (ink) or 255 (background), all-white
rows/columns are repainted (128,0,0) as in-band "separator" markers and
inserted spaces are painted (128,128,0).  Here the same information is
carried out-of-band as boolean marker masks, which is semantically
identical because every reference scan distinguishes only
red==0 / red==255 / red==128 at the probed pixel.

BW_THRESHOLD = 180 (reference source/common.h:24)
IMAGE_SIZE   = 28  (reference source/common.h:25)
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import numpy as np

BW_THRESHOLD = 180
IMAGE_SIZE = 28
INITIAL_CHAR_SIZE = 20  # seed of the running-average fold, segmentation.c:69


def binarize(rgb: np.ndarray) -> np.ndarray:
    """K1 — grayscale + fixed-threshold binarization.

    Reference ``black_and_white`` (source/process/process.c:9-28):
    ``average = (r + g + b) / 3`` with C **integer division** (the
    Uint8 operands promote to int; the truncating quotient is then
    stored in a float), pixel -> 255 if ``average >= 180`` else 0.

    Input (h, w, 3) uint8 RGB; output (h, w) uint8 in {0, 255}.
    """
    # exact rewrite of the C semantics with minimal memory traffic:
    # (r+g+b)/3 >= 180 (truncating int division, non-negative operands)
    # <=> r+g+b >= 540
    s = channel_sum(rgb)
    return np.where(s >= 3 * BW_THRESHOLD, np.uint8(255), np.uint8(0))


def channel_sum(rgb: np.ndarray) -> np.ndarray:
    """``r + g + b`` of an (h, w, 3) page as (h, w) uint16 (max 765),
    equal to ``rgb.sum(axis=2, dtype=np.uint16)``.  Two whole-plane
    adds instead of NumPy's reduction over the length-3 inner axis,
    which is several times slower per page."""
    r, g, b = np.moveaxis(rgb, -1, 0)
    s = np.add(r, g, dtype=np.uint16, casting="unsafe")
    return np.add(s, b, out=s, casting="unsafe")


def row_marker_mask(bw: np.ndarray) -> np.ndarray:
    """G1 — mark all-white rows (line separators).

    Reference ``DrawRedLines`` (source/segmentation/segmentation.c:9-33):
    a row is repainted as a separator iff **no** pixel in it has red==0.
    After binarization pixels are {0, 255}, so marker rows are exactly
    the rows containing no ink.  Returns bool (h,) — True = separator.
    """
    return ~np.any(bw == 0, axis=1)


def col_marker_mask(bloc: np.ndarray) -> np.ndarray:
    """G4 — mark all-white columns within a line bloc.

    Reference ``DrawLinesUp`` (segmentation.c:188-211), the transpose of
    G1.  Returns bool (w,) — True = separator column.
    """
    return ~np.any(bloc == 0, axis=0)


def runs_of_nonmarker(marker: np.ndarray) -> List[Tuple[int, int]]:
    """G2 — maximal runs of non-marker positions, as [start, end) pairs.

    Reference ``CountBlocs`` (segmentation.c:35-63) scans column x=0
    top-down: a run starts at a pixel with red==0 or 255 (non-marker)
    and ends at the first red==128 position or the image edge (the C
    loop reads one pixel past the end there — benign; semantics are
    "run ends at the edge").  ``DivideIntoBlocs`` (segmentation.c:108-131)
    extracts exactly these [y_start, y) extents.
    """
    m = np.asarray(marker, dtype=bool)
    if m.size == 0:
        return []
    nonm = ~m
    diff = np.diff(nonm.astype(np.int8))
    starts = list(np.flatnonzero(diff == 1) + 1)
    ends = list(np.flatnonzero(diff == -1) + 1)
    if nonm[0]:
        starts.insert(0, 0)
    if nonm[-1]:
        ends.append(m.size)
    return list(zip(starts, ends))


def size_of_char(col_marker: np.ndarray) -> int:
    """G5 — order-dependent exponential-decay mean char width.

    Reference ``SizeOfChar`` (segmentation.c:65-95): fold over the char
    runs of the bloc, ``charSize = (charSize + run_width) / 2`` with C
    integer division (both operands non-negative => floor), seeded at 20.
    """
    char_size = INITIAL_CHAR_SIZE
    for s, e in runs_of_nonmarker(col_marker):
        char_size = (char_size + (e - s)) // 2
    return char_size


def char_items(col_marker: np.ndarray) -> List[Tuple[str, int, int]]:
    """G6+G7 — ordered char/space items of one line bloc.

    Faithful two-phase simulation of the reference:

    Phase 1, ``CountChars`` (segmentation.c:213-259): scan columns with a
    gap counter that (a) increments at the top of every iteration,
    (b) resets to 0 at each char-run start (which also re-arms the
    one-space-per-gap latch), and (c) when the counter is **exactly
    equal** to ``spaceSize = (SizeOfChar/4)*3`` (integer divisions) after
    at least one char run, paints the current column yellow and counts a
    space.  Consequences pinned by tests: a gap of G white columns
    between runs inserts a space iff G >= spaceSize + 1; the gap before
    the first run never inserts one; a trailing gap can.

    Phase 2, extraction inside ``DivideIntoBlocs`` (segmentation.c:139-180):
    re-scan the bloc; yellow column -> space item, non-marker run ->
    glyph item [start, end); the separator column that terminated a run
    is skipped without inspection.  If phase 1 counted more items than
    phase 2 emits (possible only in the degenerate spaceSize==0 edge),
    the reference leaves the tail slots NULL (calloc) which downstream
    reads as spaces — reproduced here by padding.

    Returns a list of ("glyph", start, end) / ("space", col, col) items
    in document order.
    """
    m = np.asarray(col_marker, dtype=bool)
    w = m.size
    space_size = (size_of_char(m) // 4) * 3

    # --- phase 1: count + yellow-paint simulation ---
    yellow: set[int] = set()
    count = 0
    cur = 0
    insertspace = True
    i = 0
    while i < w:
        cur += 1
        if not m[i]:
            insertspace = True
            cur = 0
            e = i
            while True:
                e += 1
                if e >= w or m[e]:
                    break
            count += 1
            i = e
        if insertspace and count != 0 and cur == space_size:
            insertspace = False
            if i < w:  # the C code would paint (and count) even at i==w; see pad below
                yellow.add(i)
            count += 1
        i += 1

    # --- phase 2: extraction scan ---
    items: List[Tuple[str, int, int]] = []
    x = 0
    while x < w and len(items) < count:
        if x in yellow:
            items.append(("space", x, x))
            x += 1
            continue
        if not m[x]:
            s = x
            while x < w and not m[x]:
                x += 1
            items.append(("glyph", s, x))
            x += 1  # skip the terminating separator column (never inspected)
            continue
        x += 1
    while len(items) < count:  # calloc'd NULL tail slots == spaces
        items.append(("space", -1, -1))
    return items


_RESIZE_IDX_CACHE: dict = {}


def _resize_idx(sy: int, sx: int, fy: int, fx: int):
    key = (sy, sx, fy, fx)
    v = _RESIZE_IDX_CACHE.get(key)
    if v is None:
        v = (
            (np.arange(fy) * sy // fy)[:, None],
            np.arange(fx) * sx // fx,
        )
        if len(_RESIZE_IDX_CACHE) < 4096:
            _RESIZE_IDX_CACHE[key] = v
    return v


def resize1(mat: np.ndarray, fx: int, fy: int) -> np.ndarray:
    """K3 — nearest-neighbor resample with floor source indexing.

    Reference ``Resize1`` (segmentation.c:261-278):
    ``res[y*fx+x] = mat[(y*sy/fy)*sx + (x*sx/fx)]`` — C integer division.
    (Index vectors are memoized by shape: glyph crops repeat a handful of
    sizes, and this sits on the hot per-glyph path.)
    """
    sy, sx = mat.shape
    idx_y, idx_x = _resize_idx(sy, sx, fy, fx)
    return mat[idx_y, idx_x]


def glyph_to_matrix(crop: np.ndarray) -> Optional[np.ndarray]:
    """K4+K3 — tight bbox, square pad, resample to 28x28 binary {0,1}.

    Reference ``ImageToMatrix`` (segmentation.c:281-371): ink = pixels
    with red < 180; no ink -> NULL (space).  Square canvas
    ``size = max(bw, bh)`` with integer-division offsets
    ``size/2 - bw/2`` / ``size/2 - bh/2``, then ``Resize1`` to 28x28.

    ``crop`` is the glyph crop (full bloc height x run width, values
    {0, 255}).  The reference first pastes the crop centered on a white
    square surface (``DivideIntoBlocs`` segmentation.c:165-179) and then
    re-crops to the tight ink bbox — the paste is lossless (canvas >=
    crop, offsets >= 0), so the tight-bbox matrix computed directly from
    the crop is identical; tests pin this equivalence.
    """
    ink = crop < BW_THRESHOLD
    ys, xs = np.nonzero(ink)
    if ys.size == 0:
        return None
    # np.nonzero scans row-major, so ys is sorted; xs is not
    min_y, max_y = int(ys[0]), int(ys[-1])
    min_x, max_x = int(xs.min()), int(xs.max())
    bw = max_x - min_x + 1
    bh = max_y - min_y + 1
    size = bw if bw > bh else bh
    off_x = size // 2 - bw // 2
    off_y = size // 2 - bh // 2
    # uint8 {0,1}: 8x less memory traffic than int64 and 8x smaller
    # content-address keys; the classifier converts to float64 itself
    padded = np.zeros((size, size), dtype=np.uint8)
    padded[off_y : off_y + bh, off_x : off_x + bw] = ink[
        min_y : max_y + 1, min_x : max_x + 1
    ]
    return resize1(padded, IMAGE_SIZE, IMAGE_SIZE)


def glyph_matrices_batch(crops: List[np.ndarray]) -> List[Optional[np.ndarray]]:
    """Batched :func:`glyph_to_matrix` — identical outputs, one call.

    Crops are grouped by shape; within a group the bbox scan (the
    per-glyph numpy-call overhead that dominates segmentation cost) is
    one vectorized pass, and when every member shares the same bbox
    geometry — the common case for a font whose glyphs have full-extent
    ink, and exactly the page-renderer's ring-atlas regime — the
    pad+resample runs as one fancy-index over the stacked array.
    Members with divergent bboxes fall back to the per-item kernel with
    their precomputed bounds.  Bit-identical to the scalar path (pinned
    by tests).
    """
    out: List[Optional[np.ndarray]] = [None] * len(crops)
    groups: dict = {}
    for i, c in enumerate(crops):
        groups.setdefault(c.shape, []).append(i)
    for shape, idxs in groups.items():
        h, w = shape
        A = np.stack([crops[i] for i in idxs])
        ink = A < BW_THRESHOLD
        rows = ink.any(axis=2)
        cols = ink.any(axis=1)
        has = rows.any(axis=1)
        miny = rows.argmax(axis=1)
        maxy = h - 1 - rows[:, ::-1].argmax(axis=1)
        minx = cols.argmax(axis=1)
        maxx = w - 1 - cols[:, ::-1].argmax(axis=1)
        bws = maxx - minx + 1
        bhs = maxy - miny + 1
        if has.all() and (miny == miny[0]).all() and (minx == minx[0]).all() and (
            bws == bws[0]
        ).all() and (bhs == bhs[0]).all():
            bw0, bh0 = int(bws[0]), int(bhs[0])
            y0, x0 = int(miny[0]), int(minx[0])
            size = bw0 if bw0 > bh0 else bh0
            off_x = size // 2 - bw0 // 2
            off_y = size // 2 - bh0 // 2
            padded = np.zeros((len(idxs), size, size), dtype=np.uint8)
            padded[:, off_y : off_y + bh0, off_x : off_x + bw0] = ink[
                :, y0 : y0 + bh0, x0 : x0 + bw0
            ]
            iy, ix = _resize_idx(size, size, IMAGE_SIZE, IMAGE_SIZE)
            mats = padded[:, iy, ix]
            for j, i in enumerate(idxs):
                out[i] = mats[j]
            continue
        for j, i in enumerate(idxs):
            if not has[j]:
                continue
            bw0, bh0 = int(bws[j]), int(bhs[j])
            size = bw0 if bw0 > bh0 else bh0
            off_x = size // 2 - bw0 // 2
            off_y = size // 2 - bh0 // 2
            padded = np.zeros((size, size), dtype=np.uint8)
            padded[off_y : off_y + bh0, off_x : off_x + bw0] = ink[
                j, miny[j] : maxy[j] + 1, minx[j] : maxx[j] + 1
            ]
            out[i] = resize1(padded, IMAGE_SIZE, IMAGE_SIZE)
    return out


def segment_page(
    bw: np.ndarray, matrix_cache: Optional[dict] = None
) -> List[List[Optional[np.ndarray]]]:
    """Full segmentation of a binarized page -> per-line glyph matrices.

    Composition of G1-G8 exactly as ``PerformOCR`` runs them
    (reference source/ocr/ocr.c:144-169): row markers -> line runs ->
    per-line column markers -> char/space items -> 28x28 matrices
    (None = space).  Returns a list of lines, each a list of
    Optional[(28,28) int matrix].

    ``matrix_cache`` optionally memoizes glyph_to_matrix by crop content
    (kernel is pure, so this is semantically transparent); the caller
    owns eviction.
    """
    lines: List[List[Optional[np.ndarray]]] = []
    pending: List[tuple] = []  # (line_idx, slot_idx, crop, cache_key|None)
    for y0, y1 in runs_of_nonmarker(row_marker_mask(bw)):
        bloc = bw[y0:y1, :]
        m = col_marker_mask(bloc)
        line: List[Optional[np.ndarray]] = []
        for kind, s, e in char_items(m):
            if kind == "space":
                line.append(None)
                continue
            crop = bloc[:, s:e]
            if matrix_cache is not None:
                key = (crop.shape, crop.tobytes())
                if key in matrix_cache:
                    line.append(matrix_cache[key])
                    continue
            else:
                key = None
            pending.append((len(lines), len(line), crop, key))
            line.append(None)  # placeholder, filled from the batch below
        lines.append(line)
    if pending:
        mats = glyph_matrices_batch([p[2] for p in pending])
        for (li, si, _crop, key), mat in zip(pending, mats):
            lines[li][si] = mat
            if key is not None:
                matrix_cache[key] = mat
    return lines


PHASH_DIM = 8  # 8x8 binary thumbprint -> 64 bits (one signed int64)
PHASH_VERIFY_DIM = 28  # in-bucket verify thumbnail (glyph-standard dims)


def phash64(bw: np.ndarray) -> int:
    """Perceptual thumbprint of a binarized page: K3 NN-resample
    (resize1, floor indexing) to PHASH_DIM x PHASH_DIM, ink bits
    (pixel == 0) packed row-major MSB-first into one signed 64-bit
    integer (two's complement — the top-left pixel is the sign bit, so
    the value round-trips exactly through Spark/parquet/DuckDB BIGINT).

    The image analog of a document fingerprint: visually-identical or
    near-identical pages collapse to the same 64-bit key, so duplicate
    imagery can be GROUPED with a plain hash aggregate (no pairwise
    comparison).  Honest birthday math at the stated 10^12-blob scale:
    expected random collisions ~ n^2/2^65 ≈ 2.7e4 at n=10^12 — tens of
    thousands of false-candidate buckets, each a pair or so (vs the
    previous 6x6=36-bit key, which averaged ~15 unrelated images in
    EVERY bucket).  That residual is exactly why the in-bucket exact
    verify (phash_verify) is LOAD-BEARING, not belt-and-braces: every
    candidate group is split by the 784-bit exact thumbnail before any
    keep/drop decision — grouping alone never merges."""
    t = resize1(bw, PHASH_DIM, PHASH_DIM)
    bits = (t == 0).ravel()
    return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)


def phash_verify(bw: np.ndarray) -> str:
    """Exact in-bucket verification key for phash64 candidate groups:
    md5 hex of the PHASH_VERIFY_DIM x PHASH_VERIFY_DIM (28x28, the
    K3/glyph-standard resample) binarized thumbnail's ink bits.

    Two images merge ONLY if both the 64-bit perceptual key AND this
    784-bit exact thumbnail agree — the LSH-then-verify pattern the
    text side already uses (textops.dedup_pipeline_decisions:
    candidates by banded MinHash, decisions by exact Jaccard).  A
    constructed phash64 collision (images differing at a pixel the 8x8
    floor-index resample never samples) therefore cannot be merged
    unless the 28x28 resample also misses the difference — 784 sampled
    binary pixels of unrelated pages in practice never all agree."""
    t = resize1(bw, PHASH_VERIFY_DIM, PHASH_VERIFY_DIM)
    import hashlib

    return hashlib.md5(np.packbits((t == 0).ravel()).tobytes()).hexdigest()
