"""Task-named preprocessing stages the reference C source does NOT have.

The task-level description of OCR-GANG names "Otsu binarization,
Hough-transform deskew, connected-component line/word/character
segmentation", but the C source contains none of them (verified by
grep, SURVEY.md:22-31): binarization is a fixed threshold 180
(source/common.h:24, process.c:9-28) and segmentation is projection-
profile based (segmentation.c).  The acceptance invariant is
span-sequence equality against the *reference's* output, so these
stages ship as OPTIONAL, value-oracled preprocessing operators that
default OFF on the exact-match path.  They matter at web scale: real
scanned corpora are neither clean-thresholdable nor axis-aligned.

All kernels are pure NumPy (vectorized, deterministic, no RNG), called
from Arrow-batched UDFs like every other kernel in this package:

* ``otsu_threshold``      — exact Otsu (1979) between-class-variance
                            maximizer over the 256-bin histogram of the
                            reference's integer-division grayscale.
* ``rotate_nn``           — inverse-map nearest-neighbor rotation about
                            the image center; the general-size analog of
                            the reference's training-time rotation maps
                            (source/training/augmentation.c:10-75, the
                            only rotation machinery the C code has).
* ``hough_skew_deg``      — text-skew estimate from the Hough line
                            accumulator restricted to the near-horizontal
                            band, scored by the sum-of-squares peakedness
                            criterion (Srihari & Govindaraju 1989).
* ``label_components``    — 8-connectivity two-pass run-based
                            union-find connected-component labeling
                            (Rosenfeld & Pfaltz 1966 family).
* ``component_stats``     — per-component bbox + area, top-left order.
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np

from .image_ops import channel_sum


def gray_intdiv(rgb: np.ndarray) -> np.ndarray:
    """The reference's grayscale: ``(r+g+b)/3`` with C integer division
    (process.c:9-28), kept so Otsu thresholds are comparable 1:1 with
    the fixed BW_THRESHOLD=180.  (h, w, 3) uint8 -> (h, w) uint8."""
    return (channel_sum(rgb) // 3).astype(np.uint8)


def otsu_threshold(gray: np.ndarray) -> int:
    """Otsu's method, exact and deterministic.

    Maximizes the between-class variance
    ``sigma_b^2(t) = w0(t) * w1(t) * (mu0(t) - mu1(t))^2`` where class 0
    is pixels with value <= t.  Computed in integer arithmetic scaled by
    the total count (no float cancellation): maximize
    ``(cum1(t) * N - cum0(t) * S)^2 / (cum0(t) * (N - cum0(t)))`` via
    cross-multiplied integer comparison is overkill here — float64 on
    <= 2^53-magnitude integers is exact for any image under ~1e6 px per
    side, so float64 it is, with the SMALLEST maximizing t on ties
    (ties happen on two-level images, where every t in the gap between
    the levels yields the same partition).
    """
    if gray.size == 0:
        return 0
    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    n = hist.sum()
    omega0 = np.cumsum(hist)  # class-0 count for t = 0..255
    mu_t = np.cumsum(hist * np.arange(256))  # class-0 value mass
    mu_total = mu_t[-1]
    omega1 = n - omega0
    # sigma_b^2 * n^2 = (mu_t * n - mu_total * omega0)^2 / (omega0*omega1)
    num = (mu_t * n - mu_total * omega0) ** 2
    den = omega0 * omega1
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma = np.where(den > 0, num / den, -1.0)
    return int(np.argmax(sigma))  # argmax returns the first (smallest) t


def binarize_otsu(rgb: np.ndarray) -> Tuple[np.ndarray, int]:
    """Otsu-thresholded binarization in the reference's pixel encoding
    (ink=0, background=255): pixel -> 255 iff gray > t.  Returns
    (bw uint8 in {0,255}, threshold).  On the reference's convention
    (``>= 180`` is background) a fixed-threshold image equals the Otsu
    image whenever t lands in [ink_level, 179] — which a clean bimodal
    page guarantees."""
    g = gray_intdiv(rgb)
    t = otsu_threshold(g)
    return np.where(g > t, np.uint8(255), np.uint8(0)), t


def rotate_nn(img: np.ndarray, deg: float, fill: int = 255) -> np.ndarray:
    """Nearest-neighbor rotation by ``deg`` (counterclockwise in image
    row/col coordinates) about the image center, inverse-mapped so every
    output pixel is defined; out-of-range sources become ``fill``.

    The general-size analog of the reference's precomputed 28x28
    integer rotation maps (augmentation.c:10-75, center 13.5) — same
    construction: output (y, x) reads source
    ``(cy + (y-cy)cos + (x-cx)sin, cx - (y-cy)sin + (x-cx)cos)``
    rounded to nearest."""
    h, w = img.shape[:2]
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    rad = np.deg2rad(deg)
    c, s = np.cos(rad), np.sin(rad)
    yy, xx = np.meshgrid(np.arange(h) - cy, np.arange(w) - cx, indexing="ij")
    sy = np.rint(cy + yy * c + xx * s).astype(np.int64)
    sx = np.rint(cx - yy * s + xx * c).astype(np.int64)
    ok = (sy >= 0) & (sy < h) & (sx >= 0) & (sx < w)
    out = np.full(img.shape, fill, dtype=img.dtype)
    out[ok] = img[sy[ok], sx[ok]]
    return out


def hough_skew_deg(
    bw: np.ndarray, max_deg: float = 8.0, step_deg: float = 0.25
) -> float:
    """Estimate the skew of a binarized text page (ink=0) in degrees.

    Hough transform restricted to the near-horizontal angle band: for
    each candidate angle t, every ink pixel votes for its line offset
    ``rho = y*cos(t) + x*sin(t)`` (the distance parameter of the line
    family with slope -tan(t), i.e. of a page rotate_nn-rotated by +t);
    at the true skew the votes concentrate on the text baselines, so
    the accumulator column is maximally peaky.  The sign convention
    makes the return value EQUAL the rotate_nn angle that produced the
    skew, so ``rotate_nn(bw, -skew)`` deskews.
    Peakedness is the classic sum-of-squares criterion.  Deterministic
    tie-break: smallest |angle|, then the smaller angle.

    Returns the estimated skew; rotating by ``-skew`` (rotate_nn)
    deskews.  Memory is O(n_ink) — votes are computed one angle at a
    time, never as an (n_angles, n_ink) matrix (a dense 2000x3000 scan
    would make that half a gigabyte per page inside an Arrow batch).
    Pages with more than ~1M ink pixels vote on a deterministic
    every-k-th subsample: skew is a one-parameter estimate, for which
    1M systematically-spaced pixels are statistically identical to 10M.
    """
    ys, xs = np.nonzero(bw == 0)
    if ys.size == 0:
        return 0.0
    _MAX_VOTERS = 1_000_000
    if ys.size > _MAX_VOTERS:
        k = -(-ys.size // _MAX_VOTERS)  # ceil; nonzero order is row-major
        ys, xs = ys[::k], xs[::k]
    ysf = ys.astype(np.float64)
    xsf = xs.astype(np.float64)
    angles = np.arange(-max_deg, max_deg + step_deg / 2, step_deg)
    rads = np.deg2rad(angles)
    # INTEGER offset makes every vote non-negative without touching the
    # rounding (rint(v + n) == rint(v) + n for integer n), so the score
    # is identical to binning the raw rho values
    offset = int(np.ceil(np.sin(np.deg2rad(max_deg)) * float(xs.max()))) + 2
    scores = np.empty(len(angles), dtype=np.float64)
    for i, rad in enumerate(rads):
        rho = np.rint(np.cos(rad) * ysf + np.sin(rad) * xsf).astype(np.int64) + offset
        counts = np.bincount(rho)
        scores[i] = np.dot(counts, counts)
    best = np.flatnonzero(scores == scores.max())
    # smallest |angle| wins, then the smaller (more negative) angle
    best = best[np.lexsort((angles[best], np.abs(angles[best])))]
    return float(angles[best[0]])


def deskew(bw: np.ndarray, max_deg: float = 8.0, step_deg: float = 0.25
           ) -> Tuple[np.ndarray, float]:
    """Detect skew and rotate it out (background fill 255).  Returns
    (deskewed bw, detected skew in degrees)."""
    skew = hough_skew_deg(bw, max_deg, step_deg)
    if skew == 0.0:
        return bw, 0.0
    return rotate_nn(bw, -skew, fill=255), skew


def label_components(bw: np.ndarray) -> Tuple[np.ndarray, int]:
    """8-connectivity connected-component labeling of ink (pixel == 0).

    Run-based two-pass algorithm: compress each row into maximal ink
    runs, union-find runs of adjacent rows whose column extents touch
    or overlap (8-connectivity widens the previous row's extent by one
    on each side), then relabel 1..n in first-touch (top-left scan)
    order so labels are deterministic.  Per-row work is a two-pointer
    merge over the runs — O(runs) after the vectorized run extraction,
    no per-pixel Python.

    Returns (labels int32 (h, w), 0 = background; n components).
    """
    h, w = bw.shape
    ink = bw == 0
    # vectorized run extraction over the whole image: pad a background
    # column between rows so runs never straddle a row boundary
    padded = np.zeros((h, w + 1), dtype=bool)
    padded[:, :w] = ink
    flat = padded.ravel()
    diff = np.diff(flat.astype(np.int8))
    starts = np.flatnonzero(diff == 1) + 1
    ends = np.flatnonzero(diff == -1) + 1
    if flat[0]:
        starts = np.concatenate(([0], starts))
    # a trailing run cannot happen (last padded column is background)
    n_runs = len(starts)
    if n_runs == 0:
        return np.zeros((h, w), dtype=np.int32), 0
    run_row = starts // (w + 1)
    run_s = starts % (w + 1)
    run_e = ends - run_row * (w + 1)  # exclusive col end

    parent = np.arange(n_runs, dtype=np.int64)

    def find(i: int) -> int:
        root = i
        while parent[root] != root:
            root = parent[root]
        while parent[i] != root:  # path compression
            parent[i], i = root, parent[i]
        return root

    # rows are sorted by construction; merge adjacent rows two-pointer
    row_first = np.searchsorted(run_row, np.arange(h), side="left")
    row_last = np.searchsorted(run_row, np.arange(h), side="right")
    for r in range(1, h):
        i, i_end = int(row_first[r - 1]), int(row_last[r - 1])
        j, j_end = int(row_first[r]), int(row_last[r])
        while i < i_end and j < j_end:
            # 8-connectivity: prev run [s-1, e+1) vs cur run [s, e)
            if run_e[i] + 1 > run_s[j] and run_e[j] > run_s[i] - 1:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
            # advance whichever run ends first
            if run_e[i] < run_e[j]:
                i += 1
            else:
                j += 1

    roots = np.array([find(i) for i in range(n_runs)], dtype=np.int64)
    # deterministic labels: 1..n in order of first (top-left) appearance
    _, first_idx, inv = np.unique(roots, return_index=True, return_inverse=True)
    order = np.argsort(np.argsort(first_idx))
    run_label = (order[inv] + 1).astype(np.int32)

    labels = np.zeros((h, w), dtype=np.int32)
    for k in range(n_runs):
        labels[run_row[k], run_s[k]:run_e[k]] = run_label[k]
    return labels, int(run_label.max())


def component_stats(bw: np.ndarray) -> List[Tuple[int, int, int, int, int, int]]:
    """Per-component (label, y0, y1, x0, x1, area) with [y0, y1) x
    [x0, x1) bboxes, in label (= top-left first-touch) order."""
    labels, n = label_components(bw)
    if n == 0:
        return []
    ys, xs = np.nonzero(labels)
    lab = labels[ys, xs]
    area = np.bincount(lab, minlength=n + 1)
    y0 = np.full(n + 1, np.iinfo(np.int64).max)
    x0 = np.full(n + 1, np.iinfo(np.int64).max)
    y1 = np.full(n + 1, -1)
    x1 = np.full(n + 1, -1)
    np.minimum.at(y0, lab, ys)
    np.minimum.at(x0, lab, xs)
    np.maximum.at(y1, lab, ys)
    np.maximum.at(x1, lab, xs)
    return [
        (k, int(y0[k]), int(y1[k]) + 1, int(x0[k]), int(x1[k]) + 1, int(area[k]))
        for k in range(1, n + 1)
    ]
