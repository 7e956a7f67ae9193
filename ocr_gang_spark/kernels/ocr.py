"""Fused OCR kernel: page images -> recognized text + page confidence.

This is the oracle for the whole media-span path: the exact composition
``PerformOCR`` runs (reference source/ocr/ocr.c:112-175) — binarize ->
segment -> matrixify -> classify -> assemble.  There is ONE walk,
:func:`ocr_pages_to_text_margins`: the softmax the reference already
computes before ``IndexAnswer`` (ocr.c:158) yields the top1-top2
confidence margin alongside the argmax, so text and page confidence
come out of the same forward.  The Spark pipeline calls it on Arrow
batches; :func:`ocr_pages_to_text` and :func:`extract_text` are
text-only views of it.

Result assembly (``build_ocr_result`` ocr.c:87-110): characters of each
line concatenated in order, NULL matrices emit ' ', lines joined with a
single '\\n' (none after the last line).  Zero lines -> empty string.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Iterable, List

import numpy as np

from .image_ops import binarize, segment_page
from .nn import OcrWeights, classify_margin_ppm

# Content-addressed memoization (semantically transparent: identical
# input bytes -> identical output by purity of the kernels).  Real
# corpora repeat glyph shapes heavily, so the executor-local LRUs turn
# the per-glyph matrixify and NN cost into dict lookups for repeats;
# each Spark python worker is single-threaded, so no locking is needed.
# Both are trimmed after every call, so neither outgrows its bound
# between calls.
_GLYPH_MEMO_MAX = 65536
_MAT_CACHE_MAX = 16384
_MAT_CACHE: OrderedDict = OrderedDict()  # (crop shape, bytes) -> matrix|None


def _trim(cache: OrderedDict, bound: int) -> None:
    while len(cache) > bound:
        cache.popitem(last=False)


def _glyph_memo(weights: OcrWeights) -> OrderedDict:
    """matrix bytes -> (char, margin_ppm).  The memo rides on the
    weights object (one broadcast value per worker), so different
    weights can never cross-contaminate."""
    memo = getattr(weights, "_glyph_memo", None)
    if memo is None:
        memo = OrderedDict()
        object.__setattr__(weights, "_glyph_memo", memo)
    return memo


def _dedup_layouts(pages, memo):
    """binarize -> segment (content-addressed matrix memo) -> glyph memo
    probe -> novel-matrix dedup.  A 3-D ``(h, w, 3)`` page is RGB and is
    binarized; a 2-D ``(h, w)`` page is taken as already binarized.

    Returns (layouts, novel, novel_keys).  Layout slots per line:
    ``None`` (space) | a memoized ``(char, ppm)`` pair | an int index
    into ``novel``, which the caller classifies once."""
    layouts: List[list] = []
    novel: List[np.ndarray] = []
    novel_keys: List[bytes] = []
    pending: dict = {}
    try:
        for page in pages:
            bw = binarize(page) if page.ndim == 3 else page
            layout = []
            for line in segment_page(bw, matrix_cache=_MAT_CACHE):
                slots = []
                for mat in line:
                    if mat is None:
                        slots.append(None)
                        continue
                    key = mat.tobytes()
                    hit = memo.get(key)
                    if hit is not None:
                        memo.move_to_end(key)
                        slots.append(hit)
                        continue
                    idx = pending.get(key)
                    if idx is None:
                        idx = len(novel)
                        pending[key] = idx
                        novel.append(mat)
                        novel_keys.append(key)
                    slots.append(idx)
                layout.append(slots)
            layouts.append(layout)
    finally:
        _trim(_MAT_CACHE, _MAT_CACHE_MAX)
    return layouts, novel, novel_keys


def ocr_pages_to_text_margins(pages: Iterable[np.ndarray], weights: OcrWeights):
    """Batched OCR with per-page confidence: returns
    ``(texts, [(n_glyphs, min_margin_ppm | None, sum_margin_ppm)])``.

    Pages are ``(h, w, 3)`` RGB or ``(h, w)`` already-binarized arrays.
    Segmentation runs per page; classification is deduplicated by
    matrix content against the cross-batch memo and batched across
    every novel glyph of the batch (one chunked conv + two matmuls
    total), so repeats cost a dict lookup.  Margins are aggregated per
    glyph INSTANCE (a repeated shape counts each occurrence); a page
    with zero glyphs has stats ``(0, None, 0)``."""
    memo = _glyph_memo(weights)
    layouts, novel, novel_keys = _dedup_layouts(pages, memo)

    resolved: list = []
    if novel:
        # uint8 {0,1} stack: the binary conv LUT needs no float64 input,
        # and an (N,28,28) float64 stack is 8x the memory traffic
        chars, ppms = classify_margin_ppm(np.stack(novel), weights)
        resolved = [(str(c), int(p)) for c, p in zip(chars, ppms)]
        memo.update(zip(novel_keys, resolved))
        _trim(memo, _GLYPH_MEMO_MAX)

    texts, stats = [], []
    for layout in layouts:
        text_lines = []
        ppm_vals = []
        for slots in layout:
            chs = []
            for s in slots:
                if s is None:
                    chs.append(" ")
                    continue
                ch, ppm = resolved[s] if isinstance(s, int) else s
                chs.append(ch)
                ppm_vals.append(ppm)
            text_lines.append("".join(chs))
        texts.append("\n".join(text_lines))
        if ppm_vals:
            stats.append((len(ppm_vals), min(ppm_vals), sum(ppm_vals)))
        else:
            stats.append((0, None, 0))
    return texts, stats


def ocr_pages_to_text(pages: Iterable[np.ndarray], weights: OcrWeights) -> List[str]:
    """Texts only of :func:`ocr_pages_to_text_margins`."""
    return ocr_pages_to_text_margins(pages, weights)[0]


def extract_text(rgb: np.ndarray, weights: OcrWeights) -> str:
    """OCR one page image ((h, w, 3) uint8 RGB) into its text string."""
    return ocr_pages_to_text([rgb], weights)[0]
