"""Seeded inputs and expected outputs for the benchmark workloads.

Each workload reads shards of interleaved documents (SHARD_DOCS per
timed call; see there for why).  A shard is built
from the program's own synthetic generator (``synth.synth_doc_spans``
for the span lists, the ``blob_for_ref`` format mix for the media
bytes), so its rows are exactly what ``synth.synth_documents`` and
``synth.synth_media`` would produce for those doc ids.  Two choices
are the benchmark's own:

* stratified tiers: a shard holds exactly ``round(skew_frac * n_docs)``
  heavy-tier documents, taken in doc-id order, instead of a binomial
  draw.  The heavy tier carries ~40% of all blobs, so a binomial
  count would move docs/s by several per cent from seed to seed;
* disjoint doc-id ranges per shard, so no timed call re-reads the
  glyphs an earlier call already memoized.

Next to the inputs the generator writes the expected extraction: text
spans through the pinned strip spec (``EXPECTED_STRIP``, one entry per
synth HTML template, written out by hand from the spec in
``kernels/html_strip.py``), media spans through the page renderer's
own expected string.  Nothing here calls the program's extraction.
"""

from __future__ import annotations

import multiprocessing
import os
import re
import time
import zlib
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_gang_spark import synth
from ocr_gang_spark.atlas import page_for_ref, random_text, render_page


# Documents per timed call.  Each run_extraction call pays a fixed cost
# (64 part_id directories, the ledger append, job scheduling) of about
# 4.3 s on a 4-vCPU host; measured warm there, 500 documents per call ran
# 64-75 docs/s, 2000 ran 184-192 and 4000 ran 227-247, so the fixed cost
# is about half of a 600-document call.  A run affords about 20 s of
# timed job calls after its ~35 s set-up (JVM start, a cold call and a
# full-size warm one); a 600-document call takes 6-8 s there, so the
# window holds MIN_CALLS calls even when the host is contended.
SHARD_DOCS = 600


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int  # per shard
    skew_frac: float
    media_prob: float
    clean_pages: bool  # render media without glyph noise


WORKLOADS = {
    w.name: w
    for w in (
        Workload("extract_noisy", SHARD_DOCS, 0.01, 0.4, False),
        Workload("extract_clean", SHARD_DOCS, 0.01, 0.4, True),
    )
}

# synth HTML template -> its stripped text under the pinned strip spec
# (drop script/style/head/template blocks and comments, block ends and
# <br> become newlines, tags become spaces, entities decode, whitespace
# collapses, ends trimmed).  Keyed by the template itself, so a template
# change in synth fails generation instead of checking the wrong text.
EXPECTED_STRIP = {
    "<head><title>{w0}</title></head><div>{body}</div><!-- {w1} -->":
        "{body}",
    "<script>var a='{w0}';</script><p>{body}</p><p>{w1} &amp; {w2}</p>":
        "{body}\n{w1} & {w2}",
    "<style>.x{{color:red}}</style><h1>{w0}</h1><div>{body}</div>":
        "{w0}\n{body}",
    "<article>{body}<br>{w1} &lt;{w2}&gt;</article>":
        "{body}\n{w1} <{w2}>",
    "<ul><li>{w0}</li><li>{body}</li></ul><template>skip {w1}</template>":
        "{w0}\n{body}",
}

HEAVY_MIN_SPANS = 50  # synth's heavy tier draws 50..200 media spans
SHARD_STRIDE = 1_000_000  # doc-id range reserved per shard
DOCS_FILES = 8  # files per table, as synth_documents' 8 scan partitions


def _template_regex(tpl: str) -> re.Pattern:
    marked = tpl.format(**{k: f"\0{k}\0" for k in ("w0", "w1", "w2", "body")})
    parts = marked.split("\0")
    rx = "".join(
        re.escape(p) if i % 2 == 0 else f"(?P<{p}>[A-Za-z ]+)"
        for i, p in enumerate(parts)
    )
    return re.compile(rx + r"\Z")


_TEMPLATES = [(_template_regex(t), out) for t, out in EXPECTED_STRIP.items()]


def expected_strip(html: str) -> str:
    for rx, out in _TEMPLATES:
        m = rx.match(html)
        if m:
            return out.format(**m.groupdict())
    raise ValueError(f"text span matches no synth template: {html!r}")


def doc_spans(args: tuple[int, str, float, float]) -> tuple[str, list]:
    seed, doc_id, skew_frac, media_prob = args
    return doc_id, synth.synth_doc_spans(seed, doc_id, skew_frac, media_prob)


def render_blob(args: tuple[str, bool]) -> tuple[str, bytes, str]:
    """(ref, clean) -> (ref, blob bytes, expected OCR text)."""
    ref, clean = args
    if clean:
        page, expected = render_page(random_text(ref), key=ref, noise=False)
    else:
        expected, page = page_for_ref(ref)
    return ref, synth._encode_for_ref(page, ref), expected


SPAN_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
]))


def _write_chunks(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // DOCS_FILES)
    for k in range(DOCS_FILES):
        pq.write_table(table.slice(k * step, step), f"{path}/part-{k:02d}.parquet")


class Generator:
    """Writes shards under ``root``, building span lists and rendering
    blobs on a pool of ``procs`` spawned processes.  Use as a context
    manager so the pool ends."""

    def __init__(self, w: Workload, seed: int, root: str, procs: int):
        self.w, self.seed, self.root = w, seed, root
        self._procs = procs
        self._pool = None
        self.gen_s = 0.0

    def __enter__(self) -> "Generator":
        self._pool = multiprocessing.get_context("spawn").Pool(self._procs)
        return self

    @property
    def pids(self) -> set[int]:
        return {p.pid for p in self._pool._pool}

    def __exit__(self, *exc) -> None:
        self._pool.close()
        self._pool.join()

    def _docs(self, k: int, n_docs: int) -> list[tuple[str, list]]:
        """(doc_id, spans) of shard k: the first n_heavy heavy-tier and
        n_docs - n_heavy normal documents of its doc-id range."""
        w = self.w
        n_heavy = round(w.skew_frac * n_docs)
        want = {True: n_heavy, False: n_docs - n_heavy}
        out = []
        start = k * SHARD_STRIDE
        while want[True] or want[False]:
            if start + n_docs > (k + 1) * SHARD_STRIDE:
                raise RuntimeError("shard doc-id range exhausted")
            batch = self._pool.map(doc_spans, [
                (self.seed, f"doc-{i:08d}", w.skew_frac, w.media_prob)
                for i in range(start, start + n_docs)
            ], chunksize=32)
            start += n_docs
            for doc_id, spans in batch:
                heavy = len(spans) >= HEAVY_MIN_SPANS
                if want[heavy]:
                    want[heavy] -= 1
                    out.append((doc_id, spans))
        return out

    def shard(self, k: int, n_docs: int | None = None) -> "Shard":
        """Shard k, of ``n_docs`` documents (default: the workload's)."""
        t0 = time.perf_counter()
        docs = self._docs(k, n_docs or self.w.n_docs)
        refs = [s["media_ref"] for _, spans in docs for s in spans
                if s["kind"] == "media"]
        rendered = self._pool.map(
            render_blob, [(r, self.w.clean_pages) for r in refs], chunksize=64
        )
        ocr = {ref: text for ref, _blob, text in rendered}
        expected = {
            doc_id: [
                {**s, "text": ocr[s["media_ref"]] if s["kind"] == "media"
                 else expected_strip(s["text"])}
                for s in spans
            ]
            for doc_id, spans in docs
        }
        path = f"{self.root}/shard{k}"
        _write_chunks(pa.table({
            "doc_id": [d for d, _ in docs],
            "spans": pa.array([s for _, s in docs], SPAN_TYPE),
        }), f"{path}/docs")
        # media rows in ref-hash order, as synth_media's repartition
        rendered.sort(key=lambda r: zlib.crc32(r[0].encode()))
        _write_chunks(pa.table({
            "media_ref": [r for r, _, _ in rendered],
            "bytes": pa.array([b for _, b, _ in rendered], pa.binary()),
        }), f"{path}/media")
        pq.write_table(pa.table({
            "doc_id": list(expected),
            "spans": pa.array(list(expected.values()), SPAN_TYPE),
        }), f"{path}/expected.parquet")
        gen_s = time.perf_counter() - t0
        self.gen_s += gen_s
        return Shard(path, len(docs), len(refs), expected, gen_s)


@dataclass
class Shard:
    path: str
    n_docs: int
    n_blobs: int
    expected: dict  # doc_id -> expected extracted spans
    gen_s: float  # seconds the generator took to write it

    @property
    def docs(self) -> str:
        return f"{self.path}/docs"

    @property
    def media(self) -> str:
        return f"{self.path}/media"
