"""Deterministic synthetic corpus of interleaved text+media documents.

Generation happens ON THE EXECUTORS (mapInPandas over spark.range), so
the same code synthesizes 10^3 docs for tests and 10^9+ docs on a real
cluster without a driver bottleneck; everything derives from
sha256(seed, doc_id), no external data (driver instruction: synthesize
the input table deterministically at small scale).

Shapes follow BASELINE.json input_hint / FIXTURES.md §1-2:
  documents(doc_id string, spans array<struct<kind, text, media_ref, offset>>)
  media(media_ref string, bytes binary)  -- 24bpp BMP pages

A skewed tier (~``skew_frac`` of docs carrying ``heavy_spans`` media
spans) exercises the pipeline's skew handling.  Media blob content is a
pure function of media_ref (atlas.page_for_ref), so the media table can
be regenerated independently of the documents table and the expected
OCR text of every blob is known by construction.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .atlas import page_for_ref, random_text
from .kernels.bmp import encode_media_blob
from .kernels.jpeg import encode_jpeg_gray
from .kernels.png import encode_png

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
)
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
    ]
)

_HTML_TEMPLATES = [
    "<head><title>{w0}</title></head><div>{body}</div><!-- {w1} -->",
    "<script>var a='{w0}';</script><p>{body}</p><p>{w1} &amp; {w2}</p>",
    "<style>.x{{color:red}}</style><h1>{w0}</h1><div>{body}</div>",
    "<article>{body}<br>{w1} &lt;{w2}&gt;</article>",
    "<ul><li>{w0}</li><li>{body}</li></ul><template>skip {w1}</template>",
]


def _rng(*key) -> np.random.Generator:
    digest = hashlib.sha256(":".join(str(k) for k in key).encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def media_ref_for(seed: int, doc_id: str, span_idx: int) -> str:
    return f"m{seed}-{doc_id}-{span_idx}"


def synth_doc_spans(seed: int, doc_id: str, skew_frac: float = 0.01,
                    media_prob: float = 0.4, max_spans: int = 8,
                    heavy_spans: tuple = (50, 200)) -> List[dict]:
    """Pure function: the span list of one document."""
    rng = _rng("doc", seed, doc_id)
    if rng.random() < skew_frac:
        n_spans = int(rng.integers(heavy_spans[0], heavy_spans[1] + 1))
        kinds = ["media"] * n_spans  # media-heavy skew tier
    else:
        n_spans = int(rng.integers(1, max_spans + 1))
        kinds = ["media" if rng.random() < media_prob else "text" for _ in range(n_spans)]
    spans = []
    for i, kind in enumerate(kinds):
        if kind == "text":
            trng = _rng("t", seed, doc_id, i)
            tpl = _HTML_TEMPLATES[int(trng.integers(0, len(_HTML_TEMPLATES)))]
            words = [random_text(f"w:{seed}:{doc_id}:{i}:{j}", 1, 1, 6) for j in range(3)]
            body = " ".join(
                random_text(f"b:{seed}:{doc_id}:{i}:{j}", 1, 2, 7) for j in range(2)
            )
            spans.append(
                {"kind": "text",
                 "text": tpl.format(w0=words[0], w1=words[1], w2=words[2], body=body),
                 "media_ref": None, "offset": i}
            )
        else:
            spans.append(
                {"kind": "media", "text": None,
                 "media_ref": media_ref_for(seed, doc_id, i), "offset": i}
            )
    return spans


def synth_documents(spark: SparkSession, n_docs: int, seed: int = 42,
                    skew_frac: float = 0.01, media_prob: float = 0.4,
                    max_spans: int = 8, partitions: int | None = None,
                    heavy_spans: tuple = (50, 200)) -> DataFrame:
    """documents(doc_id, spans) generated on the executors.

    ``heavy_spans`` sizes the skewed tier's media-span count; the skew
    bench narrows ``skew_frac`` and widens ``heavy_spans`` to model the
    real straggler shape (a handful of huge hot keys) rather than many
    moderately-heavy keys that hash-average away."""
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids = [f"doc-{int(i):08d}" for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "spans": [
                        synth_doc_spans(seed, d, skew_frac, media_prob,
                                        max_spans, heavy_spans)
                        for d in doc_ids
                    ],
                }
            )

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen, schema=DOCUMENTS_SCHEMA)
    )


def synth_media(
    spark: SparkSession,
    docs: DataFrame,
    partitions: int | None = None,
    blob_fn=None,
) -> DataFrame:
    """media(media_ref, bytes) for every media span of ``docs``.

    Blob bytes are a pure function of media_ref, rendered on the
    executors.  Repartitioned by media_ref so render work spreads evenly
    even when one document carries hundreds of media spans.  ``blob_fn``
    swaps the renderer (default blob_for_ref); queries that need an
    inject-then-detect corpus variant (e.g. the duplicate-image slice of
    image_phash_dedup) pass their own pure-function renderer.
    """
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    if blob_fn is None:
        blob_fn = blob_for_ref
    refs = (
        docs.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .repartition(partitions, "media_ref")
    )

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [blob_fn(r) for r in pdf["media_ref"]]
            yield pd.DataFrame({"media_ref": pdf["media_ref"], "bytes": blobs})

    return refs.mapInPandas(render, schema=MEDIA_SCHEMA)


def blob_for_ref(ref: str) -> bytes:
    """Render + encode one media blob.  Deterministic format mix: ~1/4
    of refs encode as PNG, ~1/16 as baseline grayscale JPEG, the rest
    as zlib-wrapped BMP — the full autodetect decode surface
    (reference's IMG_Load handles BMP/PNG/JPG) runs under every
    pipeline test and driver query.  The JPEG slice is deliberately
    thin: its entropy decode is a sequential Python loop (~10ms/page vs
    ~4ms for the whole OCR of a lossless page), and q92 reconstruction
    is binarize-exact on this corpus (pinned by tests/test_jpeg.py), so
    extraction output is bit-identical across the mix."""
    return _encode_for_ref(page_for_ref(ref)[1], ref)


def _encode_for_ref(rgb: np.ndarray, ref: str) -> bytes:
    """The format-mix encoder both renderers share: which codec a ref
    gets is a pure function of the REF (not of the pixels), so
    blob_for_dedup_ref can render another ref's page under this ref's
    format and still be byte-identical to blob_for_ref whenever the
    page is the ref's own.  Single definition on purpose — the
    byte-identity contract for non-dup refs used to be maintained by
    keeping two copy-pasted branch sets in sync (round-4 review)."""
    digest = hashlib.sha256(("fmt:" + ref).encode()).digest()
    if digest[0] % 4 == 0:
        return encode_png(rgb, level=1)
    if digest[0] % 16 == 1:
        return encode_jpeg_gray(np.ascontiguousarray(rgb[:, :, 0]), 92)
    return encode_media_blob(rgb)


# Inject-then-detect duplicate images (image_phash_dedup): every
# document with doc_id % PHASH_DUP_EVERY == PHASH_DUP_OFFSET carries
# RE-ENCODES of another document's first page instead of its own pages
# — byte-different blobs (the format mix stays keyed by the dup ref, so
# a page often recurs as BMP in one blob and PNG/JPEG in another — the
# realistic "same image re-encoded" duplicate), pixel-identical after
# decode+binarize (JPEG q92 reconstruction is binarize-exact on this
# corpus, pinned by tests/test_jpeg.py).  The dedup query must find
# exactly these groups; the oracle derives the same groups relationally
# from this rule.
PHASH_DUP_EVERY = 5
PHASH_DUP_OFFSET = 3


# Inject-then-detect shifted binary duplicates (cdc_chunk_dedup):
# every two-span document's SECOND blob is its FIRST blob's exact bytes
# behind a ref-unique 64-byte header — the re-upload-with-new-metadata
# shape.  Fixed-size chunking shares nothing across such a pair (every
# boundary shifts); content-defined chunking must re-synchronize and
# share almost every chunk.  The oracle derives the pair structure
# relationally from this rule.
CDC_SHIFT_HEADER = 64


def cdc_shift_source_ref(ref: str) -> str | None:
    """Source ref whose bytes this ref re-uploads behind a header, or
    None (ref format m{seed}-doc-{did:08d}-{i}; every i=2 span shifts
    its own document's i=1 blob)."""
    head, did, i = ref.rsplit("-", 2)
    if int(i) == 2:
        return f"{head}-{did}-1"
    return None


def blob_for_cdc_ref(ref: str) -> bytes:
    """blob_for_ref with the shifted-duplicate injection applied."""
    src = cdc_shift_source_ref(ref)
    if src is None:
        return blob_for_ref(ref)
    header = hashlib.sha256(("cdc-hdr:" + ref).encode()).digest() * 2
    return header[:CDC_SHIFT_HEADER] + blob_for_ref(src)


def phash_dup_source_ref(ref: str) -> str | None:
    """Canonical ref whose page this ref duplicates, or None if the ref
    renders its own page (ref format m{seed}-doc-{did:08d}-{i})."""
    head, did, _i = ref.rsplit("-", 2)
    did = int(did)
    if did % PHASH_DUP_EVERY == PHASH_DUP_OFFSET and did >= PHASH_DUP_OFFSET:
        return f"{head}-{did - PHASH_DUP_OFFSET:08d}-1"
    return None


def blob_for_dedup_ref(ref: str) -> bytes:
    """blob_for_ref with the duplicate-image injection applied: dup
    refs render the canonical ref's page but keep their OWN format
    choice (re-encoded duplicates, not byte copies)."""
    src = phash_dup_source_ref(ref)
    if src is None:
        return blob_for_ref(ref)
    return _encode_for_ref(page_for_ref(src)[1], ref)


# Deterministic scan degradation (inject-then-detect, same honesty
# pattern as lang-ID and deskew): every OCR_NOISE_EVERY-th document's
# pages are stored degraded — salt-and-pepper flips at OCR_NOISE_RATE
# on the rendered page, then the ref's own codec (blob_for_degraded_ref)
# — so the confidence router and the mm gate read the same degraded
# scans as input.
OCR_NOISE_EVERY = 5
OCR_NOISE_RATE = 0.05


_SYNTH_REF = re.compile(r"m-?\d+-doc-(\d{8,})-\d+")


def is_degraded_ref(ref: str) -> bool:
    """True for synth refs (m{seed}-doc-{did:08d}-{i}) whose document is
    in the degraded slice; False for every other ref."""
    m = _SYNTH_REF.fullmatch(ref)
    return m is not None and int(m.group(1)) % OCR_NOISE_EVERY == 0


def inject_scan_noise_rgb(ref: str, rgb: np.ndarray) -> np.ndarray:
    """Invert OCR_NOISE_RATE of the page's pixels across channels, at a
    (h, w) mask seeded by ref (pure function: fixture generation
    replays it exactly)."""
    rng = _rng("scan-noise", ref)
    flips = rng.random(rgb.shape[:2]) < OCR_NOISE_RATE
    out = rgb.copy()
    out[flips] = 255 - out[flips]
    return out


def blob_for_degraded_ref(ref: str) -> bytes:
    """blob_for_ref with the scan degradation applied: degraded refs
    encode their noisy page under the ref's own codec, every other ref
    is byte-identical to blob_for_ref."""
    rgb = page_for_ref(ref)[1]
    if is_degraded_ref(ref):
        rgb = inject_scan_noise_rgb(ref, rgb)
    return _encode_for_ref(rgb, ref)


# the ONE boilerplate-wrap template (round-4 review: three verbatim
# copies — here, html_strip_dirty, warc_extract_main_content — could
# drift while each stayed self-consistent with its own oracle, eroding
# the "wrap-then-strip puts the real branches under the value hash"
# guarantee without any test failing)
BOILERPLATE_TPL = (
    "<head><title>t</title></head><div>%s</div>"
    "<script>var x=1;</script><p>tail &amp; done</p>"
)


def spans_from_testdata(spark: SparkSession, sf_dir: str, seed: int = 42,
                        media_per_doc: int = 2) -> DataFrame:
    """Derive a spans-shaped documents table from the driver-generated
    ``documents.parquet`` (TESTDATA.md): span 0 wraps the row's text in a
    deterministic HTML template; ``1 + doc_id % media_per_doc`` media
    spans follow.  Deterministic given sf_dir — used by entry() and the
    extraction queries so the flagship runs over the sanctioned testdata.
    """
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tpl = BOILERPLATE_TPL
    # two-step select: reusing the name doc_id for a differently-typed
    # column in the same projection trips Spark's self-alias resolution
    base = raw.select(
        F.format_string("doc-%08d", F.col("doc_id").cast("long")).alias("doc_id"),
        (F.col("doc_id").cast("long") % media_per_doc + 1).cast("int").alias("n_media"),
        "text",
    )
    text_span = F.struct(
        F.lit("text").alias("kind"),
        F.format_string(tpl, F.col("text")).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    media_spans = F.transform(
        F.sequence(F.lit(1), F.col("n_media")),
        lambda i: F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.format_string(f"m{seed}-%s-%s", F.col("doc_id"), i.cast("string")).alias(
                "media_ref"
            ),
            i.cast("int").alias("offset"),
        ),
    )
    return base.select(
        "doc_id",
        F.concat(F.array(text_span), media_spans).alias("spans"),
    )


_FLAT_VOCAB = [
    "the", "spark", "join", "filter", "window", "row", "stream", "data",
    "group", "sort", "merge", "fast", "key", "order", "table", "scan",
    "batch", "value", "line", "agg", "slow", "small", "big", "hash",
    "part", "query", "customer",
]

FLAT_DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

# every DUP_EVERY-th doc is a near-duplicate of the doc DUP_EVERY rows
# earlier (one word substituted), so the curation job's dedup stage has
# deterministic work at every corpus size
FLAT_DUP_EVERY = 20


def _flat_text(seed: int, i: int) -> str:
    """Deterministic doc text engineered against the quality rules:
    ~35% small-vocab words + ~65% unique-ish 5-char tokens keeps the
    distinct ratio above the Gopher floor; two cohorts deliberately
    fail (i%17==3: too short; i%13==5: no stopword) so the quality
    stage always has real work."""
    rng = _rng("flat", seed, str(i))
    if i % 17 == 3:
        n_words = int(rng.integers(5, 20))
    else:
        n_words = int(rng.integers(35, 80))
    words = [
        _FLAT_VOCAB[int(rng.integers(0, len(_FLAT_VOCAB)))]
        if rng.random() < 0.35
        else "t" + format(int(rng.integers(0, 16 ** 4)), "04x")
        for _ in range(n_words)
    ]
    if i % 13 != 5 and n_words >= 3:
        words[1] = "the"
    elif i % 13 == 5:
        words = [w for w in words if w != "the"]
    return " ".join(words)


def synth_flat_documents(spark: SparkSession, n_docs: int, seed: int = 42,
                         partitions: int | None = None) -> DataFrame:
    """Flat documents table (the testdata `documents.parquet` shape:
    doc_id bigint, text, lang, source, n_chars) generated on the
    executors — the curation job's synth input.  Vocabulary includes the
    quality filter's stopword and 3-6 char words so most docs pass the
    Gopher rules; injected near-dups (one-word substitution every
    FLAT_DUP_EVERY docs) give the dedup stage deterministic work."""
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    langs = ["en", "de", "fr", "es", "zh"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in (int(x) for x in pdf["id"]):
                # base is i-1, which is never itself at a dup position,
                # so its _flat_text IS its actual text (a base at
                # i - FLAT_DUP_EVERY would itself be a dup whose real
                # text diverged from _flat_text)
                if i % FLAT_DUP_EVERY == FLAT_DUP_EVERY - 1 and i >= FLAT_DUP_EVERY:
                    base = _flat_text(seed, i - 1).split(" ")
                    pos = int(_rng("dup", seed, str(i)).integers(0, len(base)))
                    base[pos] = "customer" if base[pos] != "customer" else "query"
                    text = " ".join(base)
                else:
                    text = _flat_text(seed, i)
                rows.append(
                    {
                        "doc_id": i,
                        "text": text,
                        "lang": langs[i % len(langs)],
                        "source": f"src{i % 7}",
                        "n_chars": len(text),
                    }
                )
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen, schema=FLAT_DOCUMENTS_SCHEMA)
    )
