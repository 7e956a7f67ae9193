"""Compare a job's written output with the generator's expected table.

Outputs are read with pyarrow straight from the written parquet files,
so the check shares no code path with the job it checks.
"""

from __future__ import annotations

import pyarrow.dataset as ds


def _rows(path: str, columns: list[str]) -> list[dict]:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    ).to_pylist()


def _norm(spans: list[dict]) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def check_extraction(out_dir: str, expected: dict) -> set[str]:
    """run_extraction output: every document once, spans equal to the
    expected spans in offset order.  Returns the doc ids that are
    missing, mismatched or carry a ``kind='error'`` span."""
    seen: dict[str, list] = {}
    bad = set()
    for r in _rows(out_dir, ["doc_id", "spans"]):
        if r["doc_id"] in seen or r["doc_id"] not in expected:
            bad.add(r["doc_id"])
        seen[r["doc_id"]] = r["spans"]
    for doc_id, spans in expected.items():
        got = seen.get(doc_id)
        if got is None or _norm(got) != _norm(spans):
            bad.add(doc_id)
    return bad
