"""Output checks: fixture span sequences, doc coverage and the pinned digest.

The digest is order-sensitive within a document (span order is the output
contract) and independent of row order across documents (Spark partitioning
may emit documents in any order).
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

DIGESTS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "digests.json")


def digest(table: pa.Table) -> str:
    """sha256 over (doc_id, span count) per document and over every span's
    (kind, text, media_ref, offset), documents sorted by doc_id."""
    table = table.select(["doc_id", "spans"]).combine_chunks()
    table = table.take(pc.sort_indices(table, [("doc_id", "ascending")]))
    spans = table.column("spans").combine_chunks()
    flat = pc.list_flatten(spans)
    h = hashlib.sha256()
    ids = table.column("doc_id").to_pylist()
    h.update("\x1f".join(ids).encode())
    h.update(
        pc.list_value_length(spans).fill_null(0).to_numpy(
            zero_copy_only=False).astype(np.int64).tobytes()
    )
    if len(flat):
        frame = pd.DataFrame({
            name: flat.field(name).to_pandas()
            for name in ("kind", "text", "media_ref", "offset")
        })
        frame["media_ref"] = frame["media_ref"].fillna("\x00")
        rows = pd.util.hash_pandas_object(frame, index=False).to_numpy()
        h.update(rows.astype(np.uint64).tobytes())
    return h.hexdigest()


def fixture_failures(table: pa.Table, expected: dict[str, list]) -> list[str]:
    """doc_ids whose (kind, text, media_ref) sequence differs from the
    pinned fixture expectation (a missing fixture doc also fails)."""
    wanted = pa.array(sorted(expected))
    rows = table.filter(pc.is_in(table.column("doc_id"), wanted)).to_pylist()
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"])
                      for s in r["spans"]]
        for r in rows
    }
    return [
        doc_id for doc_id, exp in sorted(expected.items())
        if got.get(doc_id) != [tuple(e) for e in exp]
    ]


def missing_docs(table: pa.Table, want_ids: pa.Array) -> int:
    """Input documents with no output row, plus duplicate output rows."""
    got = table.column("doc_id")
    present = pc.is_in(want_ids, got.combine_chunks())
    missing = len(want_ids) - pc.sum(present).as_py()
    dupes = len(got) - len(pc.unique(got))
    return int(missing + dupes)


def load_pins() -> dict:
    try:
        with open(DIGESTS_FILE) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def pinned(workload: str, seed: int) -> str | None:
    return load_pins().get(workload, {}).get(str(seed))


class Check:
    """Per-document failure tally for one run."""

    def __init__(self, attempted: int):
        self.attempted = attempted
        self.failed_docs: set[str] = set()
        self.n_missing = 0
        self.all_failed = False
        self.notes: list[str] = []

    def fail(self, doc_ids: list[str], note: str) -> None:
        if doc_ids:
            self.failed_docs.update(doc_ids)
            self.notes.append(f"{note}: {doc_ids[:5]}")

    def fail_all(self, note: str) -> None:
        self.all_failed = True
        self.notes.append(note)

    @property
    def failed(self) -> int:
        if self.all_failed:
            return self.attempted
        return min(self.attempted, len(self.failed_docs) + self.n_missing)

    @property
    def correct(self) -> bool:
        return self.failed == 0


def check_output(check: Check, table: pa.Table, want_ids: pa.Array,
                 expected: dict, workload: str, seed: int) -> str:
    """Runs every output check into ``check``; returns the digest."""
    check.n_missing = missing_docs(table, want_ids)
    if check.n_missing:
        check.notes.append(f"missing/duplicate docs: {check.n_missing}")
    check.fail(fixture_failures(table, expected), "fixture mismatch")
    got = digest(table)
    pin = pinned(workload, seed)
    if pin is not None and pin != got:
        check.fail_all(f"digest {got[:12]} != pinned {pin[:12]}")
    elif pin is None:
        check.notes.append(f"no pinned digest for {workload} seed {seed}")
    return got
