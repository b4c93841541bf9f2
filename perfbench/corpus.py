"""Seeded benchmark corpus, generated once per seed and cached on disk.

The corpus is the program's own generator output:
``datagen.write_documents_parquet(seed=seed, include_fixtures=True,
heavy_docs=2)`` over ``N_DOCS`` synthetic documents, so it holds the 28
fixture documents, two 20k-span whales and log-normal filler (median about
120 spans, about 7% media spans).
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

N_DOCS = 1792
HEAVY_DOCS = 2
WARMUP_DOCS = 36  # plus the 28 fixtures: one small batch
WARMUP_SHARDS = 4  # one warm-up task per core starts every Python worker


def _generate(path: str, seed: int, n_docs: int, heavy_docs: int,
              shards: int = 1) -> None:
    from grobid_clinical_report_spark import datagen

    tmp = f"{path}.tmp-{os.getpid()}"
    datagen.write_documents_parquet(
        tmp, n_docs=n_docs, seed=seed, include_fixtures=True,
        heavy_docs=heavy_docs, shards=shards,
    )
    os.replace(tmp, path)


class Corpus:
    """Paths and counts of one seed's corpus. ``gen_s`` is the time spent
    generating in this process (0 when the cache was warm)."""

    def __init__(self, work_dir: str, seed: int):
        self.seed = seed
        self.dir = os.path.join(work_dir, "corpus", f"seed={seed}-n={N_DOCS}")
        self.docs = os.path.join(self.dir, "docs.parquet")
        self.warmup = os.path.join(self.dir, "warmup.parquet")
        os.makedirs(self.dir, exist_ok=True)
        t0 = time.perf_counter()
        if not os.path.exists(self.docs):
            _generate(self.docs, seed, N_DOCS, HEAVY_DOCS)
        if not os.path.exists(self.warmup):
            # its own seed stream: the warm-up filler is not timed input
            _generate(self.warmup, seed + 1_000_003, WARMUP_DOCS, 0,
                      shards=WARMUP_SHARDS)
        self.gen_s = time.perf_counter() - t0
        self.n_docs = pq.ParquetFile(self.docs).metadata.num_rows

    def table(self):
        return pq.read_table(self.docs)
