"""Pin the expected output digest of every workload for a range of seeds.

    python3 perfbench/pin_digests.py --seeds 0-40 [--jobs 2]

The digests are computed in-process, without Spark, by the same mapper loop
the traced run checks against Spark (layers.extract_in_process). Run it
only at a commit whose outputs are known good: a later run of the
benchmark fails any workload whose output digest differs from the pin.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import sys
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

import verify  # noqa: E402


def seed_digests(seed: int) -> dict[str, str]:
    import pyarrow.compute as pc

    import corpus as corpus_mod
    import layers
    import workloads as wl

    corpus = corpus_mod.Corpus(WORK, seed)
    out: dict[str, str] = {}
    full = None
    for workload, mode in wl.MODES.items():
        if workload == "full_job":
            continue
        table, _ = layers.extract_in_process(corpus.docs, mode)
        out[workload] = verify.digest(table)
        if mode == "extract_full":
            full = table
    want = wl.job_input_ids(corpus)
    out["full_job"] = verify.digest(
        full.filter(pc.is_in(full.column("doc_id"), want)))
    return out


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", required=True, help="N or LO-HI")
    p.add_argument("--jobs", type=int, default=1)
    args = p.parse_args()
    seeds = _seeds(args.seeds)
    pins = verify.load_pins()
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(args.jobs, mp_context=ctx) as ex:
        for seed, d in zip(seeds, ex.map(seed_digests, seeds)):
            for workload, digest in d.items():
                pins.setdefault(workload, {})[str(seed)] = digest
            print(f"seed {seed}: {d}", file=sys.stderr, flush=True)
    pins = {w: dict(sorted(v.items(), key=lambda kv: int(kv[0])))
            for w, v in sorted(pins.items())}
    with open(verify.DIGESTS_FILE, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=False)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
