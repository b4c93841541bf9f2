"""The local[1] leg of ``scaling_eff``: scan docs/s on one core, in its own
process (a fresh JVM), over the same cached corpus. Prints one JSON line.

    python3 perfbench/local1.py --workload full_scan --seed 1 --seconds 8
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

import corpus as corpus_mod  # noqa: E402
import sparkctl  # noqa: E402
import workloads as wl  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(wl.MODES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args()
    mode = wl.MODES[args.workload]
    corpus = corpus_mod.Corpus(WORK, args.seed)
    sparkctl.configure_env(ROOT, WORK)
    setup = wl.Setup(args.workload, corpus, 0.0, cpus=1)
    try:
        timed = wl.timed_loop(
            args.seconds,
            lambda: wl.scan_pass(setup.spark, corpus, mode),
            corpus.n_docs)
    finally:
        sparkctl.stop(setup.spark)
    print(json.dumps({"docs_per_s": timed["docs_per_s"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
