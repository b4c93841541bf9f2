"""Extraction benchmark: one workload per run, seeded corpus, checked output.

    python3 perfbench/run.py --workload full_scan --seed 1 --seconds 8 \
        --trace 0

Paths resolve from this file, so any working directory works. The last
line of standard output is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With ``--trace 0`` the metrics are the end-to-end
metrics of BENCHMARK.json; with ``--trace 1`` they are its per-layer
metrics. ``attempted``/``failed`` count input documents. The exit code is
non-zero when any check fails.
Workloads and metrics are described in perfbench/WORKLOADS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

WORKLOADS = ("full_scan", "ner_scan", "header_scan", "full_job")
END_TO_END_UNITS = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "cpu_s_per_kdoc": "s",
    "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    })


def end_to_end(workload: str, seed: int, seconds: float) -> tuple:
    import sparkctl
    import workloads as wl

    corpus, check, setup = wl.begin(workload, seed, WORK, ROOT)
    spark = setup.spark
    try:
        if workload == "full_job":
            job = wl.JobPasses(spark, corpus, WORK)
            timed = wl.timed_loop(seconds, job.run, corpus.n_docs, job.clean)
            wl.verify_job(spark, corpus, job.out, job.metrics, check)
            log(f"job: quarantined={job.metrics['quarantined']}")
            job.clean()
        else:
            wl.verify_scan(spark, corpus, workload, check)
            mode = wl.MODES[workload]
            timed = wl.timed_loop(
                seconds, lambda: wl.scan_pass(spark, corpus, mode),
                corpus.n_docs)
    finally:
        sparkctl.stop(spark)
    log(f"setup {setup.setup_s:.3f} s = pre {setup.pre_s:.3f} + start "
        f"{setup.start_s:.3f} + warm-up {setup.warmup_s:.3f}; "
        f"pass walls {[round(w, 3) for w in timed['walls']]}")
    for note in check.notes:
        log(note)
    metrics = {
        "setup_s": setup.setup_s,
        "docs_per_s": timed["docs_per_s"],
        "cpu_s_per_kdoc": timed["cpu_s_per_kdoc"],
        "peak_rss_mb": timed["peak_rss_mb"],
    }
    return check, {k: (v, END_TO_END_UNITS[k]) for k, v in metrics.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import grobid_clinical_report_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program from {ROOT}: {e}")
        return 2
    os.makedirs(WORK, exist_ok=True)
    try:
        if args.trace:
            import layers

            check, metrics = layers.traced(
                args.workload, args.seed, args.seconds, WORK, ROOT)
        else:
            check, metrics = end_to_end(args.workload, args.seed,
                                        args.seconds)
    except Exception:
        traceback.print_exc()
        log("the run raised: every document counts as failed")
        return 1
    print(result_line(check.correct, check.attempted, check.failed, metrics),
          flush=True)
    return 0 if check.correct else 1


if __name__ == "__main__":
    sys.exit(main())
