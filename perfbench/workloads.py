"""The four workloads, driven through the program's public entry points the
way ``python -m grobid_clinical_report_spark`` drives them:
``pipeline.apply_split_hint`` on a fresh session, then ``pipeline.run_mode``
into a noop sink (scans) or ``runner.run_extraction_job`` (the batch job).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import corpus as corpus_mod
import procfs
import sparkctl
import verify

CPUS = 4

# workload -> pipeline mode
MODES = {
    "full_scan": "extract_full",
    "ner_scan": "ner",
    "header_scan": "extract_header",
    "full_job": "extract_full",
}

JOB_BUCKETS = 8
JOB_MAX_SPANS = 10_000
JOB_DROPPED = (1, 5)  # buckets whose output the resume leg deletes
JOB_QUARANTINED = 2  # the two 20k-span whales exceed JOB_MAX_SPANS


class Setup:
    """Interpreter start and imports (``pre_s``, measured by the caller),
    then session start, then one warm-up batch extracted. The warm-up input
    has one file per core, so every Python worker starts here.

    The job path is not warmed: its first run in a process pays query
    compilation, as every run of the batch CLI does."""

    def __init__(self, workload: str, corpus, pre_s: float, cpus: int = CPUS):
        from grobid_clinical_report_spark import pipeline

        mode = MODES[workload]
        self.pre_s = pre_s
        t0 = time.perf_counter()
        self.spark = sparkctl.start(cpus, app=f"perfbench-{workload}")
        pipeline.apply_split_hint(self.spark, mode)
        t1 = time.perf_counter()
        warm = self.spark.read.parquet(corpus.warmup)
        pipeline.run_mode(warm, mode).write.format("noop").mode(
            "overwrite").save()
        t2 = time.perf_counter()
        self.start_s = t1 - t0
        self.warmup_s = t2 - t1
        self.setup_s = pre_s + self.start_s + self.warmup_s


def begin(workload: str, seed: int, work_dir: str, repo_root: str):
    """Corpus (generated or cached), an empty check and a set-up session:
    the common start of every run. Returns (corpus, check, setup)."""
    corpus = corpus_mod.Corpus(work_dir, seed)
    print(f"[perfbench] corpus seed={seed}: {corpus.n_docs} docs, "
          f"generated in {corpus.gen_s:.2f} s (0 = cached; not in setup_s)",
          file=sys.stderr)
    # interpreter start to here, minus corpus generation
    pre_s = time.time() - procfs.process_start_time() - corpus.gen_s
    sparkctl.configure_env(repo_root, work_dir)
    setup = Setup(workload, corpus, pre_s)
    return corpus, verify.Check(corpus.n_docs), setup


def timed_loop(seconds: float, one_pass, n_docs: int,
               untimed=None) -> dict:
    """Start passes until ``seconds`` have elapsed (so at least one); each
    pass's wall and process-tree CPU are measured apart, ``untimed`` runs
    before each pass outside the measurement. Returns per-pass medians."""
    walls, cpus = [], []
    elapsed = 0.0
    with procfs.RssSampler() as rss:
        while elapsed < seconds:
            if untimed is not None:
                untimed()
            before = procfs.TreeSnapshot()
            t0 = time.perf_counter()
            one_pass()
            wall = time.perf_counter() - t0
            walls.append(wall)
            cpus.append(procfs.TreeSnapshot().cpu_s - before.cpu_s)
            elapsed += wall
    return {
        "docs_per_s": statistics.median(n_docs / w for w in walls),
        "cpu_s_per_kdoc": statistics.median(c / n_docs * 1000 for c in cpus),
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "walls": walls,
    }


# ---------------------------------------------------------------------------
# scans
# ---------------------------------------------------------------------------


def scan_df(spark, corpus):
    return spark.read.parquet(corpus.docs)


def scan_pass(spark, corpus, mode: str) -> None:
    from grobid_clinical_report_spark import pipeline

    pipeline.run_mode(scan_df(spark, corpus), mode).write.format(
        "noop").mode("overwrite").save()


def verify_scan(spark, corpus, workload: str, check: verify.Check) -> str:
    """Untimed verification pass over the whole corpus (it also starts
    every Python worker before the timed passes)."""
    from grobid_clinical_report_spark import datagen, pipeline

    mode = MODES[workload]
    out = pipeline.run_mode(scan_df(spark, corpus), mode).toArrow()
    want = pq.read_table(corpus.docs, columns=["doc_id"]).column(
        "doc_id").combine_chunks()
    return verify.check_output(check, out, want,
                               datagen.FIXTURE_EXPECTED[mode], workload,
                               corpus.seed)


# ---------------------------------------------------------------------------
# the batch job
# ---------------------------------------------------------------------------


def run_job(spark, docs: str, out: str, resume: bool = False) -> dict:
    from grobid_clinical_report_spark import runner

    return runner.run_extraction_job(
        spark, docs, out, mode="extract_full",
        n_buckets=JOB_BUCKETS, max_spans=JOB_MAX_SPANS, resume=resume,
    )


def drop_buckets(spark, out: str, buckets=JOB_DROPPED) -> None:
    """Simulate a crash before these buckets committed: delete their data
    and their manifest rows (the idiom of the runner's resume test)."""
    from pyspark.sql import functions as F

    from grobid_clinical_report_spark import manifest as mf

    for b in buckets:
        shutil.rmtree(os.path.join(out, f"bucket={b}"))
    m = mf.read_manifest(spark, out).filter(~F.col("bucket").isin(*buckets))
    pdf = m.toPandas()
    shutil.rmtree(mf.manifest_path(out))
    spark.createDataFrame(pdf, mf.MANIFEST_SCHEMA).write.parquet(
        mf.manifest_path(out))


def job_input_ids(corpus) -> pa.Array:
    """doc_ids the job must write: every document under the span cap."""
    t = pq.read_table(corpus.docs)
    keep = pc.less_equal(pc.list_value_length(t.column("spans")),
                         JOB_MAX_SPANS)
    return t.column("doc_id").filter(keep).combine_chunks()


def verify_job(spark, corpus, out: str, fresh_metrics: dict,
               check: verify.Check) -> str:
    """Untimed checks of a fresh job's output in ``out``; returns its
    digest."""
    from grobid_clinical_report_spark import datagen, runner

    if fresh_metrics["quarantined"] != JOB_QUARANTINED:
        check.fail_all(f"quarantined {fresh_metrics['quarantined']} != "
                       f"{JOB_QUARANTINED}")
    fresh = runner.read_extracted(spark, out).toArrow()
    return verify.check_output(
        check, fresh, job_input_ids(corpus),
        datagen.FIXTURE_EXPECTED["extract_full"], "full_job", corpus.seed)


def resume_leg(spark, corpus, out: str, digest: str,
               check: verify.Check) -> dict:
    """Drop two buckets of a checked fresh output, resume, and require
    exactly those buckets re-run and the output unchanged."""
    from grobid_clinical_report_spark import runner

    drop_buckets(spark, out)
    t0 = time.perf_counter()
    m = run_job(spark, corpus.docs, out, resume=True)
    resume_s = time.perf_counter() - t0
    recompute_ratio = m["buckets_run"] / len(JOB_DROPPED)
    if recompute_ratio != 1.0:
        check.fail_all(f"resume re-ran {m['buckets_run']} buckets, "
                       f"dropped {len(JOB_DROPPED)}")
    resumed = runner.read_extracted(spark, out).toArrow()
    if verify.digest(resumed) != digest:
        check.fail_all("output after resume differs from the fresh run")
    return {"resume_s": resume_s, "recompute_ratio": recompute_ratio}


class JobPasses:
    """Timed fresh jobs into one output directory; the metrics of the last
    one are kept for verification."""

    def __init__(self, spark, corpus, work_dir: str):
        self.spark, self.corpus = spark, corpus
        self.out = os.path.join(work_dir, "job", f"seed={corpus.seed}")
        self.metrics: dict = {}

    def clean(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self) -> None:
        self.metrics = run_job(self.spark, self.corpus.docs, self.out)
