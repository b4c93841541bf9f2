"""Traced run: per-layer self time for one workload.

Spans are recorded from the benchmark's own files, around calls into the
program's modules: each named function is replaced, at every module that
calls it, by a wrapper that records (name, parent, wall, CPU). Spans stay
in memory; a layer's self time is its span minus its child spans.

- Kernel layers run in-process, through a copy of ``run_mode``'s mapper
  loop (``_coalesced`` -> ``_lines_from_batch`` -> ``prepare_lines`` ->
  ``FLAT_MODES[mode]`` -> ``_batch_from_flat``), over the batches Spark
  builds for the workload: a probe ``mapInArrow`` over the workload's own
  DataFrame records which documents arrive in which Arrow batch of which
  task, and the in-process loop coalesces those same batches per task.
  Its output digest must equal the Spark run's, so this harness cannot
  drift from the program. Untraced and traced runs alternate batch by
  batch; the difference is the tracing overhead.
- Spark-side layers come from the local driver's monitoring REST API
  (task times, JVM CPU, GC, bytes) and from /proc (Python worker CPU).
- Runner, io and manifest layers are spans around the functions the job
  calls through module attributes (``io.write_spans``,
  ``manifest.commit_bucket``, ...), recorded on the job's pool threads.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import urllib.request

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import procfs
import sparkctl
import verify
import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))

# (module, attribute, layer) for every kernel call site the cascade uses
KERNEL_SITES = [
    ("pipeline", "sanitize_lines", "tokenize.sanitize"),
    ("pipeline", "assign_blocks_pages", "tokenize.blocks"),
    ("pipeline", "explode_tokens", "tokenize.explode"),
    ("pipeline", "featurize_lines", "features.lines"),
    ("pipeline", "featurize_extras", "features.extras"),
    ("pipeline", "segment_lines", "segmenter"),
    ("pipeline", "dedup_notes", "cluster.dedup_notes"),
    ("kernels.body", "label_body_lines", "body.label"),
    ("kernels.body", "relabel_caption_tails", "body.label"),
    ("kernels.body", "body_spans", "body.spans"),
    ("kernels.body", "zone_block_spans", "body.spans"),
    ("kernels.callouts", "reconcile_markers", "callouts.reconcile"),
    ("kernels.header", "label_header_lines", "header.label"),
    ("kernels.header", "merge_header_fields", "header.merge"),
    ("kernels.header", "enrich_header_fields", "header.enrich"),
    ("kernels.subparsers", "token_features", "subparsers.token_features"),
    ("kernels.subparsers", "tokens_to_spans", "subparsers.tokens_to_spans"),
    ("kernels.ner", "tokens_to_spans", "subparsers.tokens_to_spans"),
    ("kernels.ner", "ner_emissions", "ner.emissions"),
    ("kernels.ner", "ner_spans", "ner.spans"),
] + [
    (mod, "viterbi_segments", "viterbi")
    for mod in ("kernels.segmenter", "kernels.body", "kernels.header",
                "kernels.ner", "kernels.leftnote", "kernels.viterbi")
]

# functions the batch job calls through module attributes
JOB_SITES = [
    ("io", "write_spans", "io.write"),
    ("manifest", "commit_bucket", "manifest.commit"),
    ("manifest", "check_compatible", "manifest.resume_plan"),
    ("manifest", "pending_buckets", "manifest.resume_plan"),
]

# spans that wrap other layers: their self time is glue code no layer
# covers, so trace.layer_sum_pct leaves it out
WRAPPER_LAYERS = ("pipeline.prepare", "pipeline.mode")

# per-layer self CPU metrics of the in-process run: metric -> layer
CPU_METRICS = {
    "pipeline.flatten_cpu_s": "pipeline.flatten",
    "pipeline.prepare_cpu_s": "pipeline.prepare",
    "pipeline.mode_cpu_s": "pipeline.mode",
    "pipeline.export_cpu_s": "pipeline.export",
    "tokenize.sanitize_cpu_s": "tokenize.sanitize",
    "tokenize.blocks_cpu_s": "tokenize.blocks",
    "tokenize.explode_cpu_s": "tokenize.explode",
    "features.lines_cpu_s": "features.lines",
    "features.extras_cpu_s": "features.extras",
    "segmenter.cpu_s": "segmenter",
    "viterbi.cpu_s": "viterbi",
    "body.label_cpu_s": "body.label",
    "body.spans_cpu_s": "body.spans",
    "callouts.reconcile_cpu_s": "callouts.reconcile",
    "cluster.dedup_notes_cpu_s": "cluster.dedup_notes",
    "header.label_cpu_s": "header.label",
    "header.merge_cpu_s": "header.merge",
    "header.enrich_cpu_s": "header.enrich",
    "subparsers.token_features_cpu_s": "subparsers.token_features",
    "subparsers.tokens_to_spans_cpu_s": "subparsers.tokens_to_spans",
    "ner.emissions_cpu_s": "ner.emissions",
    "ner.spans_cpu_s": "ner.spans",
}

UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "pipeline.coalesce_cpu_s": "s",
    **{k: "s" for k in CPU_METRICS},
    "pipeline.batches": "count", "pipeline.docs_per_batch": "count",
    "pipeline.spans_per_batch": "count", "pipeline.boundary_s": "s",
    "pipeline.task_s_p50": "s", "pipeline.task_s_max": "s",
    "pipeline.jvm_cpu_s": "s", "pipeline.gc_s": "s",
    "pipeline.python_cpu_s": "s",
    "tokenize.tokens": "count", "viterbi.calls": "count",
    "runner.bucket_s_p50": "s", "runner.bucket_s_max": "s",
    "runner.peak_concurrency": "count", "runner.shuffle_write_bytes": "B",
    "runner.scan_amplification": "ratio",
    "io.write_s": "s", "io.output_bytes": "B", "io.quarantine_write_s": "s",
    "manifest.commit_s": "s", "manifest.resume_plan_s": "s",
    "manifest.recompute_ratio": "ratio", "resume_s": "s",
    "scaling_eff": "ratio",
    "trace.overhead_pct": "%", "trace.layer_sum_pct": "%",
}


# ---------------------------------------------------------------------------
# span recorder
# ---------------------------------------------------------------------------


class Span:
    __slots__ = ("name", "parent", "t0", "t1", "c0", "c1", "count",
                 "children_cpu")

    def __init__(self, name: str, parent: "Span | None"):
        self.name, self.parent = name, parent
        self.count = 0
        self.children_cpu = 0.0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def cpu(self) -> float:
        return self.c1 - self.c0

    @property
    def self_cpu(self) -> float:
        return self.cpu - self.children_cpu


class Recorder:
    """Collects spans; each thread keeps its own parent stack. CPU is
    process CPU, meaningful for the single-threaded in-process run; the
    job's spans (several pool threads) use wall time only."""

    def __init__(self):
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def call(self, name: str, fn, *args, count=None, **kw):
        stack = self._stack()
        span = Span(name, stack[-1] if stack else None)
        stack.append(span)
        span.c0 = time.process_time()
        span.t0 = time.perf_counter()
        try:
            out = fn(*args, **kw)
        finally:
            span.t1 = time.perf_counter()
            span.c1 = time.process_time()
            stack.pop()
            if span.parent is not None:
                span.parent.children_cpu += span.cpu
            with self._lock:
                self.spans.append(span)
        if count is not None:
            span.count = count(out)
        return out

    def patch(self, obj, attr: str, name: str, count=None) -> None:
        orig = getattr(obj, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            return self.call(name, orig, *args, count=count, **kw)

        setattr(obj, attr, wrapper)
        self._undo.append((obj, attr, orig))

    def unpatch(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()

    def self_cpu(self, name: str) -> float:
        return sum(s.self_cpu for s in self.spans if s.name == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def counted(self, name: str) -> int:
        return sum(s.count for s in self.spans if s.name == name)


def _module(dotted: str):
    import importlib

    return importlib.import_module(f"grobid_clinical_report_spark.{dotted}")


def patch_sites(rec: Recorder, sites) -> None:
    for mod, attr, name in sites:
        count = len if name == "tokenize.explode" else None
        rec.patch(_module(mod), attr, name, count=count)


# ---------------------------------------------------------------------------
# in-process driver
# ---------------------------------------------------------------------------


def _row_group_batches(path: str):
    """A parquet file or directory read one row group at a time (256
    documents), for runs that need no Spark session."""
    files = (sorted(glob.glob(os.path.join(path, "*.parquet")))
             if os.path.isdir(path) else [path])
    for f in files:
        pf = pq.ParquetFile(f)
        for i in range(pf.num_row_groups):
            yield from pf.read_row_group(i).to_batches()


def _tag_batches(batches):
    """Probe mapper: one (task, batch, row, doc_id) row per document, for
    each Arrow batch Spark feeds the mapper."""
    from pyspark import TaskContext

    task = TaskContext.get().partitionId()
    for i, b in enumerate(batches):
        n = b.num_rows
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.full(n, task, np.int32)),
             pa.array(np.full(n, i, np.int32)),
             pa.array(np.arange(n, dtype=np.int32)), b.column("doc_id")],
            names=["task", "batch", "row", "doc_id"])


def spark_batch_ids(df) -> list[list[pa.Array]]:
    """The Arrow batches Spark feeds a ``mapInArrow`` mapper over ``df``
    (same plan, same ``maxRecordsPerBatch``), as doc_id arrays grouped by
    task, in arrival order."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    return group_tagged(df.mapInArrow(
        _tag_batches, "task int, batch int, row int, doc_id string"
    ).toArrow())


def group_tagged(t: pa.Table) -> list[list[pa.Array]]:
    """``_tag_batches`` rows -> per task, one doc_id array per batch."""
    t = t.take(pc.sort_indices(t, [("task", "ascending"),
                                   ("batch", "ascending"),
                                   ("row", "ascending")]))
    keys = zip(t.column("task").to_pylist(), t.column("batch").to_pylist())
    ids = t.column("doc_id").combine_chunks()
    tasks: dict[int, list[pa.Array]] = {}
    start = 0
    for (task, _), rows in itertools.groupby(keys):
        n = sum(1 for _ in rows)
        tasks.setdefault(task, []).append(ids.slice(start, n))
        start += n
    return list(tasks.values())


def rebuild_batches(table: pa.Table,
                    tasks: list[list[pa.Array]]) -> list[list[pa.RecordBatch]]:
    """Spark's input batches rebuilt from the corpus table: per task, one
    RecordBatch of ``table``'s columns per doc_id array."""
    ids = table.column("doc_id")
    return [[table.take(pc.index_in(b, value_set=ids)).combine_chunks()
             .to_batches()[0] for b in batches] for batches in tasks]


def _plain(name, fn, *args, **kw):
    return fn(*args, **kw)


def _mapper_body(mode: str):
    """One iteration of ``run_mode``'s mapper, with each stage called
    through ``call(name, fn, *args)`` so a recorder can wrap it."""
    from grobid_clinical_report_spark import pipeline

    flat_fn = pipeline.FLAT_MODES[mode]
    profile = pipeline._MODE_PROFILE.get(mode, "all")

    def body(batch: pa.RecordBatch, call=_plain) -> pa.RecordBatch:
        doc_ids, raw = call("pipeline.flatten", pipeline._lines_from_batch,
                            batch)
        lines = call("pipeline.prepare", pipeline.prepare_lines, raw,
                     profile=profile)
        flat = (call("pipeline.mode", flat_fn, lines) if not lines.empty
                else pipeline._EMPTY_SPANS)
        return call("pipeline.export", pipeline._batch_from_flat, doc_ids,
                    flat)

    return body


def extract_in_process(path: str, mode: str):
    """``run_mode``'s mapper loop over a corpus in this process, all of it
    one task, without Spark. A document's output does not depend on the
    batch it is decoded in, so this pins the digest of any run over the
    same corpus. Returns (output table, batch stats)."""
    from grobid_clinical_report_spark import pipeline

    body = _mapper_body(mode)
    batches = list(pipeline._coalesced(_row_group_batches(path)))
    out = pa.Table.from_batches([body(b) for b in batches])
    return out, _batch_stats(batches)


def _batch_stats(batches) -> dict:
    return {
        "pipeline.batches": len(batches),
        "pipeline.docs_per_batch": statistics.mean(
            b.num_rows for b in batches),
        "pipeline.spans_per_batch": statistics.mean(
            len(b.column("spans").flatten()) for b in batches),
    }


IN_PROCESS_ROUNDS = 2


def in_process_layers(tasks: list[list[pa.RecordBatch]], mode: str):
    """Untraced and traced in-process runs over Spark's input batches
    (``rebuild_batches``), coalesced per task as the mapper does, then
    interleaved per batch (order alternating) after one discarded pass, so
    the slow drift of a shared box's speed falls on both sides alike.
    Returns (metrics, untraced output, info); CPU figures are per pass."""
    from grobid_clinical_report_spark import pipeline

    body = _mapper_body(mode)
    c0 = time.process_time()
    batches = [b for task in tasks for b in pipeline._coalesced(iter(task))]
    coalesce = time.process_time() - c0
    for b in batches:  # lazy caches and the allocator fill here
        body(b)
    rec = Recorder()
    rounds = IN_PROCESS_ROUNDS
    cpu = {"U": 0.0, "T": 0.0}
    outs: dict[str, list] = {"U": [], "T": []}
    for r in range(rounds):
        for i, b in enumerate(batches):
            for side in ("UT" if (i + r) % 2 == 0 else "TU"):
                if side == "T":
                    patch_sites(rec, KERNEL_SITES)
                try:
                    c0 = time.process_time()
                    got = body(b, rec.call if side == "T" else _plain)
                    cpu[side] += time.process_time() - c0
                finally:
                    rec.unpatch()
                if r == 0:
                    outs[side].append(got)
    plain = pa.Table.from_batches(outs["U"])
    traced_out = pa.Table.from_batches(outs["T"])
    if verify.digest(traced_out) != verify.digest(plain):
        raise RuntimeError("traced in-process output differs from untraced")
    untraced = cpu["U"] / rounds + coalesce
    traced = cpu["T"] / rounds + coalesce

    m = {k: rec.self_cpu(layer) / rounds for k, layer in CPU_METRICS.items()}
    m["pipeline.coalesce_cpu_s"] = coalesce
    m.update(_batch_stats(batches))
    m["tokenize.tokens"] = rec.counted("tokenize.explode") / rounds
    m["viterbi.calls"] = rec.calls("viterbi") / rounds
    layer_sum = sum(s.self_cpu for s in rec.spans
                    if s.name not in WRAPPER_LAYERS) / rounds + coalesce
    m["trace.overhead_pct"] = (traced - untraced) / untraced * 100
    m["trace.layer_sum_pct"] = layer_sum / untraced * 100
    return m, plain, {"untraced_cpu_s": untraced, "traced_cpu_s": traced}


# ---------------------------------------------------------------------------
# Spark-side layers
# ---------------------------------------------------------------------------


class StageMetrics:
    """Stage and task metrics of the Spark jobs run inside a ``with``
    block, read from the driver's monitoring REST API on localhost."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1].strip("/")
        self.base = (f"http://localhost:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def __enter__(self):
        self.before = {j["jobId"] for j in self._get("jobs")}
        self.tree0 = procfs.TreeSnapshot()
        return self

    def __exit__(self, *exc):
        self.tree1 = procfs.TreeSnapshot()

    def collect(self) -> dict:
        """Wait until every new job is finished in the status store, then
        sum the stage metrics and gather task durations."""
        deadline = time.monotonic() + 30
        while True:
            jobs = [j for j in self._get("jobs")
                    if j["jobId"] not in self.before]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                break
            if time.monotonic() > deadline:
                raise RuntimeError("Spark jobs did not finish in the UI store")
            time.sleep(0.2)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        durations, cpu_ns, gc_ms, in_rows, sw_b = [], 0, 0, 0, 0
        for sid in stage_ids:
            for st in self._get(f"stages/{sid}"):
                if st["status"] != "COMPLETE":
                    continue  # skipped stages (reused shuffle output)
                cpu_ns += st["executorCpuTime"]
                gc_ms += st.get("jvmGcTime", 0)
                # rows, not bytes: the parquet reader's bytesRead
                # reports a few KB for a full scan of this nested schema
                in_rows += st["inputRecords"]
                sw_b += st["shuffleWriteBytes"]
                tasks = self._get(
                    f"stages/{sid}/{st['attemptId']}/taskList?length=100000")
                durations += [t["duration"] / 1000 for t in tasks
                              if "duration" in t]
        return {
            "pipeline.task_s_p50": statistics.median(durations),
            "pipeline.task_s_max": max(durations),
            "pipeline.jvm_cpu_s": cpu_ns / 1e9,
            "pipeline.gc_s": gc_ms / 1000,
            "pipeline.python_cpu_s": (self.tree1.python_cpu_s
                                      - self.tree0.python_cpu_s),
            "input_rows": in_rows,
            "shuffle_write_bytes": sw_b,
        }


def _identity(batches):
    yield from batches


def boundary_pass(spark, corpus) -> float:
    """Wall of an identity ``mapInArrow`` over the same scan into noop: the
    JVM <-> Python Arrow floor under the extraction pass."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    df = wl.scan_df(spark, corpus)
    q = df.mapInArrow(_identity, schema=df.schema)
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        q.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def local1_docs_per_s(workload: str, seed: int, seconds: float) -> float:
    """Scan docs/s at local[1], measured in its own process."""
    cmd = [sys.executable, os.path.join(HERE, "local1.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, timeout=170,
                          check=True, text=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])["docs_per_s"]


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------


def _zeros() -> dict:
    return {k: 0.0 for k in UNITS}


def traced(workload: str, seed: int, seconds: float, work_dir: str,
           repo_root: str):
    corpus, check, setup = wl.begin(workload, seed, work_dir, repo_root)
    spark = setup.spark
    mode = wl.MODES[workload]
    m = _zeros()
    m["session.start_s"] = setup.start_s
    m["session.warmup_s"] = setup.warmup_s
    try:
        if workload == "full_job":
            spark_digest, batch_ids = _traced_job(spark, corpus, work_dir,
                                                  check, m)
        else:
            spark_digest = wl.verify_scan(spark, corpus, workload, check)
            with StageMetrics(spark) as sm:
                wl.scan_pass(spark, corpus, mode)
            m.update(_pipeline_metrics(sm.collect()))
            batch_ids = spark_batch_ids(wl.scan_df(spark, corpus))
        m["pipeline.boundary_s"] = boundary_pass(spark, corpus)
        if workload == "full_scan":
            dps4 = wl.timed_loop(
                seconds, lambda: wl.scan_pass(spark, corpus, mode),
                corpus.n_docs)["docs_per_s"]
    finally:
        sparkctl.stop(spark)
    if workload == "full_scan":
        m["scaling_eff"] = dps4 / (wl.CPUS * local1_docs_per_s(
            workload, seed, seconds))

    table = corpus.table().select(["doc_id", "spans"])
    layer_m, out, info = in_process_layers(
        rebuild_batches(table, batch_ids), mode)
    m.update(layer_m)
    if verify.digest(out) != spark_digest:
        check.fail_all("in-process output digest differs from Spark's")
    for note in check.notes:
        print(f"[perfbench] {note}", file=sys.stderr)
    _print_table(workload, m, info)
    return check, {k: (v, UNITS[k]) for k, v in m.items()}


def _pipeline_metrics(sm: dict) -> dict:
    return {k: v for k, v in sm.items() if k.startswith("pipeline.")}


def _traced_job(spark, corpus, work_dir: str, check: verify.Check,
                m: dict):
    """One traced fresh job, then the checked resume leg. Returns the
    output digest and the input batches of every bucket's mapper
    (``spark_batch_ids`` of the DataFrames the job hands ``run_mode``:
    guardrailed and salted, so without the quarantined whales)."""
    from grobid_clinical_report_spark import manifest as mf
    from grobid_clinical_report_spark import runner
    from pyspark.sql.readwriter import DataFrameWriter

    rec = Recorder()
    patch_sites(rec, JOB_SITES)
    mapped = []
    orig_run_mode = runner.run_mode

    def run_mode(df, mode):
        mapped.append(df)
        return orig_run_mode(df, mode)

    runner.run_mode = run_mode
    orig_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kw):
        if "_quarantine" in str(path):
            return rec.call("io.quarantine_write", orig_parquet, self, path,
                            *args, **kw)
        return orig_parquet(self, path, *args, **kw)

    DataFrameWriter.parquet = parquet
    job = wl.JobPasses(spark, corpus, work_dir)
    job.clean()
    try:
        with StageMetrics(spark) as sm:
            job.run()
        stage = sm.collect()
        runner.run_mode = orig_run_mode
        n_fresh = len(rec.spans)
        digest = wl.verify_job(spark, corpus, job.out, job.metrics, check)
        v = wl.resume_leg(spark, corpus, job.out, digest, check)
        batch_ids = [t for df in mapped for t in spark_batch_ids(df)]
    finally:
        runner.run_mode = orig_run_mode
        DataFrameWriter.parquet = orig_parquet
        rec.unpatch()
    fresh_spans, resume_spans = rec.spans[:n_fresh], rec.spans[n_fresh:]
    walls = mf.read_manifest(spark, job.out).toPandas()["wall_sec"]
    m.update(_pipeline_metrics(stage))
    m.update({
        "runner.bucket_s_p50": float(walls.median()),
        "runner.bucket_s_max": float(walls.max()),
        "runner.peak_concurrency": job.metrics["peak_concurrency"],
        "runner.shuffle_write_bytes": stage["shuffle_write_bytes"],
        "runner.scan_amplification": stage["input_rows"] / corpus.n_docs,
        "io.write_s": sum(s.wall for s in fresh_spans
                          if s.name == "io.write"),
        "io.output_bytes": _output_bytes(job.out),
        "io.quarantine_write_s": sum(s.wall for s in fresh_spans
                                     if s.name == "io.quarantine_write"),
        "manifest.commit_s": sum(s.wall for s in fresh_spans
                                 if s.name == "manifest.commit"),
        "manifest.resume_plan_s": sum(s.wall for s in resume_spans
                                      if s.name == "manifest.resume_plan"),
        "manifest.recompute_ratio": v["recompute_ratio"],
        "resume_s": v["resume_s"],
    })
    job.clean()
    return digest, batch_ids


def _output_bytes(out: str) -> int:
    """Parquet bytes of the job's span output (bucket=N directories)."""
    total = 0
    for b in os.listdir(out):
        if b.startswith("bucket="):
            d = os.path.join(out, b)
            total += sum(os.path.getsize(os.path.join(d, f))
                         for f in os.listdir(d) if f.endswith(".parquet"))
    return total


def _print_table(workload: str, m: dict, info: dict) -> None:
    """Per-layer self time table on standard error."""
    lines = [f"[perfbench] per-layer self CPU, {workload} (in-process: "
             f"untraced {info['untraced_cpu_s']:.3f} s, traced "
             f"{info['traced_cpu_s']:.3f} s, overhead "
             f"{m['trace.overhead_pct']:.2f}%, layer sum "
             f"{m['trace.layer_sum_pct']:.1f}% of untraced)"]
    for k in CPU_METRICS:
        if m[k]:
            share = m[k] / info["untraced_cpu_s"] * 100
            lines.append(f"  {k:34s} {m[k]:8.3f} s  {share:5.1f}%")
    for k, v in m.items():
        if k not in CPU_METRICS and v:
            lines.append(f"  {k:34s} {v:12.4f} {UNITS[k]}")
    print("\n".join(lines), file=sys.stderr)
