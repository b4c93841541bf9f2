"""The benchmark's own tests (no Spark session; about 20 s).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import corpus as corpus_mod  # noqa: E402
import layers  # noqa: E402
import procfs  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402
import workloads as wl  # noqa: E402


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("work"))


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_deterministic_per_seed(work, tmp_path):
    a = corpus_mod.Corpus(work, 7)
    b = corpus_mod.Corpus(str(tmp_path), 7)
    c = corpus_mod.Corpus(work, 8)
    assert verify.digest(a.table()) == verify.digest(b.table())
    ids_a = set(a.table().column("doc_id").to_pylist())
    ids_c = set(c.table().column("doc_id").to_pylist())
    fixtures = {i for i in ids_a if i.startswith("fx-")}
    assert len(fixtures) == 28 and fixtures <= ids_c
    # every generated (non-fixture) document differs between the seeds
    assert not (ids_a - fixtures) & (ids_c - fixtures)
    assert a.n_docs == corpus_mod.N_DOCS + 28 + corpus_mod.HEAVY_DOCS


def test_digest_ignores_row_order_but_not_span_order():
    span = lambda k, o: {"kind": k, "text": k, "media_ref": None,  # noqa
                         "offset": o}
    rows = [{"doc_id": "a", "spans": [span("x", 0), span("y", 1)]},
            {"doc_id": "b", "spans": []}]
    t = pa.Table.from_pylist(rows)
    shuffled = pa.Table.from_pylist(rows[::-1])
    swapped = pa.Table.from_pylist(
        [{"doc_id": "a", "spans": [span("y", 1), span("x", 0)]}, rows[1]])
    assert verify.digest(t) == verify.digest(shuffled)
    assert verify.digest(t) != verify.digest(swapped)


def test_fixture_check_flags_only_wrong_docs():
    from grobid_clinical_report_spark import datagen

    expected = datagen.FIXTURE_EXPECTED["parse_org"]
    (doc_id, exp), = expected.items()
    good = [{"kind": k, "text": t, "media_ref": r, "offset": i}
            for i, (k, t, r) in enumerate(exp)]
    ok = pa.Table.from_pylist([{"doc_id": doc_id, "spans": good}])
    bad = pa.Table.from_pylist([{"doc_id": doc_id, "spans": good[:-1]}])
    assert verify.fixture_failures(ok, expected) == []
    assert verify.fixture_failures(bad, expected) == [doc_id]
    assert verify.missing_docs(ok, pa.array([doc_id, "gone"])) == 1


def test_in_process_driver_passes_fixtures(work):
    """The copy of run_mode's mapper loop reproduces the pinned fixture
    spans (the traced run also pins it to the Spark output)."""
    from grobid_clinical_report_spark import datagen

    c = corpus_mod.Corpus(work, 7)
    for mode in ("extract_full", "ner", "extract_header"):
        out, stats = layers.extract_in_process(c.warmup, mode)
        assert verify.fixture_failures(
            out, datagen.FIXTURE_EXPECTED[mode]) == []
        assert stats["pipeline.batches"] >= 1


def test_spark_batches_rebuild_in_arrival_order(work):
    """Probe rows (task, batch, row, doc_id) in any order give back each
    task's batches, documents in arrival order, with the corpus columns."""
    c = corpus_mod.Corpus(work, 7)
    table = c.table().select(["doc_id", "spans"])
    ids = table.column("doc_id").to_pylist()
    layout = {3: [ids[5:9], ids[0:2]], 1: [ids[20:23]]}
    rows = [{"task": t, "batch": b, "row": r, "doc_id": d}
            for t, batches in layout.items()
            for b, docs in enumerate(batches)
            for r, d in enumerate(docs)]
    tagged = pa.Table.from_pylist(rows[::-1])
    tasks = layers.rebuild_batches(table, layers.group_tagged(tagged))
    got = [[b.column("doc_id").to_pylist() for b in task] for task in tasks]
    assert got == [layout[1], layout[3]]
    assert tasks[0][0].schema == table.schema
    first = table.filter(pc.equal(table.column("doc_id"), ids[5]))
    assert tasks[1][0].slice(0, 1).to_pylist() == first.to_pylist()


def test_recorder_self_time_subtracts_children():
    rec = layers.Recorder()

    def child():
        return sum(range(20000))

    def parent():
        return rec.call("child", child) + sum(range(20000))

    rec.call("parent", parent)
    p = next(s for s in rec.spans if s.name == "parent")
    c = next(s for s in rec.spans if s.name == "child")
    assert c.parent is p
    assert p.self_cpu == pytest.approx(p.cpu - c.cpu)
    assert 0 < p.self_cpu < p.cpu


def test_end_to_end_printer_emits_every_metric(spec):
    names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert names == run.END_TO_END_UNITS
    line = run.result_line(True, 10, 0, {k: (1.5, u)
                                         for k, u in names.items()})
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert set(out["metrics"]) == set(names)


def test_traced_printer_emits_every_per_layer_metric(spec):
    names = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert names == layers.UNITS
    assert set(layers._zeros()) == set(names)


def test_workloads_match_spec(spec):
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert set(run.WORKLOADS) == set(wl.MODES)


def test_process_tree_snapshot_sees_this_process():
    snap = procfs.TreeSnapshot()
    assert os.getpid() in snap.pids and snap.cpu_s > 0
    assert procfs.process_start_time() <= __import__("time").time()
