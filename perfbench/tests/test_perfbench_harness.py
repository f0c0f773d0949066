"""Self-tests for the benchmark harness. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import eventlog, gen, harness, metrics, truth  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


def _rng(seed: int, stream: int = 1) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


# -- generator ------------------------------------------------------------------


def _vector_inputs(seed: int):
    rng = _rng(seed)
    ctr = gen.centers(rng, 8, 16)
    return gen.vectors(rng, 200, ctr), gen.queries(rng, 10, ctr)


def test_vectors_same_seed_identical():
    (a, qa), (b, qb) = _vector_inputs(7), _vector_inputs(7)
    assert a.ids == b.ids and a.category == b.category and a.tag == b.tag
    assert a.X.tobytes() == b.X.tobytes()
    assert qa.tobytes() == qb.tobytes()
    assert a.X.dtype == np.float32 and qa.dtype == np.float64


def test_vectors_other_seed_differs():
    (a, qa), (b, qb) = _vector_inputs(7), _vector_inputs(8)
    assert a.X.tobytes() != b.X.tobytes()
    assert qa.tobytes() != qb.tobytes()
    assert a.category != b.category


def test_documents_same_seed_identical():
    a = gen.documents(_rng(3), 100)
    b = gen.documents(_rng(3), 100)
    assert a.texts == b.texts
    assert a.exact_of == b.exact_of and a.near_of == b.near_of


def test_documents_other_seed_differs():
    a = gen.documents(_rng(3), 100)
    b = gen.documents(_rng(4), 100)
    assert a.texts != b.texts


def test_documents_planted_duplicates():
    c = gen.documents(_rng(5), 200, id_start=1000)
    assert len(c.texts) == len(c.ids) == 200
    assert len(c.exact_of) == 16 and len(c.near_of) == 24
    text = dict(zip(c.ids, c.texts))
    for copy, orig in c.exact_of.items():
        assert copy > orig and text[copy] == text[orig]
    for copy, orig in c.near_of.items():
        assert copy > orig
        assert 60 <= len(text[copy].split()) <= 200
    # every exact copy collapses onto its original
    surv = truth.exact_survivors(c.ids, c.texts)
    assert not surv & set(c.exact_of)


# -- statistics -----------------------------------------------------------------


def test_ratio_and_recall():
    assert harness.ratio(3, 4) == 0.75
    with pytest.raises(ZeroDivisionError):
        harness.ratio(1, 0)
    assert harness.recall_at_k(["a", "b", "x"], ["a", "b", "c", "d"]) == 0.5
    with pytest.raises(ValueError):
        harness.recall_at_k(["a"], [])


def test_geomean_of_medians():
    series = {"a": [1.0, 100.0, 4.0], "b": [9.0], "c": []}
    assert metrics.geomean_of_medians(series) == pytest.approx(6.0)
    # the mix of kinds does not weight the result
    series["b"] = [9.0] * 50
    assert metrics.geomean_of_medians(series) == pytest.approx(6.0)
    with pytest.raises(ValueError):
        metrics.geomean_of_medians({"a": []})


def test_self_times_subtract_child_union():
    t = harness.Tracer(True)
    t.spans = [
        {"name": "op", "start": 0.0, "end": 10.0, "parent": None, "op": "op#1"},
        {"name": "op.build", "start": 1.0, "end": 4.0, "parent": 0, "op": "op#1"},
        {"name": "op.exec", "start": 3.0, "end": 6.0, "parent": 0, "op": "op#1"},
        {"name": "inner", "start": 3.5, "end": 5.0, "parent": 2, "op": "op#1"},
    ]
    st = t.self_times()
    assert st["op"] == pytest.approx(10.0 - 5.0)  # children cover [1, 6]
    assert st["op.build"] == pytest.approx(3.0)
    assert st["op.exec"] == pytest.approx(3.0 - 1.5)
    assert st["inner"] == pytest.approx(1.5)


def test_spans_nest_and_inherit_op_id():
    t = harness.Tracer(True)
    with t.span("outer", "outer#1"):
        with t.span("inner"):
            pass
    assert [s["name"] for s in t.spans] == ["outer", "inner"]
    assert t.spans[1]["parent"] == 0 and t.spans[1]["op"] == "outer#1"
    assert all(s["end"] >= s["start"] for s in t.spans)
    off = harness.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_storage_meter_counts_new_and_rewritten(tmp_path):
    root = tmp_path / "store"
    root.mkdir()
    (root / "keep").write_bytes(b"k" * 10)
    meter = harness.StorageMeter(str(root))

    def write():
        (root / "new").write_bytes(b"n" * 100)
        os.remove(root / "keep")
        (root / "keep").write_bytes(b"r" * 30)  # a rewrite is a new file

    meter.measure("w", write)
    assert (meter.bytes_written, meter.files_written) == (130, 2)
    assert meter.by_kind["w"] == [130, 2]
    meter.measure("noop", lambda: None)
    assert meter.by_kind["noop"] == [0, 0]
    assert harness.disk_usage(str(root)) == (130, 2)


def test_wait_gone_kills_leftover_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        assert child.pid in harness.descendants(os.getpid())
        harness.wait_gone([child.pid], timeout_s=0.2)
        # killed at the deadline; an unreaped zombie counts as exited
        assert child.wait(timeout=10) == -signal.SIGKILL
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in harness.descendants(os.getpid())


def test_quartile_spread_rule():
    """The steadiness rule the benchmark is held to: (Q3 - Q1) / median."""
    vals = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.0, 10.1, 9.9]
    q = statistics.quantiles(vals, n=4)
    spread = (q[2] - q[0]) / statistics.median(vals)
    assert 0 < spread < 0.03


# -- ground truth ---------------------------------------------------------------


def test_topk_orders_ties_by_id():
    X = np.array([[1.0, 0.0], [0.0, 1.0], [3.0, 0.0], [-1.0, 0.0]], np.float32)
    ids = ["d", "c", "b", "a"]
    got, d = truth.topk(X, ids, np.array([0.0, 0.0]), "euclidean", 3)
    assert got == ["a", "c", "d"]
    assert list(d) == [1.0, 1.0, 1.0]
    pos = {v: i for i, v in enumerate(ids)}
    assert truth.same_topk(["d", "a", "c"], X, pos, np.zeros(2), "euclidean", 3)
    assert not truth.same_topk(["d", "a", "b"], X, pos, np.zeros(2), "euclidean", 3)
    assert not truth.same_topk(["d", "a", "a"], X, pos, np.zeros(2), "euclidean", 3)


def test_distances_metrics():
    X = np.array([[3.0, 4.0], [0.0, 0.0]])
    q = np.array([0.0, 1.0])
    assert list(truth.distances(X, q, "euclidean")) == pytest.approx([np.sqrt(18), 1.0])
    assert list(truth.distances(X, q, "manhattan")) == pytest.approx([6.0, 1.0])
    assert list(truth.distances(X, q, "dotproduct")) == pytest.approx([-4.0, 0.0])
    assert list(truth.distances(X, q, "cosine")) == pytest.approx([0.2, 1.0])


def test_components_min_id_labels():
    labels = truth.components([("b", "c"), ("c", "a"), ("x", "y")])
    assert labels == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_shingles_and_jaccard():
    a = truth.shingles("The cat, sat on the mat.")
    assert a == {"the cat sat", "cat sat on", "sat on the", "on the mat"}
    assert truth.jaccard(a, a) == 1.0
    assert truth.jaccard(set(), set()) == 1.0
    assert truth.jaccard(a, truth.shingles("the cat sat")) == 0.25


# -- event log ------------------------------------------------------------------


def test_eventlog_rollup_fixture():
    groups = eventlog.rollup_file(FIXTURE)
    assert set(groups) == {None, "dialect.nearest#3:build",
                           "dialect.nearest#3:exec", "harness"}
    b = groups["dialect.nearest#3:build"]
    assert (b["jobs"], b["tasks"], b["run_ms"], b["gc_ms"]) == (1, 2, 50, 4)
    assert b["cpu_ms"] == pytest.approx(30.0)
    e = groups["dialect.nearest#3:exec"]
    assert (e["jobs"], e["tasks"], e["run_ms"]) == (1, 2, 47)
    assert (e["shuffle_bytes"], e["spill_bytes"], e["gc_ms"]) == (1000, 512, 1)
    assert groups[None]["jobs"] == 1 and groups[None]["cpu_ms"] == pytest.approx(5.0)


def test_eventlog_per_op_split():
    ops = eventlog.per_op(eventlog.rollup_file(FIXTURE))
    assert set(ops) == {"dialect.nearest#3"}
    assert ops["dialect.nearest#3"]["build"]["tasks"] == 2
    assert ops["dialect.nearest#3"]["exec"]["spill_bytes"] == 512
    assert eventlog.split_group("a#1:exec") == ("a#1", "exec")
    assert eventlog.split_group("harness") == ("harness", None)
    assert eventlog.split_group(None) == (None, None)


def test_op_rows_join_records_with_rollup():
    ops = eventlog.per_op(eventlog.rollup_file(FIXTURE))
    records = [
        {"op": "dialect.nearest#3", "kind": "dialect.nearest", "traced": True,
         "build_ms": 4.0, "exec_ms": 6.0},
        {"op": "dialect.nearest#9", "kind": "dialect.nearest", "traced": False,
         "build_ms": 100.0, "exec_ms": 100.0},
    ]
    row = metrics.op_rows(records, ops)["dialect.nearest"]
    assert row["n"] == 1 and row["ms"] == 10.0
    assert (row["jobs"], row["eager_jobs"]) == (2, 1)
    assert row["exec_cpu_ms"] == pytest.approx(36.0)
    sp = metrics.spark_per_op(records, ops)
    assert sp["spark.build_share"] == pytest.approx(0.4)
    assert sp["spark.shuffle_bytes_per_op"] == 1000


# -- the metric list ------------------------------------------------------------


def test_benchmark_json_matches_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    assert bench["end_to_end"][0]["name"] == "setup_s"
    from perfbench.workloads import WORKLOADS
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
