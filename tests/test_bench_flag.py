"""Chunk-bleed guard in the bench harness (bench.py, r11): the
start-load flag leg must distinguish a DECAYING spike left by our own
just-exited work from a SUSTAINED co-tenant — driven here by
synthetic load curves through the injection points."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench"] = mod
    spec.loader.exec_module(mod)
    return mod


def _curve(samples):
    """read_load stub replaying a load1 curve (last value repeats)."""
    it = iter(samples)
    last = [samples[-1]]

    def read():
        try:
            last[0] = next(it)
        except StopIteration:
            pass
        return last[0]
    return read


def test_idle_start_no_wait(bench):
    sleeps = []
    got = bench.settled_start_load(read_load=_curve([2.0]), threshold=8.0,
                                   max_wait_s=120, poll_s=15,
                                   sleep=sleeps.append)
    assert got == 2.0
    assert sleeps == []                 # under threshold: zero waiting


def test_decaying_bleed_settles_and_unflags(bench):
    # our own 32-way chunk exited at load ~12; load1 decays with a
    # ~60 s time constant — the guard must ride it down and report
    # the settled (unflagged) value
    sleeps = []
    got = bench.settled_start_load(
        read_load=_curve([12.0, 9.3, 7.2, 5.6]), threshold=8.0,
        max_wait_s=120, poll_s=15, sleep=sleeps.append)
    assert got == 7.2                   # first sample under threshold
    assert sleeps == [15, 15]           # stopped polling right there


def test_sustained_cotenant_stays_flagged(bench):
    # a co-tenant holds load high for the whole window: the guard
    # gives up at max_wait_s and reports the honest (flagged) value
    sleeps = []
    got = bench.settled_start_load(
        read_load=_curve([12.0, 11.8, 12.1, 11.9, 12.0]), threshold=8.0,
        max_wait_s=60, poll_s=15, sleep=sleeps.append)
    assert got > 8.0
    assert sum(sleeps) == 60            # bounded wall-clock


def test_chunk_child_uses_suite_start(bench, monkeypatch):
    # a chunked child NEVER self-measures: the runner's pre-suite
    # value arrives via env and is used verbatim
    monkeypatch.setenv("SPARK_GRAFT_SUITE_START_LOAD", "1.5")

    def boom():                          # self-measure would be a bug
        raise AssertionError("child must not read its own loadavg")
    monkeypatch.setattr(bench.os, "getloadavg", boom)
    assert bench.session_start_load() == 1.5


def test_standalone_session_settles(bench, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SUITE_START_LOAD", raising=False)
    monkeypatch.setattr(bench, "settled_start_load", lambda: 3.25)
    assert bench.session_start_load() == 3.25


def test_row_flagged_contract(bench):
    # new entries carry the explicit evidence flag at index 3;
    # legacy 3-field entries fall back to the load-only rule
    assert bench.row_flagged([1.0, 50.0, 2, 1]) is True
    assert bench.row_flagged([20.0, 50.0, 2, 0]) is False
    assert bench.row_flagged([20.0, 50.0, 2]) is True
    assert bench.row_flagged([1.0, 50.0, 2]) is False


def test_remeasure_agreement_resolves_flags(bench, monkeypatch):
    # two sessions agreeing within AGREE_RATIO refute the flag even
    # when the fresh session re-flagged itself (at 100x the suite's
    # own load keeps the spread leg hot for every row); a genuine
    # disagreement keeps the fresh session's own flag
    merged = {"q_agree": 2.0, "q_shift": 10.0, "q_dead": 3.0,
              "q_cold": 2.3, "q_cold_clean": 2.3}
    merged_load = {n: [12.0, 50.0, 2, 1] for n in merged}

    def fake_run_subset(sub, sf_dir, suite_start=None):
        fresh_t = {"q_agree": 2.2, "q_shift": 5.0, "q_dead": -1.0,
                   "q_cold": 5.7, "q_cold_clean": 5.7}
        # q_cold_clean's fresh session ran UNFLAGGED; the others'
        # fresh sessions carry their own evidence flag
        fresh_l = {n: [9.0, 50.0, 2, 0 if n == "q_cold_clean" else 1]
                   for n in sub}
        return ({n: fresh_t[n] for n in sub},
                {n: fresh_l[n] for n in sub}, {})

    monkeypatch.setattr(bench, "run_subset", fake_run_subset)
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (1.0, 1.0, 1.0))
    rem = bench.remeasure_flagged(merged, merged_load, "/tmp/nope")
    # reproduced (2.0 vs 2.2): min carried, flag refuted
    assert merged["q_agree"] == 2.0
    assert bench.row_flagged(merged_load["q_agree"]) is False
    # shifted 2x down: fresh value carried, fresh session's flag stands
    assert merged["q_shift"] == 5.0
    assert bench.row_flagged(merged_load["q_shift"]) is True
    # failed re-measure: loaded timing kept, still flagged
    assert merged["q_dead"] == 3.0
    assert bench.row_flagged(merged_load["q_dead"]) is True
    # fresh SLOWER but the fresh session itself was FLAGGED (a burst
    # during the re-measure phase inflates the fresh leg too): nothing
    # is proven, loaded value stands and its flag STANDS (ADVICE r12)
    assert merged["q_cold"] == 2.3
    assert bench.row_flagged(merged_load["q_cold"]) is True
    # fresh SLOWER from a CLEAN fresh session (cold-JIT inflation, not
    # interference): loaded value stands as the reproducible floor and
    # its flag is refuted — interference can only inflate
    assert merged["q_cold_clean"] == 2.3
    assert bench.row_flagged(merged_load["q_cold_clean"]) is False
    assert set(rem) == {"q_agree", "q_shift", "q_dead", "q_cold",
                        "q_cold_clean"}


def test_remeasure_unsettled_host_keeps_cold_flags(bench, monkeypatch):
    # the settle wait gave up (load never dropped under the
    # threshold): a slower fresh run proves nothing even when the
    # fresh session's own flag didn't fire — the flag must stand
    merged = {"q_cold": 2.3}
    merged_load = {"q_cold": [12.0, 50.0, 2, 1]}

    def fake_run_subset(sub, sf_dir, suite_start=None):
        return ({"q_cold": 5.7}, {"q_cold": [9.0, 50.0, 2, 0]}, {})

    monkeypatch.setattr(bench, "run_subset", fake_run_subset)
    monkeypatch.setattr(bench, "SETTLE_MAX_S", 0)
    monkeypatch.setattr(bench.os, "getloadavg",
                        lambda: (20.0, 20.0, 20.0))
    bench.remeasure_flagged(merged, merged_load, "/tmp/nope")
    assert merged["q_cold"] == 2.3
    assert bench.row_flagged(merged_load["q_cold"]) is True


# ---------------------------------------------------------------------------
# Sustained-load sentinel (r12, VERDICT r11 Next #1): the absolute
# calibration reference must stamp a burst that spans probe points
# (the case the relative agreement rule is structurally blind to)
# and must NOT stamp idle jitter or a one-probe transient.
# ---------------------------------------------------------------------------


def test_sentinel_clean_idle_curve(bench):
    # idle: probes wobble within min-of-N jitter (< 1.5x)
    stamped, drifts = bench.sustained_load_stamp(
        [0.0105, 0.0110, 0.0098, 0.0113, 0.0107], settled=0.0105)
    assert not stamped
    assert len(drifts) == 5 and all(d < 1.5 for d in drifts)


def test_sentinel_transient_single_spike_unstamped(bench):
    # one spiked probe = transient; per-row flag machinery owns it
    stamped, _ = bench.sustained_load_stamp(
        [0.010, 0.011, 0.055, 0.010, 0.011], settled=0.0105)
    assert not stamped


def test_sentinel_sustained_burst_stamps(bench):
    # the r11 shape: a co-tenant burst spanning consecutive probes
    stamped, drifts = bench.sustained_load_stamp(
        [0.011, 0.038, 0.041, 0.035, 0.012], settled=0.0105)
    assert stamped
    assert max(drifts) > 3.0


def test_sentinel_whole_suite_polluted_stamps(bench):
    # every probe drifted (median leg): the 1.7x-uniform r11 artifact
    stamped, _ = bench.sustained_load_stamp(
        [0.019, 0.021, 0.020, 0.018, 0.022], settled=0.0105)
    assert stamped


def test_sentinel_disabled_without_constant(bench):
    stamped, drifts = bench.sustained_load_stamp(
        [0.5, 0.5, 0.5], settled=0.0)
    assert not stamped and drifts == []


def test_calibration_probe_injectable(bench):
    calls = []

    def fake():
        calls.append(1)

    t = bench.calibration_probe(runs=3, matmul=fake)
    assert len(calls) == 3 and t >= 0.0


def test_calibration_probe_cache_keyed_on_size(bench):
    # ADVICE r12: the unkeyed cache silently timed the first call's
    # matrices for every later size — a 64x64 probe must be far
    # cheaper than a 512x512 one
    t_small = bench.calibration_probe(runs=1, size=64)
    t_big = bench.calibration_probe(runs=1, size=512)
    assert 64 in bench._CALIB_STATE and 512 in bench._CALIB_STATE
    assert bench._CALIB_STATE[64][0].shape == (64, 64)
    assert t_small < t_big


def test_calib_settled_constant_env_pin(bench, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CALIB_S", "0.02")
    monkeypatch.setattr(bench, "CALIB_SETTLED_S", 0.02)
    assert bench.calib_settled_constant() == 0.02


def test_calib_settled_constant_disabled(bench, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CALIB_S", "0")
    monkeypatch.setattr(bench, "CALIB_SETTLED_S", 0.0)
    assert bench.calib_settled_constant() == 0.0


def test_calib_settled_constant_measured_when_unpinned(bench,
                                                       monkeypatch):
    # no env pin: the constant is MEASURED on this host (ADVICE r12 —
    # a baked-in per-host number mis-stamps everywhere else)
    monkeypatch.delenv("SPARK_GRAFT_CALIB_S", raising=False)
    monkeypatch.setattr(bench, "CALIB_SETTLED_S", 0.0)
    monkeypatch.setattr(bench, "calibration_probe",
                        lambda runs=5: 0.0123)
    assert bench.calib_settled_constant() == 0.0123


# ---------------------------------------------------------------------------
# Per-query emission (r13, VERDICT r12 #1): the driver keeps a
# 2000-byte stdout TAIL; the per-query timings must survive it.
# ---------------------------------------------------------------------------


def _fake_compact(n=163):
    return {f"some_query_name_{i:03d}": round(0.1 + i * 0.07, 2)
            for i in range(n)}


def test_per_query_lines_reassemble(bench):
    import json
    compact = _fake_compact()
    lines = bench.per_query_lines(compact)
    objs = [json.loads(ln) for ln in lines]
    # encoding 1: full map (for whole-stdout consumers)
    assert objs[0]["queries"] == compact
    # encoding 2: chunks reassemble to the map
    rebuilt = {}
    for o in objs[1:-1]:
        (key, ch), = o.items()
        assert key.startswith("queries_") and "of" in key
        rebuilt.update(ch)
    assert rebuilt == compact
    # encoding 3: fixed-order array over sorted names
    last = objs[-1]
    assert last["qn"] == len(compact) and last["qo"] == "sorted"
    assert last["qv"] == [compact[n] for n in sorted(compact)]


def test_per_query_lines_fit_driver_tail(bench):
    import json
    compact = _fake_compact()
    lines = bench.per_query_lines(compact)
    # every chunk line under the budget
    for ln in lines[1:-1]:
        assert len(ln) <= bench.QUERY_LINE_BYTES
    # the guaranteed-survival suffix: compact array + a ~350 B summary
    # must fit the 2000-byte tail with room for at least one chunk
    assert len(lines[-1]) + 350 + bench.QUERY_LINE_BYTES <= 2000


def test_per_query_lines_chunks_fit_with_long_names_and_values(bench):
    # derived-scale timings run to 7+ characters (>= 1000 s) and names
    # can be long: every chunk line, wrapper included, stays in budget
    import json
    compact = {f"a_rather_long_query_name_for_sizing_{i:03d}":
               round(1000.25 + i * 37.5, 2) for i in range(163)}
    assert min(len(json.dumps(v)) for v in compact.values()) >= 7
    lines = bench.per_query_lines(compact)
    assert len(lines) > 3
    for ln in lines[1:-1]:
        assert len(ln) <= bench.QUERY_LINE_BYTES, len(ln)
    rebuilt = {}
    for ln in lines[1:-1]:
        (key, ch), = json.loads(ln).items()
        rebuilt.update(ch)
    assert list(rebuilt) == sorted(compact) and rebuilt == compact


def test_summary_line_bounded_with_many_flagged_rows(bench):
    # at derived scales most rows can flag: the last line keeps its
    # keys and order but only the first few flagged names (the full
    # set is in the load line), so it stays within one chunk budget
    import json
    flagged = sorted(f"{i:03d}_" + "q" * 36 for i in range(150))
    assert {len(n) for n in flagged} == {40}
    summary = {"metric": "workload_total", "value": 12345.678,
               "core_total": 2345.678, "unit": "sec", "sf": 0.1,
               "max_load1": 31.5, "flagged_load": flagged,
               "sustained_load": True,
               "calib_drift": [1.01, 2.34, 2.56, 1.99, 3.01, 2.2, 1.7,
                               2.9, 1.4],
               "calib_s": 0.12345}
    line = bench.summary_line(summary)
    assert len(line) <= bench.QUERY_LINE_BYTES, len(line)
    got = json.loads(line)
    assert list(got) == list(summary)
    assert got["flagged_load"] == flagged[:bench.SUMMARY_FLAGGED_NAMES]
    assert {k: v for k, v in got.items() if k != "flagged_load"} == \
        {k: v for k, v in summary.items() if k != "flagged_load"}


def test_run_subset_returns_child_summary(bench, monkeypatch):
    import json
    out = "\n".join([
        json.dumps({"load": {"q": [1.0, 50.0, 2, 0]}}),
        json.dumps({"queries": {"q": 1.5}}),
        json.dumps({"metric": "workload_total", "value": 1.5,
                    "sustained_load": True,
                    "calib_drift": [1.0, 2.1, 2.2]}),
    ])

    class P:
        stdout = out
        stderr = ""

    monkeypatch.setattr(bench, "_run_bench_child", lambda env: P())
    got, loads, summary = bench.run_subset(["q"], "/tmp/x")
    assert got == {"q": 1.5}
    assert summary["sustained_load"] is True
    assert summary["calib_drift"] == [1.0, 2.1, 2.2]
