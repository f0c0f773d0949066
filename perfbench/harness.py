"""Measurement plumbing shared by every workload.

Nothing here imports the engine: ratios, the op recorder, spans,
the process-tree RSS sampler and the storage walker are plain stdlib +
NumPy, so the self-tests run without a SparkSession.
"""

from __future__ import annotations

import os
import signal
import sys
import threading
import time
import traceback
from collections import defaultdict


# -- statistics ---------------------------------------------------------------


def ratio(num: float, den: float) -> float:
    """num / den with an explicit error for a zero base: every ratio the
    benchmark prints has a base that a healthy run makes non-zero."""
    if den == 0:
        raise ZeroDivisionError(f"ratio base is zero (numerator {num})")
    return num / den


def recall_at_k(found, truth) -> float:
    """|found ∩ truth| / |truth| over id collections."""
    truth = list(truth)
    if not truth:
        raise ValueError("recall against an empty ground truth")
    return len(set(found) & set(truth)) / len(truth)


# -- spans ----------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out
    once at the end. Disabled tracers record nothing and cost one
    attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op_id: str | None = None):
        return _Span(self, name, op_id)

    def self_times(self) -> dict[str, float]:
        """Total self time (span minus the union of its direct
        children's intervals) per span name, in seconds."""
        children = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children[s["parent"]].append(i)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = _union_length([(self.spans[c]["start"], self.spans[c]["end"])
                                     for c in children[i]])
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class _Span:
    def __init__(self, tracer: Tracer, name: str, op_id: str | None):
        self.tracer, self.name, self.op_id = tracer, name, op_id
        self.idx = None

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            op_id = self.op_id
            if op_id is None and parent is not None:
                op_id = t.spans[parent]["op"]
            t.spans.append({"name": self.name, "start": time.perf_counter(),
                            "end": None, "parent": parent, "op": op_id})
            self.idx = len(t.spans) - 1
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if self.idx is not None:
            t.spans[self.idx]["end"] = time.perf_counter()
            t._stack.pop()
        return False


# -- op recorder --------------------------------------------------------------


class Recorder:
    """Times engine operations and keeps the attempt/failure tally.

    An op is ``build`` (returns a DataFrame or a value: driver Python,
    eager jobs, analysis) followed by ``execute`` (the action) and
    ``check`` (compares the answer with the benchmark's own ground
    truth, outside the timed region). A raised exception or a failed
    check counts as a failed op. While ``traced`` is set, each phase
    runs under its own Spark job group ``<op id>:build`` /
    ``<op id>:exec`` and inside tracer spans, so the event log and the
    spans attribute eager and final work separately.

    ``series`` names the latency sample an op feeds (default: its
    kind); ``series=None`` records the op for the layer tables only.
    ``work`` marks a series as part of the throughput measure: the
    items one op of it completes (0 for a stage whose items another
    stage counts).
    While ``warmup`` is set, ops run and are checked but give no
    sample."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.traced = False
        self.warmup = False
        self.latency: dict[str, list[float]] = defaultdict(list)
        self.records: list[dict] = []
        self.work: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._seq = 0

    def _group(self, op_id: str, phase: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(f"{op_id}:{phase}", phase)

    def _sample(self, series: str, ms: float, work: float | None) -> None:
        if self.warmup:
            return
        self.latency[series].append(ms)
        if work is not None:
            self.work[series] = work

    def op(self, kind: str, build, execute=None, check=None,
           series: str | None = "", work: float | None = None):
        """Run one op; returns its result, or None when it failed."""
        self._seq += 1
        op_id = f"{kind}#{self._seq}"
        self.attempted += 1
        self.tracer.enabled = self.traced
        result = None
        try:
            with self.tracer.span(kind, op_id):
                t0 = time.perf_counter()
                self._group(op_id, "build")
                with self.tracer.span(f"{kind}.build"):
                    built = build()
                t1 = time.perf_counter()
                self._group(op_id, "exec")
                with self.tracer.span(f"{kind}.exec"):
                    result = execute(built) if execute else built
                t2 = time.perf_counter()
        except Exception:  # boundary: record the op as failed, keep running
            self._fail(op_id, traceback.format_exc())
            return None
        finally:
            if self.traced:
                self.spark.sparkContext.setJobGroup("harness", "harness")
        if check is not None:
            try:
                ok = check(result)
            except Exception:  # a check that raises is a wrong answer
                ok = False
                traceback.print_exc(file=sys.stderr)
            if not ok:
                self._fail(op_id, "wrong answer")
                return None
        if series is not None:
            self._sample(series or kind, (t2 - t0) * 1000.0, work)
        self.records.append({"op": op_id, "kind": kind, "traced": self.traced,
                             "build_ms": (t1 - t0) * 1000.0,
                             "exec_ms": (t2 - t1) * 1000.0})
        return result

    def _fail(self, op_id: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{op_id}: {why}")
        print(f"[perfbench] op failed {op_id}: {why}", file=sys.stderr)


# -- memory -------------------------------------------------------------------


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
        return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return "?"


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def wait_gone(pids, timeout_s: float) -> None:
    """Wait until every pid has exited; at the deadline kill what is
    left and wait for that too."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        alive = [p for p in pids if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} outlived SIGKILL")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.1)


def tree_rss(root: int) -> dict[str, int]:
    """RSS of ``root`` plus every descendant (driver Python -> JVM ->
    Python workers), summed per command name."""
    out: dict[str, int] = defaultdict(int)
    for pid in (root, *descendants(root)):
        out[_comm(pid)] += _rss_bytes(pid)
    return dict(out)


RSS_INTERVAL_S = 0.25


class RssSampler:
    """Background sampler of the process tree's RSS every
    ``RSS_INTERVAL_S``; ``stop`` joins it. ``peak_by_command`` splits
    the peak sample by command name."""

    def __init__(self):
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _sample(self) -> None:
        by_command = tree_rss(os.getpid())
        total = sum(by_command.values())
        if total > self.peak:
            self.peak, self.peak_by_command = total, by_command

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(RSS_INTERVAL_S)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")
        self._sample()
        return self.peak


# -- storage ------------------------------------------------------------------


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, inode/mtime key) for every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_ino ^ st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files that are new or rewritten between two
    snapshots: copy-on-write commits show up as new files."""
    nbytes = nfiles = 0
    for p, (size, key) in after.items():
        old = before.get(p)
        if old is None or old[1] != key:
            nbytes += size
            nfiles += 1
    return nbytes, nfiles


def disk_usage(root: str) -> tuple[int, int]:
    snap = snapshot(root)
    return sum(s for s, _ in snap.values()), len(snap)


class StorageMeter:
    """Bytes and files written under a set of roots, measured by
    walking them before and after each write op."""

    def __init__(self, *roots: str):
        self.roots = roots
        self.bytes_written = 0
        self.files_written = 0
        self.by_kind: dict[str, list[int]] = defaultdict(lambda: [0, 0])

    def _snap(self) -> dict:
        out = {}
        for r in self.roots:
            out.update(snapshot(r))
        return out

    def measure(self, kind: str, fn):
        before = self._snap()
        try:
            return fn()
        finally:
            b, f = written_since(before, self._snap())
            self.bytes_written += b
            self.files_written += f
            self.by_kind[kind][0] += b
            self.by_kind[kind][1] += f
