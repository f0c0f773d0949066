"""Stdlib parser for an uncompressed Spark event log.

Rolls ``SparkListenerTaskEnd`` task metrics up per job group. The
benchmark names job groups ``<op id>:<phase>`` (phase = build | exec),
so one pass yields, per op and phase: jobs, tasks, executor run and
CPU time, shuffle bytes written, disk spill and GC time.
"""

from __future__ import annotations

import json
from collections import defaultdict

FIELDS = ("jobs", "tasks", "run_ms", "cpu_ms", "shuffle_bytes",
          "spill_bytes", "gc_ms")


def _zero() -> dict:
    return {k: 0 for k in FIELDS}


def rollup(lines) -> dict[str, dict]:
    """job group -> totals over ``lines`` (an iterable of JSON event
    strings). Jobs with no group roll up under ``None``."""
    stage_group: dict[int, str | None] = {}
    out: dict = defaultdict(_zero)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics") or {}
            acc = out[group]
            acc["tasks"] += 1
            acc["run_ms"] += m.get("Executor Run Time", 0)
            acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0)
    return dict(out)


def rollup_file(path: str) -> dict[str, dict]:
    with open(path, encoding="utf-8") as f:
        return rollup(f)


def split_group(group: str | None) -> tuple[str | None, str | None]:
    """``'<op id>:<phase>'`` -> (op id, phase); other groups -> (group, None)."""
    if group is None or ":" not in group:
        return group, None
    op_id, phase = group.rsplit(":", 1)
    return op_id, phase


def per_op(groups: dict[str, dict]) -> dict[str, dict]:
    """op id -> {'build': totals, 'exec': totals} for phase-tagged groups."""
    out: dict = defaultdict(lambda: {"build": _zero(), "exec": _zero()})
    for group, totals in groups.items():
        op_id, phase = split_group(group)
        if phase in ("build", "exec"):
            out[op_id][phase] = totals
    return dict(out)
