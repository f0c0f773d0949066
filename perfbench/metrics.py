"""Metric names and how each is derived.

``END_TO_END`` are printed by every untraced run, ``PER_LAYER`` by
every traced run; ``BENCHMARK.json`` lists the same names (a self-test
keeps them in step). A layer a workload does not touch reads 0.
"""

from __future__ import annotations

import math
import statistics

END_TO_END = {
    "setup_s": "s",
    "op_latency_ms": "ms",
    "work_per_s": "1/s",
    "recall": "ratio",
    "write_amplification": "ratio",
    "peak_rss_mb": "MB",
}

# per-layer metric -> (op kind, field, scale). Fields: build_ms /
# exec_ms / ms (build + exec) are means over the traced ops of that
# kind; jobs / eager_jobs / cpu_ms come from the event-log rollup.
# knn.* are the exec phase of a chooser op: the kernel of the tier it
# picked (flat-arrow -> knn_arrow, ivf-broadcast -> knn_join_ivf; the
# detail line's ``tiers`` records what ran).
_FROM_OPS = {
    "sources.read.build_ms": ("sources.read", "build_ms", 1),
    "sources.read.jobs": ("sources.read", "jobs", 1),
    "chooser.search_auto.build_ms": ("chooser.search_auto", "build_ms", 1),
    "chooser.search_auto.jobs": ("chooser.search_auto", "eager_jobs", 1),
    "chooser.knn_join_auto.build_ms": ("chooser.knn_join_auto", "build_ms", 1),
    "chooser.knn_join_auto.jobs": ("chooser.knn_join_auto", "eager_jobs", 1),
    "knn.knn_arrow.exec_ms": ("chooser.search_auto", "exec_ms", 1),
    "knn.knn_arrow.cpu_ms": ("chooser.search_auto", "exec_cpu_ms", 1),
    "knn.join_ivf.exec_ms": ("chooser.knn_join_auto", "exec_ms", 1),
    "knn.join_ivf.cpu_ms": ("chooser.knn_join_auto", "exec_cpu_ms", 1),
    "ann.ivf_build.s": ("ann.ivf_build", "ms", 1e-3),
    "ann.ivf_search.build_ms": ("ann.ivf_search", "build_ms", 1),
    "ann.ivf_search.exec_ms": ("ann.ivf_search", "exec_ms", 1),
    "ann.ivf_search.jobs": ("ann.ivf_search", "jobs", 1),
    "ann.ivf_add.ms": ("ann.ivf_add", "ms", 1),
    "ann.ivf_delete.ms": ("ann.ivf_delete", "ms", 1),
    "ann.ivf_compact.ms": ("ann.ivf_compact", "ms", 1),
    "ann.ivf_save.s": ("ann.ivf_save", "ms", 1e-3),
    "pq.build.s": ("pq", "build_ms", 1e-3),
    "pq.join.s": ("pq", "exec_ms", 1e-3),
    "pq.jobs": ("pq", "jobs", 1),
    "graph.build.s": ("graph.build", "ms", 1e-3),
    "graph.search.ms": ("graph.search", "ms", 1),
    "catalog.insert_df.ms": ("catalog.insert_df", "ms", 1),
    "catalog.vacuum.ms": ("catalog.vacuum", "ms", 1),
    "catalog.upsert_docs.ms": ("catalog.upsert_docs", "ms", 1),
    "dedup.exact.s": ("dedup.exact", "ms", 1e-3),
    "dedup.minhash.s": ("dedup.minhash", "ms", 1e-3),
    "components.cc.s": ("components.cc", "ms", 1e-3),
    "embedding.embed.s": ("embedding.embed", "ms", 1e-3),
}
for _verb in ("nearest", "filter", "point", "count"):
    for _f in ("build_ms", "exec_ms", "jobs"):
        _FROM_OPS[f"dialect.{_verb}.{_f}"] = (f"dialect.{_verb}", _f, 1)
for _verb in ("insert", "delete", "update", "optimize"):
    _FROM_OPS[f"dialect.{_verb}.ms"] = (f"dialect.{_verb}", "ms", 1)
    _FROM_OPS[f"dialect.{_verb}.jobs"] = (f"dialect.{_verb}", "jobs", 1)

# counts the workloads compute themselves (Workload.layer_extras)
_EXTRAS = {
    "knn.rows_scored_per_result": "count",
    "ann.ivf_search.candidates_per_result": "count",
    "ann.ivf_save.files": "count",
    "ann.ivf_save.bytes": "bytes",
    "pq.rerank_rows": "count",
    "pq.recall_at_10": "ratio",
    "graph.search.hops": "count",
    "graph.search.jobs": "count",
    "catalog.bytes_written": "bytes",
    "catalog.files_written": "count",
    "catalog.disk_bytes_per_live_byte": "ratio",
    "dedup.candidate_pairs": "count",
    "dedup.verified_per_candidate": "ratio",
    "components.edges": "count",
}

_SPARK = {
    "spark.jobs_per_op": "count",
    "spark.eager_jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.run_ms_per_op": "ms",
    "spark.cpu_ms_per_op": "ms",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.gc_ms_per_op": "ms",
    "spark.build_share": "ratio",
}

_TRACE = {
    "session.start_s": "s",
    "trace.untraced_latency_ms": "ms",
    "trace.traced_latency_ms": "ms",
    "trace.overhead_pct": "%",
}


def _unit(field: str, scale: float) -> str:
    if scale != 1:
        return "s"
    return {"jobs": "count", "eager_jobs": "count"}.get(field, "ms")


PER_LAYER = {**{n: _unit(f, s) for n, (_, f, s) in _FROM_OPS.items()},
             **_EXTRAS, **_SPARK, **_TRACE}


def geomean_of_medians(series: dict[str, list[float]]) -> float:
    """Geometric mean, over op kinds, of each kind's median latency.
    Insensitive to how many ops of each kind fit in a run, unlike a
    pooled median over a mix of kinds with different costs."""
    meds = [statistics.median(v) for v in series.values() if v]
    if not meds:
        raise ValueError("no latency samples")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def throughput(series: dict[str, list[float]], work: dict[str, float]) -> float:
    """Items per second of one op of every work-bearing series, each
    timed at its median: sum of items / sum of median seconds. Fixed
    weights, so how many ops of each kind fit in a run does not move
    it."""
    if not work:
        raise ValueError("no work-bearing series")
    secs = sum(statistics.median(series[s]) for s in work) / 1000.0
    return sum(work.values()) / secs


def op_rows(records: list[dict], per_op: dict) -> dict[str, dict]:
    """kind -> mean build/exec/total ms, jobs, eager jobs and exec CPU
    over traced records, joined with the event-log rollup by op id."""
    acc: dict[str, dict] = {}
    for r in records:
        if not r["traced"]:
            continue
        roll = per_op.get(r["op"], {})
        build, exe = roll.get("build", {}), roll.get("exec", {})
        a = acc.setdefault(r["kind"], {"n": 0, "build_ms": 0.0, "exec_ms": 0.0,
                                       "ms": 0.0, "jobs": 0, "eager_jobs": 0,
                                       "exec_cpu_ms": 0.0})
        a["n"] += 1
        a["build_ms"] += r["build_ms"]
        a["exec_ms"] += r["exec_ms"]
        a["ms"] += r["build_ms"] + r["exec_ms"]
        a["jobs"] += build.get("jobs", 0) + exe.get("jobs", 0)
        a["eager_jobs"] += build.get("jobs", 0)
        a["exec_cpu_ms"] += exe.get("cpu_ms", 0.0)
    return {k: {f: (v / a["n"] if f != "n" else v) for f, v in a.items()}
            for k, a in acc.items()}


def spark_per_op(records: list[dict], per_op: dict) -> dict[str, float]:
    traced = [r for r in records if r["traced"]]
    out = {k: 0.0 for k in _SPARK}
    if not traced:
        return out
    wall = build = 0.0
    for r in traced:
        roll = per_op.get(r["op"], {})
        for phase in ("build", "exec"):
            t = roll.get(phase, {})
            out["spark.jobs_per_op"] += t.get("jobs", 0)
            out["spark.tasks_per_op"] += t.get("tasks", 0)
            out["spark.run_ms_per_op"] += t.get("run_ms", 0)
            out["spark.cpu_ms_per_op"] += t.get("cpu_ms", 0)
            out["spark.shuffle_bytes_per_op"] += t.get("shuffle_bytes", 0)
            out["spark.spill_bytes_per_op"] += t.get("spill_bytes", 0)
            out["spark.gc_ms_per_op"] += t.get("gc_ms", 0)
        out["spark.eager_jobs_per_op"] += roll.get("build", {}).get("jobs", 0)
        build += r["build_ms"]
        wall += r["build_ms"] + r["exec_ms"]
    for k in out:
        out[k] /= len(traced)
    out["spark.build_share"] = build / wall if wall else 0.0
    return out


def per_layer(records, per_op, extras, session_s, untraced, traced) -> dict:
    """Every PER_LAYER metric; layers the run did not touch read 0."""
    rows = op_rows(records, per_op)
    out = {}
    for name, (kind, field, scale) in _FROM_OPS.items():
        out[name] = rows.get(kind, {}).get(field, 0.0) * scale
    for name in _EXTRAS:
        out[name] = float(extras.get(name, 0.0))
    out.update(spark_per_op(records, per_op))
    out["session.start_s"] = session_s
    out["trace.untraced_latency_ms"] = untraced
    out["trace.traced_latency_ms"] = traced
    out["trace.overhead_pct"] = (traced / untraced - 1.0) * 100.0 \
        if untraced else 0.0
    return out
