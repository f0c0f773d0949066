#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload interactive --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Lines before it carry provenance and per-op detail. A traced run first
runs the same workload and seed untraced in a child process, then
traces every op; the gap between the two is the tracing overhead. It
writes its spans, Spark event log and rollup under
``.perfbench/artifacts/``. Scratch data lives under ``.perfbench/work/``
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import eventlog, harness, metrics  # noqa: E402

# the untraced reference run of a traced run: one whole run, well
# inside the per-run limit
REFERENCE_TIMEOUT_S = 120


@dataclass
class Ctx:
    spark: object
    rec: harness.Recorder
    seed: int


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_env(work: str) -> dict:
    """Size the session from the host through the variables get_spark
    reads, and keep every scratch byte inside ``work``."""
    gib = ram_bytes() / 2 ** 30
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        # a sixth of RAM, 1-4 GiB: room for the JVM heap beside the
        # Python workers on a shared host
        "SPARK_DRIVER_MEMORY": f"{max(1, min(4, int(gib // 6)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    import tempfile
    tempfile.tempdir = env["TMPDIR"]
    return env


def start_session(work: str, eventlog_dir: str | None):
    from toy_vector_db_spark.session import get_spark
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if eventlog_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": eventlog_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # the session is usable, not just created
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait until it and its
    Python workers have exited."""
    from pyspark import SparkContext
    started = harness.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    harness.wait_gone(started, timeout_s=30)


def provenance(args, wl) -> dict:
    import numpy
    import pyspark
    sizes = {f"{part.name}.{k}": getattr(part, k)
             for part in wl.parts for k in dir(type(part))
             if k.isupper() and isinstance(getattr(part, k), (int, float))}
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": nproc(), "ram_gib": round(ram_bytes() / 2 ** 30, 1),
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "numpy": numpy.__version__,
            "sizes": sizes, "client": "closed loop, 1 client"}


def untraced_reference(args) -> dict:
    """Run the same workload and seed untraced in a child process and
    return its result line."""
    cmd = [sys.executable, os.path.abspath(__file__),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         timeout=REFERENCE_TIMEOUT_S, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def run(args) -> int:
    from perfbench.workloads import WORKLOADS

    # before this process sets up its own environment or session, so
    # the two runs never hold memory at the same time
    ref = untraced_reference(args) if args.trace else None
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench", "work", f"{tag}-{os.getpid()}")
    art = os.path.join(ROOT, ".perfbench", "artifacts", tag) if args.trace else None
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if art:
        shutil.rmtree(art, ignore_errors=True)
        os.makedirs(os.path.join(art, "eventlog"))
    configure_env(work)
    sampler = harness.RssSampler().start()
    spark = None
    try:
        spark, session_s = start_session(
            work, os.path.join(art, "eventlog") if art else None)
        tracer = harness.Tracer(False)
        rec = harness.Recorder(spark, tracer)
        wl = WORKLOADS[args.workload](Ctx(spark, rec, args.seed))

        # set-up runs once: each repeat would cost another ~10-20 s of
        # cold-JVM work per run, which the run budget cannot hold
        rec.traced = bool(args.trace)
        t0 = time.perf_counter()
        wl.setup(os.path.join(work, "setup"))
        setup_s = session_s + (time.perf_counter() - t0)
        setup_ops = {r["op"]: round(r["build_ms"] + r["exec_ms"])
                     for r in rec.records}

        # untimed, untraced warm-up cycles first: JIT, Python workers
        # and first-use caches warm up outside the samples (their
        # answers are checked)
        rec.warmup, rec.traced = True, False
        for i in range(wl.warmup_steps):
            wl.step(i)
        rec.warmup, rec.traced = False, bool(args.trace)
        warmup_s = time.perf_counter() - t0 - (setup_s - session_s)

        start = time.perf_counter()
        deadline = start + args.seconds
        i = wl.warmup_steps
        while i < wl.min_steps or time.perf_counter() < deadline:
            wl.step(i)
            i += 1
        loop_s = time.perf_counter() - start
        wl.finish()
        extras = wl.layer_extras()
    finally:
        if spark is not None:
            stop_session(spark)
        peak = sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "setup_s": setup_s,
        "op_latency_ms": metrics.geomean_of_medians(rec.latency),
        "work_per_s": metrics.throughput(rec.latency, rec.work),
        "recall": wl.quality(),
        "write_amplification": wl.write_amplification(),
        "peak_rss_mb": peak / 2 ** 20,
    }
    detail = {
        "steps": i, "loop_s": round(loop_s, 3),
        "session_start_s": round(session_s, 3),
        "setup_ops_ms": setup_ops, "warmup_s": round(warmup_s, 3),
        "series": {k: {"n": len(v),
                       "p50_ms": round(float(np.percentile(v, 50)), 2),
                       "p95_ms": round(float(np.percentile(v, 95)), 2),
                       "max_ms": round(max(v), 2)}
                   for k, v in sorted(rec.latency.items())},
        "setup_s_by_part": wl.setup_s,
        "recall_by_part": {p.name: p.quality() for p in wl.parts},
        "tiers": wl.tier_counts(),
        "peak_rss_mb_by_command": {k: round(v / 2 ** 20)
                                   for k, v in sampler.peak_by_command.items()},
        "user_bytes": wl.user_bytes,
        "failures": rec.failures[:5],
    }
    attempted, failed = rec.attempted, rec.failed
    if args.trace:
        per_op = eventlog.per_op(eventlog.rollup_file(_eventlog_path(art)))
        values = metrics.per_layer(
            rec.records, per_op, extras, session_s,
            ref["metrics"]["op_latency_ms"]["value"], e2e["op_latency_ms"])
        units = metrics.PER_LAYER
        # the end-to-end figures of both runs, side by side
        detail["end_to_end"] = {
            k: {"untraced": ref["metrics"][k]["value"], "traced": v}
            for k, v in e2e.items()}
        _write_artifacts(art, tracer, rec, per_op, values, detail["end_to_end"])
        # the reference run's ops are part of this run's work
        attempted += ref["attempted"]
        failed += ref["failed"]
    else:
        values, units = e2e, metrics.END_TO_END
    print(json.dumps({"provenance": provenance(args, wl)}))
    print(json.dumps({"detail": detail}))
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": values[k], "unit": u}
                          for k, u in units.items()}}
    print(json.dumps(result), flush=True)
    return 0


def _eventlog_path(art: str) -> str:
    d = os.path.join(art, "eventlog")
    logs = [f for f in os.listdir(d) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {d}, got {logs}")
    return os.path.join(d, logs[0])


def _write_artifacts(art, tracer, rec, per_op, values, end_to_end) -> None:
    with open(os.path.join(art, "spans.jsonl"), "w") as f:
        for s in tracer.spans:
            f.write(json.dumps(s) + "\n")
    by_kind = metrics.op_rows(rec.records, per_op)
    with open(os.path.join(art, "layers.json"), "w") as f:
        json.dump({"per_layer": values, "end_to_end": end_to_end,
                   "per_kind": by_kind,
                   "self_time_s": tracer.self_times(),
                   "per_op_rollup": per_op,
                   "records": rec.records}, f, indent=1, default=str)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "toy_vector_db_spark")):
        print("perfbench: the engine package toy_vector_db_spark is not "
              f"next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
