"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
a per-query JSON line, then a tiny summary JSON line LAST:
{"metric": "workload_total", "value": total_sec, "unit": "sec", "sf": ...}.

Each query is forced with a distributed noop write (the standard
Spark benchmark sink: full materialization on executors, nothing
shipped to the driver). This measures what a pipeline pays — compute +
shuffle — without adding a driver collect that no production job
performs; for table-sized outputs (streaming dedup emits the whole
deduped table) a collect would bill the bench O(rows) driver transfer
the engine itself never does. A warm-up count() primes the JVM +
parquet footer cache so numbers reflect steady-state execution, not
first-query JIT.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "knn_euclidean", "knn_cosine", "knn_dotproduct", "knn_manhattan",
    "scan_project_limit", "filter_id_eq", "filter_like", "count_star",
    "agg_pricing_summary", "join_region_revenue", "window_topn_orders",
    "events_hourly_rollup",
    # run the cheap minhash/jaccard family members FIRST: higher-order
    # functions evaluate in Catalyst's interpreter, whose hot loops only
    # reach C2-JIT steady state after ~2 full document passes (measured
    # 12 s -> 1.5 s on dedup_minhash_pairs at sf0.1). Each of these is
    # itself timed best-of-2 (= 2 full passes), so by the time the
    # expensive pair/component queries run the interpreter is at the
    # steady state a long-running cluster job lives in. Same reasoning
    # as the JVM/footer warm-up below — nothing is left unmeasured.
    "dedup_minhash_signatures", "dedup_jaccard_consecutive", "dedup_simhash",
]


# Frozen drift core: exactly the queries the round-1 bench measured
# (minus events_dau_approx, retired in r6 when its oracle-gated twin
# absorbed the sketch). Round-over-round totals stopped being
# comparable once each round added new deliberately-heavy queries
# (103 -> 148 s from r4 to r5 was mostly 17 additions), so the
# summary line carries core_total over THIS set alongside
# workload_total: drift analysis is one subtraction against any
# earlier round. Do not add to this list — new queries land in
# workload_total automatically.
CORE = frozenset([
    "knn_euclidean", "knn_cosine", "knn_dotproduct", "knn_manhattan",
    "scan_project_limit", "filter_id_eq", "filter_like", "count_star",
    "agg_pricing_summary", "join_region_revenue", "window_topn_orders",
    "events_hourly_rollup", "knn_arrow_euclidean", "filter_meta_eq",
    "filter_meta_ne", "set_ops_segments", "agg_rollup_region",
    "having_repeat_customers", "anti_join_no_orders", "asof_join_events",
    "events_sessionize", "sql_nearest_by_id", "sql_meta_ne_dialect",
    "embed_documents_contract", "embed_documents_values",
    "search_text_documents", "text_stats", "text_lang_id",
    "text_fingerprints", "dedup_minhash_signatures", "dedup_simhash",
    "dedup_jaccard_consecutive", "embedding_cosine_pairs",
    "dedup_exact_clusters", "dedup_minhash_pairs", "dedup_components",
    "dedup_cosine_blocked", "text_token_budget", "media_decode_stats",
    "corpus_clean_pipeline", "events_daily_active", "events_props_extract",
    "shipping_priority", "media_frame_sample", "events_multi_rollup",
    "events_value_percentiles", "knn_join_batch", "ann_lsh_topk",
    "ann_ivf_det_topk", "ann_ivfpq_topk", "ann_pq_adc_topk",
    "ann_ivf_topk", "sample_documents_hash", "split_train_test",
    "stratified_sample_mix", "vocab_top_terms", "tfidf_top_terms",
    "events_rollup_streaming", "events_value_bands",
    "orders_above_cust_avg", "cust_running_revenue", "cube_order_stats",
])


# Host-load instrumentation (two rounds of phantom-regression triage —
# decontam +30% at 100x, dsir +31% at sf0.1 — were host load, proven
# only by hand). Every row records the 1-min loadavg + MemAvailable at
# its first attempt; rows measured under CO-TENANT load are FLAGGED in
# the summary (and auto-re-measured) so drift triage is one field
# lookup. A row only earns an extra attempt when BOTH signals fire:
# load above the threshold AND the two attempts disagree >2x (the
# scheduler-noise shape) — load alone can be the bench's own 32-way
# tasks, spread alone is one-time codegen the second attempt already
# absorbed.
#
# Flag predicate (r9): loadavg alone cannot distinguish a co-tenant
# from the bench's own 32-way stages (a 147-query session holds its
# own load1 near 8-11 throughout — the r9 first run flagged 104 rows
# on an otherwise idle host and re-ran half the suite for nothing).
# A row is flagged only on EVIDENCE of interference: the session
# STARTED loaded (a co-tenant was already running before any Spark
# work — self-load can't explain that), or the row's own attempts
# disagree >FLAG_SPREAD while load is high (in-row scheduler noise;
# self-load gives consistent repeats that best-of-2 already handles).
# env override exists for testing the flag/re-measure machinery
# (tools/bench_chunks.py) without a loaded host, not for tuning
LOAD_FLAG_THRESHOLD = float(os.environ.get("SPARK_GRAFT_LOAD_FLAG", "8.0"))
RETRY_SPREAD = 2.0
FLAG_SPREAD = 1.5


def row_flagged(entry: list) -> bool:
    """Is a (load1, mem_gb, tries[, flag]) loads entry flagged? New
    entries carry the explicit evidence-based flag at index 3; entries
    from older artifacts (3 fields) fall back to the load-only rule."""
    return bool(entry[3]) if len(entry) > 3 \
        else entry[0] > LOAD_FLAG_THRESHOLD


#: CHUNK-BLEED GUARD (r11, VERDICT r10 Next #4): in a chunked run the
#: Nth child session starts seconds after the (N-1)th chunk's 32-way
#: JVM exited — load1 decays with a ~60 s time constant, so the child
#: reads OUR OWN just-finished work as "the session started loaded"
#: and flags every row (48/155 at 100x in r10, crying wolf in exactly
#: the regime the flag was built for). Two-part fix:
#:  1. the chunk runner measures load ONCE, before any Spark work, and
#:     passes it to every child via SPARK_GRAFT_SUITE_START_LOAD —
#:     that pre-suite number is the only moment "a co-tenant was
#:     already here" is distinguishable from self-bleed (a co-tenant
#:     arriving MID-suite is still caught by the spread leg);
#:  2. a single session starting hot (e.g. right after an oracle
#:     sweep) probes a short settle window: decaying bleed falls
#:     under the threshold within ~2 time constants and unflags; a
#:     genuine co-tenant keeps load high and stays flagged.
#: cap: START_SETTLE_MAX_S bounds added wall-clock (one settle per
#: session, only when it starts hot), not a data knob.
START_SETTLE_MAX_S = float(os.environ.get("SPARK_GRAFT_START_SETTLE_S",
                                          "120"))
START_SETTLE_POLL_S = 15


def settled_start_load(read_load=None, threshold: float | None = None,
                       max_wait_s: float | None = None,
                       poll_s: float | None = None,
                       sleep=None) -> float:
    """Session-start load with self-bleed gating: if the first sample
    exceeds the flag threshold, poll (bounded) until it settles under
    it or the window runs out, and return the LAST sample — a decayed
    prior-work spike reads as idle, a sustained co-tenant reads as
    loaded. Injection points (read_load/sleep) exist for the
    synthetic-curve unit tests."""
    import time
    read_load = read_load or (lambda: os.getloadavg()[0])
    threshold = LOAD_FLAG_THRESHOLD if threshold is None else threshold
    max_wait_s = START_SETTLE_MAX_S if max_wait_s is None else max_wait_s
    poll_s = START_SETTLE_POLL_S if poll_s is None else poll_s
    sleep = sleep or time.sleep
    cur = read_load()
    waited = 0.0
    while cur > threshold and waited < max_wait_s:
        sleep(poll_s)
        waited += poll_s
        cur = read_load()
    return cur


def session_start_load() -> float:
    """The start-load leg of the flag predicate: the suite-level
    pre-Spark measurement when a chunk runner provided one (chunked
    children NEVER self-measure — their start is polluted by the
    previous chunk's exit bleed), else this session's own settled
    measurement."""
    suite = os.environ.get("SPARK_GRAFT_SUITE_START_LOAD")
    if suite is not None:
        return float(suite)
    return settled_start_load()


#: SUSTAINED-LOAD SENTINEL (r12, VERDICT r11 Next #1): the r11 driver
#: artifact shipped 1.7x inflated with flagged_load [] because every
#: flag-resolution mechanism is RELATIVE — the agreement rule clears a
#: flag when two equally-loaded sessions reproduce each other, which a
#: co-tenant burst spanning both sessions always does. The sentinel is
#: the missing ABSOLUTE reference: a fixed NumPy matmul (multithreaded
#: BLAS, so it contends for the same cores a co-tenant steals) timed
#: against a PINNED settled constant at suite start, every
#: CALIB_EVERY rows, and suite end. Probes run BETWEEN queries (the
#: session is idle there), so the bench's own 32-way stages cannot
#: inflate them — the one signal loadavg can never give. A polluted
#: artifact now self-identifies: the summary line carries the
#: per-probe drift curve and a sustained_load stamp.
#:
#: CALIB_SETTLED_S: the settled matmul constant. r13 (ADVICE r12 low):
#: the r12 default was a number measured on ONE host (0.0105 s) — on a
#: slower host every clean run stamps sustained, on a faster one the
#: sentinel can never fire. When the env override is absent the
#: constant is now MEASURED at suite start (min-of-7, after the
#: start-load settle window) via ``calib_settled_constant``; the env
#: override remains for pinning across runs, <= 0 disables the
#: sentinel. Residual blind spot, documented: a co-tenant already
#: present when the baseline is measured inflates the baseline and
#: masks itself — but that case is exactly the one the start-load flag
#: leg already records (the session started loaded).
#: CALIB_DRIFT_RATIO 1.5 sits between idle jitter of the min-of-N
#: (measured <= 1.15x) and the smallest burst signal worth stamping
#: (a load-27 co-tenant on 32 cores roughly halves BLAS throughput,
#: >= 2x) — VERDICT suggested 1.3, widened to 1.5 so scheduler jitter
#: alone can never stamp a clean artifact.
CALIB_SETTLED_S = float(os.environ.get("SPARK_GRAFT_CALIB_S", "0"))
CALIB_DRIFT_RATIO = float(os.environ.get("SPARK_GRAFT_CALIB_RATIO", "1.5"))
CALIB_EVERY = 25
_CALIB_STATE: dict = {}


def calibration_probe(runs: int = 5, size: int = 1024,
                      matmul=None) -> float:
    """Best-of-``runs`` wall seconds for one fixed float64 matmul —
    the absolute CPU-availability reference. Deterministic inputs,
    allocated once per process and keyed on ``size`` (ADVICE r12: the
    unkeyed cache silently timed the first call's matrices for every
    later size); ``matmul`` is injectable for the unit tests."""
    import time as _time
    if matmul is None:
        import numpy as np
        if size not in _CALIB_STATE:
            rng = np.random.default_rng(42)
            _CALIB_STATE[size] = (rng.standard_normal((size, size)),
                                  rng.standard_normal((size, size)))
        A, B = _CALIB_STATE[size]
        matmul = lambda: (A @ B).sum()  # noqa: E731
    best = float("inf")
    for _ in range(max(1, runs)):
        t0 = _time.perf_counter()
        matmul()
        best = min(best, _time.perf_counter() - t0)
    return best


def calib_settled_constant() -> float:
    """The settled reference the drift probes divide by: the env pin
    when set (<= 0 disables the sentinel), else min-of-7 measured NOW
    — callers measure at suite start, after the start-load settle
    window, before any Spark work."""
    if CALIB_SETTLED_S > 0:
        return CALIB_SETTLED_S
    if os.environ.get("SPARK_GRAFT_CALIB_S") is not None:
        return 0.0  # explicit <= 0: sentinel disabled
    return calibration_probe(runs=7)


def sustained_load_stamp(probes: list[float],
                         settled: float | None = None,
                         ratio: float | None = None) -> tuple[bool, list]:
    """(sustained, drift curve) from a sequence of calibration probes.

    Sustained means the drift is not a one-probe transient: TWO
    consecutive probes over the ratio, or the median probe over it
    (a burst long enough to straddle two probe points — ~25 rows —
    is exactly the burst long enough to pollute both legs of the
    agreement rule). A single spiked probe stays unstamped: the
    per-row flag machinery already covers transients."""
    settled = CALIB_SETTLED_S if settled is None else settled
    ratio = CALIB_DRIFT_RATIO if ratio is None else ratio
    if settled <= 0 or not probes:
        return False, []
    drifts = [round(p / settled, 2) for p in probes]
    over = [d > ratio for d in drifts]
    consec = any(a and b for a, b in zip(over, over[1:]))
    med = sorted(drifts)[len(drifts) // 2]
    return (consec or med > ratio), drifts


#: max seconds the re-measure pass waits for host load1 to fall under
#: the flag threshold (the common flag source is a co-tenant burst or
#: this suite's own prior work shutting down — minutes, not hours; if
#: the host never settles, re-measuring anyway still records the
#: honest second load1). cap: bounded wall-clock, not a data knob.
SETTLE_MAX_S = float(os.environ.get("SPARK_GRAFT_SETTLE_MAX_S", "300"))
SETTLE_POLL_S = 15


def _run_bench_child(env: dict):
    """One fresh bench.py subprocess (injectable for unit tests)."""
    import subprocess
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, cwd=REPO, capture_output=True, text=True)


def run_subset(sub: list[str], sf_dir: str,
               suite_start: float | None = None) -> tuple[dict, dict, dict]:
    """One FRESH bench session (subprocess) over `sub`; returns
    (timings, loads, child summary) parsed from its JSON lines
    ({} on failure). The child summary carries the child session's OWN
    sustained-load stamp + drift curve — chunk runners aggregate these
    so a burst contained inside one chunk can no longer evade the
    merged artifact's stamp (r12 sentinel granularity gap). The child
    never re-measures (SPARK_GRAFT_NO_REMEASURE) — recursion guard for
    the idle pass below. ``suite_start`` forwards the runner's
    pre-suite load so the child's start-load flag leg is not polluted
    by the previous chunk's exit bleed (chunk-bleed guard above)."""
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_ONLY=",".join(sub),
               SPARK_GRAFT_NO_REMEASURE="1")
    if suite_start is not None:
        env["SPARK_GRAFT_SUITE_START_LOAD"] = str(suite_start)
    proc = _run_bench_child(env)
    got, loads, summary = None, {}, {}
    for line in proc.stdout.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if "queries" in obj:
            got = obj["queries"]
        if "load" in obj:
            loads = obj["load"]
        if obj.get("metric") == "workload_total":
            summary = obj
    if got is None:
        print(f"subset FAILED ({sub[0]}..{sub[-1]})\n{proc.stderr[-2000:]}",
              file=sys.stderr)
        return {}, {}, {}
    return got, loads, summary


#: two measurements within this ratio count as the SAME number.
#: Tighter than FLAG_SPREAD (1.5 — the in-row noise the flag hunts)
#: and far under RETRY_SPREAD (2.0): the observed session-to-session
#: band of a best-of-2 minimum on this host is ~±15%.
AGREE_RATIO = 1.3


def remeasure_flagged(merged: dict, merged_load: dict, sf_dir: str,
                      chunk: int = 16) -> dict:
    """Auto-re-measure rows timed under host load (r8 VERDICT #3 —
    previously only tools/bench_chunks.py had this; the driver's
    primary single-session artifact carried load-polluted rows with
    no fresh twins). Waits (bounded) for load1 to settle, re-runs
    just the flagged rows in fresh sessions, and merges
    ``min(loaded, fresh)`` into `merged` (interference only ever
    inflates, so the smaller number is the reproducible one — the
    per-query best-of-2 extended across sessions); `merged_load`
    keeps whichever session produced the carried value. Returns
    {name: {"loaded": [t, load1], "fresh": [t, load1]}} so both raw
    numbers stay on the record.

    Flag resolution (r11, tightened r12/r13): the flag's claim is
    "this timing may not be reproducible". If the fresh session
    REPRODUCES the loaded best-of-2 within AGREE_RATIO, two
    independent sessions agree — the claim is refuted and the row is
    UNFLAGGED even when the fresh session's own in-row evidence fired
    (at the 100x scale the suite's own 32-way stages hold load1 above
    the threshold for every row, so a fresh session's spread leg
    re-flags natural codegen variance forever). A fresh session
    coming back SLOWER also refutes the loaded flag (cold-JIT-heavy
    queries pay first-pass compile the warm suite had amortized —
    measured 2.3 s loaded vs 5.7 s fresh on tfidf) — but ONLY when
    that fresh session ran clean (its own flag unset AND the settle
    wait actually got under the threshold): a burst arriving DURING
    the re-measure phase inflates the fresh leg too, and a
    slower-because-bursty fresh run proves nothing about the loaded
    row (ADVICE r12 medium). If the two sessions genuinely DISAGREE,
    the fresh value is recorded and the fresh session's own flag
    stands — sustained interference stays visible."""
    import time
    flagged = sorted(n for n, e in merged_load.items()
                     if row_flagged(e) and merged.get(n, -1) >= 0)
    remeasured: dict[str, dict] = {}
    if not flagged:
        return remeasured
    waited = 0
    while (os.getloadavg()[0] > LOAD_FLAG_THRESHOLD
           and waited < SETTLE_MAX_S):
        time.sleep(SETTLE_POLL_S)
        waited += SETTLE_POLL_S
    post_settle = os.getloadavg()[0]
    print(f"re-measuring {len(flagged)} flagged-load rows "
          f"(settled {waited}s, load1 {post_settle:.1f})",
          file=sys.stderr)
    for i in range(0, len(flagged), chunk):
        sub = flagged[i:i + chunk]
        # children start right after our session's work: pass the
        # post-settle reading as their start-load leg, or they read
        # our exit bleed as a co-tenant (chunk-bleed guard)
        got, loads, _ = run_subset(sub, sf_dir, suite_start=post_settle)
        for n in sub:
            if n not in got:
                continue
            remeasured[n] = {
                "loaded": [merged[n], merged_load[n][0]],
                "fresh": [got[n], loads.get(n, [None])[0]],
            }
            if got[n] >= 0:
                lo = merged[n]
                merged[n] = min(lo, got[n]) if lo >= 0 else got[n]
                if got[n] <= lo or lo < 0:
                    merged_load[n] = list(loads[n])
                fresh_clean = (not row_flagged(loads.get(n, [0, 0, 0, 1]))
                               and post_settle <= LOAD_FLAG_THRESHOLD)
                if (lo > 0 and got[n] > 0
                        and max(lo, got[n]) <= AGREE_RATIO * min(lo, got[n])
                        and len(merged_load[n]) > 3):
                    # reproduced across two sessions: refuted flag
                    merged_load[n][3] = 0
                elif got[n] > lo > 0 and fresh_clean \
                        and len(merged_load[n]) > 3:
                    # a CLEAN fresh-idle session could not reproduce
                    # anything slower-than-recorded: the loaded value
                    # stands as the reproducible floor; refute its
                    # flag. (A flagged/bursty fresh session being
                    # slower proves nothing — flag stands.)
                    merged_load[n][3] = 0
            # a failed re-measure (-1) keeps the loaded timing — a
            # real measurement must not be replaced by a broken run
            # (both values stay on record in `remeasured`)
    return remeasured


#: per-chunk byte budget for the name-keyed per-query lines: small
#: enough that the last chunk plus the qv array plus the summary all
#: fit a 2000-byte tail together.
QUERY_LINE_BYTES = 700


def per_query_lines(compact: dict) -> list[str]:
    """Per-query timings as JSON lines sized for the driver's bounded
    stdout TAIL capture — measured exactly 2000 bytes in the r11/r12
    artifacts (r12 VERDICT #1: the single 163-entry {"queries": ...}
    line outgrew that window, json.loads failed on the cut line, and
    PERF lost every per-query number and the geomean two rounds
    running). A full name-keyed map is ~3.5-4 KB and can never fit,
    so emit three redundant encodings, the most compact last so the
    tail always keeps it:

    1. the full ``{"queries": {...}}`` map — consumed by run_subset /
       bench_chunks which read the child's WHOLE stdout; first to be
       truncated out of a tail;
    2. name-keyed chunks ``{"queries_1of6": {...}}``, each line under
       ``QUERY_LINE_BYTES`` — the tail keeps the last chunk(s) whole,
       giving name->sec rows that cross-check encoding 3;
    3. one fixed-order array ``{"qn": N, "qo": "sorted",
       "qv": [...]}``: the values of sorted(names) at ~5 bytes per
       query (~900 B for 163), so EVERY query's timing survives any
       tail; names are reconstructible from the registry the driver
       already imports for its correctness sweep.
    """
    lines = [json.dumps({"queries": compact}, separators=(",", ":"))]
    names = sorted(compact)
    # a chunk line is {"queries_NofM":{...}}: reserve the wrapper (N, M
    # up to three digits) and size each entry as it serializes,
    # separating comma included
    budget = QUERY_LINE_BYTES - len('{"queries_999of999":}')
    chunks: list[dict] = [{}]
    size = 2
    for n in names:
        ent = len(json.dumps({n: compact[n]}, separators=(",", ":"))) - 1
        if chunks[-1] and size + ent > budget:
            chunks.append({})
            size = 2
        chunks[-1][n] = compact[n]
        size += ent
    total = len(chunks)
    for i, ch in enumerate(chunks):
        lines.append(json.dumps({f"queries_{i + 1}of{total}": ch},
                                separators=(",", ":")))
    lines.append(json.dumps(
        {"qn": len(names), "qo": "sorted",
         "qv": [compact[n] for n in names]}, separators=(",", ":")))
    return lines


#: flagged row names the summary line carries. The full set is already
#: in the "load" line (element 3 of each row); an unbounded list would
#: push the last line out of the 2000-byte tail once most rows flag
#: (derived 100x scales).
SUMMARY_FLAGGED_NAMES = 5


def summary_line(summary: dict) -> str:
    """The last stdout line: ``summary`` as compact JSON, keys in the
    given order, with ``flagged_load`` cut to its first
    ``SUMMARY_FLAGGED_NAMES`` names."""
    capped = dict(summary)
    capped["flagged_load"] = \
        list(summary["flagged_load"])[:SUMMARY_FLAGGED_NAMES]
    return json.dumps(capped, separators=(",", ":"))


def host_load() -> tuple[float, float]:
    """(1-min loadavg, MemAvailable GiB) — the two numbers the r5/r6
    drift forensics had to reconstruct from shell history."""
    load1 = os.getloadavg()[0]
    avail = -1.0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail = int(line.split()[1]) / 1048576  # kB -> GiB
                    break
    except OSError:
        pass
    return round(load1, 2), round(avail, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    import __spark_entry__ as entrymod
    from toy_vector_db_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] + [n for n in qs if n not in HEADLINE]
    # Optional subset (comma-separated names): lets a long sweep run in
    # chunks of fresh sessions. A single 128-query session accumulates
    # JVM/checkpoint/python-worker pressure that first inflates late
    # queries (measured, BASELINE.md wave-2 note) and at the 100x
    # derived scale eventually crashed a reused python worker — chunked
    # fresh sessions measure the steady state a real cluster job sees.
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        wanted = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in wanted if n not in qs]
        if unknown:
            print(f"bench: unknown query names {unknown}", file=sys.stderr)
        names = [n for n in names if n in set(wanted)]

    # session-start load, BEFORE any Spark work: a high value here is
    # a co-tenant by construction (nothing of ours is running yet) —
    # one leg of the evidence-based flag predicate above. Chunked
    # children inherit the runner's pre-suite measurement; a hot
    # standalone start probes a settle window first (bleed guard)
    start_load = session_start_load()

    # settled matmul constant, measured NOW (idle by the settle gate
    # above, before any Spark work) unless pinned via env — the
    # absolute reference every later probe divides by (ADVICE r12:
    # the shipped per-host constant mis-calibrated everywhere else)
    calib_settled = calib_settled_constant()
    # pinned into the env so the re-measure children share this idle
    # reference instead of measuring their own right after the parent
    # JVM exits (tools/bench_chunks.py does the same)
    if calib_settled > 0:
        os.environ["SPARK_GRAFT_CALIB_S"] = str(calib_settled)

    # warm-up: JVM, codegen, parquet footers
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).count()

    # sentinel probes: absolute CPU reference between queries (the
    # session is idle there — self-load can't inflate a probe)
    calib_probes: list[float] = [calibration_probe()]

    timings: dict[str, float] = {}
    loads: dict[str, list] = {}
    for name in names:
        if len(timings) and len(timings) % CALIB_EVERY == 0:
            calib_probes.append(calibration_probe())
        # best of 2: the machine hosts other tenants and a single run
        # can absorb multi-second scheduler noise (observed 5x swings
        # on a rotating victim query); the min is the reproducible
        # number and amortizes one-time codegen compile the way a
        # long-running cluster job would
        load1, mem_gb = host_load()
        attempts: list[float] = []
        best = None
        n_attempts = 2
        tries = 0
        while tries < n_attempts:
            tries += 1
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                took = round(time.time() - t0, 3)
                attempts.append(took)
                best = took if best is None else min(best, took)
            except Exception as e:  # a broken query must not kill the bench
                print(f"bench error in {name}: {e}", file=sys.stderr)
                best = -1.0
                break
            if (tries == 2 and n_attempts == 2
                    and load1 > LOAD_FLAG_THRESHOLD
                    and max(attempts) > RETRY_SPREAD * min(attempts)):
                n_attempts = 3   # loaded AND noisy: one extra attempt
        spread = (max(attempts) / min(attempts)
                  if len(attempts) >= 2 and min(attempts) > 0 else 1.0)
        flag = (start_load > LOAD_FLAG_THRESHOLD
                or (load1 > LOAD_FLAG_THRESHOLD and spread > FLAG_SPREAD))
        timings[name] = best
        loads[name] = [load1, mem_gb, tries, int(flag)]
        print(f"bench {name}: {best}s (load1 {load1})", file=sys.stderr)

    # idle re-measure pass (skipped inside run_subset children): rows
    # timed under host load get fresh-session twins, and the summary
    # carries the min(loaded, fresh) value — the reproducible number
    # drift analysis needs. Emitted as its own JSON line with BOTH
    # values per row.
    calib_probes.append(calibration_probe())

    remeasured = {}
    if not os.environ.get("SPARK_GRAFT_NO_REMEASURE"):
        if any(row_flagged(e) and timings.get(n, -1) >= 0
               for n, e in loads.items()):
            # stop the parent session first: the fresh child sessions
            # should measure what bench_chunks measures — no resident
            # parent JVM heap competing for the same cores/memory
            spark.stop()
        remeasured = remeasure_flagged(timings, loads, sf_dir)
        if remeasured:
            # one more probe AFTER the re-measure pass (ADVICE r12):
            # a burst arriving during re-measurement must land in
            # calib_drift, or the fresh legs it inflated look clean
            calib_probes.append(calibration_probe())
    sustained, drifts = sustained_load_stamp(calib_probes,
                                             settled=calib_settled)
    total = round(sum(v for v in timings.values() if v >= 0), 3)
    # The driver captures a bounded TAIL of stdout (2000 bytes,
    # measured from the r11/r12 artifacts). At 90+ queries a single
    # summary-first JSON line outgrows that window (r1-r3 recorded
    # parsed: null), and by r11 even the queries-then-summary order
    # lost the per-query map (the one line grew past the whole
    # window). So: per-query detail in tail-survivable encodings
    # (per_query_lines — chunked maps + a fixed-order compact array),
    # then a tiny summary-only line LAST; a tail capture keeps the
    # end of stdout, so the summary and the compact array always
    # survive.
    core = round(sum(v for n, v in timings.items()
                     if n in CORE and v >= 0), 3)
    compact = {n: round(v, 2) for n, v in timings.items()}
    flagged = sorted(n for n, e in loads.items() if row_flagged(e))
    max_load = max((e[0] for e in loads.values()), default=0.0)
    # load line BEFORE the queries lines: the driver keeps a bounded
    # TAIL of stdout, and queries + summary are the rows that must
    # survive truncation
    print(json.dumps({"load": loads}, separators=(",", ":")))
    if remeasured:
        print(json.dumps({"remeasured": remeasured}, separators=(",", ":")))
    for line in per_query_lines(compact):
        print(line)
    print(summary_line({"metric": "workload_total", "value": total,
                        "core_total": core, "unit": "sec", "sf": sf_val,
                        "max_load1": max_load,
                        "flagged_load": flagged,
                        "sustained_load": sustained,
                        "calib_drift": drifts,
                        "calib_s": round(calib_settled, 5)}))


if __name__ == "__main__":
    main()
