"""Pinned-blocking-constant lint (r6 verdict item 4).

The r5 bug class — a pinned blocking/partitioning constant is a
latent N^2 (or a latent one-task bottleneck) that only shows up a
decade of scale later — was fixed point-by-point (`ivf_nlist`,
`max_bucket`, `cluster_cap`, `_stream_partitions`,
`BATCH_MAX_QUERIES`, `QUADRATIC_BLOCK_MAX_ROWS`). This test keeps the
next operator from reintroducing it: every work-bounding knob in the
package must either ROUTE through the one sizing-policy module
(``operators/chooser.py``) or carry an explicit ``cap:`` rationale
where it is pinned. Adding a raw pinned knob fails this test with the
offending file:line until its author either wires it to chooser or
writes down why the fixed value is scale-safe.

Scope (deliberately narrow so the signal stays strong):

- module-level ``NAME = <int>`` whose name smells like a bound /
  partition count (MAX/CAP/NLIST/CLUSTERS/PARTITION/BATCH/BUCKET/
  BLOCK/CHUNK/SHARD/ROUNDS/MERGES) — rationale must sit in the
  preceding comment block (``cap:`` or a ``chooser`` reference);
- function parameters with a literal int default whose name is a
  known work-bounding knob (``max_ids``, ``max_candidates``,
  ``max_bucket``, ``max_block_rows``, ``max_batch``, ``max_pairs``,
  ``max_bands_per_interval``, ``max_files_per_trigger``,
  ``n_clusters``, ``n_centroids``, ``nlist``, ``*_cap``,
  ``*_partitions``, ``*_buckets``, ``*_shards``) — rationale
  (``cap:``) or a chooser/ivf_nlist reference must appear in the
  function's own source (docstring included);
- literal partition counts at CALL sites (r7 verdict item 5): a raw
  ``.repartition(64)`` / ``.coalesce(8)`` / ``numPartitions=16``
  inside a function body is the same latent one-task-bottleneck /
  tiny-task-storm shape as a pinned module constant, but the two
  visitors above can't see it — rationale must sit within the call's
  preceding comment block (same 8-line window as module constants);
- driver-round LOOPS (r9 verdict item 8, after learn_bpe's batching):
  a ``for``/``while`` whose BODY materializes a frame (``collect``/
  ``count``/``localCheckpoint``/``checkpoint``/``toPandas``) runs one-
  or-more Spark jobs PER ITERATION — the job-count wall class that
  made learn_bpe unusable at 32k merges. Rationale (``cap:`` or a
  chooser reference) must appear in the enclosing function's source.
  Loops over a literal tuple/list/constant are exempt (bounded by
  construction), as are calls in the loop's ITER expression (one job,
  iterating the result).

A second rule keeps tier CROSSOVERS in the same module: an
``if <name ending in tier> == "auto":`` block outside ``chooser.py``
must call into ``chooser`` (``text_tier``, ``cc_local_fits``, ...) —
a fresh count-then-compare prologue is how one crossover became nine
copies of itself.

NOT in scope: convergence/depth/radius knobs (``max_iter``,
``max_hops``, ``max_hamming``), display widths, algorithm parameters
(``num_perm``, ``bands``, ``bits``, ``k``) — those change answers or
iteration counts, not the work-per-task shape at scale.
"""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "toy_vector_db_spark"

MOD_CONST = re.compile(
    r"(MAX|_CAP$|^CAP_|NLIST|CLUSTERS|PARTITION|BATCH|BUCKET|BLOCK|CHUNK"
    r"|SHARD|ROUNDS|MERGES)", re.I)

PARAM_EXACT = {
    "max_ids", "max_candidates", "max_bucket", "max_block_rows",
    "max_batch", "max_pairs", "max_bands_per_interval",
    "max_files_per_trigger", "n_clusters", "n_centroids", "nlist",
}
PARAM_SUFFIX = re.compile(r".*_(cap|partitions|buckets|shards)$")

RATIONALE = re.compile(r"cap:|chooser|ivf_nlist", re.I)

#: DataFrame/RDD methods whose first positional arg is a partition
#: count, and call keywords that carry one anywhere in the API
PARTITION_METHODS = {"repartition", "repartitionByRange", "coalesce"}
PARTITION_KWARGS = {"numPartitions", "num_partitions", "parallelism",
                    "numSlices"}

#: unambiguous Spark driver-materializers (``head``/``take``/``first``
#: excluded: pandas shares those names inside Arrow-batch generators)
DRIVER_CALLS = {"collect", "count", "localCheckpoint", "checkpoint",
                "toPandas"}


def _loop_body_driver_calls(node) -> set[str]:
    hits: set[str] = set()
    for stmt in node.body + node.orelse:
        for sub in ast.walk(stmt):
            if (isinstance(sub, ast.Call)
                    and isinstance(sub.func, ast.Attribute)
                    and sub.func.attr in DRIVER_CALLS):
                hits.add(sub.func.attr)
    return hits


def _iter_findings():
    for f in sorted(PKG.rglob("*.py")):
        src = f.read_text()
        lines = src.splitlines()
        tree = ast.parse(src)
        seen_loops: set[int] = set()  # dedupe loops inside nested defs
        for node in tree.body:
            if (isinstance(node, ast.Assign)
                    and isinstance(node.value, ast.Constant)
                    and isinstance(node.value.value, int)
                    and not isinstance(node.value.value, bool)):
                for t in node.targets:
                    if isinstance(t, ast.Name) and MOD_CONST.search(t.id):
                        ctx = "\n".join(
                            lines[max(0, node.lineno - 9):node.lineno])
                        if not RATIONALE.search(ctx):
                            yield (f"{f.relative_to(PKG.parent)}:"
                                   f"{node.lineno} module constant {t.id}="
                                   f"{node.value.value}")
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                lits = []
                if (isinstance(node.func, ast.Attribute)
                        and node.func.attr in PARTITION_METHODS
                        and node.args
                        and isinstance(node.args[0], ast.Constant)
                        and isinstance(node.args[0].value, int)
                        and not isinstance(node.args[0].value, bool)):
                    lits.append(f"{node.func.attr}({node.args[0].value})")
                for kw in node.keywords:
                    if (kw.arg in PARTITION_KWARGS
                            and isinstance(kw.value, ast.Constant)
                            and isinstance(kw.value.value, int)
                            and not isinstance(kw.value.value, bool)):
                        lits.append(f"{kw.arg}={kw.value.value}")
                if lits:
                    ctx = "\n".join(
                        lines[max(0, node.lineno - 9):node.lineno])
                    if not RATIONALE.search(ctx):
                        for lit in lits:
                            yield (f"{f.relative_to(PKG.parent)}:"
                                   f"{node.lineno} call-site {lit}")
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            fn_seg = None
            for sub in ast.walk(node):
                if not isinstance(sub, (ast.For, ast.While)):
                    continue
                if (isinstance(sub, ast.For)
                        and isinstance(sub.iter,
                                       (ast.Tuple, ast.List, ast.Constant))):
                    continue  # literal sequence: bounded by construction
                if sub.lineno in seen_loops:
                    continue
                calls = _loop_body_driver_calls(sub)
                if not calls:
                    continue
                seen_loops.add(sub.lineno)
                if fn_seg is None:
                    fn_seg = ast.get_source_segment(src, node) or ""
                if not RATIONALE.search(fn_seg):
                    yield (f"{f.relative_to(PKG.parent)}:{sub.lineno} "
                           f"driver-round loop in {node.name}() "
                           f"({', '.join(sorted(calls))} per iteration)")
            args = node.args
            pos = args.args[len(args.args) - len(args.defaults):]
            pairs = list(zip(pos, args.defaults)) + \
                list(zip(args.kwonlyargs, args.kw_defaults))
            seg = None
            for p, d in pairs:
                if d is None or not isinstance(d, ast.Constant):
                    continue
                if not isinstance(d.value, int) or isinstance(d.value, bool):
                    continue
                if not (p.arg in PARAM_EXACT or PARAM_SUFFIX.match(p.arg)):
                    continue
                if seg is None:
                    seg = ast.get_source_segment(src, node) or ""
                if not RATIONALE.search(seg):
                    yield (f"{f.relative_to(PKG.parent)}:{node.lineno} "
                           f"{node.name}({p.arg}={d.value})")


def test_every_blocking_knob_routes_through_chooser_or_declares_cap():
    misses = list(_iter_findings())
    assert not misses, (
        "pinned blocking/partitioning knobs without a chooser route or "
        "a 'cap:' rationale (the r5 latent-N^2 bug class):\n  "
        + "\n  ".join(misses)
        + "\nEither size the knob via operators/chooser (ivf_nlist & "
        "friends) or write a 'cap:' comment explaining why the pinned "
        "value is scale-safe.")


def test_lint_catches_a_raw_knob(tmp_path):
    """The lint itself must fire on an unannotated knob — guard the
    guard: a refactor that silently empties the patterns would make
    the audit vacuous."""
    probe = PKG / "_lint_probe_tmp.py"
    probe.write_text(
        "MAX_PROBE_ROWS = 123\n"
        "def f(max_bucket: int = 7):\n    return max_bucket\n"
        "def g(df, sc):\n"
        "    df = df.repartition(64)\n"
        "    sc.parallelize([], numSlices=16)\n"
        "    return df.coalesce(1)\n"
        "def h(df):\n"
        "    # cap: single output file for a bounded report\n"
        "    return df.coalesce(1)\n"
        "def loopy(df, n):\n"
        "    for _ in range(n):\n        df = df.localCheckpoint()\n"
        "    return df\n"
        "def loopy_ok(df, n):\n"
        "    '''cap: n is a convergence bound, jobs stay vocab-sized'''\n"
        "    for _ in range(n):\n        df = df.localCheckpoint()\n"
        "    return df\n"
        "def loopy_lit(df):\n"
        "    out = []\n"
        "    for i in (1, 2, 3):\n        out.append(df.count())\n"
        "    return out\n"
        "def loopy_iter(df):\n"
        "    for r in df.collect():\n        pass\n")
    try:
        misses = [m for m in _iter_findings() if "_lint_probe_tmp" in m]
        # 2 knob findings + 3 call-site findings + 1 driver-round
        # loop; h()'s annotated coalesce, loopy_ok's cap'd loop,
        # loopy_lit's literal-tuple loop, and loopy_iter's
        # iterate-the-result loop must NOT fire
        assert len(misses) == 6, misses
        assert sum("call-site" in m for m in misses) == 3, misses
        assert sum("driver-round loop" in m for m in misses) == 1, misses
    finally:
        probe.unlink()


def _ref_name(node) -> str:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return ""


def _is_auto_tier_test(test) -> bool:
    """``<x>tier == "auto"`` in either operand order, ``x`` a name or
    an attribute."""
    if not (isinstance(test, ast.Compare) and len(test.ops) == 1
            and isinstance(test.ops[0], ast.Eq)):
        return False
    a, b = test.left, test.comparators[0]
    return any(isinstance(c, ast.Constant) and c.value == "auto"
               and _ref_name(o).endswith("tier")
               for c, o in ((a, b), (b, a)))


def _auto_tier_findings():
    for f in sorted(PKG.rglob("*.py")):
        if f.name == "chooser.py":
            continue
        src = f.read_text()
        tree = ast.parse(src)
        # names bound from the chooser module anywhere in the file,
        # and names the module itself is bound to
        funcs, mods = set(), set()
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom):
                for a in n.names:
                    if (n.module or "").split(".")[-1] == "chooser":
                        funcs.add(a.asname or a.name)
                    elif a.name == "chooser":
                        mods.add(a.asname or a.name)
        for node in ast.walk(tree):
            if not (isinstance(node, ast.If)
                    and _is_auto_tier_test(node.test)):
                continue
            routed = False
            for stmt in node.body:
                for c in ast.walk(stmt):
                    if not isinstance(c, ast.Call):
                        continue
                    fn = c.func
                    if ((isinstance(fn, ast.Name) and fn.id in funcs)
                            or (isinstance(fn, ast.Attribute)
                                and isinstance(fn.value, ast.Name)
                                and fn.value.id in mods)):
                        routed = True
            if not routed:
                yield (f"{f.relative_to(PKG.parent)}:{node.lineno} "
                       "auto tier pick that does not call into chooser")


def test_every_auto_tier_pick_routes_through_chooser():
    misses = list(_auto_tier_findings())
    assert not misses, (
        "tier='auto' resolved outside operators/chooser.py:\n  "
        + "\n  ".join(misses)
        + "\nPut the crossover in chooser (text_tier, cc_local_fits, "
        "choose_*_tier) and call it from the auto branch.")


def test_auto_tier_lint_catches_a_local_crossover():
    """Guard the guard: a count-then-compare prologue fires, routed
    auto branches (imported function or module attribute) do not."""
    probe = PKG / "_lint_tier_probe_tmp.py"
    probe.write_text(
        "from . import chooser\n"
        "def bad(df, tier='auto'):\n"
        "    if tier == 'auto':\n"
        "        tier = 'arrow' if df.count() >= 10 else 'column'\n"
        "    return tier\n"
        "class Store:\n"
        "    def bad(self, df):\n"
        "        if 'auto' == self.sig_tier:\n"
        "            return df.count() >= 10\n"
        "def good(df, tier='auto'):\n"
        "    if tier == 'auto':\n"
        "        from .chooser import text_tier\n"
        "        tier = text_tier(df)\n"
        "    return tier\n"
        "def good_mod(df, tier='auto'):\n"
        "    if tier == 'auto':\n"
        "        tier = chooser.text_tier(df)\n"
        "    return tier\n")
    try:
        misses = [m for m in _auto_tier_findings()
                  if "_lint_tier_probe_tmp" in m]
        assert [m.split(":")[1].split()[0] for m in misses] == ["3", "8"], \
            misses
    finally:
        probe.unlink()


def _is_list_arg(node) -> bool:
    """A list display or comprehension, ``list(...)`` or ``.tolist()``."""
    if isinstance(node, (ast.List, ast.ListComp)):
        return True
    return (isinstance(node, ast.Call)
            and _ref_name(node.func) in ("list", "tolist"))


def _list_lit_findings():
    """``F.lit(<list>)`` outside ``functions/vector.py``: PySpark builds
    it as one ``lit`` py4j call per element (~100 ms for one 128-dim
    vector); ``vector_lit`` parses the same literal in one call."""
    for f in sorted(PKG.rglob("*.py")):
        if f.relative_to(PKG).as_posix() == "functions/vector.py":
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "lit" and node.args
                    and _is_list_arg(node.args[0])):
                yield (f"{f.relative_to(PKG.parent)}:{node.lineno} "
                       "list argument to lit()")


def test_no_list_literal_outside_vector_lit():
    misses = list(_list_lit_findings())
    assert not misses, (
        "F.lit(list) costs one py4j call per element:\n  "
        + "\n  ".join(misses)
        + "\nBuild array literals with functions.vector.vector_lit.")


def test_list_lit_lint_catches_a_planted_site():
    """Guard the guard: list displays, comprehensions, list() and
    .tolist() arguments fire; scalars and vector_lit do not."""
    probe = PKG / "_lint_lit_probe_tmp.py"
    probe.write_text(
        "from pyspark.sql import functions as F\n"
        "from .functions.vector import vector_lit\n"
        "def f(q, m):\n"
        "    a = F.lit([1.0, 2.0])\n"
        "    b = F.lit([float(x) for x in q])\n"
        "    c = F.lit(list(q))\n"
        "    d = F.lit(m.tolist())\n"
        "    return a, b, c, d, F.lit(0.0), F.lit(q[0]), vector_lit(q)\n")
    try:
        misses = [m for m in _list_lit_findings()
                  if "_lint_lit_probe_tmp" in m]
        assert [m.split(":")[1].split()[0] for m in misses] == \
            ["4", "5", "6", "7"], misses
    finally:
        probe.unlink()


#: pyarrow.parquet names that write a file
PQ_WRITERS = {"write_table", "ParquetWriter"}


def _dotted(node) -> str:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return f"{_dotted(node.value)}.{node.attr}"
    return ""


def _parquet_write_findings():
    """``pq.write_table`` / ``pq.ParquetWriter`` outside
    ``sources/pqwriter.py``: pyarrow's defaults dictionary-encode float
    vector columns (files ~40 % larger, ~5x slower to write)."""
    for f in sorted(PKG.rglob("*.py")):
        if f.relative_to(PKG).as_posix() == "sources/pqwriter.py":
            continue
        tree = ast.parse(f.read_text())
        mods, names = set(), set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                for a in n.names:
                    if a.name == "pyarrow.parquet":
                        mods.add(a.asname or a.name)
                    elif a.name == "pyarrow":
                        mods.add(f"{a.asname or a.name}.parquet")
            elif isinstance(n, ast.ImportFrom):
                for a in n.names:
                    if n.module == "pyarrow" and a.name == "parquet":
                        mods.add(a.asname or a.name)
                    elif (n.module == "pyarrow.parquet"
                          and a.name in PQ_WRITERS):
                        names.add(a.asname or a.name)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            if ((isinstance(fn, ast.Name) and fn.id in names)
                    or (isinstance(fn, ast.Attribute)
                        and fn.attr in PQ_WRITERS
                        and _dotted(fn.value) in mods)):
                yield (f"{f.relative_to(PKG.parent)}:{node.lineno} "
                       "pyarrow parquet write outside sources/pqwriter.py")


def test_parquet_writes_go_through_the_writer_helper():
    misses = list(_parquet_write_findings())
    assert not misses, (
        "driver-side parquet writes must use sources.pqwriter:\n  "
        + "\n  ".join(misses))


def test_parquet_write_lint_catches_a_planted_call():
    """Guard the guard: module, alias and imported-name calls fire; a
    ParquetWriter instance's write_table and the helper do not."""
    probe = PKG / "_lint_pq_probe_tmp.py"
    probe.write_text(
        "import pyarrow as pa\n"
        "import pyarrow.parquet as pq\n"
        "from pyarrow.parquet import write_table as wt\n"
        "from .sources.pqwriter import write_parquet\n"
        "def f(t, p):\n"
        "    pq.write_table(t, p)\n"
        "    with pq.ParquetWriter(p, t.schema) as w:\n"
        "        w.write_table(t)\n"
        "    wt(t, p)\n"
        "    pa.parquet.write_table(t, p)\n"
        "    write_parquet(t, p)\n")
    try:
        misses = [m for m in _parquet_write_findings()
                  if "_lint_pq_probe_tmp" in m]
        assert sorted(int(m.split(":")[1].split()[0]) for m in misses) \
            == [6, 7, 9, 10], misses
    finally:
        probe.unlink()
