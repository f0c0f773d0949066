"""VectoDB SQL dialect front-end.

The reference ships a full tokenizer/parser/planner/interpreter
(/root/reference/pkg/sql/) because it has no query engine underneath.
Here Catalyst IS the engine, so this module is deliberately thin
(SURVEY.md §4.3): parse just enough of the dialect to

  - rewrite ``SELECT ... FROM c NEAREST TO <vec|'id'|(subquery)>
    [USING metric] [WHERE ...] [LIMIT k]`` into a DataFrame knn pipeline
    (reference executor.go:251-388);
  - execute INSERT / DELETE / UPDATE / CREATE / DROP COLLECTION against
    the collection catalog (executor.go:391-652) — including UPDATE,
    which the reference parses but cannot execute (parser.go:563-645
    vs executor.go:87-100);
  - hand every pure-ANSI statement to ``spark.sql`` unchanged, which
    gives the *full* expression grammar the reference only parses
    (SURVEY §2.2 P9).

Dialect quirks replicated (with citations):
  - knn LIMIT defaults to 10                       (executor.go:306-309)
  - id-reference query excludes the self-match     (executor.go:363-366)
  - ``metadata.K != v`` is TRUE when K is missing  (executor.go:716-718)
  - ``metadata.K`` sugar -> map access             (executor.go:692-701)
  - ``vector``/``dimension`` pseudo-columns        (executor.go:224-245)
  - DELETE requires WHERE                          (executor.go:534-537)
  - INSERT duplicate id errors                     (executor.go:476-480)

Divergence (documented, SURVEY §7 risk 6): the reference silently
projects unknown columns as ``id`` (executor.go:238-241); we raise.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..functions.distance import METRICS
from ..functions.vector import vector_sql
from .catalog import CollectionCatalog

DEFAULT_KNN_LIMIT = 10

_NEAREST_RE = re.compile(
    r"\bNEAREST\s+TO\s+(?P<q>\[[^\]]*\]|'(?:[^']|'')*'|\((?P<sub>[^()]*(?:\([^()]*\)[^()]*)*)\))"
    r"(?:\s+USING\s+(?P<metric>\w+))?",
    re.IGNORECASE | re.DOTALL)
_LIMIT_RE = re.compile(r"\bLIMIT\s+(\d+)\s*$", re.IGNORECASE)
_WHERE_RE = re.compile(r"\bWHERE\b(?P<cond>.*?)(?=\bLIMIT\b|$)",
                       re.IGNORECASE | re.DOTALL)
_SELECT_RE = re.compile(
    r"^\s*SELECT\s+(?P<cols>.*?)\s+FROM\s+(?P<table>\w+)(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL)
_META_NE_RE = re.compile(r"\bmetadata\.(\w+)\s*(?:!=|<>)\s*('(?:[^']|'')*')")
_META_RE = re.compile(r"\bmetadata\.(\w+)")
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>\w+)\s*(?:\((?P<cols>[^)]*)\))?\s*"
    r"VALUES\s*\((?P<vals>.*)\)\s*$", re.IGNORECASE | re.DOTALL)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<table>\w+)(?:\s+WHERE\s+(?P<cond>.*))?\s*$",
    re.IGNORECASE | re.DOTALL)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<table>\w+)\s+SET\s+(?P<sets>.*?)"
    r"(?:\s+WHERE\s+(?P<cond>.*))?\s*$", re.IGNORECASE | re.DOTALL)
_CREATE_RE = re.compile(
    r"^\s*CREATE\s+COLLECTION\s+(?P<table>\w+)\s*"
    r"(?:\(\s*DIMENSION\s+(?P<dim>\d+)\s*\))?\s*$", re.IGNORECASE)
_DROP_RE = re.compile(r"^\s*DROP\s+COLLECTION\s+(?P<table>\w+)\s*$",
                      re.IGNORECASE)
# OPTIMIZE <collection> [FILES <n>] [SORT BY cols | ZORDER BY cols] —
# the Delta-style maintenance verb over the versioned catalog
# (catalog.compact): small-file rewrite as a new atomic version,
# optionally clustered on one key (SORT BY) or a Morton interleave of
# several (ZORDER BY, functions/zorder).
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<table>\w+)"
    r"(?:\s+FILES\s+(?P<files>\d+))?"
    r"(?:\s+SORT\s+BY\s+(?P<sort>\w+(?:\s*,\s*\w+)*)"
    r"|\s+ZORDER\s+BY\s+(?P<zorder>\w+(?:\s*,\s*\w+)*))?\s*$",
    re.IGNORECASE)


@dataclass
class SqlResult:
    """Uniform statement result (reference ResultSet, executor.go:63-76).

    SELECT-like statements carry ``df``; DML/DDL carry ``message`` and
    ``affected`` (row count)."""
    df: DataFrame | None = None
    message: str = ""
    affected: int = 0
    columns: list[str] = field(default_factory=list)

    def rows(self):
        return self.df.collect() if self.df is not None else []


def _mask_quotes(text: str) -> str:
    """Same-length copy of ``text`` with the contents of '...' string
    literals (including the '' escape) blanked to spaces, so clause
    regexes (_WHERE_RE/_LIMIT_RE) can't match keywords INSIDE a
    literal — ``WHERE note = 'limit reached' LIMIT 5`` must split at
    the real LIMIT, not the quoted one. Same length means match
    indices map 1:1 back into the original text."""
    out, i, n = [], 0, len(text)
    while i < n:
        ch = text[i]
        if ch != "'":
            out.append(ch)
            i += 1
            continue
        out.append("'")
        i += 1
        while i < n:
            if text[i] == "'":
                if i + 1 < n and text[i + 1] == "'":  # '' escape
                    out.append("  ")
                    i += 2
                    continue
                out.append("'")
                i += 1
                break
            out.append(" ")
            i += 1
    return "".join(out)


def _parse_vector_literal(text: str) -> list[float]:
    body = text.strip()[1:-1].strip()
    if not body:
        return []
    return [float(x) for x in body.split(",")]


def _dist_sql(metric: str, vec_sql: str, col: str = "embedding") -> str:
    """Distance as a Spark-SQL expression string (same math as
    functions/distance.py, kept in SQL so the whole statement stays one
    spark.sql plan — fully codegen'd, no Python boundary)."""
    a = f"CAST({col} AS ARRAY<DOUBLE>)"
    q = vec_sql
    dot = f"aggregate(zip_with({a}, {q}, (x, y) -> x * y), 0.0D, (s, x) -> s + x)"
    na = f"sqrt(aggregate({a}, 0.0D, (s, x) -> s + x * x))"
    nq = f"sqrt(aggregate({q}, 0.0D, (s, x) -> s + x * x))"
    if metric == "euclidean":
        return (f"sqrt(aggregate(zip_with({a}, {q}, (x, y) -> (x - y) * (x - y)),"
                f" 0.0D, (s, x) -> s + x))")
    if metric == "cosine":
        return (f"CASE WHEN {na} = 0.0D OR {nq} = 0.0D THEN 1.0D "
                f"ELSE 1.0D - least(greatest({dot} / ({na} * {nq}), -1.0D), 1.0D) END")
    if metric == "dotproduct":
        return f"-{dot}"
    if metric == "manhattan":
        return (f"aggregate(zip_with({a}, {q}, (x, y) -> abs(x - y)),"
                f" 0.0D, (s, x) -> s + x)")
    raise ValueError(f"unsupported distance metric: {metric!r} "
                     f"(supported: {sorted(METRICS)})")


class SqlEngine:
    """Execute VectoDB-dialect SQL over Spark.

    Collections live in ``catalog`` (parquet-backed, see catalog.py);
    arbitrary temp views registered on the session work too (any table
    Spark can see is queryable — a superset of the reference's single
    implicit ``vectors`` collection, SURVEY §1.1).
    """

    KNOWN_COLUMNS = ("id", "vector", "dimension", "distance", "metadata")

    def __init__(self, spark: SparkSession, catalog: CollectionCatalog | None = None,
                 default_metric: str = "euclidean"):
        self.spark = spark
        self.catalog = catalog or CollectionCatalog(spark)
        self.default_metric = default_metric

    # -- public ----------------------------------------------------------

    def execute(self, sql: str) -> SqlResult:
        stmt = sql.strip().rstrip(";")
        head = stmt.split(None, 1)[0].upper() if stmt else ""
        if head == "SELECT":
            return self._select(stmt)
        if head == "INSERT":
            return self._insert(stmt)
        if head == "DELETE":
            return self._delete(stmt)
        if head == "UPDATE":
            return self._update(stmt)
        if head == "CREATE" and _CREATE_RE.match(stmt):
            return self._create(stmt)
        if head == "DROP" and _DROP_RE.match(stmt):
            return self._drop(stmt)
        if head == "OPTIMIZE" and _OPTIMIZE_RE.match(stmt):
            return self._optimize(stmt)
        # pure ANSI -> Catalyst directly
        return SqlResult(df=self.spark.sql(stmt))

    def sql(self, query: str) -> DataFrame:
        res = self.execute(query)
        if res.df is None:
            raise ValueError(f"statement returns no rows: {query!r}")
        return res.df

    def explain(self, query: str, mode: str = "formatted") -> str:
        """Query-plan display — the reference's -verbose surface
        (service.go:69-78 prints the planner tree built by
        planner.go:256-319, which the Go executor then ignores; here
        the displayed plan IS the plan Catalyst executes). SELECT-like
        statements return the Spark plan in the given explain mode
        (``simple``/``extended``/``formatted``/``cost``/``codegen``);
        DML/DDL return a one-line description — they execute against
        the collection catalog, not through a Catalyst plan."""
        stmt = query.strip().rstrip(";")
        head = stmt.split(None, 1)[0].upper() if stmt else ""
        dml = {"INSERT": "append row(s) to collection",
               "DELETE": "filter + rewrite collection",
               "UPDATE": "conditional column rewrite of collection"}
        if head in dml:
            return f"== {head} ==\n{dml[head]} (catalog write path)"
        if (head == "CREATE" and _CREATE_RE.match(stmt)) or \
                (head == "DROP" and _DROP_RE.match(stmt)):
            return f"== {head} COLLECTION ==\ncatalog DDL (no Catalyst plan)"
        if head == "OPTIMIZE" and _OPTIMIZE_RE.match(stmt):
            return ("== OPTIMIZE ==\ncatalog compaction — rewrite current "
                    "snapshot as a new version (no Catalyst plan)")
        df = self._select(stmt).df if head == "SELECT" else self.spark.sql(stmt)
        jvm = df.sparkSession._jvm
        return df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))

    # -- SELECT / NEAREST TO ---------------------------------------------

    # A "simple" dialect SELECT: only pseudo-columns / metadata.K /
    # COUNT(*), one table, optional WHERE/LIMIT — gets the projection
    # rewrite (vector/dimension, executor.go:224-245). Anything richer
    # (GROUP BY, JOIN, expressions) is ANSI and goes to spark.sql as-is.
    _SIMPLE_COL = re.compile(
        r"^(?:\*|id|vector|dimension|distance|metadata\.\w+|count\(\s*\*\s*\)|\w+)"
        r"(?:\s+AS\s+\w+)?$", re.IGNORECASE)
    _SIMPLE_REST = re.compile(
        r"^(?:\s+WHERE\s+.*?)?(?:\s+LIMIT\s+\d+)?\s*$",
        re.IGNORECASE | re.DOTALL)

    # FROM <collection> VERSION AS OF <n> — snapshot reads over the
    # versioned catalog (catalog.read_version; Delta/Iceberg-style
    # time-travel syntax). Resolved by registering the pinned version
    # as a temp view, so everything downstream (NEAREST TO, metadata
    # rewrites, plain ANSI) composes unchanged.
    _VERSION_RE = re.compile(
        r"\bFROM\s+(?P<t>\w+)\s+VERSION\s+AS\s+OF\s+(?P<v>\d+)",
        re.IGNORECASE)

    def _resolve_versions(self, stmt: str) -> str:
        def sub(m: re.Match) -> str:
            t, v = m.group("t"), int(m.group("v"))
            if not self.catalog.exists(t):
                raise ValueError(
                    f"VERSION AS OF requires a collection, got {t!r}")
            view = f"{t}__v{v}"
            self.catalog.read_version(t, v).createOrReplaceTempView(view)
            return f"FROM {view}"
        return self._VERSION_RE.sub(sub, stmt)

    def _select(self, stmt: str) -> SqlResult:
        stmt = self._resolve_versions(stmt)
        m = _NEAREST_RE.search(stmt)
        if m is not None:
            return SqlResult(df=self._nearest(stmt, m))
        sel = _SELECT_RE.match(stmt)
        if sel and self._SIMPLE_REST.match(sel.group("rest")) and all(
                self._SIMPLE_COL.match(p)
                for p in self._split_cols(sel.group("cols"))) \
                and self._is_collection(sel.group("table")):
            proj = self._projection(sel.group("cols"))
            rest = self._rewrite_meta(sel.group("rest"))
            return SqlResult(df=self.spark.sql(
                f"SELECT {proj} FROM {sel.group('table')}{rest}"))
        return SqlResult(df=self.spark.sql(self._rewrite_meta(stmt)))

    def _is_collection(self, table: str) -> bool:
        """Dialect projection rules apply only to vector collections
        (schema has an ``embedding`` column); other tables are plain
        ANSI and keep their own schemas."""
        try:
            return "embedding" in self.spark.table(table).columns
        except Exception:
            return False

    def _nearest(self, stmt: str, m: re.Match) -> DataFrame:
        sel = _SELECT_RE.match(stmt)
        if not sel:
            raise ValueError(f"cannot parse SELECT statement: {stmt!r}")
        table = sel.group("table")
        cols_raw = sel.group("cols").strip()
        rest = stmt[m.end():]

        metric = (m.group("metric") or self.default_metric).lower()
        if metric not in METRICS:
            raise ValueError(f"unsupported distance metric: {metric!r} "
                             f"(supported: {sorted(METRICS)})")

        # clause regexes run on a quote-masked shadow (same length) so
        # a keyword inside a string literal never splits the clause;
        # the matched spans slice the ORIGINAL text (ADVICE r7).
        masked = _mask_quotes(rest)
        lim = _LIMIT_RE.search(masked)
        k = int(lim.group(1)) if lim else DEFAULT_KNN_LIMIT
        if lim:
            rest, masked = rest[:lim.start()], masked[:lim.start()]
        wm = _WHERE_RE.search(masked)
        where = (self._rewrite_meta(rest[wm.start("cond"):wm.end("cond")].strip())
                 if wm else None)
        # anything left after USING/WHERE/LIMIT are consumed is a
        # clause this grammar does NOT understand (ORDER BY, stray
        # LIMIT with a non-numeric argument, ...) — refuse instead of
        # silently dropping it (the reference's parser errors on
        # trailing tokens too, parser.go table-driven invalid tests)
        leftover = (rest[:wm.start()] + rest[wm.end():]) if wm else rest
        if leftover.strip():
            raise ValueError(
                f"unparsed clause after NEAREST TO: {leftover.strip()!r} "
                "(grammar: [USING metric] [WHERE ...] [LIMIT n])")

        qtext = m.group("q")
        exclude_id = None
        if qtext.startswith("["):
            vec = _parse_vector_literal(qtext)
            if not vec:
                raise ValueError("empty vector literal in NEAREST TO")
            vec_sql = vector_sql(vec)
        elif qtext.startswith("'"):
            # id reference: look up the stored vector, exclude the self-match
            # (executor.go:281-297, :363-366)
            exclude_id = qtext[1:-1].replace("''", "'")
            row = self.spark.sql(
                f"SELECT embedding FROM {table} WHERE id = {qtext}").first()
            if row is None:
                raise KeyError(f"vector not found: id={exclude_id!r}")
            vec_sql = vector_sql(row[0])
        else:
            # subquery form: the reference parses but cannot execute this
            # (parser.go:228-239); we can — it must yield one vector.
            sub = m.group("sub")
            row = self.spark.sql(self._rewrite_meta(sub)).first()
            if row is None:
                raise KeyError(f"subquery returned no vector: {sub!r}")
            vec_sql = vector_sql(row[0])

        dist = _dist_sql(metric, vec_sql)
        # dimension guard, folded INTO the distance expression (like
        # rangejoin folds its band guard): zip_with silently null-pads
        # a length mismatch, which would turn every distance NULL and
        # return k arbitrary rows (NULLS LAST) — a wrong answer, not
        # an error. CASE WHEN, not an additive assert_true term: null-
        # propagating Add short-circuits in codegen and would skip the
        # assert exactly when it must fire. A NULL embedding is NOT a
        # mismatch: it keeps a NULL distance and sorts NULLS LAST
        # (size(NULL) is NULL, which would otherwise fall through to
        # the raise branch and kill the whole query — ADVICE r7).
        dist = (f"CASE WHEN embedding IS NULL THEN CAST(NULL AS DOUBLE) "
                f"WHEN size(CAST(embedding AS ARRAY<DOUBLE>)) = "
                f"size({vec_sql}) THEN {dist} ELSE "
                f"CAST(raise_error('NEAREST TO: query vector dimension "
                f"does not match collection dimension') AS DOUBLE) END")
        proj = self._projection(cols_raw, knn=True)
        inner_where = []
        if exclude_id is not None:
            # re-escape when embedding back into SQL (ids may contain ')
            esc = exclude_id.replace("'", "''")
            inner_where.append(f"id <> '{esc}'")
        if where:
            inner_where.append(f"({where})")
        wsql = (" WHERE " + " AND ".join(inner_where)) if inner_where else ""
        # distance computed once in an inner projection; ORDER BY + LIMIT
        # compiles to TakeOrderedAndProject (per-partition top-k, no sort
        # shuffle) — scan stays pruned to the referenced columns.
        query = (f"SELECT {proj} FROM (SELECT *, {dist} AS distance "
                 f"FROM {table}{wsql}) ORDER BY distance ASC NULLS LAST LIMIT {k}")
        return self.spark.sql(query)

    def _projection(self, cols_raw: str, knn: bool = False) -> str:
        if cols_raw.strip() == "*":
            base = "id, embedding AS vector, size(embedding) AS dimension"
            return base + (", distance" if knn else "")
        out = []
        for part in self._split_cols(cols_raw):
            alias = None
            am = re.match(r"^(.*?)\s+AS\s+(\w+)$", part, re.IGNORECASE | re.DOTALL)
            if am:
                part, alias = am.group(1).strip(), am.group(2)
            expr, default_alias = self._col_expr(part, knn)
            alias = alias or default_alias
            out.append(f"{expr} AS {alias}" if alias else expr)
        return ", ".join(out)

    def _col_expr(self, part: str, knn: bool) -> tuple[str, str | None]:
        low = part.lower()
        if low == "id":
            return "id", None
        if low == "vector":
            return "embedding", "vector"
        if low == "dimension":
            return "size(embedding)", "dimension"
        if low == "distance":
            if not knn:
                raise ValueError("column 'distance' only exists in NEAREST TO queries")
            return "distance", None
        if low.startswith("metadata."):
            return self._rewrite_meta(part), f"`{part}`"
        if re.fullmatch(r"count\(\s*\*\s*\)", low):
            return "count(*)", None
        # reference quirk: unknown column silently projects id
        # (executor.go:238-241). We diverge: raise with the column name.
        raise ValueError(f"unknown column: {part!r} "
                         f"(known: {', '.join(self.KNOWN_COLUMNS)})")

    @staticmethod
    def _split_cols(cols_raw: str) -> list[str]:
        """Split on top-level commas, respecting (), [] and '...'."""
        parts, depth, cur, in_str = [], 0, [], False
        for ch in cols_raw:
            if in_str:
                cur.append(ch)
                if ch == "'":
                    in_str = False
                continue
            if ch == "'":
                in_str = True
            elif ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        if cur:
            parts.append("".join(cur).strip())
        return [p for p in parts if p]

    @staticmethod
    def _rewrite_meta(sql: str) -> str:
        """``metadata.K`` -> ``metadata['K']``; the != form gets the
        COALESCE wrapper so a missing key compares TRUE
        (executor.go:716-718; Spark's null-propagating != would drop it).

        Matches are located on a quote-masked shadow (same length, see
        ``_mask_quotes``) so a ``metadata.K``-shaped substring INSIDE a
        string literal is never rewritten — only the replacement text
        is built from the original spans."""
        def sub_meta(text: str) -> str:
            out, last = [], 0
            for m in _META_RE.finditer(_mask_quotes(text)):
                # an unquoted match is mask==original over its span,
                # so the key group reads identically from either
                out.append(text[last:m.start()])
                out.append(f"metadata['{m.group(1)}']")
                last = m.end()
            out.append(text[last:])
            return "".join(out)

        # NOTE: the != value group is a string literal, which the mask
        # blanks — so run _META_NE_RE against the ORIGINAL around each
        # masked candidate instead: find candidates on the mask, then
        # re-match on the original at the same offset.
        def sub_ne(text: str) -> str:
            masked = _mask_quotes(text)
            out, last = [], 0
            for m in _META_NE_RE.finditer(masked):
                om = _META_NE_RE.match(text, m.start())
                if om is None or om.end() != m.end():
                    continue
                out.append(text[last:om.start()])
                out.append(f"coalesce(metadata['{om.group(1)}'] <> "
                           f"{om.group(2)}, true)")
                last = om.end()
            out.append(text[last:])
            return "".join(out)

        return sub_meta(sub_ne(sql))

    # -- DML / DDL -------------------------------------------------------

    def _insert(self, stmt: str) -> SqlResult:
        m = _INSERT_RE.match(stmt)
        if not m:
            raise ValueError(f"cannot parse INSERT: {stmt!r}")
        table = m.group("table")
        cols = [c.strip().lower() for c in (m.group("cols") or "id, vector").split(",")]
        vals = self._split_cols(m.group("vals"))
        if len(cols) != len(vals):
            raise ValueError(f"INSERT column/value count mismatch: {cols} vs {len(vals)} values")
        row: dict = {"id": None, "embedding": None, "metadata": None}
        for c, v in zip(cols, vals):
            v = v.strip()
            if c == "id":
                row["id"] = v[1:-1].replace("''", "'") if v.startswith("'") else v
            elif c in ("vector", "embedding"):
                # vector literal, or a string literal containing one
                # (executor.go:449-466 accepts both)
                if v.startswith("'"):
                    v = v[1:-1]
                row["embedding"] = _parse_vector_literal(v)
            else:
                raise ValueError(f"unknown INSERT column: {c!r}")
        if row["id"] is None or row["embedding"] is None:
            raise ValueError("INSERT requires id and vector values")
        n = self.catalog.insert(table, [(row["id"], row["embedding"], row["metadata"])])
        return SqlResult(message=f"Inserted {n} row(s)", affected=n)

    def _delete(self, stmt: str) -> SqlResult:
        m = _DELETE_RE.match(stmt)
        if not m:
            raise ValueError(f"cannot parse DELETE: {stmt!r}")
        cond = m.group("cond")
        if cond is None or not cond.strip():
            # reference requires WHERE (executor.go:534-537)
            raise ValueError("DELETE requires a WHERE clause")
        n = self.catalog.delete(m.group("table"), self._rewrite_meta(cond.strip()))
        return SqlResult(message=f"Deleted {n} row(s)", affected=n)

    def _update(self, stmt: str) -> SqlResult:
        m = _UPDATE_RE.match(stmt)
        if not m:
            raise ValueError(f"cannot parse UPDATE: {stmt!r}")
        sets = {}
        for part in self._split_cols(m.group("sets")):
            k, _, v = part.partition("=")
            k, v = k.strip().lower(), v.strip()
            if k in ("vector", "embedding"):
                if v.startswith("'"):
                    v = v[1:-1]
                sets["embedding"] = _parse_vector_literal(v)
            elif k.startswith("metadata."):
                sets.setdefault("metadata", {})[k.split(".", 1)[1]] = \
                    v[1:-1].replace("''", "'")
            else:
                raise ValueError(f"cannot UPDATE column: {k!r}")
        cond = m.group("cond")
        n = self.catalog.update(
            m.group("table"), sets,
            self._rewrite_meta(cond.strip()) if cond else None)
        return SqlResult(message=f"Updated {n} row(s)", affected=n)

    def _create(self, stmt: str) -> SqlResult:
        m = _CREATE_RE.match(stmt)
        table, dim = m.group("table"), m.group("dim")
        self.catalog.create(table, int(dim) if dim else None)
        return SqlResult(message=f"Collection {table} created")

    def _drop(self, stmt: str) -> SqlResult:
        m = _DROP_RE.match(stmt)
        n = self.catalog.drop(m.group("table"))
        return SqlResult(message=f"Collection {m.group('table')} dropped",
                         affected=n)

    def _optimize(self, stmt: str) -> SqlResult:
        m = _OPTIMIZE_RE.match(stmt)
        table = m.group("table")
        files = int(m.group("files") or 1)
        sort_by = ([c.strip() for c in m.group("sort").split(",")]
                   if m.group("sort") else None)
        zorder_by = ([c.strip() for c in m.group("zorder").split(",")]
                     if m.group("zorder") else None)
        before, after = self.catalog.compact(table, files, sort_by,
                                             zorder_by=zorder_by)
        return SqlResult(
            message=f"Collection {table} compacted: "
                    f"{before} -> {after} file(s)",
            affected=after)
