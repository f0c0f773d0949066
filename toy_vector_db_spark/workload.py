"""Workload registry: named queries + matching DuckDB oracle SQL.

Each entry maps an operator from SURVEY.md §2 (or a scale extension) to
  spark_fn(spark, sf_dir) -> DataFrame      (the engine under test)
  oracle sql (ANSI, DuckDB-runnable)        (ground truth), or None for
                                            non-SQL-expressible ops.

Parity rules (driver hashes values order-insensitively, so):
- every computed column is aliased IDENTICALLY on both sides;
- computed floats are rounded (4 decimals for distances, 2 for big sums)
  AFTER the top-k/aggregate, so float64 accumulation-order noise between
  engines is absorbed;
- computed integers are cast to BIGINT on both sides;
- LIMIT appears only under a deterministic total order.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.distance import METRICS
from .operators.knn import knn, lookup_vector

QUERY_VEC_ID = 0  # stored row used as the knn query (self excluded, K9)
KNN_K = 10        # reference default LIMIT (executor.go:306-309)

WorkloadFn = Callable[[SparkSession, str], DataFrame]
_REGISTRY: dict[str, tuple[WorkloadFn, str | None]] = {}


def q(name: str, oracle: str | None):
    def deco(fn: WorkloadFn):
        if name in _REGISTRY:
            # a duplicate silently SHADOWS the earlier query — this
            # bit once (split_train_test spent rounds unregistered
            # under a copy-pasted name); fail at import instead
            raise AssertionError(f"duplicate workload query name: {name}")
        _REGISTRY[name] = (fn, oracle)
        return fn
    return deco


def spark_queries() -> dict[str, WorkloadFn]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_queries() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


# Testdata timestamps are parquet TIMESTAMP(NANOS), which Spark 4
# rejects by default; read them as long nanos and convert (truncating to
# micros exactly like DuckDB's nanos->micros read path).
_TS_COLS = {"events": ("ts",), "orders": ("o_orderdate",), "lineitem": ("l_shipdate",)}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    dtypes = dict(df.dtypes)
    for c in _TS_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif dtypes.get(c) == "timestamp_ntz":
            # Parquet written by other engines (e.g. DuckDB, the
            # tools/scale_up.py derived sets) reads back as
            # TIMESTAMP_NTZ, which unix_micros()/window() reject.
            # Session tz is UTC in tests/bench, so the cast is lossless.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """_t + rebalance: for queries whose map side does CPU-heavy
    per-row work (hash folds, embeddings) — the testdata's single-row-
    group files would otherwise run them on one core."""
    from .sources.tables import ensure_parallelism
    return ensure_parallelism(_t(spark, sf_dir, name))


def _footer_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a source table from parquet FOOTER metadata,
    driver-side (r13, guide §1.2/§6): the sizing probes
    (_stream_partitions, the streaming shingle-tier pick) only need
    the input's row count to choose a knob, and a Spark count() —
    though metadata-served — still pays a full job round-trip
    (~0.2-0.3 s each, times every streaming query). Same number, no
    job. Handles both single-file tables (the testdata layout) and
    directory tables (Spark-written derived sets)."""
    import pyarrow.parquet as pq
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        total = 0
        for root, _, files in os.walk(path):
            total += sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for f in files if f.endswith(".parquet"))
        return total
    return pq.ParquetFile(path).metadata.num_rows


# ---------------------------------------------------------------------------
# k-NN: flat (exact brute-force) search under all 4 metrics
# (SURVEY §2.8 K1/K9; reference flat.go:100-144, executor.go:251-388)
#
# Query vector = stored embedding of vec_id=0 (query-by-id path,
# main.go:366-374); self-match excluded (executor.go:363-366).
# ---------------------------------------------------------------------------

_ORACLE_DIST = {
    # DuckDB expressions over a (corpus) and q (query), DOUBLE[] both.
    "euclidean": "list_distance(a, q)",
    "cosine": ("CASE WHEN sqrt(list_inner_product(a, a)) = 0"
               "       OR sqrt(list_inner_product(q, q)) = 0 THEN 1.0 "
               "ELSE 1.0 - LEAST(GREATEST(list_inner_product(a, q) /"
               " (sqrt(list_inner_product(a, a)) * sqrt(list_inner_product(q, q))),"
               " -1.0), 1.0) END"),
    "dotproduct": "-list_inner_product(a, q)",
    "manhattan": "list_sum(list_transform(list_zip(a, q), p -> abs(p[1] - p[2])))",
}


def _knn_oracle(metric: str) -> str:
    d = _ORACLE_DIST[metric]
    return f"""
WITH qv AS (
  SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
), scored AS (
  SELECT vec_id, label, {d} AS dist
  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS a FROM embeddings), qv
  WHERE vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, label, ROUND(dist, 4) AS distance
FROM scored ORDER BY dist ASC, vec_id ASC LIMIT {KNN_K}
"""


def _make_knn(metric: str) -> WorkloadFn:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = _t(spark, sf_dir, "embeddings")
        qvec = lookup_vector(emb, "vec_id", QUERY_VEC_ID)
        # tie_col matches the oracle's ORDER BY dist, vec_id total order
        res = knn(emb, qvec, k=KNN_K, metric=metric,
                  exclude_id=QUERY_VEC_ID, id_col="vec_id",
                  tie_col="vec_id")
        return res.select("vec_id", "label",
                          F.round("distance", 4).alias("distance"))
    return fn


for _m in METRICS:
    q(f"knn_{_m}", _knn_oracle(_m))(_make_knn(_m))


def _make_knn_arrow(metric: str) -> WorkloadFn:
    """The Arrow-batched NumPy exact tier (operators/knn.knn_arrow)
    against the SAME oracle as the Column-expression tier: identical
    answers from a BLAS matrix-vector scoring path (mapInPandas with
    per-batch local top-k, then TakeOrderedAndProject merge)."""
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .operators.knn import knn_arrow
        emb = _t(spark, sf_dir, "embeddings")
        qvec = lookup_vector(emb, "vec_id", QUERY_VEC_ID)
        res = knn_arrow(emb, qvec, k=KNN_K, metric=metric,
                        id_cols=["vec_id", "label"],
                        exclude_id=QUERY_VEC_ID, id_col="vec_id",
                        tie_col="vec_id")
        return res.select("vec_id", "label",
                          F.round("distance", 4).alias("distance"))
    return fn


for _m in METRICS:
    q(f"knn_arrow_{_m}", _knn_oracle(_m))(_make_knn_arrow(_m))


# Cost-based tier selection (operators/chooser.py): the generalization
# of the reference planner's fixed-cost access-path ranking
# (planner.go:139-182). At this corpus size the chooser must route to
# the exact Arrow tier, so the full exact-knn oracle applies — the
# routing itself is what's under test (plus the decision table in
# tests/test_chooser.py and the tier plan assert in test_plans.py).
@q("knn_search_auto", _knn_oracle("euclidean"))
def knn_search_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.chooser import search_auto
    emb = _t(spark, sf_dir, "embeddings")
    qvec = lookup_vector(emb, "vec_id", QUERY_VEC_ID)
    plan, res = search_auto(emb.filter(F.col("vec_id") != QUERY_VEC_ID),
                            qvec, k=KNN_K, metric="euclidean",
                            tie_col="vec_id")
    assert plan.tier == "flat-arrow", plan  # dim 64, corpus < exact cap
    return res.select("vec_id", "label",
                      F.round("distance", 4).alias("distance"))


# ---------------------------------------------------------------------------
# Scan / projection / limit (SURVEY §2.1 S2, §2.2 P1, §2.5 W2)
# `dimension` is computed, not stored (SURVEY §1.1).
# ---------------------------------------------------------------------------

@q("scan_project_limit", f"""
SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dimension, label
FROM embeddings ORDER BY vec_id LIMIT 5
""")
def scan_project_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_t(spark, sf_dir, "embeddings")
            .select("vec_id",
                    F.size("embedding").cast("bigint").alias("dimension"),
                    "label")
            .orderBy("vec_id").limit(5))


# Point lookup: WHERE id = literal (P5/P10 — pushed to the parquet scan).
@q("filter_id_eq", """
SELECT vec_id, label FROM embeddings WHERE vec_id = 42
""")
def filter_id_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == 42).select("vec_id", "label"))


# LIKE with %/_ semantics on a string column (P8, executor.go:721-759).
@q("filter_like", """
SELECT doc_id FROM documents
WHERE text LIKE '%model%' OR CAST(doc_id AS VARCHAR) LIKE '1%'
""")
def filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.col("text").like("%model%")
                    | F.col("doc_id").cast("string").like("1%")) \
            .select("doc_id")


# Metadata map access: '=' on a possibly-missing key => missing ⇒ FALSE
# (P6, executor.go:698-700). The map is derived deterministically from
# documents: key 'lang' exists only for non-web sources.
@q("filter_meta_eq", """
SELECT doc_id FROM documents
WHERE (CASE WHEN source <> 'web' THEN lang END) = 'en'
""")
def filter_meta_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    meta = F.when(F.col("source") != "web",
                  F.create_map(F.lit("lang"), F.col("lang"))) \
            .otherwise(F.create_map())
    return (d.withColumn("metadata", meta)
             .filter(F.col("metadata")["lang"] == "en")
             .select("doc_id"))


# '!=' on a possibly-missing key => missing ⇒ TRUE (P7, executor.go:716-718):
# needs the coalesce wrapper, Spark's null != v would drop those rows.
@q("filter_meta_ne", """
SELECT doc_id FROM documents
WHERE COALESCE((CASE WHEN source <> 'web' THEN lang END) <> 'en', TRUE)
""")
def filter_meta_ne(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    meta = F.when(F.col("source") != "web",
                  F.create_map(F.lit("lang"), F.col("lang"))) \
            .otherwise(F.create_map())
    return (d.withColumn("metadata", meta)
             .filter(F.coalesce(F.col("metadata")["lang"] != "en", F.lit(True)))
             .select("doc_id"))


# COUNT(*) — the reference's only aggregate (A1, executor.go:158-165).
@q("count_star", """
SELECT CAST(count(*) AS BIGINT) AS cnt FROM lineitem
""")
def count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").agg(F.count("*").alias("cnt"))


# ---------------------------------------------------------------------------
# Relational surface beyond the reference (free via Catalyst; SURVEY
# §2.4/§2.5 note GROUP BY / ORDER BY / joins are reserved-but-unparsed
# in the reference — we implement them fully).
# ---------------------------------------------------------------------------

@q("agg_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                                    AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                               AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
       ROUND(AVG(l_quantity), 4)                                    AS avg_qty,
       CAST(COUNT(*) AS BIGINT)                                     AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""")
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count("*").alias("count_order")))


@q("join_region_revenue", """
SELECT r.r_name AS region, ROUND(SUM(o.o_totalprice), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""")
def join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # nation/region are tiny dims: force broadcast so only the
    # orders⋈customer join shuffles (and AQE may broadcast customer too).
    return (o.join(c, o.o_custkey == c.c_custkey)
             .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
             .groupBy(F.col("r_name").alias("region"))
             .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                  F.count("*").alias("n_orders")))


@q("window_topn_orders", """
SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 2) AS total
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey ASC) <= 3
""")
def window_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority") \
              .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (o.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") <= 3)
             .select("o_orderpriority", "o_orderkey",
                     F.round("o_totalprice", 2).alias("total")))


def _zorder_oracle(bits: int = 6) -> str:
    b = 1 << bits
    days = "date_diff('day', DATE '1970-01-01', o_orderdate)"
    terms = " | ".join(
        f"((({col} >> {i}) & 1) << {i * 2 + j})"
        for i in range(bits) for j, col in enumerate(("bc", "bd")))
    return f"""
WITH s AS (SELECT MIN(o_custkey) AS minc, MAX(o_custkey) AS maxc,
                  MIN({days}) AS mind, MAX({days}) AS maxd
           FROM orders),
bk AS (SELECT o_orderkey,
  LEAST(CAST(FLOOR((o_custkey - minc) * {b} / (maxc - minc + 1))
             AS BIGINT), {b - 1}) AS bc,
  LEAST(CAST(FLOOR(({days} - mind) * {b} / (maxd - mind + 1))
             AS BIGINT), {b - 1}) AS bd
  FROM orders, s)
SELECT o_orderkey, CAST(bc AS BIGINT) AS bucket_cust,
       CAST(bd AS BIGINT) AS bucket_date,
       CAST({terms} AS BIGINT) AS zkey
FROM bk ORDER BY zkey ASC, o_orderkey ASC LIMIT 50
"""


# Z-order clustering key (functions/zorder — the Delta/Iceberg
# OPTIMIZE ZORDER analogue): fixed-width buckets over exact min/max,
# Morton bit interleave as pure codegen Columns. The oracle replays
# the bucket arithmetic and the interleave bit-for-bit; the layout
# writer built on this key is file-skipping-tested in test_zorder.
@q("zorder_orders_locality", _zorder_oracle())
def zorder_orders_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.zorder import fixed_width_bucket, interleave_bits
    o = _t(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"),
                      F.lit("1970-01-01").cast("date")).cast("bigint")
    stats = o.agg(F.min("o_custkey"), F.max("o_custkey"),
                  F.min(days), F.max(days)).first()
    bc = fixed_width_bucket(F.col("o_custkey"), stats[0], stats[1], 64)
    bd = fixed_width_bucket(days, stats[2], stats[3], 64)
    return (o.select("o_orderkey", bc.alias("bucket_cust"),
                     bd.alias("bucket_date"),
                     interleave_bits([bc, bd], 6).alias("zkey"))
            .orderBy(F.col("zkey").asc(), F.col("o_orderkey").asc())
            .limit(50))


# ---------------------------------------------------------------------------
# Relational surface: set ops, rollup, HAVING, anti join (all reserved-
# but-unparsed keywords in the reference, SURVEY §2.4/§2.6 — fully
# implemented here via Catalyst)
# ---------------------------------------------------------------------------

@q("set_ops_segments", """
SELECT c_custkey FROM customer WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
INTERSECT
SELECT o_custkey FROM orders
EXCEPT
SELECT c_custkey FROM customer WHERE c_acctbal < 0
""")
def set_ops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    seg = c.filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")) \
        .select("c_custkey")
    with_orders = o.select(F.col("o_custkey").alias("c_custkey"))
    negative = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return seg.intersect(with_orders).exceptAll(negative).distinct()


@q("agg_rollup_region", """
SELECT r_name AS region, n_name AS nation,
       ROUND(SUM(c_acctbal), 2) AS total_balance,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP(r_name, n_name)
""")
def agg_rollup_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .rollup(F.col("r_name").alias("region"),
                    F.col("n_name").alias("nation"))
            .agg(F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
                 F.count("*").alias("n_customers")))


@q("having_repeat_customers", """
SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS spend
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 15
""")
def having_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_t(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("spend"))
            .filter(F.col("n_orders") >= 15))


@q("anti_join_no_orders", """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 150000)
""")
def anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti") \
        .select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Event analytics: as-of join + sessionization (beyond-parity operators;
# DuckDB's native ASOF JOIN / window SQL are the oracles)
# ---------------------------------------------------------------------------

@q("asof_join_events", """
SELECT p.event_id, c.event_id AS click_id,
       ROUND(c.value, 2) AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND c.ts <= p.ts
""")
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.asof import asof_join
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click") \
        .select("user_id", "ts",
                F.col("event_id").alias("click_id"),
                F.col("value").alias("click_value"))
    return asof_join(purchases, clicks,
                     value_cols=["click_id", "click_value"]) \
        .select("event_id", "click_id",
                F.round("click_value", 2).alias("click_value"))


@q("events_sessionize", """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), ids AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n FROM ids GROUP BY 1, 2
)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(MAX(n) AS BIGINT) AS max_session_events
FROM per_session GROUP BY user_id
""")
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sessions import session_stats
    return session_stats(_t(spark, sf_dir, "events"), gap_minutes=30)


# ---------------------------------------------------------------------------
# SQL dialect end-to-end (SURVEY §3.1): the statement goes through the
# NEAREST TO rewriter / metadata-sugar rewriter in plans/dialect.py, so
# these exercise tokenize->rewrite->spark.sql->Catalyst against the
# same DuckDB oracle as the DataFrame-level knn.
# ---------------------------------------------------------------------------

@q("sql_nearest_by_id", f"""
WITH qv AS (
  SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
), scored AS (
  SELECT CAST(vec_id AS VARCHAR) AS id, list_distance(CAST(embedding AS DOUBLE[]), q) AS dist
  FROM embeddings, qv
  WHERE vec_id <> {QUERY_VEC_ID}
)
SELECT id, ROUND(dist, 4) AS distance
FROM scored ORDER BY dist ASC, CAST(id AS BIGINT) ASC LIMIT {KNN_K}
""")
def sql_nearest_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.dialect import SqlEngine
    _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("string").alias("id"), "embedding"
    ).createOrReplaceTempView("vectors_dialect_knn")
    eng = SqlEngine(spark)
    df = eng.sql(
        f"SELECT id, distance FROM vectors_dialect_knn "
        f"NEAREST TO '{QUERY_VEC_ID}' USING euclidean LIMIT {KNN_K}")
    return df.select("id", F.round("distance", 4).alias("distance"))


# Filtered vector search (the reference grammar's WHERE + NEAREST TO
# composition, executor.go:251-388): the metadata predicate PRE-filters
# the candidate set, then knn ranks the survivors — the "filtered ANN"
# semantics every vector store debates; here the filter reaches the
# scan (predicate pushdown) and the knn is exact over survivors.
@q("sql_nearest_filtered", f"""
WITH qv AS (
  SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
), scored AS (
  SELECT CAST(vec_id AS VARCHAR) AS id,
         list_distance(CAST(embedding AS DOUBLE[]), q) AS dist
  FROM embeddings, qv
  WHERE vec_id <> {QUERY_VEC_ID} AND label = 7
)
SELECT id, ROUND(dist, 4) AS distance
FROM scored ORDER BY dist ASC, CAST(id AS BIGINT) ASC LIMIT {KNN_K}
""")
def sql_nearest_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.dialect import SqlEngine
    _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("string").alias("id"), "embedding",
        F.create_map(F.lit("lab"), F.col("label").cast("string"))
        .alias("metadata")
    ).createOrReplaceTempView("vectors_dialect_fknn")
    eng = SqlEngine(spark)
    df = eng.sql(
        f"SELECT id, distance FROM vectors_dialect_fknn "
        f"NEAREST TO '{QUERY_VEC_ID}' USING euclidean "
        f"WHERE metadata.lab = '7' LIMIT {KNN_K}")
    return df.select("id", F.round("distance", 4).alias("distance"))


@q("sql_meta_ne_dialect", """
SELECT CAST(doc_id AS VARCHAR) AS id FROM documents
WHERE COALESCE((CASE WHEN source <> 'web' THEN lang END) <> 'en', TRUE)
""")
def sql_meta_ne_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.dialect import SqlEngine
    d = _t(spark, sf_dir, "documents")
    meta = F.when(F.col("source") != "web",
                  F.create_map(F.lit("lang"), F.col("lang"))) \
            .otherwise(F.create_map())
    d.select(F.col("doc_id").cast("string").alias("id"),
             F.array(F.col("n_chars").cast("float")).alias("embedding"),
             meta.alias("metadata")) \
        .createOrReplaceTempView("vectors_dialect_meta")
    eng = SqlEngine(spark)
    return eng.sql(
        "SELECT id FROM vectors_dialect_meta WHERE metadata.lang != 'en'")


# ---------------------------------------------------------------------------
# Embedding pipeline (SURVEY §2.7 F8-F10, §2.9 D7). The embedder is a
# hash-chain Column expression (functions/embedding.py): sha256 seed ->
# md5 per dimension -> L2 normalize, IEEE double throughout — so DuckDB
# derives bit-identical vectors and the oracle value-checks the whole
# embed -> knn pipeline, not just the dim/norm contract.
# ---------------------------------------------------------------------------

# DuckDB twin of embedding_expr over a `text` column: CTEs producing
# (doc_id, vec DOUBLE[384]) named `emb`.
_DD_EMBED = """
  emb_raw AS (
    SELECT doc_id, text, list_transform(range(0, 384), j ->
      ('0x' || substr(md5(sha256(text) || ':' || j), 1, 8))::BIGINT
        / 2147483648.0 - 1.0) AS raw
    FROM documents),
  emb AS (
    SELECT doc_id, text,
           list_transform(raw, x -> x / sqrt(list_sum(list_transform(raw, y -> y * y)))) AS vec
    FROM emb_raw)
"""


@q("embed_documents_contract", """
SELECT doc_id,
       CAST(384 AS BIGINT) AS dim,
       CAST(1.0 AS DOUBLE) AS norm,
       TRUE AS stable
FROM documents
""")
def embed_documents_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `stable` cross-checks the pandas-UDF embedder against the Column
    # expression bit-for-bit (both fold the norm left-to-right).
    from .functions.embedding import embed_documents, embed_text
    d = embed_documents(_t(spark, sf_dir, "documents"))
    norm_sq = F.aggregate(F.col("vector").cast("array<double>"), F.lit(0.0),
                          lambda s, x: s + x * x)
    again = embed_text(F.concat(F.col("text"), F.lit("")))
    return d.select(
        "doc_id",
        F.size("vector").cast("bigint").alias("dim"),
        F.round(F.sqrt(norm_sq), 6).alias("norm"),
        (F.col("vector") == again).alias("stable"))


@q("embed_documents_values", f"""
WITH {_DD_EMBED}
SELECT doc_id, ROUND(vec[1], 4) AS d0, ROUND(vec[384], 4) AS d383,
       ROUND(list_sum(vec), 4) AS vsum
FROM emb
""")
def embed_documents_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level oracle on the bulk embedding path itself: first and
    last dimension plus the component sum of every document vector."""
    from .functions.embedding import embed_documents
    d = embed_documents(_t(spark, sf_dir, "documents"))
    v = F.col("vector")
    return d.select(
        "doc_id",
        F.round(F.element_at(v, 1), 4).alias("d0"),
        F.round(F.element_at(v, 384), 4).alias("d383"),
        F.round(F.aggregate(v, F.lit(0.0), lambda s, x: s + x), 4).alias("vsum"))


# Ingest roundtrip (S6/D7): run the full embed-and-store pipeline into
# a scratch catalog — vector rows AND the document sidecar — then read
# the sidecar back and value-check it. The oracle replays the identical
# hash-chain embedding, then round-trips through FLOAT32 exactly like
# the stored ARRAY<FLOAT> columns, so d0/vsum match bit-for-bit.
@q("embed_ingest_roundtrip", f"""
WITH {_DD_EMBED},
  embf AS (
    SELECT doc_id,
           CAST(CAST(vec AS FLOAT[]) AS DOUBLE[]) AS vec
    FROM emb)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       'text' AS content_type,
       CAST(384 AS BIGINT) AS dim,
       ROUND(vec[1], 4) AS d0,
       ROUND(list_sum(vec), 4) AS vsum,
       TRUE AS vector_row_matches
FROM embf
""")
def embed_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .functions.embedding import ingest_documents
    from .plans.catalog import CollectionCatalog

    cat = CollectionCatalog(spark, tempfile.mkdtemp(prefix="vectodb_ingest_"))
    docs = _tp(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    from datetime import datetime
    ingest_documents(cat, "corpus", docs, now=datetime(2026, 1, 1))
    stored = cat.read_docs("corpus")
    vecs = cat.read("corpus").select(F.col("id").alias("doc_id"),
                                     F.col("embedding").alias("__v2"))
    v = F.col("vector").cast("array<double>")
    return (stored.join(vecs, "doc_id")
            .select("doc_id", "content_type",
                    F.size("vector").cast("bigint").alias("dim"),
                    F.round(F.element_at(v, 1), 4).alias("d0"),
                    F.round(F.aggregate(v, F.lit(0.0), lambda s, x: s + x), 4)
                    .alias("vsum"),
                    (F.col("vector") == F.col("__v2"))
                    .alias("vector_row_matches")))


_SEARCH_TEXT_QUERY = "distributed query engine"


def _search_text_oracle() -> str:
    import hashlib
    qseed = hashlib.sha256(_SEARCH_TEXT_QUERY.encode()).hexdigest()
    cos = _ORACLE_DIST["cosine"].replace("a, a", "vec, vec") \
        .replace("a, q", "vec, q").replace("(a,", "(vec,")
    return f"""
WITH {_DD_EMBED},
  qraw AS (
    SELECT list_transform(range(0, 384), j ->
      ('0x' || substr(md5('{qseed}' || ':' || j), 1, 8))::BIGINT
        / 2147483648.0 - 1.0) AS raw),
  qv AS (
    SELECT list_transform(raw, x -> x / sqrt(list_sum(list_transform(raw, y -> y * y)))) AS q
    FROM qraw),
  scored AS (
    SELECT doc_id, {cos} AS dist FROM emb, qv)
SELECT doc_id, ROUND(dist, 4) AS distance
FROM scored ORDER BY dist ASC, doc_id ASC LIMIT 10
"""


@q("search_text_documents", _search_text_oracle())
def search_text_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.embedding import embed_documents, search_text
    # embed-then-search over the raw documents table: the corpus vector
    # is an UNMATERIALIZED embedding projection, which is exactly the
    # case knn's bind_once exists for (without it Catalyst re-inlines
    # the 384-dim hash chain at each of cosine's ~6 references — the
    # r2 19x regression). doc_id tiebreak matches the oracle's total
    # order (ties are rare but real).
    corpus = embed_documents(_tp(spark, sf_dir, "documents"))
    res = search_text(corpus, _SEARCH_TEXT_QUERY, k=10, tie_col="doc_id",
                      id_cols=["doc_id"])
    return res.select("doc_id", F.round("distance", 4).alias("distance"))


# ---------------------------------------------------------------------------
# Text analytics (training-data pipeline tier). Shared DuckDB fragments
# mirror functions/text.py exactly; 'g' flags because DuckDB's
# regexp_replace is first-match-only by default.
# ---------------------------------------------------------------------------

_DD_NORM = ("trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),"
            " '\\s+', ' ', 'g'))")
# shingle twin of functions.text.word_shingles: null text coalesces to
# '' BEFORE normalizing (one [''] shingle), matching both engine tiers
_DD_SHNORM = _DD_NORM.replace("lower(text)", "lower(coalesce(text, ''))")
_DD_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"


def _dd_stoplist(lang: str) -> str:
    from .functions.text import LANG_STOPWORDS
    return "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]) + "]"


def _dd_shingles(k: int, src: str = "string_split(" + _DD_SHNORM + ", ' ')") -> str:
    return (f"list_distinct(list_transform("
            f"range(0, greatest(len({src}) - {k}, 0) + 1), "
            f"i -> array_to_string(list_slice({src}, i + 1, i + {k}), ' ')))")


@q("text_stats", f"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN 0 ELSE len({_DD_TOKS}) END AS n_tok,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         len(list_filter({_DD_TOKS}, t -> list_contains({{stops}}, t))) AS stop_hits
  FROM documents
), s AS (
  SELECT *,
    CASE WHEN n_tok > 0 THEN CAST(n_chars AS DOUBLE) / n_tok ELSE 0.0 END AS mtl,
    CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS pr,
    CASE WHEN n_tok > 0 THEN CAST(stop_hits AS DOUBLE) / n_tok ELSE 0.0 END AS sr
  FROM t
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_punct AS BIGINT) AS n_punct, CAST(stop_hits AS BIGINT) AS stop_hits,
       ROUND(0.4 * least(n_tok / 20.0, 1.0)
           + 0.2 * (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END)
           + 0.2 * least(pr * 20.0, 1.0)
           + 0.2 * least(sr * 4.0, 1.0), 4) AS quality
FROM s
""".replace("{stops}", _dd_stoplist("en")))
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import text as X
    d = _tp(spark, sf_dir, "documents")
    # inline(array(struct)) is a generator: the stats struct computes
    # once per row and fans out to columns without re-inlining.
    return (d.select("doc_id",
                     F.inline(F.array(X.text_stats_struct(F.col("text")))))
            .withColumn("quality", F.round("quality", 4)))


def _lang_id_oracle() -> str:
    from .functions.text import LANG_STOPWORDS
    scores = ",\n         ".join(
        f"len(list_filter({_DD_TOKS}, t -> list_contains({_dd_stoplist(lang)}, t))) AS s_{lang}"
        for lang in LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_STOPWORDS) + ")"
    whens = "\n       ".join(
        f"WHEN s_{lang} > 0 AND s_{lang} = {best} THEN '{lang}'"
        for lang in LANG_STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id,
         {scores}
  FROM documents
)
SELECT doc_id,
  CASE {whens}
       ELSE 'und' END AS lang_pred
FROM t
"""


@q("text_lang_id", _lang_id_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import lang_id
    return _tp(spark, sf_dir, "documents").select(
        "doc_id", lang_id(F.col("text")).alias("lang_pred"))


def _fingerprints_oracle(window: int = 4) -> str:
    return f"""
WITH n AS (SELECT doc_id, {_DD_NORM} AS norm_text FROM documents),
s AS (SELECT doc_id, norm_text,
             {_dd_shingles(window, "string_split(norm_text, ' ')")} AS rolled
      FROM n)
SELECT doc_id, md5(norm_text) AS fingerprint,
       list_aggregate(list_transform(rolled, x -> md5(x)), 'min') AS rolling_fp
FROM s
"""


@q("text_fingerprints", _fingerprints_oracle())
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tier-routed: the Column rolling fingerprint interprets one md5
    # HOF per window; past the crossover the Arrow twin computes both
    # fingerprints in one scan (bit-identical, parity-tested)
    from .operators.dedup import fingerprints_tiered
    return fingerprints_tiered(_tp(spark, sf_dir, "documents"), window=4)


# The Arrow/hashlib fingerprint tier PINNED, under the SAME oracle as
# the tier-routed query above: fingerprints_tiered routes by corpus
# size (chooser.text_tier, crossover 50k docs), so the driver at
# sf0.01 only ever exercises the Column tier through text_fingerprints
# — this twin makes the 100x default path driver-value-hashable too
# (same move as dedup_minhash_signatures_arrow; VERDICT r7 next #1).
@q("text_fingerprints_arrow", _fingerprints_oracle())
def text_fingerprints_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import fingerprints_tiered
    return fingerprints_tiered(_tp(spark, sf_dir, "documents"), window=4,
                               tier="arrow")


# ---------------------------------------------------------------------------
# Dedup tier (per-doc signatures are oracle-checked value-for-value;
# pair generation is oracle-checked on consecutive-id pairs; the LSH
# band join itself is exercised in tests/test_dedup.py)
# ---------------------------------------------------------------------------

def _minhash_oracle(num_perm: int = 8, k: int = 3) -> str:
    mins = ", ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min')"
        for i in range(num_perm))
    return f"""
WITH s AS (SELECT doc_id, {_dd_shingles(k)} AS sh FROM documents)
SELECT doc_id, array_to_string([{mins}], '|') AS minhash_sig
FROM s
"""


@q("dedup_minhash_signatures", _minhash_oracle())
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # auto tier: Column HOF fold under ~50k docs, bit-identical Arrow
    # hashlib tier above (23.7 s vs 8.5 s at the 100x derived set) —
    # same routing rule as the pairs/components/store queries
    from .operators.dedup import minhash_signatures_tiered
    d = _tp(spark, sf_dir, "documents")
    return minhash_signatures_tiered(d, num_perm=8, shingle_k=3).select(
        "doc_id", F.concat_ws("|", F.col("sig")).alias("minhash_sig"))


# The hashlib/Arrow signature tier under the SAME oracle as the
# Catalyst HOF tier: byte-identical signatures are the contract
# (operators/dedup.minhash_signatures_arrow — the cold-executor tier),
# and sharing _minhash_oracle() makes the driver's value hash prove it.
@q("dedup_minhash_signatures_arrow", _minhash_oracle())
def dedup_minhash_signatures_arrow(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_signatures_arrow
    d = _tp(spark, sf_dir, "documents")
    return minhash_signatures_arrow(d, num_perm=8, shingle_k=3).select(
        "doc_id", F.concat_ws("|", F.col("sig")).alias("minhash_sig"))


def _simhash_oracle(bits: int = 16) -> str:
    toks = _dd_shingles(1)
    hs = (f"list_transform({toks}, "
          f"s -> CAST(('0x' || substr(md5(s), 1, 4)) AS BIGINT))")
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {b}) & 1) = 1)) > len(hs)"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(bits))
    return f"""
WITH t AS (SELECT doc_id, {hs} AS hs FROM documents)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM t
"""


@q("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # routes Column fold vs Arrow twin by corpus size (bit-identical;
    # the pinned Column fold was the family's 5.9x/decade ledger term)
    from .operators.dedup import simhash_tiered
    d = _tp(spark, sf_dir, "documents")
    return simhash_tiered(d, bits=16).select("doc_id", "simhash")


# The Arrow/hashlib+NumPy simhash tier PINNED under the same oracle —
# the default path past the 50k-doc crossover, which the driver's
# sf0.01 corpus can never reach through the auto-routed query above
# (VERDICT r7 next #1; mirrors dedup_minhash_signatures_arrow).
@q("dedup_simhash_arrow", _simhash_oracle())
def dedup_simhash_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_tiered
    d = _tp(spark, sf_dir, "documents")
    return simhash_tiered(d, bits=16, tier="arrow").select(
        "doc_id", "simhash")


# SimHash Hamming-ball near-dup DEGREES: the banded pigeonhole
# candidate generation is COMPLETE (hamming <= 3 over 4 bands of a
# 16-bit hash means at least one whole band agrees), so per-doc
# neighbor counts must equal the exact all-pairs Hamming filter —
# which is the oracle. Output is |corpus| rows; the qualifying PAIR
# list is quadratic on this templated corpus (~3.8M at sf0.1), which
# is exactly why the operator reports degrees
# (operators/dedup.simhash_neighbor_counts; the pair-emitting variant
# simhash_hamming_pairs exists for small candidate sets).
def _simhash_neighbors_oracle(bits: int = 16, max_hamming: int = 3) -> str:
    toks = _dd_shingles(1)
    hs = (f"list_transform({toks}, "
          f"s -> CAST(('0x' || substr(md5(s), 1, 4)) AS BIGINT))")
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {b}) & 1) = 1)) > len(hs)"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(bits))
    return f"""
WITH t AS (SELECT doc_id, {hs} AS hs FROM documents),
s AS (SELECT doc_id, CAST({terms} AS BIGINT) AS sh FROM t),
deg AS (
  SELECT a.doc_id, COUNT(*) AS cnt
  FROM s a JOIN s b
    ON a.doc_id <> b.doc_id
   AND bit_count(xor(a.sh, b.sh)) <= {max_hamming}
  GROUP BY a.doc_id)
SELECT s.doc_id, CAST(COALESCE(deg.cnt, 0) AS BIGINT) AS n_near
FROM s LEFT JOIN deg USING (doc_id)
"""


@q("dedup_simhash_neighbors", _simhash_neighbors_oracle())
def dedup_simhash_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_neighbor_counts
    d = _tp(spark, sf_dir, "documents")
    return simhash_neighbor_counts(d, bits=16, max_hamming=3)


# Banded simhash Hamming pairs WITH the degenerate-bucket star guard:
# the corpus plus a 70-clone boilerplate family (> max_bucket=64), so
# BOTH candidate branches execute — all-pairs for small band buckets,
# star for the over-cap family — and the oracle replays banding, the
# window-count/center cap rule, and the Hamming verification
# value-for-value.
def _simhash_banded_pairs_oracle(bits: int = 16, bands: int = 4,
                                 max_hamming: int = 3,
                                 max_bucket: int = 64,
                                 fam: int = 70) -> str:
    # cap: oracle twin replays the QUERY-side pinned demo layout
    width = bits // bands
    mask = (1 << width) - 1
    toks = _dd_shingles(1)
    hs = (f"list_transform({toks}, "
          f"s -> CAST(('0x' || substr(md5(s), 1, 4)) AS BIGINT))")
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {b}) & 1) = 1)) > len(hs)"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(bits))
    bvals = ", ".join(str(b) for b in range(bands))
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         (SELECT text FROM documents WHERE doc_id = 0) AS text
  FROM documents WHERE doc_id < {fam}
), t AS (SELECT doc_id, {hs} AS hs FROM corpus),
s AS (SELECT doc_id, CAST({terms} AS BIGINT) AS sh FROM t),
banded AS (
  SELECT doc_id, sh, u.b AS b, (sh >> (u.b * {width})) & {mask} AS bv
  FROM s, UNNEST([{bvals}]) AS u(b)),
sized AS (
  SELECT doc_id, b, bv,
         COUNT(*) OVER (PARTITION BY b, bv) AS n,
         MIN(doc_id) OVER (PARTITION BY b, bv) AS ctr
  FROM banded),
cand AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b
  FROM sized x JOIN sized y
    ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
  WHERE x.n <= {max_bucket}
  UNION
  SELECT ctr AS id_a, doc_id AS id_b
  FROM sized WHERE n > {max_bucket} AND doc_id <> ctr)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
FROM cand c JOIN s a ON a.doc_id = c.id_a JOIN s b ON b.doc_id = c.id_b
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
"""


@q("dedup_simhash_banded_pairs", _simhash_banded_pairs_oracle())
def dedup_simhash_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_hamming_pairs
    d = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    seed = d.filter(F.col("doc_id") == 0).select(F.col("text").alias("__t"))
    clones = (d.filter(F.col("doc_id") < 70)
              .select((F.col("doc_id") + 200000).alias("doc_id"))
              .crossJoin(F.broadcast(seed))
              .select("doc_id", F.col("__t").alias("text")))
    return simhash_hamming_pairs(d.unionByName(clones), bits=16, bands=4,
                                 max_hamming=3, max_bucket=64)


@q("dedup_jaccard_consecutive", f"""
WITH s AS (SELECT doc_id, {_dd_shingles(3)} AS sh FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 1.0
             ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh))) END, 4) AS jaccard
FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
""")
def dedup_jaccard_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs
    d = _tp(spark, sf_dir, "documents")
    pairs = d.select(F.col("doc_id").alias("id_a"),
                     (F.col("doc_id") + 1).alias("id_b"))
    pairs = pairs.join(d.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
    return ngram_jaccard_pairs(d, pairs, shingle_k=3) \
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@q("embedding_cosine_pairs", """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(CASE WHEN sqrt(list_inner_product(a.v, a.v)) = 0
                    OR sqrt(list_inner_product(b.v, b.v)) = 0 THEN 0.0
             ELSE LEAST(GREATEST(list_inner_product(a.v, b.v)
                  / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))),
                  -1.0), 1.0) END, 4) AS cosine_sim
FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
""")
def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.distance import cosine
    e = _t(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (a.join(b, F.col("id_b") == F.col("id_a") + 1)
            .select("id_a", "id_b",
                    F.round(1.0 - cosine(F.col("va"), F.col("vb")), 4)
                     .alias("cosine_sim")))


# Exact dedup (hash-groupBy tier). The corpus has no byte-identical
# texts, so plant deterministic copies (same UNION in the oracle) to
# keep the query non-vacuous: every doc_id % 50 == 0 gets a clone.
@q("dedup_exact_clusters", f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
), f AS (SELECT md5({_DD_NORM}) AS fingerprint, doc_id FROM corpus)
SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS id_min,
       CAST(max(doc_id) AS BIGINT) AS id_max
FROM f GROUP BY fingerprint HAVING count(*) > 1
""")
def dedup_exact_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dup_clusters
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = d.filter(F.col("doc_id") % 50 == 0) \
        .withColumn("doc_id", F.col("doc_id") + 100000)
    clusters = exact_dup_clusters(d.unionByName(clones))
    return clusters.select(
        "fingerprint", F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("id_min").cast("bigint").alias("id_min"),
        F.col("id_max").cast("bigint").alias("id_max"))


# Full MinHash-LSH near-dup pipeline: signature -> banded self-join ->
# exact-Jaccard verify. Both engines derive identical md5-based
# signatures, so even the LSH *candidate generation* is replicated
# value-for-value — a strong oracle over the whole pipeline.
def _minhash_pairs_oracle(num_perm: int = 8, bands: int = 4, k: int = 3,
                          threshold: float = 0.5,
                          max_bucket: int | None = None) -> str:
    r = num_perm // bands
    mins = ", ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min')"
        for i in range(num_perm))
    band_key = " || '|' || ".join(["CAST(b AS VARCHAR)"]
                                  + [f"sig[{r}*b + {i} + 1]" for i in range(r)])
    if max_bucket is None:
        pairs_cte = """
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),"""
    else:
        # replay of the Spark side's degenerate-bucket guard: all
        # pairs while |bucket| <= cap, star pairs (vs the bucket min)
        # above it
        pairs_cte = f"""
bstat AS (SELECT band, COUNT(*) AS n, MIN(doc_id) AS m
          FROM bands GROUP BY band),
pairs AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    JOIN bstat ON bstat.band = a.band
    WHERE bstat.n <= {max_bucket}
    UNION ALL
    SELECT bstat.m AS id_a, b.doc_id AS id_b
    FROM bands b JOIN bstat ON bstat.band = b.band
    WHERE bstat.n > {max_bucket} AND b.doc_id > bstat.m)),"""
    return f"""
WITH s AS (SELECT doc_id, {_dd_shingles(k)} AS sh FROM documents),
sig AS (SELECT doc_id, sh, [{mins}] AS sig FROM s),
bands AS (
  SELECT doc_id, unnest(list_transform(range(0, {bands}), b -> {band_key})) AS band
  FROM sig),{pairs_cte}
scored AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) = 0 THEN 1.0
              ELSE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.sh, sb.sh))) END AS j
  FROM pairs
  JOIN s sa ON sa.doc_id = pairs.id_a
  JOIN s sb ON sb.doc_id = pairs.id_b)
SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM scored WHERE j >= {threshold}
"""


@q("dedup_minhash_pairs", _minhash_pairs_oracle(max_bucket=64))
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_lsh_pairs
    d = _t(spark, sf_dir, "documents")
    # max_bucket=64: the degenerate-bucket guard (star candidates past
    # the cap) — testdata buckets stay under it, so the value oracle
    # also proves the guard formula; on the derived sets it binds
    # (duplicate families scale with replicas) and keeps candidate
    # volume linear in bucket size
    pairs = minhash_lsh_pairs(d, num_perm=8, bands=4, shingle_k=3,
                              threshold=0.5, max_bucket=64)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


# Transitive dup clusters: near-dup pairs are edges; connected
# components give the keep-one-per-cluster semantics (A~B, B~C
# collapses all three). Spark runs iterative min-label propagation;
# the oracle computes the same fixpoint with a recursive CTE.
def _components_oracle(num_perm: int = 8, bands: int = 4, k: int = 3,
                       threshold: float = 0.5,
                       max_bucket: int | None = None,
                       final_select: str | None = None) -> str:
    if final_select is None:
        tail = """
SELECT node, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY node"""
    else:
        tail = f""",
comp AS (
  SELECT node, CAST(min(r) AS BIGINT) AS component
  FROM reach GROUP BY node)
{final_select}"""
    r = num_perm // bands
    mins = ", ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min')"
        for i in range(num_perm))
    band_key = " || '|' || ".join(["CAST(b AS VARCHAR)"]
                                  + [f"sig[{r}*b + {i} + 1]" for i in range(r)])
    if max_bucket is None:
        cand_cte = """
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands_t a JOIN bands_t b ON a.band = b.band AND a.doc_id < b.doc_id),"""
    else:
        cand_cte = f"""
bstat AS (SELECT band, COUNT(*) AS n, MIN(doc_id) AS m
          FROM bands_t GROUP BY band),
cand AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands_t a JOIN bands_t b ON a.band = b.band AND a.doc_id < b.doc_id
    JOIN bstat ON bstat.band = a.band
    WHERE bstat.n <= {max_bucket}
    UNION ALL
    SELECT bstat.m AS id_a, b.doc_id AS id_b
    FROM bands_t b JOIN bstat ON bstat.band = b.band
    WHERE bstat.n > {max_bucket} AND b.doc_id > bstat.m)),"""
    return f"""
WITH RECURSIVE s AS (SELECT doc_id, {_dd_shingles(k)} AS sh FROM documents),
sig AS (SELECT doc_id, sh, [{mins}] AS sig FROM s),
bands_t AS (
  SELECT doc_id, unnest(list_transform(range(0, {bands}), b -> {band_key})) AS band
  FROM sig),{cand_cte}
pairs AS (
  SELECT id_a, id_b FROM cand
  JOIN s sa ON sa.doc_id = cand.id_a
  JOIN s sb ON sb.doc_id = cand.id_b
  WHERE (CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) = 0 THEN 1.0
         ELSE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.sh, sb.sh))) END) >= {threshold}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs),
reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node){tail}
"""


@q("dedup_components", _components_oracle(max_bucket=64))
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.components import connected_components
    from .operators.dedup import minhash_lsh_pairs
    d = _tp(spark, sf_dir, "documents")
    # max_bucket: the same degenerate-bucket guard as
    # dedup_minhash_pairs — star candidates keep an over-cap bucket's
    # edge set linear, and a star still connects the whole bucket, so
    # component structure is preserved wherever verification keeps the
    # star edges (the documented trade)
    pairs = minhash_lsh_pairs(d, num_perm=8, bands=4, shingle_k=3,
                              threshold=0.5, max_bucket=64)
    return connected_components(pairs) \
        .select("node", F.col("component").cast("bigint").alias("component"))


# Leakage-safe train/test split (operators/sampling.cluster_safe_split):
# the split key is the near-dup COMPONENT representative, so a whole
# duplicate family lands on one side — a per-doc split would let the
# held-out set contain paraphrases of training docs, contamination that
# eval-set decontam can't see. Oracle = the components recursive CTE
# plus the same md5 split rule on the representative; every doc's side
# is value-checked, including singletons (no near-dup edges).
@q("split_cluster_safe", _components_oracle(max_bucket=64, final_select="""
SELECT d.doc_id,
       CAST(COALESCE(comp.component, d.doc_id) AS BIGINT) AS rep,
       CASE WHEN ('0x' || substr(md5('split' ||
                  CAST(COALESCE(comp.component, d.doc_id) AS VARCHAR)),
                  1, 8))::BIGINT / 4294967296.0 < 0.2
            THEN 'test' ELSE 'train' END AS split
FROM documents d LEFT JOIN comp ON comp.node = d.doc_id"""))
def split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_lsh_pairs
    from .operators.sampling import cluster_safe_split
    d = _tp(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, num_perm=8, bands=4, shingle_k=3,
                              threshold=0.5, max_bucket=64)
    return cluster_safe_split(d, pairs, "doc_id", test_fraction=0.2) \
        .select("doc_id", F.col("rep").cast("bigint").alias("rep"), "split")


def _inc_dedup_oracle(num_perm: int = 8, bands: int = 4, k: int = 3,
                      threshold: float = 0.5, cap: int = 64) -> str:
    r = num_perm // bands
    mins = ", ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min')"
        for i in range(num_perm))
    band_key = " || '|' || ".join(["CAST(b AS VARCHAR)"]
                                  + [f"sig[{r}*b + {i} + 1]" for i in range(r)])
    jac = ("(CASE WHEN len(list_distinct(list_concat(cs.sh, bs.sh))) = 0"
           " THEN 1.0 ELSE CAST(len(list_intersect(cs.sh, bs.sh)) AS DOUBLE)"
           " / len(list_distinct(list_concat(cs.sh, bs.sh))) END)")
    return f"""
WITH corpus AS (SELECT doc_id, {_dd_shingles(k)} AS sh FROM documents
                WHERE doc_id % 5 <> 0),
batch AS (SELECT doc_id, {_dd_shingles(k)} AS sh FROM documents
          WHERE doc_id % 5 = 0),
csig AS (SELECT doc_id, sh, [{mins}] AS sig FROM corpus),
bsig AS (SELECT doc_id, sh, [{mins}] AS sig FROM batch),
cbands AS (
  SELECT doc_id, unnest(list_transform(range(0, {bands}), b -> {band_key})) AS band
  FROM csig),
bbands AS (
  SELECT doc_id, unnest(list_transform(range(0, {bands}), b -> {band_key})) AS band
  FROM bsig),
cand AS (SELECT DISTINCT b.doc_id AS bid, c.doc_id AS sid
         FROM bbands b JOIN cbands c ON b.band = c.band),
capped AS (SELECT bid, sid FROM (
    SELECT bid, sid, row_number() OVER (PARTITION BY bid
        ORDER BY md5(CAST(sid AS VARCHAR)) ASC, sid ASC) AS rk FROM cand)
  WHERE rk <= {cap}),
ver AS (SELECT bid, sid, {jac} AS sim
        FROM capped JOIN csig cs ON cs.doc_id = capped.sid
                    JOIN bsig bs ON bs.doc_id = capped.bid),
best AS (SELECT bid, sid, sim FROM (
    SELECT bid, sid, sim, row_number() OVER (PARTITION BY bid
        ORDER BY sim DESC, sid ASC) AS rk
    FROM ver WHERE sim >= {threshold})
  WHERE rk = 1)
SELECT b.doc_id, best.sid IS NOT NULL AS is_dup,
       CAST(best.sid AS BIGINT) AS dup_of, ROUND(best.sim, 4) AS sim
FROM batch b LEFT JOIN best ON best.bid = b.doc_id
"""


# Incremental dedup (operators/incdedup.MinHashStore): the ingest-loop
# shape — corpus signatures persisted ONCE, each arriving batch checked
# with batch-sized work plus two store scans that never shuffle the
# store (candidate generation joins the broadcast batch bands map-side;
# the shingle fetch joins the broadcast capped candidate list). Oracle
# recomputes store + batch signatures from the same md5 construction
# and replays the deterministic per-batch-doc candidate cap.
@q("dedup_incremental_batch", _inc_dedup_oracle())
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .operators.incdedup import MinHashStore
    d = _tp(spark, sf_dir, "documents")
    store = MinHashStore(tempfile.mkdtemp(prefix="vectodb_mh_store_"))
    store.build(d.filter(F.col("doc_id") % 5 != 0))
    out = store.dedup_batch(d.filter(F.col("doc_id") % 5 == 0),
                            threshold=0.5, max_candidates=64)
    return out.select("doc_id", "is_dup",
                      F.col("dup_of").cast("bigint").alias("dup_of"), "sim")


# Streaming twin of the incremental check (streaming/incdedup): the
# ingest loop run as a stream — each micro-batch goes through the SAME
# batch operator inside foreachBatch (row_number windows bar a native
# streaming plan), flags append to a parquet sink executor-side. One
# AvailableNow drain with the store read-only equals the batch result
# exactly, so both tiers share one oracle; the evolving-store mode
# (accepted docs join the store mid-stream) is order-dependent by
# design and covered by sequenced-drain unit tests instead. This twin
# pins sig_tier="arrow" (the batch twin's auto resolves to the Column
# fold at driver scale), so the driver value-oracles BOTH signature
# tiers end-to-end — the bit-parity the unit test asserts, proven
# against DuckDB as well.
@q("dedup_incremental_streaming", _inc_dedup_oracle())
def dedup_incremental_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .operators.incdedup import MinHashStore
    from .streaming.corpus import read_document_stream
    from .streaming.incdedup import dedup_stream_against_store
    d = _tp(spark, sf_dir, "documents")
    store = MinHashStore(tempfile.mkdtemp(prefix="vectodb_mh_store_"),
                         sig_tier="arrow")
    store.build(d.filter(F.col("doc_id") % 5 != 0))
    src = read_document_stream(
        spark, os.path.join(sf_dir, "documents.parque[t]"),
        max_files_per_trigger=None).filter(F.col("doc_id") % 5 == 0)
    out_dir = tempfile.mkdtemp(prefix="vectodb_incstream_out_")
    ckpt = tempfile.mkdtemp(prefix="vectodb_incstream_ckpt_")
    dedup_stream_against_store(src, store, out_dir, ckpt,
                               threshold=0.5, max_candidates=64)
    return spark.read.parquet(out_dir).select(
        "doc_id", "is_dup",
        F.col("dup_of").cast("bigint").alias("dup_of"), "sim")


# Embedding-cosine near-dup with a FIXED blocking key (label): exact
# within blocks — the exactness demo. A fixed low-cardinality key is
# quadratic-by-contract (the operator refuses it past
# chooser.QUADRATIC_BLOCK_MAX_ROWS without allow_quadratic=True,
# which this query passes explicitly); the scale path is the learned
# IVF key, dedup_semantic_ivf below (5.2x/decade measured vs
# 27.7x/decade here at 100x).
@q("dedup_cosine_blocked", """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CASE WHEN sqrt(list_inner_product(a.v, a.v)) = 0
                OR sqrt(list_inner_product(b.v, b.v)) = 0 THEN 0.0
         ELSE LEAST(GREATEST(list_inner_product(a.v, b.v)
              / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))),
              -1.0), 1.0) END AS sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
SELECT id_a, id_b, ROUND(sim, 4) AS cosine_sim FROM p WHERE sim >= 0.35
""")
def dedup_cosine_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import cosine_near_dup_blocked
    e = _tp(spark, sf_dir, "embeddings")
    return cosine_near_dup_blocked(e, "label", threshold=0.35,
                                   allow_quadratic=True) \
        .select("id_a", "id_b", F.round("cosine_sim", 4).alias("cosine_sim"))


# Token budgeting: whitespace + BPE-ish sub-word counts (both engines
# run the identical RE2 pattern).
@q("text_token_budget", r"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
       END AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\w\s]')) AS BIGINT)
         AS bpe_ish_tokens
FROM documents
""")
def text_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import bpe_ish_token_count, token_count
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id",
                    token_count(F.col("text")).alias("ws_tokens"),
                    bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"))


# Gopher-style repetition/symbol gates (text.repetition_struct): the
# keep flag is computed on UNROUNDED doubles in both engines — the
# arithmetic (1 − distinct/n, mode/nb) is identical binary64 on both
# sides, so the boolean is deterministic.
@q("quality_repetition", f"""
WITH t AS (
  SELECT doc_id, text, {_DD_TOKS} AS toks FROM documents
), b AS (
  SELECT doc_id, text, toks, len(toks) AS n,
    CASE WHEN len(toks) >= 2 THEN
      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
    ELSE [] END AS bg
  FROM t
), s AS (
  SELECT doc_id,
    CASE WHEN n > 0
      THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n
      ELSE 0.0 END AS dup,
    CASE WHEN len(bg) > 0 AND list_max(list_transform(list_distinct(bg),
             d -> len(list_filter(bg, x -> x = d)))) >= 2
      THEN CAST(list_max(list_transform(list_distinct(bg),
             d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE) / len(bg)
      ELSE 0.0 END AS topb,
    CASE WHEN length(text) > 0
      THEN CAST(length(text)
             - length(regexp_replace(text, '[#@*/\\\\{{}}<>|~^]', '', 'g'))
           AS DOUBLE) / length(text)
      ELSE 0.0 END AS symr
  FROM b
)
SELECT doc_id,
       ROUND(dup, 4) AS dup_word_frac,
       ROUND(topb, 4) AS top_bigram_frac,
       ROUND(symr, 4) AS symbol_ratio,
       (dup <= 0.6 AND topb <= 0.1 AND symr <= 0.05) AS keep
FROM s
""")
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import repetition_struct
    d = _tp(spark, sf_dir, "documents")
    return d.select("doc_id",
                    F.inline(F.array(repetition_struct(F.col("text"))))) \
        .select("doc_id",
                F.round("dup_word_frac", 4).alias("dup_word_frac"),
                F.round("top_bigram_frac", 4).alias("top_bigram_frac"),
                F.round("symbol_ratio", 4).alias("symbol_ratio"),
                "keep")


# Multimodal decode pipeline: synthetic payloads (sha2 chains, both
# engines re-derive them) -> mapInPandas Arrow-batched stub decoder.
# The oracle reproduces the deterministic fake decode value-for-value,
# so the whole binary-column plumbing is hash-checked.
@q("media_decode_stats", """
WITH g AS (SELECT range AS id FROM range(0, 100)),
p AS (SELECT 'image_' || id AS media_id,
             sha256('42:0:' || id) || sha256('42:1:' || id)
             || sha256('42:2:' || id) || sha256('42:3:' || id) AS ph
      FROM g),
h AS (SELECT media_id, ph, sha256(ph) AS hh FROM p)
SELECT media_id,
       CAST(octet_length(from_hex(ph)) AS BIGINT) AS n_bytes,
       CAST(('0x' || substr(hh, 1, 4))::BIGINT % 1920 + 1 AS BIGINT) AS width,
       CAST(('0x' || substr(hh, 5, 4))::BIGINT % 1080 + 1 AS BIGINT) AS height,
       ROUND(list_aggregate(list_transform(range(0, octet_length(from_hex(ph))),
             i -> ('0x' || substr(ph, 2*i + 1, 2))::BIGINT), 'avg'), 4)
         AS mean_intensity
FROM h
""")
def media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.media import decode_media, synth_media
    decoded = decode_media(synth_media(spark, n=100, modality="image"),
                          jpeg_backend="numpy")
    return decoded.select(
        "media_id", F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.round("mean_intensity", 4).alias("mean_intensity"))


# ---------------------------------------------------------------------------
# REAL codec path, driver-value-hashable (r8). synth_ppm/synth_bmp
# build actual binary-PPM / 24-bit-BMP payloads JVM-side with pixel
# byte j = (id*37 + j*11) % 251, so every statistic the real NumPy
# parsers (_parse_ppm/_parse_bmp) produce is closed-form in (id, w, h)
# and DuckDB reproduces it without parsing a byte. Integer pixel sums
# are exact in float64 (<= 60 bytes of values < 251), so the 4dp
# round matches bit-for-bit on both engines.
# ---------------------------------------------------------------------------

# PPM header "P6\n{w} {h}\n255\n" is 11 bytes for single-digit dims.
@q("media_decode_ppm", """
WITH g AS (SELECT range AS id FROM range(0, 40)),
d AS (SELECT id, (id % 4) + 2 AS w, (id % 3) + 2 AS h FROM g)
SELECT 'ppm_' || id AS media_id,
       CAST(11 + w*h*3 AS BIGINT) AS n_bytes,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       ROUND(list_aggregate(list_transform(range(0, w*h*3),
             j -> CAST((id*37 + j*11) % 251 AS DOUBLE)), 'avg'), 4)
         AS mean_intensity
FROM d
""")
def media_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.media import decode_media, synth_ppm
    decoded = decode_media(synth_ppm(spark, n=40), jpeg_backend="numpy")
    return decoded.select(
        "media_id", F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.round("mean_intensity", 4).alias("mean_intensity"))


# BMP: 54-byte header + 12-byte rows (width 4 => stride 12, no pad);
# mean intensity is invariant to the BGR/bottom-up layout the decoder
# undoes, so the oracle mean is the same raster formula.
@q("media_decode_bmp", """
WITH g AS (SELECT range AS id FROM range(0, 20)),
d AS (SELECT id, (id % 3) + 2 AS h FROM g)
SELECT 'bmp_' || id AS media_id,
       CAST(54 + 12*h AS BIGINT) AS n_bytes,
       CAST(4 AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       ROUND(list_aggregate(list_transform(range(0, 12*h),
             j -> CAST((id*37 + j*11) % 251 AS DOUBLE)), 'avg'), 4)
         AS mean_intensity
FROM d
""")
def media_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.media import decode_media, synth_bmp
    decoded = decode_media(synth_bmp(spark, n=20), jpeg_backend="numpy")
    return decoded.select(
        "media_id", F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.round("mean_intensity", 4).alias("mean_intensity"))


# Resize round-trip: 8x4 source -> target 2x2 -> letterbox scale
# min(2/8, 2/4) = 0.25 -> out 2x1; nearest-neighbor index maps
# (operators/media.resize_media: yi = floor(r*h/oh), xi = floor(c*w/ow))
# pick source pixels (0,0) and (0,4), i.e. raster bytes
# {0,1,2, 12,13,14} — all ratios are exact binary fractions, so the
# index arithmetic cannot drift between engines. The resized payload
# is re-encoded PPM ("P6\\n2 1\\n255\\n" + 6 bytes = 17) and decoded
# AGAIN through the real parser, so encode->resize->decode round-trips
# under the driver hash.
@q("media_resize_ppm", """
WITH g AS (SELECT range AS id FROM range(0, 30))
SELECT 'ppm_' || id AS media_id,
       CAST(17 AS BIGINT) AS n_bytes,
       CAST(2 AS BIGINT) AS width,
       CAST(1 AS BIGINT) AS height,
       ROUND(list_aggregate(list_transform([0, 1, 2, 12, 13, 14],
             j -> CAST((id*37 + j*11) % 251 AS DOUBLE)), 'avg'), 4)
         AS mean_intensity
FROM g
""")
def media_resize_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.media import decode_media, resize_media, synth_ppm
    resized = resize_media(synth_ppm(spark, n=30, width=8, height=4),
                           target_w=2, target_h=2) \
        .withColumn("modality", F.lit("image"))
    return decode_media(resized, jpeg_backend="numpy").select(
        "media_id", F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.round("mean_intensity", 4).alias("mean_intensity"))


# PNG (r9): stdlib-zlib inflate + NumPy filter reversal — the first
# COMPRESSED format through the real-codec seam. The generator cycles
# all five scanline filters ((id + row) % 5), so None/Sub/Up/Average/
# Paeth reversal all sit under this one value hash; deflate output
# never reaches the oracle (width/height/mean come from the decoded
# pixels, which are the closed-form raster formula).
@q("media_decode_png", """
WITH g AS (SELECT range AS id FROM range(0, 30)),
d AS (SELECT id, (id % 5) + 3 AS w, (id % 4) + 2 AS h FROM g)
SELECT 'png_' || id AS media_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       ROUND(list_aggregate(list_transform(range(0, w*h*3),
             j -> CAST((id*37 + j*11) % 251 AS DOUBLE)), 'avg'), 4)
         AS mean_intensity
FROM d
""")
def media_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.media import decode_media, synth_png
    decoded = decode_media(synth_png(spark, n=30), jpeg_backend="numpy")
    return decoded.select(
        "media_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.round("mean_intensity", 4).alias("mean_intensity"))


# BMP with ROW PADDING (r9): width 5 -> stride 16, one pad byte per
# row that also carries the pixel formula — the decoder must SKIP it
# (rows[:, :15]), so the oracle's mean runs over pixel positions only:
# byte k of the 15 real bytes in row r sits at raster offset
# (k div 15)*16 + (k % 15). A wrong stride slice shifts every row and
# the hash catches it. (The no-pad width-4 corpus keeps its own query
# above — both branches stay anchored.)
@q("media_decode_bmp_pad", """
WITH g AS (SELECT range AS id FROM range(0, 20)),
d AS (SELECT id, (id % 3) + 2 AS h FROM g)
SELECT 'bmp_' || id AS media_id,
       CAST(54 + 16*h AS BIGINT) AS n_bytes,
       CAST(5 AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       ROUND(list_aggregate(list_transform(range(0, 15*h),
             k -> CAST((id*37 + ((k // 15)*16 + (k % 15))*11) % 251
                       AS DOUBLE)), 'avg'), 4)
         AS mean_intensity
FROM d
""")
def media_decode_bmp_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.media import decode_media, synth_bmp
    decoded = decode_media(synth_bmp(spark, n=20, width=5), jpeg_backend="numpy")
    return decoded.select(
        "media_id", F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.round("mean_intensity", 4).alias("mean_intensity"))


# WAV (r9): second real MODALITY through the codec tier — RIFF/WAVE
# PCM16 parsed by _parse_wav, generated JVM-side like synth_ppm.
# Samples are (id*1009 + j*757) % 30011 (non-negative < 2^15), so
# frame counts, rates, and mean |amplitude| are all exact-integer
# closed form for the oracle.
@q("media_decode_wav", """
WITH g AS (SELECT range AS id FROM range(0, 30)),
d AS (SELECT id, (id % 4 + 1) * 50 AS ns, 8000 + (id % 3) * 4000 AS sr
      FROM g)
SELECT 'wav_' || id AS media_id,
       CAST(44 + ns*2 AS BIGINT) AS n_bytes,
       CAST(ns AS BIGINT) AS n_samples,
       CAST(sr AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS channels,
       ROUND(list_aggregate(list_transform(range(0, ns),
             j -> CAST((id*1009 + j*757) % 30011 AS DOUBLE)), 'avg'), 4)
         AS mean_amplitude
FROM d
""")
def media_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.media import decode_audio, synth_wav
    decoded = decode_audio(synth_wav(spark, n=30))
    return decoded.select(
        "media_id", F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.col("channels").cast("bigint").alias("channels"),
        F.round("mean_amplitude", 4).alias("mean_amplitude"))


# ---------------------------------------------------------------------------
# Perceptual image dedup (r9): dHash over the REAL PPM decode path.
# Corpus = 16 distinct 6x4 images (pixel byte j = (id*37 + j*11) % 251)
# plus a one-pixel-retouched twin of each (byte 0 bumped by 125 before
# the modulus) — twins land within <=2 dHash bits of their base. The
# oracle replays EVERY bit from the closed-form formula: NN grid
# indices ((i*dim)//n) and the luminance channel-sum are precomputed
# Python-side into 64 integer CASE expressions, then the pigeonhole
# band join + xor-popcount verify run as plain SQL — the whole
# decode -> hash -> band -> verify pipeline is value-hashed.
# ---------------------------------------------------------------------------

_DHASH_N, _DHASH_W, _DHASH_H, _DHASH_BUMP = 16, 6, 4, (0, 125)


def _dhash_bits_sql(bump: tuple[int, int] | None,
                    w: int = _DHASH_W, h: int = _DHASH_H,
                    grid: int = 8) -> str:
    """DuckDB list literal of the 64 dHash bits for a synth_ppm image
    of fixed (w, h) — grid indices resolved to constants here, exactly
    the integer maps operators/imagedup.dhash_bits uses."""
    yi = [r * h // grid for r in range(grid)]
    xi = [c * w // (grid + 1) for c in range(grid + 1)]

    def lum(r: int, c: int) -> str:
        j = (yi[r] * w + xi[c]) * 3
        terms = []
        for ch in range(3):
            jj = j + ch
            d = bump[1] if bump and jj == bump[0] else 0
            terms.append(f"(id*37 + {jj * 11 + d}) % 251")
        return " + ".join(terms)

    exprs = []
    for b in range(grid * grid):
        r, c = divmod(b, grid)
        exprs.append(f"CASE WHEN {lum(r, c)} > {lum(r, c + 1)} "
                     "THEN 1 ELSE 0 END")
    return "[" + ", ".join(exprs) + "]"


def _dhash_imgs_cte() -> str:
    """CTE producing (media_id, bits LIST) for the base + twin corpus."""
    return f"""g AS (SELECT range AS id FROM range(0, {_DHASH_N})),
imgs AS (
  SELECT 'ppm_' || id AS media_id, {_dhash_bits_sql(None)} AS bits FROM g
  UNION ALL
  SELECT 'ppmB_' || id AS media_id,
         {_dhash_bits_sql(_DHASH_BUMP)} AS bits FROM g
)"""


def _dhash_corpus(spark: SparkSession) -> DataFrame:
    from .operators.media import synth_ppm
    base = synth_ppm(spark, n=_DHASH_N, width=_DHASH_W, height=_DHASH_H)
    twin = synth_ppm(spark, n=_DHASH_N, width=_DHASH_W, height=_DHASH_H,
                     bump=_DHASH_BUMP, id_prefix="ppmB_")
    return base.unionByName(twin)


# two's-complement pack: bit 63 contributes -2^63, everything signed
# stays inside BIGINT — no HUGEINT wrap needed on either engine.
_DHASH_PACK = (" + ".join(f"bits[{i + 1}]*{1 << i}" for i in range(63))
               + " + bits[64]*(-9223372036854775807 - 1)")

@q("media_dhash", f"""
WITH {_dhash_imgs_cte()}
SELECT media_id, CAST({_DHASH_PACK} AS BIGINT) AS dhash FROM imgs
""")
def media_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the REAL decode -> grid-sample -> bit-pack path (imagedup.dhash_media)
    from .operators.imagedup import dhash_media
    return dhash_media(_dhash_corpus(spark), jpeg_backend="numpy").select(
        "media_id", F.col("dhash").cast("bigint").alias("dhash"))


# Average hash, same corpus: the luminance GRID goes through a plain
# list so the mean threshold (64*s > total) is one lambda — every bit
# still closed-form. dHash and aHash disagreeing on this corpus is
# expected (different predicates); both are anchored independently.
def _ahash_lums_sql(bump: tuple[int, int] | None,
                    w: int = _DHASH_W, h: int = _DHASH_H,
                    grid: int = 8) -> str:
    yi = [r * h // grid for r in range(grid)]
    xi = [c * w // grid for c in range(grid)]
    cells = []
    for b in range(grid * grid):
        r, c = divmod(b, grid)
        j = (yi[r] * w + xi[c]) * 3
        cells.append(" + ".join(
            f"(id*37 + {(j + ch) * 11 + (bump[1] if bump and j + ch == bump[0] else 0)}) % 251"
            for ch in range(3)))
    return "[" + ", ".join(cells) + "]"


@q("media_ahash", f"""
WITH g AS (SELECT range AS id FROM range(0, {_DHASH_N})),
lums AS (
  SELECT 'ppm_' || id AS media_id, {_ahash_lums_sql(None)} AS gl FROM g
  UNION ALL
  SELECT 'ppmB_' || id AS media_id,
         {_ahash_lums_sql(_DHASH_BUMP)} AS gl FROM g
),
imgs AS (
  SELECT media_id,
         list_transform(gl, s -> CASE WHEN 64*s > list_sum(gl)
                                 THEN 1 ELSE 0 END) AS bits
  FROM lums)
SELECT media_id, CAST({_DHASH_PACK} AS BIGINT) AS ahash FROM imgs
""")
def media_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.imagedup import ahash_media
    return ahash_media(_dhash_corpus(spark), jpeg_backend="numpy").select(
        "media_id", F.col("ahash").cast("bigint").alias("ahash"))


@q("dedup_image_dhash", f"""
WITH {_dhash_imgs_cte()},
banded AS (
  SELECT media_id, bits, b.range AS band,
         {" + ".join(f"bits[16*b.range + {i + 1}]*{1 << i}"
                     for i in range(16))} AS bval
  FROM imgs, range(0, 4) b
),
cand AS (
  SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bval = y.bval AND x.media_id < y.media_id
),
ham AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_filter(range(0, 64),
              i -> a.bits[i + 1] != b.bits[i + 1])) AS BIGINT) AS hamming
  FROM cand c
  JOIN imgs a ON a.media_id = c.id_a
  JOIN imgs b ON b.media_id = c.id_b
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
""")
def dedup_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # end-to-end perceptual near-dup pairs: decode -> dHash -> banded
    # buckets (1 shuffle of (id, 16-bit band)) -> xor/popcount verify
    from .operators.imagedup import image_dup_pairs
    return image_dup_pairs(_dhash_corpus(spark), bands=4, max_hamming=3,
                           jpeg_backend="numpy") \
        .select("id_a", "id_b", F.col("hamming").cast("bigint")
                .alias("hamming"))


# ---------------------------------------------------------------------------
# JPEG (r10): the dominant crawl image format through the real-codec
# seam — baseline JFIF decode (marker walk, Huffman, dequantize, IDCT,
# 4:2:0 upsample, YCbCr->RGB). Oracle determinism: synth_jpeg's planes
# are BLOCK-CONSTANT, so with all-ones quant tables every plane value
# survives encode->decode exactly (DC-only blocks — jpeg.py docstring);
# the oracle replays the decoded RGB through the identical JFIF
# conversion arithmetic. Both engines run the SAME float64 expression
# tree (coefficients CAST to DOUBLE in SQL so DuckDB doesn't use exact
# DECIMAL arithmetic where NumPy rounds in binary), so floor(x+0.5)
# lands identically. Compressed bytes never reach the oracle.
# ---------------------------------------------------------------------------


def _jpeg_rgbsum_sql(y: str, cb: str, cr: str) -> str:
    """R+G+B of one decoded block: the exact JFIF conversion the
    decoder applies — floor(x+0.5), clamp, float64 coefficient math
    in the same association order as jpeg._parse_jpeg."""
    def ch(e: str) -> str:
        return f"GREATEST(0, LEAST(255, FLOOR({e} + 0.5)))"
    r = f"({y}) + CAST(1.402 AS DOUBLE)*(({cr}) - 128)"
    g = (f"({y}) - CAST(0.344136 AS DOUBLE)*(({cb}) - 128)"
         f" - CAST(0.714136 AS DOUBLE)*(({cr}) - 128)")
    b = f"({y}) + CAST(1.772 AS DOUBLE)*(({cb}) - 128)"
    return f"({ch(r)} + {ch(g)} + {ch(b)})"


@q("media_decode_jpeg", f"""
WITH g AS (SELECT range AS id FROM range(0, 24)),
d AS (SELECT id, 16*(id % 2 + 1) AS w, 2*(id % 2 + 1) AS wb FROM g),
s AS (SELECT id, w,
  list_aggregate(list_transform(range(0, 2*wb), k ->
    {_jpeg_rgbsum_sql("(id*37 + k*11) % 251",
                      "(id*53 + ((k % wb) // 2)*17) % 251",
                      "(id*29 + ((k % wb) // 2)*23) % 251")}
  ), 'sum') AS bsum
  FROM d)
SELECT 'jpg_' || id AS media_id,
       CAST(w AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height,
       ROUND((64.0 * bsum) / (w * 16 * 3), 4) AS mean_intensity
FROM s
""")
def media_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.jpeg import synth_jpeg
    from .operators.media import decode_media
    decoded = decode_media(synth_jpeg(spark, n=24), jpeg_backend="numpy")
    return decoded.select(
        "media_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.round("mean_intensity", 4).alias("mean_intensity"))


# dHash over the grayscale JPEG path (1-component SOF): the 32x16
# corpus is block-constant, so the sampled luminance at grid point
# (r, c) is 3x the luma value of block k = (2r//8)*4 + (c*32//9)//8 —
# every bit closed-form. Twins retouch block 0 (bump=(0, 97)); the
# oracle replays whatever bits that flips, no pair predicate needed.
_JPEG_GRAY_N, _JPEG_GRAY_BUMP = 16, (0, 97)


def _jpeg_dhash_bits_sql(bump: tuple[int, int] | None,
                         grid: int = 8) -> str:
    def lum(r: int, c: int) -> str:
        k = ((2 * r) // 8) * 4 + (c * 32 // 9) // 8
        d = bump[1] if bump and k == bump[0] else 0
        return f"3*((id*37 + {k * 11 + d}) % 251)"
    exprs = []
    for b in range(grid * grid):
        r, c = divmod(b, grid)
        exprs.append(f"CASE WHEN {lum(r, c)} > {lum(r, c + 1)} "
                     "THEN 1 ELSE 0 END")
    return "[" + ", ".join(exprs) + "]"


def _jpeg_gray_corpus(spark: SparkSession) -> DataFrame:
    from .operators.jpeg import synth_jpeg_gray
    base = synth_jpeg_gray(spark, n=_JPEG_GRAY_N)
    twin = synth_jpeg_gray(spark, n=_JPEG_GRAY_N, bump=_JPEG_GRAY_BUMP,
                           id_prefix="jpgt_")
    return base.unionByName(twin)


@q("media_dhash_jpeg", f"""
WITH g AS (SELECT range AS id FROM range(0, {_JPEG_GRAY_N})),
imgs AS (
  SELECT 'jpgg_' || id AS media_id,
         {_jpeg_dhash_bits_sql(None)} AS bits FROM g
  UNION ALL
  SELECT 'jpgt_' || id AS media_id,
         {_jpeg_dhash_bits_sql(_JPEG_GRAY_BUMP)} AS bits FROM g
)
SELECT media_id, CAST({_DHASH_PACK} AS BIGINT) AS dhash FROM imgs
""")
def media_dhash_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # decode (real baseline JPEG) -> grid sample -> bit pack
    from .operators.imagedup import dhash_media
    return dhash_media(_jpeg_gray_corpus(spark), jpeg_backend="numpy").select(
        "media_id", F.col("dhash").cast("bigint").alias("dhash"))


# End-to-end perceptual near-dup pairs over JPEG payloads: id_mod=8
# collapses 16 clips to 8 byte-identical pairs (hamming 0); any
# incidental cross-class near-matches are replayed by the oracle too.
@q("dedup_image_jpeg", f"""
WITH g AS (SELECT range AS orig FROM range(0, 16)),
e AS (SELECT orig, orig % 8 AS id FROM g),
imgs AS (
  SELECT 'jpgg_' || orig AS media_id, {_jpeg_dhash_bits_sql(None)} AS bits
  FROM e
),
banded AS (
  SELECT media_id, bits, b.range AS band,
         {" + ".join(f"bits[16*b.range + {i + 1}]*{1 << i}"
                     for i in range(16))} AS bval
  FROM imgs, range(0, 4) b
),
cand AS (
  SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bval = y.bval AND x.media_id < y.media_id
),
ham AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_filter(range(0, 64),
              i -> a.bits[i + 1] != b.bits[i + 1])) AS BIGINT) AS hamming
  FROM cand c
  JOIN imgs a ON a.media_id = c.id_a
  JOIN imgs b ON b.media_id = c.id_b
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
""")
def dedup_image_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.imagedup import image_dup_pairs
    from .operators.jpeg import synth_jpeg_gray
    corpus = synth_jpeg_gray(spark, n=16, id_mod=8)
    return image_dup_pairs(corpus, bands=4, max_hamming=3,
                           jpeg_backend="numpy") \
        .select("id_a", "id_b", F.col("hamming").cast("bigint")
                .alias("hamming"))


# Streaming multimodal ingest (r10): the crawler-drops-files shape —
# a file-source stream over media parquet, drained AvailableNow in 4
# micro-batches (4 files x maxFilesPerTrigger=1), decoded by the SAME
# map-only mapInPandas as the batch path (append mode, no state).
# Gray block-constant JPEGs: decoded mean = avg of the 8 block values.
@q("media_decode_streaming", """
WITH g AS (SELECT range AS id FROM range(0, 16))
SELECT 'jpgg_' || id AS media_id,
       CAST(32 AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height,
       ROUND(list_aggregate(list_transform(range(0, 8),
             k -> CAST((id*37 + k*11) % 251 AS DOUBLE)), 'avg'), 4)
         AS mean_intensity
FROM g
""")
def media_decode_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .operators.jpeg import synth_jpeg_gray
    from .streaming.corpus import decode_media_stream, read_media_stream
    from .streaming.events import run_available_now
    src_dir = tempfile.mkdtemp(prefix="vectodb_media_stream_")
    # cap: 4 files so maxFilesPerTrigger=1 yields exactly 4
    # micro-batches — a fixture-size layout knob, not a scale knob
    synth_jpeg_gray(spark, n=16).repartition(4) \
        .write.mode("overwrite").parquet(src_dir)
    run_available_now(decode_media_stream(read_media_stream(spark, src_dir),
                                          jpeg_backend="numpy"),
                      "media_decode_streaming", output_mode="append")
    return spark.table("media_decode_streaming").select(
        "media_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.round("mean_intensity", 4).alias("mean_intensity"))


# ---------------------------------------------------------------------------
# Image ANN (r10): deterministic grid-luminance embedding (the aHash
# sample grid, unthresholded — exact integers 0..765 emitted as
# DOUBLE) over the real decode path, fed to the exact knn tier.
# Distance sums are exact integers in float64, sqrt is one identical
# float64 op on both engines — the full decode -> embed -> knn
# pipeline is value-hashed. (IVF/graph routing over the same features
# is pytest-covered in test_imagedup.)
# ---------------------------------------------------------------------------


def _grid_cells_py(i: int, w: int = _DHASH_W, h: int = _DHASH_H,
                   grid: int = 8) -> list[float]:
    """Python twin of _ahash_lums_sql for a base synth_ppm image —
    the closed-form query vector (no collect)."""
    yi = [r * h // grid for r in range(grid)]
    xi = [c * w // grid for c in range(grid)]
    cells = []
    for b in range(grid * grid):
        r, c = divmod(b, grid)
        j = (yi[r] * w + xi[c]) * 3
        cells.append(float(sum((i * 37 + (j + ch) * 11) % 251
                               for ch in range(3))))
    return cells


@q("knn_image_topk", f"""
WITH g AS (SELECT range AS id FROM range(0, {_DHASH_N})),
lums AS (
  SELECT 'ppm_' || id AS media_id, {_ahash_lums_sql(None)} AS gl FROM g
  UNION ALL
  SELECT 'ppmB_' || id AS media_id,
         {_ahash_lums_sql(_DHASH_BUMP)} AS gl FROM g
),
qv AS (SELECT gl AS q FROM lums WHERE media_id = 'ppm_0')
SELECT media_id, ROUND(d, 4) AS distance FROM (
  SELECT media_id,
         SQRT(CAST(list_aggregate(list_transform(range(0, 64),
              i -> (gl[i+1] - q[i+1]) * (gl[i+1] - q[i+1])), 'sum')
              AS DOUBLE)) AS d
  FROM lums, qv WHERE media_id != 'ppm_0'
  ORDER BY d ASC, media_id ASC LIMIT {KNN_K})
""")
def knn_image_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.imagedup import grid_luminance_features
    qvec = _grid_cells_py(0)
    feats = grid_luminance_features(_dhash_corpus(spark),
                                    jpeg_backend="numpy")
    return knn(feats, qvec, k=KNN_K, metric="euclidean",
               vec_col="features", exclude_id="ppm_0",
               id_col="media_id", tie_col="media_id") \
        .select("media_id", F.round("distance", 4).alias("distance"))


# Video (r10): MJPEG elementary streams — concatenated baseline JPEG
# frames, split by a marker-accurate walk and decoded per-frame
# through the real codec. Grayscale block-constant frames (exact
# round-trip), so every per-frame stat is closed-form.
@q("media_video_frames", """
WITH g AS (SELECT range AS id FROM range(0, 18)),
d AS (SELECT id, (id % 3) + 2 AS nf FROM g),
f AS (SELECT id, unnest(range(0, nf)) AS fr FROM d)
SELECT 'vid_' || id AS media_id,
       CAST(fr AS BIGINT) AS frame_idx,
       CAST(16 AS BIGINT) AS width,
       CAST(16 AS BIGINT) AS height,
       ROUND(list_aggregate(list_transform(range(0, 4),
             k -> CAST((id*37 + fr*19 + k*11) % 251 AS DOUBLE)),
             'avg'), 4) AS mean_intensity
FROM f
""")
def media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.video import decode_video_frames, synth_mjpeg
    decoded = decode_video_frames(synth_mjpeg(spark, n=18))
    return decoded.filter(F.col("decoded")).select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.round("mean_intensity", 4).alias("mean_intensity"))


# Audio resample (r10): the audio twin of media_resize_ppm — sample-
# rate normalization by the same integer floor maps ((j*ns)//nd with
# nd = (ns*8000)//sr), re-encoded WAV re-entering the real decoder, so
# the whole resample -> re-encode -> re-decode loop sits under one
# value hash with exact-integer arithmetic.
@q("media_resample_wav", """
WITH g AS (SELECT range AS id FROM range(0, 24)),
d AS (SELECT id, ((id % 4) + 1) * 50 AS ns, 8000 + (id % 3) * 4000 AS sr
      FROM g),
r AS (SELECT id, ns, (ns * 8000) // sr AS nd FROM d)
SELECT 'wav_' || id AS media_id,
       CAST(nd AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       ROUND(list_aggregate(list_transform(range(0, nd),
             j -> CAST((id*1009 + ((j*ns)//nd)*757) % 30011 AS DOUBLE)),
             'avg'), 4) AS mean_amplitude
FROM r
""")
def media_resample_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.media import decode_audio, resample_audio, synth_wav
    resampled = resample_audio(synth_wav(spark, n=24), target_rate=8000)
    return decode_audio(resampled).select(
        "media_id",
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.round("mean_amplitude", 4).alias("mean_amplitude"))


# Image batch similarity join (r10): the media embedding composed
# with the exact batch knn-join tier — for every query image its k
# nearest corpus images by integer-exact L2 over the grid cells
# (broadcast queries, per-partition local top-k, one merge shuffle).
@q("knn_join_image_batch", f"""
WITH g AS (SELECT range AS id FROM range(0, {_DHASH_N})),
lums AS (
  SELECT 'ppm_' || id AS media_id, {_ahash_lums_sql(None)} AS gl FROM g
  UNION ALL
  SELECT 'ppmB_' || id AS media_id,
         {_ahash_lums_sql(_DHASH_BUMP)} AS gl FROM g
),
q AS (SELECT media_id AS query_id, gl AS qv FROM lums
      WHERE media_id IN ('ppm_0', 'ppm_5', 'ppmB_3')),
s AS (SELECT q.query_id, l.media_id,
             SQRT(CAST(list_aggregate(list_transform(range(0, 64),
                  i -> (l.gl[i+1] - q.qv[i+1]) * (l.gl[i+1] - q.qv[i+1])),
                  'sum') AS DOUBLE)) AS dist
      FROM lums l CROSS JOIN q)
SELECT query_id, media_id, ROUND(dist, 4) AS distance
FROM s
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY dist, media_id) <= 3
""")
def knn_join_image_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.imagedup import grid_luminance_features
    from .operators.knn import knn_join
    feats = grid_luminance_features(_dhash_corpus(spark),
                                    jpeg_backend="numpy") \
        .localCheckpoint(eager=False)
    queries = feats.filter(
        F.col("media_id").isin("ppm_0", "ppm_5", "ppmB_3")).select(
        F.col("media_id").alias("query_id"),
        F.col("features").alias("query_vec"))
    return knn_join(queries, feats, k=3, metric="euclidean",
                    corpus_id_col="media_id",
                    corpus_vec_col="features").select(
        "query_id", "media_id",
        F.round("distance", 4).alias("distance"))


# ---------------------------------------------------------------------------
# Audio fingerprint dedup (r10): frame-energy sign-bit fingerprint
# over the REAL WAV decode, banded through the hash-agnostic verifier
# (operators/audiodup.py). Frame boundaries are integer floor maps and
# energies exact integer sums, so the oracle replays all 64 bits from
# synth_wav's closed-form sample formula; empty frames (short clips)
# COALESCE to energy 0 exactly like the cumsum path.
# ---------------------------------------------------------------------------


def _wav_energies_sql(bump: tuple[int, int] | None) -> str:
    """65-frame energy list for a synth_wav clip — closed-form in
    (id, ns); empty frames COALESCE to 0 like the cumsum path."""
    bump_t = (f" + CASE WHEN j = {bump[0]} THEN {bump[1]} ELSE 0 END"
              if bump else "")
    return ("list_transform(range(0, 65), k -> COALESCE("
            "list_aggregate(list_transform(range((k*ns)//65, ((k+1)*ns)//65),"
            f" j -> (id*1009 + j*757{bump_t}) % 30011), 'sum'), 0))")


def _wav_fp_bits_sql(bump: tuple[int, int] | None) -> str:
    """(bits LIST) expression for a synth_wav clip: 65 frame energies
    -> 64 adjacent-comparison bits, all closed-form in (id, ns)."""
    en = _wav_energies_sql(bump)
    return (f"list_transform(range(0, 64), k -> CASE WHEN "
            f"{en}[k+1] > {en}[k+2] THEN 1 ELSE 0 END)")


_WAV_FP_N, _WAV_FP_BUMP = 16, (0, 5000)


def _wav_fp_corpus(spark: SparkSession) -> DataFrame:
    from .operators.media import synth_wav
    base = synth_wav(spark, n=_WAV_FP_N)
    twin = synth_wav(spark, n=_WAV_FP_N, bump=_WAV_FP_BUMP,
                     id_prefix="wavB_")
    return base.unionByName(twin)


@q("media_audio_fp", f"""
WITH g AS (SELECT range AS id FROM range(0, {_WAV_FP_N})),
d AS (SELECT id, ((id % 4) + 1) * 50 AS ns FROM g),
clips AS (
  SELECT 'wav_' || id AS media_id, {_wav_fp_bits_sql(None)} AS bits FROM d
  UNION ALL
  SELECT 'wavB_' || id AS media_id,
         {_wav_fp_bits_sql(_WAV_FP_BUMP)} AS bits FROM d
),
imgs AS (SELECT media_id, bits FROM clips)
SELECT media_id, CAST({_DHASH_PACK} AS BIGINT) AS afp FROM imgs
""")
def media_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.audiodup import audio_fp
    return audio_fp(_wav_fp_corpus(spark)).select(
        "media_id", F.col("afp").cast("bigint").alias("afp"))


def _wav_energies_py(i: int) -> list[float]:
    """Python twin of _wav_energies_sql for a base synth_wav clip —
    the closed-form query vector (no collect)."""
    ns = (i % 4 + 1) * 50
    mag = [(i * 1009 + j * 757) % 30011 for j in range(ns)]
    cuts = [(k * ns) // 65 for k in range(66)]
    return [float(sum(mag[cuts[k]:cuts[k + 1]])) for k in range(65)]


# Audio similarity search (r10): the 65 frame energies UNTHRESHOLDED
# are the audio embedding (audiodup.energy_features — exact integer
# sums as DOUBLE), fed to the exact knn tier. L2 sums stay under 2^53
# so both engines compute identical float64 distances.
@q("knn_audio_topk", f"""
WITH g AS (SELECT range AS id FROM range(0, {_WAV_FP_N})),
d AS (SELECT id, ((id % 4) + 1) * 50 AS ns FROM g),
clips AS (
  SELECT 'wav_' || id AS media_id, {_wav_energies_sql(None)} AS en FROM d
  UNION ALL
  SELECT 'wavB_' || id AS media_id,
         {_wav_energies_sql(_WAV_FP_BUMP)} AS en FROM d
),
qv AS (SELECT en AS q FROM clips WHERE media_id = 'wav_0')
SELECT media_id, ROUND(dd, 4) AS distance FROM (
  SELECT media_id,
         SQRT(CAST(list_aggregate(list_transform(range(0, 65),
              i -> (en[i+1] - q[i+1]) * (en[i+1] - q[i+1])), 'sum')
              AS DOUBLE)) AS dd
  FROM clips, qv WHERE media_id != 'wav_0'
  ORDER BY dd ASC, media_id ASC LIMIT {KNN_K})
""")
def knn_audio_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.audiodup import energy_features
    qvec = _wav_energies_py(0)
    feats = energy_features(_wav_fp_corpus(spark))
    return knn(feats, qvec, k=KNN_K, metric="euclidean",
               vec_col="features", exclude_id="wav_0",
               id_col="media_id", tie_col="media_id") \
        .select("media_id", F.round("distance", 4).alias("distance"))


# Spectral-band fingerprint gate (r11): the Haitsma-Kalker tier's
# driver surface. The fp VALUES have no SQL oracle (float FFT —
# audiodup.py module comment documents why), so the hashed row is the
# scheme's defining derived statistic instead: fp(x) == fp(gain*x)
# for a power-of-two gain, exactly, clip by clip. Spark computes two
# real FFT fingerprints per clip and their Hamming distance; the
# oracle pins 0 for every decodable clip — same gate-as-query shape
# as events_dau_error_gate. Raw-value properties (retouch locality,
# resample robustness, determinism) are pytest-gated in
# test_audiodup.py.
@q("audio_fp_spectral", f"""
WITH g AS (SELECT range AS id FROM range(0, {_WAV_FP_N}))
SELECT 'wav_' || id AS media_id, CAST(0 AS BIGINT) AS gain_hamming FROM g
UNION ALL
SELECT 'wavB_' || id AS media_id, CAST(0 AS BIGINT) AS gain_hamming FROM g
""")
def audio_fp_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.audiodup import spectral_gain_check
    return spectral_gain_check(_wav_fp_corpus(spark), gain=0.5).select(
        "media_id",
        F.col("gain_hamming").cast("bigint").alias("gain_hamming"))


@q("dedup_audio_fp", f"""
WITH g AS (SELECT range AS id FROM range(0, {_WAV_FP_N})),
d AS (SELECT id, ((id % 4) + 1) * 50 AS ns FROM g),
imgs AS (
  SELECT 'wav_' || id AS media_id, {_wav_fp_bits_sql(None)} AS bits FROM d
  UNION ALL
  SELECT 'wavB_' || id AS media_id,
         {_wav_fp_bits_sql(_WAV_FP_BUMP)} AS bits FROM d
),
banded AS (
  SELECT media_id, bits, b.range AS band,
         {" + ".join(f"bits[16*b.range + {i + 1}]*{1 << i}"
                     for i in range(16))} AS bval
  FROM imgs, range(0, 4) b
),
cand AS (
  SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bval = y.bval AND x.media_id < y.media_id
),
ham AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_filter(range(0, 64),
              i -> a.bits[i + 1] != b.bits[i + 1])) AS BIGINT) AS hamming
  FROM cand c
  JOIN imgs a ON a.media_id = c.id_a
  JOIN imgs b ON b.media_id = c.id_b
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
""")
def dedup_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # decode -> fingerprint -> banded buckets -> xor/popcount verify;
    # one shuffle of (id, 64-bit fingerprint) rows
    from .operators.audiodup import audio_dup_pairs
    return audio_dup_pairs(_wav_fp_corpus(spark), bands=4,
                           max_hamming=3) \
        .select("id_a", "id_b", F.col("hamming").cast("bigint")
                .alias("hamming"))


# ---------------------------------------------------------------------------
# Video fingerprint dedup (r11, VERDICT r10 Next #3): per-frame dHash
# over the real MJPEG split + JPEG decode, rotate-XOR folded into an
# order-sensitive 64-bit sequence fingerprint, banded through the
# hash-agnostic verifier (operators/videodup.py). The corpus uses
# frame_w=32/block_step=125 (see synth_mjpeg docstring) so per-frame
# dHashes carry 6 live ~50/50 comparisons; with 16x16 frames they
# collapse to 2 near-always-zero bits and everything cross-collides.
# Every fingerprint bit is closed-form in (id, frame, block): dHash
# bit (r, c) is live only where the sample grid crosses a block
# boundary (c in {2,4,6}), comparing block k vs k+1 with
# k = 4*(r>=4) + (c-2)/2; the fold XORs frame f's bits rotated left
# by f. The bump retouches ONE block of ONE frame — the one-retouch
# near-dup fixture (hamming 4 for ids where the comparison flips).
# ---------------------------------------------------------------------------

_VFP_N, _VFP_STEP, _VFP_FSTEP, _VFP_BUMP = 18, 125, 131, (0, 0, 100)


def _vfp_bits_sql(bump: tuple[int, int, int] | None) -> str:
    """64 sequence-fingerprint bits for a synth_mjpeg(frame_w=32,
    block_step=125, frame_step=131) clip — closed-form in (id, nf)."""
    def v(ke: str) -> str:
        d = (f" + CASE WHEN f = {bump[0]} AND ({ke}) = {bump[1]} "
             f"THEN {bump[2]} ELSE 0 END" if bump else "")
        return f"((id*37 + f*{_VFP_FSTEP} + ({ke})*{_VFP_STEP}{d}) % 251)"
    j = "((((pos - f) % 64) + 64) % 64)"
    k = f"(CASE WHEN {j} < 32 THEN 0 ELSE 4 END + ({j} % 8 - 2) // 2)"
    fb = (f"CASE WHEN {j} % 8 IN (2, 4, 6) THEN "
          f"(CASE WHEN {v(k)} > {v(f'{k} + 1')} THEN 1 ELSE 0 END) "
          f"ELSE 0 END")
    return (f"list_transform(range(0, 64), pos -> "
            f"list_aggregate(list_transform(range(0, nf), f -> {fb}), "
            f"'sum') % 2)")


def _vfp_corpus(spark: SparkSession) -> DataFrame:
    from .operators.video import synth_mjpeg
    base = synth_mjpeg(spark, n=_VFP_N, frame_w=32, block_step=_VFP_STEP,
                       frame_step=_VFP_FSTEP)
    twin = synth_mjpeg(spark, n=_VFP_N, frame_w=32, block_step=_VFP_STEP,
                       frame_step=_VFP_FSTEP, bump=_VFP_BUMP,
                       id_prefix="vidB_")
    return base.unionByName(twin)


@q("media_video_fp", f"""
WITH g AS (SELECT range AS id FROM range(0, {_VFP_N})),
d AS (SELECT id, (id % 3) + 2 AS nf FROM g),
imgs AS (
  SELECT 'vid_' || id AS media_id, {_vfp_bits_sql(None)} AS bits FROM d
  UNION ALL
  SELECT 'vidB_' || id AS media_id,
         {_vfp_bits_sql(_VFP_BUMP)} AS bits FROM d
)
SELECT media_id, CAST({_DHASH_PACK} AS BIGINT) AS vfp FROM imgs
""")
def media_video_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split -> per-frame real decode -> dHash -> rotate-XOR fold
    from .operators.videodup import video_fp
    return video_fp(_vfp_corpus(spark)).select(
        "media_id", F.col("vfp").cast("bigint").alias("vfp"))


# Video similarity search (r11): the third modality joins the
# knn/ANN tiers (image r10: grid-luminance; audio r10: frame
# energies). Embedding = the integer grid-luminance cells of three
# ANCHOR frames (first, middle, last), concatenated — fixed 192-dim
# regardless of clip length, coarse temporal order retained, every
# cell closed-form so the oracle value-hashes split -> decode ->
# embed -> knn end to end.
def _vfp_cells_sql(bump: tuple[int, int, int] | None) -> str:
    """192 anchor-frame grid cells for a synth_mjpeg(frame_w=32,
    block_step=125, frame_step=131) clip — closed-form in (id, nf).
    Dim x: anchor x//64 (frames 0, nf//2, nf-1), grid bit x%64 with
    block k = 4*(row>=4) + col//2, cell = 3*luma (gray channels)."""
    fx = "(CASE x // 64 WHEN 0 THEN 0 WHEN 1 THEN nf // 2 ELSE nf - 1 END)"
    kx = "(CASE WHEN (x % 64) // 8 < 4 THEN 0 ELSE 4 END + ((x % 64) % 8) // 2)"
    d = (f" + CASE WHEN {fx} = {bump[0]} AND {kx} = {bump[1]} "
         f"THEN {bump[2]} ELSE 0 END" if bump else "")
    return (f"list_transform(range(0, 192), x -> 3 * ((id*37 + "
            f"{fx}*{_VFP_FSTEP} + {kx}*{_VFP_STEP}{d}) % 251))")


def _vfp_cells_py(i: int) -> list[float]:
    """Python twin of _vfp_cells_sql for a base clip — the
    closed-form query vector (no collect)."""
    nf = i % 3 + 2
    cells = []
    for a in (0, nf // 2, nf - 1):
        for b in range(64):
            r, c = divmod(b, 8)
            k = (0 if r < 4 else 4) + c // 2
            cells.append(float(3 * ((i * 37 + a * _VFP_FSTEP
                                     + k * _VFP_STEP) % 251)))
    return cells


@q("knn_video_topk", f"""
WITH g AS (SELECT range AS id FROM range(0, {_VFP_N})),
d AS (SELECT id, (id % 3) + 2 AS nf FROM g),
clips AS (
  SELECT 'vid_' || id AS media_id, {_vfp_cells_sql(None)} AS en FROM d
  UNION ALL
  SELECT 'vidB_' || id AS media_id,
         {_vfp_cells_sql(_VFP_BUMP)} AS en FROM d
),
qv AS (SELECT en AS q FROM clips WHERE media_id = 'vid_0')
SELECT media_id, ROUND(dd, 4) AS distance FROM (
  SELECT media_id,
         SQRT(CAST(list_aggregate(list_transform(range(0, 192),
              i -> (en[i+1] - q[i+1]) * (en[i+1] - q[i+1])), 'sum')
              AS DOUBLE)) AS dd
  FROM clips, qv WHERE media_id != 'vid_0'
  ORDER BY dd ASC, media_id ASC LIMIT {KNN_K})
""")
def knn_video_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.videodup import video_grid_features
    qvec = _vfp_cells_py(0)
    feats = video_grid_features(_vfp_corpus(spark))
    return knn(feats, qvec, k=KNN_K, metric="euclidean",
               vec_col="features", exclude_id="vid_0",
               id_col="media_id", tie_col="media_id") \
        .select("media_id", F.round("distance", 4).alias("distance"))


@q("dedup_video_fp", f"""
WITH g AS (SELECT range AS id FROM range(0, {_VFP_N})),
d AS (SELECT id, (id % 3) + 2 AS nf FROM g),
imgs AS (
  SELECT 'vid_' || id AS media_id, {_vfp_bits_sql(None)} AS bits FROM d
  UNION ALL
  SELECT 'vidB_' || id AS media_id,
         {_vfp_bits_sql(_VFP_BUMP)} AS bits FROM d
),
banded AS (
  SELECT media_id, bits, b.range AS band,
         {" + ".join(f"bits[8*b.range + {i + 1}]*{1 << i}"
                     for i in range(8))} AS bval
  FROM imgs, range(0, 8) b
),
cand AS (
  SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bval = y.bval AND x.media_id < y.media_id
),
ham AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_filter(range(0, 64),
              i -> a.bits[i + 1] != b.bits[i + 1])) AS BIGINT) AS hamming
  FROM cand c
  JOIN imgs a ON a.media_id = c.id_a
  JOIN imgs b ON b.media_id = c.id_b
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 7
""")
def dedup_video_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 8x8-bit bands (not the image 4x16): a one-frame retouch already
    # moves 4 fp bits on block-constant frames, so the Hamming budget
    # must cover a full retouch while keeping max_hamming < bands
    from .operators.videodup import video_dup_pairs
    return video_dup_pairs(_vfp_corpus(spark), bands=8, max_hamming=7) \
        .select("id_a", "id_b", F.col("hamming").cast("bigint")
                .alias("hamming"))


# ---------------------------------------------------------------------------
# Flagship composite: the full training-corpus cleaning pipeline.
# quality filter -> exact dedup (keep lowest id) -> MinHash-LSH
# near-dup removal (drop the higher id of each verified pair >= 0.5).
# Every stage is replicated in the oracle, so the END-TO-END pipeline
# is hash-checked, not just its pieces.
# ---------------------------------------------------------------------------

def _clean_pipeline_oracle(q_threshold: float = 0.6, num_perm: int = 8,
                           bands: int = 4, k: int = 3,
                           j_threshold: float = 0.5,
                           max_bucket: int | None = None) -> str:
    r = num_perm // bands
    mins = ", ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}:' || s)), 'min')"
        for i in range(num_perm))
    band_key = " || '|' || ".join(["CAST(b AS VARCHAR)"]
                                  + [f"sig[{r}*b + {i} + 1]" for i in range(r)])
    stops = _dd_stoplist("en")
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
), t AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN 0 ELSE len({_DD_TOKS}) END AS n_tok,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         len(list_filter({_DD_TOKS}, x -> list_contains({stops}, x))) AS stop_hits
  FROM corpus
), scored AS (
  SELECT doc_id, text,
    0.4 * least(n_tok / 20.0, 1.0)
  + 0.2 * (CASE WHEN n_tok > 0 AND CAST(n_chars AS DOUBLE) / n_tok >= 3.0
                 AND CAST(n_chars AS DOUBLE) / n_tok <= 10.0 THEN 1.0 ELSE 0.5 END)
  + 0.2 * least((CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) * 20.0, 1.0)
  + 0.2 * least((CASE WHEN n_tok > 0 THEN CAST(stop_hits AS DOUBLE) / n_tok ELSE 0.0 END) * 4.0, 1.0)
    AS quality
  FROM t
), kept AS (
  SELECT doc_id, text, quality FROM scored WHERE quality >= {q_threshold}
), fp AS (
  SELECT doc_id, text, quality, md5({_DD_NORM}) AS f FROM kept
), keep1 AS (
  SELECT min(doc_id) AS doc_id FROM fp GROUP BY f
), dedup AS (
  SELECT fp.doc_id, fp.text, fp.quality FROM fp JOIN keep1 USING (doc_id)
), s AS (
  SELECT doc_id, {_dd_shingles(k)} AS sh FROM dedup
), sig AS (
  SELECT doc_id, sh, [{mins}] AS sig FROM s
), bands_t AS (
  SELECT doc_id, unnest(list_transform(range(0, {bands}), b -> {band_key})) AS band
  FROM sig
){'''
, bstat AS (SELECT band, COUNT(*) AS n, MIN(doc_id) AS m
            FROM bands_t GROUP BY band)''' if max_bucket is not None else ''}
, pairs AS ({f'''
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands_t a JOIN bands_t b ON a.band = b.band AND a.doc_id < b.doc_id
    JOIN bstat ON bstat.band = a.band
    WHERE bstat.n <= {max_bucket}
    UNION ALL
    SELECT bstat.m AS id_a, b.doc_id AS id_b
    FROM bands_t b JOIN bstat ON bstat.band = b.band
    WHERE bstat.n > {max_bucket} AND b.doc_id > bstat.m)''' if max_bucket is not None else '''
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands_t a JOIN bands_t b ON a.band = b.band AND a.doc_id < b.doc_id'''}
), verified AS (
  SELECT id_a, id_b FROM pairs
  JOIN s sa ON sa.doc_id = pairs.id_a
  JOIN s sb ON sb.doc_id = pairs.id_b
  WHERE (CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) = 0 THEN 1.0
         ELSE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.sh, sb.sh))) END) >= {j_threshold}
)
SELECT doc_id, ROUND(quality, 4) AS quality
FROM dedup WHERE doc_id NOT IN (SELECT id_b FROM verified)
"""


@q("corpus_clean_pipeline", _clean_pipeline_oracle(max_bucket=64))
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import text_stats_struct
    from .operators.dedup import exact_dedup, minhash_lsh_pairs
    d = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    clones = d.filter(F.col("doc_id") % 50 == 0) \
        .withColumn("doc_id", F.col("doc_id") + 100000)
    corpus = d.unionByName(clones)
    kept = corpus.withColumn("quality",
                             text_stats_struct(F.col("text"))["quality"]) \
        .filter(F.col("quality") >= 0.6)
    # The deduped corpus feeds three consumers (LSH banding, Jaccard
    # verification, survivor anti-join): materialize it once instead of
    # recomputing the quality scan per branch — at scale this is the
    # "write the filtered corpus" checkpoint every cleaning pipeline has.
    # localCheckpoint, not persist(): the blocks are released when the
    # result DataFrame is dropped, so repeated workload queries in one
    # session don't accumulate cached partitions.
    deduped = exact_dedup(kept).localCheckpoint(eager=False)
    losers = minhash_lsh_pairs(deduped, num_perm=8, bands=4, shingle_k=3,
                               threshold=0.5, max_bucket=64) \
        .select(F.col("id_b").alias("doc_id")).distinct()
    return deduped.join(losers, "doc_id", "left_anti") \
        .select("doc_id", F.round("quality", 4).alias("quality"))


# Distinct aggregation (2-shuffle expand plan in Spark; the classic
# daily-active-users rollup).
@q("events_daily_active", """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1
""")
def events_daily_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.countDistinct("user_id").alias("dau"),
                 F.count("*").alias("n_events")))


# Semi-structured props: JSON path extraction inside the aggregation.
@q("events_props_extract", """
SELECT event_type,
       CAST(SUM(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
       CAST(COUNT(json_extract(props, '$.k')) AS BIGINT) AS n_with_k
FROM events GROUP BY event_type
""")
def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (e.groupBy("event_type")
            .agg(F.sum(k).alias("sum_k"),
                 F.count(k).alias("n_with_k")))


# TPC-H Q3-shaped: selective date predicates (pushed to both scans) +
# 3-way join + ranked top-10.
@q("shipping_priority", """
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1998-06-01'
  AND l_shipdate  > DATE '1998-06-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
""")
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-06-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-06-01")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .groupBy("l_orderkey", "o_orderdate")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("revenue"))
            .select("l_orderkey", "revenue",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
            .limit(10))


# Video frame-sampling plan: pure Column explode over synthetic media
# (both engines re-derive the deterministic duration).
@q("media_frame_sample", """
WITH g AS (SELECT range AS id FROM range(0, 100)),
v AS (SELECT 'video_' || id AS media_id,
             (id % 30) * 1000 + 1000 AS duration_ms
      FROM g)
SELECT media_id, CAST(duration_ms AS BIGINT) AS duration_ms,
       CAST(unnest(range(0, duration_ms, 1000)) AS BIGINT) AS frame_ms
FROM v
""")
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.media import frame_sample, synth_media
    frames = frame_sample(synth_media(spark, n=100, modality="video"),
                          every_ms=1000)
    return frames.select("media_id",
                         F.col("duration_ms").cast("bigint").alias("duration_ms"),
                         F.col("frame_ms").cast("bigint").alias("frame_ms"))


# Multi-resolution rollup in ONE pass (grouping sets => single
# shuffle for all resolutions; the continuous-aggregate pattern).
@q("events_multi_rollup", """
SELECT * FROM (
  SELECT CASE WHEN hb IS NOT NULL THEN 'hour' ELSE 'day' END AS resolution,
         COALESCE(hb, db) AS bucket_epoch, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(SUM(value), 2) AS sum_value
  FROM (SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS hb,
               CAST(epoch(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS db,
               event_type, value
        FROM events)
  GROUP BY GROUPING SETS ((hb, event_type), (db, event_type))
) WHERE bucket_epoch IS NOT NULL
""")
def events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rollup import multi_rollup
    return multi_rollup(_t(spark, sf_dir, "events"),
                        resolutions=["hour", "day"])


# Exact percentiles per event type (Spark `percentile` and DuckDB
# `quantile_cont` both use linear interpolation on the sorted set).
@q("events_value_percentiles", """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4)  AS p50,
       ROUND(quantile_cont(value, 0.9), 4)  AS p90,
       ROUND(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
""")
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (e.groupBy("event_type")
            .agg(F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
                 F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
                 F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99")))


# Approx-percentile error gate — same pattern as events_dau_error_gate:
# the sketch itself can't hash-match another engine, so the guarantee is
# asserted INSIDE the query. approx_percentile's rank error is <=
# 1/accuracy (default 1e-4 of N); requiring the approx p50/p90 to land
# between the exact p45..p55 / p88..p92 values is a ~500x-margin bound —
# stable, not flaky — and the oracle answers TRUE unconditionally, so a
# sketch drifting outside it fails the driver's value hash.
@q("events_value_percentiles_gate", """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.9), 4) AS p90,
       TRUE AS p50_in_rank_band, TRUE AS p90_in_rank_band
FROM events GROUP BY event_type
""")
def events_value_percentiles_gate(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("__p50"),
        F.expr("percentile(value, 0.9)").alias("__p90"),
        F.expr("percentile(value, 0.45)").alias("__p45"),
        F.expr("percentile(value, 0.55)").alias("__p55"),
        F.expr("percentile(value, 0.88)").alias("__p88"),
        F.expr("percentile(value, 0.92)").alias("__p92"),
        F.expr("approx_percentile(value, 0.5)").alias("__a50"),
        F.expr("approx_percentile(value, 0.9)").alias("__a90"))
    return agg.select(
        "event_type",
        F.round("__p50", 4).alias("p50"), F.round("__p90", 4).alias("p90"),
        F.col("__a50").between(F.col("__p45"), F.col("__p55"))
        .alias("p50_in_rank_band"),
        F.col("__a90").between(F.col("__p88"), F.col("__p92"))
        .alias("p90_in_rank_band"))


# ---------------------------------------------------------------------------
# Batch similarity join (SURVEY §2.3: THE join capability to generalize)
# ---------------------------------------------------------------------------

@q("knn_join_batch", f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id IN (1, 2, 3, 4, 5)),
s AS (SELECT q.query_id, e.vec_id,
             list_distance(CAST(e.embedding AS DOUBLE[]), q.qv) AS dist
      FROM embeddings e CROSS JOIN q)
SELECT query_id, vec_id, ROUND(dist, 4) AS distance
FROM s
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) <= 5
""")
def knn_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.knn import knn_join
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id").isin(1, 2, 3, 4, 5)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    return knn_join(queries, e, k=5, metric="euclidean").select(
        "query_id", "vec_id", F.round("distance", 4).alias("distance"))


# Join-tier chooser (operators/chooser.knn_join_auto): 5 queries x a
# small corpus routes to the exact-broadcast tier, so the exact join
# oracle applies verbatim; the IVF routes are exercised (and
# plan-checked) in tests/test_chooser.py.
@q("knn_join_auto_batch", f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id IN (1, 2, 3, 4, 5)),
s AS (SELECT q.query_id, e.vec_id,
             list_distance(CAST(e.embedding AS DOUBLE[]), q.qv) AS dist
      FROM embeddings e CROSS JOIN q)
SELECT query_id, vec_id, ROUND(dist, 4) AS distance
FROM s
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) <= 5
""")
def knn_join_auto_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.chooser import knn_join_auto
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id").isin(1, 2, 3, 4, 5)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    plan, res = knn_join_auto(queries, e, k=5, metric="euclidean")
    assert plan.tier == "exact-broadcast", plan
    return res.select("query_id", "vec_id",
                      F.round("distance", 4).alias("distance"))


# IVF-accelerated batch similarity join with a FULL value oracle:
# deterministic centroids (smallest md5(vec_id)) let DuckDB replay the
# corpus cluster assignment, each query's nprobe probe selection, the
# cluster equi-join, and the per-query ranked top-k. The Spark plan is
# a broadcast hash EQUI-join on the cluster id (plan-asserted) — the
# scale path that replaces knn_join's nested-loop at 100 TB.
def _knn_join_ivf_oracle(n_centroids: int | None = 8, nprobe: int = 3,
                         k: int = 5,
                         where: str = "WHERE vec_id IN (1, 2, 3, 4, 5)"
                         ) -> str:
    # n_centroids=None replays the Spark side's ivf_nlist auto-sizing
    # (GREATEST(8, FLOOR(4*sqrt(count))) — the one chooser rule), for
    # the all-anchors regimes where a pinned nlist is an N^2 cliff.
    eu = ("sqrt(list_sum(list_transform(list_zip({x}, c), "
          "pr -> (pr[1]-pr[2])*(pr[1]-pr[2]))))")
    nc = (str(n_centroids) if n_centroids is not None
          else "(SELECT GREATEST(8, CAST(FLOOR(4 * SQRT(COUNT(*))) AS INT))"
               " FROM e)")
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT v, h, vec_id
         FROM (SELECT v, md5(CAST(vec_id AS VARCHAR)) AS h, vec_id FROM e)
         QUALIFY row_number() OVER (ORDER BY h, vec_id) <= {nc}),
cents AS (SELECT list(v ORDER BY h, vec_id) AS cs FROM cent),
assigned AS (
  SELECT vec_id, v, list_position(ds, list_min(ds)) - 1 AS cluster
  FROM (SELECT vec_id, v,
          list_transform((SELECT cs FROM cents), c -> {eu.format(x='v')}) AS ds
        FROM e)),
qs AS (SELECT vec_id AS query_id, v AS qv,
              list_transform((SELECT cs FROM cents),
                             c -> {eu.format(x='v')}) AS ds
       FROM e {where}),
probes AS (
  SELECT query_id, qv, i - 1 AS cluster
  FROM (SELECT query_id, qv, unnest(ds) AS d,
               generate_subscripts(ds, 1) AS i FROM qs)
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d, i) <= {nprobe}),
cand AS (
  SELECT p.query_id, a.vec_id,
         sqrt(list_sum(list_transform(list_zip(a.v, p.qv),
              pr -> (pr[1]-pr[2])*(pr[1]-pr[2])))) AS dist
  FROM assigned a JOIN probes p USING (cluster))
SELECT query_id, vec_id, ROUND(dist, 4) AS distance
FROM cand
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) <= {k}
"""


@q("knn_join_ivf_batch", _knn_join_ivf_oracle())
def knn_join_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import IvfIndex
    from .operators.knn import knn_join_ivf
    e = _t(spark, sf_dir, "embeddings")
    idx = IvfIndex.build_deterministic(e, n_centroids=8)
    queries = e.filter(F.col("vec_id").isin(1, 2, 3, 4, 5)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    return knn_join_ivf(queries, idx, k=5, nprobe=3,
                        metric="euclidean").select(
        "query_id", "vec_id", F.round("distance", 4).alias("distance"))


# LSH ANN with a FULL value oracle: hyperplane coefficients derive
# from md5 (ann.hyperplanes), so DuckDB recomputes the identical
# signatures, the identical multiprobe candidate set (Hamming ball via
# xor/bit_count), and the identical ranked top-k.
def _ann_lsh_oracle(n_planes: int = 6, multiprobe: int = 2) -> str:
    dots = ",\n         ".join(
        f"list_sum(list_transform(range(1, len(v) + 1), j -> v[j] * "
        f"(('0x' || substr(md5('42:{i}:' || (j - 1)), 1, 8))::BIGINT"
        f" / 2147483648.0 - 1.0))) AS d{i}"
        for i in range(n_planes))
    sig = " + ".join(f"(CASE WHEN d{i} > 0 THEN {1 << i} ELSE 0 END)"
                     for i in range(n_planes))
    cos = _ORACLE_DIST["cosine"].replace("a, a", "v, v").replace("a, q", "v, q") \
        .replace("(a,", "(v,")
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d AS (SELECT vec_id, label, v,
         {dots}
      FROM e),
s AS (SELECT vec_id, label, v, CAST({sig} AS BIGINT) AS sig FROM d),
qrow AS (SELECT v AS q, sig AS qsig FROM s WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT vec_id, label, {cos} AS dist
  FROM s, qrow WHERE bit_count(xor(sig, qsig)) <= {multiprobe})
SELECT vec_id, label, ROUND(dist, 4) AS distance
FROM cand ORDER BY dist ASC, vec_id ASC LIMIT {KNN_K}
"""


@q("ann_lsh_topk", _ann_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.distance import cosine
    from .operators.ann import LshIndex
    from .operators.knn import lookup_vector
    e = _t(spark, sf_dir, "embeddings")
    qvec = lookup_vector(e, "vec_id", QUERY_VEC_ID)
    idx = LshIndex.build(e, n_planes=6)
    cands = idx.candidates(qvec, multiprobe=2)
    # vec_id tiebreak matches the oracle's total order
    return (cands.withColumn("distance",
                             cosine(F.col("embedding"),
                                    F.lit(qvec).cast("array<double>")))
            .orderBy(F.col("distance").asc_nulls_last(), F.col("vec_id").asc())
            .limit(KNN_K)
            .select("vec_id", "label", F.round("distance", 4).alias("distance")))


# Deterministic IVF with a FULL value oracle: centroids are the 8
# corpus vectors with smallest md5(vec_id) (IvfIndex.build_deterministic),
# so DuckDB reproduces the identical centroid set, cluster assignment,
# probe selection, and ranked top-k.
def _ann_ivf_det_oracle(n_centroids: int = 8, nprobe: int = 3) -> str:
    # cap: oracle twin replays the QUERY-side pinned demo layout
    cos = _ORACLE_DIST["cosine"].replace("a, a", "v, v").replace("a, q", "v, q") \
        .replace("(a,", "(v,")
    eu = "sqrt(list_sum(list_transform(list_zip({x}, c), p -> (p[1]-p[2])*(p[1]-p[2]))))"
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT v, md5(CAST(vec_id AS VARCHAR)) AS h, vec_id
         FROM e ORDER BY h, vec_id LIMIT {n_centroids}),
cents AS (SELECT list(v ORDER BY h, vec_id) AS cs FROM cent),
assigned AS (
  SELECT vec_id, label, v, list_position(ds, list_min(ds)) - 1 AS cluster
  FROM (SELECT vec_id, label, v,
          list_transform((SELECT cs FROM cents), c -> {eu.format(x='v')}) AS ds
        FROM e)),
qv AS (SELECT v AS q FROM e WHERE vec_id = {QUERY_VEC_ID}),
qds AS (SELECT list_transform(cs, c -> {eu.format(x='q')}) AS ds FROM cents, qv),
probes AS (
  SELECT i - 1 AS cluster
  FROM (SELECT unnest(ds) AS d, generate_subscripts(ds, 1) AS i FROM qds)
  ORDER BY d, i LIMIT {nprobe}),
cand AS (
  SELECT a.vec_id, a.label, {cos} AS dist
  FROM assigned a JOIN probes p USING (cluster), qv)
SELECT vec_id, label, ROUND(dist, 4) AS distance
FROM cand ORDER BY dist ASC, vec_id ASC LIMIT {KNN_K}
"""


@q("ann_ivf_det_topk", _ann_ivf_det_oracle())
def ann_ivf_det_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.distance import cosine
    from .operators.ann import IvfIndex
    from .operators.knn import lookup_vector
    e = _t(spark, sf_dir, "embeddings")
    qvec = lookup_vector(e, "vec_id", QUERY_VEC_ID)
    idx = IvfIndex.build_deterministic(e, n_centroids=8)
    cands = idx.candidates(qvec, nprobe=3)
    return (cands.withColumn("distance",
                             cosine(F.col("embedding"),
                                    F.lit(qvec).cast("array<double>")))
            .orderBy(F.col("distance").asc_nulls_last(), F.col("vec_id").asc())
            .limit(KNN_K)
            .select("vec_id", "label", F.round("distance", 4).alias("distance")))


# Radius (range) search, pruned tier (operators/knn.range_search +
# IvfIndex.range_search): every vector within r of the query. The
# index tier prunes clusters by the triangle inequality
# (d(q, centroid) > r + covering radius => cluster skipped), which is
# EXACT — so the oracle is plain brute force, and a hash match proves
# the pruning loses nothing.
_RANGE_R = 1.28


@q("range_search_pruned", f"""
WITH qv AS (
  SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
  WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label, ROUND(list_distance(CAST(embedding AS DOUBLE[]), q), 4)
         AS distance
FROM embeddings, qv
WHERE list_distance(CAST(embedding AS DOUBLE[]), q) <= {_RANGE_R}
""")
def range_search_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import IvfIndex
    from .operators.knn import lookup_vector
    e = _t(spark, sf_dir, "embeddings")
    qvec = lookup_vector(e, "vec_id", QUERY_VEC_ID)
    idx = IvfIndex.build_deterministic(e, n_centroids=8)
    # materialize the assignment once (the loaded-index shape: a saved
    # IVF layout has clusters on disk): the covering-radius pass and
    # the candidate scan otherwise each re-run the 8-centroid assign
    # expression over the corpus — measured 1.6x at the 10x point
    idx.table = idx.table.localCheckpoint(eager=True)
    return idx.range_search(qvec, _RANGE_R) \
        .select("vec_id", "label", F.round("distance", 4).alias("distance"))


# PQ with a FULL value oracle: codebooks are subvector slices of the
# ks corpus vectors with smallest md5(vec_id) (PqCodec.fit_deterministic),
# so DuckDB reproduces codebooks, per-row codes (argmin), the query's
# ADC lookup table, and the identical compressed-domain ranking. The
# scan side of this query reads only the m code bytes per row — the
# 100 TB layout (operators/pq.py).
def _ann_pq_oracle(m: int = 4, ks: int = 8) -> str:
    # subvector width derives from the stored vector length (the
    # testdata dimension differs by scale factor), mirroring
    # PqCodec.fit_deterministic which infers dim from the corpus
    def subd(x: str, j: int) -> str:
        off = f"{j} * (len({x}) // {m})"
        return (f"list_sum(list_transform(range(1, len({x}) // {m} + 1), "
                f"i -> ({x}[{off} + i] - c[{off} + i]) * "
                f"({x}[{off} + i] - c[{off} + i])))")

    code_cols = ",\n    ".join(
        f"list_position(ds{j}, list_min(ds{j})) - 1 AS code{j}"
        for j in range(m))
    ds_cols = ",\n    ".join(
        f"list_transform((SELECT bs FROM books), c -> {subd('v', j)}) AS ds{j}"
        for j in range(m))
    qlut_cols = ",\n    ".join(
        f"list_transform((SELECT bs FROM books), c -> {subd('q', j)}) AS lut{j}"
        for j in range(m))
    adc = " + ".join(f"lut{j}[code{j} + 1]" for j in range(m))
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cb AS (SELECT v, md5(CAST(vec_id AS VARCHAR)) AS h, vec_id
       FROM e ORDER BY h, vec_id LIMIT {ks}),
books AS (SELECT list(v ORDER BY h, vec_id) AS bs FROM cb),
coded AS (
  SELECT vec_id, label,
    {code_cols}
  FROM (SELECT vec_id, label,
    {ds_cols}
        FROM e)),
qlut AS (
  SELECT
    {qlut_cols}
  FROM (SELECT v AS q FROM e WHERE vec_id = {QUERY_VEC_ID}))
SELECT vec_id, label, ROUND(sqrt({adc}), 4) AS distance
FROM coded, qlut
ORDER BY sqrt({adc}) ASC, vec_id ASC LIMIT {KNN_K}
"""


# IVF-PQ: the det-IVF oracle's cluster pruning composed with the PQ
# oracle's compressed-domain ranking — one SQL statement reproduces
# the entire billion-scale search pipeline (prune -> ADC -> top-k).
def _ann_ivfpq_oracle(n_centroids: int = 8, nprobe: int = 3,
                      m: int = 4, ks: int = 8) -> str:
    # cap: oracle twin replays the QUERY-side pinned demo layout
    eu = ("sqrt(list_sum(list_transform(list_zip({x}, c), "
          "p -> (p[1]-p[2])*(p[1]-p[2]))))")

    def subd(x: str, j: int) -> str:
        off = f"{j} * (len({x}) // {m})"
        return (f"list_sum(list_transform(range(1, len({x}) // {m} + 1), "
                f"i -> ({x}[{off} + i] - c[{off} + i]) * "
                f"({x}[{off} + i] - c[{off} + i])))")

    code_cols = ",\n    ".join(
        f"list_position(ds{j}, list_min(ds{j})) - 1 AS code{j}"
        for j in range(m))
    ds_cols = ",\n    ".join(
        f"list_transform((SELECT bs FROM books), c -> {subd('v', j)}) AS ds{j}"
        for j in range(m))
    qlut_cols = ",\n    ".join(
        f"list_transform((SELECT bs FROM books), c -> {subd('q', j)}) AS lut{j}"
        for j in range(m))
    adc = " + ".join(f"lut{j}[code{j} + 1]" for j in range(m))
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT v, md5(CAST(vec_id AS VARCHAR)) AS h, vec_id
         FROM e ORDER BY h, vec_id LIMIT {n_centroids}),
cents AS (SELECT list(v ORDER BY h, vec_id) AS cs FROM cent),
assigned AS (
  SELECT vec_id, label, list_position(ds, list_min(ds)) - 1 AS cluster
  FROM (SELECT vec_id, label,
          list_transform((SELECT cs FROM cents), c -> {eu.format(x='v')}) AS ds
        FROM e)),
qv AS (SELECT v AS q FROM e WHERE vec_id = {QUERY_VEC_ID}),
qds AS (SELECT list_transform(cs, c -> {eu.format(x='q')}) AS ds FROM cents, qv),
probes AS (
  SELECT i - 1 AS cluster
  FROM (SELECT unnest(ds) AS d, generate_subscripts(ds, 1) AS i FROM qds)
  ORDER BY d, i LIMIT {nprobe}),
cb AS (SELECT v, md5(CAST(vec_id AS VARCHAR)) AS h, vec_id
       FROM e ORDER BY h, vec_id LIMIT {ks}),
books AS (SELECT list(v ORDER BY h, vec_id) AS bs FROM cb),
coded AS (
  SELECT vec_id,
    {code_cols}
  FROM (SELECT vec_id,
    {ds_cols}
        FROM e)),
qlut AS (
  SELECT
    {qlut_cols}
  FROM qv)
SELECT a.vec_id, a.label, ROUND(sqrt({adc}), 4) AS distance
FROM assigned a JOIN probes p USING (cluster) JOIN coded USING (vec_id), qlut
ORDER BY sqrt({adc}) ASC, a.vec_id ASC LIMIT {KNN_K}
"""


# Compressed-domain batch join: the IVF-join oracle's per-query probe
# selection composed with the PQ oracle's codebooks/codes/ADC — DuckDB
# replays the entire batch pipeline (assign -> probe -> equi-join ->
# per-query LUT -> ADC ranking) for every query at once.
def _knn_join_ivfpq_oracle(n_centroids: int = 8, nprobe: int = 3,
                           m: int = 4, ks: int = 8, k: int = 5,
                           rerank: int = 0) -> str:
    # cap: oracle twin replays the QUERY-side pinned demo layout
    eu = ("sqrt(list_sum(list_transform(list_zip({x}, c), "
          "pr -> (pr[1]-pr[2])*(pr[1]-pr[2]))))")

    def subd(x: str, j: int) -> str:
        off = f"{j} * (len({x}) // {m})"
        return (f"list_sum(list_transform(range(1, len({x}) // {m} + 1), "
                f"i -> ({x}[{off} + i] - c[{off} + i]) * "
                f"({x}[{off} + i] - c[{off} + i])))")

    code_cols = ",\n    ".join(
        f"list_position(ds{j}, list_min(ds{j})) - 1 AS code{j}"
        for j in range(m))
    ds_cols = ",\n    ".join(
        f"list_transform((SELECT bs FROM books), c -> {subd('v', j)}) AS ds{j}"
        for j in range(m))
    qlut_cols = ",\n    ".join(
        f"list_transform((SELECT bs FROM books), c -> {subd('q', j)}) AS lut{j}"
        for j in range(m))
    adc = " + ".join(f"lut{j}[code{j} + 1]" for j in range(m))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT v, md5(CAST(vec_id AS VARCHAR)) AS h, vec_id
         FROM e ORDER BY h, vec_id LIMIT {n_centroids}),
cents AS (SELECT list(v ORDER BY h, vec_id) AS cs FROM cent),
assigned AS (
  SELECT vec_id, list_position(ds, list_min(ds)) - 1 AS cluster
  FROM (SELECT vec_id,
          list_transform((SELECT cs FROM cents), c -> {eu.format(x='v')}) AS ds
        FROM e)),
qs AS (SELECT vec_id AS query_id, v AS q,
              list_transform((SELECT cs FROM cents),
                             c -> {eu.format(x='v')}) AS ds
       FROM e WHERE vec_id IN (1, 2, 3, 4, 5)),
probes AS (
  SELECT query_id, i - 1 AS cluster
  FROM (SELECT query_id, unnest(ds) AS d,
               generate_subscripts(ds, 1) AS i FROM qs)
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d, i) <= {nprobe}),
cb AS (SELECT v, md5(CAST(vec_id AS VARCHAR)) AS h, vec_id
       FROM e ORDER BY h, vec_id LIMIT {ks}),
books AS (SELECT list(v ORDER BY h, vec_id) AS bs FROM cb),
coded AS (
  SELECT vec_id,
    {code_cols}
  FROM (SELECT vec_id,
    {ds_cols}
        FROM e)),
qlut AS (
  SELECT query_id,
    {qlut_cols}
  FROM qs),
cand AS (
  SELECT p.query_id, a.vec_id, sqrt({adc}) AS dist
  FROM assigned a JOIN probes p USING (cluster)
       JOIN coded USING (vec_id) JOIN qlut USING (query_id)){
'''
SELECT query_id, vec_id, ROUND(dist, 4) AS distance
FROM cand
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) <= ''' + str(k)
if not rerank else f'''
, short AS (
  SELECT query_id, vec_id FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY dist, vec_id) <= {rerank * k}),
exact AS (
  SELECT s.query_id, s.vec_id,
         sqrt(list_sum(list_transform(list_zip(e.v, qs.q),
              pr -> (pr[1]-pr[2])*(pr[1]-pr[2])))) AS dist
  FROM short s JOIN e USING (vec_id)
       JOIN qs ON qs.query_id = s.query_id)
SELECT query_id, vec_id, ROUND(dist, 4) AS distance
FROM exact
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) <= {k}'''}
"""


@q("knn_join_ivfpq_batch", _knn_join_ivfpq_oracle())
def knn_join_ivfpq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pq import IvfPqIndex, knn_join_ivfpq
    e = _t(spark, sf_dir, "embeddings")
    idx = IvfPqIndex.build_deterministic(e, n_centroids=8, m=4, ks=8)
    queries = e.filter(F.col("vec_id").isin(1, 2, 3, 4, 5)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    return knn_join_ivfpq(queries, idx, k=5, nprobe=3).select(
        "query_id", "vec_id", F.round("distance", 4).alias("distance"))


# The rerank stage of the compressed batch join under its own value
# oracle: top rerank*k ADC candidates per query re-scored with TRUE
# euclidean distances (only the shortlist touches raw vectors) — the
# oracle replays shortlist order, exact re-score, and final ranking.
@q("knn_join_ivfpq_rerank_batch", _knn_join_ivfpq_oracle(rerank=2))
def knn_join_ivfpq_rerank_batch(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from .operators.pq import IvfPqIndex, knn_join_ivfpq
    e = _t(spark, sf_dir, "embeddings")
    idx = IvfPqIndex.build_deterministic(e, n_centroids=8, m=4, ks=8)
    queries = e.filter(F.col("vec_id").isin(1, 2, 3, 4, 5)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    return knn_join_ivfpq(queries, idx, k=5, nprobe=3, rerank=2).select(
        "query_id", "vec_id", F.round("distance", 4).alias("distance"))


# All-pairs near-neighbor graph — the corpus-sized-queries regime:
# a broadcast would ship the whole corpus to every task, so both sides
# shuffle ONCE on cluster id and each cluster scores its queries
# against its corpus rows as one BLAS matrix op
# (knn_join_ivf_arrow, cogroup-applyInPandas; the Column-expression
# knn_join_ivf computes the same candidates — parity-tested in
# test_knn.py — but a Column shuffle equi-join with its per-pair
# interpreted fold measured 28 s vs ~2 s here at sf0.1). Every corpus
# row gets its 3 nearest (self included, rank 1 at distance 0 — kept:
# it proves the join saw every row). Full value oracle: the batch
# IVF-join oracle with the query filter dropped.
@q("knn_join_ivf_allpairs", _knn_join_ivf_oracle(n_centroids=None, k=3,
                                                 where=""))
def knn_join_ivf_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import IvfIndex
    from .operators.chooser import ivf_nlist, rows
    from .operators.knn import knn_join_ivf_arrow
    e = _t(spark, sf_dir, "embeddings")
    # all-anchors regime: nlist ~ 4*sqrt(N) keeps total scored pairs
    # O(N^1.5) — pinned-8 is N^2/8 (measured 61x for the second 10x
    # decade on the derived set before this sizing)
    idx = IvfIndex.build_deterministic(e, n_centroids=ivf_nlist(rows(e)))
    queries = e.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec"))
    return knn_join_ivf_arrow(queries, idx, k=3, nprobe=3,
                              metric="euclidean").select(
        "query_id", "vec_id", F.round("distance", 4).alias("distance"))


@q("ann_ivfpq_topk", _ann_ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.knn import lookup_vector
    from .operators.pq import IvfPqIndex
    e = _t(spark, sf_dir, "embeddings")
    qvec = lookup_vector(e, "vec_id", QUERY_VEC_ID)
    idx = IvfPqIndex.build_deterministic(e, n_centroids=8, m=4, ks=8)
    return idx.search(qvec, k=KNN_K, nprobe=3).select(
        "vec_id", "label", F.round("distance", 4).alias("distance"))


@q("ann_pq_adc_topk", _ann_pq_oracle())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.knn import lookup_vector
    from .operators.pq import PqIndex
    e = _t(spark, sf_dir, "embeddings")
    qvec = lookup_vector(e, "vec_id", QUERY_VEC_ID)
    idx = PqIndex.build(e, m=4, ks=8)
    return idx.search(qvec, k=KNN_K).select(
        "vec_id", "label", F.round("distance", 4).alias("distance"))


# Inner-product ADC (faiss METRIC_INNER_PRODUCT; r4): the LUT holds
# dot-product CONTRIBUTIONS and the ADC distance is the negated sum —
# the second of faiss's two PQ metrics (cosine = normalize upstream
# then dotproduct). Deterministic codebooks again make the whole
# compressed-domain ranking SQL-replayable, so this is a FULL value
# oracle, not a recall gate.
def _ann_pq_ip_oracle(m: int = 4, ks: int = 8) -> str:
    def subip(x: str, j: int) -> str:
        off = f"{j} * (len({x}) // {m})"
        return (f"list_sum(list_transform(range(1, len({x}) // {m} + 1), "
                f"i -> {x}[{off} + i] * c[{off} + i]))")

    code_cols = ",\n    ".join(
        f"list_position(ds{j}, list_min(ds{j})) - 1 AS code{j}"
        for j in range(m))

    def subd(x: str, j: int) -> str:  # codes still assign by L2
        off = f"{j} * (len({x}) // {m})"
        return (f"list_sum(list_transform(range(1, len({x}) // {m} + 1), "
                f"i -> ({x}[{off} + i] - c[{off} + i]) * "
                f"({x}[{off} + i] - c[{off} + i])))")

    ds_cols = ",\n    ".join(
        f"list_transform((SELECT bs FROM books), c -> {subd('v', j)}) AS ds{j}"
        for j in range(m))
    qlut_cols = ",\n    ".join(
        f"list_transform((SELECT bs FROM books), c -> {subip('q', j)}) AS lut{j}"
        for j in range(m))
    adc = " + ".join(f"lut{j}[code{j} + 1]" for j in range(m))
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cb AS (SELECT v, md5(CAST(vec_id AS VARCHAR)) AS h, vec_id
       FROM e ORDER BY h, vec_id LIMIT {ks}),
books AS (SELECT list(v ORDER BY h, vec_id) AS bs FROM cb),
coded AS (
  SELECT vec_id, label,
    {code_cols}
  FROM (SELECT vec_id, label,
    {ds_cols}
        FROM e)),
qlut AS (
  SELECT
    {qlut_cols}
  FROM (SELECT v AS q FROM e WHERE vec_id = {QUERY_VEC_ID}))
SELECT vec_id, label, ROUND(-({adc}), 4) AS distance
FROM coded, qlut
ORDER BY -({adc}) ASC, vec_id ASC LIMIT {KNN_K}
"""


@q("ann_pq_ip_topk", _ann_pq_ip_oracle())
def ann_pq_ip_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.knn import lookup_vector
    from .operators.pq import PqIndex
    e = _t(spark, sf_dir, "embeddings")
    qvec = lookup_vector(e, "vec_id", QUERY_VEC_ID)
    idx = PqIndex.build(e, m=4, ks=8)
    return idx.search(qvec, k=KNN_K, metric="dotproduct").select(
        "vec_id", "label", F.round("distance", 4).alias("distance"))


# PQ re-rank with a FULL value oracle: the standard PQ accuracy knob —
# ADC ranks a rerank*k shortlist in the compressed domain, then ONLY
# those rows are re-scored with the true euclidean distance
# (operators/pq.py PqIndex.search(rerank=...)). DuckDB replays both
# stages: same codebooks/codes/LUT as _ann_pq_oracle, same
# (adc, vec_id) shortlist order, exact re-score, final (exact, vec_id)
# top-k. Value-checks that re-rank changes the RANKING the way raw
# distances say it must.
def _ann_pq_rerank_oracle(m: int = 4, ks: int = 8, rerank: int = 2) -> str:
    def subd(x: str, j: int) -> str:
        off = f"{j} * (len({x}) // {m})"
        return (f"list_sum(list_transform(range(1, len({x}) // {m} + 1), "
                f"i -> ({x}[{off} + i] - c[{off} + i]) * "
                f"({x}[{off} + i] - c[{off} + i])))")

    code_cols = ",\n    ".join(
        f"list_position(ds{j}, list_min(ds{j})) - 1 AS code{j}"
        for j in range(m))
    ds_cols = ",\n    ".join(
        f"list_transform((SELECT bs FROM books), c -> {subd('v', j)}) AS ds{j}"
        for j in range(m))
    qlut_cols = ",\n    ".join(
        f"list_transform((SELECT bs FROM books), c -> {subd('q', j)}) AS lut{j}"
        for j in range(m))
    adc = " + ".join(f"lut{j}[code{j} + 1]" for j in range(m))
    exact = ("sqrt(list_sum(list_transform(list_zip(e.v, qv.q), "
             "p -> (p[1]-p[2])*(p[1]-p[2]))))")
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cb AS (SELECT v, md5(CAST(vec_id AS VARCHAR)) AS h, vec_id
       FROM e ORDER BY h, vec_id LIMIT {ks}),
books AS (SELECT list(v ORDER BY h, vec_id) AS bs FROM cb),
coded AS (
  SELECT vec_id, label,
    {code_cols}
  FROM (SELECT vec_id, label,
    {ds_cols}
        FROM e)),
qlut AS (
  SELECT
    {qlut_cols}
  FROM (SELECT v AS q FROM e WHERE vec_id = {QUERY_VEC_ID})),
short AS (
  SELECT vec_id, label FROM coded, qlut
  ORDER BY sqrt({adc}) ASC, vec_id ASC LIMIT {rerank * KNN_K}),
qv AS (SELECT v AS q FROM e WHERE vec_id = {QUERY_VEC_ID})
SELECT s.vec_id, s.label, ROUND({exact}, 4) AS distance
FROM short s JOIN e USING (vec_id), qv
ORDER BY {exact} ASC, s.vec_id ASC LIMIT {KNN_K}
"""


@q("ann_pq_rerank_topk", _ann_pq_rerank_oracle())
def ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.knn import lookup_vector
    from .operators.pq import PqIndex
    e = _t(spark, sf_dir, "embeddings")
    qvec = lookup_vector(e, "vec_id", QUERY_VEC_ID)
    idx = PqIndex.build(e, m=4, ks=8)
    return idx.search(qvec, k=KNN_K, rerank=2).select(
        "vec_id", "label", F.round("distance", 4).alias("distance"))


# SQ8 scalar quantization with a FULL value oracle: per-dim min/max
# over the corpus define the affine int8 map (operators/sq.py), codes
# dequantize at score time — all deterministic arithmetic, so DuckDB
# reproduces bounds, codes, and the approximate ranking end-to-end.
def _ann_sq8_oracle() -> str:
    # bounds/q are 1-row CTEs cross-joined into scope: DuckDB rejects
    # subqueries INSIDE lambdas, but outer-row columns are fine
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM (
        SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e)
      GROUP BY pos),
bounds AS (SELECT list(mn ORDER BY pos) AS mins,
                  list((mx - mn) / 255.0 ORDER BY pos) AS scales FROM b),
q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
coded AS (
  SELECT vec_id, label,
         list_transform(range(1, len(v) + 1), i ->
           CASE WHEN scales[i] = 0 THEN 0
                ELSE LEAST(GREATEST(CAST(round((v[i] - mins[i])
                       / scales[i]) AS INTEGER), 0), 255) END) AS c
  FROM e, bounds),
scored AS (
  SELECT vec_id, label,
         sqrt(list_sum(list_transform(
           list_transform(range(1, len(c) + 1), i ->
             qv[i] - (mins[i] + c[i] * scales[i])),
           d -> d * d))) AS dist
  FROM coded, bounds, q)
SELECT vec_id, label, ROUND(dist, 4) AS distance
FROM scored ORDER BY dist ASC, vec_id ASC LIMIT {KNN_K}
"""


# Sign-bit binarization + Hamming top-k with a FULL value oracle:
# codes, xor, and popcount are bit-exact in any engine. The oracle
# packs bits via a (vec, word) grouped sum of distinct powers of two
# (bit 63 carried as the negative sign-bit value), then joins the
# query's words per word index.
@q("ann_hamming_topk", f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bits AS (
  SELECT vec_id, label, CAST((pos - 1) // 64 AS INTEGER) AS w,
         CASE WHEN x > 0 THEN
              CASE WHEN (pos - 1) % 64 = 63 THEN -9223372036854775808
                   ELSE (CAST(1 AS BIGINT) << CAST((pos - 1) % 64 AS INTEGER))
              END
         ELSE 0 END AS b
  FROM (SELECT vec_id, label, unnest(v) AS x,
               generate_subscripts(v, 1) AS pos FROM e)),
words AS (SELECT vec_id, label, w, CAST(SUM(b) AS BIGINT) AS word
          FROM bits GROUP BY vec_id, label, w),
qw AS (SELECT w, word AS qword FROM words WHERE vec_id = {QUERY_VEC_ID}),
ham AS (
  SELECT a.vec_id, a.label,
         CAST(SUM(bit_count(xor(a.word, qw.qword))) AS BIGINT) AS h
  FROM words a JOIN qw USING (w)
  WHERE a.vec_id <> {QUERY_VEC_ID}
  GROUP BY a.vec_id, a.label)
SELECT vec_id, label, h AS hamming
FROM ham ORDER BY h ASC, vec_id ASC LIMIT {KNN_K}
""")
def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.knn import lookup_vector
    from .operators.sq import hamming_topk
    e = _t(spark, sf_dir, "embeddings")
    qvec = lookup_vector(e, "vec_id", QUERY_VEC_ID)
    return hamming_topk(e, qvec, k=KNN_K, exclude_id=QUERY_VEC_ID,
                        tie_col="vec_id").select("vec_id", "label", "hamming")


@q("ann_sq8_topk", _ann_sq8_oracle())
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.knn import lookup_vector
    from .operators.sq import sq8_topk
    e = _t(spark, sf_dir, "embeddings")
    qvec = lookup_vector(e, "vec_id", QUERY_VEC_ID)
    return sq8_topk(e, qvec, k=KNN_K, tie_col="vec_id").select(
        "vec_id", "label", F.round("distance", 4).alias("distance"))


# KMeans IVF tier: the learned fit is not hash-stable across library
# versions, so (like ann_graph_recall_gate below) the constraint moves
# INSIDE the query — recall@10 vs the exact tier must clear the floor
# for every probe query and the oracle says TRUE unconditionally. A
# fit/search regression flips a boolean and the driver's value hash
# fails. The deterministic-init twin ann_ivf_det_topk keeps the full
# value-level IVF oracle. Recall is counted TIE-ROBUSTLY — an approx
# hit is any result at distance <= the exact k-th distance (+1e-9) —
# because id-set recall is meaningless under distance ties: the 100x
# derived corpus carries ~100 exact replicas per vector, every top-10
# distance is 0.0, and the exact tier's id pick among ties is
# arbitrary. (nprobe=5/8, floor 0.6: measured tie-robust recall
# >= 0.8 at sf0.001 / 0.01 / 0.1 / 100x-derived.)
@q("ann_ivf_topk", """
SELECT * FROM (VALUES (CAST(0 AS BIGINT), TRUE), (CAST(5 AS BIGINT), TRUE),
                      (CAST(9 AS BIGINT), TRUE)) AS t(query_id, recall_ok)
""")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import IvfIndex
    from .operators.knn import knn_join_arrow
    e = _t(spark, sf_dir, "embeddings")
    idx = IvfIndex.build(e, n_centroids=8)
    # one Arrow-tier exact join serves all three baselines (bit-equal
    # to the Column knn, boundary ties included — parity-tested)
    qf = (e.filter(F.col("vec_id").isin(0, 5, 9))
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("query_vec")))
    dk: dict = {}
    for r in knn_join_arrow(qf, e, k=KNN_K, metric="cosine").collect():
        dk[r["query_id"]] = max(dk.get(r["query_id"], 0.0), r["distance"])
    qvecs = {r["query_id"]: list(r["query_vec"]) for r in qf.collect()}
    rows = []
    for vid in (0, 5, 9):
        approx = idx.search(qvecs[vid], k=KNN_K, metric="cosine",
                            nprobe=5).collect()
        hits = sum(1 for r in approx if r["distance"] <= dk[vid] + 1e-9)
        rows.append((vid, hits / KNN_K >= 0.6))
    return spark.createDataFrame(rows, "query_id bigint, recall_ok boolean")


# Graph ANN (operators/graph.py, the HNSW analogue): build + beam
# search are deterministic but a beam walk is not SQL-expressible, so
# the gate pattern applies (same as events_dau_error_gate): recall@10
# against the exact tier is computed INSIDE the query and must clear
# the floor for every probe query; the oracle says TRUE
# unconditionally. A graph/search regression flips the boolean and the
# driver's value-hash check fails — the green row constrains the tier.
# (Measured recall at m=8/ef=64: ~1.0 at sf0.001-0.01; floor 0.6 keeps
# the gate meaningful without being corpus-size-fragile.)
@q("ann_graph_recall_gate", """
SELECT * FROM (VALUES (CAST(1 AS BIGINT), TRUE), (CAST(5 AS BIGINT), TRUE),
                      (CAST(9 AS BIGINT), TRUE)) AS t(query_id, recall_ok)
""")
def ann_graph_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import KnnGraphIndex
    e = _t(spark, sf_dir, "embeddings")
    # build + searches complete INSIDE this function (the returned frame
    # is literal rows), so the shuffle-partition override is fully
    # scoped. Only CAP an oversized default (a vanilla 200-partition
    # session pays ~4x scheduling overhead on the cogroup/prune stages,
    # 23 s -> ~6 s warm); a tuned session's setting is left alone so
    # larger corpora keep their parallelism.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(min(int(prev), 32)) if prev.isdigit() else "32")
    try:
        # dedup-before-index, the graph tier's corpus contract: a
        # bounded-degree m-NN graph over a replica-saturated corpus
        # fragments into per-family cliques (every node's m nearest
        # are its own replicas — no inter-family edge survives the
        # prune), a known pathology of HNSW-style graphs on duplicate
        # vectors. One distinct-vector collapse (min id per identical
        # embedding; Spark partial-aggregates map-side) restores
        # connectivity at any replication factor; recall is then
        # measured against exact search over the SAME indexed corpus,
        # tie-robustly (a hit = any result at distance <= the exact
        # k-th distance, id picks among ties being arbitrary).
        # materialize the collapse once (r12): build sizing, the IVF
        # det_sample, the cogroup corpus side, the edge-vector attach,
        # the exact baseline, entry points, and the per-search result
        # scans otherwise EACH re-run the scan + groupBy shuffle (the
        # same loaded-index shape as range_search_pruned's checkpoint)
        uniq = (e.groupBy("embedding")
                .agg(F.min("vec_id").alias("vec_id"))
                .select("vec_id", "embedding")).localCheckpoint(eager=True)
        idx = KnnGraphIndex.build(uniq, m=8)
        # one Arrow-tier exact join serves all three baselines — the
        # Column fold at dim 384 made three separate exact scans the
        # most expensive step of the whole gate (parity-tested
        # bit-equal to knn, boundary ties included)
        qf = (e.filter(F.col("vec_id").isin(1, 5, 9))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("query_vec")))
        from .operators.knn import knn_join_arrow
        dk: dict = {}
        for r in knn_join_arrow(qf, uniq, k=KNN_K).collect():
            dk[r["query_id"]] = max(dk.get(r["query_id"], 0.0),
                                    r["distance"])
        # one batched walk for all three probe queries (r13, guide
        # §2.4/§5): the three separate idx.search() calls each paid
        # their own per-hop driver round-trips PLUS a result re-scan
        # of the corpus — search_batch advances the three beams
        # together (<= max_hops bounded fetches TOTAL, shared
        # adjacency cache) and returns the walk's float64 distances
        # directly, exactly the protocol the sibling gate
        # knn_join_graph_batch has always used. Hits stay tie-robust
        # (<= exact k-th distance + 1e-9), so the gate booleans are
        # unchanged — proven against the oracle at sf0.001/0.01/0.1.
        approx = idx.search_batch(qf, k=KNN_K, ef=64).collect()
        hits: dict = {}
        for r in approx:
            if r["distance"] <= dk[r["query_id"]] + 1e-9:
                hits[r["query_id"]] = hits.get(r["query_id"], 0) + 1
        rows = [(vid, hits.get(vid, 0) / KNN_K >= 0.6)
                for vid in (1, 5, 9)]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.createDataFrame(rows, "query_id bigint, recall_ok boolean")


# Batch graph-ANN join (graph.search_batch + coarse entry layer):
# 20 beams advance together — ONE bounded edge fetch per hop serves
# the whole batch (last_jobs <= max_hops, asserted in-query), and the
# coarse layer seeds each beam from a ~4*sqrt(N) det_sample instead
# of fixed entries. Recall-gated the same way as ann_graph_recall_gate
# (ANN isn't hash-stable; the booleans are): each query's top-10 must
# hit >= 0.6 of the exact top-10, and the job bound must hold — if
# EITHER breaks, a FALSE row flips the value hash.
@q("knn_join_graph_batch", """
SELECT CAST(v AS BIGINT) AS query_id, TRUE AS recall_ok
FROM generate_series(0, 19) AS t(v)
ORDER BY query_id
""")
def knn_join_graph_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import KnnGraphIndex
    from .operators.knn import knn_join_arrow
    e = _t(spark, sf_dir, "embeddings")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(min(int(prev), 32)) if prev.isdigit() else "32")
    try:
        # dedup-before-index + recall vs exact over the same indexed
        # corpus — see ann_graph_recall_gate for the replica-clique
        # pathology this collapse prevents
        # materialize the collapse once (r12) — same rationale as
        # ann_graph_recall_gate above
        uniq = (e.groupBy("embedding")
                .agg(F.min("vec_id").alias("vec_id"))
                .select("vec_id", "embedding")).localCheckpoint(eager=True)
        idx = KnnGraphIndex.build(uniq, m=8).with_coarse_entries()
        q = (e.filter(F.col("vec_id") < 20)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("query_vec")))
        approx = idx.search_batch(q, k=KNN_K, ef=64, max_hops=6)
        # Arrow exact tier: the Column fold made this 20-query gate
        # cost as much as the whole 200k-node graph build at 100x
        # (48.7 s vs 5 s, same result — parity-tested)
        exact = knn_join_arrow(q, uniq, k=KNN_K)
        jobs_ok = idx.last_jobs <= 6
        # per-query exact k-th distance; hits counted tie-robustly
        # (same rule as ann_ivf_topk / ann_graph_recall_gate)
        dk: dict = {}
        for r in exact.collect():
            dk[r["query_id"]] = max(dk.get(r["query_id"], 0.0),
                                    r["distance"])
        hits: dict = {}
        for r in approx.collect():
            if r["distance"] <= dk[r["query_id"]] + 1e-9:
                hits[r["query_id"]] = hits.get(r["query_id"], 0) + 1
        rows = [(qid, jobs_ok and hits.get(qid, 0) / KNN_K >= 0.6)
                for qid in range(20)]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.createDataFrame(rows, "query_id bigint, recall_ok boolean")


# Hourly rollup over the events table (batch equivalent of the
# streaming windowed aggregation in streaming/events.py). Buckets are
# epoch-aligned on the instant, so tz-independent; emitted as BIGINT
# epoch seconds to dodge session-timezone display differences.
@q("events_hourly_rollup", """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS bucket_epoch,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""")
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    bucket = F.window("ts", "1 hour").getField("start")
    return (e.groupBy(F.unix_timestamp(bucket).alias("bucket_epoch"), "event_type")
             .agg(F.count("*").alias("n_events"),
                  F.round(F.sum("value"), 2).alias("sum_value")))


# ---------------------------------------------------------------------------
# Deterministic sampling / splits (operators/sampling.py): every row's
# fate is md5(key) -> uniform [0,1), so the oracle recomputes exact
# membership — and the Spark side is a map-only filter (no shuffle).
# ---------------------------------------------------------------------------

_DD_U = ("('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
         " / 4294967296.0")


@q("sample_documents_hash", f"""
SELECT doc_id, lang FROM documents
WHERE {_DD_U.format(salt='')} < 0.25
""")
def sample_documents_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import hash_sample
    d = _t(spark, sf_dir, "documents")
    return hash_sample(d, "doc_id", 0.25).select("doc_id", "lang")


# Quality-weighted deterministic sampling (curriculum mixing): each
# row's keep-probability IS its per-row weight — here min(chars/500, 1)
# biases toward longer documents — and the draw stays a reproducible
# map-only filter (operators/sampling.weighted_sample).
@q("sample_weighted_quality", f"""
SELECT doc_id, lang,
       ROUND(LEAST(length(text) / 500.0, 1.0), 4) AS weight
FROM documents
WHERE {_DD_U.format(salt='wq')} < LEAST(length(text) / 500.0, 1.0)
""")
def sample_weighted_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import weighted_sample
    d = _t(spark, sf_dir, "documents")
    w = F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
    return weighted_sample(d, "doc_id", w, salt="wq").select(
        "doc_id", "lang", F.round(w, 4).alias("weight"))


@q("split_train_test", f"""
SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT lang,
         CASE WHEN {_DD_U.format(salt='split')} < 0.1
              THEN 'test' ELSE 'train' END AS split
  FROM documents)
GROUP BY split, lang
""")
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import train_test_split
    d = _t(spark, sf_dir, "documents")
    return (train_test_split(d, "doc_id", 0.1)
            .groupBy("split", "lang").agg(F.count("*").alias("n")))


# Corpus composition report: the data-mixing summary a pre-training
# run starts from — per (source, lang) doc counts, token totals, and
# each cell's share of the corpus token budget. One partial-agg shuffle
# over (source, lang); the share is a window over the ALREADY
# aggregated (tiny) report, not the corpus.
@q("corpus_mix_report", r"""
WITH t AS (
  SELECT source, lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS ws,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\w\s]')) AS bpe
  FROM documents),
g AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(ws) AS BIGINT) AS ws_tokens,
         CAST(SUM(bpe) AS BIGINT) AS bpe_tokens
  FROM t GROUP BY source, lang)
SELECT source, lang, n_docs, ws_tokens, bpe_tokens,
       ROUND(CAST(bpe_tokens AS DOUBLE) / SUM(bpe_tokens) OVER (), 4)
         AS token_share
FROM g
""")
def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import bpe_ish_token_count, token_count
    d = _t(spark, sf_dir, "documents")
    g = (d.select("source", "lang",
                  token_count(F.col("text")).alias("ws"),
                  bpe_ish_token_count(F.col("text")).alias("bpe"))
         .groupBy("source", "lang")
         .agg(F.count("*").alias("n_docs"),
              F.sum("ws").alias("ws_tokens"),
              F.sum("bpe").alias("bpe_tokens")))
    return g.select(
        "source", "lang", "n_docs", "ws_tokens", "bpe_tokens",
        F.round(F.col("bpe_tokens") /
                F.sum("bpe_tokens").over(Window.partitionBy()), 4)
        .alias("token_share"))


# PII scrub (functions/pii): the synthetic corpus carries no PII, so
# both engines INJECT identical deterministic PII (derived from doc_id)
# before detecting and redacting it — the regexes, the injection, and
# the redacted text are all value-checked (redacted_md5 hashes the
# full masked string).
def _pii_oracle() -> str:
    from .functions.pii import PII_PATTERNS
    em, ph, ip = (PII_PATTERNS[k][0] for k in ("email", "phone", "ipv4"))
    et, pt, it = (PII_PATTERNS[k][1] for k in ("email", "phone", "ipv4"))
    return f"""
WITH t AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 5 = 0
            THEN ' contact user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309 now' ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' from 10.0.' || (doc_id % 256) || '.42' ELSE '' END
    AS text
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{em}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '{ph}')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text, '{ip}')) AS BIGINT) AS n_ipv4,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
        '{em}', '{et}', 'g'), '{ph}', '{pt}', 'g'), '{ip}', '{it}', 'g'))
    AS redacted_md5
FROM t
"""


@q("pii_scrub", _pii_oracle())
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.pii import pii_counts, redact_pii
    d = _tp(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(did % 5 == 0, F.concat(F.lit(" contact user"),
                                      did.cast("string"),
                                      F.lit("@example.com")))
         .otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit(" call 555-867-5309 now"))
         .otherwise(F.lit("")),
        F.when(did % 11 == 0, F.concat(F.lit(" from 10.0."),
                                       (did % 256).cast("string"),
                                       F.lit(".42")))
         .otherwise(F.lit("")))
    return (d.select("doc_id", injected.alias("text"))
            .select("doc_id",
                    F.inline(F.array(pii_counts(F.col("text")))),
                    F.md5(redact_pii(F.col("text"))).alias("redacted_md5")))


# Train/eval decontamination (operators/decontam): the hash split is
# the same growth-stable md5 split as split_train_test; overlap is
# counted over DISTINCT 5-word shingles per train document. The oracle
# replays the split, the shingling, and the membership join, so the
# report is value-checked end-to-end. 2 of 463 train docs share
# shingles with the eval split at sf0.01 (near-dup docs straddling the
# split) — the flag genuinely discriminates.
_DECONTAM_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text,
         CASE WHEN {_DD_U.format(salt='split')} < 0.1
              THEN 'test' ELSE 'train' END AS split
  FROM documents),
tr AS (SELECT doc_id, md5(s) AS h
       FROM (SELECT doc_id, unnest({_dd_shingles(5)}) AS s
             FROM d WHERE split = 'train')),
te AS (SELECT DISTINCT md5(s) AS h
       FROM (SELECT doc_id, unnest({_dd_shingles(5)}) AS s
             FROM d WHERE split = 'test'))
SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(te.h) AS BIGINT) AS n_shared,
       count(te.h) >= 1 AS contaminated
FROM tr LEFT JOIN te ON tr.h = te.h
GROUP BY tr.doc_id
"""


@q("decontam_overlap", _DECONTAM_ORACLE)
def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.decontam import contamination_report
    from .operators.sampling import train_test_split
    d = train_test_split(_tp(spark, sf_dir, "documents"), "doc_id", 0.1)
    return contamination_report(d.filter("split = 'train'"),
                                d.filter("split = 'test'"), n=5) \
        .select("doc_id",
                F.col("n_shingles").cast("bigint").alias("n_shingles"),
                F.col("n_shared").cast("bigint").alias("n_shared"),
                "contaminated")


# The Bloom-prefilter tier must give the IDENTICAL report (false
# positives only cost verify work), so it runs under the SAME oracle —
# the strongest possible check of the prefilter's exactness contract.
@q("decontam_bloom_overlap", _DECONTAM_ORACLE)
def decontam_bloom_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.decontam import contamination_report_bloom
    from .operators.sampling import train_test_split
    d = train_test_split(_tp(spark, sf_dir, "documents"), "doc_id", 0.1)
    return contamination_report_bloom(d.filter("split = 'train'"),
                                      d.filter("split = 'test'"), n=5) \
        .select("doc_id",
                F.col("n_shingles").cast("bigint").alias("n_shingles"),
                F.col("n_shared").cast("bigint").alias("n_shared"),
                "contaminated")


# The sharded tier is the no-broadcast-of-eval regime: bounded
# (shard, bit-word map) filter frame + shuffle semi-join verification.
# Same exact-answer contract, so the SAME oracle again — four tiers,
# one truth (test_decontam additionally asserts the eval side never
# broadcasts in this tier's plan).
@q("decontam_sharded_overlap", _DECONTAM_ORACLE)
def decontam_sharded_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.decontam import contamination_report_sharded
    from .operators.sampling import train_test_split
    d = train_test_split(_tp(spark, sf_dir, "documents"), "doc_id", 0.1)
    # auto-sized shards (~64 eval hashes each): keeps the per-probe
    # map scan AND the FPP bounded at any eval size — a pinned small
    # n_shards measured quadratic-ish at the 10x probe point (the map
    # element_at is a linear scan of the shard's word list)
    return contamination_report_sharded(d.filter("split = 'train'"),
                                        d.filter("split = 'test'"),
                                        n=5) \
        .select("doc_id",
                F.col("n_shingles").cast("bigint").alias("n_shingles"),
                F.col("n_shared").cast("bigint").alias("n_shared"),
                "contaminated")


@q("stratified_sample_mix", f"""
SELECT doc_id, lang FROM documents
WHERE {_DD_U.format(salt='')} <
      CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'de' THEN 0.3 ELSE 0.1 END
""")
def stratified_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import stratified_sample
    d = _t(spark, sf_dir, "documents")
    return stratified_sample(d, "doc_id", "lang",
                             {"en": 0.5, "de": 0.3},
                             default_fraction=0.1).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Vocabulary / TF-IDF (operators/tfidf.py): explode -> partial agg ->
# one shuffle on term; per-doc top-k is a window keyed by doc.
# ---------------------------------------------------------------------------

_DD_TF = f"""
terms AS (
  SELECT doc_id, unnest(string_split({{norm}}, ' ')) AS term FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms
  WHERE term <> '' GROUP BY doc_id, term)
"""


@q("vocab_top_terms", "WITH " + _DD_TF.format(norm=_DD_NORM) + """
SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq,
       CAST(SUM(tf) AS BIGINT) AS total_tf
FROM tf GROUP BY term
ORDER BY total_tf DESC, term ASC LIMIT 50
""")
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.tfidf import vocabulary
    d = _tp(spark, sf_dir, "documents")
    return (vocabulary(d)
            .orderBy(F.col("total_tf").desc(), F.col("term").asc())
            .limit(50)
            .select("term", F.col("doc_freq").cast("bigint").alias("doc_freq"),
                    F.col("total_tf").cast("bigint").alias("total_tf")))


@q("tfidf_top_terms", "WITH " + _DD_TF.format(norm=_DD_NORM) + """,
dfreq AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * ln((n.n + 1.0) / (dfreq.doc_freq + 1.0)) AS tfidf
  FROM tf JOIN dfreq USING (term), n),
ranked AS (
  SELECT doc_id, term, tf, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
       ROUND(tfidf, 4) AS tfidf, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
""")
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.tfidf import tfidf_top_terms as _tt
    d = _tp(spark, sf_dir, "documents")
    return _tt(d, k=3).select(
        "doc_id", "term", F.col("tf").cast("bigint").alias("tf"),
        F.round("tfidf", 4).alias("tfidf"),
        F.col("rank").cast("bigint").alias("rank"))


# ---------------------------------------------------------------------------
# Structured Streaming with a FULL value oracle: the events stream is
# drained with Trigger.AvailableNow into a complete-mode memory sink,
# so the windowed streaming aggregate must equal the batch rollup —
# same oracle SQL as events_hourly_rollup.
# ---------------------------------------------------------------------------

def _stream_partitions(spark: SparkSession, sf_dir: str,
                       table: str = "events") -> str:
    """Shuffle-partition count for a bounded streaming drain: one state
    store spins up per shuffle partition, so small drains want few
    (pinned 8 originally), but a PINNED count is the same latent-scale
    bug as a pinned blocking constant — at the 100x derived point the
    sessionizer pushed 1.25M rows through each of 8 state partitions
    while 24 cores idled (13x wall per 10x data). Size to ~250k rows
    per partition (footer metadata, no Spark job — r13), floor 8,
    cap 32: small drains keep their 8, the 100x point gets full
    parallelism. A real deployment sizes this to key cardinality once
    — the checkpoint pins it thereafter."""
    n = _footer_rows(sf_dir, table)
    return str(min(32, max(8, n // 250_000)))


@q("events_rollup_streaming", """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS bucket_epoch,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""")
def events_rollup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.events import (hourly_rollup_stream, read_event_stream,
                                   run_available_now)
    # the file source wants a directory or glob; '[t]' makes the single
    # testdata file a glob without copying it anywhere; schema handling
    # (NTZ / nanos-long / proper timestamp) lives in read_event_stream —
    # the streaming twin of _t's conversion
    src = read_event_stream(spark, os.path.join(sf_dir, "events.parque[t]"),
                            max_files_per_trigger=None)
    # state stores spin up one per shuffle partition; sized from the
    # source row count (see _stream_partitions)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   _stream_partitions(spark, sf_dir))
    try:
        run_available_now(hourly_rollup_stream(src), "events_rollup_streaming")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table("events_rollup_streaming")


# Streaming dedup with a FULL value oracle: the stream source sees TWO
# copies of the events file (a replayed feed — the at-least-once
# delivery case dropDuplicatesWithinWatermark exists for); the deduped
# append-mode drain must equal the single-copy table value-for-value.
@q("events_dedup_streaming", """
SELECT event_id, user_id, event_type, value FROM events
""")
def events_dedup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from .session import session_scratch_dir
    from .streaming.events import (dedup_stream, read_event_stream,
                                   run_available_now_to_parquet)
    # source dir (doubled feed), file sink, and checkpoint all live in a
    # session-lifetime scratch dir: the result is returned as a LAZY
    # distributed scan over the sink files — the full deduped table
    # never passes through the driver (r3's collect() here was the worst
    # 10x scale ratio in the suite, 6.1x, and a driver OOM at 100x)
    tmp = session_scratch_dir("events_dedup_stream")
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, os.path.join(tmp, "a.parquet"))
    shutil.copy(src, os.path.join(tmp, "b.parquet"))
    deduped = dedup_stream(read_event_stream(spark, tmp, None)) \
        .select("event_id", "user_id", "event_type", "value")
    # state stores sized from the source row count (_stream_partitions)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   _stream_partitions(spark, sf_dir))
    # skip the trailing no-data micro-batch (r13, guide §1.2): it
    # exists to advance the watermark and EVICT state, but
    # dropDuplicatesWithinWatermark emits each first-seen row in the
    # data batch itself — for a bounded AvailableNow drain the extra
    # batch only reloads + recommits every state store partition
    # (A/B: 1.9 -> 1.2-1.35 s). Scoped: an unbounded deployment keeps
    # the default (eviction is what bounds its state).
    prev_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                   "false")
    try:
        run_available_now_to_parquet(deduped, os.path.join(tmp, "out"),
                                     os.path.join(tmp, "ckpt"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                       prev_ndmb)
    return spark.read.parquet(os.path.join(tmp, "out"))


# Stream-STREAM interval join with a FULL value oracle: two live feeds
# of the events table joined on user within a 30-minute follow-up
# window (streaming/events.followup_pairs_stream); the AvailableNow
# drain must equal the batch interval self-join value-for-value.
@q("events_followups_streaming", """
SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id
FROM events a JOIN events b
  ON a.user_id = b.user_id AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL '30 minutes'
""")
def events_followups_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.events import (followup_pairs_stream, read_event_stream,
                                   run_available_now)
    glob = os.path.join(sf_dir, "events.parque[t]")
    lhs = read_event_stream(spark, glob, max_files_per_trigger=None)
    rhs = read_event_stream(spark, glob, max_files_per_trigger=None)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   _stream_partitions(spark, sf_dir))
    # skip the trailing no-data micro-batch (r13, guide §1.2): a
    # stream-stream INNER join emits matches in the data batch where
    # both rows meet; the no-data batch only advances the watermark to
    # evict state — which for a bounded drain means reloading and
    # recommitting BOTH sides' state stores for zero new rows (A/B:
    # 3.7-4.0 -> 2.5-2.6 s, the single biggest streaming-row cut).
    # Scoped to this bounded drain; unbounded deployments keep the
    # default (eviction bounds their state).
    prev_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                   "false")
    try:
        run_available_now(followup_pairs_stream(lhs, rhs, gap_minutes=30),
                          "events_followups_streaming_t", "append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                       prev_ndmb)
    return spark.table("events_followups_streaming_t")


# Streaming stateful sessionization with a FULL value oracle: Spark's
# engine-native session_window operator, drained complete with
# Trigger.AvailableNow, produces exact event-time sessions — which a
# lag/gap cumulative-sum window computation reproduces in DuckDB.
# Boundary semantics are session_window's: a gap of EXACTLY the
# inactivity threshold starts a new session (half-open [ts, ts+gap)),
# hence >= in the oracle (operators/sessions.with_session_ids uses
# strict >; divergence measurable only at exact-microsecond spacing).
@q("events_sessionize_streaming", """
WITH lagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts)) >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events),
sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagged)
SELECT user_id,
       CAST(epoch_us(MIN(ts)) AS BIGINT) AS start_us,
       CAST(epoch_us(MAX(ts)) + 1800000000 AS BIGINT) AS end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
""")
def events_sessionize_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.events import (read_event_stream, run_available_now,
                                   sessionize_stream_windows)
    src = read_event_stream(spark, os.path.join(sf_dir, "events.parque[t]"),
                            max_files_per_trigger=None)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   _stream_partitions(spark, sf_dir))
    try:
        run_available_now(sessionize_stream_windows(src, gap_minutes=30),
                          "events_sessionize_streaming_t")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    t = spark.table("events_sessionize_streaming_t")
    return t.select("user_id",
                    F.unix_micros("session_start").alias("start_us"),
                    F.unix_micros("session_end").alias("end_us"),
                    F.col("n_events").cast("bigint").alias("n_events"))


# Streaming similarity search with a FULL value oracle: the query feed
# is drained with Trigger.AvailableNow through the stream-static
# cluster equi-join + foreachBatch top-k (streaming/search.py), so the
# sink must equal the batch knn_join_ivf answer — same oracle SQL as
# knn_join_ivf_batch.
@q("knn_search_streaming", _knn_join_ivf_oracle())
def knn_search_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import IvfIndex
    from .session import session_scratch_dir
    from .streaming.search import read_search_results, start_streaming_search
    e = _t(spark, sf_dir, "embeddings")
    idx = IvfIndex.build_deterministic(e, n_centroids=8)
    stream = (spark.readStream
              .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
              .parquet(os.path.join(sf_dir, "embeddings.parque[t]"))
              .filter(F.col("vec_id").isin(1, 2, 3, 4, 5))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("query_vec")))
    # sink + checkpoint in a session-lifetime scratch dir: return a LAZY
    # scan over the sink files instead of round-tripping the result
    # through the driver (r3 collect() anti-pattern, now removed)
    tmp = session_scratch_dir("knn_search_streaming")
    out, ckpt = os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")
    q_ = start_streaming_search(idx, stream, out, ckpt, k=5, nprobe=3,
                                available_now=True)
    q_.awaitTermination(300)
    return read_search_results(spark, out).select(
        "query_id", "vec_id",
        F.round("distance", 4).alias("distance"))


# ---------------------------------------------------------------------------
# Range (interval) join: band events by value against an irregular
# band dimension (operators/rangejoin.py). Dimension-sized bands =>
# broadcast non-equi join is the correct 100 TB plan; the banded
# equi-join rewrite for large interval tables is equivalence-tested in
# tests/test_rangejoin.py.
# ---------------------------------------------------------------------------

VALUE_BANDS = [("micro", 0.0, 1.0), ("small", 1.0, 10.0),
               ("mid", 10.0, 50.0), ("large", 50.0, 200.0),
               ("huge", 200.0, 1e9)]


@q("events_value_bands", """
WITH bands(band, lo, hi) AS (VALUES
  ('micro', 0.0, 1.0), ('small', 1.0, 10.0), ('mid', 10.0, 50.0),
  ('large', 50.0, 200.0), ('huge', 200.0, 1000000000.0))
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY band
""")
def events_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rangejoin import interval_join
    e = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(VALUE_BANDS, ["band", "lo", "hi"])
    return (interval_join(e, bands, "value")
            .groupBy("band")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"),
                 F.countDistinct("user_id").alias("n_users")))


# Concat-and-chunk training-window layout (operators/packing.py): per
# language, documents concatenate in doc_id order and slice into
# 2048-token context windows; each doc's start offset / window span is
# pure integer arithmetic over one per-group cumulative sum — exact in
# any engine, full value oracle.
@q("corpus_chunk_windows", f"""
WITH t AS (
  SELECT doc_id, lang,
         CASE WHEN trim(text) = '' THEN 0 ELSE len({_DD_TOKS}) END AS n_tok
  FROM documents),
c AS (
  SELECT doc_id, lang, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
  FROM t)
SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // 2048 AS BIGINT) AS start_window,
       CAST(CASE WHEN n_tok = 0 THEN 0
                 ELSE (start_off + n_tok - 1) // 2048 - start_off // 2048 + 1
            END AS BIGINT) AS n_windows
FROM c
""")
def corpus_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import chunk_windows
    d = _t(spark, sf_dir, "documents")
    return chunk_windows(d, budget=2048)


# Per-label mean embedding (class prototypes / centroid init /
# per-source drift monitoring). The shuffle carries (label, pos,
# partial-sum) SCALARS — label_cardinality x dim rows — never vectors;
# exact float64, so DuckDB reproduces it value-for-value. Output is
# exploded to one (label, pos, value) row per centroid component: the
# driver's canonicalizer sorts rows across columns before hashing and
# cannot sort a list column (r5 driver-RED), so every registered query
# must emit atomic-typed columns only (guard: test_workload_oracle).
@q("embedding_centroids_by_label", """
WITH p AS (
  SELECT label,
         unnest(CAST(embedding AS DOUBLE[])) AS x,
         generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos
  FROM embeddings),
a AS (SELECT label, pos, AVG(x) AS m, CAST(COUNT(*) AS BIGINT) AS n
      FROM p GROUP BY label, pos)
SELECT label, CAST(pos AS BIGINT) AS pos, ROUND(m, 6) AS value,
       CAST(MIN(n) OVER (PARTITION BY label) AS BIGINT) AS n_vectors
FROM a
""")
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.vector import mean_vectors
    e = _t(spark, sf_dir, "embeddings")
    res = mean_vectors(e, "label", "embedding")
    return (res.select(
                "label",
                F.posexplode(F.transform("centroid",
                                         lambda x: F.round(x, 6)))
                 .alias("pos0", "value"),
                "n_vectors")
            # DuckDB generate_subscripts is 1-based; posexplode is 0-based
            .select("label",
                    (F.col("pos0") + 1).cast("bigint").alias("pos"),
                    "value", "n_vectors"))


# Event-sequence funnel (operators/journey): earliest strictly-ordered
# view -> click -> purchase progression per user. Spark walks each
# user's sorted step events with ONE fold after ONE shuffle; the
# oracle is the textbook chained-CTE form (a MIN per step joined
# back) — different algorithm, same answer, which is the point.
@q("events_user_funnel", """
WITH e AS (
  SELECT user_id, event_type,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t
  FROM events),
s1 AS (SELECT user_id, MIN(t) AS t1 FROM e
       WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, MIN(t) AS t2 FROM e JOIN s1 USING (user_id)
       WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, MIN(t) AS t3 FROM e JOIN s2 USING (user_id)
       WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id)
SELECT s1.user_id, t1, t2, t3,
       CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
              + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS INT)
         AS steps_completed
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
""")
def events_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.journey import event_funnel
    e = _t(spark, sf_dir, "events")
    return event_funnel(e, ["view", "click", "purchase"])


# The conversion-window variant: every later step must land within
# `within` seconds of t1 (journey.event_funnel's `within` branch —
# the chained-min oracle gains the same window bound on both steps).
@q("events_funnel_within", """
WITH e AS (
  SELECT user_id, event_type,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t
  FROM events),
s1 AS (SELECT user_id, MIN(t) AS t1 FROM e
       WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, MIN(t) AS t2 FROM e JOIN s1 USING (user_id)
       WHERE event_type = 'click' AND t > t1 AND t <= t1 + 900
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, MIN(t) AS t3
       FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
       WHERE event_type = 'purchase' AND t > t2 AND t <= t1 + 900
       GROUP BY e.user_id)
SELECT s1.user_id, t1, t2, t3,
       CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
              + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS INT)
         AS steps_completed
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
""")
def events_funnel_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.journey import event_funnel
    e = _t(spark, sf_dir, "events")
    return event_funnel(e, ["view", "click", "purchase"], within=900.0)


# BPE vocabulary induction (operators/bpe): the tokenizer-training
# step. The corpus-sized part — word freqs + weighted adjacent
# symbol-pair counts over the initial character vocab — carries a full
# value oracle here (top 20 merge candidates, deterministic
# tie-break); the iterative merge rounds are pytest-verified against
# hand-computed BPE runs (the greedy fuse is not single-SQL-statement
# expressible, so rounds beyond the first stay test-covered).
@q("bpe_top_pairs", f"""
WITH w AS (
  SELECT t AS word, COUNT(*) AS freq
  FROM (SELECT unnest(string_split({_DD_NORM}, ' ')) AS t FROM documents)
  WHERE t <> '' GROUP BY t),
p AS (
  SELECT freq, s[i] AS lsym, s[i + 1] AS rsym
  FROM (SELECT freq, string_split(word, '') AS s FROM w),
       UNNEST(range(1, greatest(len(s), 1))) AS t(i))
SELECT lsym, rsym, CAST(SUM(freq) AS BIGINT) AS weight
FROM p GROUP BY lsym, rsym
ORDER BY weight DESC, lsym ASC, rsym ASC
LIMIT 20
""")
def bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bpe import pair_counts, word_freqs
    d = _tp(spark, sf_dir, "documents")
    vocab = word_freqs(d).select(
        "word", F.split(F.col("word"), "").alias("syms"), "freq")
    return (pair_counts(vocab)
            .select(F.col("left").alias("lsym"),
                    F.col("right").alias("rsym"),
                    F.col("weight").cast("bigint").alias("weight"))
            .orderBy(F.col("weight").desc(), F.col("lsym").asc(),
                     F.col("rsym").asc())
            .limit(20))


# Per-group top-k similarity (knn.knn_per_group): the k nearest
# vectors to the query FROM EVERY label — diversified retrieval; one
# distance map + one per-label window, shuffle on the label key only.
@q("knn_per_label", f"""
WITH qv AS (
  SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
  WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT vec_id, label,
         list_distance(CAST(embedding AS DOUBLE[]), q) AS dist
  FROM embeddings, qv WHERE vec_id <> {QUERY_VEC_ID}),
r AS (SELECT vec_id, label, dist,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY dist ASC, vec_id ASC) AS rk
      FROM scored)
SELECT vec_id, label, ROUND(dist, 4) AS distance
FROM r WHERE rk <= 3
""")
def knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.knn import knn_per_group, lookup_vector
    e = _t(spark, sf_dir, "embeddings")
    qvec = lookup_vector(e, "vec_id", QUERY_VEC_ID)
    return knn_per_group(e.filter(F.col("vec_id") != QUERY_VEC_ID),
                         qvec, "label", k=3, tie_col="vec_id") \
        .select("vec_id", "label", F.round("distance", 4).alias("distance"))


# Exact-quota sampling (sampling.sample_k_per_group): N docs per
# language by md5 rank — deterministic, growth-stable membership; one
# shuffle on the group key, no global sort.
@q("sample_k_per_lang", """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5('kpg' || CAST(doc_id AS VARCHAR)) ASC,
                    doc_id ASC) AS rk
  FROM documents) t
WHERE rk <= 25
""")
def sample_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import sample_k_per_group
    d = _t(spark, sf_dir, "documents")
    return sample_k_per_group(d, "doc_id", "lang", k=25) \
        .select("doc_id", "lang")


# Corpus data card (operators/datacard): the one-call dataset summary
# (Datasheets-for-Datasets shape) — every scalar metric in ONE
# aggregate, language mix in a second; the oracle replays all of it
# including the quality formula and exact token quantiles.
def _card_oracle() -> str:
    stops = _dd_stoplist("en")
    return f"""
WITH t AS (
  SELECT doc_id, text, lang,
         CASE WHEN trim(text) = '' THEN 0 ELSE len({_DD_TOKS}) END AS n_tok,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         len(list_filter({_DD_TOKS}, x -> list_contains({stops}, x))) AS stop_hits,
         md5({_DD_NORM}) AS fp
  FROM documents),
s AS (
  SELECT *,
    0.4 * least(n_tok / 20.0, 1.0)
  + 0.2 * (CASE WHEN n_tok > 0 AND CAST(n_chars AS DOUBLE) / n_tok >= 3.0
                 AND CAST(n_chars AS DOUBLE) / n_tok <= 10.0 THEN 1.0 ELSE 0.5 END)
  + 0.2 * least((CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) * 20.0, 1.0)
  + 0.2 * least((CASE WHEN n_tok > 0 THEN CAST(stop_hits AS DOUBLE) / n_tok ELSE 0.0 END) * 4.0, 1.0)
    AS quality
  FROM t),
a AS (
  SELECT COUNT(*) AS docs, SUM(n_tok) AS toks,
         SUM(CASE WHEN trim(text) = '' THEN 1 ELSE 0 END) AS emp,
         COUNT(DISTINCT fp) AS fps, AVG(quality) AS q,
         quantile_cont(n_tok, [0.25, 0.5, 0.75]) AS tq
  FROM s)
SELECT metric, ROUND(value, 4) AS value FROM (
  SELECT 'n_docs' AS metric, CAST(docs AS DOUBLE) AS value FROM a
  UNION ALL SELECT 'n_tokens', CAST(toks AS DOUBLE) FROM a
  UNION ALL SELECT 'empty_rate', emp / CAST(docs AS DOUBLE) FROM a
  UNION ALL SELECT 'exact_dup_rate', 1.0 - fps / CAST(docs AS DOUBLE) FROM a
  UNION ALL SELECT 'mean_quality', q FROM a
  UNION ALL SELECT 'tokens_p25', tq[1] FROM a
  UNION ALL SELECT 'tokens_p50', tq[2] FROM a
  UNION ALL SELECT 'tokens_p75', tq[3] FROM a
  UNION ALL SELECT 'lang_share:' || lang,
                   COUNT(*) / (SELECT CAST(docs AS DOUBLE) FROM a)
            FROM t GROUP BY lang)
"""


@q("corpus_data_card", _card_oracle())
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.datacard import corpus_card
    return corpus_card(_tp(spark, sf_dir, "documents"))


# Contrastive-training negative sampling (operators/negatives).
# In-batch tier: md5 batches + next-k pairing, same-label masked; the
# oracle replays batch assignment, in-batch order, the k LEADs, and
# the mask.
@q("negatives_in_batch", """
WITH b AS (
  SELECT doc_id, lang,
         md5('negs' || CAST(doc_id AS VARCHAR)) AS h,
         ('0x' || substr(md5('negs' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 16 AS bk
  FROM documents),
l AS (
  SELECT doc_id AS anchor, lang,
         LEAD(doc_id, 1) OVER w AS n1, LEAD(lang, 1) OVER w AS l1,
         LEAD(doc_id, 2) OVER w AS n2, LEAD(lang, 2) OVER w AS l2,
         LEAD(doc_id, 3) OVER w AS n3, LEAD(lang, 3) OVER w AS l3
  FROM b WINDOW w AS (PARTITION BY bk ORDER BY h ASC, doc_id ASC))
SELECT anchor, negative, CAST(off AS INT) AS "offset" FROM (
  SELECT anchor, n1 AS negative, l1 AS nl, 1 AS off, lang FROM l
  UNION ALL SELECT anchor, n2, l2, 2, lang FROM l
  UNION ALL SELECT anchor, n3, l3, 3, lang FROM l)
WHERE negative IS NOT NULL AND nl <> lang
""")
def negatives_in_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.negatives import in_batch_negatives
    d = _t(spark, sf_dir, "documents")
    return in_batch_negatives(d, "doc_id", k=3, batches=16,
                              label_col="lang")


# Hard-negative mining: for every anchor, the k nearest vectors with
# a DIFFERENT label — filter-then-rank (label mismatch composes
# BEFORE top-k selection). Exact broadcast tier, anchors BOUNDED to a
# 50-query batch: the exact tier is |anchors| x |corpus| by
# construction, so the benchmark query pins the anchor batch size
# (the all-anchors regime belongs to hard_negatives_ivf below).
@q("hard_negatives_topk", """
WITH p AS (
  SELECT a.vec_id AS query_id, c.vec_id, a.label AS ql, c.label AS cl,
         CASE WHEN sqrt(list_inner_product(CAST(c.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[]))) = 0
                OR sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                           CAST(a.embedding AS DOUBLE[]))) = 0
              THEN 1.0
              ELSE 1.0 - LEAST(GREATEST(
                list_inner_product(CAST(c.embedding AS DOUBLE[]),
                                   CAST(a.embedding AS DOUBLE[]))
                / (sqrt(list_inner_product(CAST(c.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])))
                 * sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                           CAST(a.embedding AS DOUBLE[])))),
                -1.0), 1.0) END AS dist
  FROM embeddings a JOIN embeddings c ON a.label <> c.label
  WHERE a.vec_id < 50),
r AS (SELECT query_id, vec_id, dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dist ASC, vec_id ASC) AS rk
      FROM p)
SELECT query_id, vec_id, ROUND(dist, 4) AS distance
FROM r WHERE rk <= 3
""")
def hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.negatives import hard_negative_join
    e = _t(spark, sf_dir, "embeddings")
    return hard_negative_join(e, k=3,
                              anchors=e.filter(F.col("vec_id") < 50)) \
        .select("query_id", "vec_id",
                F.round("distance", 4).alias("distance"))


# Hard negatives at corpus scale (negatives.hard_negative_join_ivf):
# ALL anchors, IVF cluster pruning + per-cluster BLAS with the label
# mask applied inside the matrix step. Deterministic centroids, so
# the oracle replays probes, the label filter, and the ranking.
# nlist scales as chooser.ivf_nlist (4*sqrt(N), truncated) on BOTH
# sides — per-anchor candidate volume is then ~nprobe*sqrt(N)/4, so
# total mining work is O(N^1.5) instead of the O(N^2) a fixed nlist
# gives an all-anchors regime (the r4 verdict's one superlinear edge).
def _hard_neg_ivf_oracle(nprobe: int = 3, k: int = 3,
                         cluster_cap: int | None = None) -> str:
    eu = ("sqrt(list_sum(list_transform(list_zip({x}, c), "
          "pr -> (pr[1]-pr[2])*(pr[1]-pr[2]))))")
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
nl AS (SELECT GREATEST(8, CAST(FLOOR(4 * SQRT(COUNT(*))) AS INT)) AS nc
       FROM e),
cent AS (SELECT v, h, vec_id
         FROM (SELECT v, md5(CAST(vec_id AS VARCHAR)) AS h, vec_id FROM e)
         QUALIFY row_number() OVER (ORDER BY h, vec_id)
                 <= (SELECT nc FROM nl)),
cents AS (SELECT list(v ORDER BY h, vec_id) AS cs FROM cent),
assigned AS (
  SELECT vec_id, label, v, list_position(ds, list_min(ds)) - 1 AS cluster
  FROM (SELECT vec_id, label, v,
          list_transform((SELECT cs FROM cents), c -> {eu.format(x='v')}) AS ds
        FROM e)),
probes AS (
  SELECT query_id, qlbl, qv, i - 1 AS cluster
  FROM (SELECT vec_id AS query_id, label AS qlbl, v AS qv,
               unnest(list_transform((SELECT cs FROM cents),
                                     c -> {eu.format(x='v')})) AS d,
               generate_subscripts(list_transform((SELECT cs FROM cents),
                                                  c -> {eu.format(x='v')}),
                                   1) AS i
        FROM e)
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d, i)
          <= {nprobe}),
capped AS (
  SELECT vec_id, label, v, cluster FROM assigned{'' if cluster_cap is None else f'''
  QUALIFY row_number() OVER (PARTITION BY cluster
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {cluster_cap}'''}),
cand AS (
  SELECT p.query_id, a.vec_id,
         sqrt(list_sum(list_transform(list_zip(a.v, p.qv),
              pr -> (pr[1]-pr[2])*(pr[1]-pr[2])))) AS dist
  FROM capped a JOIN probes p USING (cluster)
  WHERE a.label <> p.qlbl)
SELECT query_id, vec_id, ROUND(dist, 4) AS distance
FROM cand
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id)
        <= {k}
"""


@q("hard_negatives_ivf", _hard_neg_ivf_oracle(cluster_cap=64))
def hard_negatives_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import IvfIndex
    from .operators.chooser import ivf_nlist, rows
    from .operators.negatives import hard_negative_join_ivf
    e = _t(spark, sf_dir, "embeddings")
    # size nlist from the corpus row count (parquet footers, no job)
    # so cluster occupancy stays ~sqrt(N)/4; cluster_cap=64 then bounds
    # PER-ANCHOR candidates to nprobe*64 regardless of N (total O(N)) —
    # occupancy crosses the cap past ~65k vectors, where the uncapped
    # tier's O(N^1.5) showed up as 12.4x wall for the second 10x decade
    idx = IvfIndex.build_deterministic(e, n_centroids=ivf_nlist(rows(e)))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(min(int(prev), 32)) if prev.isdigit() else "32")
    try:
        out = hard_negative_join_ivf(e, idx, k=3, nprobe=3,
                                     cluster_cap=64) \
            .select("query_id", "vec_id",
                    F.round("distance", 4).alias("distance"))
        out = out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out


# Embedding-space drift per label (drift.embedding_drift): centroid
# shift between the even-id half (reference) and odd-id half
# (candidate) of the embeddings table — representation-drift QA. The
# oracle replays both per-(label,pos) means, the group join, and the
# euclidean/cosine centroid comparison in exact float64.
@q("embedding_drift_by_label", """
WITH p AS (
  SELECT label, vec_id % 2 = 0 AS is_ref,
         unnest(CAST(embedding AS DOUBLE[])) AS x,
         generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos
  FROM embeddings),
a AS (SELECT label, pos, AVG(x) AS m, COUNT(*) AS n
      FROM p WHERE is_ref GROUP BY label, pos),
b AS (SELECT label, pos, AVG(x) AS m, COUNT(*) AS n
      FROM p WHERE NOT is_ref GROUP BY label, pos),
j AS (SELECT a.label, a.pos, a.m AS ma, b.m AS mb, a.n AS na, b.n AS nb
      FROM a JOIN b ON a.label = b.label AND a.pos = b.pos)
SELECT label, CAST(MIN(na) AS BIGINT) AS n_ref,
       CAST(MIN(nb) AS BIGINT) AS n_cand,
       ROUND(sqrt(SUM((ma - mb) * (ma - mb))), 6) AS centroid_dist,
       ROUND(SUM(ma * mb) /
             (sqrt(SUM(ma * ma)) * sqrt(SUM(mb * mb))), 6) AS centroid_cos
FROM j GROUP BY label
""")
def embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.drift import embedding_drift
    e = _t(spark, sf_dir, "embeddings")
    return embedding_drift(e.filter("vec_id % 2 = 0"),
                           e.filter("vec_id % 2 <> 0")) \
        .select("label", "n_ref", "n_cand",
                F.round("centroid_dist", 6).alias("centroid_dist"),
                F.round("centroid_cos", 6).alias("centroid_cos"))


# Salted join under a value oracle: event_type is the classic hot-key
# column (5 values over the whole events table). salted_join spreads
# each hot key over 8 shuffle partitions (operators/skew.py); salting
# must be RESULT-invariant, so the oracle is the plain unsalted join —
# any row lost or duplicated by the salt/explode bookkeeping
# hash-mismatches.
@q("skew_salted_join", """
WITH dim AS (SELECT DISTINCT event_type,
                    CAST(length(event_type) AS DOUBLE) AS w
             FROM events)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(e.value * d.w), 2) AS weighted_value
FROM events e JOIN dim d USING (event_type)
GROUP BY e.event_type
""")
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import salted_join
    e = _t(spark, sf_dir, "events")
    dim = (e.select("event_type").distinct()
           .withColumn("w", F.length("event_type").cast("double")))
    joined = salted_join(e.select("event_type", "value"), dim,
                         on="event_type", buckets=8)
    return (joined.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum(F.col("value") * F.col("w")), 2)
                 .alias("weighted_value")))


# Approximate distinct (HLL++): THE way to count 100 TB of distinct
# users without an exact distinct shuffle. Spark's HLL++ and DuckDB's
# HLL sketch differently, so the raw sketch value can never hash-match
# another engine; the sketch lives inside events_dau_error_gate below,
# where the error bound IS the oracle-checked constraint. (A rows-only
# raw-sketch variant existed through r5; retired so every registered
# query carries a full value oracle.)
#
# The FULL-oracle form: the sketch itself can never
# hash-match another engine, so the error bound is asserted INSIDE the
# query — within_5pct must be TRUE for every day, and the oracle says
# TRUE unconditionally. A sketch drifting past |approx-exact|/exact <=
# 0.05 flips the boolean and the driver's value-hash check fails: the
# green row actually constrains the sketch (HLL++ rsd=0.02, so 5% is a
# ~2.5-sigma bound on a deterministic sketch — stable, not flaky).
@q("events_dau_error_gate", """
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau_exact,
       TRUE AS within_5pct
FROM events GROUP BY 1
""")
def events_dau_error_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    agg = (e.groupBy(F.unix_timestamp(day).alias("day_epoch"))
           .agg(F.countDistinct("user_id").alias("__exact"),
                F.approx_count_distinct("user_id", 0.02).alias("__approx")))
    return agg.select(
        "day_epoch", F.col("__exact").cast("bigint").alias("dau_exact"),
        (F.abs(F.col("__approx") - F.col("__exact"))
         / F.col("__exact") <= 0.05).alias("within_5pct"))


# ---------------------------------------------------------------------------
# Relational-completeness tier: the reference reserves keywords for
# these but can neither parse nor execute them (SURVEY §2.4/§2.5 —
# "free in Catalyst"). Proving they are in fact free:
#   - correlated scalar subquery (Catalyst decorrelates to join+agg)
#   - window frame spec (running sum, ROWS UNBOUNDED PRECEDING)
#   - CUBE grouping sets
# ---------------------------------------------------------------------------

@q("orders_above_cust_avg", """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total
FROM orders o
WHERE o_totalprice > (SELECT 1.5 * AVG(o2.o_totalprice)
                      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
""")
def orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately THROUGH spark.sql with the correlated form: the
    # value here is Catalyst's subquery decorrelation (the reference
    # parses subqueries but cannot run them, parser.go:228-239)
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_corr")
    return spark.sql("""
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total
        FROM orders_corr o
        WHERE o_totalprice > (SELECT 1.5 * AVG(o2.o_totalprice)
                              FROM orders_corr o2
                              WHERE o2.o_custkey = o.o_custkey)""")


@q("cust_running_revenue", """
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_total
FROM orders
""")
def cust_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return o.select("o_custkey", "o_orderkey",
                    F.round(F.sum("o_totalprice").over(w), 2)
                    .alias("running_total"))


@q("cube_order_stats", """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
""")
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


# ---------------------------------------------------------------------------
# r4 second wave: Matryoshka prefix search, cross-doc n-gram overlap,
# SemDeDup semantic dedup, streaming corpus clean. All full value
# oracles.
# ---------------------------------------------------------------------------


# Matryoshka two-stage exact search (operators/matryoshka.py): coarse
# euclidean top-candidates on the 16-dim PREFIX of every vector, exact
# full-dim rerank. Both stages deterministic (vec_id tiebreak), so the
# composition is value-oracled end to end.
def _matryoshka_oracle(prefix: int = 16, candidates: int = 50) -> str:
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qv AS (SELECT v AS q FROM e WHERE vec_id = {QUERY_VEC_ID}),
coarse AS (
  SELECT vec_id, label, v, q,
         list_distance(list_slice(v, 1, {prefix}), list_slice(q, 1, {prefix})) AS cd
  FROM e, qv WHERE vec_id <> {QUERY_VEC_ID}
  ORDER BY cd ASC, vec_id ASC LIMIT {candidates})
SELECT vec_id, label, ROUND(list_distance(v, q), 4) AS distance
FROM coarse ORDER BY list_distance(v, q) ASC, vec_id ASC LIMIT {KNN_K}
"""


@q("knn_matryoshka_topk", _matryoshka_oracle())
def knn_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.matryoshka import matryoshka_knn
    e = _t(spark, sf_dir, "embeddings")
    qvec = lookup_vector(e, "vec_id", QUERY_VEC_ID)
    res = matryoshka_knn(e, qvec, k=KNN_K, prefix_dim=16, candidates=50,
                         metric="euclidean", exclude_id=QUERY_VEC_ID,
                         id_col="vec_id", tie_col="vec_id")
    return res.select("vec_id", "label",
                      F.round("distance", 4).alias("distance"))


# Cross-document n-gram overlap (operators/crossdoc.py): per-doc
# fraction of its distinct 3-word shingles that appear in >= 2 docs —
# the corpus-level boilerplate signal (Lee et al. arXiv:2107.06499 at
# doc granularity).
@q("crossdoc_shared_shingles", f"""
WITH s AS (SELECT doc_id, unnest({_dd_shingles(3)}) AS sh FROM documents),
c AS (SELECT sh, COUNT(*) AS nd FROM s GROUP BY sh),
j AS (SELECT s.doc_id, CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END AS shared
      FROM s JOIN c USING (sh))
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(shared) AS BIGINT) AS n_shared,
       ROUND(CAST(SUM(shared) AS DOUBLE) / COUNT(*), 4) AS shared_frac
FROM j GROUP BY doc_id
""")
def crossdoc_shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.crossdoc import shared_shingle_stats
    d = _tp(spark, sf_dir, "documents")
    return shared_shingle_stats(d, k=3, min_docs=2)


# SemDeDup (operators/semdedup.py): deterministic-IVF clusters as the
# blocking key, within-cluster cosine pairs, one survivor (smallest
# id) per connected near-dup group. DuckDB reproduces the centroid
# sample, cluster assignment, pair set, and the transitive closure.
def _semdedup_oracle(threshold: float = 0.5) -> str:
    # n_clusters is auto-sized by the ONE ivf_nlist rule (~4*sqrt(n),
    # chooser.py) on the Spark side; the nl CTE replays the identical
    # GREATEST(8, FLOOR(4*sqrt(count))) arithmetic so the blocking —
    # and therefore the pair set and closure — matches at any scale.
    eu = ("sqrt(list_sum(list_transform(list_zip({x}, c), "
          "p -> (p[1]-p[2])*(p[1]-p[2]))))")
    sim = ("CASE WHEN sqrt(list_inner_product(a.v, a.v)) = 0"
           "       OR sqrt(list_inner_product(b.v, b.v)) = 0 THEN 0.0 "
           "ELSE LEAST(GREATEST(list_inner_product(a.v, b.v)"
           " / (sqrt(list_inner_product(a.v, a.v))"
           " * sqrt(list_inner_product(b.v, b.v))), -1.0), 1.0) END")
    return f"""
WITH RECURSIVE e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
nl AS (SELECT GREATEST(8, CAST(FLOOR(4 * SQRT(COUNT(*))) AS INT)) AS nc
       FROM e),
cent AS (SELECT v, h, vec_id
         FROM (SELECT v, md5(CAST(vec_id AS VARCHAR)) AS h, vec_id FROM e)
         QUALIFY row_number() OVER (ORDER BY h, vec_id)
                 <= (SELECT nc FROM nl)),
cents AS (SELECT list(v ORDER BY h, vec_id) AS cs FROM cent),
assigned AS (
  SELECT vec_id, label, v, list_position(ds, list_min(ds)) - 1 AS cluster
  FROM (SELECT vec_id, label, v,
          list_transform((SELECT cs FROM cents), c -> {eu.format(x='v')}) AS ds
        FROM e)),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {sim} >= {threshold}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION
  SELECT id_b AS a, id_a AS b FROM p),
reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT ed.a, reach.r FROM edges ed JOIN reach ON ed.b = reach.node),
losers AS (
  SELECT node FROM (SELECT node, min(r) AS component FROM reach GROUP BY node)
  WHERE node <> component)
SELECT vec_id, label FROM e WHERE vec_id NOT IN (SELECT node FROM losers)
"""


@q("dedup_semantic_ivf", _semdedup_oracle())
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.semdedup import semantic_dedup
    e = _tp(spark, sf_dir, "embeddings")
    # n_clusters=None -> ivf_nlist(count): blocking scales as 4*sqrt(N)
    # (pair work O(N^1.5)); the oracle's nl CTE replays the same rule
    return semantic_dedup(e, n_clusters=None, threshold=0.5) \
        .select("vec_id", "label")


# Per-source token-budget mixture construction (sampling.
# token_budget_sample): deterministic md5-order walk per source, keep
# docs until the budget is crossed. The oracle replays the identical
# window arithmetic, so membership AND running totals are value-checked.
@q("mixture_token_budget", f"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN 0 ELSE len({_DD_TOKS}) END AS n_tok,
         {_DD_U.format(salt='budget')} AS u
  FROM documents),
w AS (
  SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY u, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
           AS BIGINT) AS cum_before
  FROM t)
SELECT doc_id, source, n_tok, cum_before FROM w
WHERE (source = 'src0' AND cum_before < 2000)
   OR (source = 'src1' AND cum_before < 500)
""")
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import token_budget_sample
    d = _t(spark, sf_dir, "documents")
    return token_budget_sample(d, {"src0": 2000, "src1": 500}) \
        .select("doc_id", "source", "n_tok", "cum_before")


# Token budgeting on REAL BPE counts (r9): the end-to-end shape a
# training pipeline runs — induce a merge table (learn_bpe), segment
# every document word with it (bpe.segment, the tokenizer-inference
# path), count symbols per doc, then the exact md5-order budget walk.
# The oracle replays ALL of it: each merge round is two CTEs (argmax
# pair by weight desc / lex asc, then the greedy left-to-right fuse
# as a replace() over a chr(1)/chr(2)-wrapped symbol string — scan
# semantics identical to the _fuse fold), then the per-doc symbol
# counts and the same window arithmetic as mixture_token_budget.
# cap: demo merge-table size — each merge is one vocab-sized Spark
# round AND two oracle CTEs, so the pinned 6 keeps the DuckDB replay
# tractable; production tables (1k-10k merges) route through
# bpe.segment's Arrow tier past EXPR_MAX_MERGES, same semantics.
_BPE_BUDGET_MERGES = 6
_BPE_BUDGETS = {"src0": 4000, "src1": 1000}


def _bpe_budget_oracle(n_merges: int = _BPE_BUDGET_MERGES,
                       budgets: dict[str, int] | None = None) -> str:
    budgets = budgets or _BPE_BUDGETS
    w1, w2 = "chr(1)", "chr(2)"
    wrap = (f"{w1} || array_to_string(string_split(word, ''), "
            f"{w2} || {w1}) || {w2}")

    def unwrap(col: str) -> str:
        return f"string_split(substr({col}, 2, len({col}) - 2), {w2} || {w1})"

    parts = [f"""w AS (
  SELECT t AS word, COUNT(*) AS freq
  FROM (SELECT unnest(string_split({_DD_NORM}, ' ')) AS t FROM documents)
  WHERE t <> '' GROUP BY t),
v0 AS (SELECT word, freq, {wrap} AS s FROM w)"""]
    for k in range(1, n_merges + 1):
        parts.append(f"""p{k} AS (
  SELECT s2[i] AS lsym, s2[i + 1] AS rsym
  FROM (SELECT freq, {unwrap('s')} AS s2 FROM v{k - 1}),
       UNNEST(range(1, greatest(len(s2), 1))) AS t(i)
  GROUP BY lsym, rsym
  ORDER BY SUM(freq) DESC, lsym ASC, rsym ASC LIMIT 1)""")
        parts.append(f"""v{k} AS (
  SELECT word, freq,
         replace(s, {w1} || lsym || {w2} || {w1} || rsym || {w2},
                 {w1} || lsym || rsym || {w2}) AS s
  FROM v{k - 1}, p{k})""")
    where = " OR ".join(f"(source = '{s}' AND cum_before < {int(b)})"
                        for s, b in sorted(budgets.items()))
    parts.append(f"""wn AS (
  SELECT word, len({unwrap('s')}) AS n_sym FROM v{n_merges}),
wpd AS (
  SELECT doc_id, t AS word
  FROM (SELECT doc_id, unnest(string_split({_DD_NORM}, ' ')) AS t
        FROM documents)
  WHERE t <> ''),
dt AS (
  SELECT p.doc_id, SUM(n.n_sym) AS n_tok
  FROM wpd p JOIN wn n USING (word) GROUP BY p.doc_id),
dtok AS (
  SELECT d.doc_id, d.source,
         CAST(COALESCE(t.n_tok, 0) AS BIGINT) AS n_tok,
         {_DD_U.format(salt='budget').replace('doc_id', 'd.doc_id')} AS u
  FROM documents d LEFT JOIN dt t ON d.doc_id = t.doc_id),
wk AS (
  SELECT doc_id, source, n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY u, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
           AS BIGINT) AS cum_before
  FROM dtok)
SELECT doc_id, source, n_tok, cum_before FROM wk WHERE {where}""")
    return "WITH " + ",\n".join(parts)


def _bpe_batched_oracle(n_rounds: int = 2) -> str:
    """Replay BATCHED BPE learning (r10): per round, rank pairs by
    (weight desc, left, right), truncate to the Spark tier's candidate
    window (max(4*want, 8) = 8 at batch=2), pick the top pair, then
    the best remaining pair sharing no symbol with the first pick NOR
    its fused output (bpe.pick_disjoint_batch's used-set rule), and
    fuse both greedy-left-to-right (disjoint picks commute; the
    replace() scan was validated against the _fuse fold in r9). The
    final per-word symbol counts value-hash the whole batched
    mechanism, including the pandas-UDF multi-merge fuse tier."""
    w1, w2 = "chr(1)", "chr(2)"
    wrap = (f"{w1} || array_to_string(string_split(word, ''), "
            f"{w2} || {w1}) || {w2}")

    def unwrap(col: str) -> str:
        return f"string_split(substr({col}, 2, len({col}) - 2), {w2} || {w1})"

    def patt(l: str, r: str) -> str:
        return f"{w1} || {l} || {w2} || {w1} || {r} || {w2}"

    def fused(l: str, r: str) -> str:
        return f"{w1} || {l} || {r} || {w2}"

    parts = [f"""w AS (
  SELECT t AS word, COUNT(*) AS freq
  FROM (SELECT unnest(string_split({_DD_NORM}, ' ')) AS t FROM documents)
  WHERE t <> '' GROUP BY t),
v0 AS (SELECT word, freq, {wrap} AS s FROM w)"""]
    for k in range(1, n_rounds + 1):
        parts.append(f"""r{k} AS (
  SELECT s2[i] AS lsym, s2[i + 1] AS rsym, SUM(freq) AS wgt
  FROM (SELECT freq, {unwrap('s')} AS s2 FROM v{k - 1}),
       UNNEST(range(1, greatest(len(s2), 1))) AS t(i)
  GROUP BY lsym, rsym
  ORDER BY wgt DESC, lsym ASC, rsym ASC LIMIT 8)""")
        parts.append(f"""a{k} AS (
  SELECT lsym, rsym FROM r{k}
  ORDER BY wgt DESC, lsym ASC, rsym ASC LIMIT 1)""")
        parts.append(f"""b{k} AS (
  SELECT r.lsym, r.rsym FROM r{k} r, a{k} a
  WHERE r.lsym NOT IN (a.lsym, a.rsym, a.lsym || a.rsym)
    AND r.rsym NOT IN (a.lsym, a.rsym, a.lsym || a.rsym)
  ORDER BY r.wgt DESC, r.lsym ASC, r.rsym ASC LIMIT 1)""")
        parts.append(f"""u{k} AS (
  SELECT word, freq,
         replace(s, {patt('a.lsym', 'a.rsym')},
                 {fused('a.lsym', 'a.rsym')}) AS s
  FROM v{k - 1}, a{k} a)""")
        parts.append(f"""v{k} AS (
  SELECT word, freq,
         COALESCE((SELECT replace(u.s, {patt('b.lsym', 'b.rsym')},
                                  {fused('b.lsym', 'b.rsym')})
                   FROM b{k} b), u.s) AS s
  FROM u{k} u)""")
    parts.append(f"""SELECT word,
       CAST(len({unwrap('s')}) AS BIGINT) AS n_sym
FROM v{n_rounds}""")
    tail = parts.pop()
    return "WITH " + ",\n".join(parts) + "\n" + tail


@q("bpe_learn_batched", _bpe_batched_oracle())
def bpe_learn_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4 merges at batch=2: two rounds of (rank -> disjoint pick x2 ->
    # one-pass fuse through the pandas-UDF tier)
    from .operators.bpe import learn_bpe
    d = _tp(spark, sf_dir, "documents")
    _, vocab = learn_bpe(d, n_merges=4, batch=2)
    return vocab.select(
        "word", F.size("syms").cast("bigint").alias("n_sym"))


@q("mixture_token_budget_bpe", _bpe_budget_oracle())
def mixture_token_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_for_fingerprint
    from .operators.bpe import learn_bpe, segment
    from .operators.sampling import token_budget_sample
    d = _tp(spark, sf_dir, "documents")
    merges, _ = learn_bpe(d, n_merges=_BPE_BUDGET_MERGES)
    toks = F.split(normalize_for_fingerprint(F.col("text")), " ")
    wpd = (d.select("doc_id", "source", F.explode(toks).alias("word"))
           .filter(F.col("word") != ""))
    # tokenizer inference over the distinct-word table (vocab-sized),
    # then one join back — never segment per occurrence
    wn = segment(wpd.select("word").distinct(), merges) \
        .select("word", F.size("syms").alias("__n_sym"))
    per_doc = (wpd.join(wn, "word")
               .groupBy("doc_id", "source")
               .agg(F.sum("__n_sym").alias("n_tok_bpe")))
    dtok = (d.select("doc_id", "source")
            .join(per_doc, ["doc_id", "source"], "left")
            .withColumn("n_tok_bpe",
                        F.coalesce("n_tok_bpe", F.lit(0)).cast("bigint")))
    return token_budget_sample(dtok, _BPE_BUDGETS,
                               n_tok_col="n_tok_bpe") \
        .select("doc_id", "source", "n_tok", "cum_before")


# Temperature-flattened source mixing (sampling.temperature_sample):
# per-source keep fraction min(1, f*N*q_s/n_s) with q_s ∝ n_s^alpha —
# the exponential-smoothing recipe that keeps big sources from
# drowning small ones. One tiny source-count aggregate, broadcast
# back; membership is the md5 rule, exact in the oracle.
@q("mixture_temperature", f"""
WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
t AS (SELECT SUM(n) AS N, SUM(POW(n, 0.5)) AS Z FROM c),
k AS (SELECT source,
             LEAST(1.0, 0.3 * t.N * (POW(c.n, 0.5) / t.Z) / c.n) AS keep
      FROM c, t)
SELECT d.doc_id, d.source FROM documents d JOIN k ON d.source = k.source
WHERE ('0x' || substr(md5('temp' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      / 4294967296.0 < k.keep
""")
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import temperature_sample
    d = _t(spark, sf_dir, "documents")
    return temperature_sample(d, "doc_id", "source", alpha=0.5,
                              total_fraction=0.3) \
        .select("doc_id", "source")


# Markup extraction (functions/text.strip_markup — the raw-crawl ->
# text step): markup is injected deterministically around each doc
# (tags, script/style blocks with junk contents, entities), stripped,
# and the recovered text is md5-checked. Same RE2 patterns both
# engines.
@q("text_strip_markup", r"""
WITH w AS (
  SELECT doc_id,
         '<p class=''x''>' || text || '</p>'
         || CASE WHEN doc_id % 3 = 0
                 THEN '<script type=''text/javascript''>var x = ''<b>'';</script>'
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN ' &amp; tail &lt;raw&gt;' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN '<style>p { color: red; }</style>'
                 ELSE '' END AS raw
  FROM documents),
s AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(raw, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                 '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '<[^>]+>', ' ', 'g'),
             '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
             '&quot;', '"'), '&#39;', ''''),
           '\s+', ' ', 'g')) AS clean
  FROM w)
SELECT doc_id, CAST(length(clean) AS BIGINT) AS n_chars,
       md5(clean) AS clean_md5
FROM s
""")
def text_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import strip_markup
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw = F.concat(
        F.lit("<p class='x'>"), F.col("text"), F.lit("</p>"),
        F.when(did % 3 == 0,
               F.lit("<script type='text/javascript'>var x = '<b>';"
                     "</script>")).otherwise(F.lit("")),
        F.when(did % 4 == 0,
               F.lit(" &amp; tail &lt;raw&gt;")).otherwise(F.lit("")),
        F.when(did % 5 == 0,
               F.lit("<style>p { color: red; }</style>"))
        .otherwise(F.lit("")))
    clean = strip_markup(raw)
    return d.select("doc_id",
                    F.length(clean).cast("bigint").alias("n_chars"),
                    F.md5(clean).alias("clean_md5"))


# Corpus-relative unigram LM scoring (operators/lmscore.py — the CCNet
# perplexity-bucketing recipe with the corpus's own smoothed unigram
# model): mean -ln p(token) per doc. The oracle replays counts, the
# model scalars, and the per-doc average.
@q("lm_unigram_scores", f"""
WITH ti AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id, unnest(string_split({_DD_NORM}, ' ')) AS t
        FROM documents)
  WHERE t <> ''),
counts AS (SELECT term, COUNT(*) AS c FROM ti GROUP BY term),
scal AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM counts)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(-ln((c + 0.5) / (n + 0.5 * v))), 4) AS avg_neg_logprob
FROM ti JOIN counts USING (term), scal
GROUP BY doc_id
""")
def lm_unigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.lmscore import unigram_scores
    d = _tp(spark, sf_dir, "documents")
    return unigram_scores(d, alpha=0.5) \
        .select("doc_id", "n_tokens",
                F.round("avg_neg_logprob", 4).alias("avg_neg_logprob"))


# Table profiling (operators/profile.py): per-column null counts,
# exact cardinalities, native-type min/max — one aggregate pass,
# unpivoted plan-side. Exact tier here so the oracle hash-checks it;
# approximate=True (HLL++) is the 100 TB default.
def _profile_oracle(cols: list[str]) -> str:
    selects = [
        f"""SELECT '{c}' AS col_name,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_value,
       CAST(MAX({c}) AS VARCHAR) AS max_value
FROM orders"""
        for c in cols]
    return "\nUNION ALL\n".join(selects)


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus",
                 "o_orderpriority"]


# Quantile profiling (profile.numeric_quantiles): exact interpolated
# per-group quantiles — Spark `percentile` and DuckDB `quantile_cont`
# share linear interpolation, so the values oracle exactly.
@q("profile_order_quantiles", """
WITH q AS (
  SELECT o_orderstatus,
         quantile_cont(o_totalprice, [0.25, 0.5, 0.75, 0.95]) AS v
  FROM orders GROUP BY o_orderstatus)
SELECT o_orderstatus, 'o_totalprice' AS col_name,
       CAST([0.25, 0.5, 0.75, 0.95][i] AS DOUBLE) AS q, ROUND(v[i], 4) AS value
FROM q, UNNEST(range(1, 5)) AS t(i)
""")
def profile_order_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import numeric_quantiles
    o = _t(spark, sf_dir, "orders")
    return numeric_quantiles(o, ["o_totalprice"],
                             [0.25, 0.5, 0.75, 0.95],
                             group_col="o_orderstatus") \
        .withColumn("value", F.round("value", 4))


@q("profile_orders", _profile_oracle(_PROFILE_COLS))
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import profile_table
    o = _t(spark, sf_dir, "orders")
    return profile_table(o, _PROFILE_COLS)


# Corpus-wide duplicated-span removal (operators/spandedup.py — the
# Lee et al. arXiv:2107.06499 substring-dedup recipe at fixed 8-token
# spans): every repeated span keeps only its first (doc_id, pos)
# occurrence; docs are reassembled from survivors. The oracle replays
# chunking, the global winner pick, and the ordered reassembly — the
# rebuilt TEXT is value-checked, not just counts.
@q("span_dedup_docs", f"""
WITH t AS (SELECT doc_id, {_DD_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(list_slice(toks, i*8 + 1, i*8 + 8), ' ') AS span
  FROM t, UNNEST(range(0, greatest(CAST(ceil(len(toks) / 8.0) AS BIGINT), 1)))
       AS u(i)),
r AS (SELECT doc_id, pos, span,
             row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rk
      FROM s)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN rk = 1 OR span = '' THEN span END,
                           ' ' ORDER BY pos), '') AS clean_text,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN rk = 1 OR span = '' THEN 0 ELSE 1 END) AS BIGINT)
         AS n_removed
FROM r GROUP BY doc_id
""")
def span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.spandedup import span_dedup
    d = _tp(spark, sf_dir, "documents")
    return span_dedup(d, span_tokens=8)


# Streaming corpus clean (streaming/corpus.py) with a FULL value
# oracle: quality gate + per-fingerprint dedup registry over an
# AvailableNow drain of the documents file stream; every output column
# is an order-insensitive aggregate, so the complete-mode result must
# equal the batch GROUP BY value-for-value.
def _clean_streaming_oracle(q_threshold: float = 0.6) -> str:
    stops = _dd_stoplist("en")
    return f"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN 0 ELSE len({_DD_TOKS}) END AS n_tok,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         len(list_filter({_DD_TOKS}, x -> list_contains({stops}, x))) AS stop_hits
  FROM documents
), scored AS (
  SELECT doc_id, text,
    0.4 * least(n_tok / 20.0, 1.0)
  + 0.2 * (CASE WHEN n_tok > 0 AND CAST(n_chars AS DOUBLE) / n_tok >= 3.0
                 AND CAST(n_chars AS DOUBLE) / n_tok <= 10.0 THEN 1.0 ELSE 0.5 END)
  + 0.2 * least((CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) * 20.0, 1.0)
  + 0.2 * least((CASE WHEN n_tok > 0 THEN CAST(stop_hits AS DOUBLE) / n_tok ELSE 0.0 END) * 4.0, 1.0)
    AS quality
  FROM t
), kept AS (
  SELECT doc_id, quality, md5({_DD_NORM}) AS fingerprint
  FROM scored WHERE quality >= {q_threshold}
)
SELECT fingerprint, CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       ROUND(MAX(quality), 4) AS best_quality
FROM kept GROUP BY fingerprint
"""


@q("corpus_clean_streaming", _clean_streaming_oracle())
def corpus_clean_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.corpus import clean_report_stream, read_document_stream
    from .streaming.events import run_available_now
    src = read_document_stream(
        spark, os.path.join(sf_dir, "documents.parque[t]"),
        max_files_per_trigger=None)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   _stream_partitions(spark, sf_dir))
    try:
        run_available_now(clean_report_stream(src, 0.6),
                          "corpus_clean_streaming")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table("corpus_clean_streaming")


# Cross-source duplicate leakage (dedup.source_overlap_matrix): which
# sources mirror each other, counted in DISTINCT shared fingerprints.
# Per-source presence is deduped BEFORE the pair join, so a
# fingerprint contributes one row per source pair no matter how many
# raw docs carry it — the oracle replays exactly that.
# (The synthetic corpus has no natural cross-source exact dups, so
# docs with doc_id % 4 = 0 are rewritten to one of 7 shared
# boilerplate templates (modulus coprime with the 20-source cycle, so
# each template genuinely straddles sources) — mirrored-content injection, replayed by the
# oracle — making the matrix genuinely discriminate.)
@q("dedup_source_overlap", f"""
WITH t AS (
  SELECT source,
         CASE WHEN doc_id % 4 = 0
              THEN 'shared boilerplate block ' || CAST(doc_id % 7 AS VARCHAR)
              ELSE text END AS text
  FROM documents),
fs AS (SELECT DISTINCT md5({_DD_NORM}) AS fp, source FROM t)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_fingerprints
FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
GROUP BY a.source, b.source
""")
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import source_overlap_matrix
    d = _tp(spark, sf_dir, "documents")
    injected = d.select(
        "source",
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("shared boilerplate block "),
                        (F.col("doc_id") % 7).cast("string")))
        .otherwise(F.col("text")).alias("text"))
    return source_overlap_matrix(injected)


# Corpus vocabulary drift (operators/drift): JS-divergence attribution
# between the en slice (reference) and the rest (candidate) — the
# "did my new crawl shift, and which terms moved" QA report. The
# oracle replays both vocab counts, the union join, smoothing, the
# per-term JS contributions, and the top-k attribution order.
@q("corpus_vocab_drift", f"""
WITH ti AS (
  SELECT doc_id, lang, t AS term
  FROM (SELECT doc_id, lang,
               unnest(string_split({_DD_NORM}, ' ')) AS t
        FROM documents)
  WHERE t <> ''),
a AS (SELECT term, COUNT(*) AS c_ref FROM ti WHERE lang = 'en'
      GROUP BY term),
b AS (SELECT term, COUNT(*) AS c_cand FROM ti WHERE lang <> 'en'
      GROUP BY term),
j AS (SELECT term, COALESCE(c_ref, 0) AS c_ref,
             COALESCE(c_cand, 0) AS c_cand
      FROM a FULL OUTER JOIN b USING (term)),
s AS (SELECT SUM(c_ref) AS na, SUM(c_cand) AS nb, COUNT(*) AS v FROM j),
d AS (
  SELECT term, c_ref, c_cand,
         (c_ref + 0.5) / (na + 0.5 * v) AS p,
         (c_cand + 0.5) / (nb + 0.5 * v) AS q
  FROM j, s)
SELECT term, CAST(c_ref AS BIGINT) AS c_ref,
       CAST(c_cand AS BIGINT) AS c_cand,
       CASE WHEN q > p THEN 'cand' ELSE 'ref' END AS direction,
       ROUND(0.5 * p * ln(p / ((p + q) / 2))
           + 0.5 * q * ln(q / ((p + q) / 2)), 6) AS js_contrib
FROM d
ORDER BY 0.5 * p * ln(p / ((p + q) / 2))
       + 0.5 * q * ln(q / ((p + q) / 2)) DESC, term ASC
LIMIT 20
""")
def corpus_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.drift import top_divergent_terms
    d = _tp(spark, sf_dir, "documents")
    return top_divergent_terms(d.filter("lang = 'en'"),
                               d.filter("lang <> 'en'"), k=20) \
        .select("term", "c_ref", "c_cand", "direction",
                F.round("js_contrib", 6).alias("js_contrib"))


# Streaming decontamination: contamination_report lifts onto a
# document STREAM unchanged — its plan is map-side shingling, a
# stream-static broadcast left join against the static eval shingle
# set, and one stateful per-doc aggregate. All three decontam tiers
# (broadcast, bloom, streaming) run under the SAME oracle.
@q("decontam_streaming", _DECONTAM_ORACLE)
def decontam_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.chooser import text_tier
    from .operators.decontam import contamination_report
    from .operators.sampling import train_test_split
    from .streaming.corpus import read_document_stream
    from .streaming.events import run_available_now
    docs = _tp(spark, sf_dir, "documents")
    ev = train_test_split(docs, "doc_id", 0.1).filter("split = 'test'")
    src = train_test_split(
        read_document_stream(spark, os.path.join(sf_dir,
                                                 "documents.parque[t]"),
                             max_files_per_trigger=None),
        "doc_id", 0.1).filter("split = 'train'")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   _stream_partitions(spark, sf_dir))
    # the AvailableNow drain pushes the WHOLE corpus through one
    # trigger, so the train side's shingle tier must follow corpus
    # size like the batch twin does — a streaming frame can't be
    # sized, but the batch read of the same table can (footers, no job)
    tier = text_tier(docs)
    try:
        report = contamination_report(src, ev, n=5,
                                      train_tier=tier).select(
            "doc_id", F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.col("n_shared").cast("bigint").alias("n_shared"),
            "contaminated")
        run_available_now(report, "decontam_streaming")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table("decontam_streaming")


# Filter-funnel report (operators/funnel): ordered gate cascade with
# per-rule attrition — the C4/Gopher-paper accounting table. One scan,
# first-failing-rule index per row, one aggregate on that small int;
# the oracle replays the cascade with conditional sums per rule.
@q("corpus_filter_funnel", f"""
WITH t AS (
  SELECT length(trim(text)) > 0 AS r0,
         (CASE WHEN trim(text) = '' THEN 0 ELSE len({_DD_TOKS}) END) >= 20 AS r1,
         lang = 'en' AS r2
  FROM documents)
SELECT 0 AS rule_idx, 'nonempty' AS rule,
       CAST(COUNT(*) AS BIGINT) AS n_evaluated,
       CAST(SUM(CASE WHEN NOT r0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN r0 THEN 1 ELSE 0 END) AS BIGINT) AS n_surviving
FROM t
UNION ALL
SELECT 1, 'min_tokens',
       CAST(SUM(CASE WHEN r0 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN r0 AND NOT r1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN r0 AND r1 THEN 1 ELSE 0 END) AS BIGINT)
FROM t
UNION ALL
SELECT 2, 'lang_en',
       CAST(SUM(CASE WHEN r0 AND r1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN r0 AND r1 AND NOT r2 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN r0 AND r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT)
FROM t
""")
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import token_count
    from .operators.funnel import funnel_report
    d = _tp(spark, sf_dir, "documents")
    rules = [
        ("nonempty", F.length(F.trim(F.col("text"))) > 0),
        ("min_tokens", token_count(F.col("text")) >= 20),
        ("lang_en", F.col("lang") == "en"),
    ]
    return funnel_report(d, rules)


# CCNet's final step (lmscore.perplexity_buckets): per-language
# equal-frequency score buckets (1=head..3=tail). NTILE runs over the
# ROUNDED score + doc_id so the total order — and therefore the exact
# bucket assignment — is engine-independent (unrounded float ranks
# could swap near-ties across engines; rounded ties fall to the id).
@q("lm_perplexity_buckets", f"""
WITH ti AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id, unnest(string_split({_DD_NORM}, ' ')) AS t
        FROM documents)
  WHERE t <> ''),
counts AS (SELECT term, COUNT(*) AS c FROM ti GROUP BY term),
scal AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM counts),
scored AS (
  SELECT doc_id,
         ROUND(AVG(-ln((c + 0.5) / (n + 0.5 * v))), 4) AS score
  FROM ti JOIN counts USING (term), scal
  GROUP BY doc_id)
SELECT s.doc_id, d.lang, s.score,
       CAST(NTILE(3) OVER (PARTITION BY d.lang
                           ORDER BY s.score ASC, s.doc_id ASC) AS INT)
         AS bucket
FROM scored s JOIN documents d USING (doc_id)
""")
def lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.lmscore import perplexity_buckets, unigram_scores
    d = _tp(spark, sf_dir, "documents")
    scored = unigram_scores(d).select(
        "doc_id", F.round("avg_neg_logprob", 4).alias("score"))
    joined = scored.join(d.select("doc_id", "lang"), "doc_id")
    return perplexity_buckets(joined, n_buckets=3, group_col="lang",
                              score_col="score") \
        .select("doc_id", "lang", "score", F.col("bucket").cast("int"))


# Overlapping sliding-window chunking (packing.chunk_with_overlap):
# the RAG/embedding-input regime — per-doc windows of chunk_tokens
# whitespace tokens at the given stride, final chunk short, map-only.
# The oracle rebuilds every chunk's TEXT, so tokenization, window
# arithmetic, and reassembly are all value-checked.
_CHUNK_T, _CHUNK_S = 32, 24


@q("corpus_chunk_overlap", f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents),
c AS (
  SELECT doc_id, tk, len(tk) AS n,
         CASE WHEN len(tk) = 0 THEN 0
              ELSE 1 + GREATEST(0, CAST(ceil((len(tk) - {_CHUNK_T})
                   / CAST({_CHUNK_S} AS DOUBLE)) AS BIGINT)) END AS nc
  FROM t),
x AS (SELECT doc_id, tk, n, unnest(range(0, nc)) AS i FROM c)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       CAST(i * {_CHUNK_S} AS BIGINT) AS start_tok,
       CAST(len(list_slice(tk, i * {_CHUNK_S} + 1,
                           LEAST(i * {_CHUNK_S} + {_CHUNK_T}, n)))
            AS BIGINT) AS n_tok,
       array_to_string(list_slice(tk, i * {_CHUNK_S} + 1,
                                  LEAST(i * {_CHUNK_S} + {_CHUNK_T}, n)), ' ')
         AS chunk_text
FROM x
""")
def corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import chunk_with_overlap
    d = _tp(spark, sf_dir, "documents")
    return chunk_with_overlap(d, chunk_tokens=_CHUNK_T, stride=_CHUNK_S)


# Embedding-space cluster analytics (IvfIndex.cluster_stats): the
# corpus-cartography report over deterministic-IVF clusters — per
# cluster: size, mean/max distance to centroid, dominant label. The
# oracle replays centroid selection, assignment, both distance
# aggregates, and the count-desc/label-asc dominant-label ranking.
def _cluster_stats_oracle(n_centroids: int = 8) -> str:
    # cap: oracle twin replays the QUERY-side pinned demo layout
    eu = ("sqrt(list_sum(list_transform(list_zip({x}, c), "
          "p -> (p[1]-p[2])*(p[1]-p[2]))))")
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT v, md5(CAST(vec_id AS VARCHAR)) AS h, vec_id
         FROM e ORDER BY h, vec_id LIMIT {n_centroids}),
cents AS (SELECT list(v ORDER BY h, vec_id) AS cs FROM cent),
assigned AS (
  SELECT vec_id, label, list_position(ds, list_min(ds)) - 1 AS cluster,
         ds[list_position(ds, list_min(ds))] AS cd
  FROM (SELECT vec_id, label, v,
          list_transform((SELECT cs FROM cents), c -> {eu.format(x='v')}) AS ds
        FROM e)),
stats AS (
  SELECT cluster AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
         ROUND(AVG(cd), 4) AS avg_dist, ROUND(MAX(cd), 4) AS max_dist
  FROM assigned GROUP BY cluster),
lc AS (SELECT cluster AS cluster_id, label, CAST(COUNT(*) AS BIGINT) AS n
       FROM assigned GROUP BY cluster, label),
top AS (SELECT cluster_id, label AS top_label, n AS top_label_n
        FROM (SELECT *, ROW_NUMBER() OVER
                (PARTITION BY cluster_id ORDER BY n DESC, label ASC) AS rk
              FROM lc)
        WHERE rk = 1)
SELECT cluster_id, n_members, avg_dist, max_dist, top_label, top_label_n
FROM stats JOIN top USING (cluster_id)
"""


@q("embedding_cluster_stats", _cluster_stats_oracle())
def embedding_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import IvfIndex
    e = _t(spark, sf_dir, "embeddings")
    idx = IvfIndex.build_deterministic(e, n_centroids=8)
    return idx.cluster_stats(label_col="label") \
        .withColumn("cluster_id", F.col("cluster_id").cast("int"))


# URL / domain stats (operators/urlstats): the RefinedWeb-style
# URL-curation signal. Testdata text carries no URLs, so the query
# injects them deterministically by doc_id (the pii_scrub pattern) and
# the oracle replays injection + extraction + the domain aggregate.
def _url_oracle() -> str:
    from .operators.urlstats import DOMAIN_PATTERN, URL_PATTERN
    pat = URL_PATTERN.replace("'", "''")
    dpat = DOMAIN_PATTERN.replace("'", "''")
    return f"""
WITH t AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0
            THEN ' see https://Example.com/page.' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' via http://cdn.assets.net/app.js (and https://example.com/dup)'
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' ref https://sub.tracker.io/pixel?id=' || CAST(doc_id AS VARCHAR)
            ELSE '' END AS text
  FROM documents),
u AS (SELECT doc_id, unnest(regexp_extract_all(text, '{pat}')) AS url FROM t),
d AS (SELECT doc_id, lower(regexp_extract(url, '{dpat}', 1)) AS domain FROM u)
SELECT domain, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_urls
FROM d WHERE domain <> '' GROUP BY domain
"""


@q("url_domain_stats", _url_oracle())
def url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.urlstats import domain_stats
    d = _tp(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(did % 3 == 0, F.lit(" see https://Example.com/page."))
         .otherwise(F.lit("")),
        F.when(did % 5 == 0,
               F.lit(" via http://cdn.assets.net/app.js"
                     " (and https://example.com/dup)"))
         .otherwise(F.lit("")),
        F.when(did % 7 == 0,
               F.concat(F.lit(" ref https://sub.tracker.io/pixel?id="),
                        did.cast("string")))
         .otherwise(F.lit("")))
    return domain_stats(d.select("doc_id", injected.alias("text")))


# Bigram conditional LM scoring (lmscore.bigram_scores): the next
# rung of the quality ladder — mean -ln p(cur|prev) under the
# corpus's own smoothed bigram model; catches scrambled word ORDER
# the unigram scorer can't. The oracle replays pair construction,
# both count tables, vocab size, and the per-doc average.
@q("lm_bigram_scores", f"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split({_DD_NORM}, ' '), t -> t <> '') AS t
  FROM documents),
bi AS (
  SELECT doc_id, t[i] AS prev, t[i + 1] AS cur
  FROM tk, UNNEST(range(1, greatest(len(t), 1))) AS u(i)),
bc AS (SELECT prev, cur, COUNT(*) AS cb FROM bi GROUP BY prev, cur),
cc AS (SELECT prev, COUNT(*) AS ca FROM bi GROUP BY prev),
vv AS (SELECT COUNT(DISTINCT x) AS v
       FROM (SELECT unnest(t) AS x FROM tk))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(-ln((cb + 0.5) / (ca + 0.5 * v))), 4) AS avg_neg_logprob
FROM bi JOIN bc USING (prev, cur) JOIN cc USING (prev), vv
GROUP BY doc_id
""")
def lm_bigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.lmscore import bigram_scores
    d = _tp(spark, sf_dir, "documents")
    return bigram_scores(d).select(
        "doc_id", "n_bigrams",
        F.round("avg_neg_logprob", 4).alias("avg_neg_logprob"))


# Streaming frozen-model LM scoring (streaming/corpus.lm_score_stream):
# the unigram model is fit OFFLINE on the batch corpus, then every doc
# arriving on the stream is scored under it — the incremental-ingest
# quality gate. Scoring the same corpus the model was fit on makes the
# result equal unigram_scores exactly (every token in-vocabulary), so
# the stream drain shares the lm_unigram_scores value oracle.
@q("lm_score_streaming", f"""
WITH ti AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id, unnest(string_split({_DD_NORM}, ' ')) AS t
        FROM documents)
  WHERE t <> ''),
counts AS (SELECT term, COUNT(*) AS c FROM ti GROUP BY term),
scal AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM counts)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(-ln((c + 0.5) / (n + 0.5 * v))), 4) AS avg_neg_logprob
FROM ti JOIN counts USING (term), scal
GROUP BY doc_id
""")
def lm_score_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.lmscore import unigram_model
    from .streaming.corpus import lm_score_stream, read_document_stream
    from .streaming.events import run_available_now
    model = unigram_model(_tp(spark, sf_dir, "documents")) \
        .localCheckpoint(eager=True)
    src = read_document_stream(
        spark, os.path.join(sf_dir, "documents.parque[t]"),
        max_files_per_trigger=None)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   _stream_partitions(spark, sf_dir))
    try:
        run_available_now(lm_score_stream(src, model), "lm_score_streaming")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table("lm_score_streaming")


# DSIR importance resampling (operators/dsir.py, Xie et al.
# arXiv:2302.03169): hashed uni+bigram models for target (lang='en')
# vs raw pool, per-doc log importance ratio, deterministic Gumbel
# top-k selection. The audit form is registered — the oracle replays
# feature hashing, both models, the smoothed log-ratio sum AND the
# gumbel threshold, so weights for the WHOLE pool plus the exact
# selection set are value-checked.
_DSIR_B, _DSIR_K = 4096, 100


def _dsir_oracle(buckets: int = _DSIR_B, k: int = _DSIR_K,
                 alpha: float = 0.5, salt: str = "dsir") -> str:
    return f"""
WITH tk AS (
  SELECT doc_id, lang,
         list_filter(string_split({_DD_NORM}, ' '), t -> t <> '') AS t
  FROM documents),
fs AS (
  SELECT doc_id, lang,
         list_concat(t, CASE WHEN len(t) >= 2 THEN
             list_transform(range(0, len(t) - 1),
                            i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))
           ELSE [] END) AS f
  FROM tk),
inst AS (
  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS tgt,
         ('0x' || substr(md5(unnest(f)), 1, 8))::BIGINT % {buckets} AS bucket
  FROM fs),
cnt AS (SELECT bucket, COUNT(*) AS c_raw, SUM(tgt) AS c_tgt
        FROM inst GROUP BY bucket),
sc AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt FROM cnt),
wts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         SUM(ln((c_tgt + {alpha}) / (n_tgt + {alpha} * {buckets}))
           - ln((c_raw + {alpha}) / (n_raw + {alpha} * {buckets}))) AS w
  FROM inst JOIN cnt USING (bucket), sc
  GROUP BY doc_id),
keyed AS (
  SELECT doc_id, n_feats, w,
         w - ln(-ln((('0x' || substr(md5('{salt}:' || CAST(doc_id AS VARCHAR)),
                                     1, 8))::BIGINT + 0.5) / 4294967296.0))
           AS gkey
  FROM wts),
th AS (SELECT MIN(gkey) AS t FROM
         (SELECT gkey FROM keyed ORDER BY gkey DESC, doc_id ASC LIMIT {k}))
SELECT doc_id, n_feats, ROUND(w, 4) AS weight, gkey >= t AS selected
FROM keyed, th
"""


@q("dsir_select_en", _dsir_oracle())
def dsir_select_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dsir import selection_report
    d = _tp(spark, sf_dir, "documents")
    return selection_report(d, F.col("lang") == "en", k=_DSIR_K,
                            buckets=_DSIR_B) \
        .select("doc_id", "n_feats",
                F.round("weight", 4).alias("weight"), "selected")


# ---------------------------------------------------------------------------
# Driver-window ordering. The round driver records correctness for the
# FIRST 50 registry entries only; with 75 registered queries, registry
# order decides which operators the hard signal proves. _WINDOW lists
# one representative per operator FAMILY (every tier: scan/filter,
# agg/join/window/set, asof/sessions, SQL dialect, embedding, text
# quality, dedup, sampling, tfidf, decontam/PII/mix, media, events,
# batch knn joins, ANN indexes, streaming) — redundant in-family
# variants (e.g. 3 of the 4 exact-knn metrics) and entries that are
# rows-only by design sort after. Everything still runs under pytest
# and tools/check_oracle.py regardless of position.
# ---------------------------------------------------------------------------

_WINDOW = [
    # --- r12 rotation (optimization round). No post-freeze rows, no
    # new queries. Priority 1 is rule 3 (MECHANISM changed this
    # round): the PQ/IVF/LSH expression-tree rewrites (one transform
    # lambda over a nested-array literal instead of per-entry fold
    # copies — bit-identical by construction, but the driver hash is
    # the proof), the graph-gate changes (per-hop distinct removed,
    # collapse checkpointed), and every decode path that now pins
    # jpeg_backend="numpy". Then rule 4 (staleness): ALL 8 r7 and all
    # 8 r8 rows — after this window no registered query's last
    # driver-green round is older than r9 (VERDICT r11 Next #2), and
    # the one spare slot takes the alphabetically-first r9 row.
    #
    # mechanism changed: expression-tree rewrites (ANN/PQ/IVF/LSH):
    "ann_pq_adc_topk", "ann_pq_ip_topk", "ann_pq_rerank_topk",
    "ann_ivfpq_topk", "ann_ivf_det_topk", "ann_ivf_topk",
    "ann_lsh_topk", "range_search_pruned",
    "knn_join_ivf_batch", "knn_join_ivfpq_batch",
    "knn_join_ivfpq_rerank_batch", "knn_join_ivf_allpairs",
    "knn_join_auto_batch",           # chooser route (also r7-stale)
    "hard_negatives_ivf", "dedup_semantic_ivf",
    "embedding_cluster_stats", "knn_search_streaming",
    "knn_search_auto",
    # mechanism changed: graph-gate shuffle cuts:
    "ann_graph_recall_gate",
    "knn_join_graph_batch",          # also r7-stale
    # mechanism changed: jpeg_backend="numpy" pins on decode paths:
    "media_decode_stats", "media_decode_jpeg", "media_dhash_jpeg",
    "dedup_image_jpeg", "dedup_image_dhash", "media_dhash",
    "media_ahash", "knn_image_topk", "knn_join_image_batch",
    "media_decode_streaming", "media_resize_ppm", "media_decode_ppm",
    "media_decode_bmp", "media_decode_bmp_pad", "media_decode_png",
    # staleness: the remaining r7 rows (6):
    "dedup_jaccard_consecutive", "dedup_minhash_pairs",
    "dedup_minhash_signatures", "embedding_centroids_by_label",
    "events_funnel_within", "zorder_orders_locality",
    # staleness: every r8 row (8):
    "corpus_clean_pipeline", "dedup_simhash", "dedup_simhash_arrow",
    "media_frame_sample", "mixture_temperature", "sql_meta_ne_dialect",
    "text_fingerprints", "text_fingerprints_arrow",
    # spare slot: alphabetically-first r9 row:
    "agg_pricing_summary",
]



def _apply_window_order() -> None:
    missing = [n for n in _WINDOW if n not in _REGISTRY]
    if missing:
        raise AssertionError(f"_WINDOW names unknown queries: {missing}")
    if len(_WINDOW) != 50:
        raise AssertionError(f"_WINDOW must be exactly 50, got {len(_WINDOW)}")
    head = set(_WINDOW)
    ordered = {n: _REGISTRY[n] for n in _WINDOW}
    ordered.update((n, v) for n, v in _REGISTRY.items() if n not in head)
    _REGISTRY.clear()
    _REGISTRY.update(ordered)


_apply_window_order()
