"""Remaining SURVEY §2 operator families: catalog/schema introspection
(S2-S4), window analytics (W-family beyond cumsum), array/map ops (M1/M3),
distinct variants (A2 + approximate), scalar function library (F-family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence
from changegen_spark.operators.ids import prefix_sum
from changegen_spark.sources.tables import TABLES, load_table, load_tables


# --- S2/S3/S4: catalog discovery + schema introspection + row counts ---

def q_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table discovery against the directory (the reference's
    information_schema LIKE query, changegen/__main__.py:56-68) + per-table
    row and column counts (db.py:72-74, 187-190)."""
    tables = load_tables(spark, sf_dir)
    rows = [
        (name, tables[name].count(), len(tables[name].columns))
        for name in TABLES
        if name in tables
    ]
    return spark.createDataFrame(
        rows, "table_name string, n_rows long, n_cols int"
    ).orderBy("table_name")


def _catalog_sql() -> str:
    parts = [
        f"SELECT '{t}' AS table_name, (SELECT count(*) FROM {t}) AS n_rows, "
        f"(SELECT count(*) FROM information_schema.columns WHERE table_name = '{t}') AS n_cols"
        for t in TABLES
    ]
    return " UNION ALL ".join(parts) + " ORDER BY table_name"


Q_CATALOG_SQL = _catalog_sql()


# --- W-family: rank / lag analytics ---

def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order ranking + previous-order delta: rank, lag, and a
    range-framed running max."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    wt = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            cents.alias("price_cents"),
            F.rank().over(w).cast("long").alias("price_rank"),
            F.lag(cents).over(wt).alias("prev_price_cents"),
            F.max(cents)
            .over(wt.rowsBetween(Window.unboundedPreceding, 0))
            .alias("running_max_cents"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution-analytic window battery q_window_rank doesn't
    cover: ntile bucketing, percent_rank, cume_dist, and nth_value —
    per-customer over order price, total (price desc, orderkey) order.

    percent_rank = (rank-1)/(n-1) and cume_dist = rank_rows/n are exact
    rationals of small integers: the single IEEE division is bit-identical
    across engines, rounded to 6 dp by registry discipline anyway.
    Single-customer partitions make percent_rank 0/0-free by definition
    (Spark and DuckDB both define it as 0.0 for n=1)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 50 == 0
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            cents.alias("price_cents"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.nth_value(F.col("o_orderkey"), 2)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("second_best_orderkey"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


Q_WINDOW_FUNCS_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS second_best_orderkey
FROM orders WHERE o_custkey % 50 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


Q_WINDOW_RANK_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
       CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS price_rank,
       lag(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price_cents,
       max(CAST(round(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_max_cents
FROM orders WHERE o_custkey % 50 = 0
ORDER BY o_custkey, o_orderkey
"""


# --- M-family: collect ordered / flatten / explode round-trip ---

def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-preserving collect (the vertex-list reassembly hazard, SURVEY
    §7 risk 3): per order, linenumbers collected sorted, then re-exploded
    length and a flattened join of part keys — emitted as strings for
    stable hashing."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 200 == 0)
    per_order = li.groupBy("l_orderkey").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("l_linenumber", "l_partkey"))
            ),
            lambda s: s.getField("l_linenumber"),
        ).alias("linenumbers"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
            lambda s: s.getField("l_partkey"),
        ).alias("partkeys"),
    )
    return per_order.select(
        "l_orderkey",
        F.concat_ws(",", F.col("linenumbers")).alias("linenumbers_csv"),
        F.concat_ws(",", F.col("partkeys")).alias("partkeys_csv"),
        F.size("linenumbers").alias("n_lines"),
        F.element_at(F.col("partkeys"), 1).alias("first_partkey"),
    ).orderBy("l_orderkey")


Q_ARRAY_OPS_SQL = """
SELECT l_orderkey,
       array_to_string(list(l_linenumber ORDER BY l_linenumber, l_partkey), ',') AS linenumbers_csv,
       array_to_string(list(l_partkey ORDER BY l_linenumber, l_partkey), ',') AS partkeys_csv,
       CAST(count(*) AS INT) AS n_lines,
       list(l_partkey ORDER BY l_linenumber, l_partkey)[1] AS first_partkey
FROM lineitem WHERE l_orderkey % 200 = 0
GROUP BY l_orderkey ORDER BY l_orderkey
"""


# --- A2 exact + approximate distinct ---

def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


Q_COUNT_DISTINCT_SQL = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch distinct (the 100 TB profiling path — exact distinct at
    that scale is a full shuffle; the sketch is map-side mergeable).
    Engines' HLL implementations differ → rows-only driver check; the test
    suite bounds the error against the exact count instead."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", rsd=0.02).alias("n_parts_approx"))
        .orderBy("l_returnflag")
    )


# --- F-family scalar function sweep ---

def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math/date scalar battery with engine-identical semantics
    (the F11/F13 cast-and-format layer of the tag pipeline)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 500 == 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return orders.select(
        "o_orderkey",
        F.upper(F.col("o_orderpriority")).alias("prio_upper"),
        F.substring(F.col("o_orderpriority"), 1, 1).cast("int").alias("prio_num"),
        F.length(F.col("o_orderstatus")).alias("status_len"),
        F.concat_ws("#", F.col("o_orderstatus"), F.col("o_orderpriority")).alias("status_key"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        (cents % 97).alias("mod97"),
        F.abs(cents - 50_000_00).alias("abs_delta"),
        F.greatest(cents, F.lit(100_000_00)).alias("floor_price"),
    ).orderBy("o_orderkey")


Q_SCALAR_SQL = """
SELECT o_orderkey,
       upper(o_orderpriority) AS prio_upper,
       CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_num,
       CAST(length(o_orderstatus) AS INT) AS status_len,
       o_orderstatus || '#' || o_orderpriority AS status_key,
       CAST(year(o_orderdate) AS INT) AS y,
       CAST(month(o_orderdate) AS INT) AS m,
       CAST(day(o_orderdate) AS INT) AS d,
       CAST(round(o_totalprice*100) AS BIGINT) % 97 AS mod97,
       abs(CAST(round(o_totalprice*100) AS BIGINT) - 5000000) AS abs_delta,
       greatest(CAST(round(o_totalprice*100) AS BIGINT), 10000000) AS floor_price
FROM orders WHERE o_orderkey % 500 = 0
ORDER BY o_orderkey
"""


# --- §2.6 set operations: UNION / INTERSECT / EXCEPT ---

def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set ops over customer key sets: customers with recent
    orders vs high-value orders — union/intersect/except cardinalities
    plus the except members."""
    orders = load_table(spark, sf_dir, "orders")
    recent = orders.filter(F.col("o_orderdate") >= "2000-01-01").select(
        F.col("o_custkey").alias("k")
    ).distinct().transform(fence, "q_set_ops recent", eager=False)
    big = orders.filter(F.col("o_totalprice") > 350_000).select(
        F.col("o_custkey").alias("k")
    ).distinct().transform(fence, "q_set_ops big", eager=False)
    u = recent.union(big).distinct().count()
    i = recent.intersect(big).count()
    e = recent.exceptAll(big).distinct().count()
    return spark.createDataFrame(
        [("union", u), ("intersect", i), ("except", e)], "op string, n long"
    ).orderBy("op")


Q_SET_OPS_SQL = """
WITH recent AS (
  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
), big AS (
  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 350000
)
SELECT 'union' AS op, CAST((SELECT count(*) FROM (SELECT k FROM recent UNION SELECT k FROM big)) AS BIGINT) AS n
UNION ALL
SELECT 'intersect', (SELECT count(*) FROM (SELECT k FROM recent INTERSECT SELECT k FROM big))
UNION ALL
SELECT 'except', (SELECT count(*) FROM (SELECT k FROM recent EXCEPT SELECT k FROM big))
ORDER BY op
"""


# --- pivot (conditional aggregation) ---

def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot lineitem counts by return flag per linestatus — expressed as
    conditional aggregation so the oracle shape is engine-neutral."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.count(F.when(F.col("l_returnflag") == "A", 1)).alias("n_A"),
            F.count(F.when(F.col("l_returnflag") == "N", 1)).alias("n_N"),
            F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_R"),
        )
        .orderBy("l_linestatus")
    )


Q_PIVOT_SQL = """
SELECT l_linestatus,
       count(*) FILTER (l_returnflag = 'A') AS n_A,
       count(*) FILTER (l_returnflag = 'N') AS n_N,
       count(*) FILTER (l_returnflag = 'R') AS n_R
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
"""


# --- grouping sets / rollup (§2.4 'built-in if ever needed' — prove it) ---

def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("l_returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("l_linestatus"),
            "n",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q_ROLLUP_SQL = """
SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
       coalesce(l_linestatus, '<all>') AS l_linestatus,
       count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


# --- P2/F12: hstore parse + column-precedence merge, direct oracle ---

def q_hstore_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the hstore layer exactly: build a Postgres-style hstore
    literal from part columns (with an embedded comma in one value — the
    case the reference's naive parser breaks on, changegen/db.py:20-21),
    parse it with operators.tags.parse_hstore, merge under column
    precedence, and emit extracted keys."""
    from changegen_spark.operators.tags import merge_hstore_tags, parse_hstore

    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 100 == 0)
    hstore = F.concat(
        F.lit('"brand"=>"'), F.col("p_brand"),
        F.lit('", "typ"=>"'), F.col("p_type"),
        F.lit('", "label"=>"sz '), F.col("p_size").cast("string"),
        F.lit(', boxed"'),
    )
    col_tags = F.create_map(F.lit("brand"), F.lit("column-wins")).cast(
        "map<string,string>"
    )
    merged = merge_hstore_tags(col_tags, parse_hstore(hstore))
    return part.select(
        "p_partkey",
        F.element_at(merged, "brand").alias("brand"),
        F.element_at(merged, "typ").alias("typ"),
        F.element_at(merged, "label").alias("label"),
        F.size(merged).alias("n_tags"),
    ).orderBy("p_partkey")


Q_HSTORE_SQL = """
SELECT p_partkey,
       'column-wins' AS brand,          -- column precedence discards hstore 'brand'
       p_type AS typ,
       'sz ' || CAST(p_size AS VARCHAR) || ', boxed' AS label,  -- embedded comma preserved
       3 AS n_tags
FROM part WHERE p_partkey % 100 = 0
ORDER BY p_partkey
"""


# --- exact percentiles (ordered-statistic aggregate) ---

def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median/p90 of quantity per return flag — `percentile` is the
    exact interpolating ordered-statistic (matches DuckDB quantile_cont);
    the sketch-based approx twin for 100 TB is percentile_approx."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("double")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile(qty, F.lit(0.5)), 6).alias("median_qty"),
            F.round(F.percentile(qty, F.lit(0.9)), 6).alias("p90_qty"),
            F.round(F.avg(qty), 6).alias("avg_qty"),
        )
        .orderBy("l_returnflag")
    )


Q_PERCENTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS median_qty,
       round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9), 6) AS p90_qty,
       round(avg(CAST(l_quantity AS DOUBLE)), 6) AS avg_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics (stddev / covariance / correlation) per
    return flag, computed from EXACT integer sums: built-in stddev/corr
    aggregate in float and their partial-merge order differs between
    engines, so instead Σx, Σx², Σy, Σy², Σxy accumulate as longs
    (order-independent) and the closed-form moment formulas run once on the
    exact sums — bit-identical across engines, and at scale still one
    map-side-combined shuffle.  x = quantity, y = price in whole dollars."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice")).cast("long")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, syy = F.col("sy").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    var_x = (n * sxx - sx * sx) / (n * (n - 1))
    var_y = (n * syy - sy * sy) / (n * (n - 1))
    cov = (n * sxy - sx * sy) / (n * (n - 1))
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return agg.select(
        "l_returnflag",
        "n",
        F.round(F.sqrt(var_x), 6).alias("stddev_qty"),
        F.round(F.sqrt(var_y), 6).alias("stddev_price"),
        F.round(cov, 6).alias("covar_qty_price"),
        F.round(corr, 6).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


Q_STATS_MOMENTS_SQL = """
WITH s AS (
  SELECT l_returnflag,
         count(*) AS n,
         sum(CAST(l_quantity AS BIGINT)) AS sx,
         sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
         sum(CAST(round(l_extendedprice) AS BIGINT)) AS sy,
         sum(CAST(round(l_extendedprice) AS BIGINT)
             * CAST(round(l_extendedprice) AS BIGINT)) AS syy,
         sum(CAST(l_quantity AS BIGINT)
             * CAST(round(l_extendedprice) AS BIGINT)) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))), 6)
         AS stddev_qty,
       round(sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))), 6)
         AS stddev_price,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)), 6)
         AS covar_qty_price,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS corr_qty_price
FROM s ORDER BY l_returnflag
"""


PB_BINS = 1000
PB_PCTS = (50, 90, 99)


def q_percentile_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BINNED percentiles of the order price — the mergeable
    100 TB path next to q_percentiles' exact ordered statistic: an exact
    percentile needs a per-group sort of all values, while a fixed-bin
    histogram is ONE count aggregate with map-side combine, mergeable
    across any partitioning, with error bounded by the bin width
    ((max-min)/{PB_BINS} here).  Unlike t-digest/KLL sketches the result
    is bit-deterministic, so it oracle-checks.

    Output: (pct, bin_idx, upper_cents, n_le) — for each target
    percentile, the first bin whose cumulative count reaches
    ceil(pct*N/100), its upper price bound in cents, and the cumulative
    count at that bin.  All integer arithmetic.

    Plan: pass 1 aggregates (min, max, N) in cents; pass 2 is the
    histogram groupBy; the cumulative window runs over the {PB_BINS}-row
    histogram frame, never the data.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    bounds = o.agg(
        F.min(cents).alias("lo"),
        F.max(cents).alias("hi"),
        F.count("*").alias("n"),
    )
    hist = (
        o.select(cents.alias("c"))
        .crossJoin(F.broadcast(bounds))
        .groupBy(
            F.expr(f"((c - lo) * {PB_BINS}) div (hi - lo + 1)").alias("bin_idx")
        )
        .agg(F.count("*").alias("bc"))
    )
    wcum = Window.orderBy("bin_idx").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("n_le", F.sum("bc").over(wcum)).crossJoin(
        F.broadcast(bounds)
    )
    parts = []
    for pct in PB_PCTS:
        need = F.expr(f"({pct} * n + 99) div 100")
        parts.append(
            cum.filter(F.col("n_le") >= need)
            .orderBy("bin_idx")
            .limit(1)
            .select(
                F.lit(pct).alias("pct"),
                F.col("bin_idx").cast("long").alias("bin_idx"),
                F.expr(
                    f"lo + ((bin_idx + 1) * (hi - lo + 1)) div {PB_BINS}"
                ).alias("upper_cents"),
                "n_le",
            )
        )
    from functools import reduce as _reduce

    return _reduce(DataFrame.unionByName, parts).orderBy("pct")


Q_PERCENTILE_BINNED_SQL = f"""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
), bounds AS (
  SELECT min(c) AS lo, max(c) AS hi, count(*) AS n FROM c
), hist AS (
  SELECT ((c - lo) * {PB_BINS}) // (hi - lo + 1) AS bin_idx, count(*) AS bc
  FROM c CROSS JOIN bounds GROUP BY 1
), cum AS (
  SELECT bin_idx, sum(bc) OVER (ORDER BY bin_idx ROWS UNBOUNDED PRECEDING)
           AS n_le
  FROM hist
), pick AS (
  {" UNION ALL ".join(
    f'''(SELECT {pct} AS pct, CAST(bin_idx AS BIGINT) AS bin_idx,
        CAST(lo + ((bin_idx + 1) * (hi - lo + 1)) // {PB_BINS} AS BIGINT)
          AS upper_cents,
        CAST(n_le AS BIGINT) AS n_le
        FROM cum CROSS JOIN bounds
        WHERE n_le >= ({pct} * n + 99) // 100
        ORDER BY bin_idx LIMIT 1)'''
    for pct in PB_PCTS)}
)
SELECT * FROM pick ORDER BY pct
"""


MAD_K = 3  # the classic |x - median| > 3 * MAD outlier rule


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median, median absolute
    deviation, and the count of values with |v - median| > {MAD_K}*MAD —
    the rule that survives heavy tails where mean/std (q_moving_avg's z)
    get dragged by the outliers themselves.

    Values are e6-scaled integers before any statistic; the two nested
    medians use the exact interpolating percentile (Spark ``percentile``
    == DuckDB ``quantile_cont``, the q_percentiles-proven pairing), so
    both engines compute identical doubles.

    Scale: medians-per-group need the group's values — Spark's
    ``percentile`` aggregates without a global sort (per-group
    collection); at 100 TB swap in the binned-histogram estimate
    (q_percentile_binned's shape) per group."""
    ev = load_table(spark, sf_dir, "events")
    v6 = F.expr("CAST(round(value * 1000000) AS BIGINT)")
    med = ev.groupBy("event_type").agg(
        F.percentile(v6, F.lit(0.5)).alias("med_e6"),
        F.count("*").alias("n"),
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med_e6",
        "n",
        F.abs(v6 - F.col("med_e6")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med_e6").alias("med_e6"),
        F.first("n").alias("n"),
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad_e6"),
    )
    out = dev.join(
        F.broadcast(mad.select("event_type", "mad_e6")), "event_type"
    ).groupBy("event_type").agg(
        F.count_if(F.col("adev") > F.lit(MAD_K) * F.col("mad_e6")).alias(
            "n_outliers"
        ),
    )
    return (
        mad.join(out, "event_type")
        .select(
            "event_type",
            "n",
            F.round("med_e6", 6).alias("med_e6"),
            F.round("mad_e6", 6).alias("mad_e6"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


Q_MAD_OUTLIERS_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS v6 FROM events
), med AS (
  SELECT event_type, quantile_cont(v6, 0.5) AS med_e6, count(*) AS n
  FROM ev GROUP BY event_type
), dev AS (
  SELECT ev.event_type, med_e6, n, abs(v6 - med_e6) AS adev
  FROM ev JOIN med USING (event_type)
), mad AS (
  SELECT event_type, any_value(med_e6) AS med_e6, any_value(n) AS n,
         quantile_cont(adev, 0.5) AS mad_e6
  FROM dev GROUP BY event_type
)
SELECT d.event_type, m.n,
       round(m.med_e6, 6) AS med_e6, round(m.mad_e6, 6) AS mad_e6,
       count(*) FILTER (d.adev > {MAD_K} * m.mad_e6) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type, m.n, m.med_e6, m.mad_e6
ORDER BY d.event_type
"""


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the Gini coefficient of per-customer order
    revenue — Gini = (2·Σ rank·x) / (n·Σx) - (n+1)/n over revenues sorted
    ascending with a (revenue, custkey) total tie-break.

    The global rank is ``operators/ids.prefix_sum`` (range partitions,
    partition-local row_number, a broadcast per-partition offset frame) —
    no single-partition sort of the data ever happens, yet the rank is
    exact and partitioning-invariant.  Revenue is integer cents; Σ rank·x
    and Σx are exact integer sums, so the final double division is
    engine-identical.

    Output: one row (n_customers, total_cents, gini_e6)."""
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    ranked = prefix_sum(rev, ["cents", "o_custkey"]).select(
        "cents", F.col("run").alias("rank")
    )
    agg = ranked.agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.sum(F.col("rank") * F.col("cents")).alias("rank_weighted"),
    )
    gini = (
        F.lit(2.0) * F.col("rank_weighted") / (F.col("n_customers") * F.col("total_cents"))
        - (F.col("n_customers") + F.lit(1.0)) / F.col("n_customers")
    )
    return agg.select(
        "n_customers",
        "total_cents",
        F.round(gini, 6).alias("gini"),
    )


Q_GINI_SQL = """
WITH rev AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS rank
  FROM rev
)
SELECT count(*) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       round(2.0 * sum(rank * cents) / (count(*) * sum(cents))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
"""


def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling semantics battery on a synthesized nullable key
    (``nullif(o_custkey % 7, 3)`` over an orders slice): regular equality
    drops null keys from a self-join, null-safe equality (``<=>`` /
    IS NOT DISTINCT FROM) matches them — and Catalyst still plans the
    null-safe predicate as a hash EQUI-join (EqualNullSafe is a join
    key), so the semantics cost no plan quality.

    Output: one row (n_rows, n_null_keys, n_eq_pairs, n_nullsafe_pairs)
    with n_nullsafe_pairs - n_eq_pairs == n_null_keys² by construction."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 200 == 0)
    k = F.expr("nullif(o_custkey % 7, 3)")
    a = o.select(k.alias("k"))
    base = a.agg(
        F.count("*").alias("n_rows"),
        F.count_if(F.col("k").isNull()).alias("n_null_keys"),
    )
    eq = (
        a.alias("x")
        .join(a.alias("y"), F.col("x.k") == F.col("y.k"))
        .agg(F.count("*").alias("n_eq_pairs"))
    )
    ns = (
        a.alias("x")
        .join(a.alias("y"), F.col("x.k").eqNullSafe(F.col("y.k")))
        .agg(F.count("*").alias("n_nullsafe_pairs"))
    )
    return base.crossJoin(F.broadcast(eq)).crossJoin(F.broadcast(ns))


Q_NULL_SEMANTICS_SQL = """
WITH a AS (
  SELECT nullif(o_custkey % 7, 3) AS k
  FROM orders WHERE o_orderkey % 200 = 0
)
SELECT (SELECT count(*) FROM a) AS n_rows,
       (SELECT count(*) FROM a WHERE k IS NULL) AS n_null_keys,
       (SELECT count(*) FROM a x JOIN a y ON x.k = y.k) AS n_eq_pairs,
       (SELECT count(*) FROM a x JOIN a y ON x.k IS NOT DISTINCT FROM y.k)
         AS n_nullsafe_pairs
"""


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of the orders table — the one-pass summary a
    pipeline materializes before planning joins/partitioning on unfamiliar
    data: (col_name, n_rows, n_null, n_distinct, min_s, max_s) with min/max
    rendered canonically per type (doubles as cents, timestamps formatted)
    so the strings are engine-exact.

    Plan shape: ONE aggregate pass over the table produces a single row
    carrying all per-column stats, then an ``explode`` unpivots it to one
    row per column — the table is scanned once, not once per column.  The
    multi-column exact ``count_distinct`` expands the aggregate input
    |cols|-fold (Spark's Expand node) — the honest exact-answer cost; a
    100 TB profiler would swap in ``approx_count_distinct`` per column
    (single pass, no expand) and tolerate the ~2% HLL error, which the
    oracle cannot hash-match — exactness is the contract here."""
    o = load_table(spark, sf_dir, "orders")
    money = lambda c: F.round(F.col(c) * 100).cast("long").cast("string")  # noqa: E731
    ts = lambda c: F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    plain = lambda c: F.col(c).cast("string")  # noqa: E731
    specs = [
        ("o_orderkey", plain),
        ("o_custkey", plain),
        ("o_orderstatus", plain),
        ("o_totalprice", money),
        ("o_orderdate", ts),
        ("o_orderpriority", plain),
    ]
    # min/max aggregate on the NATIVE column (numeric/timestamp order) and
    # are canonicalized to strings only afterwards, on the single aggregated
    # value — canonicalizing per row and min/maxing strings would silently
    # switch numerics to lexicographic order ("99999" > "100000")
    aggs = [F.count("*").alias("n_rows")]
    for c, _canon in specs:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(F.col(c)).alias(f"mn_{c}"),
            F.max(F.col(c)).alias(f"mx_{c}"),
        ]
    one = load_table(spark, sf_dir, "orders").agg(*aggs)
    cols = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_null"),
                F.col(f"nd_{c}").alias("n_distinct"),
                canon(f"mn_{c}").alias("min_s"),
                canon(f"mx_{c}").alias("max_s"),
            )
            for c, canon in specs
        ]
    )
    return (
        one.select("n_rows", F.explode(cols).alias("s"))
        .select(
            F.col("s.col_name").alias("col_name"),
            "n_rows",
            F.col("s.n_null").alias("n_null"),
            F.col("s.n_distinct").alias("n_distinct"),
            F.col("s.min_s").alias("min_s"),
            F.col("s.max_s").alias("max_s"),
        )
        .orderBy("col_name")
    )


def _profile_canon_duck(c: str) -> str:
    if c.endswith("o_totalprice"):
        return f"CAST(CAST(round({c} * 100) AS BIGINT) AS VARCHAR)"
    if c.endswith("o_orderdate"):
        return f"strftime({c}, '%Y-%m-%d %H:%M:%S')"
    return f"CAST({c} AS VARCHAR)"


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]

Q_PROFILE_SQL = (
    "WITH agg AS (\n  SELECT count(*) AS n_rows,\n"
    + ",\n".join(
        f"    count({c}) AS nn_{c}, count(DISTINCT {c}) AS nd_{c},\n"
        f"    min({c}) AS mn_{c}, max({c}) AS mx_{c}"
        for c in _PROFILE_COLS
    )
    + "\n  FROM orders\n)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, n_rows, n_rows - nn_{c} AS n_null,\n"
        f"       nd_{c} AS n_distinct,\n"
        f"       {_profile_canon_duck(f'mn_{c}')} AS min_s,\n"
        f"       {_profile_canon_duck(f'mx_{c}')} AS max_s FROM agg"
        for c in _PROFILE_COLS
    )
    + "\nORDER BY col_name"
)


QUERIES = {
    "q_hstore_parse": q_hstore_parse,
    "q_profile": q_profile,
    "q_percentile_binned": q_percentile_binned,
    "q_mad_outliers": q_mad_outliers,
    "q_gini": q_gini,
    "q_null_semantics": q_null_semantics,
    "q_stats_moments": q_stats_moments,
    "q_percentiles": q_percentiles,
    "q_catalog": q_catalog,
    "q_window_rank": q_window_rank,
    "q_window_funcs": q_window_funcs,
    "q_array_ops": q_array_ops,
    "q_count_distinct": q_count_distinct,
    "q_approx_distinct": q_approx_distinct,
    "q_scalar_funcs": q_scalar_funcs,
    "q_rollup": q_rollup,
    "q_set_ops": q_set_ops,
    "q_pivot": q_pivot,
}

ORACLES = {
    "q_hstore_parse": Q_HSTORE_SQL,
    "q_profile": Q_PROFILE_SQL,
    "q_percentile_binned": Q_PERCENTILE_BINNED_SQL,
    "q_mad_outliers": Q_MAD_OUTLIERS_SQL,
    "q_gini": Q_GINI_SQL,
    "q_null_semantics": Q_NULL_SEMANTICS_SQL,
    "q_stats_moments": Q_STATS_MOMENTS_SQL,
    "q_percentiles": Q_PERCENTILES_SQL,
    "q_catalog": Q_CATALOG_SQL,
    "q_window_rank": Q_WINDOW_RANK_SQL,
    "q_window_funcs": Q_WINDOW_FUNCS_SQL,
    "q_array_ops": Q_ARRAY_OPS_SQL,
    "q_count_distinct": Q_COUNT_DISTINCT_SQL,
    "q_scalar_funcs": Q_SCALAR_SQL,
    "q_rollup": Q_ROLLUP_SQL,
    "q_set_ops": Q_SET_OPS_SQL,
    "q_pivot": Q_PIVOT_SQL,
}
