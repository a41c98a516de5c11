"""Relational query builders (DuckDB-oracled, SURVEY.md §2.2/2.4/2.5/2.6).

Each function takes (spark, sf_dir) and returns a DataFrame; ORACLE
holds the equivalent ANSI SQL for DuckDB over the pre-registered
testdata views. Column names are aliased identically on both sides
(driver hashes sort columns by name).

Float-determinism rules used throughout (so the driver's exact value
hash matches):
- sums of integer-valued doubles are exact → no rounding;
- sums/avgs of fractional doubles are order-dependent → ROUND(…, 4);
- sqrt/division of identical inputs are IEEE-identical → no rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

ORACLE: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- A3/A6: grouped aggregation pipeline (TPC-H Q1 shape; the engine
# analog of the reference's per-point summary rows, C_…R:118-125)
def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") < F.lit("1997-09-01"))  # P3 theta filter
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        )
    )


ORACLE["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_rows,
       ROUND(AVG(l_discount), 6) AS avg_disc
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1997-09-01'
GROUP BY l_returnflag, l_linestatus
"""


# --- A2/P6: filtered min — the oldest-year scalar pattern (C_…R:231)
def q_filtered_min(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice") > 0)
        .groupBy("o_orderstatus")
        .agg(F.min("o_totalprice").alias("min_price"),
             F.max("o_totalprice").alias("max_price"))
    )


ORACLE["filtered_min"] = """
SELECT o_orderstatus, MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
FROM orders WHERE o_totalprice > 0 GROUP BY o_orderstatus
"""


# --- A4: area-weighted mean shape (C_…R:156-159): Σ(w·x)/Σ(w)
def q_weighted_mean(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(F.round(F.sum(F.col("c_acctbal") * F.col("c_custkey"))
                     / F.sum(F.col("c_custkey")), 4).alias("wmean_bal"))
    )


ORACLE["weighted_mean"] = """
SELECT c_nationkey,
       ROUND(SUM(c_acctbal * c_custkey) / SUM(c_custkey), 4) AS wmean_bal
FROM customer GROUP BY c_nationkey
"""


# --- J5: multi-way equi join (the 14-way merge, C_…R:1194-1208)
def q_multi_join(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)  # small dim → broadcast
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


ORACLE["multi_join"] = """
SELECT r_name, n_name, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# --- J4: theta join (temporal non-equi predicate, C_…R:93-94)
def q_theta_join(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey)
                & (li.l_shipdate > o.o_orderdate))  # equi key + theta
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_lines"))
    )


ORACLE["theta_join"] = """
SELECT o_orderpriority, COUNT(*) AS n_late_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
GROUP BY o_orderpriority
"""


# --- J6/P9: left join + coalesce defaults (empty-group semantics)
def q_left_coalesce(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 400000)
    agg = big.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_big"),
        F.round(F.sum("o_totalprice"), 2).alias("spent"))
    return (
        c.join(agg, c.c_custkey == agg.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce("n_big", F.lit(0)).alias("n_big"),
            F.coalesce("spent", F.lit(0.0)).alias("spent"),
        )
    )


ORACLE["left_coalesce"] = """
SELECT c_custkey,
       COALESCE(n_big, 0) AS n_big,
       COALESCE(spent, 0.0) AS spent
FROM customer LEFT JOIN (
  SELECT o_custkey, COUNT(*) AS n_big, ROUND(SUM(o_totalprice), 2) AS spent
  FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey
) ON c_custkey = o_custkey
"""


# --- E3: pivot-wide merge (suffix-rename blocks + 14-way merge → one pivot)
def q_pivot_wide(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_custkey").pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return piv.select(
        "o_custkey",
        F.col("O").alias("n_open"), F.col("F").alias("n_filled"),
        F.col("P").alias("n_partial"),
    )


ORACLE["pivot_wide"] = """
SELECT o_custkey,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
FROM orders GROUP BY o_custkey
"""


# --- O1: union all (rbind shards, C_…R:712-723)
def q_union_all(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    u = (
        c.select(F.col("c_nationkey").alias("nationkey"),
                 F.lit("customer").alias("kind"))
        .unionByName(
            s.select(F.col("s_nationkey").alias("nationkey"),
                     F.lit("supplier").alias("kind")))
    )
    return u.groupBy("nationkey", "kind").agg(F.count(F.lit(1)).alias("n"))


ORACLE["union_all"] = """
SELECT nationkey, kind, COUNT(*) AS n FROM (
  SELECT c_nationkey AS nationkey, 'customer' AS kind FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey, 'supplier' AS kind FROM supplier
) GROUP BY nationkey, kind
"""


# --- window top-k (the kNN relational analog, SURVEY.md §2.5 note)
def q_window_topk(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey")
    )


ORACLE["window_topk"] = """
SELECT o_custkey, rk, o_orderkey FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3
"""


# --- P8: conditional recode (when/otherwise ↔ ifelse, C_…R:150)
def q_conditional_recode(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket",
            F.when(F.col("o_totalprice") < 100000, F.lit("small"))
            .when(F.col("o_totalprice") < 300000, F.lit("medium"))
            .otherwise(F.lit("large")))
        .groupBy("bucket", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE["conditional_recode"] = """
SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
            WHEN o_totalprice < 300000 THEN 'medium'
            ELSE 'large' END AS bucket,
       o_orderstatus, COUNT(*) AS n
FROM orders GROUP BY 1, 2
"""


# --- distinct count (levels(as.factor(...)), D_…R:107)
def q_distinct_count(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_returnflag", "l_linestatus").alias("n_flag_status"),
    )


ORACLE["distinct_count"] = """
SELECT COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
FROM lineitem
"""


# --- O2/O3: sort + limit (top-k by value, deterministic tie-break)
def q_sort_limit(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(100)
    )


ORACLE["sort_limit"] = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


# --- tumbling time window over the events table (batch analog of the
# streaming windowed agg; date_trunc on both sides)
def q_tumbling_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value"))
    )


ORACLE["tumbling_window"] = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""

# --- IQR outlier screen (r06): the data-cleaning reduction — per
# group the type-7 quartiles, the 1.5·IQR fences, and how many rows
# fall outside. Quartile interpolation over integer-valued doubles is
# exact on both engines (dist_quantiles pins percentile ≡
# quantile_cont to the ulp), the fences are ±(q3−q1)·1.5 — single
# IEEE ops — and the outlier count is an exact conditional sum
# against identical fence doubles.
def q_iqr_outliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(l_quantity, 0.25)").alias("q1"),
        F.expr("percentile(l_quantity, 0.75)").alias("q3"))
    g = g.withColumn("lo", F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))) \
         .withColumn("hi", F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
    out = (li.join(F.broadcast(g), "l_returnflag")
           .groupBy("l_returnflag")
           .agg(F.sum(F.when((F.col("l_quantity") < F.col("lo"))
                             | (F.col("l_quantity") > F.col("hi")), 1)
                      .otherwise(0)).alias("n_outliers")))
    return (g.join(out, "l_returnflag")
            .select("l_returnflag", "n", "q1", "q3", "lo", "hi",
                    "n_outliers"))


ORACLE["iqr_outliers"] = """
WITH g AS (
  SELECT l_returnflag, COUNT(*) AS n,
         quantile_cont(l_quantity, 0.25) AS q1,
         quantile_cont(l_quantity, 0.75) AS q3
  FROM lineitem GROUP BY 1
), f AS (
  SELECT *, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM g
)
SELECT f.l_returnflag, f.n, f.q1, f.q3, f.lo, f.hi,
       CAST(SUM(CASE WHEN li.l_quantity < f.lo OR li.l_quantity > f.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM lineitem li JOIN f USING (l_returnflag)
GROUP BY 1, 2, 3, 4, 5, 6
"""


# --- table diff / reconciliation (r06): the backfill-vs-prod audit —
# FULL OUTER join two table versions on the key and classify every
# row added / removed / changed / unchanged, plus per-column change
# counts. The "right" version is derived deterministically from the
# base (delete %11, reprice %7, insert %13 under new keys), so the
# oracle rebuilds it independently and the whole reconciliation is
# exact-integer. One co-partitioned shuffle join + one aggregation.
def q_table_diff(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    right = (o.filter(k % 11 != 0)
             .withColumn("o_totalprice",
                         F.when(k % 7 == 0, F.col("o_totalprice") + 1000)
                         .otherwise(F.col("o_totalprice"))))
    ins = o.filter(k % 13 == 0) \
        .withColumn("o_orderkey", k + 90000000)
    right = right.unionByName(ins)
    lhs = o.select(k.alias("k"), F.col("o_totalprice").alias("lp"),
                   F.col("o_orderstatus").alias("ls"))
    rhs = right.select(k.alias("k"), F.col("o_totalprice").alias("rp"),
                       F.col("o_orderstatus").alias("rs"))
    j = lhs.join(rhs, "k", "full_outer")
    status = (F.when(F.col("lp").isNull(), "added")
              .when(F.col("rp").isNull(), "removed")
              .when((F.col("lp") != F.col("rp"))
                    | (F.col("ls") != F.col("rs")), "changed")
              .otherwise("unchanged"))
    both = F.col("lp").isNotNull() & F.col("rp").isNotNull()
    return (j.withColumn("status", status).groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(both & (F.col("lp") != F.col("rp")), 1)
                       .otherwise(0)).alias("n_price_diff"),
                 F.sum(F.when(both & (F.col("ls") != F.col("rs")), 1)
                       .otherwise(0)).alias("n_status_diff")))


ORACLE["table_diff"] = """
WITH r0 AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000
              ELSE o_totalprice END AS rp,
         o_orderstatus AS rs
  FROM orders WHERE o_orderkey % 11 <> 0
  UNION ALL
  SELECT o_orderkey + 90000000, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 13 = 0
), l AS (
  SELECT o_orderkey AS k, o_totalprice AS lp, o_orderstatus AS ls
  FROM orders
), j AS (
  SELECT lp, ls, rp, rs FROM l FULL OUTER JOIN r0 USING (k)
)
SELECT CASE WHEN lp IS NULL THEN 'added'
            WHEN rp IS NULL THEN 'removed'
            WHEN lp <> rp OR ls <> rs THEN 'changed'
            ELSE 'unchanged' END AS status,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN lp IS NOT NULL AND rp IS NOT NULL
                      AND lp <> rp THEN 1 ELSE 0 END) AS BIGINT)
         AS n_price_diff,
       CAST(SUM(CASE WHEN lp IS NOT NULL AND rp IS NOT NULL
                      AND ls <> rs THEN 1 ELSE 0 END) AS BIGINT)
         AS n_status_diff
FROM j GROUP BY 1
"""


# --- OHLC bars (r06): the time-series candle aggregation — per
# (event_type, day) the first/last/min/max of `value` — open and
# close picked by a lexicographic struct MIN/MAX over (ts, event_id,
# value), so ties are deterministic and the whole thing is ONE
# hash aggregation (no window, no second shuffle). Oracle derives
# open/close the opposite way: two ROW_NUMBER windows + conditional
# aggregation.
def q_ohlc_bars(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    first = F.min(F.struct("ts", "event_id", "value"))
    last = F.max(F.struct("ts", "event_id", "value"))
    return (e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"),
                      "event_type")
            .agg(first["value"].alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 last["value"].alias("close"),
                 F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 4).alias("vol")))


ORACLE["ohlc_bars"] = """
WITH r AS (
  SELECT date_trunc('day', ts) AS day, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('day', ts), event_type
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('day', ts), event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT day, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high, MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS vol
FROM r GROUP BY 1, 2
"""


# --- column profiling (r06): the ingestion data-quality screen as one
# single-pass wide aggregate exploded to long layout (operators/
# profile.py). Metrics are order-free (counts / exact distinct / min /
# max) so the profile is bit-reproducible; the oracle is the textbook
# per-column UNION ALL — k scans on the oracle path vs ONE scan on the
# engine path, which is exactly the claim worth proving.
_PROFILE_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_profile_table(spark, sf_dir):
    from ..operators.profile import profile_numeric
    return profile_numeric(_t(spark, sf_dir, "lineitem"), _PROFILE_COLS)


ORACLE["profile_table"] = "\nUNION ALL\n".join(f"""
SELECT '{c}' AS col_name, COUNT(*) AS n,
       COUNT(*) - COUNT({c}) AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_v,
       CAST(MAX({c}) AS DOUBLE) AS max_v
FROM lineitem
""" for c in _PROFILE_COLS)

# --- OLAP rollup (r06): the GROUPING SETS surface — per-(flag,
# status) leaf groups, per-flag subtotals, and the grand total in ONE
# pass (Spark's Expand feeds a single shuffle; at 100 TB this beats
# three separate scans + a union). grouping_id disambiguates subtotal
# rows from real NULL keys; both engines encode it MSB-first.
def q_rollup_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.grouping_id().cast("long").alias("gid")))


ORACLE["rollup_agg"] = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

# --- skyline / Pareto frontier (r06): the two-objective "best under
# both criteria" reduction (the reference's nearest-AND-oldest shape).
# Engine: two-phase — Arrow-vectorized per-partition staircase prune,
# then an exact JVM window resolution over the tiny survivor union.
# Oracle: the textbook quadratic NOT EXISTS dominance anti-join — a
# genuinely different algorithm; agreement proves the pruning phase
# never drops a non-dominated row.
def q_skyline(spark, sf_dir):
    from ..operators.skyline import skyline_min2
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice")
    return skyline_min2(p, "p_size", "p_retailprice")


ORACLE["skyline"] = """
SELECT p_partkey, p_size, p_retailprice
FROM part q
WHERE NOT EXISTS (
  SELECT 1 FROM part p
  WHERE p.p_size <= q.p_size AND p.p_retailprice <= q.p_retailprice
    AND (p.p_size < q.p_size OR p.p_retailprice < q.p_retailprice))
"""


# --- HyperLogLog distinct sketch (r06): the register TABLE is the
# query output, so the driver verifies every register bit-for-bit
# (md5 / conv / bin all probed engine-identical). The float estimate
# on top is pytest-covered (operators/sketch.py, hll_estimate).
def q_hll_users(spark, sf_dir):
    from ..operators.sketch import hll_registers
    return hll_registers(_t(spark, sf_dir, "events"), "user_id", p=9)


ORACLE["hll_users"] = """
WITH h AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':hll'),
                             1, 15)) AS BIGINT) AS hv
  FROM events
), r AS (
  SELECT hv % 512 AS register, hv // 512 AS w FROM h
)
SELECT register,
       MAX(CASE WHEN w = 0 THEN 52 ELSE 52 - length(bin(w)) END) AS max_rho
FROM r GROUP BY 1
"""


# --- cohort retention (r06): classic product-analytics matrix. Weeks
# are exact integer day-arithmetic from a fixed epoch (no engine week
# conventions); counts are exact.
def q_cohort_retention(spark, sf_dir):
    e = _t(spark, sf_dir, "events").withColumn(
        "week", F.expr("datediff(to_date(ts), date'2024-01-01') div 7"))
    first = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    size = first.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size"))
    act = (e.join(first, "user_id")
           .withColumn("week_offset", F.col("week") - F.col("cohort_week"))
           .groupBy("cohort_week", "week_offset")
           .agg(F.countDistinct("user_id").alias("n_active")))
    return act.join(size, "cohort_week").select(
        "cohort_week", "week_offset", "n_active", "cohort_size")


ORACLE["cohort_retention"] = """
WITH e AS (
  SELECT user_id,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week
  FROM events
), first AS (
  SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY 1
), size AS (
  SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_size
  FROM first GROUP BY 1
), act AS (
  SELECT f.cohort_week, e.week - f.cohort_week AS week_offset,
         COUNT(DISTINCT e.user_id) AS n_active
  FROM e JOIN first f USING (user_id)
  GROUP BY 1, 2
)
SELECT a.cohort_week, a.week_offset,
       CAST(a.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size
FROM act a JOIN size s USING (cohort_week)
"""


# --- damped random-walk centrality (PageRank) over the per-user
# event-property transition graph (r06). The iterative-algorithm
# pattern (Lloyd IVF, Weiszfeld, BPE): each round is ONE edge join +
# ONE grouped sum. All mass arithmetic is INTEGER (start 10^6 per
# node, per-edge send = mass*c div tot, damping (85·in + 15·10^6)
# div 100) so three unrolled rounds replay exactly in SQL — floor
# remainders evaporate identically on both engines. Sink nodes
# (no out-edges) leak their damped mass by design; documented, same
# both sides.
_PR_ITERS = 3
_PR_BASE = 1_000_000


def q_pagerank_walk(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("long").alias("k"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(F.col("k").alias("dst"),
                 F.lag("k").over(w).alias("src")).filter("src IS NOT NULL")
    g = s.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
    tot = g.groupBy("src").agg(F.sum("c").alias("tot"))
    gt = g.join(tot, "src")
    nodes = e.select(F.col("k").alias("node")).distinct()
    mass = nodes.withColumn("mass", F.lit(_PR_BASE).cast("long"))
    for _ in range(_PR_ITERS):
        inc = (gt.join(mass, gt.src == mass.node)
               .select(F.col("dst").alias("node"),
                       F.expr("mass * c div tot").alias("send"))
               .groupBy("node").agg(F.sum("send").alias("inc")))
        mass = (nodes.join(inc, "node", "left")
                .select("node",
                        F.expr(f"(85 * coalesce(inc, 0L) + 15 * {_PR_BASE}) "
                               "div 100").alias("mass")))
    return mass


def _pagerank_oracle(iters: int = _PR_ITERS) -> str:
    parts = [f"""
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k
  FROM events
), s AS (
  SELECT k AS dst,
         LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
  FROM e
), g AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
  FROM s WHERE src IS NOT NULL GROUP BY 1, 2
), tot AS (
  SELECT src, CAST(SUM(c) AS BIGINT) AS tot FROM g GROUP BY 1
), nodes AS (
  SELECT DISTINCT k AS node FROM e
), m0 AS (
  SELECT node, CAST({_PR_BASE} AS BIGINT) AS mass FROM nodes
)"""]
    for k in range(1, iters + 1):
        parts.append(f""", c{k} AS (
  SELECT g.dst AS node, SUM(m.mass * g.c // t.tot) AS inc
  FROM g JOIN tot t USING (src) JOIN m{k-1} m ON m.node = g.src
  GROUP BY 1
), m{k} AS (
  SELECT n.node,
         CAST((85 * COALESCE(c.inc, 0) + 15 * {_PR_BASE}) // 100
              AS BIGINT) AS mass
  FROM nodes n LEFT JOIN c{k} c USING (node)
)""")
    parts.append(f"""
SELECT node, mass FROM m{iters}
""")
    return "".join(parts)


ORACLE["pagerank_walk"] = _pagerank_oracle()


# --- Bloom-filter semi-join pre-filter (r06): build the bitset over
# high-balance customers, probe every ordering customer. The bits are
# md5-derived so the oracle replays MEMBERSHIP exactly — including the
# deterministic false positives (in_bloom=true, is_member=false rows
# are expected and pinned); false negatives are impossible and the
# driver row would catch one instantly.
def q_bloom_probe(spark, sf_dir):
    from ..operators.sketch import bloom_bits, bloom_probe
    cust = (_t(spark, sf_dir, "customer").filter("c_acctbal > 5000")
            .select(F.col("c_custkey").alias("key")).distinct())
    bits = bloom_bits(cust, "key")
    probe = (_t(spark, sf_dir, "orders")
             .select(F.col("o_custkey").alias("key")).distinct())
    flagged = bloom_probe(probe, bits, "key")
    truth = cust.withColumn("_m", F.lit(1))
    return (flagged.join(F.broadcast(truth), "key", "left")
            .select(F.col("key").alias("o_custkey"), "in_bloom",
                    F.col("_m").isNotNull().alias("is_member")))


ORACLE["bloom_probe"] = """
WITH keys AS (
  SELECT DISTINCT c_custkey AS key FROM customer WHERE c_acctbal > 5000
), bits AS (
  SELECT DISTINCT bit FROM (
    SELECT CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':bloom0'),
                                1, 15)) AS BIGINT) % 4096 AS bit FROM keys
    UNION
    SELECT CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':bloom1'),
                                1, 15)) AS BIGINT) % 4096 FROM keys
    UNION
    SELECT CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':bloom2'),
                                1, 15)) AS BIGINT) % 4096 FROM keys
  )
), probe AS (
  SELECT DISTINCT o_custkey AS key FROM orders
), ph AS (
  SELECT key,
    CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':bloom0'),
                         1, 15)) AS BIGINT) % 4096 AS h0,
    CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':bloom1'),
                         1, 15)) AS BIGINT) % 4096 AS h1,
    CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':bloom2'),
                         1, 15)) AS BIGINT) % 4096 AS h2
  FROM probe
)
SELECT p.key AS o_custkey,
       (EXISTS (SELECT 1 FROM bits b WHERE b.bit = p.h0)
        AND EXISTS (SELECT 1 FROM bits b WHERE b.bit = p.h1)
        AND EXISTS (SELECT 1 FROM bits b WHERE b.bit = p.h2)) AS in_bloom,
       EXISTS (SELECT 1 FROM keys k WHERE k.key = p.key) AS is_member
FROM ph p
"""


# --- Count–Min sketch grid (r06): the frequency twin of the Bloom
# filter — additive (grids merge by elementwise sum), est = min over
# depth cells, never an undercount. The grid itself is the driver
# output, every counter exact; point estimates are pytest-covered
# (operators/sketch.py::cms_estimate).
def q_cms_grid(spark, sf_dir):
    from ..operators.sketch import cms_grid
    return cms_grid(_t(spark, sf_dir, "events"), "user_id")


ORACLE["cms_grid"] = """
WITH s AS (
  SELECT 0 AS sk_row,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':cms0'),
                              1, 15)) AS BIGINT) % 256 AS cell FROM events
  UNION ALL
  SELECT 1,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':cms1'),
                              1, 15)) AS BIGINT) % 256 FROM events
  UNION ALL
  SELECT 2,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':cms2'),
                              1, 15)) AS BIGINT) % 256 FROM events
  UNION ALL
  SELECT 3,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':cms3'),
                              1, 15)) AS BIGINT) % 256 FROM events
)
SELECT sk_row, cell, CAST(COUNT(*) AS BIGINT) AS cnt
FROM s GROUP BY 1, 2
"""


# --- rolling time-range window features (r06): per-user trailing-hour
# activity (count + sum) at every event — the classic point-in-time
# feature-engineering op (no leakage: each row sees only its past
# hour). RANGE frames are SET-based (every row with sec in
# [cur−3599, cur]), so tie order can't change results; seconds are
# floored identically on both engines and the double sum rounds at 4
# (the module's float-determinism rule).
def q_rolling_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.unix_timestamp("ts").alias("sec"))
    w = (W.partitionBy("user_id").orderBy("sec")
         .rangeBetween(-3599, W.currentRow))
    return e.select(
        "user_id", "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 4).alias("sum_1h"))


ORACLE["rolling_stats"] = """
SELECT user_id, event_id,
       COUNT(*) OVER w AS n_1h,
       ROUND(SUM(value) OVER w, 4) AS sum_1h
FROM (
  SELECT user_id, event_id, value,
         CAST(floor(date_part('epoch', ts)) AS BIGINT) AS sec
  FROM events
)
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
"""


# --- triangle counting (r06): the third graph-analytics op next to
# connected components (dedup_canonical) and PageRank. Edges are the
# distinct undirected event-property transitions; the engine runs the
# DEGREE-ORDERED orientation (point each edge at the (deg, node)-
# larger endpoint) so every wedge join fans out by MIN degree — the
# standard trick that bounds the self-join at power-law scale, where
# the naive formulation explodes on hub nodes. The oracle counts the
# SAME triangles from the unoriented edge set with a<b<c ordering —
# two different formulations, one answer.
def q_triangles(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("long").alias("k"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    raw = (e.select(F.col("k").alias("a"), F.lag("k").over(w).alias("b"))
           .filter("b IS NOT NULL AND a <> b"))
    und = (raw.select(F.least("a", "b").alias("u"),
                      F.greatest("a", "b").alias("v")).distinct())
    deg = (und.select(F.col("u").alias("n")).unionAll(
           und.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("deg")))
    # orient u→v if (deg(u), u) < (deg(v), v)
    du = deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du")
    dv = deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv")
    o = (und.join(du, "u").join(dv, "v")
         .select(F.when((F.col("du") < F.col("dv")) |
                        ((F.col("du") == F.col("dv")) &
                         (F.col("u") < F.col("v"))),
                        F.struct("u", "v"))
                 .otherwise(F.struct(F.col("v").alias("u"),
                                     F.col("u").alias("v"))).alias("e"))
         .select("e.u", "e.v"))
    # wedges at the minimum: o(x→y), o(x→z), y ≠ z — the closing edge
    # {y, z} is oriented by the SAME (deg, node) rule, so exactly one
    # of the (y, z) / (z, y) wedge copies matches o and each triangle
    # counts once (closing by id order instead would silently drop the
    # triangles whose closing edge points id-backwards)
    o1 = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    o2 = o.select(F.col("u").alias("x"), F.col("v").alias("z"))
    wedge = o1.join(o2, "x").filter(F.col("y") != F.col("z"))
    tri = wedge.join(o.select(F.col("u").alias("y"),
                              F.col("v").alias("z")), ["y", "z"])
    per_node = (tri.select(F.col("x").alias("node"))
                .unionAll(tri.select(F.col("y").alias("node")))
                .unionAll(tri.select(F.col("z").alias("node")))
                .groupBy("node").agg(F.count(F.lit(1)).alias("n_tri")))
    return per_node


ORACLE["triangles"] = """
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k
  FROM events
), s AS (
  SELECT k AS a,
         LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
  FROM e
), und AS (
  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
  FROM s WHERE b IS NOT NULL AND a <> b
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY 1
"""


# --- declarative data-quality suite (r06): five constraint checks
# compiled into ONE aggregate pass (k checks must never mean k scans
# at 100 TB), exploded to the long (check, metric, passed) report. The
# suite includes one DELIBERATE failure (in_range(o_totalprice,
# 0, 100)) so the report is non-degenerate — a suite that can only say
# "passed" proves nothing.
def q_quality_checks(spark, sf_dir):
    from ..operators.quality import (accepted_values, in_range, min_rows,
                                     not_null, run_checks, unique)
    o = _t(spark, sf_dir, "orders")
    return run_checks(o, [
        not_null("o_custkey"),
        unique("o_orderkey"),
        in_range("o_totalprice", 0, 100),          # deliberate failure
        accepted_values("o_orderstatus", ["O", "F", "P"]),
        min_rows(100),
    ])


ORACLE["quality_checks"] = """
SELECT 'not_null(o_custkey)' AS check_name,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS metric,
       SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM orders
UNION ALL
SELECT 'unique(o_orderkey)',
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
       COUNT(*) - COUNT(DISTINCT o_orderkey) = 0
FROM orders
UNION ALL
SELECT 'in_range(o_totalprice,0,100)',
       CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                 AND (o_totalprice < 0 OR o_totalprice > 100)
                 THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_totalprice IS NOT NULL
           AND (o_totalprice < 0 OR o_totalprice > 100)
           THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'accepted_values(o_orderstatus,[O,F,P])',
       CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                 AND o_orderstatus NOT IN ('O', 'F', 'P')
                 THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_orderstatus IS NOT NULL
           AND o_orderstatus NOT IN ('O', 'F', 'P')
           THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'min_rows(100)', CAST(COUNT(*) AS BIGINT), COUNT(*) >= 100
FROM orders
"""


# --- SCD Type 2 dimension build (r06): the classic warehouse op —
# collapse a change stream into validity intervals. Each user's
# event-property value k is treated as a tracked attribute: runs of
# equal consecutive k collapse into one row with [valid_from,
# valid_to) and the open row gets valid_to NULL. Run boundaries come
# from ONE lag comparison + a running sum (the gaps-and-islands
# pattern) — two window passes, no self-join, no state machine.
def q_scd2_build(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("long").alias("k"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (e.withColumn(
        "chg", F.when(F.lag("k").over(w).isNull() |
                      (F.lag("k").over(w) != F.col("k")), 1).otherwise(0))
        .withColumn("run_id", F.sum("chg").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow))))
    seg = (runs.groupBy("user_id", "run_id")
           .agg(F.min("ts").alias("valid_from"),
                F.max("ts").alias("run_end"),
                F.first("k").alias("k"),
                F.count(F.lit(1)).alias("n_events")))
    w2 = W.partitionBy("user_id").orderBy("run_id")
    return (seg.withColumn("valid_to", F.lead("valid_from").over(w2))
            .select("user_id", "k", "valid_from", "valid_to", "n_events"))


ORACLE["scd2_build"] = """
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k
  FROM events
), marked AS (
  SELECT *, CASE WHEN LAG(k) OVER w IS NULL OR LAG(k) OVER w <> k
                 THEN 1 ELSE 0 END AS chg
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
), seg AS (
  SELECT user_id, run_id, MIN(ts) AS valid_from,
         ANY_VALUE(k) AS k, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM runs GROUP BY 1, 2
)
SELECT user_id, k, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
         AS valid_to,
       n_events
FROM seg
"""


# --- batch funnel analysis (r06): strictly-ordered 3-step conversion
# (view → click → purchase) per user — the batch twin of the
# stream-stream funnel join, extended to 3 stages. Each stage is the
# MIN event time strictly after the previous stage's completion:
# t1 = min(view), t2 = min(click > t1), t3 = min(purchase > t2) —
# three grouped-min passes over a filtered frame, each joinable
# against the (tiny) per-user stage table by broadcast. Deterministic
# by construction (mins of distinct timestamps); steps_completed is
# the funnel depth.
def q_funnel_steps(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    t1 = (e.filter("event_type = 'view'")
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    t2 = (e.filter("event_type = 'click'")
          .join(F.broadcast(t1), "user_id")
          .filter(F.col("ts") > F.col("t1"))
          .groupBy("user_id").agg(F.min("ts").alias("t2")))
    t3 = (e.filter("event_type = 'purchase'")
          .join(F.broadcast(t2), "user_id")
          .filter(F.col("ts") > F.col("t2"))
          .groupBy("user_id").agg(F.min("ts").alias("t3")))
    return (t1.join(t2, "user_id", "left").join(t3, "user_id", "left")
            .select("user_id", "t1", "t2", "t3",
                    (F.lit(1) + F.when(F.col("t2").isNotNull(), 1)
                     .otherwise(0) + F.when(F.col("t3").isNotNull(), 1)
                     .otherwise(0)).alias("steps_completed")))


ORACLE["funnel_steps"] = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
), t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.t1
  GROUP BY 1
), t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
  GROUP BY 1
)
SELECT t1.user_id, t1.t1, t2.t2, t3.t3,
       1 + CASE WHEN t2.t2 IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN t3.t3 IS NOT NULL THEN 1 ELSE 0 END
         AS steps_completed
FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
        LEFT JOIN t3 ON t1.user_id = t3.user_id
"""


# --- A/B test with an EXACT chi-square verdict (r06): variant =
# user_id parity, conversion = user ever purchased. The 2×2 chi-square
# statistic χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) compares against the
# 95% critical value 3.84 by CROSS-MULTIPLICATION — 100·N·(ad−bc)² >
# 384·denominator — so the significance verdict is pure integer
# arithmetic: no sqrt, no float, no engine disagreement possible. The
# same trick as pmi_bigrams (ln) and geodesic (floor): move the
# irrational to the other side of the comparison. Magnitude bound:
# the products fit int64 for cell counts up to ~5·10³ (N·det² ≤
# N⁵/16); past that, cast the arithmetic to DECIMAL(38) on both
# engines — the comparison stays exact either way.
def q_ab_chisq(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    users = (e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("converted"))
        .withColumn("variant", (F.col("user_id") % 2).cast("int")))
    cells = users.groupBy("variant").agg(
        F.sum("converted").alias("conv"),
        F.sum(F.lit(1) - F.col("converted")).alias("nonconv"))
    a = F.max(F.when(F.col("variant") == 0, F.col("conv")))
    b = F.max(F.when(F.col("variant") == 0, F.col("nonconv")))
    c = F.max(F.when(F.col("variant") == 1, F.col("conv")))
    d = F.max(F.when(F.col("variant") == 1, F.col("nonconv")))
    w = cells.agg(a.alias("a"), b.alias("b"), c.alias("c2"), d.alias("d"))
    n = F.col("a") + F.col("b") + F.col("c2") + F.col("d")
    det = F.col("a") * F.col("d") - F.col("b") * F.col("c2")
    den = ((F.col("a") + F.col("b")) * (F.col("c2") + F.col("d"))
           * (F.col("a") + F.col("c2")) * (F.col("b") + F.col("d")))
    return w.select(
        "a", "b", "c2", "d",
        (100 * n * det * det).alias("chisq_num100"),
        (384 * den).alias("chisq_den384"),
        (100 * n * det * det > 384 * den).alias("significant_95"))


ORACLE["ab_chisq"] = """
WITH users AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY 1
), cells AS (
  SELECT CAST(user_id % 2 AS INT) AS variant,
         CAST(SUM(converted) AS BIGINT) AS conv,
         CAST(SUM(1 - converted) AS BIGINT) AS nonconv
  FROM users GROUP BY 1
), w AS (
  SELECT MAX(CASE WHEN variant = 0 THEN conv END) AS a,
         MAX(CASE WHEN variant = 0 THEN nonconv END) AS b,
         MAX(CASE WHEN variant = 1 THEN conv END) AS c2,
         MAX(CASE WHEN variant = 1 THEN nonconv END) AS d
  FROM cells
)
SELECT a, b, c2, d,
       CAST(100 * (a+b+c2+d) * (a*d - b*c2) * (a*d - b*c2) AS BIGINT)
         AS chisq_num100,
       CAST(384 * (a+b) * (c2+d) * (a+c2) * (b+d) AS BIGINT)
         AS chisq_den384,
       100 * (a+b+c2+d) * (a*d - b*c2) * (a*d - b*c2)
         > 384 * (a+b) * (c2+d) * (a+c2) * (b+d) AS significant_95
FROM w
"""


# --- DECIMAL(38) chi-square (r07, VERDICT r06 next-#5): ab_chisq's
# cross-multiplied form is int64-safe only to ~5e3 per cell; real A/B
# tables exceed that. This variant scales the four cells by distinct
# primes into the ~1e5-1e6 range (per-variant event counts × 101/103/
# 107/109), so BOTH cross-multiplied sides overflow int64 (den ~1e25
# at sf0.01) and the arithmetic must run in DECIMAL(38,0) end-to-end
# — num peaks ~1e30, comfortably inside 38 digits even at sf0.1.
# DuckDB replays it in HUGEINT (int128); both sides emit the big
# products as digit strings so the comparison is exact, not float.
def q_ab_chisq_big(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    conv = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    cells = e.groupBy((F.col("user_id") % 2).cast("int").alias("variant")) \
        .agg(F.sum(conv).alias("rc"), F.sum(1 - conv).alias("rn"))
    w = cells.agg(
        (F.max(F.when(F.col("variant") == 0, F.col("rc"))) * 101)
        .cast("long").alias("a"),
        (F.max(F.when(F.col("variant") == 0, F.col("rn"))) * 103)
        .cast("long").alias("b"),
        (F.max(F.when(F.col("variant") == 1, F.col("rc"))) * 107)
        .cast("long").alias("c2"),
        (F.max(F.when(F.col("variant") == 1, F.col("rn"))) * 109)
        .cast("long").alias("d"))
    D = "decimal(38,0)"
    a, b, c2, d = (F.col(x).cast(D) for x in ("a", "b", "c2", "d"))
    n = a + b + c2 + d
    det = a * d - b * c2
    num = F.lit(100).cast(D) * n * det * det
    den = (F.lit(384).cast(D) * (a + b) * (c2 + d)
           * (a + c2) * (b + d))
    return w.select(
        "a", "b", "c2", "d",
        num.cast("string").alias("chisq_num100"),
        den.cast("string").alias("chisq_den384"),
        (num > den).alias("significant_95"))


ORACLE["ab_chisq_big"] = """
WITH cells AS (
  SELECT CAST(user_id % 2 AS INT) AS variant,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS rc,
         SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS rn
  FROM events GROUP BY 1
), w AS (
  SELECT CAST(MAX(CASE WHEN variant = 0 THEN rc END) * 101 AS BIGINT) AS a,
         CAST(MAX(CASE WHEN variant = 0 THEN rn END) * 103 AS BIGINT) AS b,
         CAST(MAX(CASE WHEN variant = 1 THEN rc END) * 107 AS BIGINT) AS c2,
         CAST(MAX(CASE WHEN variant = 1 THEN rn END) * 109 AS BIGINT) AS d
  FROM cells
), h AS (
  SELECT a, b, c2, d,
         CAST(a AS HUGEINT) AS ha, CAST(b AS HUGEINT) AS hb,
         CAST(c2 AS HUGEINT) AS hc, CAST(d AS HUGEINT) AS hd
  FROM w
)
SELECT a, b, c2, d,
       CAST(100 * (ha+hb+hc+hd) * (ha*hd - hb*hc) * (ha*hd - hb*hc)
            AS VARCHAR) AS chisq_num100,
       CAST(384 * (ha+hb) * (hc+hd) * (ha+hc) * (hb+hd)
            AS VARCHAR) AS chisq_den384,
       100 * (ha+hb+hc+hd) * (ha*hd - hb*hc) * (ha*hd - hb*hc)
         > 384 * (ha+hb) * (hc+hd) * (ha+hc) * (hb+hd) AS significant_95
FROM h
"""


# --- fixed-point EWMA user features (r07, VERDICT r06 next-#8): the
# one common feature-pipeline op that was still absent. Floats under a
# distributed fold aren't replayable (aggregation order), so this is
# the scaled-integer design: α = 1/2 makes every decay weight an exact
# binary fraction, values go to micro-units via floor(value·10⁴)
# (floor, not round — identical IEEE semantics in both engines), and
# the recursion unrolls over each user's K=8 NEWEST events as a
# closed-form weighted sum: with events ranked newest r=1..n (n =
# min(count, 8), seed = oldest), 2^{n−1}·EWMA = Σ x_r·c_r where
# c_r = 2^{n−1−r} for r<n and c_n = 1. Emitted as exact integers
# (numerator + the 2^{n−1} denominator), window-free: one row per
# user, the "current smoothed activity" feature a training pipeline
# joins on. One shuffle (the per-user window), pure JVM.
def q_ewma_features(spark, sf_dir):
    K = 8
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 10000).cast("long").alias("xu"))
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                         F.col("event_id").desc())
    r = (e.withColumn("rnk", F.row_number().over(w))
         .filter(F.col("rnk") <= K)
         .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("user_id"))))
    coef = F.when(
        F.col("rnk") < F.col("n"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(n - 1 - rnk AS INT))")
    ).otherwise(F.lit(1).cast("long"))
    return (r.withColumn("coef", coef)
            .groupBy("user_id")
            .agg(F.max("n").cast("int").alias("n_used"),
                 F.sum(F.col("coef") * F.col("xu")).alias("ewma_num"),
                 F.expr("shiftleft(CAST(1 AS BIGINT), "
                        "CAST(max(n) - 1 AS INT))").alias("ewma_den")))


ORACLE["ewma_features"] = """
WITH e AS (
  SELECT user_id,
         CAST(FLOOR(value * 10000) AS BIGINT) AS xu,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rnk
  FROM events
), k AS (
  SELECT user_id, xu, rnk,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM e WHERE rnk <= 8
)
SELECT user_id,
       CAST(MAX(n) AS INT) AS n_used,
       CAST(SUM(CASE WHEN rnk < n THEN (1::BIGINT << (n - 1 - rnk))
                     ELSE 1 END * xu) AS BIGINT) AS ewma_num,
       CAST(1::BIGINT << (MAX(n) - 1) AS BIGINT) AS ewma_den
FROM k GROUP BY 1
"""


# --- Markov transition matrix (r07): per-user event-type bigrams in
# (ts, event_id) order — the session-modeling primitive (next-action
# prediction features, anomaly scoring). One window (lag) + one
# shuffle (groupBy); is_mode marks each source type's most likely
# successor. Pure JVM.
def q_markov_transitions(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = (e.select("user_id", "ts", "event_id", "event_type",
                  F.lag("event_type").over(w).alias("prev_type"))
         .filter(F.col("prev_type").isNotNull()))
    c = p.groupBy(F.col("prev_type").alias("from_type"),
                  F.col("event_type").alias("to_type")) \
        .agg(F.count(F.lit(1)).alias("n"))
    wf = W.partitionBy("from_type")
    return (c.withColumn("n_from", F.sum("n").over(wf))
            .withColumn("is_mode", F.col("n") == F.max("n").over(wf)))


ORACLE["markov_transitions"] = """
WITH p AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), c AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
       n = MAX(n) OVER (PARTITION BY from_type) AS is_mode
FROM c
"""


# --- conversion attribution (r07): for every purchase, credit the
# user's FIRST and LAST preceding non-purchase touch (strict (ts,
# event_id) order; no prior touch → 'organic'). The marketing twin of
# funnel_steps: two ignore-nulls running windows, zero joins — the
# whole attribution table is one pass.
def q_attribution(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, -1))
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    o = e.select(
        "event_type",
        F.last(touch, ignorenulls=True).over(w).alias("lt"),
        F.first(touch, ignorenulls=True).over(w).alias("ft"))
    pur = o.filter(F.col("event_type") == "purchase")
    last = pur.groupBy(F.coalesce("lt", F.lit("organic"))
                       .alias("touch_type")) \
        .agg(F.count(F.lit(1)).alias("n")) \
        .withColumn("kind", F.lit("last"))
    first = pur.groupBy(F.coalesce("ft", F.lit("organic"))
                        .alias("touch_type")) \
        .agg(F.count(F.lit(1)).alias("n")) \
        .withColumn("kind", F.lit("first"))
    return last.unionByName(first).select("kind", "touch_type", "n")


ORACLE["attribution"] = """
WITH o AS (
  SELECT event_type,
         LAST_VALUE(CASE WHEN event_type <> 'purchase'
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt,
         FIRST_VALUE(CASE WHEN event_type <> 'purchase'
                          THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft
  FROM events
)
SELECT 'last' AS kind, COALESCE(lt, 'organic') AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM o WHERE event_type = 'purchase' GROUP BY 2
UNION ALL
SELECT 'first', COALESCE(ft, 'organic'), CAST(COUNT(*) AS BIGINT)
FROM o WHERE event_type = 'purchase' GROUP BY 2
"""


# --- label propagation communities (r07): the third graph kernel next
# to the damped walk and degree-ordered triangles. Over the SYMMETRIZED
# per-user transition graph (the pagerank_walk fixture, both
# directions summed), every node starts as its own label and each
# round adopts the neighbor label with the greatest total edge weight
# — ties break to the SMALLEST label, so the semi-synchronous rounds
# are fully deterministic and two unrolled rounds replay exactly in
# SQL (votes = one edge join + grouped sum; winner = one row_number).
# Isolated/unvoted nodes keep their label via the left join. Output:
# every node's final label after 2 rounds.
_LP_ITERS = 2


def q_label_prop(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("long").alias("k"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(F.col("k").alias("dst"),
                 F.lag("k").over(w).alias("src")).filter("src IS NOT NULL")
    g = (s.unionByName(s.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))
         .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c")))
    nodes = e.select(F.col("k").alias("node")).distinct()
    lbl = nodes.withColumn("lbl", F.col("node"))
    rk = W.partitionBy("node").orderBy(F.col("wt").desc(),
                                       F.col("lbl").asc())
    for _ in range(_LP_ITERS):
        votes = (g.join(lbl, g.src == lbl.node)
                 .groupBy(F.col("dst").alias("node"), "lbl")
                 .agg(F.sum("c").alias("wt")))
        win = (votes.withColumn("rn", F.row_number().over(rk))
               .filter("rn = 1").select("node",
                                        F.col("lbl").alias("new_lbl")))
        lbl = (nodes.join(win, "node", "left")
               .select("node", F.coalesce("new_lbl",
                                          F.col("node")).alias("lbl")))
    return lbl


def _label_prop_oracle(iters: int = _LP_ITERS) -> str:
    parts = [r"""
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
  FROM events
), s AS (
  SELECT k AS dst,
         LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
  FROM e
), g AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT src, dst FROM s WHERE src IS NOT NULL
    UNION ALL
    SELECT dst AS src, src AS dst FROM s WHERE src IS NOT NULL
  ) GROUP BY 1, 2
), nodes AS (
  SELECT DISTINCT k AS node FROM e
), l0 AS (
  SELECT node, node AS lbl FROM nodes
)"""]
    for k in range(1, iters + 1):
        parts.append(f""", v{k} AS (
  SELECT g.dst AS node, m.lbl, SUM(g.c) AS wt
  FROM g JOIN l{k-1} m ON m.node = g.src
  GROUP BY 1, 2
), w{k} AS (
  SELECT node, lbl AS new_lbl
  FROM (SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY wt DESC, lbl ASC) AS rn
        FROM v{k})
  WHERE rn = 1
), l{k} AS (
  SELECT n.node, COALESCE(w.new_lbl, n.node) AS lbl
  FROM nodes n LEFT JOIN w{k} w USING (node)
)""")
    parts.append(f"\nSELECT node, lbl FROM l{iters}\n")
    return "".join(parts)


ORACLE["label_prop"] = _label_prop_oracle()


# --- shipping priority, exact-integer TPC-H Q3 (r07): the classic
# 3-way join + revenue top-k, with the money math EXACT — prices and
# discounts are 2-decimal doubles, so revenue is accumulated as
# cents·(100−disc%) int64 (Σ ≤ ~1e13 ≪ 2^53 and summed as BIGINT
# anyway): no float accumulation order to disagree on, unlike the
# textbook SUM(price·(1−disc)). Top-10 by revenue with o_orderkey as
# the deterministic tie-break.
def q_ship_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'")
    o = _t(spark, sf_dir, "orders") \
        .filter(F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem") \
        .filter(F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(rev).alias("revenue_c4"))
            .orderBy(F.desc("revenue_c4"), F.asc("o_orderkey"))
            .limit(10))


ORACLE["ship_priority"] = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_c4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '2000-01-01'
  AND l_shipdate >= TIMESTAMP '2000-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue_c4 DESC, o_orderkey ASC
LIMIT 10
"""


# --- per-group winsorized sum (r07): robust aggregation — clip each
# nation's customer balances at the group's exact p10/p90 order
# statistics (rank = ceil(q·n), 1-indexed over (cents, custkey)
# row-number order — duplicates get distinct ranks, so the k-th value
# is unique), then sum the clipped cents. The standard outlier-
# tolerant rollup next to iqr_outliers (which FLAGS outliers; this
# BOUNDS them). One row_number window + one conditional aggregation:
# the percentile pick and the clipped sum happen in the SAME groupBy
# pass (max(case rn = k)), no second scan, no join back. Cents via
# the ship_priority idiom (ROUND(x·100) — exact on money data).
def q_winsorize(spark, sf_dir):
    from pyspark.sql import Window as W
    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"))
    w = W.partitionBy("c_nationkey").orderBy("cents", "c_custkey")
    r = (c.withColumn("rn", F.row_number().over(w))
         .withColumn("n", F.count(F.lit(1)).over(
             W.partitionBy("c_nationkey"))))
    lo_rn = F.ceil(F.col("n") * 0.1).cast("long")
    hi_rn = F.ceil(F.col("n") * 0.9).cast("long")
    g = (r.groupBy("c_nationkey")
         .agg(F.count(F.lit(1)).alias("n_rows"),
              F.max(F.when(F.col("rn") == lo_rn, F.col("cents")))
              .alias("lo_cents"),
              F.max(F.when(F.col("rn") == hi_rn, F.col("cents")))
              .alias("hi_cents"),
              F.sum("cents").alias("sum_raw")))
    clipped = (r.join(F.broadcast(g.select("c_nationkey", "lo_cents",
                                           "hi_cents")), "c_nationkey")
               .groupBy("c_nationkey")
               .agg(F.sum(F.least(F.greatest(F.col("cents"),
                                             F.col("lo_cents")),
                                  F.col("hi_cents"))).alias("sum_wins")))
    return (g.join(clipped, "c_nationkey")
            .select("c_nationkey", "n_rows", "lo_cents", "hi_cents",
                    "sum_raw", "sum_wins"))


ORACLE["winsorize"] = """
WITH c AS (
  SELECT c_nationkey, c_custkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
), r AS (
  SELECT c_nationkey, cents,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY cents, c_custkey) AS rn,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n
  FROM c
), g AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         MAX(CASE WHEN rn = CAST(CEIL(n * 0.1) AS BIGINT)
                  THEN cents END) AS lo_cents,
         MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT)
                  THEN cents END) AS hi_cents,
         CAST(SUM(cents) AS BIGINT) AS sum_raw
  FROM r GROUP BY 1
)
SELECT r.c_nationkey, g.n_rows, g.lo_cents, g.hi_cents, g.sum_raw,
       CAST(SUM(LEAST(GREATEST(r.cents, g.lo_cents), g.hi_cents))
            AS BIGINT) AS sum_wins
FROM r JOIN g USING (c_nationkey)
GROUP BY 1, 2, 3, 4, 5
"""


# --- sweep-line interval concurrency (r07): max simultaneous open
# intervals per group — the "how many shipments in transit at once"
# / concurrent-sessions / Gantt-overlap op (the classic event-sweep:
# +1 at start, −1 past end, running sum, max). Intervals are
# [shipday, shipday + len] in INTEGER day space (epoch_us div
# 86400e6 — non-negative, so div ≡ //), len = (l_orderkey·7 +
# l_linenumber) % 20 + 1 days, deterministic. The running sum uses
# the DEFAULT window frame (RANGE UNBOUNDED PRECEDING → CURRENT ROW)
# in BOTH engines, which groups same-day ties — so the max is taken
# AFTER all of a day's openings and closings land, making tie order
# irrelevant. One union + one keyed window + one groupBy at the same
# grain (exchange reuse); scales per supplier.
def q_interval_overlap(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.expr("unix_micros(cast(l_shipdate as timestamp)) "
               "div 86400000000").alias("d0"),
        F.expr("(l_orderkey * 7 + l_linenumber) % 20 + 1").alias("len"))
    ev = (li.select("l_suppkey", F.col("d0").alias("d"),
                    F.lit(1).alias("delta"))
          .unionByName(
              li.select("l_suppkey",
                        (F.col("d0") + F.col("len") + 1).alias("d"),
                        F.lit(-1).alias("delta"))))
    from pyspark.sql import Window as W
    run = F.sum("delta").over(W.partitionBy("l_suppkey").orderBy("d"))
    return (ev.withColumn("open_", run)
            .groupBy("l_suppkey")
            .agg((F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
                 F.max("open_").alias("max_open")))


ORACLE["interval_overlap"] = """
WITH li AS (
  SELECT l_suppkey,
         epoch_us(l_shipdate) // 86400000000 AS d0,
         (l_orderkey * 7 + l_linenumber) % 20 + 1 AS len
  FROM lineitem
), ev AS (
  SELECT l_suppkey, d0 AS d, 1 AS delta FROM li
  UNION ALL
  SELECT l_suppkey, d0 + len + 1 AS d, -1 AS delta FROM li
), run AS (
  SELECT l_suppkey,
         SUM(delta) OVER (PARTITION BY l_suppkey ORDER BY d) AS open_
  FROM ev
)
SELECT l_suppkey,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals,
       CAST(MAX(open_) AS BIGINT) AS max_open
FROM run GROUP BY 1
"""


# --- CUSUM changepoint detection (r07 wave D): the classic
# monitoring/data-drift primitive (Page's cumulative-sum statistic)
# over each supplier's daily shipment-count series. Floats under a
# distributed fold aren't replayable, so the statistic is the exact
# integer cross-multiplied form: with n days, prefix sums P_k and
# grand total T, D_k = n·P_k − k·T (the CUSUM deviation scaled by n —
# sign and argmax are unchanged), all int64. The changepoint is the
# day maximizing |D_k| (ties → earliest day, deterministic in both
# engines via the min-over-argmax pattern, no arg_max tie ambiguity).
# One window partition + one groupBy = two shuffles on the same key;
# pure JVM, no spine needed (observed days only).
def q_cusum_change(spark, sf_dir):
    daily = (_t(spark, sf_dir, "lineitem")
             .select("l_suppkey",
                     F.expr("unix_micros(cast(l_shipdate as timestamp)) "
                            "div 86400000000").alias("day"))
             .groupBy("l_suppkey", "day")
             .agg(F.count(F.lit(1)).alias("x")))
    wo = (W.partitionBy("l_suppkey").orderBy("day")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    wp = W.partitionBy("l_suppkey")
    s = (daily
         .withColumn("k", F.row_number().over(
             W.partitionBy("l_suppkey").orderBy("day")))
         .withColumn("pref", F.sum("x").over(wo))
         .withColumn("n", F.count(F.lit(1)).over(wp))
         .withColumn("total", F.sum("x").over(wp))
         .withColumn("absd", F.abs(F.col("n") * F.col("pref")
                                   - F.col("k") * F.col("total")))
         .withColumn("mx", F.max("absd").over(wp)))
    return (s.groupBy("l_suppkey")
            .agg(F.max("n").cast("long").alias("n_days"),
                 F.max("total").cast("long").alias("total"),
                 F.max("mx").cast("long").alias("max_absd"),
                 F.min(F.when(F.col("absd") == F.col("mx"),
                              F.col("day"))).alias("cp_day")))


ORACLE["cusum_change"] = """
WITH daily AS (
  SELECT l_suppkey, epoch_us(l_shipdate) // 86400000000 AS day,
         COUNT(*) AS x
  FROM lineitem GROUP BY 1, 2
), s AS (
  SELECT l_suppkey, day,
         ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY day) AS k,
         SUM(x) OVER (PARTITION BY l_suppkey ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS pref,
         COUNT(*) OVER (PARTITION BY l_suppkey) AS n,
         SUM(x) OVER (PARTITION BY l_suppkey) AS total
  FROM daily
), d AS (
  SELECT l_suppkey, day, n, total, ABS(n * pref - k * total) AS absd,
         MAX(ABS(n * pref - k * total))
           OVER (PARTITION BY l_suppkey) AS mx
  FROM s
)
SELECT l_suppkey,
       CAST(MAX(n) AS BIGINT) AS n_days,
       CAST(MAX(total) AS BIGINT) AS total,
       CAST(MAX(mx) AS BIGINT) AS max_absd,
       CAST(MIN(CASE WHEN absd = mx THEN day END) AS BIGINT) AS cp_day
FROM d GROUP BY 1
"""


# --- time-series gap fill with linear interpolation (r07 wave D):
# the resample/align primitive every feature pipeline needs — each
# supplier's daily quantity series is completed over its own
# [min_day, max_day] spine and missing days get the linear
# interpolation of the bracketing observed values. The interpolated
# value is kept exact-integer via the NON-NEGATIVE barycentric form
# interp_milli = 1000·(v_prev·(d_next−d) + v_next·(d−d_prev))
#                div (d_next−d_prev)
# (both weights ≥ 0, so Spark's truncating `div` and DuckDB's
# flooring `//` agree — the subtraction form would not). Bracketing
# neighbours come from two IGNORE-NULLS window scans (last/first
# value over the day-ordered spine), probed engine-identical. The
# spine explodes a per-supplier sequence (bounded by the date span,
# not data size); one window partition + one groupBy. Pure JVM.
def q_gap_fill(spark, sf_dir):
    daily = (_t(spark, sf_dir, "lineitem")
             .select("l_suppkey",
                     F.expr("unix_micros(cast(l_shipdate as timestamp)) "
                            "div 86400000000").alias("day"),
                     F.col("l_quantity").cast("long").alias("q"))
             .groupBy("l_suppkey", "day").agg(F.sum("q").alias("v")))
    spine = (daily.groupBy("l_suppkey")
             .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
             .select("l_suppkey",
                     F.explode(F.sequence("d0", "d1")).alias("day")))
    j = spine.join(daily, ["l_suppkey", "day"], "left")
    back = (W.partitionBy("l_suppkey").orderBy("day")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    fwd = (W.partitionBy("l_suppkey").orderBy("day")
           .rowsBetween(W.currentRow, W.unboundedFollowing))
    kday = F.when(F.col("v").isNotNull(), F.col("day"))
    s = (j.withColumn("vprev", F.last("v", ignorenulls=True).over(back))
         .withColumn("dprev", F.last(kday, ignorenulls=True).over(back))
         .withColumn("vnext", F.first("v", ignorenulls=True).over(fwd))
         .withColumn("dnext", F.first(kday, ignorenulls=True).over(fwd)))
    interp = F.expr("(1000 * (vprev * (dnext - day) + vnext * (day - dprev)))"
                    " div (dnext - dprev)")
    miss = F.col("v").isNull()
    return (s.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("n_days"),
                 F.sum(miss.cast("long")).alias("n_missing"),
                 F.coalesce(F.sum(F.when(miss, interp)), F.lit(0))
                 .cast("long").alias("sum_interp_milli"),
                 F.coalesce(F.max(F.when(miss, F.col("dnext")
                                         - F.col("dprev") - 1)),
                            F.lit(0)).cast("long").alias("max_gap")))


ORACLE["gap_fill"] = """
WITH daily AS (
  SELECT l_suppkey, epoch_us(l_shipdate) // 86400000000 AS day,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
  FROM lineitem GROUP BY 1, 2
), spine AS (
  SELECT b.l_suppkey, u.day
  FROM (SELECT l_suppkey, MIN(day) AS d0, MAX(day) AS d1
        FROM daily GROUP BY 1) b,
       LATERAL (SELECT UNNEST(generate_series(b.d0, b.d1)) AS day) u
), s AS (
  SELECT sp.l_suppkey, sp.day, d.v,
    LAST_VALUE(d.v IGNORE NULLS) OVER
      (PARTITION BY sp.l_suppkey ORDER BY sp.day
       ROWS UNBOUNDED PRECEDING) AS vprev,
    LAST_VALUE(CASE WHEN d.v IS NOT NULL THEN sp.day END IGNORE NULLS)
      OVER (PARTITION BY sp.l_suppkey ORDER BY sp.day
            ROWS UNBOUNDED PRECEDING) AS dprev,
    FIRST_VALUE(d.v IGNORE NULLS) OVER
      (PARTITION BY sp.l_suppkey ORDER BY sp.day
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vnext,
    FIRST_VALUE(CASE WHEN d.v IS NOT NULL THEN sp.day END IGNORE NULLS)
      OVER (PARTITION BY sp.l_suppkey ORDER BY sp.day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dnext
  FROM spine sp LEFT JOIN daily d
    ON d.l_suppkey = sp.l_suppkey AND d.day = sp.day
)
SELECT l_suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(COUNT(CASE WHEN v IS NULL THEN 1 END) AS BIGINT) AS n_missing,
       CAST(COALESCE(SUM(CASE WHEN v IS NULL THEN
         (1000 * (vprev * (dnext - day) + vnext * (day - dprev)))
           // (dnext - dprev) END), 0) AS BIGINT) AS sum_interp_milli,
       CAST(COALESCE(MAX(CASE WHEN v IS NULL THEN dnext - dprev - 1 END),
                     0) AS BIGINT) AS max_gap
FROM s GROUP BY 1
"""


# --- Bellman-Ford shortest paths, k min-plus rounds (r07 wave D):
# weighted single-source-set shortest distance over the user-journey
# transition graph (the weighted completion of pagerank_walk /
# label_prop's edge derivation — consecutive per-user event `k`
# values). Edge weight = (src + dst) % 9 + 1 (deterministic integer);
# sources = nodes ≡ 0 (mod 10) at distance 0. Three rounds of the
# min-plus relaxation dist' = min(dist, min_{(u,v,w)} dist(u)+w) —
# the iterative-join shape Spark executes as one edge join + one
# grouped MIN per round (constant rounds, no per-row Python; at
# 100 TB each round is a single shuffle on dst). Oracle: the same
# three rounds unrolled as chained CTEs.
def q_bellman_hops(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("long").alias("k"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (e.select(F.col("k").alias("dst"),
                      F.lag("k").over(w).alias("src"))
             .filter("src IS NOT NULL").distinct()
             .withColumn("wt", F.expr("(src + dst) % 9 + 1")))
    dist = (e.select(F.col("k").alias("node")).distinct()
            .filter("node % 10 = 0")
            .withColumn("dist", F.lit(0).cast("long")))
    for _ in range(3):
        relaxed = (edges.join(dist, edges.src == dist.node)
                   .select(F.col("dst").alias("node"),
                           (F.col("dist") + F.col("wt")).alias("dist")))
        dist = (dist.unionByName(relaxed)
                .groupBy("node").agg(F.min("dist").alias("dist")))
    return dist


def _bellman_oracle(rounds: int = 3) -> str:
    parts = ["""
WITH seq AS (
  SELECT user_id, ts, event_id,
         CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k
  FROM events
), hop AS (
  SELECT k AS dst,
         LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
  FROM seq
), edges AS (
  SELECT DISTINCT src, dst, (src + dst) % 9 + 1 AS wt
  FROM hop WHERE src IS NOT NULL
), d0 AS (
  SELECT DISTINCT k AS node, CAST(0 AS BIGINT) AS dist
  FROM seq WHERE k % 10 = 0
)"""]
    for i in range(rounds):
        parts.append(f""", d{i + 1} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{i}
    UNION ALL
    SELECT e.dst AS node, d.dist + e.wt AS dist
    FROM d{i} d JOIN edges e ON e.src = d.node
  ) GROUP BY node
)""")
    parts.append(f"""
SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}""")
    return "".join(parts)


ORACLE["bellman_hops"] = _bellman_oracle()


# --- k-core decomposition, 3 prune rounds (r07 wave E): the graph-
# sparsification primitive (community seeding, spam-cluster mining) —
# iteratively drop nodes whose degree in the SURVIVING subgraph is
# < k. Fifth graph kernel next to the damped walk, label-prop,
# triangles and Bellman-Ford; edges are the undirected (self-loop-
# free) closure of the user-journey transitions. Each round = one
# semi-join of edges against the alive set + one map-side-combinable
# degree count; constant rounds, no per-row Python. Output: nodes
# still alive after 3 prunes with their round-3 degree. Oracle:
# identical rounds unrolled as CTEs.
def q_kcore(spark, sf_dir):
    K = 3
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("long").alias("k"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    hop = (e.select(F.col("k").alias("dst"),
                    F.lag("k").over(w).alias("src"))
           .filter("src IS NOT NULL AND src <> dst"))
    edges = (hop.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
             .distinct())
    alive = (edges.select(F.col("a").alias("node"))
             .union(edges.select(F.col("b").alias("node"))).distinct())
    for _ in range(3):
        live = (edges
                .join(alive.select(F.col("node").alias("a")), "a")
                .join(alive.select(F.col("node").alias("b")), "b"))
        deg = (live.select(F.col("a").alias("node"))
               .union(live.select(F.col("b").alias("node")))
               .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
        alive = deg.filter(F.col("deg") >= K)
    return alive


def _kcore_oracle(rounds: int = 3, k: int = 3) -> str:
    parts = ["""
WITH seq AS (
  SELECT user_id, ts, event_id,
         CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k
  FROM events
), hop AS (
  SELECT k AS dst,
         LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
  FROM seq
), edges AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM hop WHERE src IS NOT NULL AND src <> dst
), a0 AS (
  SELECT a AS node FROM edges UNION SELECT b FROM edges
)"""]
    for i in range(rounds):
        parts.append(f""", a{i + 1} AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT e.a AS node FROM edges e
    JOIN a{i} x ON x.node = e.a JOIN a{i} y ON y.node = e.b
    UNION ALL
    SELECT e.b AS node FROM edges e
    JOIN a{i} x ON x.node = e.a JOIN a{i} y ON y.node = e.b
  ) GROUP BY node HAVING COUNT(*) >= {k}
)""")
    parts.append(f"""
SELECT node, deg FROM a{rounds}""")
    return "".join(parts)


ORACLE["kcore"] = _kcore_oracle()


# --- day-of-week seasonal indices (r07 wave F): the season/trend
# split (STL's seasonal component at weekly period) every demand-
# forecasting feature set starts from — per supplier and day-of-week,
# the exact-integer seasonal effect held in cross-multiplied form:
# effect_num = n_tot·sum_dow − n_dow·sum_tot (positive ⟺ that
# weekday runs above the supplier's mean; the n_tot·n_dow
# denominator never divides, so everything stays int64). One groupBy
# to the (supplier, dow) grain + one grouped total joined back —
# both shuffles on the same key prefix.
def q_dow_seasonal(spark, sf_dir):
    d = (_t(spark, sf_dir, "lineitem")
         .select("l_suppkey",
                 F.expr("unix_micros(cast(l_shipdate as timestamp)) "
                        "div 86400000000").alias("day"),
                 F.col("l_quantity").cast("long").alias("q"))
         .groupBy("l_suppkey", "day").agg(F.sum("q").alias("v"))
         .withColumn("dow", F.expr("day % 7")))
    g = d.groupBy("l_suppkey", "dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("v").alias("sum_v"))
    tot = d.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_tot"),
        F.sum("v").alias("sum_tot"))
    return (g.join(tot, "l_suppkey")
            .select("l_suppkey", "dow", "n_days", "sum_v",
                    (F.col("n_tot") * F.col("sum_v")
                     - F.col("n_days") * F.col("sum_tot"))
                    .alias("effect_num"),
                    (F.col("n_tot") * F.col("n_days"))
                    .alias("effect_den")))


ORACLE["dow_seasonal"] = """
WITH daily AS (
  SELECT l_suppkey, epoch_us(l_shipdate) // 86400000000 AS day,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
  FROM lineitem GROUP BY 1, 2
), d AS (
  SELECT l_suppkey, day % 7 AS dow, v FROM daily
), g AS (
  SELECT l_suppkey, dow,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(v) AS BIGINT) AS sum_v
  FROM d GROUP BY 1, 2
), tot AS (
  SELECT l_suppkey,
         CAST(COUNT(*) AS BIGINT) AS n_tot,
         CAST(SUM(v) AS BIGINT) AS sum_tot
  FROM d GROUP BY 1
)
SELECT g.l_suppkey, g.dow, g.n_days, g.sum_v,
       t.n_tot * g.sum_v - g.n_days * t.sum_tot AS effect_num,
       t.n_tot * g.n_days AS effect_den
FROM g JOIN tot t ON t.l_suppkey = g.l_suppkey
"""


# --- market-basket pair mining (r07 wave H): co-occurrence counting,
# the first level of FP-growth / Apriori — part pairs appearing in
# ≥2 common orders, with the lift verdict kept exact by cross-
# multiplication (lift > 1 ⟺ support·N > cnt_a·cnt_b — no float
# ratio ever materializes). Spark shape: distinct (order, part)
# first (dedup BEFORE the fan-out), then a self-equi-join on
# l_orderkey — per-order fan-out is bounded by basket size (~7
# lines ⇒ ≤21 pairs), so the join scales linearly in orders, never
# quadratically in parts; per-part counts broadcast back onto the
# surviving pairs.
def q_basket_pairs(spark, sf_dir):
    d = (_t(spark, sf_dir, "lineitem")
         .select("l_orderkey", "l_partkey").distinct())
    a = d.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = d.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (a.join(b, "l_orderkey")
             .filter("part_a < part_b")
             .groupBy("part_a", "part_b")
             .agg(F.count(F.lit(1)).alias("support"))
             .filter("support >= 2"))
    cnt = d.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    # N as a broadcast 1-row aggregate, not a driver-side count() —
    # the plan stays lazy and there is no collect at build time
    n_orders = d.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    return (pairs
            .join(cnt.select(F.col("l_partkey").alias("part_a"),
                             F.col("cnt").alias("cnt_a")), "part_a")
            .join(cnt.select(F.col("l_partkey").alias("part_b"),
                             F.col("cnt").alias("cnt_b")), "part_b")
            .crossJoin(F.broadcast(n_orders))
            .select("part_a", "part_b", "support", "cnt_a", "cnt_b",
                    (F.col("support") * F.col("n_orders")
                     > F.col("cnt_a") * F.col("cnt_b"))
                    .alias("lift_pos")))


ORACLE["basket_pairs"] = """
WITH d AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM d a JOIN d b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), cnt AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1
), n AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM d
)
SELECT p.part_a, p.part_b, p.support, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
       p.support * n.n_orders > ca.cnt * cb.cnt AS lift_pos
FROM pairs p
JOIN cnt ca ON ca.l_partkey = p.part_a
JOIN cnt cb ON cb.l_partkey = p.part_b
CROSS JOIN n
"""


# --- median absolute deviation outliers (r07 wave H): the robust
# dispersion screen next to iqr_outliers / winsorize — per nation,
# the LOWER median of customer balance cents (rank (n+1) div 2 over
# the total (cents, custkey) order — deterministic under ties), the
# MAD as the lower median of |cents − med| under the same total
# order, and the k=3 outlier count with the comparison kept integer
# (dev > 3·mad — the 1.4826 normal-consistency factor is
# deliberately NOT applied so no float enters; documented). Two
# window passes on the same partition key, one final groupBy.
def q_mad_outliers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"))
    wp = W.partitionBy("c_nationkey")
    w1 = wp.orderBy("cents", "c_custkey")
    m1 = (c.withColumn("rn", F.row_number().over(w1))
          .withColumn("n", F.count(F.lit(1)).over(wp))
          .withColumn("med", F.max(F.when(
              F.col("rn") == F.expr("(n + 1) div 2"),
              F.col("cents"))).over(wp))
          .withColumn("dev", F.abs(F.col("cents") - F.col("med"))))
    w2 = wp.orderBy("dev", "c_custkey")
    m2 = (m1.withColumn("rn2", F.row_number().over(w2))
          .withColumn("mad", F.max(F.when(
              F.col("rn2") == F.expr("(n + 1) div 2"),
              F.col("dev"))).over(wp)))
    return (m2.groupBy("c_nationkey")
            .agg(F.max("n").cast("long").alias("n"),
                 F.max("med").alias("med_cents"),
                 F.max("mad").alias("mad_cents"),
                 F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1)
                       .otherwise(0)).cast("long").alias("n_outliers")))


ORACLE["mad_outliers"] = """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
), m1 AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY c_nationkey
                       ORDER BY cents, c_custkey) AS rn,
    COUNT(*) OVER (PARTITION BY c_nationkey) AS n
  FROM c
), m2 AS (
  SELECT *,
    MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END)
      OVER (PARTITION BY c_nationkey) AS med
  FROM m1
), m3 AS (
  SELECT *, ABS(cents - med) AS dev FROM m2
), m4 AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY c_nationkey
                       ORDER BY dev, c_custkey) AS rn2
  FROM m3
), m5 AS (
  SELECT *,
    MAX(CASE WHEN rn2 = (n + 1) // 2 THEN dev END)
      OVER (PARTITION BY c_nationkey) AS mad
  FROM m4
)
SELECT c_nationkey,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(med) AS BIGINT) AS med_cents,
       CAST(MAX(mad) AS BIGINT) AS mad_cents,
       CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM m5 GROUP BY 1
"""


# --- unpivot / melt (r07 wave I): the wide→long reshape every
# feature-store export needs — four lineitem money/quantity metrics
# melted to (metric, value_cents) rows with stack() (pure codegen'd
# Generate, no shuffle until the final 4-group agg), then profiled.
# Cents are rounded BEFORE the melt so both engines aggregate the
# same exact integers. At 100 TB the melt is embarrassingly parallel
# (row-local 4× fan-out) and the agg reduces to 4 rows map-side.
def q_unpivot_melt(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tax"))
    long = li.select(F.expr(
        "stack(4, 'qty', qty, 'price', price, 'disc', disc, 'tax', tax)"
        ).alias("metric", "value_cents"))
    return (long.groupBy("metric")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("value_cents").alias("sum_cents"),
                 F.min("value_cents").alias("min_cents"),
                 F.max("value_cents").alias("max_cents")))


ORACLE["unpivot_melt"] = """
WITH c AS (
  SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS disc,
         CAST(ROUND(l_tax * 100) AS BIGINT) AS tax
  FROM lineitem
), long AS (
  SELECT 'qty' AS metric, qty AS value_cents FROM c
  UNION ALL SELECT 'price', price FROM c
  UNION ALL SELECT 'disc', disc FROM c
  UNION ALL SELECT 'tax', tax FROM c
)
SELECT metric, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(value_cents) AS BIGINT) AS sum_cents,
       MIN(value_cents) AS min_cents, MAX(value_cents) AS max_cents
FROM long GROUP BY metric
"""


# --- Gini / Lorenz inequality (r07 wave I): per-nation wealth
# concentration over customer balances, fully integer. Balances are
# shifted to positive cents (x = cents + 100000 ≥ 1, acctbal ≥
# −999.99 by TPC-H spec) and ranked under the total (x, custkey)
# order; the Gini numerator is Σ(2i − n − 1)·x_i (denominator n·Σx
# is emitted, never divided), and the Lorenz curve's halfway point
# is the cumulative sum at rank n div 2. One window over one
# partition key → a single shuffle; per-group work is linear.
# int64 headroom: x ≤ 1.1e6, so gini_num < 2n²·x — safe to ~2e6
# rows per group, far beyond any per-nation cardinality here.
def q_gini_lorenz(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        (F.round(F.col("c_acctbal") * 100).cast("long") + 100000)
        .alias("x"))
    wp = W.partitionBy("c_nationkey")
    w = wp.orderBy("x", "c_custkey")
    r = (c.withColumn("i", F.row_number().over(w))
         .withColumn("n", F.count(F.lit(1)).over(wp))
         .withColumn("cum", F.sum("x").over(w)))
    return (r.groupBy("c_nationkey")
            .agg(F.max("n").cast("long").alias("n"),
                 F.sum("x").alias("sum_x"),
                 F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("x"))
                 .alias("gini_num"),
                 F.max(F.when(F.col("i") == F.expr("n div 2"),
                              F.col("cum"))).alias("lorenz_half")))


ORACLE["gini_lorenz"] = """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000 AS x
  FROM customer
), r AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY c_nationkey
                       ORDER BY x, c_custkey) AS i,
    COUNT(*) OVER (PARTITION BY c_nationkey) AS n,
    SUM(x) OVER (PARTITION BY c_nationkey
                 ORDER BY x, c_custkey) AS cum
  FROM c
)
SELECT c_nationkey,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(SUM(x) AS BIGINT) AS sum_x,
       CAST(SUM((2 * i - n - 1) * x) AS BIGINT) AS gini_num,
       CAST(MAX(CASE WHEN i = n // 2 THEN cum END) AS BIGINT)
         AS lorenz_half
FROM r GROUP BY 1
"""


# --- graph node Jaccard similarity (r07 wave J): link-prediction's
# standard score over the part co-purchase graph — nodes are parts,
# edges are part pairs sharing ≥ 2 orders (the basket_pairs screen,
# so the graph is SPARSE by construction), and for every node pair
# with ≥ 1 common neighbor the engine emits |N(a)∩N(b)| and both
# degrees, with the Jaccard ≥ 1/3 verdict kept integer by
# cross-multiplication (3·common ≥ deg_a + deg_b − common). Shape:
# wedge enumeration — undirected adjacency self-joined on the
# middle node w, pair (a < b) per wedge, one groupBy; degree join
# after. Wedge fan-out is Σ_w deg(w)² — bounded here by the
# support-≥2 edge screen; at 100 TB a hub-degree cap (same pattern
# as the LSH bucket caps) bounds the worst node.
def q_jaccard_nodes(spark, sf_dir):
    d = (_t(spark, sf_dir, "lineitem")
         .select("l_orderkey", "l_partkey").distinct())
    a = d.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = d.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (a.join(b, "l_orderkey").filter("pa < pb")
             .groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("sup"))
             .filter("sup >= 2").select("pa", "pb"))
    # undirected adjacency (both directions), then wedges through w
    adj = (edges.select(F.col("pa").alias("w"), F.col("pb").alias("v"))
           .union(edges.select(F.col("pb").alias("w"),
                               F.col("pa").alias("v"))))
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("deg")) \
             .withColumnRenamed("w", "node")
    l = adj.select("w", F.col("v").alias("a"))
    r = adj.select("w", F.col("v").alias("b"))
    common = (l.join(r, "w").filter("a < b")
              .groupBy("a", "b").agg(F.count(F.lit(1)).alias("common")))
    return (common
            .join(deg.select(F.col("node").alias("a"),
                             F.col("deg").alias("deg_a")), "a")
            .join(deg.select(F.col("node").alias("b"),
                             F.col("deg").alias("deg_b")), "b")
            .select("a", "b", "common", "deg_a", "deg_b",
                    (3 * F.col("common")
                     >= F.col("deg_a") + F.col("deg_b") - F.col("common"))
                    .alias("strong")))


ORACLE["jaccard_nodes"] = """
WITH d AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM d a JOIN d b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), adj AS (
  SELECT pa AS w, pb AS v FROM edges
  UNION ALL SELECT pb, pa FROM edges
), deg AS (
  SELECT w AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1
), common AS (
  SELECT l.v AS a, r.v AS b, CAST(COUNT(*) AS BIGINT) AS common
  FROM adj l JOIN adj r ON l.w = r.w AND l.v < r.v
  GROUP BY 1, 2
)
SELECT c.a, c.b, c.common, da.deg AS deg_a, db.deg AS deg_b,
       3 * c.common >= da.deg + db.deg - c.common AS strong
FROM common c
JOIN deg da ON da.node = c.a
JOIN deg db ON db.node = c.b
"""


# --- Theil–Sen robust trend (r07 wave K): the median-of-pairwise-
# slopes estimator over per-nation yearly revenue — outlier-proof
# where OLS (group_ols) is not. Revenue is exact cents; each year
# pair's slope is ONE correctly-rounded IEEE division of identical
# integers (engine-parity per this module's determinism rules), and
# the median slope is picked as the lower-median PAIR under the
# total (slope, dy, dx) order, reported as its exact (dy, dx)
# fraction — no float ever leaves the query. Shape: one agg to
# (nation, year) — tiny — then an O(years²) self-join per nation
# (years ≤ 7 ⇒ ≤ 21 pairs), one window. The aggregation shuffle
# dominates at 100 TB; the pair stage is constant-size.
def q_theil_sen(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").alias("o")
    c = _t(spark, sf_dir, "customer").alias("c")
    yr = (o.join(c, F.col("o.o_custkey") == F.col("c.c_custkey"))
          .groupBy(F.col("c.c_nationkey").alias("nk"),
                   F.year("o.o_orderdate").alias("y"))
          .agg(F.sum(F.round(F.col("o.o_totalprice") * 100)
                     .cast("long")).alias("v")))
    a = yr.select("nk", F.col("y").alias("y1"), F.col("v").alias("v1"))
    b = yr.select("nk", F.col("y").alias("y2"), F.col("v").alias("v2"))
    pairs = (a.join(b, "nk").filter("y1 < y2")
             .select("nk", (F.col("v2") - F.col("v1")).alias("dy"),
                     (F.col("y2") - F.col("y1")).alias("dx"))
             .withColumn("slope", F.col("dy") / F.col("dx")))
    w = W.partitionBy("nk").orderBy("slope", "dy", "dx")
    r = (pairs.withColumn("rn", F.row_number().over(w))
         .withColumn("np", F.count(F.lit(1)).over(W.partitionBy("nk"))))
    return (r.filter(F.col("rn") == F.expr("(np + 1) div 2"))
            .select("nk", F.col("np").cast("long").alias("n_pairs"),
                    F.col("dy").alias("med_dy"),
                    F.col("dx").alias("med_dx")))


ORACLE["theil_sen"] = """
WITH yr AS (
  SELECT c.c_nationkey AS nk, year(o.o_orderdate) AS y,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), pairs AS (
  SELECT a.nk, b.v - a.v AS dy, b.y - a.y AS dx,
         CAST(b.v - a.v AS DOUBLE) / (b.y - a.y) AS slope
  FROM yr a JOIN yr b ON a.nk = b.nk AND a.y < b.y
), r AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY nk ORDER BY slope, dy, dx) AS rn,
    COUNT(*) OVER (PARTITION BY nk) AS np
  FROM pairs
)
SELECT nk, CAST(np AS BIGINT) AS n_pairs, dy AS med_dy, dx AS med_dx
FROM r WHERE rn = (np + 1) // 2
"""


# --- Gini–Simpson diversity (r07 wave M): the entropy-free diversity
# index (1 − Σp²) a profiler reports per key — chosen over Shannon
# entropy precisely because its numerator n² − Σc² is EXACT integer
# (log() engine parity is not provable; this is). Per user over
# event types: n, Σc², the diversity numerator, and the dominant
# type (deterministic argmax: max count, ties → smallest type
# string). Two groupBys on nested keys — the second collapses the
# tiny (user, type) table.
def q_simpson_diversity(spark, sf_dir):
    c = (_t(spark, sf_dir, "events")
         .groupBy("user_id", "event_type")
         .agg(F.count(F.lit(1)).alias("c")))
    w = W.partitionBy("user_id").orderBy(F.col("c").desc(), "event_type")
    r = c.withColumn("rn", F.row_number().over(w))
    return (r.groupBy("user_id")
            .agg(F.sum("c").alias("n"),
                 F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
                 F.max(F.when(F.col("rn") == 1, F.col("event_type")))
                 .alias("top_type"))
            .select("user_id", "n", "sum_c2",
                    (F.col("n") * F.col("n") - F.col("sum_c2"))
                    .alias("div_num"), "top_type"))


ORACLE["simpson_diversity"] = """
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY c DESC, event_type) AS rn
  FROM c
)
SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
       CAST(SUM(c * c) AS BIGINT) AS sum_c2,
       CAST(SUM(c) * SUM(c) - SUM(c * c) AS BIGINT) AS div_num,
       MAX(CASE WHEN rn = 1 THEN event_type END) AS top_type
FROM r GROUP BY 1
"""


# --- Benford first-digit screen (r07 wave M): the fraud/data-quality
# digit test over order totals — counts per leading digit of the
# cents value (leading digit via the decimal string head: CAST to
# VARCHAR is engine-parity for positive BIGINTs, no float log10
# enters), each digit's share-vs-next verdict (Benford ⇒ counts
# strictly decreasing in digit), and the exact χ²-style deviation
# numerator against the uniform-1..9 null: 9·n_d − n (integer; the
# true Benford expectation needs log10 — deliberately NOT computed,
# the monotone verdict is the screen). One groupBy + one 9-row
# window.
def q_benford_digits(spark, sf_dir):
    d = (_t(spark, sf_dir, "orders")
         .select(F.substring(F.round(F.col("o_totalprice") * 100)
                             .cast("long").cast("string"), 1, 1)
                 .cast("long").alias("digit")))
    cnt = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_d"))
    tot = cnt.agg(F.sum("n_d").alias("n"))
    w = W.orderBy("digit")
    return (cnt.crossJoin(F.broadcast(tot))
            .withColumn("ge_next",
                        F.coalesce(F.col("n_d") >= F.lead("n_d").over(w),
                                   F.lit(True)))
            .select("digit", "n_d", "n",
                    (9 * F.col("n_d") - F.col("n")).alias("dev9"),
                    "ge_next"))


ORACLE["benford_digits"] = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
), cnt AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_d FROM d GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM cnt
)
SELECT digit, n_d, t.n, 9 * n_d - t.n AS dev9,
       COALESCE(n_d >= LEAD(n_d) OVER (ORDER BY digit), TRUE) AS ge_next
FROM cnt CROSS JOIN tot t
"""


# --- floored running balance (r07 wave N): the inventory/queueing
# walk b_t = max(b_{t−1} + d_t, 0), solved in CLOSED FORM via the
# Lindley reflection identity b_t = p_t − min(0, min_{s≤t} p_s)
# (p = naive prefix sum) — which turns a seemingly serial recursion
# into two RANGE-free windows over one partition key, fully
# parallel per supplier. Deltas: +qty on returned lineitems, −qty
# otherwise, ordered by the total (shipdate, orderkey, linenumber)
# key. Emits per supplier the event count, naive final, minimum
# prefix, and the floored final balance — all exact integers.
def q_stock_floor(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
        F.when(F.col("l_returnflag") == "R",
               F.col("l_quantity").cast("long"))
        .otherwise(-F.col("l_quantity").cast("long")).alias("d"))
    w = (W.partitionBy("l_suppkey")
         .orderBy("l_shipdate", "l_orderkey", "l_linenumber"))
    r = (li.withColumn("p", F.sum("d").over(w))
         .withColumn("mp", F.min("p").over(w)))
    return (r.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.max_by("p", F.struct("l_shipdate", "l_orderkey",
                                        "l_linenumber")).alias("final_naive"),
                 F.min("mp").alias("min_prefix"))
            .select("l_suppkey", "n_events", "final_naive", "min_prefix",
                    (F.col("final_naive")
                     - F.least(F.lit(0), F.col("min_prefix")))
                    .alias("final_floor")))


ORACLE["stock_floor"] = """
WITH li AS (
  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
         CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
              ELSE -CAST(l_quantity AS BIGINT) END AS d
  FROM lineitem
), r AS (
  SELECT *,
    SUM(d) OVER (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber) AS p
  FROM li
), f AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY l_suppkey
                       ORDER BY l_shipdate DESC, l_orderkey DESC,
                                l_linenumber DESC) AS rn_last
  FROM r
)
SELECT l_suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(CASE WHEN rn_last = 1 THEN p END) AS BIGINT)
         AS final_naive,
       CAST(MIN(p) AS BIGINT) AS min_prefix,
       CAST(MAX(CASE WHEN rn_last = 1 THEN p END)
            - LEAST(0, MIN(p)) AS BIGINT) AS final_floor
FROM f GROUP BY 1
"""


# --- maximum drawdown (r07 wave N): the risk metric over each
# part's shipment-ordered price path — running peak via a cumulative
# max window, drawdown = peak − price, all exact cents; per part the
# max drawdown, the peak, and the final price (the three numbers a
# monitoring dashboard plots). Same single-partition-key window
# shape as stock_floor — embarrassingly parallel across parts.
def q_max_drawdown(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_orderkey", "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long")
        .alias("cents"))
    w = (W.partitionBy("l_partkey")
         .orderBy("l_shipdate", "l_orderkey", "l_linenumber"))
    r = li.withColumn("peak", F.max("cents").over(w))
    return (r.groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("n_ticks"),
                 F.max("peak").alias("max_cents"),
                 F.max(F.col("peak") - F.col("cents")).alias("max_dd"),
                 F.max_by("cents",
                          F.struct("l_shipdate", "l_orderkey",
                                   "l_linenumber")).alias("last_cents")))


ORACLE["max_drawdown"] = """
WITH li AS (
  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), r AS (
  SELECT *,
    MAX(cents) OVER (PARTITION BY l_partkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber)
      AS peak,
    ROW_NUMBER() OVER (PARTITION BY l_partkey
                       ORDER BY l_shipdate DESC, l_orderkey DESC,
                                l_linenumber DESC) AS rn_last
  FROM li
)
SELECT l_partkey,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       CAST(MAX(peak) AS BIGINT) AS max_cents,
       CAST(MAX(peak - cents) AS BIGINT) AS max_dd,
       CAST(MAX(CASE WHEN rn_last = 1 THEN cents END) AS BIGINT)
         AS last_cents
FROM r GROUP BY 1
"""


# --- RFM quintile scoring (r07 wave N): the classic customer
# segmentation — recency (latest order date), frequency (order
# count), monetary (lifetime cents), each cut into NTILE(5) scores
# under a TOTAL deterministic order (metric desc, custkey) so tie
# handling is engine-identical; rfm = 100r + 10f + m.
# r08 (VERDICT r07 next-#3): the three ntile windows were
# UNPARTITIONED — one sort task over the whole per-customer rollup,
# which is 10⁸–10⁹ rows at 100×. Each score now computes a
# distributed global rank (range partition + per-partition window +
# broadcast prefix offsets, operators/global_order.py) and derives
# the quintile with pure Column arithmetic (ntile_from_rank — the
# exact NTILE bucket rule, pinned against F.ntile by
# tests/test_global_order.py). No unpartitioned Window remains
# (asserted by tests/test_plan_antipatterns.py).
def q_rfm_scores(spark, sf_dir):
    from ..operators.global_order import ntile_from_rank, with_global_rank
    o = (_t(spark, sf_dir, "orders")
         .groupBy("o_custkey")
         .agg(F.max("o_orderdate").alias("last_dt"),
              F.count(F.lit(1)).alias("freq"),
              F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
              .alias("cents")))
    orders = {
        "r_score": [F.col("last_dt").desc(), F.col("o_custkey")],
        "f_score": [F.col("freq").desc(), F.col("o_custkey")],
        "m_score": [F.col("cents").desc(), F.col("o_custkey")],
    }
    r = o
    for name, cols in orders.items():
        ranked, n = with_global_rank(o, cols, out="_rk")
        scored = ranked.select(
            "o_custkey",
            ntile_from_rank(F.col("_rk"), n, 5).alias(name))
        # equi join back on the customer key — each side is already
        # one row per customer, so this is a plain co-keyed join
        r = r.join(scored, "o_custkey")
    return r.select(
        "o_custkey", "freq", "cents",
        F.col("r_score").cast("long").alias("r_score"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
        (100 * F.col("r_score") + 10 * F.col("f_score")
         + F.col("m_score")).cast("long").alias("rfm"))


ORACLE["rfm_scores"] = """
WITH o AS (
  SELECT o_custkey, MAX(o_orderdate) AS last_dt,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), r AS (
  SELECT *,
    NTILE(5) OVER (ORDER BY last_dt DESC, o_custkey) AS r_score,
    NTILE(5) OVER (ORDER BY freq DESC, o_custkey) AS f_score,
    NTILE(5) OVER (ORDER BY cents DESC, o_custkey) AS m_score
  FROM o
)
SELECT o_custkey, freq, cents,
       CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(100 * r_score + 10 * f_score + m_score AS BIGINT) AS rfm
FROM r
"""


# --- paired YoY t-test (r07 wave O): for customers active in BOTH
# 1997 and 1998, the paired differences d_c = rev98 − rev97 (exact
# cents) per nation, with the |t| > 2 significance verdict kept
# entirely integer by cross-multiplication: t² = (Σd)²(n−1) /
# (nΣd² − (Σd)²), so |t| > 2 ⟺ (Σd)²·(n−1) > 4·(n·Σd² − (Σd)²)
# (the denominator is ≥ 0 by Cauchy–Schwarz, so the inequality
# direction is safe; n ≤ 1 or zero variance ⇒ verdict false both
# sides). Shape: one year-filtered agg, one self-join on customer
# (both sides pre-aggregated ⇒ equi join), one nation groupBy.
def q_yoy_ttest(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    # whole-dollar deltas (cents div 100 on POSITIVE yearly sums, so
    # trunc ≡ floor across engines) keep Σd² inside int64 at any SF;
    # the verdict comparison is then done in DOUBLE with a fixed
    # operation order — each product is one correctly-rounded IEEE op
    # on identical integers, so both engines compare identical values
    def rev(y):
        return (o.filter(F.year("o_orderdate") == y)
                .groupBy("o_custkey")
                .agg(F.expr("sum(cast(round(o_totalprice * 100) as"
                            f" long)) div 100").alias(f"v{y}")))
    d = (rev(1997).join(rev(1998), "o_custkey")
         .join(c, F.col("o_custkey") == F.col("c_custkey"))
         .select("c_nationkey",
                 (F.col("v1998") - F.col("v1997")).alias("d")))
    return (d.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("d").alias("sum_d"),
                 F.sum(F.col("d") * F.col("d")).alias("sum_d2"))
            .select("c_nationkey", "n", "sum_d", "sum_d2",
                    F.expr(
                        "cast(sum_d as double) * cast(sum_d as double)"
                        " * cast(n - 1 as double)"
                        " > 4.0D * (cast(n as double)"
                        " * cast(sum_d2 as double)"
                        " - cast(sum_d as double)"
                        " * cast(sum_d as double))").alias("significant")))


ORACLE["yoy_ttest"] = """
WITH r97 AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           // 100 AS v97
  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1
), r98 AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           // 100 AS v98
  FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1
), d AS (
  SELECT c.c_nationkey, r98.v98 - r97.v97 AS d
  FROM r97 JOIN r98 USING (o_custkey)
  JOIN customer c ON c.c_custkey = r97.o_custkey
), m AS (
  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d) AS BIGINT) AS sum_d,
         CAST(SUM(d * d) AS BIGINT) AS sum_d2
  FROM d GROUP BY 1
)
SELECT c_nationkey, n, sum_d, sum_d2,
       CAST(sum_d AS DOUBLE) * CAST(sum_d AS DOUBLE)
         * CAST(n - 1 AS DOUBLE)
         > 4.0 * (CAST(n AS DOUBLE) * CAST(sum_d2 AS DOUBLE)
                  - CAST(sum_d AS DOUBLE) * CAST(sum_d AS DOUBLE))
         AS significant
FROM m
"""


# --- graph clustering coefficient (r07 wave O): per node of the
# part co-purchase graph (the jaccard_nodes edge set — sparse by the
# support ≥ 2 screen), the closed-wedge count T_v (triangles through
# v) via ONE wedge-closing join of the adjacency against the edge
# set, and the cc ≥ 1/3 verdict kept integer by cross-multiplying
# 2T_v / (deg·(deg−1)) — no ratio materializes. The hub-degree cap
# note from jaccard_nodes applies identically.
def q_clustering_coef(spark, sf_dir):
    d = (_t(spark, sf_dir, "lineitem")
         .select("l_orderkey", "l_partkey").distinct())
    a = d.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = d.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (a.join(b, "l_orderkey").filter("pa < pb")
             .groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("sup"))
             .filter("sup >= 2").select("pa", "pb"))
    adj = (edges.select(F.col("pa").alias("v"), F.col("pb").alias("u"))
           .union(edges.select(F.col("pb").alias("v"),
                               F.col("pa").alias("u"))))
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    # wedges centered at v: neighbors (u1 < u2); closed if (u1, u2)
    # is an edge — join the wedge pair table against the edge set
    l = adj.select("v", F.col("u").alias("u1"))
    r = adj.select("v", F.col("u").alias("u2"))
    closed = (l.join(r, "v").filter("u1 < u2")
              .join(edges, (F.col("u1") == F.col("pa"))
                    & (F.col("u2") == F.col("pb")))
              .groupBy("v").agg(F.count(F.lit(1)).alias("t_v")))
    return (deg.join(closed, "v", "left")
            .select("v", "deg",
                    F.coalesce("t_v", F.lit(0)).alias("t_v"))
            .withColumn("dense",
                        6 * F.col("t_v")
                        >= F.col("deg") * (F.col("deg") - 1)))


ORACLE["clustering_coef"] = """
WITH d AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM d a JOIN d b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), adj AS (
  SELECT pa AS v, pb AS u FROM edges
  UNION ALL SELECT pb, pa FROM edges
), deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1
), closed AS (
  SELECT l.v, CAST(COUNT(*) AS BIGINT) AS t_v
  FROM adj l JOIN adj r ON l.v = r.v AND l.u < r.u
  JOIN edges e ON e.pa = l.u AND e.pb = r.u
  GROUP BY 1
)
SELECT deg.v, deg.deg, COALESCE(c.t_v, 0) AS t_v,
       6 * COALESCE(c.t_v, 0) >= deg.deg * (deg.deg - 1) AS dense
FROM deg LEFT JOIN closed c USING (v)
"""


# --- deterministic weighted sampling (r07 wave Q): the importance-
# sampling screen a curation pipeline applies ("keep expensive
# orders with probability ∝ value") made REPRODUCIBLE — the accept
# test hashes the key (md5 → 60-bit int, the same probed
# engine-parity construction as the HLL/Bloom sketches) instead of
# drawing randomness, so reruns and both engines select the
# IDENTICAL row set: accept ⟺ h % 1000000 < min(999999, cents div
# 100). Emits per priority the population, the sample, and the
# sampled value mass. One scan + one groupBy; no state, no RNG.
def q_weighted_sample(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.expr("cast(conv(substring(md5(concat(cast(o_orderkey as string)"
               ", ':ws')), 1, 15), 16, 10) as bigint)").alias("h"))
    s = o.withColumn(
        "keep", F.expr("h % 1000000 < least(999999L, cents div 100)"))
    return (s.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(F.when(F.col("keep"), 1).otherwise(0))
                 .cast("long").alias("n_sampled"),
                 F.sum(F.when(F.col("keep"), F.col("cents"))
                       .otherwise(0)).alias("sampled_cents")))


ORACLE["weighted_sample"] = """
WITH o AS (
  SELECT o_orderpriority,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':ws'),
                              1, 15)) AS BIGINT) AS h
  FROM orders
), s AS (
  SELECT *, h % 1000000 < LEAST(999999, cents // 100) AS keep FROM o
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled,
       CAST(SUM(CASE WHEN keep THEN cents ELSE 0 END) AS BIGINT)
         AS sampled_cents
FROM s GROUP BY 1
"""


# --- interval-union coverage (r07 wave R): total covered time per
# user when every event opens a 10-minute presence interval —
# overlapping intervals must merge BEFORE summing (the classic
# "union of intervals" that naive Σ durations double-counts). The
# gaps-and-islands solution: order by start, an island begins where
# start > the running max end over STRICTLY PRECEDING rows, island
# id = running sum of begin-flags, covered = Σ per-island
# (max end − min start). All exact microseconds; two windows + two
# groupBys on the user key.
def q_interval_union(spark, sf_dir):
    iv = (_t(spark, sf_dir, "events")
          .select("user_id",
                  F.expr("unix_micros(cast(ts as timestamp))").alias("s"))
          .withColumn("e", F.col("s") + 600_000_000))
    w = W.partitionBy("user_id").orderBy("s", "e")
    prev = (iv.withColumn(
        "pmax", F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))))
    isl = (prev.withColumn(
        "begin", F.when(F.col("pmax").isNull()
                        | (F.col("s") > F.col("pmax")), 1).otherwise(0))
        .withColumn("island", F.sum("begin").over(w)))
    per_island = (isl.groupBy("user_id", "island")
                  .agg(F.min("s").alias("lo"), F.max("e").alias("hi")))
    return (per_island.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_islands"),
                 F.sum(F.col("hi") - F.col("lo")).alias("covered_us"))
            .withColumn("covered_sec",
                        F.expr("covered_us div 1000000")))


ORACLE["interval_union"] = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e
  FROM events
), prev AS (
  SELECT *,
    MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS pmax
  FROM iv
), isl AS (
  SELECT *,
    SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY s, e) AS island
  FROM prev
), per_island AS (
  SELECT user_id, island, MIN(s) AS lo, MAX(e) AS hi
  FROM isl GROUP BY 1, 2
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(hi - lo) AS BIGINT) AS covered_us,
       CAST(SUM(hi - lo) // 1000000 AS BIGINT) AS covered_sec
FROM per_island GROUP BY 1
"""


# --- referential-integrity audit (r07 wave S): the FK orphan scan a
# warehouse runs nightly — for each relationship, how many child
# rows point at a missing parent (LEFT ANTI join), next to the
# child population. The fixture is integrity-clean, so the planted
# truth is zeros — the VALUE of the row is that both engines agree
# on the full (count, orphan) table across four relationships; the
# pytest pin corrupts a copy to prove the probe actually fires.
# Anti joins broadcast the parent key set when small, or
# shuffle-hash on the FK otherwise — either way one pass per edge.
def q_fk_orphans(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")

    def edge(name, child, fk, parent, pk):
        return (child.select(F.col(fk).alias("k"))
                .agg(F.count(F.lit(1)).alias("n_child"))
                .crossJoin(F.broadcast(
                    child.select(F.col(fk).alias("k"))
                    .join(parent.select(F.col(pk).alias("k")), "k",
                          "left_anti")
                    .agg(F.count(F.lit(1)).alias("n_orphan"))))
                .select(F.lit(name).alias("fk"), "n_child", "n_orphan"))
    return (edge("lineitem.orderkey", li, "l_orderkey", o, "o_orderkey")
            .union(edge("orders.custkey", o, "o_custkey", c, "c_custkey"))
            .union(edge("lineitem.suppkey", li, "l_suppkey", s,
                        "s_suppkey"))
            .union(edge("customer.nationkey", c, "c_nationkey", n,
                        "n_nationkey")))


ORACLE["fk_orphans"] = """
SELECT 'lineitem.orderkey' AS fk,
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child,
       CAST((SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
             ON l.l_orderkey = o.o_orderkey
             WHERE o.o_orderkey IS NULL) AS BIGINT) AS n_orphan
UNION ALL
SELECT 'orders.custkey',
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders o LEFT JOIN customer c
             ON o.o_custkey = c.c_custkey
             WHERE c.c_custkey IS NULL) AS BIGINT)
UNION ALL
SELECT 'lineitem.suppkey',
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem l LEFT JOIN supplier s
             ON l.l_suppkey = s.s_suppkey
             WHERE s.s_suppkey IS NULL) AS BIGINT)
UNION ALL
SELECT 'customer.nationkey',
       CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
       CAST((SELECT COUNT(*) FROM customer c LEFT JOIN nation n
             ON c.c_nationkey = n.n_nationkey
             WHERE n.n_nationkey IS NULL) AS BIGINT)
"""


# --- ordered top-k concatenation (r07 wave S): the "show me the top
# 3 per group as one cell" presentation rollup — per nation the
# three richest customers as a "key:key:key" string, ordered by
# (balance desc, custkey) so ties are deterministic. Spark builds it
# as sort-array-of-structs → slice → transform → concat_ws (pure
# codegen'd expressions over ONE groupBy — no window, no second
# shuffle); DuckDB as an ORDER BY list_slice. collect_list is
# per-group bounded here; at 100 TB cap the group first (window
# rn ≤ k) before collecting.
def q_top3_concat(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"))
    return (c.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.expr(
                     "concat_ws(':', transform(slice(array_sort("
                     "collect_list(struct(-cents AS nc, c_custkey))"
                     "), 1, 3), s -> cast(s.c_custkey as string)))")
                 .alias("top3")))


ORACLE["top3_concat"] = """
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
       array_to_string(
         list_slice(list(CAST(c_custkey AS VARCHAR)
                         ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT)
                                  DESC, c_custkey), 1, 3), ':') AS top3
FROM customer GROUP BY 1
"""


# --- seasonal-naive forecast error (r07 wave T): the baseline every
# forecast must beat — predict today's count with the count 7 days
# ago, score |actual − lag7| per event type over the COMPLETE day
# spine (missing days are real zero observations, built by a
# sequence explode — no join against an external calendar), exact
# integers. One count agg + one spine LEFT join + one lag window
# per type.
def q_snaive_error(spark, sf_dir):
    ev = (_t(spark, sf_dir, "events")
          .select("event_type",
                  F.expr("datediff(to_date(ts), date'2024-01-01')")
                  .alias("day")))
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n"))
    span = daily.agg(F.max("day").alias("max_day"))
    types = daily.select("event_type").distinct()
    spine = (types.crossJoin(F.broadcast(span))
             .select("event_type",
                     F.explode(F.expr("sequence(0, max_day)"))
                     .alias("day")))
    full = (spine.join(daily, ["event_type", "day"], "left")
            .select("event_type", "day",
                    F.coalesce("n", F.lit(0)).alias("n")))
    w = W.partitionBy("event_type").orderBy("day")
    err = (full.withColumn("lag7", F.lag("n", 7).over(w))
           .filter(F.col("lag7").isNotNull())
           .withColumn("abs_err", F.abs(F.col("n") - F.col("lag7"))))
    return (err.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_days"),
                 F.sum("abs_err").alias("sum_abs_err"),
                 F.max("abs_err").alias("max_abs_err")))


ORACLE["snaive_error"] = """
WITH ev AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
  FROM events
), daily AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
), span AS (
  SELECT MAX(day) AS max_day FROM daily
), spine AS (
  SELECT t.event_type, u.day
  FROM (SELECT DISTINCT event_type FROM daily) t,
       span, LATERAL (SELECT UNNEST(range(max_day + 1)) AS day) u
), filled AS (
  SELECT s.event_type, s.day, COALESCE(d.n, 0) AS n
  FROM spine s LEFT JOIN daily d USING (event_type, day)
), err AS (
  SELECT event_type, ABS(n - LAG(n, 7) OVER
           (PARTITION BY event_type ORDER BY day)) AS abs_err
  FROM filled
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(abs_err) AS BIGINT) AS sum_abs_err,
       CAST(MAX(abs_err) AS BIGINT) AS max_abs_err
FROM err WHERE abs_err IS NOT NULL
GROUP BY 1
"""


# --- fixed-width value histogram (r07 wave T): the profiler's
# distribution sketch — events.value binned into 25-unit buckets
# with a clamped overflow bucket (bin = least(floor(value / 25),
# 19); floor of a positive double then clamp — both engines identical
# IEEE), per bin the count and the EXACT value mass in cents (scaled
# before summing so the aggregate is integer). One scan, one 20-group
# agg — map-side combinable to nothing.
def q_value_histogram(spark, sf_dir):
    ev = (_t(spark, sf_dir, "events")
          .select(F.expr("least(cast(floor(value / 25) as bigint), 19L)")
                  .alias("bin"),
                  F.round(F.col("value") * 100).cast("long")
                  .alias("cents")))
    return (ev.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("cents").alias("sum_cents")))


ORACLE["value_histogram"] = """
SELECT LEAST(CAST(FLOOR(value / 25) AS BIGINT), 19) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events GROUP BY 1
"""


# --- inter-order gap analysis (r07 wave U): per-customer purchase
# cadence — gaps in days between consecutive orders under the total
# (date, orderkey) order, rolled up per nation: how many gaps, their
# exact day mass, and the longest dry spell. The churn-model feature
# extractor; one lag window on the customer key + one nation
# groupBy, all integers.
def q_order_gaps(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (o.withColumn("prev", F.lag("o_orderdate").over(w))
         .filter(F.col("prev").isNotNull())
         .select("o_custkey",
                 F.expr("datediff(to_date(o_orderdate), to_date(prev))")
                 .alias("gap")))
    return (g.join(c, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_gaps"),
                 F.sum("gap").alias("sum_gap_days"),
                 F.max("gap").alias("max_gap_days")))


ORACLE["order_gaps"] = """
WITH g AS (
  SELECT o_custkey,
         datediff('day',
                  CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS DATE),
                  CAST(o_orderdate AS DATE)) AS gap
  FROM orders
)
SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(gap) AS BIGINT) AS sum_gap_days,
       CAST(MAX(gap) AS BIGINT) AS max_gap_days
FROM g JOIN customer c ON g.o_custkey = c.c_custkey
WHERE gap IS NOT NULL
GROUP BY 1
"""


# --- hour-of-day profile (r07 wave V): the diurnal activity
# fingerprint per event type — 24-bin UTC hour histogram with
# counts and exact value mass in cents, plus each type's
# deterministic peak hour broadcast onto its rows (max count, ties
# → earliest hour). One scan, one (type, hour) groupBy, one tiny
# window.
def q_hod_profile(spark, sf_dir):
    ev = (_t(spark, sf_dir, "events")
          .select("event_type",
                  F.hour(F.expr("cast(ts as timestamp)")).alias("hod"),
                  F.round(F.col("value") * 100).cast("long")
                  .alias("cents")))
    g = ev.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
    w = W.partitionBy("event_type").orderBy(F.col("n").desc(), "hod")
    peak = (g.withColumn("rn", F.row_number().over(w))
            .withColumn("peak_hod", F.max(F.when(F.col("rn") == 1,
                                                 F.col("hod")))
                        .over(W.partitionBy("event_type"))))
    return peak.select("event_type", "hod", "n", "sum_cents", "peak_hod")


ORACLE["hod_profile"] = """
WITH g AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents
  FROM events GROUP BY 1, 2
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY n DESC, hod) AS rn
  FROM g
)
SELECT event_type, CAST(hod AS BIGINT) AS hod, n, sum_cents,
       CAST(MAX(CASE WHEN rn = 1 THEN hod END)
            OVER (PARTITION BY event_type) AS BIGINT) AS peak_hod
FROM r
"""


# --- cumulative user growth (r07 wave V): the growth-accounting
# curve — each user's FIRST active day (min over the event stream),
# new-user counts per day, and the running total of ever-seen users
# by day. The cumulative window runs over the tiny per-day rollup
# (≤ #days rows), not the event stream; exact integer days from the
# 2024-01-01 epoch.
def q_cume_users(spark, sf_dir):
    first = (_t(spark, sf_dir, "events")
             .select("user_id",
                     F.expr("datediff(to_date(ts), date'2024-01-01')")
                     .alias("day"))
             .groupBy("user_id").agg(F.min("day").alias("first_day")))
    daily = first.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("n_new"))
    w = W.orderBy("first_day")
    return (daily.withColumn("cum_users", F.sum("n_new").over(w))
            .select(F.col("first_day").alias("day"), "n_new",
                    "cum_users"))


ORACLE["cume_users"] = """
WITH first AS (
  SELECT user_id,
         MIN(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)))
           AS first_day
  FROM events GROUP BY 1
), daily AS (
  SELECT first_day, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM first GROUP BY 1
)
SELECT first_day AS day, n_new,
       CAST(SUM(n_new) OVER (ORDER BY first_day) AS BIGINT) AS cum_users
FROM daily
"""


# --- Herfindahl concentration (r07 wave W): the antitrust /
# supply-risk index per part brand — supplier shares of shipped
# quantity, with the HHI kept exact as the numerator pair
# (Σq_i², (Σq)²) and the dominance verdict 4·q_max² > (Σq)²
# (⟺ top share > 1/2) by cross-multiplication. Two nested groupBys
# (part-brand×supplier, then brand) — both map-side combinable.
def q_hhi_brand(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", F.col("l_quantity").cast("long")
        .alias("q"))
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bysup = (li.join(p, F.col("l_partkey") == F.col("p_partkey"))
             .groupBy("p_brand", "l_suppkey")
             .agg(F.sum("q").alias("qs")))
    return (bysup.groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_suppliers"),
                 F.sum("qs").alias("total_q"),
                 F.sum(F.col("qs") * F.col("qs")).alias("hhi_num"),
                 F.max("qs").alias("max_q"))
            .withColumn("dominated",
                        4 * F.col("max_q") * F.col("max_q")
                        > F.col("total_q") * F.col("total_q")))


ORACLE["hhi_brand"] = """
WITH bysup AS (
  SELECT p.p_brand, l.l_suppkey,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qs
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
)
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(qs) AS BIGINT) AS total_q,
       CAST(SUM(qs * qs) AS BIGINT) AS hhi_num,
       CAST(MAX(qs) AS BIGINT) AS max_q,
       4 * MAX(qs) * MAX(qs) > SUM(qs) * SUM(qs) AS dominated
FROM bysup GROUP BY 1
"""


# --- price run analysis (r07 wave W): tick-direction statistics over
# each part's shipment-ordered price path — up/down/flat move counts
# and the LONGEST consecutive up-run (gaps-and-islands over the
# direction flag: an island starts where the direction changes; run
# length = island size). Two windows on the part key + two groupBys.
def q_price_runs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_orderkey", "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long")
        .alias("cents"))
    w = (W.partitionBy("l_partkey")
         .orderBy("l_shipdate", "l_orderkey", "l_linenumber"))
    d = (li.withColumn("prev", F.lag("cents").over(w))
         .filter(F.col("prev").isNotNull())
         .withColumn("dir", F.signum(F.col("cents") - F.col("prev"))
                     .cast("long")))
    isl = d.withColumn(
        "flip", F.when(F.lag("dir").over(w).isNull()
                       | (F.lag("dir").over(w) != F.col("dir")), 1)
        .otherwise(0)).withColumn("island", F.sum("flip").over(w))
    runs = (isl.groupBy("l_partkey", "island", "dir")
            .agg(F.count(F.lit(1)).alias("run_len")))
    return (runs.groupBy("l_partkey")
            .agg(F.sum(F.when(F.col("dir") == 1, F.col("run_len"))
                       .otherwise(0)).cast("long").alias("n_up"),
                 F.sum(F.when(F.col("dir") == -1, F.col("run_len"))
                       .otherwise(0)).cast("long").alias("n_down"),
                 F.sum(F.when(F.col("dir") == 0, F.col("run_len"))
                       .otherwise(0)).cast("long").alias("n_flat"),
                 F.max(F.when(F.col("dir") == 1, F.col("run_len")))
                 .alias("mu"))
            .select("l_partkey", "n_up", "n_down", "n_flat",
                    F.coalesce("mu", F.lit(0)).alias("max_up_run")))


ORACLE["price_runs"] = """
WITH li AS (
  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), d AS (
  SELECT *,
    SIGN(cents - LAG(cents) OVER
      (PARTITION BY l_partkey
       ORDER BY l_shipdate, l_orderkey, l_linenumber)) AS dir
  FROM li
), flagged AS (
  SELECT *,
    CASE WHEN LAG(dir) OVER (PARTITION BY l_partkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber) IS NULL
         OR LAG(dir) OVER (PARTITION BY l_partkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber) <> dir
         THEN 1 ELSE 0 END AS flip
  FROM d WHERE dir IS NOT NULL
), isl AS (
  SELECT *, SUM(flip) OVER (PARTITION BY l_partkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber) AS island
  FROM flagged
), runs AS (
  SELECT l_partkey, island, dir, CAST(COUNT(*) AS BIGINT) AS run_len
  FROM isl GROUP BY 1, 2, 3
)
SELECT l_partkey,
       CAST(SUM(CASE WHEN dir = 1 THEN run_len ELSE 0 END) AS BIGINT)
         AS n_up,
       CAST(SUM(CASE WHEN dir = -1 THEN run_len ELSE 0 END) AS BIGINT)
         AS n_down,
       CAST(SUM(CASE WHEN dir = 0 THEN run_len ELSE 0 END) AS BIGINT)
         AS n_flat,
       CAST(COALESCE(MAX(CASE WHEN dir = 1 THEN run_len END), 0)
            AS BIGINT) AS max_up_run
FROM runs GROUP BY 1
"""


# --- ABC / Pareto classification (r07 wave X): the inventory
# analysis staple — parts ranked by revenue, classified A while the
# running share is within 80% of total, B within 95%, else C, with
# every share test cross-multiplied (5·cum ≤ 4·tot; 20·cum ≤
# 19·tot) so no ratio ever materializes. The cumulative window runs
# under the total (revenue desc, partkey) order; the class rollup
# reports each band's size and exact revenue mass.
def q_abc_class(spark, sf_dir):
    # r08 (VERDICT r07 next-#3): the global cumulative sum ran as ONE
    # unpartitioned window task over the per-part rollup — fine at
    # sf0.1, a straggler at 10⁸ parts. with_global_cumsum computes the
    # identical exact-int64 running sum via range partitioning +
    # per-partition windows + broadcast prefix offsets
    # (operators/global_order.py); the band tests are unchanged.
    from ..operators.global_order import with_global_cumsum
    rev = (_t(spark, sf_dir, "lineitem")
           .groupBy("l_partkey")
           .agg(F.sum(F.round(F.col("l_extendedprice") * 100)
                      .cast("long")).alias("cents")))
    tot = rev.agg(F.sum("cents").alias("tot"))
    r = (with_global_cumsum(rev, [F.col("cents").desc(),
                                  F.col("l_partkey")],
                            "cents", out="cum")
         .crossJoin(F.broadcast(tot))
         .withColumn("cls", F.when(5 * F.col("cum") <= 4 * F.col("tot"),
                                   "A")
                     .when(20 * F.col("cum") <= 19 * F.col("tot"), "B")
                     .otherwise("C")))
    return (r.groupBy("cls")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.sum("cents").alias("revenue_cents")))


ORACLE["abc_class"] = """
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS tot FROM rev
), r AS (
  SELECT cents,
    SUM(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum,
    t.tot
  FROM rev CROSS JOIN tot t
), cls AS (
  SELECT cents,
    CASE WHEN 5 * cum <= 4 * tot THEN 'A'
         WHEN 20 * cum <= 19 * tot THEN 'B' ELSE 'C' END AS cls
  FROM r
)
SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM cls GROUP BY 1
"""


# --- user path analysis (r07 wave X): the Sankey-diagram feed —
# each user's FIRST THREE event types in (ts, event_id) order
# joined into a "a>b>c" path string (shorter if the user has fewer
# events), counted across users. The same sort-slice-concat shape
# as top3_concat, keyed per user then rolled up — two shuffles.
def q_user_paths(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        "event_id")
    path = (ev.groupBy("user_id")
            .agg(F.expr(
                "concat_ws('>', transform(slice(array_sort("
                "collect_list(struct(us, event_id, event_type))"
                "), 1, 3), s -> s.event_type))").alias("path")))
    return (path.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_users")))


ORACLE["user_paths"] = """
WITH ordered AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
), path AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ordered WHERE rn <= 3 GROUP BY 1
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM path GROUP BY 1
"""


# --- semi-structured JSON extraction (r07 wave Y): the props column
# is a JSON document — parse `$.k` with the engines' REAL JSON path
# functions (Spark get_json_object ↔ DuckDB json_extract_string,
# both returning the scalar as text → exact BIGINT cast) and roll
# up per event type: count, k mass, extrema, the k > 50 band, and
# the malformed/missing-key count (NULL extraction — 0 here, the
# audit column that catches schema drift in production). JSON
# parsing is row-local; the only shuffle is the 5-group agg.
def q_json_props(spark, sf_dir):
    ev = (_t(spark, sf_dir, "events")
          .select("event_type",
                  F.get_json_object("props", "$.k").cast("long")
                  .alias("k")))
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_missing"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"), F.max("k").alias("max_k"),
                 F.sum(F.when(F.col("k") > 50, 1).otherwise(0))
                 .cast("long").alias("n_high")))


ORACLE["json_props"] = """
WITH ev AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k, MAX(k) AS max_k,
       CAST(SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high
FROM ev GROUP BY 1
"""


# --- CDC keep-latest compaction (r07 wave Z): the change-stream →
# current-state primitive (Kafka log compaction / Debezium "last
# one wins"): per (user, event_type) key keep exactly the LATEST
# event under the total (timestamp, event_id) order — a struct max,
# no window, ONE shuffle — then summarize per type: key count, the
# kept-ids checksum, and the kept-value mass. Deterministic under
# tie timestamps because event_id completes the order.
def q_dedup_latest(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    latest = (ev.groupBy("user_id", "event_type")
              .agg(F.max(F.struct("us", "event_id", "cents"))
                   .alias("m")))
    return (latest.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_keys"),
                 F.sum("m.event_id").alias("id_checksum"),
                 F.sum("m.cents").alias("kept_cents")))


ORACLE["dedup_latest"] = """
WITH r AS (
  SELECT user_id, event_type, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_us(ts) DESC,
                                     event_id DESC) AS rn
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum,
       CAST(SUM(cents) AS BIGINT) AS kept_cents
FROM r WHERE rn = 1 GROUP BY 1
"""


# --- share-of-total report (r07 wave Z): the BI percent-of-total
# column — per-nation revenue with its exact parts-per-million
# share (1000000·rev div total: positive operands ⇒ trunc ≡ floor
# across engines; no float ratio) and the running cumulative share
# under the deterministic (revenue desc, nation) order. One agg +
# one broadcast total + one tiny window.
def q_share_of_total(spark, sf_dir):
    rev = (_t(spark, sf_dir, "orders").alias("o")
           .join(_t(spark, sf_dir, "customer").alias("c"),
                 F.col("o.o_custkey") == F.col("c.c_custkey"))
           .groupBy(F.col("c.c_nationkey").alias("nk"))
           .agg(F.sum(F.round(F.col("o.o_totalprice") * 100)
                      .cast("long")).alias("cents")))
    tot = rev.agg(F.sum("cents").alias("tot"))
    w = W.orderBy(F.col("cents").desc(), "nk")
    return (rev.crossJoin(F.broadcast(tot))
            .withColumn("share_ppm",
                        F.expr("1000000 * cents div tot"))
            .withColumn("cum_cents", F.sum("cents").over(w))
            .withColumn("cum_ppm",
                        F.expr("1000000 * cum_cents div tot"))
            .select("nk", "cents", "share_ppm", "cum_ppm"))


ORACLE["share_of_total"] = """
WITH rev AS (
  SELECT c.c_nationkey AS nk,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS tot FROM rev
)
SELECT nk, cents,
       1000000 * cents // t.tot AS share_ppm,
       CAST(1000000 * (SUM(cents) OVER (ORDER BY cents DESC, nk))
            // t.tot AS BIGINT) AS cum_ppm
FROM rev CROSS JOIN tot t
"""
