"""Core parity queries: the reference lab's four benchmark queries
re-expressed over the driver fixture schema, Spark-first.

Reference query shapes (SURVEY.md §2, §6):
- Q1 aggregation-by-type  — `queries/q1-aggregation-by-type/README.md:50-62`
- Q2 town-month rollup    — `queries/q2-town-month-rollup/README.md:50-62`
- Q3 YoY window (LAG)     — `queries/q3-yoy-window-functions/README.md:60-82`
- Q4 top-N + join + percentiles — `queries/q4-top-countries-percentiles/README.md:48-73`

The fixture mapping: `lineitem` plays the 30M-row fact table
(`uk_price_paid`), `l_returnflag` plays the low-cardinality enum
(`type`), `l_shipdate` the date, `l_extendedprice` the price;
`nation.n_name` (via supplier) plays `county`; `o_orderpriority`
plays `town`.

Every computed column is aliased to match the DuckDB oracle exactly;
all LIMIT queries carry deterministic tie-break ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_engine_triangle_spark.catalog import load_table
from sql_engine_triangle_spark.functions.scalar import round_stable
from sql_engine_triangle_spark.queries.registry import register, register_sql

# ---------------------------------------------------------------------------
# Q1 — aggregation by type (scan → filter → group-agg → scalar fn → sort)
# Covers S-scan, P3 range predicate, A1-A3/A5, F1 round, O1.
# ---------------------------------------------------------------------------

Q1_SQL = """
SELECT
  l_returnflag,
  count(*) AS cnt,
  CAST(round(CAST(avg(l_extendedprice) AS DECIMAL(18,6)), 2) AS DOUBLE) AS avg_price,
  round(min(l_extendedprice), 2) AS min_price,
  round(max(l_extendedprice), 2) AS max_price
FROM {lineitem}
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
ORDER BY avg_price DESC, l_returnflag
"""

register_sql(
    "q1_agg_by_type",
    Q1_SQL,
    tags=("P3", "A1", "A2", "A3", "A5", "F1", "O1"),
    doc="""Reference Q1: range filter → single-key group → count/avg/min/max
    → order by derived aggregate DESC (q1 README.md:50-62).

    Scale: filter + partial agg happen map-side inside one codegen
    stage; the shuffle carries only |distinct l_returnflag| rows.
    """,
)


# ---------------------------------------------------------------------------
# Q2 — town/month rollup (IN-list + range filter → multi-key expression
# group-by over a time bucket → sort by group keys)
# Covers P5, P8, A6, A7, F2, O2.
# ---------------------------------------------------------------------------

register_sql(
    "q2_town_month_rollup",
    """
SELECT
  o_orderpriority,
  CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
  count(*) AS cnt,
  CAST(round(CAST(avg(o_totalprice) AS DECIMAL(18,6)), 2) AS DOUBLE) AS avg_total
FROM {orders}
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY o_orderpriority, CAST(date_trunc('month', o_orderdate) AS DATE)
ORDER BY o_orderpriority, month
""",
    tags=("P5", "P8", "A6", "A7", "F2", "O2"),
    doc="""Reference Q2: selective IN-list + date range, rollup by
    (town, month) (q2 README.md:50-62). `o_orderpriority` plays town;
    `date_trunc('month', ...)` is the time bucket (F2).""",
)


# ---------------------------------------------------------------------------
# Q3 — YoY window: two-phase aggregate → LAG window → derived deltas
# Covers A7 (year bucket), W1, W2, W3, F1, F3, F11.
# ---------------------------------------------------------------------------

register_sql(
    "q3_yoy_window",
    """
WITH yearly AS (
  SELECT
    l_returnflag,
    CAST(year(l_shipdate) AS INTEGER) AS yr,
    CAST(round(CAST(avg(l_extendedprice) AS DECIMAL(18,6)), 2) AS DOUBLE) AS avg_price,
    count(*) AS cnt
  FROM {lineitem}
  GROUP BY l_returnflag, CAST(year(l_shipdate) AS INTEGER)
)
SELECT
  l_returnflag,
  yr,
  avg_price,
  cnt,
  round(avg_price - lag(avg_price) OVER w, 2) AS yoy_delta,
  CAST(round(CAST(100.0 * (avg_price - lag(avg_price) OVER w)
                   / lag(avg_price) OVER w AS DECIMAL(18,6)), 2) AS DOUBLE)
    AS yoy_pct
FROM yearly
WINDOW w AS (PARTITION BY l_returnflag ORDER BY yr)
ORDER BY l_returnflag, yr
""",
    tags=("A7", "W1", "W2", "W3", "F3", "F11"),
    doc="""Reference Q3: two-phase execution — aggregate to (type, year)
    grain, then LAG window over the tiny intermediate
    (q3 README.md:33-38, 60-82). The window runs after aggregation,
    so its input is |types|×|years| rows — trivially cheap at any
    scale; the heavy lifting is the partial+final aggregation.""",
)


# ---------------------------------------------------------------------------
# Q4 — top-N CTE → broadcast join back to fact → exact percentiles
# Covers O3 top-N, J1/J2 join, A9 percentile_cont, A1, P7.
# ---------------------------------------------------------------------------

# Percentile-rounding parity: interpolating 2-decimal prices yields
# exact 4-decimal quantities whose binary doubles sit on .xx5 rounding
# ties (e.g. 52789.245) — Spark (decimal-string HALF_UP) and DuckDB
# (binary) disagree there. Both sides route through DECIMAL(18,4)
# before round(,2) so the rounding input is the exact intended value
# (SURVEY.md §7 hazard 2; caught by the sf0.1 cross-check).
Q4_ORACLE = """
WITH top_nations AS (
  SELECT n_name AS nation, count(*) AS cnt
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name
  ORDER BY cnt DESC, nation
  LIMIT 10
)
SELECT
  f.nation,
  count(*) AS cnt,
  CAST(round(CAST(quantile_cont(f.l_extendedprice, 0.25) AS DECIMAL(18,4)), 2) AS DOUBLE) AS p25,
  CAST(round(CAST(quantile_cont(f.l_extendedprice, 0.50) AS DECIMAL(18,4)), 2) AS DOUBLE) AS p50,
  CAST(round(CAST(quantile_cont(f.l_extendedprice, 0.75) AS DECIMAL(18,4)), 2) AS DOUBLE) AS p75,
  CAST(round(CAST(quantile_cont(f.l_extendedprice, 0.95) AS DECIMAL(18,4)), 2) AS DOUBLE) AS p95
FROM (
  SELECT n_name AS nation, l_extendedprice
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
) f
JOIN top_nations tn ON f.nation = tn.nation
GROUP BY f.nation
ORDER BY cnt DESC, f.nation
"""


def _pct_col(expr_str: str) -> "F.Column":
    """round-through-decimal for exact-percentile outputs (see
    Q4_ORACLE comment)."""
    return F.round(F.expr(expr_str).cast("decimal(18,4)"), 2).cast("double")


@register("q4_top_nations_percentiles", oracle=Q4_ORACLE, tags=("O3", "J1", "J2", "A9", "A1"))
def q4_top_nations_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Q4: top-10-groups CTE, join back to the fact table,
    exact interpolated percentiles per group (q4 README.md:48-73).

    Spark-first choices:
    - supplier/nation dims are broadcast (small sides) — no fact
      shuffle for the dimension joins;
    - the 10-row top_nations side is explicitly `broadcast()` so the
      re-join is a BroadcastHashJoin (the lab observed a hash join
      with the CTE as build side, q4 README.md:79);
    - top-N uses orderBy+limit → TakeOrderedAndProject (no full sort);
    - percentile_cont is exact here for oracle parity; the approx
      sketch path is `q4_approx_percentiles` (A10).
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")

    fact = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(F.col("n_name").alias("nation"), "l_extendedprice")
    )
    # Single-pass plan: the CTE's top-N and the percentile aggregation
    # group by the same key, so compute both in ONE aggregation and
    # take the top-N afterwards over |nations| rows — one fact scan,
    # one shuffle, no re-join (strictly better than the lab's two-pass
    # shape while returning identical rows; the join form is kept as
    # q4_semi_join_form below for J1/J2 parity).
    # All four percentiles from ONE aggregation buffer (array form):
    # percentile(col, array(...)) sorts each group's values once
    # instead of four times — measured ~2x on the sf0.1 fixture.
    pcts = F.expr("percentile(l_extendedprice, array(0.25, 0.50, 0.75, 0.95))")

    def pct(i: int) -> "F.Column":
        return (
            F.round(F.element_at("_p", i).cast("decimal(18,4)"), 2)
            .cast("double")
        )

    return (
        fact.groupBy("nation")
        .agg(F.count("*").alias("cnt"), pcts.alias("_p"))
        .select(
            "nation",
            "cnt",
            pct(1).alias("p25"),
            pct(2).alias("p50"),
            pct(3).alias("p75"),
            pct(4).alias("p95"),
        )
        .orderBy(F.desc("cnt"), "nation")
        .limit(10)
    )


@register("q4_semi_join_form", oracle=Q4_ORACLE, tags=("J1", "J2", "J3", "O3"))
def q4_semi_join_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lab's literal two-pass Q4 shape: top-N CTE, broadcast hash
    re-join against the fact (q4 README.md:69-79). Same oracle, same
    rows as q4_top_nations_percentiles — kept to exercise J1/J2 with
    a CTE build side explicitly."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    fact = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(F.col("n_name").alias("nation"), "l_extendedprice")
    )
    top_nations = (
        fact.groupBy("nation")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "nation")
        .limit(10)
        .select("nation")
    )
    return (
        fact.join(F.broadcast(top_nations), "nation")
        .groupBy("nation")
        .agg(
            F.count("*").alias("cnt"),
            _pct_col("percentile(l_extendedprice, 0.25)").alias("p25"),
            _pct_col("percentile(l_extendedprice, 0.50)").alias("p50"),
            _pct_col("percentile(l_extendedprice, 0.75)").alias("p75"),
            _pct_col("percentile(l_extendedprice, 0.95)").alias("p95"),
        )
        .orderBy(F.desc("cnt"), "nation")
    )


Q4_TWO_KEY_ORACLE = """
WITH top_nations AS (
  SELECT n_name AS nation, count(*) AS cnt
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name
  ORDER BY cnt DESC, nation
  LIMIT 10
)
SELECT
  f.nation,
  f.l_returnflag AS returnflag,
  count(*) AS transactions,
  CAST(round(CAST(avg(f.l_extendedprice) AS DECIMAL(18,6)), 2) AS DOUBLE) AS avg_price,
  CAST(round(CAST(quantile_cont(f.l_extendedprice, 0.25) AS DECIMAL(18,4)), 2) AS DOUBLE) AS p25,
  CAST(round(CAST(quantile_cont(f.l_extendedprice, 0.50) AS DECIMAL(18,4)), 2) AS DOUBLE) AS median,
  CAST(round(CAST(quantile_cont(f.l_extendedprice, 0.75) AS DECIMAL(18,4)), 2) AS DOUBLE) AS p75,
  CAST(round(CAST(quantile_cont(f.l_extendedprice, 0.95) AS DECIMAL(18,4)), 2) AS DOUBLE) AS p95
FROM (
  SELECT n_name AS nation, l_returnflag, l_extendedprice
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
) f
JOIN top_nations tn ON f.nation = tn.nation
GROUP BY f.nation, f.l_returnflag
ORDER BY f.nation, returnflag
"""


@register("q4_two_key_percentiles", oracle=Q4_TWO_KEY_ORACLE, tags=("A7", "A9", "J1", "O2"))
def q4_two_key_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lab's LITERAL Q4 grain: the top-N CTE groups by one key
    but the outer aggregation groups by TWO (county, type → here
    nation × returnflag) with transactions + rounded avg + four
    percentiles, ordered by the group keys (q4 README.md:59-73).
    Because the top-N key is a prefix of the outer grain, the
    single-pass trick of q4_top_nations_percentiles doesn't apply —
    this is the join-back form with the 10-row CTE broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    fact = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("l_returnflag").alias("returnflag"),
            "l_extendedprice",
        )
    )
    top_nations = (
        fact.groupBy("nation")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "nation")
        .limit(10)
        .select("nation")
    )
    pcts = F.expr("percentile(l_extendedprice, array(0.25, 0.50, 0.75, 0.95))")

    def pct(i: int) -> "F.Column":
        return F.round(F.element_at("_p", i).cast("decimal(18,4)"), 2).cast("double")

    return (
        fact.join(F.broadcast(top_nations), "nation")
        .groupBy("nation", "returnflag")
        .agg(
            F.count("*").alias("transactions"),
            round_stable(F.avg("l_extendedprice")).alias("avg_price"),
            pcts.alias("_p"),
        )
        .select(
            "nation",
            "returnflag",
            "transactions",
            "avg_price",
            pct(1).alias("p25"),
            pct(2).alias("median"),
            pct(3).alias("p75"),
            pct(4).alias("p95"),
        )
        .orderBy("nation", "returnflag")
    )


# ---------------------------------------------------------------------------
# Q4' — the ClickHouse-flavored approximate variant (A10/A11 sketches).
# Two registered forms:
#   * q4_approx_sketch — the raw sketch outputs (bench entry "q4a");
#     no oracle, because sketch values are engine-specific (the lab
#     itself pairs exact PERCENTILE_CONT on row engines with
#     quantileTDigest on CH — q4 README.md:64-67 vs :222-225).
#   * q4_approx_percentiles — the driver-visible VALIDATION form: it
#     computes the sketches AND their exact bounds in one aggregation
#     and emits deterministic within-tolerance booleans, so the DuckDB
#     oracle (which cannot see the sketch values) asserts the expected
#     outcome (all TRUE) and the row hash-matches deterministically.
# ---------------------------------------------------------------------------


def _q4_approx_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(F.col("n_name").alias("nation"), "l_extendedprice", "l_partkey")
    )


@register("q4_approx_sketch", oracle=None, tags=("A10", "A11"))
def q4_approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based Q4: approx_percentile (Greenwald-Khanna; the CH
    analog is quantileTDigest, q4 README.md:222-225) and HLL++
    approx_count_distinct (`uniq`, clickhouse/queries.sql:21-27).
    This is the default path at 100 TB: single pass, bounded memory,
    mergeable sketches — no per-group full sort."""
    return (
        _q4_approx_fact(spark, sf_dir)
        .groupBy("nation")
        .agg(
            F.count("*").alias("cnt"),
            F.round(
                F.expr("approx_percentile(l_extendedprice, 0.5, 10000)"), 2
            ).alias("p50_approx"),
            F.approx_count_distinct("l_partkey").alias("uniq_parts"),
        )
        .orderBy(F.desc("cnt"), "nation")
    )


Q4_APPROX_VALIDATION_ORACLE = """
SELECT n_name AS nation,
       count(*) AS cnt,
       TRUE AS p50_within_tol,
       TRUE AS uniq_within_tol
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY cnt DESC, nation
"""


@register("q4_approx_percentiles", oracle=Q4_APPROX_VALIDATION_ORACLE, tags=("A10", "A11"))
def q4_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance validation of the Q4 sketches. One aggregation computes
    both the sketch and its exact bound: approx_percentile(0.5, acc=1e4)
    must land inside the exact [p45, p55] interpolated band (GK rank
    error is n/10000 ≪ the ±5%-rank band), and HLL++ (default rsd 0.05)
    must be within 15% (3σ) of the exact distinct count. The emitted
    booleans are deterministic given the data — sketch noise lives well
    inside the band — so the oracle asserts the expected TRUEs and the
    driver's value hash is stable."""
    agg = (
        _q4_approx_fact(spark, sf_dir)
        .groupBy("nation")
        .agg(
            F.count("*").alias("cnt"),
            F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("_p50a"),
            F.expr("percentile(l_extendedprice, array(0.45, 0.55))").alias("_band"),
            F.approx_count_distinct("l_partkey").alias("_ua"),
            F.countDistinct("l_partkey").alias("_ue"),
        )
    )
    return agg.select(
        "nation",
        "cnt",
        (
            (F.col("_p50a") >= F.element_at("_band", 1))
            & (F.col("_p50a") <= F.element_at("_band", 2))
        ).alias("p50_within_tol"),
        (
            F.abs(F.col("_ua") - F.col("_ue")) <= 0.15 * F.col("_ue")
        ).alias("uniq_within_tol"),
    ).orderBy(F.desc("cnt"), "nation")
