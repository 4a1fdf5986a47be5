"""The reference lab's benchmark queries over the reference-shaped
`property_sales` fixture (FIXTURES.md §1).

These follow the lab's queries/q1..q4 READMEs clause-for-clause —
town IN-list, county IS NOT NULL, Q3's 2015 filter + transactions
column with LAG over UNROUNDED yearly averages, Q4's (county, type)
grain with avg_price + four percentiles — with exactly two
deliberate, documented deviations:

1. Rounding is decimal-routed on BOTH sides (`CAST(... AS DECIMAL)`
   before `round`) — the lab rounds engine-native doubles, which
   lands on .5 ties that PostgreSQL/DuckDB/Spark resolve
   differently; differential testing needs one rule.
2. Q4's top_counties CTE adds `county` as an ORDER BY tie-break —
   the lab's bare `ORDER BY cnt DESC LIMIT 10` is nondeterministic
   when two counties tie on count.

Each query is one SQL text, run by ``spark.sql`` over the table
``sources.ddl.open_table`` registers for the path: one parse and one
analysis, where a DataFrame builder analyzes each call. Its schema and
partitions come from catalog metadata, so building a query runs no
Spark job and lists only the partitions the filter keeps. The date
filters are written by ``sources.ingest.date_since_sql``: on a table
partitioned by ``month_col`` each scan opens only the months the
filter can match (the lab's ``PARTITION BY toYYYYMM(date)`` pruning);
on a flat table they are the plain date predicates. The DuckDB oracles
of Q1-Q3 (``Q*_SQL``) are the same texts with the lab's table name and
date predicate and no hint; Q4's is the lab's form (below).

On Spark each text coalesces its aggregate to one partition (its
``{hint}``, ``/*+ COALESCE(1) */``) and ends in ``ORDER BY``, which
then sorts inside that one task: a sort over more partitions would
plan a range exchange and a sampling job for results this small. Each result is bounded by
its number of groups (Q1: the 5 types; Q2: 5 towns x months; Q3:
types x years; Q4: 10 counties x types), whatever the table's size.

Q4 differs from the lab's text in plan, not in result. The lab reads
the month partitions twice, once for the top-counties CTE and once for
the grouped aggregate joined to it. Here one scan aggregates every
(county, type) group, so the percentiles are computed for every
county; the groups are then folded per county and the counties ranked
by (count DESC, county) as in the lab's CTE, and the first 10 are
unfolded again. The rows are the lab's, with no second scan and no
broadcast join.

Kept OUTSIDE the driver registry (the driver's sf dirs don't contain
property_sales; the fixture is generated deterministically in tests)
and differentially tested against DuckDB in
tests/test_reference_parity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sql_engine_triangle_spark.sources.ddl import open_table, table_name
from sql_engine_triangle_spark.sources.ingest import date_since_sql

Q2_TOWNS = ["LONDON", "MANCHESTER", "BRISTOL", "BIRMINGHAM", "NOTTINGHAM"]


def load_property_sales(spark: SparkSession, path: str) -> DataFrame:
    return open_table(spark, path)


def _run(spark: SparkSession, path: str, text: str, day: str) -> DataFrame:
    ps = load_property_sales(spark, path)
    return spark.sql(
        text.format(
            hint="/*+ COALESCE(1) */ ",
            table=f"`{table_name(path)}`",
            since=date_since_sql(ps, day),
        )
    )


def _oracle(text: str, day: str) -> str:
    # The lab's form of a text: its table name and date predicate.
    return text.format(hint="", table="property_sales", since=f"date >= DATE '{day}'")


# --- Q1: aggregation by type (q1 README.md:50-62) ----------------------------

Q1_TEXT = """
SELECT {hint}type,
       count(*) AS transactions,
       CAST(round(CAST(avg(price) AS DECIMAL(28,6))) AS DOUBLE) AS avg_price,
       CAST(round(CAST(min(price) AS DECIMAL(28,6))) AS DOUBLE) AS min_price,
       CAST(round(CAST(max(price) AS DECIMAL(28,6))) AS DOUBLE) AS max_price
FROM {table}
WHERE {since}
GROUP BY type
ORDER BY avg_price DESC, type
"""
Q1_SQL = _oracle(Q1_TEXT, "2020-01-01")


def q1(spark: SparkSession, path: str) -> DataFrame:
    return _run(spark, path, Q1_TEXT, "2020-01-01")


# --- Q2: town/month rollup (q2 README.md:50-62) ------------------------------

Q2_TEXT = f"""
SELECT {{hint}}town,
       CAST(date_trunc('month', date) AS DATE) AS month,
       count(*) AS transactions,
       CAST(round(CAST(avg(price) AS DECIMAL(28,6))) AS DOUBLE) AS avg_price
FROM {{table}}
WHERE town IN ({', '.join(repr(t) for t in Q2_TOWNS)})
  AND {{since}}
GROUP BY town, CAST(date_trunc('month', date) AS DATE)
ORDER BY town, month
"""
Q2_SQL = _oracle(Q2_TEXT, "2020-01-01")


def q2(spark: SparkSession, path: str) -> DataFrame:
    return _run(spark, path, Q2_TEXT, "2020-01-01")


# --- Q3: YoY window (q3 README.md:57-79) -------------------------------------
# Lab form: yearly CTE keeps the UNROUNDED avg + a transactions
# count, filters date >= 2015-01-01; the outer select rounds for
# display and LAGs over the unrounded averages.

# The window needs no hash exchange over the one coalesced partition.
Q3_TEXT = """
WITH yearly AS (
  SELECT {hint}CAST(year(date) AS INTEGER) AS year,
         type,
         avg(price) AS avg_price_raw,
         count(*) AS transactions
  FROM {table}
  WHERE {since}
  GROUP BY 1, 2
)
SELECT year, type,
       CAST(round(CAST(avg_price_raw AS DECIMAL(28,6))) AS DOUBLE) AS avg_price,
       transactions,
       CAST(round(CAST(avg_price_raw - lag(avg_price_raw) OVER w
                       AS DECIMAL(28,6))) AS DOUBLE) AS yoy_change,
       CAST(round(CAST(100.0 * (avg_price_raw - lag(avg_price_raw) OVER w)
                       / lag(avg_price_raw) OVER w AS DECIMAL(28,6)), 2)
            AS DOUBLE) AS yoy_pct
FROM yearly
WINDOW w AS (PARTITION BY type ORDER BY year)
ORDER BY type, year
"""
Q3_SQL = _oracle(Q3_TEXT, "2015-01-01")


def q3(spark: SparkSession, path: str) -> DataFrame:
    return _run(spark, path, Q3_TEXT, "2015-01-01")


# --- Q4: top counties + percentiles (q4 README.md:50-73) ---------------------
# Lab form: top_counties CTE (count over county) joined back to the
# fact, then GROUP BY (county, type) with transactions, rounded avg,
# and four 0-digit-rounded interpolated percentiles, ORDER BY
# county, type. The CTE's ORDER BY adds a county tie-break
# (deviation 2 in the module doc).

Q4_SQL = """
WITH top_counties AS (
  SELECT county, count(*) AS cnt
  FROM property_sales
  WHERE county IS NOT NULL AND date >= DATE '2020-01-01'
  GROUP BY county
  ORDER BY cnt DESC, county
  LIMIT 10
)
SELECT p.county,
       p.type,
       count(*) AS transactions,
       CAST(round(CAST(avg(p.price) AS DECIMAL(28,6))) AS DOUBLE) AS avg_price,
       CAST(round(CAST(quantile_cont(p.price, 0.25) AS DECIMAL(28,6))) AS DOUBLE) AS p25,
       CAST(round(CAST(quantile_cont(p.price, 0.50) AS DECIMAL(28,6))) AS DOUBLE) AS median,
       CAST(round(CAST(quantile_cont(p.price, 0.75) AS DECIMAL(28,6))) AS DOUBLE) AS p75,
       CAST(round(CAST(quantile_cont(p.price, 0.95) AS DECIMAL(28,6))) AS DOUBLE) AS p95
FROM property_sales p
JOIN top_counties tc USING (county)
WHERE p.date >= DATE '2020-01-01'
GROUP BY p.county, p.type
ORDER BY p.county, p.type
"""


# One scan (module doc): every (county, type) group in one partition,
# folded per county so ORDER BY ... LIMIT 10 ranks counties as the
# lab's CTE does, then unfolded. percentile() is quantile_cont.
Q4_SPARK = """
WITH by_type AS (
  SELECT {hint}county, type,
         count(*) AS transactions,
         CAST(round(CAST(avg(price) AS DECIMAL(28,6))) AS DOUBLE) AS avg_price,
         percentile(price, array(0.25, 0.50, 0.75, 0.95)) AS p
  FROM {table}
  WHERE county IS NOT NULL AND {since}
  GROUP BY county, type
), top_counties AS (
  SELECT county, collect_list(struct(type, transactions, avg_price, p)) AS groups
  FROM by_type
  GROUP BY county
  ORDER BY sum(transactions) DESC, county
  LIMIT 10
)
SELECT county,
       g.type,
       g.transactions,
       g.avg_price,
       CAST(round(CAST(g.p[0] AS DECIMAL(28,6))) AS DOUBLE) AS p25,
       CAST(round(CAST(g.p[1] AS DECIMAL(28,6))) AS DOUBLE) AS median,
       CAST(round(CAST(g.p[2] AS DECIMAL(28,6))) AS DOUBLE) AS p75,
       CAST(round(CAST(g.p[3] AS DECIMAL(28,6))) AS DOUBLE) AS p95
FROM top_counties LATERAL VIEW explode(groups) AS g
ORDER BY county, type
"""


def q4(spark: SparkSession, path: str) -> DataFrame:
    return _run(spark, path, Q4_SPARK, "2020-01-01")


REFERENCE_QUERIES = {
    "ref_q1_agg_by_type": (q1, Q1_SQL),
    "ref_q2_town_month": (q2, Q2_SQL),
    "ref_q3_yoy_window": (q3, Q3_SQL),
    "ref_q4_county_percentiles": (q4, Q4_SQL),
}
