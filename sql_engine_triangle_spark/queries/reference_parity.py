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

The date filters are built with `sources.ingest.date_since`, so on a
table partitioned by `month_col` each scan opens only the months the
filter can match (the lab's `PARTITION BY toYYYYMM(date)` pruning);
on a flat table they are the plain date predicates. The table is
read through the catalog handle ``sources.ddl.open_table``: its
schema and partitions come from catalog metadata, so building a query
runs no Spark job and lists only the partitions the filter keeps.

Each query ends in ``_ordered``: its result is coalesced to one
partition and sorted inside that one task. A global ``orderBy`` would
plan a range exchange and a sampling job for results this small; each
result is bounded by its number of groups (Q1: the 5 types; Q2: 5
towns x months; Q3: types x years; Q4: 10 counties x types), whatever
the table's size.

Kept OUTSIDE the driver registry (the driver's sf dirs don't contain
property_sales; the fixture is generated deterministically in tests)
and differentially tested against DuckDB in
tests/test_reference_parity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_engine_triangle_spark.sources.ddl import open_table
from sql_engine_triangle_spark.sources.ingest import date_since

Q2_TOWNS = ["LONDON", "MANCHESTER", "BRISTOL", "BIRMINGHAM", "NOTTINGHAM"]


def load_property_sales(spark: SparkSession, path: str) -> DataFrame:
    return open_table(spark, path)


def _ordered(df: DataFrame, *cols) -> DataFrame:
    # The final ORDER BY in one task, with no range exchange. Only for
    # results bounded by a number of groups (module doc): at most a
    # few hundred rows here.
    return df.coalesce(1).sortWithinPartitions(*cols)


def _round0(col: Column) -> Column:
    # decimal-routed 0-digit round (deviation 1 in the module doc)
    return F.round(col.cast("decimal(28,6)")).cast("double")


# --- Q1: aggregation by type (q1 README.md:50-62) ----------------------------

Q1_SQL = """
SELECT type,
       count(*) AS transactions,
       CAST(round(CAST(avg(price) AS DECIMAL(28,6))) AS DOUBLE) AS avg_price,
       CAST(round(CAST(min(price) AS DECIMAL(28,6))) AS DOUBLE) AS min_price,
       CAST(round(CAST(max(price) AS DECIMAL(28,6))) AS DOUBLE) AS max_price
FROM property_sales
WHERE date >= DATE '2020-01-01'
GROUP BY type
ORDER BY avg_price DESC, type
"""


def q1(spark: SparkSession, path: str) -> DataFrame:
    ps = load_property_sales(spark, path)
    return (
        ps.filter(date_since(ps, "2020-01-01"))
        .groupBy("type")
        .agg(
            F.count("*").alias("transactions"),
            _round0(F.avg("price")).alias("avg_price"),
            _round0(F.min("price")).alias("min_price"),
            _round0(F.max("price")).alias("max_price"),
        )
        .transform(_ordered, F.desc("avg_price"), "type")
    )


# --- Q2: town/month rollup (q2 README.md:50-62) ------------------------------

Q2_SQL = f"""
SELECT town,
       CAST(date_trunc('month', date) AS DATE) AS month,
       count(*) AS transactions,
       CAST(round(CAST(avg(price) AS DECIMAL(28,6))) AS DOUBLE) AS avg_price
FROM property_sales
WHERE town IN ({', '.join(repr(t) for t in Q2_TOWNS)})
  AND date >= DATE '2020-01-01'
GROUP BY town, CAST(date_trunc('month', date) AS DATE)
ORDER BY town, month
"""


def q2(spark: SparkSession, path: str) -> DataFrame:
    ps = load_property_sales(spark, path)
    return (
        ps.filter(F.col("town").isin(Q2_TOWNS) & date_since(ps, "2020-01-01"))
        .groupBy(
            "town", F.date_trunc("month", F.col("date")).cast("date").alias("month")
        )
        .agg(
            F.count("*").alias("transactions"),
            _round0(F.avg("price")).alias("avg_price"),
        )
        .transform(_ordered, "town", "month")
    )


# --- Q3: YoY window (q3 README.md:57-79) -------------------------------------
# Lab form: yearly CTE keeps the UNROUNDED avg + a transactions
# count, filters date >= 2015-01-01; the outer select rounds for
# display and LAGs over the unrounded averages.

Q3_SQL = """
WITH yearly AS (
  SELECT CAST(year(date) AS INTEGER) AS year,
         type,
         avg(price) AS avg_price_raw,
         count(*) AS transactions
  FROM property_sales
  WHERE date >= DATE '2015-01-01'
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


def q3(spark: SparkSession, path: str) -> DataFrame:
    ps = load_property_sales(spark, path)
    ps = ps.filter(date_since(ps, "2015-01-01"))
    # One partition before the window: the per-type window then needs
    # no hash exchange, and the final sort runs in the same task.
    yearly = (
        ps.groupBy(F.year("date").alias("year"), "type")
        .agg(
            F.avg("price").alias("avg_price_raw"),
            F.count("*").alias("transactions"),
        )
        .coalesce(1)
    )
    w = Window.partitionBy("type").orderBy("year")
    prev = F.lag("avg_price_raw").over(w)
    return (
        yearly.select(
            "year",
            "type",
            _round0(F.col("avg_price_raw")).alias("avg_price"),
            "transactions",
            _round0(F.col("avg_price_raw") - prev).alias("yoy_change"),
            F.round(
                (F.lit(100.0) * (F.col("avg_price_raw") - prev) / prev).cast(
                    "decimal(28,6)"
                ),
                2,
            )
            .cast("double")
            .alias("yoy_pct"),
        )
        .transform(_ordered, "type", "year")
    )


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


def q4(spark: SparkSession, path: str) -> DataFrame:
    ps = load_property_sales(spark, path)
    ps = ps.filter(F.col("county").isNotNull() & date_since(ps, "2020-01-01"))
    top = (
        ps.groupBy("county")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "county")
        .limit(10)
        .select("county")
    )
    pcts = F.expr("percentile(price, array(0.25, 0.50, 0.75, 0.95))")

    def pct(i: int) -> Column:
        return _round0(F.element_at("_p", i))

    return (
        # top is 10 rows — broadcast, so the fact never shuffles for
        # the semi-join-shaped restriction.
        ps.join(F.broadcast(top), "county")
        .groupBy("county", "type")
        .agg(
            F.count("*").alias("transactions"),
            _round0(F.avg("price")).alias("avg_price"),
            pcts.alias("_p"),
        )
        .select(
            "county",
            "type",
            "transactions",
            "avg_price",
            pct(1).alias("p25"),
            pct(2).alias("median"),
            pct(3).alias("p75"),
            pct(4).alias("p95"),
        )
        .transform(_ordered, "county", "type")
    )


REFERENCE_QUERIES = {
    "ref_q1_agg_by_type": (q1, Q1_SQL),
    "ref_q2_town_month": (q2, Q2_SQL),
    "ref_q3_yoy_window": (q3, Q3_SQL),
    "ref_q4_county_percentiles": (q4, Q4_SQL),
}
