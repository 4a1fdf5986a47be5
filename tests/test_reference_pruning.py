"""Month-partition pruning of the lab's Q1-Q4 over a table written
the way the lab's ClickHouse table is laid out (``PARTITION BY
toYYYYMM(date)``): one Hive partition per month, 372 of them.

Pins the plan (one scan per query, carrying a ``month`` partition
filter; no range exchange orders the small result, and Q4 joins no
broadcast), the cost of building a query frame (schema and partitions
come from the catalog, so no Spark job once the table is registered),
and exactness against DuckDB, row order included, on date boundaries,
a NULL date and a read right after an append."""

from __future__ import annotations

import os
import re
import shutil
from datetime import date

import duckdb
import pytest
from pyspark.sql import functions as F

from sql_engine_triangle_spark.fixtures import generate as G
from sql_engine_triangle_spark.plans.asserts import executed_plan
from sql_engine_triangle_spark.queries import reference_parity as rp
from sql_engine_triangle_spark.session import DEFAULT_OPEN_COST
from sql_engine_triangle_spark.sources.ingest import month_col, write_partitioned
from tests.conftest import assert_frames_match, session_conf

N_ROWS = 20_000
SEED = 11
SORT_COLS = ["postcode1", "postcode2", "addr1", "addr2"]
QUERIES = {
    "q1": (rp.q1, rp.Q1_SQL, 202001),
    "q2": (rp.q2, rp.Q2_SQL, 202001),
    "q3": (rp.q3, rp.Q3_SQL, 201501),
    "q4": (rp.q4, rp.Q4_SQL, 202001),
}
# The ORDER BY columns of each query's SQL (none is NULL in a result).
ORDER_KEYS = {
    "q1": ["avg_price", "type"],
    "q2": ["town", "month"],
    "q3": ["type", "year"],
    "q4": ["county", "type"],
}
# Each side of both filter bounds (2015-01-01 and 2020-01-01), and a
# NULL date, which lands in __HIVE_DEFAULT_PARTITION__.
BOUNDARY_DAYS = [
    date(2014, 12, 31), date(2015, 1, 1), date(2019, 12, 31), date(2020, 1, 1), None,
]


def _boundary_rows(spark, price: int, days=BOUNDARY_DAYS):
    rows = [
        (price + i, day, "AB1", "2CD", typ, False, "freehold", str(i), "",
         "LONDON ST ", "", "LONDON", "D1", county)
        for i, day in enumerate(days)
        for typ, county in (("detached", "GREATER LONDON"), ("flat", None))
    ]
    return spark.createDataFrame(rows, G.property_sales(spark, 1, SEED).schema)


def _monthly(df):
    return df.withColumn("month", month_col(F.col("date")))


@pytest.fixture(scope="module")
def monthly_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ref_monthly") / "property_sales")
    sales = G.property_sales(spark, N_ROWS, SEED).unionByName(_boundary_rows(spark, 100_000))
    write_partitioned(_monthly(sales), path, sort_cols=SORT_COLS)
    return path


def _duckdb_rows(path: str, sql: str):
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW property_sales AS SELECT * FROM "
            f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)"
        )
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _file_scans(df) -> list[str]:
    return [ln for ln in executed_plan(df).splitlines() if "FileScan parquet" in ln]


def _scan_partitions(df) -> list[int]:
    """Partitions each FileScan of the executed plan reads in."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    scans = (leaves.apply(i) for i in range(leaves.size()))
    return [
        s.inputRDD().getNumPartitions()
        for s in scans
        if s.getClass().getSimpleName() == "FileSourceScanExec"
    ]


def test_fixture_has_more_partitions_than_the_listing_threshold(monthly_table):
    parts = [d for d in os.listdir(monthly_table) if d.startswith("month=")]
    # 1995-01..2025-12 plus the NULL-date partition; Spark's default
    # parallel-listing threshold is 32.
    assert len(parts) == 373
    assert "month=__HIVE_DEFAULT_PARTITION__" in parts


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_every_scan_prunes_month_partitions(spark, monthly_table, name):
    fn, _, first_month = QUERIES[name]
    scans = _file_scans(fn(spark, monthly_table))
    assert len(scans) == 1, scans
    for scan in scans:
        m = re.search(r"PartitionFilters: \[(.*?)\]", scan)
        assert m and re.search(rf"month#\d+ >= {first_month}\b", m.group(1)), scan


def _default_split_is_capped(path: str, first_month: int, cores: int) -> bool:
    """Whether Spark's default open cost makes the split size of a scan
    of the months from ``first_month`` on hit ``maxPartitionBytes``:
    ``(bytes + files * openCost) / cores`` above 128 MB."""
    files = [
        f.stat().st_size
        for d in os.scandir(path)
        if d.name.startswith("month=") and d.name[6:].isdigit() and int(d.name[6:]) >= first_month
        for f in os.scandir(d.path)
        if f.name.endswith(".parquet")
    ]
    return (sum(files) + len(files) * DEFAULT_OPEN_COST) / cores > 128 << 20


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_month_scans_keep_their_partition_count(spark, monthly_table, name):
    """The local open cost that splits a text batch per core packs the
    month files into as many partitions as Spark's default open cost
    does, about one per core. The one exception is a scan whose
    default split size hits the 128 MB ``maxPartitionBytes`` cap (on 4
    cores Q3's 132 months weigh 132 x 4 MB): the cap adds a partition
    beyond the cores, a second wave of one task, and at the local open
    cost the months pack into no more partitions than that and no
    fewer than the cores."""
    fn, _, first_month = QUERIES[name]
    [local] = _scan_partitions(fn(spark, monthly_table))
    with session_conf(spark, {"spark.sql.files.openCostInBytes": str(DEFAULT_OPEN_COST)}):
        [default] = _scan_partitions(fn(spark, monthly_table))
    cores = spark.sparkContext.defaultParallelism
    if _default_split_is_capped(monthly_table, first_month, cores):
        assert cores <= local < default, (local, default)
    else:
        assert local == default, (local, default)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_final_ordering_has_no_range_exchange(spark, monthly_table, name):
    fn = QUERIES[name][0]
    assert "rangepartitioning" not in executed_plan(fn(spark, monthly_table)).lower()


def test_q4_ranks_counties_without_a_broadcast(spark, monthly_table):
    # The lab's top-counties CTE is a join back to the fact; here the
    # counties are ranked over the one grouped scan.
    assert "BroadcastExchange" not in executed_plan(rp.q4(spark, monthly_table))


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_building_a_query_runs_at_most_one_job(spark, monthly_table, name):
    # A warm build runs none: the first open of the path registers the
    # table, which reads the schema with one job.
    fn = QUERIES[name][0]
    fn(spark, monthly_table)
    sc = spark.sparkContext
    group = f"build-{name}"
    sc.setJobGroup(group, group)
    try:
        fn(spark, monthly_table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_duckdb_parity_on_month_partitions(spark, monthly_table, name):
    fn, sql, _ = QUERIES[name]
    got, want = fn(spark, monthly_table).toPandas(), _duckdb_rows(monthly_table, sql)
    assert_frames_match(got, want)
    keys = ORDER_KEYS[name]
    assert got[keys].astype(str).values.tolist() == want[keys].astype(str).values.tolist()


def test_flat_table_runs_unpruned_with_the_same_answers(spark, monthly_table, tmp_path):
    flat = str(tmp_path / "flat")
    spark.read.parquet(monthly_table).drop("month").write.parquet(flat)
    for name, (fn, _, _) in QUERIES.items():
        df = fn(spark, flat)
        assert all("month" not in scan for scan in _file_scans(df)), name
        assert_frames_match(df.toPandas(), fn(spark, monthly_table).toPandas())


def test_append_is_visible_to_the_next_read(spark, monthly_table, tmp_path):
    """Every open refreshes the table: rows appended to existing
    months and to a new one are in the next answer of the same
    session."""
    path = str(tmp_path / "property_sales")
    shutil.copytree(monthly_table, path)
    before = rp.q1(spark, path).agg(F.sum("transactions")).head()[0]

    added = _boundary_rows(spark, 200_000).unionByName(
        _boundary_rows(spark, 300_000, [date(2026, 2, 1)] * 5)
    )
    write_partitioned(_monthly(added), path, sort_cols=SORT_COLS, mode="append")

    # 2 rows on 2020-01-01 and 10 in 2026-02 pass the Q1 filter.
    assert rp.q1(spark, path).agg(F.sum("transactions")).head()[0] == before + 12
    for name, (fn, sql, _) in QUERIES.items():
        assert_frames_match(fn(spark, path).toPandas(), _duckdb_rows(path, sql))
