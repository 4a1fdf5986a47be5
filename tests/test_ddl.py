"""DDL / external tables / typed copy / staging fetch / dynamic
partition DDL (SURVEY.md §2.11, S3/S7/S8/F15)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sql_engine_triangle_spark.catalog import table_path
from sql_engine_triangle_spark.sources import ddl
from tests.conftest import SF_DIR


def test_external_table_register_query_drop(spark):
    ddl.drop_table_if_exists(spark, "ext_lineitem")
    ddl.create_external_table(spark, "ext_lineitem", table_path(SF_DIR, "lineitem"))
    n = spark.sql("SELECT count(*) AS n FROM ext_lineitem").head().n
    assert n == spark.read.parquet(table_path(SF_DIR, "lineitem")).count()
    ddl.drop_table_if_exists(spark, "ext_lineitem")
    assert "ext_lineitem" not in [t.name for t in spark.catalog.listTables()]
    # External semantics: dropping must not delete the data files.
    assert os.path.exists(table_path(SF_DIR, "lineitem"))


def test_analyze_populates_stats(spark):
    ddl.drop_table_if_exists(spark, "ext_orders")
    ddl.create_external_table(spark, "ext_orders", table_path(SF_DIR, "orders"))
    assert ddl.table_row_count_stat(spark, "ext_orders") is None
    ddl.analyze_table(spark, "ext_orders", columns=["o_orderkey", "o_totalprice"])
    expected = spark.read.parquet(table_path(SF_DIR, "orders")).count()
    assert ddl.table_row_count_stat(spark, "ext_orders") == expected
    ddl.drop_table_if_exists(spark, "ext_orders")


def test_typed_copy_to_new_table(spark, tmp_path):
    ddl.drop_table_if_exists(spark, "nation_copy")
    src = spark.read.parquet(table_path(SF_DIR, "nation"))
    ddl.copy_table_typed(
        spark,
        src,
        "nation_copy",
        str(tmp_path / "nation_copy"),
        casts={"n_nationkey": "BIGINT"},
    )
    back = spark.table("nation_copy")
    assert dict(back.dtypes)["n_nationkey"] == "bigint"
    assert back.count() == 25
    ddl.drop_table_if_exists(spark, "nation_copy")


def test_fetch_to_staging_file_url(tmp_path):
    src = tmp_path / "src.csv"
    src.write_text("a,b\n1,2\n")
    out = ddl.fetch_to_staging(f"file://{src}", str(tmp_path / "staged.csv"))
    assert open(out).read() == "a,b\n1,2\n"


def test_monthly_partition_ddl_templating():
    stmts = ddl.monthly_partition_ddl("fact", 202111, 202202)
    assert len(stmts) == 4
    assert stmts[0].endswith("PARTITION (month=202111)")
    assert stmts[-1].endswith("PARTITION (month=202202)")


def test_partitioned_external_table_prunes(spark, tmp_path):
    """S7 + pruning: write a partitioned dataset, register it as an
    external table, check partition pruning in SQL."""
    li = spark.read.parquet(table_path(SF_DIR, "lineitem"))
    out = str(tmp_path / "li_part")
    (
        li.withColumn("month", F.date_format("l_shipdate", "yyyyMM"))
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(out)
    )
    ddl.drop_table_if_exists(spark, "li_part")
    ddl.create_external_table(spark, "li_part", out)
    df = spark.sql("SELECT count(*) AS n FROM li_part WHERE month = '199701'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert df.head().n > 0
    ddl.drop_table_if_exists(spark, "li_part")


def _job_ids(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_partitioned_directory_registers_every_partition(spark, tmp_path):
    """Spark's CREATE TABLE over a Hive-partitioned directory records
    the partition column but recovers no partition, so the table reads
    0 rows. Registration adds every partition from one listing, with
    no flag to pass and no Spark job beyond CREATE TABLE's own schema
    inference."""
    out = str(tmp_path / "parts")
    spark.range(30).withColumn("p", F.col("id") % 3).write.partitionBy("p").parquet(out)
    for name in ("parts_bare", "parts"):
        ddl.drop_table_if_exists(spark, name)
    bare = _job_ids(
        spark,
        "create-bare",
        lambda: spark.sql(f"CREATE TABLE parts_bare USING parquet LOCATION '{out}'"),
    )
    assert spark.table("parts_bare").count() == 0
    names: set[str] = set()
    registered = _job_ids(
        spark,
        "create-registered",
        lambda: names.update(ddl.create_external_table(spark, "parts", out)),
    )
    assert names == {"p=0", "p=1", "p=2"}
    assert len(registered) == len(bare)
    assert spark.table("parts").count() == 30
    assert spark.sql("SELECT count(*) AS n FROM parts WHERE p = 1").head().n == 10
    for name in ("parts_bare", "parts"):
        ddl.drop_table_if_exists(spark, name)
