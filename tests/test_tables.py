"""The catalog table handle ``sources.ddl.open_table``: every open
sees the directory as it is now — appended files and partitions,
removed partitions, a directory swapped by rename, a rewrite with
other columns — checked against a fresh ``spark.read.parquet`` or
DuckDB; registration is once per SparkContext and path, never deletes
data, and leaves no metastore or warehouse files behind."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
from datetime import date, timedelta
from urllib.parse import urlparse

import duckdb
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from sql_engine_triangle_spark.sources import ddl
from sql_engine_triangle_spark.sources.ingest import month_col, write_partitioned

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(spark, path, first_id, days, mode="overwrite", extra_col=False):
    rows = [(first_id + i, 1000 * (first_id + i), day) for i, day in enumerate(days)]
    df = spark.createDataFrame(rows, "id long, price long, date date")
    if extra_col:
        df = df.withColumn("note", F.concat(F.lit("n"), F.col("id").cast("string")))
    write_partitioned(df.withColumn("month", month_col(F.col("date"))), path, mode=mode)


def _days(start: date, n: int, step: int = 9):
    return [start + timedelta(days=step * i) for i in range(n)]


def _rows(df):
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def _assert_reads_like_a_fresh_read(spark, path):
    df = ddl.open_table(spark, path)
    assert sorted(df.columns) == sorted(spark.read.parquet(path).columns)
    assert _rows(df) == _rows(spark.read.parquet(path))
    return df


def _table_name(spark, path):
    return ddl._TABLES[(spark.sparkContext.applicationId, os.path.abspath(path))].name


def _parquet_files(path):
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def test_appends_to_old_and_new_months_are_read(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(spark, path, 0, _days(date(2020, 1, 1), 8))
    assert ddl.open_table(spark, path).count() == 8
    # existing months only: no catalog partition changes, only files
    _write(spark, path, 100, _days(date(2020, 1, 5), 4), mode="append")
    assert _assert_reads_like_a_fresh_read(spark, path).count() == 12
    _write(spark, path, 200, [date(2021, 6, 1)], mode="append")
    df = _assert_reads_like_a_fresh_read(spark, path)
    assert df.count() == 13
    con = duckdb.connect()
    try:
        want = con.execute(
            "SELECT month, count(*) FROM read_parquet("
            f"'{path}/*/*.parquet', hive_partitioning = true) GROUP BY 1 ORDER BY 1"
        ).fetchall()
    finally:
        con.close()
    got = [tuple(r) for r in df.groupBy("month").count().orderBy("month").collect()]
    assert got == [(int(m), n) for m, n in want]


def test_rename_swap_reads_only_the_new_files(spark, tmp_path):
    """The compaction publish of perfbench's ingest workload: the live
    directory is renamed away and a rewritten one renamed in."""
    path, staged, retired = (str(tmp_path / n) for n in ("t", "t.compacted", "t.retired"))
    _write(spark, path, 0, _days(date(2020, 1, 1), 12))
    assert ddl.open_table(spark, path).count() == 12
    spark.read.parquet(path).coalesce(1).write.partitionBy("month").parquet(staged)
    os.rename(path, retired)
    os.rename(staged, path)
    shutil.rmtree(retired)
    df = _assert_reads_like_a_fresh_read(spark, path)
    assert {urlparse(f).path for f in df.inputFiles()} <= set(_parquet_files(path))


def test_overwrite_with_other_columns_uses_the_new_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(spark, path, 0, _days(date(2020, 1, 1), 5))
    assert "note" not in ddl.open_table(spark, path).columns
    _write(spark, path, 50, _days(date(2020, 3, 1), 5), extra_col=True)
    df = _assert_reads_like_a_fresh_read(spark, path)
    assert "note" in df.columns and df.count() == 5


def test_removed_partition_is_not_read(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(spark, path, 0, _days(date(2020, 1, 1), 10, step=20))
    ddl.open_table(spark, path).collect()
    shutil.rmtree(os.path.join(path, "month=202002"))
    df = _assert_reads_like_a_fresh_read(spark, path)
    assert df.filter("month = 202002").count() == 0


def test_flat_directory(spark, tmp_path):
    path = str(tmp_path / "flat")
    spark.range(6).withColumn("x", F.col("id") * 2).write.parquet(path)
    assert ddl.open_table(spark, path).count() == 6
    spark.range(6, 9).withColumn("x", F.col("id") * 2).write.mode("append").parquet(path)
    assert _assert_reads_like_a_fresh_read(spark, path).count() == 9


def test_missing_path_raises_like_a_parquet_read(spark, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as opened:
        ddl.open_table(spark, path)
    assert opened.value.getCondition() == plain.value.getCondition() == "PATH_NOT_FOUND"

    _write(spark, path, 0, _days(date(2020, 1, 1), 3))
    ddl.open_table(spark, path)
    name = _table_name(spark, path)
    shutil.rmtree(path)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        ddl.open_table(spark, path)
    assert not spark.catalog.tableExists(name)


def test_two_threads_register_once(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    _write(spark, path, 0, _days(date(2020, 1, 1), 20))
    created = []
    real = ddl.create_external_table

    def counting(*args, **kwargs):
        created.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(ddl, "create_external_table", counting)
    want = _rows(spark.read.parquet(path))
    start = threading.Barrier(2)
    got = [None, None]

    def client(i):
        start.wait(timeout=60)
        got[i] = _rows(ddl.open_table(spark, path))

    threads = [threading.Thread(target=client, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert len(created) == 1
    assert got == [want, want]


def test_registering_again_keeps_every_file(spark, tmp_path):
    """The table is EXTERNAL: dropping it or one of its partitions
    leaves the files."""
    path = str(tmp_path / "t")
    _write(spark, path, 0, _days(date(2020, 1, 1), 10, step=20))
    files = _parquet_files(path)
    ddl.open_table(spark, path).collect()
    moved = str(tmp_path / "month=202002")
    os.rename(os.path.join(path, "month=202002"), moved)
    ddl.open_table(spark, path).collect()  # drops the catalog partition
    os.rename(moved, os.path.join(path, "month=202002"))
    ddl.forget_table(path)
    assert _assert_reads_like_a_fresh_read(spark, path).count() == 10  # drop + create
    assert _parquet_files(path) == files


def test_no_metastore_or_warehouse_files(spark, tmp_path, monkeypatch):
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    path = str(tmp_path / "t")
    _write(spark, path, 0, _days(date(2020, 1, 1), 3))
    ddl.open_table(spark, path).collect()
    assert os.listdir(cwd) == []
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert not os.path.exists(os.path.join(warehouse, _table_name(spark, path)))


_NEW_CONTEXT = """
import sys
from sql_engine_triangle_spark.session import get_spark
from sql_engine_triangle_spark.sources.ddl import open_table
path = sys.argv[1]
spark = get_spark(master="local[1]", shuffle_partitions=1)
first = open_table(spark, path).count()
spark.stop()
spark = get_spark(master="local[1]", shuffle_partitions=1)
print(first, open_table(spark, path).count())
spark.stop()
"""


def test_a_new_spark_context_registers_again(spark, tmp_path):
    """The in-memory catalog dies with its context; the handle must
    not trust a registration made in the stopped one. A process of its
    own, since this one's context is shared by the whole run."""
    path = str(tmp_path / "t")
    _write(spark, path, 0, _days(date(2020, 1, 1), 7))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m"}
    out = subprocess.run(
        [sys.executable, "-c", _NEW_CONTEXT, path],
        cwd=tmp_path, env={**env, "PYTHONPATH": REPO},
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-2:] == ["7", "7"]
