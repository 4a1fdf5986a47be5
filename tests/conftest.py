"""Shared test fixtures: one SparkSession per test run, a DuckDB
connection with the fixture tables registered as views, and an
oracle-comparison helper that mirrors the driver's check
(row-count + schema-shape + order-insensitive values)."""

from __future__ import annotations

import math
import os
from contextlib import contextmanager

import duckdb
import pandas as pd
import pytest

from sql_engine_triangle_spark.catalog import TABLES, table_path
from sql_engine_triangle_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )
    yield con
    con.close()


@contextmanager
def session_conf(spark, settings: dict[str, str]):
    """Set runtime SQL confs for the block, then restore the old
    values. Frames plan when an action runs, so run it in the block."""
    old = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows — the
    order-insensitive canonical form both sides are compared in."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None)
        elif isinstance(s.dtype, pd.CategoricalDtype):
            df[c] = s.astype(str)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("float64") if s.isna().any() else s.astype("int64")
        elif s.dtype == object:
            df[c] = s.astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def assert_frames_match(
    spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, rel_tol: float = 1e-9
) -> None:
    assert len(spark_pdf) == len(oracle_pdf), (
        f"row count mismatch: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"column mismatch: spark={sorted(spark_pdf.columns)} "
        f"oracle={sorted(oracle_pdf.columns)}"
    )
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            for i, (x, y) in enumerate(zip(a[c], b[c])):
                ok = (
                    (pd.isna(x) and pd.isna(y))
                    or (
                        not pd.isna(x)
                        and not pd.isna(y)
                        and math.isclose(float(x), float(y), rel_tol=rel_tol, abs_tol=1e-9)
                    )
                )
                assert ok, f"col {c!r} row {i}: spark={x!r} oracle={y!r}"
        else:
            mism = a[c].astype(str) != b[c].astype(str)
            assert not mism.any(), (
                f"col {c!r}: first mismatch row {mism.idxmax()}: "
                f"spark={a[c][mism.idxmax()]!r} oracle={b[c][mism.idxmax()]!r}"
            )


def run_parity(spark, ddb, name: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    """Run registered query `name` on Spark and its oracle on DuckDB;
    assert the results match — tolerantly for diagnostics, then
    STRICTLY the way the external driver hashes (no dtype coercion,
    unhashable cells fail): a BIGINT-vs-DOUBLE or -0.0-vs-0.0 skew
    passes a float-coerced compare but fails the driver
    (CORRECTNESS_r02: a_global_stats, f_map_ops), so every parity
    test enforces the strict contract too. Returns the Spark result
    for extra checks."""
    from sql_engine_triangle_spark.queries import registry

    q = registry.get(name)
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    assert q.oracle is not None, f"{name} has no oracle"
    oracle_pdf = ddb.execute(q.oracle).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf)
    err = _driver_check_module().strict_driver_match(spark_pdf, oracle_pdf)
    assert err is None, f"{name}: driver-strict mismatch: {err}"
    return spark_pdf


_DC_MODULE = None


def _driver_check_module():
    """scripts/driver_check.py, loaded once (it holds the
    strict_driver_match used to mirror the external driver's hasher)."""
    global _DC_MODULE
    if _DC_MODULE is None:
        import importlib.util
        import os

        spec = importlib.util.spec_from_file_location(
            "driver_check",
            os.path.join(
                os.path.dirname(__file__), "..", "scripts", "driver_check.py"
            ),
        )
        _DC_MODULE = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_DC_MODULE)
    return _DC_MODULE
