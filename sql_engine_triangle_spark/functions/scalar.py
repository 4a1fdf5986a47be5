"""Scalar helper functions (SURVEY.md §2.8).

These are Column-to-Column macros over built-in JVM expressions —
no Python UDFs — so they stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_stable(col: Column, digits: int = 2, capture: int = 6) -> Column:
    """Engine-independent rounding for float aggregates (averages,
    percentiles): cast through DECIMAL(18,capture) first so decimal
    ties (.xx5 values that binary doubles represent inexactly) round
    identically in Spark (decimal-string HALF_UP) and DuckDB (binary
    half-away). Oracle twin: CAST(round(CAST(x AS DECIMAL(18,c)), d)
    AS DOUBLE). See SURVEY.md §7 hazard 2."""
    return F.round(col.cast(f"decimal(18,{capture})"), digits).cast("double")


def decode_enum(col: Column, mapping: dict[str, str]) -> Column:
    """ClickHouse ``transform(x, [from...], [to...])`` analog (F7,
    reference README.md:154-167): chained CASE WHEN that leaves
    unmatched input unchanged (CH semantics when no default given)."""
    expr: Column | None = None
    for src, dst in mapping.items():
        expr = F.when(col == src, dst) if expr is None else expr.when(col == src, dst)
    return col if expr is None else expr.otherwise(col)


def yyyymm(col: Column) -> Column:
    """ClickHouse ``toYYYYMM`` (F4, 01-create-table.sql:72) — the
    derived partition column used for monthly partition pruning. The
    one definition of the transform: ``sources.ingest.month_col``
    renders it as the directory text, and ``date_since_sql`` derives its
    pruning bound from it."""
    return F.date_format(col, "yyyyMM").cast("int")


def best_effort_date(col: Column, formats: tuple[str, ...] = (
    "yyyy-MM-dd", "yyyy/MM/dd", "MM/dd/yyyy", "dd-MM-yyyy", "yyyyMMdd",
    "yyyy-MM-dd HH:mm",
)) -> Column:
    """``parseDateTimeBestEffortUS`` analog (F5, README.md:148):
    coalesce of try-parses across common formats; NULL if none match
    (ingestion-only, tolerant by design). The reference's own
    ``yyyy-MM-dd HH:mm`` strings come last, so no earlier parse
    changes."""
    return F.coalesce(*[F.try_to_timestamp(col, F.lit(fmt)).cast("date") for fmt in formats])


def readable_size(col: Column) -> Column:
    """``formatReadableSize`` / ``pg_size_pretty`` analog (F13,
    clickhouse/queries.sql:14) — presentation helper."""
    kb, mb, gb, tb = 1024.0, 1024.0**2, 1024.0**3, 1024.0**4
    b = col.cast("double")
    return (
        F.when(b >= tb, F.concat(F.round(b / tb, 2).cast("string"), F.lit(" TiB")))
        .when(b >= gb, F.concat(F.round(b / gb, 2).cast("string"), F.lit(" GiB")))
        .when(b >= mb, F.concat(F.round(b / mb, 2).cast("string"), F.lit(" MiB")))
        .when(b >= kb, F.concat(F.round(b / kb, 2).cast("string"), F.lit(" KiB")))
        .otherwise(F.concat(b.cast("long").cast("string"), F.lit(" B")))
    )
