"""Ingestion pipeline (SURVEY.md §2.1 S1-S9, §2.8 F5-F10).

Re-expresses the reference's url()-CSV → typed-table ELT
(README.md:141-199): explicit raw schema, error-tolerant parse with
a bad-row budget, derived-column projection (casts, split, enum
decode, best-effort date parse), and a partitioned + sorted parquet
sink (the MergeTree ORDER BY/PARTITION BY analog,
01-create-table.sql:70-73).

Scale notes: the write is partitioned by a derived month column
(``month_col``, the lab's ``PARTITION BY toYYYYMM(date)``) and sorted
within partitions on the query keys (Parquet min/max page/rowgroup
stats then act as the coarse "index" — SURVEY.md §2.11's B-tree
mapping).

What prunes month partitions: only a filter written with
``date_since_sql``, which adds the implied ``month >= toYYYYMM(day)``
conjunct beside ``date >= day``; the SQL texts of
``queries.reference_parity`` Q1-Q4 use it. Spark derives no partition
filter from a predicate on ``date`` itself, so other ``Engine.sql``
text and every other date predicate (``<``, ``=``, ``BETWEEN``, ...)
still open every partition.

Parse width: a CSV or JSON-lines batch is read in the file splits the
session plans, so the tolerant readers take no width option. Under a
local master ``session.get_spark`` sets the file open cost to 4 MB /
cores, and a batch of 4 MB or more parses on every core; Spark's 4 MB
default split a 6 MB batch in 2 on 4 cores. Each split parses whole
lines (the line a split boundary cuts belongs to the split it starts
in) and only the first split of a file drops the header, so the rows
and the bad-row count do not depend on the width
(``tests/test_ingest.py`` plants malformed lines on the boundaries).

What the reference queries read: ``sources.ddl.open_table`` over the
partitioned path, a catalog table whose partitions the catalog tracks.
Each open adds or drops catalog partitions for month directories that
appeared or went away, and refreshes the table, so only the months a
filter keeps are listed, and appended or compacted files are seen by
the next read. Its schema is fixed when the path is registered: a
``write_partitioned(mode="overwrite")`` or a replaced directory
registers it again, other writes must keep the columns.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from sql_engine_triangle_spark.functions.scalar import best_effort_date, decode_enum, yyyymm
from sql_engine_triangle_spark.sources.ddl import forget_table


def raw_string_schema(columns: list[str]) -> StructType:
    """All-strings raw schema + corrupt-record capture column — the
    url(..., 'CSV', '<typed cols>') analog (S1, README.md:179-194)."""
    fields = [StructField(c, StringType()) for c in columns]
    fields.append(StructField("_corrupt_record", StringType()))
    return StructType(fields)


def read_csv_tolerant(
    spark: SparkSession, path: str, columns: list[str], header: bool = True
) -> DataFrame:
    """S2: PERMISSIVE CSV read; malformed rows land in
    _corrupt_record instead of failing the job (the lab's
    input_format_allow_errors_num=1000, README.md:196-199). The read
    splits as the session sizes file splits (module docstring)."""
    return (
        spark.read.schema(raw_string_schema(columns))
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def read_jsonl_tolerant(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """JSON-lines reader with the same tolerance contract as the CSV
    path — the dominant LLM-corpus interchange format. PERMISSIVE
    mode: syntactically broken lines land whole in _corrupt_record;
    type mismatches null the offending field. Compose with
    enforce_bad_row_budget for the error-budget semantics. Schema is
    explicit (no inference pass — schema inference is a full extra
    scan at 100 TB)."""
    full = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


@dataclass
class BadRowBudget:
    max_rows: int = 1000
    max_ratio: float = 0.001


def enforce_bad_row_budget(df: DataFrame, budget: BadRowBudget) -> DataFrame:
    """Count corrupt rows against the budget (single aggregate pass),
    raise if exceeded, return the clean rows without the capture
    column.

    ``df`` is left cached, and the caller owns that cache: it
    unpersists ``df`` once the clean rows are written. A query that
    reads only ``_corrupt_record`` off ``df`` (a caller's own bad-row
    count) is legal only because of it; on an uncached CSV scan Spark
    raises ``UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN``."""
    # Spark disallows aggregates that reference ONLY the corrupt
    # column straight off a CSV scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    # — cache the parsed frame first (Spark's documented pattern). At
    # 100 TB, land the parse to a staging table instead of cache.
    df = df.cache()
    counts = df.agg(
        F.count("*").alias("total"),
        F.count("_corrupt_record").alias("bad"),
    ).head()
    total, bad = counts.total, counts.bad
    # ClickHouse semantics (input_format_allow_errors_num/_ratio,
    # README.md:196-199): errors are tolerated while EITHER limit
    # still allows them; fail only when both are exceeded.
    if bad > budget.max_rows and (total > 0 and bad / total > budget.max_ratio):
        raise ValueError(
            f"bad-row budget exceeded: {bad}/{total} "
            f"(budget {budget.max_rows} rows / {budget.max_ratio:.2%})"
        )
    return df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")


# The reference's enum decodes (README.md:154-167).
TYPE_ENUM = {
    "T": "terraced",
    "S": "semi-detached",
    "D": "detached",
    "F": "flat",
    "O": "other",
}
DURATION_ENUM = {"F": "freehold", "L": "leasehold", "U": "unknown"}


def typed_projection(raw: DataFrame) -> DataFrame:
    """The ELT derived-column projection (S4/P2, README.md:142-175)
    applied to a raw all-strings frame with the reference's column
    shapes: price cast, best-effort date parse, postcode split, enum
    decodes, boolean derivation.

    try_element_at, not element_at, for the split parts: under ANSI
    (the Spark 4 / driver default) element_at THROWS on an
    out-of-range index, so a single space-less postcode would kill a
    100 TB tolerant-ingest job; try_element_at yields NULL — the
    bad-row budget's job, not the executor's (latent crash found by
    the r7 array fuzzer, pinned in tests/test_ingest.py). Same ANSI
    discipline for the numeric cast: try_cast yields NULL on a
    malformed price where a bare cast throws."""
    return raw.select(
        F.col("price_string").try_cast("long").alias("price"),
        best_effort_date(F.col("time")).alias("date"),
        F.try_element_at(F.split("postcode", " "), F.lit(1)).alias("postcode1"),
        F.try_element_at(F.split("postcode", " "), F.lit(2)).alias("postcode2"),
        decode_enum(F.col("a"), TYPE_ENUM).alias("type"),
        (F.col("b") == "Y").alias("is_new"),
        decode_enum(F.col("c"), DURATION_ENUM).alias("duration"),
        F.col("addr1"),
        F.col("town"),
        F.col("county"),
    )


def month_col(date: Column) -> Column:
    """Derived partition column (toYYYYMM, 01-create-table.sql:72),
    as the string the directory name carries (``month=202001``)."""
    return yyyymm(date).cast("string").alias("month")


def date_since_sql(df: DataFrame, day: str) -> str:
    """``date >= DATE 'day'`` as SQL text, plus the implied ``month >=
    toYYYYMM(day)`` when ``df`` carries month_col's ``month`` column,
    so a read of a month-partitioned table opens only the partitions
    from that month on; over a flat table it is the date predicate
    alone. The bound is ``yyyymm`` of the day written as SQL, which
    Spark folds to the constant (``month >= 202001``). The implied
    conjunct drops no row the date predicate keeps: toYYYYMM is
    monotone in the date, and a NULL date (partition
    ``__HIVE_DEFAULT_PARTITION__``) fails both."""
    start = f"DATE '{date.fromisoformat(day)}'"
    cond = f"date >= {start}"
    if "month" in df.columns:
        cond += f" AND month >= {yyyymm(F.expr(start))._jc.toString()}"
    return f"({cond})"


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str = "month",
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S4 sink: Hive-style monthly partitions + within-partition sort
    (MergeTree ORDER BY analog — gives Parquet min/max stats
    selectivity on the sort keys). The sort leads with the partition
    column: a partitioned write needs its input ordered by it, and
    without that prefix Spark plans its own sort on ``partition_col``
    and drops this one, leaving the files unsorted on ``sort_cols``.
    An overwrite makes the next ``sources.ddl.open_table`` of ``path``
    register it again, with the schema just written."""
    out = df
    if sort_cols:
        out = out.repartition(F.col(partition_col)).sortWithinPartitions(
            partition_col, *sort_cols
        )
    out.write.mode(mode).partitionBy(partition_col).parquet(path)
    if mode == "overwrite":
        forget_table(path)


def export_csv(df: DataFrame, path: str) -> None:
    """S5: CSV export with header (FORMAT CSVWithNames analog)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def values_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """S9: literal VALUES source (01-create-table.sql:20-28)."""
    return spark.createDataFrame(rows, schema)


def copy_format(
    df: DataFrame, path: str, fmt: str = "orc", mode: str = "overwrite"
) -> None:
    """Engine-to-engine format copy (S8 generalized): persist a frame
    in any Spark-native columnar format (orc/parquet/json/csv). ORC
    carries the same column pruning + predicate-pushdown contract as
    Parquet, so downstream scans keep their pushed filters."""
    df.write.mode(mode).format(fmt).save(path)


def read_format(spark: SparkSession, path: str, fmt: str = "orc") -> DataFrame:
    """Scan back a copy_format sink; schema comes from file metadata
    (self-describing formats)."""
    return spark.read.format(fmt).load(path)
