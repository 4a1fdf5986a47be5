"""Ingestion pipeline end-to-end (S1-S9): raw CSV with planted bad
rows → tolerant parse → bad-row budget → typed projection (casts,
split, enum decode, best-effort dates) → partitioned sorted parquet →
pruned read-back. Plus introspection helpers (S10-S11)."""

from __future__ import annotations

import glob
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sql_engine_triangle_spark.functions.scalar import best_effort_date
from sql_engine_triangle_spark.sources import ingest, introspect
from tests.conftest import session_conf

RAW_COLS = [
    "uuid_string",
    "price_string",
    "time",
    "postcode",
    "a",
    "b",
    "c",
    "addr1",
    "addr2",
    "street",
    "locality",
    "town",
    "district",
    "county",
]

CSV_ROWS = [
    # uuid, price, time, postcode, a(type), b(new), c(dur), addr1, addr2, street, locality, town, district, county
    '"u1","185000","2021-03-15","SW1A 1AA","T","Y","F","1","","DOWNING ST","","LONDON","WESTMINSTER","GREATER LONDON"',
    '"u2","99950","2020-11-02","YO1 7HH","S","N","L","2","","SHAMBLES","","YORK","YORK","NORTH YORKSHIRE"',
    '"u3","450000","2021-03-29","M1 1AE","D","N","F","3","","MARKET ST","","MANCHESTER","MANCHESTER","GREATER MANCHESTER"',
    '"u4","325000","2020/06/18","LS1 4AP","F","Y","L","4","","BRIGGATE","","LEEDS","LEEDS","WEST YORKSHIRE"',
    '"u5","210000","2021-07-01","B1 1BB","X","N","U","5","","NEW ST","","BIRMINGHAM","BIRMINGHAM","WEST MIDLANDS"',
]
# A malformed line (unclosed quote mid-row breaks the parse).
BAD_ROW = '"u6","oops"unterminated,"notadate"'


@pytest.fixture()
def csv_path(tmp_path):
    p = tmp_path / "pp.csv"
    header = ",".join(RAW_COLS)
    p.write_text("\n".join([header, *CSV_ROWS, BAD_ROW]) + "\n")
    return str(p)


def test_tolerant_read_and_budget(spark, csv_path):
    raw = ingest.read_csv_tolerant(spark, csv_path, RAW_COLS)
    clean = ingest.enforce_bad_row_budget(raw, ingest.BadRowBudget())
    assert clean.count() == 5
    assert "_corrupt_record" not in clean.columns


def test_bad_row_budget_exceeded(spark, csv_path):
    raw = ingest.read_csv_tolerant(spark, csv_path, RAW_COLS)
    with pytest.raises(ValueError, match="bad-row budget"):
        ingest.enforce_bad_row_budget(raw, ingest.BadRowBudget(max_rows=0))


def test_budget_leaves_raw_cached_for_a_bad_row_count(spark, csv_path):
    """The caller owns the cache enforce_bad_row_budget puts on raw:
    a count of corrupt rows off raw afterwards works only on a cached
    frame, and equals the bad rows in the file."""
    raw = ingest.read_csv_tolerant(spark, csv_path, RAW_COLS)
    try:
        ingest.enforce_bad_row_budget(raw, ingest.BadRowBudget())
        assert raw.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    finally:
        raw.unpersist()
    uncached = ingest.read_csv_tolerant(spark, csv_path, RAW_COLS)
    with pytest.raises(AnalysisException, match="QUERY_ONLY_CORRUPT_RECORD_COLUMN"):
        uncached.filter(F.col("_corrupt_record").isNotNull()).count()


def test_typed_projection_semantics(spark, csv_path):
    raw = ingest.read_csv_tolerant(spark, csv_path, RAW_COLS)
    clean = ingest.enforce_bad_row_budget(raw, ingest.BadRowBudget())
    typed = ingest.typed_projection(clean).orderBy("price")
    rows = {r.addr1: r for r in typed.collect()}
    r1 = rows["1"]
    assert r1.price == 185000 and str(r1.date) == "2021-03-15"
    assert r1.postcode1 == "SW1A" and r1.postcode2 == "1AA"
    assert r1.type == "terraced" and r1.is_new is True and r1.duration == "freehold"
    # Alternate date format parsed best-effort (F5).
    assert str(rows["4"].date) == "2020-06-18"
    # Unmatched enum input passes through unchanged (CH transform
    # semantics, F7).
    assert rows["5"].type == "X"


def test_best_effort_date_parses_the_reference_format(spark):
    """The reference CSV's ``yyyy-MM-dd HH:mm`` strings parse to their
    day; the earlier formats parse as before, and junk stays NULL."""
    df = spark.createDataFrame(
        [("2021-03-15 00:00",), ("2019-12-31 23:59",), ("2021-03-15",),
         ("2020/06/18",), ("2021-03-15 25:00",), ("notadate",)],
        "time string",
    )
    got = [str(r.d) for r in df.select(best_effort_date(F.col("time")).alias("d")).collect()]
    assert got == ["2021-03-15", "2019-12-31", "2021-03-15", "2020-06-18", "None", "None"]


def test_month_col_is_yyyymm_as_directory_text(spark):
    """month_col (scalar.yyyymm as text) names the same partition
    directories as the ``yyyyMM`` date format, and NULL for a NULL
    date."""
    df = spark.range(0, 12_000, 7).select(
        F.date_add(F.lit("1995-01-01").cast("date"), F.col("id").cast("int")).alias("date")
    ).union(spark.createDataFrame([(None,)], "date date"))
    bad = df.filter(
        ~ingest.month_col(F.col("date")).eqNullSafe(F.date_format("date", "yyyyMM"))
    )
    assert bad.count() == 0


def test_typed_projection_survives_spaceless_postcode(spark):
    """Regression (r7 array-fuzzer finding): under ANSI — the Spark 4
    / driver default — element_at THROWS on an out-of-range index, so
    a postcode with no space crashed the tolerant-ingest projection.
    try_element_at must yield NULL instead: malformed rows are the
    bad-row budget's business, never an executor exception."""
    raw = spark.createDataFrame(
        [
            ("100000", "2021-03-15", "SW1A1AA", "T", "Y", "F", "9", "t", "c"),
            ("12oops3", "2021-03-15", "SW1A 1AA", "T", "Y", "F", "10", "t", "c"),
        ],
        "price_string string, time string, postcode string, a string,"
        " b string, c string, addr1 string, town string, county string",
    )
    old = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        rows = {r.addr1: r for r in ingest.typed_projection(raw).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert rows["9"].postcode1 == "SW1A1AA" and rows["9"].postcode2 is None
    # malformed price: NULL via try_cast, never an ANSI cast exception
    assert rows["10"].price is None and rows["10"].postcode2 == "1AA"


def test_partitioned_sorted_write_and_pruned_read(spark, csv_path, tmp_path):
    raw = ingest.read_csv_tolerant(spark, csv_path, RAW_COLS)
    typed = ingest.typed_projection(
        ingest.enforce_bad_row_budget(raw, ingest.BadRowBudget())
    ).withColumn("month", ingest.month_col(F.col("date")))
    out = str(tmp_path / "pp_parquet")
    sort_cols = ["postcode1", "postcode2"]
    ingest.write_partitioned(typed, out, sort_cols=sort_cols)

    # Hive-style month partitions on disk.
    parts = {d for d in os.listdir(out) if d.startswith("month=")}
    assert {"month=202103", "month=202011", "month=202006", "month=202107"} == parts

    # Every written file is sorted by sort_cols (month=202103 holds
    # two rows that arrive out of postcode order).
    files = glob.glob(os.path.join(out, "month=*", "*.parquet"))
    assert len(files) == 4
    for f in files:
        keys = list(zip(*pq.read_table(f, columns=sort_cols).to_pydict().values()))
        assert keys == sorted(keys), f

    back = spark.read.parquet(out)
    assert back.count() == 5
    # Partition pruning: the month filter must reach PartitionFilters.
    pruned = back.filter(F.col("month") == "202103")
    assert pruned.count() == 2
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "month" in plan.split("PartitionFilters")[1][:120]


def test_csv_export_roundtrip(spark, csv_path, tmp_path):
    raw = ingest.read_csv_tolerant(spark, csv_path, RAW_COLS)
    typed = ingest.typed_projection(
        ingest.enforce_bad_row_budget(raw, ingest.BadRowBudget())
    )
    out = str(tmp_path / "export_csv")
    ingest.export_csv(typed.select("price", "town"), out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 5
    assert set(back.columns) == {"price", "town"}


def test_values_frame(spark):
    df = ingest.values_frame(
        spark,
        [(1, "Laptop", 999.99), (2, "Mouse", 29.99)],
        "id long, product_name string, price double",
    )
    assert df.count() == 2


def test_partition_stats_and_table_sizes(spark, csv_path, tmp_path):
    raw = ingest.read_csv_tolerant(spark, csv_path, RAW_COLS)
    typed = ingest.typed_projection(
        ingest.enforce_bad_row_budget(raw, ingest.BadRowBudget())
    ).withColumn("month", ingest.month_col(F.col("date")))
    out = str(tmp_path / "pp_parquet")
    ingest.write_partitioned(typed, out)

    stats = introspect.partition_stats(spark, out).collect()
    assert {r.partition for r in stats} >= {"month=202103"}
    assert all(r.total_bytes > 0 and r.pretty_size.endswith("B") for r in stats)

    sizes = introspect.table_sizes(spark, "/root/testdata/sf0.001").collect()
    by_name = {r.table_name: r for r in sizes}
    assert by_name["lineitem"].n_rows > 5000
    assert by_name["region"].n_rows == 5


def test_jsonl_tolerant_read_and_budget(spark, tmp_path):
    """JSONL ingest: valid lines parse to the explicit schema, broken
    lines (bad syntax) are captured whole in _corrupt_record, type
    mismatches null the field without killing the row, and the budget
    filter returns only clean rows."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from sql_engine_triangle_spark.sources.ingest import (
        BadRowBudget,
        enforce_bad_row_budget,
        read_jsonl_tolerant,
    )

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "score": 10}\n'
        '{"doc_id": 2, "text": "ok", "score": 20}\n'
        "{broken json line\n"
        '{"doc_id": "not_a_number", "text": "typed-mismatch", "score": 30}\n'
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("score", LongType()),
        ]
    )
    # cache first — Spark disallows queries referencing only the
    # corrupt column straight off the raw scan (same rule as CSV).
    raw = read_jsonl_tolerant(spark, str(p), schema).cache()
    assert raw.filter(raw._corrupt_record.isNotNull()).count() == 2
    clean = enforce_bad_row_budget(raw, BadRowBudget(max_rows=5, max_ratio=1.0))
    rows = {r.doc_id: r.text for r in clean.collect()}
    assert rows == {1: "hello world", 2: "ok"}

    import pytest

    raw2 = read_jsonl_tolerant(spark, str(p), schema)
    with pytest.raises(ValueError, match="bad-row budget"):
        enforce_bad_row_budget(raw2, BadRowBudget(max_rows=0, max_ratio=0.0))


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC sink + scan-back: values and schema survive, and the ORC
    reader honors predicate pushdown like Parquet (PushedFilters in
    the scan node)."""
    from sql_engine_triangle_spark.catalog import load_table
    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    out = str(tmp_path / "orders_orc")
    ingest.copy_format(orders, out, fmt="orc")
    back = ingest.read_format(spark, out, fmt="orc")
    assert back.schema == orders.schema
    assert back.count() == orders.count()
    # value parity on an aggregate (decimal-routed, order-independent)
    agg = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        F.sum("o_orderkey").alias("k"),
    ).head()
    assert agg(back) == agg(orders)
    # pushdown reaches the ORC scan
    filtered = back.filter(F.col("o_custkey") == 1)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_custkey" in plan.split("PushedFilters")[1][:120]


def test_compact_small_files(spark, tmp_path):
    """Small-file compaction: a 40-file table is rewritten to the
    byte-targeted file count with identical content, and the sorted
    rewrite restores min/max pushdown locality (each output file holds
    a contiguous o_orderkey range)."""
    from sql_engine_triangle_spark.catalog import load_table
    from sql_engine_triangle_spark.sources import maintenance
    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src = str(tmp_path / "frag")
    orders.repartition(40).write.parquet(src)
    assert maintenance.parquet_file_count(spark, src) == 40

    dst = str(tmp_path / "compacted")
    total = maintenance.dir_bytes(spark, src)
    n = maintenance.compact_table(
        spark, src, dst, target_file_bytes=total // 3, sort_cols=["o_orderkey"]
    )
    assert n <= 4
    assert maintenance.parquet_file_count(spark, dst) == n

    back = spark.read.parquet(dst)
    assert back.count() == orders.count()
    agg = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        F.sum("o_orderkey").alias("k"),
    ).head()
    assert agg(back) == agg(orders)

    # sorted-within-file: per input file, keys form a run whose
    # min/max ranges are tight enough that a point predicate prunes
    # to few files (statistics locality — full-table min/max spans
    # would make every file a candidate)
    per_file = (
        back.select("o_orderkey", F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"),
             F.count("*").alias("cnt"))
        .collect()
    )
    assert len(per_file) == n
    spans = sorted((r.lo, r.hi) for r in per_file)
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, "sorted compaction should produce disjoint key ranges"


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema evolution on append: a later batch adds a column; a
    mergeSchema read unions the schemas and null-extends old rows —
    the additive-evolution contract a long-lived ingest directory
    needs (the reference lab's engines handle this via ALTER TABLE;
    parquet-on-Spark handles it at read time)."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "evolving")
    spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).write.parquet(base)
    spark.range(5, 8).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.lit("en").alias("lang"),
    ).write.mode("append").parquet(base)

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"k", "v", "lang"}
    rows = {r["k"]: r for r in merged.collect()}
    assert len(rows) == 8
    assert rows[0]["lang"] is None and rows[7]["lang"] == "en"
    # column pruning still works on the merged schema
    assert merged.select("k").count() == 8


def test_compact_zorder_variant(spark, tmp_path):
    """compact_table_zorder: same row set, requested file count, and
    z-clustered layout (each file narrow on BOTH keys)."""
    import glob as _glob

    from pyspark.sql import functions as F

    from sql_engine_triangle_spark.catalog import load_table
    from sql_engine_triangle_spark.sources import maintenance
    from tests.conftest import SF_DIR_SMALL

    src = str(tmp_path / "src")
    li = load_table(spark, SF_DIR_SMALL, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    li.repartition(8).write.parquet(src)
    dst = str(tmp_path / "dst")
    total = maintenance.dir_bytes(spark, src)
    n = maintenance.compact_table_zorder(
        spark, src, dst, "l_partkey", "l_suppkey",
        target_file_bytes=max(1, total // 4), bits=8,
    )
    assert maintenance.parquet_file_count(spark, dst) == n
    assert spark.read.parquet(dst).count() == li.count()
    glo = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).first()
    span_a, span_b = glo[1] - glo[0], glo[3] - glo[2]
    spans = []
    for f in sorted(_glob.glob(f"{dst}/*.parquet")):
        r = (
            spark.read.parquet(f)
            .agg(
                F.min("l_partkey"), F.max("l_partkey"),
                F.min("l_suppkey"), F.max("l_suppkey"),
            )
            .first()
        )
        spans.append(((r[1] - r[0]) / span_a, (r[3] - r[2]) / span_b))
    avg_a = sum(a for a, _ in spans) / len(spans)
    avg_b = sum(b for _, b in spans) / len(spans)
    assert avg_a < 0.8 and avg_b < 0.8, (avg_a, avg_b)


# ---------------------------------------------------------------------------
# Split width and split parity of the tolerant text readers
# ---------------------------------------------------------------------------

# Every line of a split-parity batch spans LINE_BYTES bytes with its
# newline, so body line j starts at byte len(header) + j * LINE_BYTES.
LINE_BYTES = 200
BATCH_BYTES = 4_200_000
ONE_SPLIT = {
    "spark.sql.files.maxPartitionBytes": str(1 << 30),
    "spark.sql.files.openCostInBytes": str(1 << 30),
}
CSV_GOOD = (
    '"u{i}~","{price}","2021-03-15","SW1A 1AA","T","Y","F","{i}","","HIGH ST",'
    '"","LONDON","D{d}","GREATER LONDON"'
)
# Too few fields, too many fields, a broken quote.
CSV_BAD = (
    '"bad-{i}~","185000","2025-03-15"',
    ",".join(['"x{i}-0~"'] + [f'"x{{i}}-{k}"' for k in range(1, len(RAW_COLS) + 2)]),
    '"bad-{i}~","oops"unterminated,"notadate"',
)
JSONL_GOOD = '{{"doc_id": {i}, "text": "doc ~", "score": {price}}}'
# Broken syntax, a type mismatch, a truncated record.
JSONL_BAD = (
    "{{broken json line {i} ~",
    '{{"doc_id": "not_a_number", "text": "bad {i} ~", "score": 30}}',
    '{{"doc_id": {i}, "text": "cut ~',
)


def _fixed_width(line: str) -> str:
    """``line`` widened at its ``~`` marker to LINE_BYTES - 1 characters."""
    assert len(line) < LINE_BYTES, line
    return line.replace("~", "x" * (LINE_BYTES - len(line))) + "\n"


def _write_batch(path, header: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write(header + "".join(lines))


def _split_starts(df) -> list[int]:
    """Byte offsets where the read's file splits start."""
    starts = df.select(F.input_file_block_start().alias("s")).distinct()
    return sorted(r.s for r in starts.collect())


def _batch_with_bad_lines_on_splits(spark, path, header: str, good: str, bad, read):
    """Write a BATCH_BYTES batch of fixed-width lines, then plant the
    malformed kinds in turn on the two lines around every split start
    of ``read``'s plan and on every 997th line. Returns the read's
    partition count and the body line numbers made bad."""
    n = BATCH_BYTES // LINE_BYTES
    lines = [_fixed_width(good.format(i=i, price=1000 + i, d=i % 7)) for i in range(n)]
    _write_batch(path, header, lines)
    raw = read()
    width = raw.rdd.getNumPartitions()
    starts = _split_starts(raw)
    assert len(starts) == width
    at = set(range(0, n, 997))
    for s in starts[1:]:
        # The line the split start falls in, read by the split before,
        # and the line after it, the first one this split reads.
        j = (s - len(header)) // LINE_BYTES
        at |= {j, j + 1}
    for k, j in enumerate(sorted(at)):
        lines[j] = _fixed_width(bad[k % len(bad)].format(i=j))
    _write_batch(path, header, lines)
    assert os.path.getsize(path) == len(header) + n * LINE_BYTES
    return width, at


def _audit(spark, raw):
    """(partitions, rows, bad rows, good rows) of one tolerant read,
    through the budget the way the ingest path runs it."""
    parts = raw.rdd.getNumPartitions()
    try:
        clean = ingest.enforce_bad_row_budget(raw, ingest.BadRowBudget())
        good = Counter(map(tuple, clean.collect()))
        bad = raw.filter(F.col("_corrupt_record").isNotNull()).count()
        return parts, raw.count(), bad, good
    finally:
        raw.unpersist()


def _assert_split_parity(spark, read, n_bad):
    """A one-split read and the session's split read give the same
    rows and bad-row count; the split read spans every core."""
    with session_conf(spark, ONE_SPLIT):
        one = _audit(spark, read())
    wide = _audit(spark, read())
    n = BATCH_BYTES // LINE_BYTES
    assert one[0] == 1
    assert wide[0] >= spark.sparkContext.defaultParallelism
    assert one[1:3] == wide[1:3] == (n, n_bad)
    assert one[3] == wide[3] and sum(wide[3].values()) == n - n_bad
    return wide[3]


def test_csv_split_parity_with_bad_lines_on_boundaries(spark, tmp_path):
    """Bad-row counts stay exact across split boundaries: each
    malformed kind sits on the line a split start cuts and on the
    first line of the next split, and the header is dropped once."""
    path = str(tmp_path / "batch.csv")
    header = ",".join(RAW_COLS) + "\n"

    def read():
        return ingest.read_csv_tolerant(spark, path, RAW_COLS)

    _, at = _batch_with_bad_lines_on_splits(spark, path, header, CSV_GOOD, CSV_BAD, read)
    good = _assert_split_parity(spark, read, len(at))
    assert all(row[0] != "uuid_string" for row in good)


def test_jsonl_split_parity_with_bad_lines_on_boundaries(spark, tmp_path):
    path = str(tmp_path / "batch.jsonl")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("score", LongType()),
        ]
    )

    def read():
        return ingest.read_jsonl_tolerant(spark, path, schema)

    _, at = _batch_with_bad_lines_on_splits(spark, path, "", JSONL_GOOD, JSONL_BAD, read)
    _assert_split_parity(spark, read, len(at))


@pytest.mark.parametrize("kind", ["csv", "jsonl"])
def test_a_4mb_batch_plans_a_split_per_core(spark, tmp_path, kind):
    """Under a local master a 4 MB text batch parses on every core
    (Spark's 4 MB default file open cost planned 2 splits, one of them
    a few hundred bytes)."""
    path = str(tmp_path / f"batch.{kind}")
    good = CSV_GOOD if kind == "csv" else JSONL_GOOD
    header = ",".join(RAW_COLS) + "\n" if kind == "csv" else ""
    n = (4 << 20) // LINE_BYTES + 1
    _write_batch(path, header, [_fixed_width(good.format(i=i, price=i, d=0)) for i in range(n)])
    assert os.path.getsize(path) >= 4 << 20
    if kind == "csv":
        raw = ingest.read_csv_tolerant(spark, path, RAW_COLS)
    else:
        raw = ingest.read_jsonl_tolerant(spark, path, StructType([StructField("doc_id", StringType())]))
    assert raw.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
