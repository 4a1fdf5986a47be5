"""ingest_cdc: one writer loading CSV batches and applying CDC batches,
with read-after-write queries and periodic compaction.

Each cycle:

1. a seeded ``property_sales_raw`` CSV batch (FIXTURES.md §2, 0.05%
   malformed lines) goes through ``read_csv_tolerant`` ->
   ``enforce_bad_row_budget`` -> ``typed_projection`` ->
   ``write_partitioned(mode="append")`` into the live table;
2. a seeded CDC batch (5% updates, 0.5% deletes, as many inserts) is
   applied to the keyed ``orders`` snapshot with ``merge_upsert`` and
   written as the next snapshot;
3. every ``COMPACT_EVERY``-th cycle, ``compact_table`` rewrites each
   month partition of the live table;
4. read after write: reference Q1 and Q2 on the live table, and a count
   of the new snapshot, all ``READ_PASSES`` times.

Two warm-up cycles come first: after one, ingest and read times still
fall from cycle to cycle. Then cycles are measured up to and including
the one after the first compaction, so every run holds fresh reads on
the appended layout, the compacted one and the compacted one with a
batch appended, and another cycle while it is expected to end before
the deadline. Checks per cycle: the bad-row
count equals the injected count; the snapshot equals a DuckDB replay of
the CDC batch; Q1 equals DuckDB's Q1 over the live table, whose row
count must equal the good rows loaded and whose dates must all parse.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.checks import Tally, diff_rows
from perfbench.metrics import Outcome
from perfbench.stats import mean, median, tail
from perfbench.trace import Tracer
from sql_engine_triangle_spark.operators.merge import merge_upsert
from sql_engine_triangle_spark.queries import reference_parity as rp
from sql_engine_triangle_spark.sources.ingest import (
    BadRowBudget,
    enforce_bad_row_budget,
    month_col,
    read_csv_tolerant,
    typed_projection,
    write_partitioned,
)
from sql_engine_triangle_spark.sources.maintenance import (
    compact_table,
    dir_bytes,
    parquet_file_count,
)

BATCH_ROWS = 50_000
ORDERS = 50_000
COMPACT_EVERY = 4
WARMUP_CYCLES = 2
FRESH_READS = ("q1", "q2", "count")
READ_PASSES = 2  # with one, op_mean_s spread 0.22 over ten seeds
SORT_COLS = ["postcode1", "postcode2", "addr1"]

REPLAY_SQL = """
WITH prev AS (SELECT * FROM read_parquet('{prev}/*.parquet')),
     upd AS (SELECT * FROM read_parquet('{upd}/*.parquet')),
     del AS (SELECT order_id FROM read_parquet('{dels}/*.parquet')),
     want AS (
       SELECT order_id, customer_id, status, amount, version FROM prev
       WHERE order_id NOT IN (SELECT order_id FROM upd)
         AND order_id NOT IN (SELECT order_id FROM del)
       UNION ALL
       SELECT order_id, customer_id, status, amount, version FROM upd
       WHERE order_id NOT IN (SELECT order_id FROM del)),
     got AS (SELECT order_id, customer_id, status, amount, version
             FROM read_parquet('{new}/*.parquet'))
SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)),
       (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)),
       (SELECT count(*) FROM got)
"""


class Writer:
    """The single client's state across cycles."""

    def __init__(self, spark, tracer: Tracer, tally: Tally, seed: int, run_dir: str):
        self.spark, self.tracer, self.tally, self.seed = spark, tracer, tally, seed
        self.live = os.path.join(run_dir, "live")
        self.raw = os.path.join(run_dir, "raw")
        self.orders = os.path.join(run_dir, "orders")
        os.makedirs(self.raw)
        self.feed = gen.OrdersFeed(ORDERS, seed)
        self.feed.snapshot(self.snap(0))
        self.con = duckdb.connect()
        self.good_rows = 0
        self.csv_bytes = 0
        self.ingest_s: list[float] = []
        self.read_s: dict[str, list[float]] = {name: [] for name in FRESH_READS}
        self.files_written: list[int] = []
        self.bad_rows: list[int] = []
        self.rows_out: list[int] = []
        self.compactions: list[tuple[int, int, int]] = []

    def snap(self, cycle: int) -> str:
        return os.path.join(self.orders, f"snapshot-{cycle}")

    def _check(self, label: str, fn) -> None:
        try:
            self.tally.record(label, fn())
        except Exception as exc:  # a failed check is counted, the writer goes on
            self.tally.record_exception(label, exc)

    def cycle(self, c: int) -> None:
        batch = gen.raw_csv_batch(os.path.join(self.raw, f"batch-{c}.csv"), BATCH_ROWS, self.seed, c)
        upd, dels = (os.path.join(self.orders, f"{kind}-{c}") for kind in ("updates", "deletes"))
        self.feed.cdc_batch(upd, dels, c)
        self.csv_bytes += batch.bytes
        self._ingest(c, batch)
        self._merge(c, upd, dels)
        if (c + 1) % COMPACT_EVERY == 0:
            self._compact(c)
        self._fresh_reads(c)
        os.remove(batch.path)

    def _ingest(self, c: int, batch: gen.RawBatch) -> None:
        t = self.tracer
        files_before = parquet_file_count(self.spark, self.live) if c else 0
        try:
            with t.span("ingest") as op:
                with t.span("ingest.parse"):
                    raw = read_csv_tolerant(self.spark, batch.path, gen.RAW_COLS)
                    clean = enforce_bad_row_budget(raw, BadRowBudget())
                with t.span("ingest.write"):
                    typed = typed_projection(clean).withColumn("month", month_col(F.col("date")))
                    write_partitioned(typed, self.live, sort_cols=SORT_COLS, mode="append")
        except Exception as exc:
            self.tally.record_exception(f"ingest {c}", exc)
            return
        self.ingest_s.append(op.dur)
        self.good_rows += batch.rows - batch.bad_rows
        bad = raw.filter(F.col("_corrupt_record").isNotNull()).count()
        raw.unpersist()
        self.bad_rows.append(bad)
        self.files_written.append(parquet_file_count(self.spark, self.live) - files_before)
        self.tally.record(
            f"ingest {c} bad rows",
            None if bad == batch.bad_rows else f"{bad} bad rows, {batch.bad_rows} injected",
        )

    def _merge(self, c: int, upd: str, dels: str) -> None:
        read = self.spark.read.parquet
        try:
            with self.tracer.span("merge"):
                merged = merge_upsert(read(self.snap(c)), read(upd), "order_id", read(dels))
                merged.write.parquet(self.snap(c + 1))
        except Exception as exc:
            self.tally.record_exception(f"merge {c}", exc)

    def _fresh_reads(self, c: int) -> None:
        t, new_snap = self.tracer, self.snap(c + 1)
        results = {}
        reads = zip(FRESH_READS * READ_PASSES, (rp.q1, rp.q2, None) * READ_PASSES)
        for name, fn in reads:
            try:
                with t.span("fresh_read") as op:
                    with t.span("fresh_read.build"):
                        df = fn(self.spark, self.live) if fn else self.spark.read.parquet(new_snap)
                    with t.span("fresh_read.exec"):
                        results[name] = df.collect() if fn else df.count()
            except Exception as exc:
                self.tally.record_exception(f"fresh {name} {c}", exc)
                continue
            self.read_s[name].append(op.dur)
        prev = self.snap(c)
        upd, dels = (os.path.join(self.orders, f"{kind}-{c}") for kind in ("updates", "deletes"))

        def snapshot_matches():
            missing, extra, n = self.con.execute(
                REPLAY_SQL.format(prev=prev, upd=upd, dels=dels, new=new_snap)).fetchone()
            self.rows_out.append(n)
            if missing or extra:
                return f"snapshot {c + 1}: {missing} rows missing, {extra} unexpected"
            if results.get("count") != n or n != len(self.feed.keys):
                return f"snapshot {c + 1}: count {results.get('count')}, replay {n}"
            return None

        def live_matches():
            self.con.execute(
                "CREATE OR REPLACE VIEW property_sales AS SELECT * FROM "
                f"read_parquet('{self.live}/*/*.parquet', hive_partitioning = true)")
            n, undated = self.con.execute(
                "SELECT count(*), count(*) FILTER (WHERE date IS NULL) FROM property_sales"
            ).fetchone()
            if n != self.good_rows or undated:
                return f"live table: {n} rows ({undated} undated), {self.good_rows} loaded"
            if "q1" not in results:
                return "no Q1 result"
            return diff_rows(results["q1"], self.con.execute(rp.Q1_SQL).fetchall())

        self._check(f"snapshot {c + 1}", snapshot_matches)
        self._check(f"fresh q1 {c}", live_matches)

    def _compact(self, c: int) -> None:
        before = parquet_file_count(self.spark, self.live)
        staged, retired = self.live + ".compacted", self.live + ".retired"
        try:
            with self.tracer.span("maintenance.compact"):
                for part in sorted(os.listdir(self.live)):
                    if part.startswith("month="):
                        compact_table(self.spark, os.path.join(self.live, part),
                                      os.path.join(staged, part), sort_cols=SORT_COLS)
                os.rename(self.live, retired)
                os.rename(staged, self.live)
        except Exception as exc:
            self.tally.record_exception(f"compact {c}", exc)
            return
        shutil.rmtree(retired)
        self.compactions.append(
            (before, parquet_file_count(self.spark, self.live), dir_bytes(self.spark, self.live)))


def run(spark, tracer: Tracer, tally: Tally, seed: int, seconds: float, run_dir: str) -> Outcome:
    t0 = time.perf_counter()
    w = Writer(spark, tracer, tally, seed, run_dir)
    for c in range(WARMUP_CYCLES):
        w.cycle(c)
    tracer.reset()
    setup_s = time.perf_counter() - t0
    for series in (w.ingest_s, *w.read_s.values(), w.files_written, w.bad_rows, w.rows_out):
        series.clear()

    # Up to the cycle after the first compaction, then more while a
    # cycle is expected to end before the deadline.
    start = time.perf_counter()
    deadline = start + seconds
    c, last = WARMUP_CYCLES, 0.0
    while c <= COMPACT_EVERY or time.perf_counter() + last <= deadline:
        t = time.perf_counter()
        w.cycle(c)
        last = time.perf_counter() - t
        c += 1
    elapsed = time.perf_counter() - start
    w.con.close()

    reads = [d for series in w.read_s.values() for d in series]
    p50 = {name: median(d) for name, d in w.read_s.items() if d}
    tl = tail(reads)
    extra = {
        "ingest.files_written": median(w.files_written),
        "ingest.bad_rows": median(w.bad_rows),
        "merge.rows_out": median(w.rows_out),
        "storage.bytes_per_user_byte": dir_bytes(spark, w.live) / w.csv_bytes,
    }
    if w.compactions:
        for i, key in enumerate(("files_before", "files_after", "bytes")):
            extra[f"maintenance.{key}"] = median([cmp[i] for cmp in w.compactions])
    return Outcome(
        setup_s=setup_s,
        end_to_end={
            "op_mean_s": mean(list(p50.values())),
            "rows_per_s": BATCH_ROWS / median(w.ingest_s),
        },
        samples={
            "op": "fresh read", "n": len(reads), "cycles": c - WARMUP_CYCLES,
            "compactions": len(w.compactions), "elapsed_s": elapsed,
            "ingest_p50_s": median(w.ingest_s),
            "p50_s_by_read": p50,
            "tail": {"value_s": tl[0], "percentile": tl[1]} if tl else None,
        },
        layer_extra=extra,
    )
