"""olap_ref: the reference lab's Q1-Q4 as interactive traffic.

Set-up writes a 250,000-row ``property_sales`` table from the seed
(``fixtures.generate``) with ``sources.ingest.write_partitioned``, one
Hive partition per month (372 partitions), and computes the DuckDB
answers of ``Q1_SQL``..``Q4_SQL`` over the same parquet. Two client
threads share the session. In each round Q1-Q4 are dealt out in a
seed-shuffled order, two to each client, which runs its two back to
back (closed loop, no think time); the round ends when both are done.
Each query is timed from the call into ``queries.reference_parity`` to
the collected rows, and its rows are compared with DuckDB's.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
from pyspark.sql import functions as F

from perfbench.checks import Tally, diff_rows
from perfbench.metrics import Outcome
from perfbench.stats import mean, p50_by_kind, tail
from perfbench.trace import Tracer
from sql_engine_triangle_spark.fixtures import generate as G
from sql_engine_triangle_spark.queries import reference_parity as rp
from sql_engine_triangle_spark.sources.ingest import month_col, write_partitioned

N_ROWS = 250_000
CLIENTS = 2
SORT_COLS = ["postcode1", "postcode2", "addr1", "addr2"]  # FIXTURES.md §1 layout
QUERIES = {
    "ref_q1": (rp.q1, rp.Q1_SQL),
    "ref_q2": (rp.q2, rp.Q2_SQL),
    "ref_q3": (rp.q3, rp.Q3_SQL),
    "ref_q4": (rp.q4, rp.Q4_SQL),
}


def oracle_rows(table: str) -> dict[str, list[tuple]]:
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW property_sales AS SELECT * FROM "
            f"read_parquet('{table}/*/*.parquet', hive_partitioning = true)"
        )
        return {name: con.execute(sql).fetchall() for name, (_, sql) in QUERIES.items()}
    finally:
        con.close()


def run(spark, tracer: Tracer, tally: Tally, seed: int, seconds: float, run_dir: str) -> Outcome:
    table = os.path.join(run_dir, "property_sales")
    t0 = time.perf_counter()
    sales = G.property_sales(spark, N_ROWS, seed)
    write_partitioned(sales.withColumn("month", month_col(F.col("date"))), table, sort_cols=SORT_COLS)
    t1 = time.perf_counter()
    expected = oracle_rows(table)
    t2 = time.perf_counter()

    def query(name: str) -> float | None:
        fn = QUERIES[name][0]
        try:
            with tracer.span(name) as op:
                with tracer.span(f"{name}.build"):
                    df = fn(spark, table)
                with tracer.span(f"{name}.exec"):
                    rows = df.collect()
        except Exception as exc:  # a failed query is counted, the client goes on
            tally.record_exception(name, exc)
            return None
        tally.record(name, diff_rows(rows, expected[name]))
        return op.dur

    # Warm-up: each client runs one of the two heaviest plans, Q3 and
    # Q4, whose scan and aggregation code covers Q1 and Q2's.
    with ThreadPoolExecutor(CLIENTS) as pool:
        for f in [pool.submit(query, name) for name in ("ref_q3", "ref_q4")]:
            f.result()
    tracer.reset()
    warm_s = time.perf_counter() - t2
    setup_s = time.perf_counter() - t0

    def client(names: list[str]) -> list[tuple[str, float]]:
        done = []
        for name in names:
            dur = query(name)
            if dur is not None:
                done.append((name, dur))
        return done

    # Whole rounds: at least one, and another while it is expected to
    # end before the deadline.
    rng = random.Random(seed)
    deadline = time.perf_counter() + seconds
    done: list[tuple[str, float]] = []
    rounds, last = 0, 0.0
    start = time.perf_counter()
    with ThreadPoolExecutor(CLIENTS) as pool:
        while rounds == 0 or time.perf_counter() + last <= deadline:
            t = time.perf_counter()
            order = list(QUERIES)
            rng.shuffle(order)
            for part in pool.map(client, [order[i::CLIENTS] for i in range(CLIENTS)]):
                done.extend(part)
            last = time.perf_counter() - t
            rounds += 1
    elapsed = time.perf_counter() - start

    lat = [d for _, d in done]
    p50 = p50_by_kind(done)
    tl = tail(lat)
    return Outcome(
        setup_s=setup_s,
        end_to_end={
            "op_mean_s": mean(list(p50.values())),
            "rows_per_s": N_ROWS * len(lat) / elapsed,
        },
        samples={
            "op": "query", "n": len(lat), "rounds": rounds, "elapsed_s": elapsed,
            "generate_s": t1 - t0, "oracle_s": t2 - t1, "warmup_s": warm_s,
            "queries_per_s": len(lat) / elapsed,
            "tail": {"value_s": tl[0], "percentile": tl[1]} if tl else None,
            "p50_s_by_query": p50,
        },
    )
