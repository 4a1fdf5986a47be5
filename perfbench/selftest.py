"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

Checks metric names, generator determinism, the tail helper, the
result canonicalisation, the recomputed IVF recall flag, and that a
wrong result is counted as failed. The generator tests start a small
local Spark session. Also collectable by pytest.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.checks import Tally, canonical_rows, diff_rows, digest  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.stats import p50_by_kind, tail  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
_SPARK = None


def _spark():
    global _SPARK
    if _SPARK is None:
        from sql_engine_triangle_spark.session import get_spark

        _SPARK = get_spark(
            app_name="perfbench-selftest",
            master="local[2]",
            shuffle_partitions=2,
            extra_conf={"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "1g"},
        )
    return _SPARK


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)) if os.path.isdir(path) else [""]:
        with open(os.path.join(path, name) if name else path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for name in [*declared, *layers, *(w["name"] for w in spec["workloads"])]:
        assert NAME.fullmatch(name), name
    assert declared == END_TO_END
    assert layers == PER_LAYER


def test_csv_batches_are_deterministic():
    with tempfile.TemporaryDirectory() as d:
        paths = [os.path.join(d, f"{i}.csv") for i in range(3)]
        a = gen.raw_csv_batch(paths[0], 20_000, seed=7, batch=1)
        gen.raw_csv_batch(paths[1], 20_000, seed=7, batch=1)
        gen.raw_csv_batch(paths[2], 20_000, seed=8, batch=1)
        assert _digest(paths[0]) == _digest(paths[1])
        assert _digest(paths[0]) != _digest(paths[2])
        assert a.bad_rows == 10
        with open(paths[0]) as f:
            assert sum(1 for _ in f) == 1 + a.rows


def test_cdc_batches_are_deterministic():
    with tempfile.TemporaryDirectory() as d:
        digests = []
        for seed in (7, 7, 8):
            feed = gen.OrdersFeed(10_000, seed)
            out = os.path.join(d, f"s{seed}-{len(digests)}")
            feed.snapshot(os.path.join(out, "snap"))
            feed.cdc_batch(os.path.join(out, "upd"), os.path.join(out, "del"), 1)
            digests.append([_digest(os.path.join(out, p)) for p in ("snap", "upd", "del")])
            assert len(feed.keys) == 10_000  # as many inserts as deletes
        assert digests[0] == digests[1]
        assert digests[0][1] != digests[2][1]


def test_spark_tables_are_deterministic():
    from sql_engine_triangle_spark.fixtures import generate as G

    spark = _spark()

    def table_hash(seed: int) -> str:
        rows = sorted(repr(tuple(r)) for r in G.property_sales(spark, 5_000, seed).collect())
        return hashlib.sha256("\n".join(rows).encode()).hexdigest()

    assert table_hash(3) == table_hash(3)
    assert table_hash(3) != table_hash(4)


def test_time_formats_parse():
    from pyspark.sql import functions as F

    from sql_engine_triangle_spark.functions.scalar import best_effort_date

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "b.csv")
        gen.raw_csv_batch(path, 2_000, seed=1, batch=0)
        good = _spark().read.option("header", True).csv(path).filter(
            F.col("uuid_string").startswith("1-0-")  # malformed lines carry other ids
        )
        assert good.count() == 2_000 - 1
        assert good.filter(best_effort_date(F.col("time")).isNull()).count() == 0


def test_tail_picks_highest_percentile_with_ten_beyond():
    assert tail([1.0] * 19) is None
    for n, pct in ((20, 50.0), (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)):
        value, got = tail([float(i) for i in range(n)])
        assert got == pct, (n, got)
        assert sum(1 for i in range(n) if i > value) >= 10


def test_p50_by_kind_takes_each_kinds_median():
    got = p50_by_kind([("q1", 3.0), ("q2", 1.0), ("q1", 1.0), ("q1", 2.0), ("q2", 5.0)])
    assert got == {"q1": 2.0, "q2": 3.0} and list(got) == ["q1", "q2"]


def test_canonical_rows_ignore_row_and_column_order():
    a = canonical_rows([(2, "b", 0.5, [1.0, 2.0]), (1, "a", 0.25, [3.0])], ["id", "name", "score", "v"])
    b = canonical_rows([(0.25, 1, [3.0], "a"), (0.5, 2, (1.0, 2.0), "b")], ["score", "id", "v", "name"])
    assert a == b and digest(a) == digest(b)
    assert diff_rows(a, b) is None
    c = canonical_rows([(2, "b", 0.5, [1.0, 2.5]), (1, "a", 0.25, [3.0])], ["id", "name", "score", "v"])
    assert digest(a) != digest(c) and diff_rows(c, b) is not None


def test_ivf_recall_flag_matches_engine():
    """The benchmark's own ``ivf_recall_ok`` agrees with the engine's on
    a corpus whose IVF recall is below the threshold and on one above."""
    import duckdb

    from perfbench.corpus_curation import N_EMBEDDINGS, ivf_recall_ok
    from sql_engine_triangle_spark.catalog import table_path
    from sql_engine_triangle_spark.fixtures import generate as G
    from sql_engine_triangle_spark.queries import registry

    spark = _spark()
    for seed, want in ((1559667568, False), (2, True)):
        with tempfile.TemporaryDirectory() as d:
            path = table_path(d, "embeddings")
            G.embeddings(spark, N_EMBEDDINGS, seed=seed).write.parquet(path)
            got = registry.get("sim_ivf_topk").fn(spark, d).collect()
            con = duckdb.connect()
            try:
                con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')")
                assert ivf_recall_ok(con, [r.vec_id for r in got]) is want, seed
            finally:
                con.close()
            assert all(r.ivf_recall_ok is want for r in got), seed


def test_wrong_result_counts_as_failed():
    want = [("flat", 10, 250000.0), ("terraced", 7, 199000.0)]
    tally = Tally()
    tally.record("same", diff_rows(list(want), want))
    tally.record("within tolerance", diff_rows([want[0], ("terraced", 7, 199000.0000001)], want))
    tally.record("value", diff_rows([want[0], ("terraced", 7, 199001.0)], want))
    tally.record("rows", diff_rows(want[:1], want))
    tally.record("order", diff_rows(want[::-1], want))
    tally.record_exception("raised", RuntimeError("boom"))
    assert (tally.attempted, tally.failed) == (6, 4)


def main() -> int:
    tests = [(n, f) for n, f in globals().items() if n.startswith("test_") and callable(f)]
    failed = 0
    for name, fn in tests:
        try:
            fn()
            print(f"ok   {name}")
        except Exception as exc:
            failed += 1
            print(f"FAIL {name}: {exc!r}")
    if _SPARK is not None:
        _SPARK.stop()
    print(f"{len(tests) - failed}/{len(tests)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
