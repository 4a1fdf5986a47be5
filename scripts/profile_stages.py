#!/usr/bin/env python
"""Stage-level profiling harness for the r11 optimization round.

Times labeled sub-frames of an entry with the noop sink (guide §1.4)
in ONE warmed JVM, so the per-stage costs of a composed plan can be
attributed (guide §1.1 empirical loop). Each stage is measured as the
cumulative cost of computing that frame from the parquet inputs —
differences between successive stages isolate the increment.

Usage:
    python scripts/profile_stages.py <profile-name> [sf_dir]

Profiles are registered in PROFILES below; each returns an ordered
list of (label, DataFrame) pairs. Timings are min-of-2 warmed runs.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from sql_engine_triangle_spark.catalog import load_table  # noqa: E402
from sql_engine_triangle_spark.session import get_spark  # noqa: E402


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _time(spark, label: str, df, runs: int = 2) -> float:
    spark.sparkContext.setJobDescription(label)
    _noop(df)  # warmup
    ts = []
    for _ in range(runs):
        t0 = time.time()
        _noop(df)
        ts.append(time.time() - t0)
    spark.sparkContext.setJobDescription(None)
    dt = min(ts)
    print(f"{dt:8.3f}s  {label}", flush=True)
    return dt


def profile_lsh(spark, sf_dir):
    """minhash_lsh_pairs stage decomposition at threshold 0.9, n=3."""
    from sql_engine_triangle_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    exploded = dedup.shingle_rows(docs, "doc_id", "text", 3)
    sig_agg = exploded.groupBy("doc_id").agg(*dedup._minhash_min_cols(64))
    sigs = sig_agg.select(
        "doc_id", F.array(*[F.col(f"m{p}") for p in range(64)]).alias("sig")
    )
    band_keys = dedup._band_keys_expr(16, 4)
    banded = sigs.select("doc_id", F.posexplode(band_keys).alias("band", "bucket"))
    a = banded.select("band", "bucket", F.col("doc_id").alias("doc_a"))
    b = banded.select("band", "bucket", F.col("doc_id").alias("doc_b"))
    cands = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh = exploded.groupBy("doc_id").agg(F.collect_set("s").alias("sh"))
    full = dedup.minhash_lsh_pairs(docs, threshold=0.9, n=3)
    return [
        ("exploded shingles", exploded),
        ("signatures (64 mins)", sigs),
        ("banded keys", banded),
        ("candidate pairs", cands),
        ("collect_set sh (once)", sh),
        ("FULL minhash_lsh_pairs", full),
    ]


def profile_cc(spark, sf_dir):
    """connected_components_star on the 0.9 LSH pairs (the
    dedup_cluster_size_hist composition)."""
    from sql_engine_triangle_spark.operators import dedup
    from sql_engine_triangle_spark.operators.graph import (
        connected_components_star,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9, n=3).localCheckpoint()
    t0 = time.time()
    cc = connected_components_star(pairs)
    build_s = time.time() - t0
    print(f"{build_s:8.3f}s  cc plan build (incl. eager rounds)", flush=True)
    return [("cc result", cc)]


PROFILES = {
    "lsh": profile_lsh,
    "cc": profile_cc,
}


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(app_name=f"profile-{name}")
    for t in (
        "documents",
        "embeddings",
        "events",
        "lineitem",
        "orders",
    ):
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:  # noqa: BLE001
            pass
    stages = PROFILES[name](spark, sf_dir)
    total = 0.0
    for label, df in stages:
        total += _time(spark, label, df)
    print(f"# cumulative (not additive): {total:.3f}s", flush=True)


if __name__ == "__main__":
    main()
