"""corpus_curation: one client running curation pipelines back to back.

Set-up writes a generated sf-dir from the seed: ``documents`` and
``embeddings`` from ``fixtures.generate``, as the catalog expects them.
DuckDB computes the registry oracle of the entries whose oracle runs in
well under a second at this size. The registry oracle of
``sim_ivf_topk`` states ``ivf_recall_ok`` TRUE whatever the corpus;
that flag is recomputed here instead (``ivf_recall_ok``), as on some
seeds the IVF recall is below the entry's threshold and FALSE is the
right answer. A cold round of the four entries then warms the JVM
and Python workers and fills the IVF centroid cache of
``operators.similarity``; the cold ``sim_ivf_topk`` call is recorded
as such.

The measured rounds call ``Engine.query`` for each entry in turn and
collect its rows (closed loop, no think time): at least ``MIN_ROUNDS``
rounds, and another while it is expected to end before the deadline.
Every result must hash like the same entry's result in the cold
round; the entries with an oracle must also equal it.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np

from perfbench.checks import Tally, canonical_rows, diff_rows, digest
from perfbench.metrics import CURATION_ENTRIES, Outcome
from perfbench.stats import mean, median, p50_by_kind, tail
from perfbench.trace import Tracer
from sql_engine_triangle_spark.catalog import table_path
from sql_engine_triangle_spark.engine import Engine
from sql_engine_triangle_spark.fixtures import generate as G

N_DOCS = 1_000
N_EMBEDDINGS = 500
MIN_ROUNDS = 3
# Entries whose registry oracle finishes in budget here; the oracles of
# pipeline_corpus_build and dedup_minhash_lsh take seconds each.
ORACLE_ENTRIES = ("dedup_semantic_arrow", "sim_ivf_topk", "text_quality_scores")
# sim_ivf_topk's index and flag: the defaults of similarity.ivf_topk and
# the entry's recall@10 threshold.
IVF_CENTROIDS, IVF_ITERS, IVF_NPROBE, IVF_RECALL_MIN = 10, 3, 3, 7


def write_corpus(spark, sf_dir: str, seed: int) -> None:
    G.documents(spark, N_DOCS, seed).write.parquet(table_path(sf_dir, "documents"))
    G.embeddings(spark, N_EMBEDDINGS, seed=seed).write.parquet(table_path(sf_dir, "embeddings"))


def ivf_recall_ok(con, top_ids: list[int]) -> bool:
    """``ivf_recall_ok`` of ``sim_ivf_topk`` recomputed in numpy from the
    ``embeddings`` view of ``con``: the same coarse quantizer (k-means
    seeded with the first vectors by ``vec_id``, a fixed number of Lloyd
    iterations, nearest centroid by cosine), probed with vector 0. A
    vector of the exact top-10 ``top_ids`` is among the IVF top-10
    exactly when its centroid is probed, so those make the recall."""
    rows = con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
    ids = [r[0] for r in rows]
    X = np.array([r[1] for r in rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)

    def assign(C):
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        return Cn, (Xn @ Cn.T).argmax(axis=1)

    C = X[:IVF_CENTROIDS].copy()
    for _ in range(IVF_ITERS):
        _, cids = assign(C)
        for c in np.unique(cids):
            C[c] = X[cids == c].mean(axis=0)
    Cn, cids = assign(C)
    probe = set(np.argsort(-(Cn @ Xn[ids.index(0)]))[:IVF_NPROBE].tolist())
    cid_of = dict(zip(ids, cids.tolist()))
    return sum(cid_of[v] in probe for v in top_ids) >= IVF_RECALL_MIN


def oracle_rows(engine: Engine) -> dict[str, list[tuple]]:
    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{table_path(engine.sf_dir, table)}/*.parquet')"
            )
        out = {}
        for name in ORACLE_ENTRIES:
            rows = con.execute(engine.oracle(name)).fetchall()
            cols = [d[0] for d in con.description]
            if name == "sim_ivf_topk":
                i = cols.index("ivf_recall_ok")
                ok = ivf_recall_ok(con, [r[cols.index("vec_id")] for r in rows])
                rows = [(*r[:i], ok, *r[i + 1:]) for r in rows]
            out[name] = canonical_rows(rows, cols)
        return out
    finally:
        con.close()


def run(spark, tracer: Tracer, tally: Tally, seed: int, seconds: float, run_dir: str) -> Outcome:
    t0 = time.perf_counter()
    engine = Engine(spark, os.path.join(run_dir, "corpus"))
    write_corpus(spark, engine.sf_dir, seed)
    t1 = time.perf_counter()
    expected = oracle_rows(engine)
    t2 = time.perf_counter()
    jsc = spark.sparkContext._jsc
    first_digest: dict[str, str] = {}
    persisted: dict[str, int] = {}

    def call(name: str) -> float | None:
        """One Engine.query call and its checks; its duration, or None
        when it failed."""
        if tracer.enabled:
            rdds_before = set(jsc.getPersistentRDDs().keySet())
        try:
            with tracer.span(name) as op:
                df = engine.query(name)
                rows = df.collect()
        except Exception as exc:  # a failed call is counted, the client goes on
            tally.record_exception(name, exc)
            return None
        if tracer.enabled:
            persisted[name] = len(set(jsc.getPersistentRDDs().keySet()) - rdds_before)
        got = canonical_rows(rows, df.columns)
        h = digest(got)
        error = None
        if first_digest.setdefault(name, h) != h:
            error = "result differs from the cold round's"
        elif name in expected:
            error = diff_rows(got, expected[name])
        tally.record(name, error)
        return op.dur

    cold = {name: call(name) for name in CURATION_ENTRIES}
    tracer.reset()
    persisted.clear()
    warm_s = time.perf_counter() - t2
    setup_s = time.perf_counter() - t0

    deadline = time.perf_counter() + seconds
    rounds: list[float] = []
    done: list[tuple[str, float]] = []
    per_round_persisted: list[int] = []
    n_rounds, last = 0, 0.0
    start = time.perf_counter()
    while n_rounds < MIN_ROUNDS or time.perf_counter() + last <= deadline:
        n_rounds += 1
        t = time.perf_counter()
        durs = {name: call(name) for name in CURATION_ENTRIES}
        last = time.perf_counter() - t
        done.extend((n, d) for n, d in durs.items() if d is not None)
        if None not in durs.values():
            rounds.append(sum(durs.values()))
        if tracer.enabled:
            per_round_persisted.append(sum(persisted.values()))
            persisted.clear()
    elapsed = time.perf_counter() - start

    lat = [d for _, d in done]
    p50 = p50_by_kind(done)
    tl = tail(lat)
    extra = {}
    if cold.get("sim_ivf_topk") is not None:
        extra["sim_ivf_topk.first_s"] = cold["sim_ivf_topk"]
    if per_round_persisted:
        extra["concurrency.persisted_rdds"] = median(per_round_persisted)
    return Outcome(
        setup_s=setup_s,
        end_to_end={
            "op_mean_s": mean(list(p50.values())),
            "rows_per_s": N_DOCS / median(rounds),
        },
        samples={
            "op": "Engine.query", "n": len(lat), "rounds": len(rounds),
            "elapsed_s": elapsed, "generate_s": t1 - t0, "oracle_s": t2 - t1,
            "warmup_s": warm_s, "round_p50_s": median(rounds),
            "cold_s": cold,
            "tail": {"value_s": tl[0], "percentile": tl[1]} if tl else None,
            "p50_s_by_entry": p50,
        },
        layer_extra=extra,
    )
