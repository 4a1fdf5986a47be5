"""Structural invariants for the round-4 curation ops (semantic
dedup, cluster-bounded kNN join, shard layout). Oracle parity for the
same entries runs in the generic registry sweep; these tests pin the
properties parity alone can't see (clustering sanity, rank bounds,
layout balance, partition-count independence)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

from sql_engine_triangle_spark.catalog import load_table
from sql_engine_triangle_spark.operators import similarity
from sql_engine_triangle_spark.queries import registry
from tests.conftest import SF_DIR_SMALL, assert_frames_match


def test_seed_assignment_covers_all_vectors(spark):
    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    asg = similarity.seed_centroid_assign(emb, k=8).select("vec_id", "cid").toPandas()
    assert len(asg) == emb.count()
    assert asg["cid"].between(0, 7).all()
    # each seed vector is its own nearest centroid (cos=1 with itself)
    seeds = asg.nsmallest(8, "vec_id").sort_values("vec_id")
    assert list(seeds["cid"]) == list(range(8))


def test_seed_k_formula_matches_oracle_cte():
    """The corpus-size-dependent cluster count (r10, VERDICT r9 weak
    #2) lives in TWO places: similarity.seed_k_for (Spark side) and
    the seed_params CTE inside curation_ops._ASSIGN_CTES (oracle
    side). Pin (1) the CTE text embeds exactly the constants the
    Python formula uses, and (2) the two formulas agree numerically
    across the regime boundary — DuckDB GREATEST(8, n // 2048) vs
    Python max(8, n // 2048) — including every fixture/scale-stress
    corpus size."""
    import duckdb

    from sql_engine_triangle_spark.queries.curation_ops import _ASSIGN_CTES

    expected = (
        f"GREATEST({similarity.SEED_K}, "
        f"COUNT(*) // {similarity.SEED_TARGET_CLUSTER})"
    )
    assert expected in _ASSIGN_CTES, expected
    con = duckdb.connect()
    for n in [1, 8, 20, 200, 2000, 2047, 2048, 4095, 4096, 16384,
              20000, 60000, 16383, 1_000_000]:
        k_sql = con.execute(
            f"SELECT GREATEST({similarity.SEED_K}, "
            f"CAST({n} AS BIGINT) // {similarity.SEED_TARGET_CLUSTER})"
        ).fetchone()[0]
        assert int(k_sql) == similarity.seed_k_for(n), (n, k_sql)


def test_semantic_dedup_keep_semantics(spark):
    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    res = similarity.semantic_dedup(emb, k=8, eps=0.45).toPandas()
    assert len(res) == emb.count()
    # the lowest vec_id of every cluster can never be pruned
    firsts = res.sort_values("vec_id").groupby("cid").head(1)
    assert firsts["keep"].all()
    # pruned rows must actually have an earlier >= eps neighbor in-cluster
    pairs = similarity.cosine_pairs(emb, threshold=0.45).toPandas()
    cid = dict(zip(res["vec_id"], res["cid"]))
    dropped = set(res.loc[~res["keep"], "vec_id"])
    witnessed = {
        int(r.vec_b)
        for r in pairs.itertuples()
        if cid[r.vec_a] == cid[r.vec_b]
    } | {
        int(r.vec_a)
        for r in pairs.itertuples()
        if cid[r.vec_a] == cid[r.vec_b]
    }
    assert dropped <= witnessed


def test_knn_join_rank_bounds(spark):
    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    res = similarity.knn_join(emb, k=8, n_neighbors=3).toPandas()
    assert res["rank"].between(1, 3).all()
    # per vec_id: ranks are 1..m with no gaps, cos_sim non-increasing
    for _, g in res.groupby("vec_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert (g["cos_sim"].diff().dropna() <= 1e-12).all()
    # a vector never lists itself
    assert (res["vec_id"] != res["nbr_id"]).all()


def test_shard_layout_balance_and_positions(spark):
    fn = registry.get("pipeline_shard_layout").fn
    res = fn(spark, SF_DIR_SMALL).toPandas()
    docs = load_table(spark, SF_DIR_SMALL, "documents").count()
    assert len(res) == docs
    assert res["doc_id"].is_unique
    # positions are contiguous 1..n within each shard
    for _, g in res.groupby("shard"):
        assert sorted(g["pos"]) == list(range(1, len(g) + 1))
        gg = g.sort_values("pos")
        assert gg["file_idx"].is_monotonic_increasing
    # md5 % 8 balances shards: no shard holds more than 3x its fair share
    counts = res.groupby("shard").size()
    assert counts.max() <= 3 * (docs / 8)


def test_curation_partition_count_independence(spark):
    """Window + join results identical under a different shuffle
    layout (cluster-resize safety). The r7 tier is included: the
    tokenizer's vocab top-K must tie-break deterministically across
    layouts, the passage merge's islands must not depend on window
    task boundaries, and the BPE budget's banded prefix sum must not
    depend on band placement."""
    for name in (
        "dedup_semantic",
        "sim_knn_join",
        "pipeline_shard_layout",
        "text_tokenize_bpe",
        "dedup_repeated_passages",
        "pipeline_token_budget_bpe",
    ):
        fn = registry.get(name).fn
        base = fn(spark, SF_DIR_SMALL).toPandas()
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "5")
            alt = fn(spark, SF_DIR_SMALL).toPandas()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        assert_frames_match(base, alt)


def test_domain_cap_bounds_and_best_first(spark):
    """Every source keeps at most 50 docs, and what's kept is exactly
    the per-source n_chars-descending head (pandas replay)."""
    res = registry.get("curation_domain_cap").fn(spark, SF_DIR_SMALL).toPandas()
    docs = (
        load_table(spark, SF_DIR_SMALL, "documents")
        .select("doc_id", "source", "n_chars")
        .toPandas()
    )
    counts = res.groupby("source").size()
    assert counts.max() <= 50
    for src, g in docs.groupby("source"):
        want = set(
            g.sort_values(["n_chars", "doc_id"], ascending=[False, True])
            .head(50)["doc_id"]
        )
        got = set(res[res["source"] == src]["doc_id"])
        assert got == want, f"source {src}: cap selection differs from replay"


def test_token_budget_is_quality_prefix(spark):
    """The selected set must be a PREFIX of the (quality desc, doc_id)
    ordering whose cumulative token count stays under half the corpus
    tokens — replayed sequentially in pandas."""
    res = registry.get("pipeline_token_budget").fn(spark, SF_DIR_SMALL).toPandas()
    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text", "n_chars").toPandas()
    docs["n_tokens"] = docs["text"].str.strip().str.lower().str.split().map(len)
    docs = docs[docs["n_tokens"] > 0].copy()
    docs["quality_milli"] = (1000 * docs["n_chars"]) // docs["n_tokens"]
    docs = docs.sort_values(
        ["quality_milli", "doc_id"], ascending=[False, True]
    ).reset_index(drop=True)
    budget = docs["n_tokens"].sum() // 2
    cum = docs["n_tokens"].cumsum().shift(1, fill_value=0)
    want = list(docs.loc[cum < budget, "doc_id"])
    got = list(res.sort_values(["quality_milli", "doc_id"], ascending=[False, True])["doc_id"])
    assert got == want


def test_dup_ngram_fraction_detects_repetition(spark):
    """dup_frac must be 0 for an all-distinct-bigram doc and high for
    a looped doc — checked via the registry entry's own scoring of
    fixture docs plus invariant bounds."""
    res = registry.get("text_dup_ngram_fraction").fn(spark, SF_DIR_SMALL).toPandas()
    assert (res["n_distinct"] <= res["n_bigrams"]).all()
    assert res["dup_frac"].between(0.0, 1.0).all()
    # pandas replay on 20 docs: exact bigram dup fraction
    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text").limit(20).toPandas()
    for _, row in docs.iterrows():
        toks = row["text"].strip().lower().split()
        if len(toks) < 2:
            continue
        bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        want = round(1.0 - len(set(bigrams)) / len(bigrams), 6)
        got = float(res.loc[res["doc_id"] == row["doc_id"], "dup_frac"].iloc[0])
        assert abs(got - want) < 1e-9


def test_hybrid_rrf_fuses_both_rankings(spark):
    """RRF output must (a) be 10 rows, (b) score-decrease, (c) agree
    with a full pandas replay of both rankings and the fusion."""
    import numpy as np

    res = registry.get("sim_hybrid_rrf").fn(spark, SF_DIR_SMALL).toPandas()
    assert len(res) == 10
    assert (res["rrf_score"].values[:-1] >= res["rrf_score"].values[1:] - 1e-12).all()

    docs = load_table(spark, SF_DIR_SMALL, "documents").select("doc_id", "text").toPandas()
    docs["toks"] = docs["text"].str.strip().str.lower().str.split().map(lambda t: set(t))
    q = docs.loc[docs["doc_id"] == 0, "toks"].iloc[0]
    lex = docs[docs["doc_id"] != 0].copy()
    lex["overlap"] = lex["toks"].map(lambda t: len(t & q))
    lex = lex.sort_values(["overlap", "doc_id"], ascending=[False, True]).head(100)
    lex["rank_lex"] = range(1, len(lex) + 1)

    emb = load_table(spark, SF_DIR_SMALL, "embeddings").select("vec_id", "embedding").toPandas()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    qv = mat[list(emb["vec_id"]).index(0)]
    cos = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    e = pd.DataFrame({"doc_id": emb["vec_id"], "cos": np.round(cos, 6)})
    e = e[e["doc_id"] != 0].sort_values(["cos", "doc_id"], ascending=[False, True]).head(100)
    e["rank_emb"] = range(1, len(e) + 1)

    fused = lex[["doc_id", "rank_lex"]].merge(
        e[["doc_id", "rank_emb"]], on="doc_id", how="outer"
    )
    fused["rrf"] = (1.0 / (60 + fused["rank_lex"])).fillna(0.0) + (
        1.0 / (60 + fused["rank_emb"])
    ).fillna(0.0)
    fused["rrf"] = fused["rrf"].round(6)
    want = fused.sort_values(["rrf", "doc_id"], ascending=[False, True]).head(10)
    assert list(res["doc_id"]) == list(want["doc_id"])
    assert np.allclose(res["rrf_score"], want["rrf"], atol=1e-9)


def test_capstone_cc_vs_greedy_drop_semantics(spark):
    """The two capstone drop rules must diverge exactly where the
    docstring says: component {1,5,9} with edges (5,9),(1,9) only —
    greedy keeps 5 (its sole neighbor 9 is LATER), transitive CC
    drops 5 (component minimum is 1)."""
    from sql_engine_triangle_spark.operators.graph import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(5, 9), (1, 9)], "doc_a long, doc_b long"
    )
    greedy = {
        r.doc_id
        for r in pairs.select(F.col("doc_b").alias("doc_id")).distinct().collect()
    }
    cc = {
        r.vid
        for r in connected_components_star(pairs)
        .filter(F.col("vid") != F.col("component"))
        .collect()
    }
    assert greedy == {9}
    assert cc == {5, 9}


def test_capstone_cc_keeps_only_component_minima(spark):
    """End-to-end invariant at fixture scale: every doc the CC
    capstone emits must be the minimum of its >=0.9 near-dup
    component (or a singleton)."""
    from sql_engine_triangle_spark.operators import dedup
    from sql_engine_triangle_spark.operators.graph import (
        connected_components_star,
    )

    out = registry.get("pipeline_corpus_build_cc").fn(spark, SF_DIR_SMALL)
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    docs = load_table(spark, SF_DIR_SMALL, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9, n=3)
    nonmin = {
        r.vid
        for r in connected_components_star(pairs)
        .filter(F.col("vid") != F.col("component"))
        .collect()
    }
    assert not (kept & nonmin)


def test_arrow_kernels_bit_equal_to_jvm_forms(spark):
    """The Arrow throughput forms (numpy matmul per cluster) must be
    BIT-EQUAL to the certified JVM fold forms — this is the
    determinism claim that lets them share the JVM forms' oracles
    (similarity.knn_join_arrow docstring). Any 4-dp rounding-midpoint
    flip between the two summation orders fails here."""
    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    a = similarity.knn_join(emb).toPandas()
    b = similarity.knn_join_arrow(emb).toPandas()
    assert_frames_match(a, b)
    c = similarity.semantic_dedup(emb, k=similarity.SEED_K, eps=0.45).toPandas()
    d = similarity.semantic_dedup_arrow(
        emb, k=similarity.SEED_K, eps=0.45
    ).toPandas()
    assert_frames_match(c, d)
    e = registry.get("sim_hard_negatives").fn(spark, SF_DIR_SMALL).toPandas()
    f = registry.get("sim_hard_negatives_arrow").fn(spark, SF_DIR_SMALL).toPandas()
    assert_frames_match(e, f)


def test_decontam_capstone_excludes_eval_and_contaminated(spark):
    """pipeline_corpus_build_decontam consistency pins: (1) no
    eval-bucket doc (md5 bucket >= 95) ever reaches the training
    corpus; (2) no output doc is one pipeline_decontaminate flags as
    contaminated — the capstone's in-plan stage must agree with the
    standalone entry it composes (same bucket split, same 8-gram
    rule); (3) the stage is not vacuous on the fixture (the eval
    bucket is non-empty, so the output differs from the plain greedy
    capstone's doc set)."""
    out = {
        r.doc_id
        for r in registry.get("pipeline_corpus_build_decontam")
        .fn(spark, SF_DIR_SMALL)
        .select("doc_id")
        .collect()
    }
    assert out, "empty corpus — fixture problem"
    for doc_id in out:
        import hashlib

        bk = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 100
        assert bk < 95, f"eval-bucket doc {doc_id} in training corpus"
    flagged = {
        r.train_doc
        for r in registry.get("pipeline_decontaminate")
        .fn(spark, SF_DIR_SMALL)
        .select("train_doc")
        .collect()
    }
    assert not (out & flagged), sorted(out & flagged)[:5]
    plain = {
        r.doc_id
        for r in registry.get("pipeline_corpus_build")
        .fn(spark, SF_DIR_SMALL)
        .select("doc_id")
        .collect()
    }
    assert out != plain


def test_power_iteration_matches_numpy_eigenvector(spark):
    """ml_power_iteration's integer fixpoint must agree with the
    float ground truth it approximates: cosine similarity between
    the returned milli-vector and numpy's top eigenvector of the
    SAME between-class scatter matrix (integer centroids, so both
    sides diagonalize the identical B) >= 0.95 after 8 rounds. This
    is the semantic pin; the DuckDB oracle pins cross-engine
    exactness separately. The raw Gram matrix was measured
    Marchenko-Pastur-flat here (cos 0.16 after 3 rounds) — the
    scatter matrix is the object with a spectral gap."""
    import numpy as np

    from sql_engine_triangle_spark.catalog import load_table

    res = (
        registry.get("ml_power_iteration")
        .fn(spark, SF_DIR_SMALL)
        .toPandas()
        .sort_values("dim_idx")
    )
    v = res["v_milli"].to_numpy().astype(float)
    rows = (
        load_table(spark, SF_DIR_SMALL, "embeddings")
        .select("label", "embedding")
        .collect()
    )
    X = np.floor(np.array([r.embedding for r in rows], dtype=np.float64) * 10000 + 0.5)
    y = np.array([r.label for r in rows])
    B = np.zeros((64, 64))
    for c in np.unique(y):
        Xc = X[y == c]
        m = np.trunc(Xc.sum(0) / len(Xc))  # truncating integer mean
        B += len(Xc) * np.outer(m, m)
    evals, evecs = np.linalg.eigh(B)
    top = evecs[:, int(np.argmax(evals))]
    cos = abs(float(v @ top)) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos >= 0.95, cos


def test_k_anonymity_report_invariants(spark):
    import pandas as pd

    from sql_engine_triangle_spark.queries import registry
    from tests.conftest import SF_DIR

    res = registry.get("curation_k_anonymity").fn(spark, SF_DIR).toPandas()
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    # partition of the table: per-nation rows sum to the table size
    assert res["n_rows"].sum() == len(cust)
    assert (res["at_risk_rows"] <= res["n_rows"]).all()
    assert (res["min_k"] >= 1).all()
    assert res["risk_permille"].between(0, 1000).all()
    # independent recompute of one nation's at-risk mass
    g = (
        cust.assign(band=(cust["c_acctbal"] / 1000.0).apply(__import__("math").floor))
        .groupby(["c_nationkey", "c_mktsegment", "band"])
        .size()
    )
    nat0 = g.loc[0]
    at_risk0 = int(nat0[nat0 < 5].sum())
    assert int(res.set_index("c_nationkey").loc[0, "at_risk_rows"]) == at_risk0


def test_emb_dim_stats_matches_numpy(spark):
    import math

    import numpy as np
    import pandas as pd

    from sql_engine_triangle_spark.queries import registry
    from tests.conftest import SF_DIR_SMALL

    res = (
        registry.get("emb_dim_stats")
        .fn(spark, SF_DIR_SMALL)
        .toPandas()
        .set_index("dim")
    )
    emb = pd.read_parquet(f"{SF_DIR_SMALL}/embeddings.parquet")
    mat = np.stack(emb["embedding"].to_numpy())
    codes = np.floor(mat.astype("float64") * 10000 + 0.5).astype("int64")
    n = codes.shape[0]
    s1 = codes.sum(axis=0)
    s2 = (codes * codes).sum(axis=0)
    for d in range(codes.shape[1]):
        row = res.loc[d + 1]
        assert row["n"] == n
        # Spark div / DuckDB // truncate toward zero on these domains
        assert row["mean_e4"] == int(s1[d]) // n if s1[d] >= 0 else row[
            "mean_e4"
        ] == -((-int(s1[d])) // n)
        m2 = n * int(s2[d]) - int(s1[d]) ** 2
        assert row["var_e8"] == m2 // (n * n)
        assert row["near_zero_cnt"] == int((np.abs(codes[:, d]) < 100).sum())


def test_auc_exact_matches_python_midrank(spark):
    import numpy as np
    import pandas as pd

    from sql_engine_triangle_spark.queries import registry
    from tests.conftest import SF_DIR_SMALL

    res = (
        registry.get("ml_auc_exact")
        .fn(spark, SF_DIR_SMALL)
        .toPandas()
        .set_index("week")
    )
    ev = pd.read_parquet(f"{SF_DIR_SMALL}/events.parquet")
    ev = ev[ev["event_type"].isin(["purchase", "view"])].copy()
    ev["week"] = (ev["ts"].dt.day - 1) // 7
    ev["cents"] = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype("int64")
    ev["pos"] = (ev["event_type"] == "purchase").astype(int)
    for wk, g in ev.groupby("week"):
        # independent mid-rank Mann-Whitney (scipy-free)
        ranks = pd.Series(g["cents"]).rank(method="average")
        npos = int(g["pos"].sum())
        nneg = len(g) - npos
        s_pos = float(ranks[g["pos"] == 1].sum())
        u = s_pos - npos * (npos + 1) / 2
        row = res.loc[wk]
        assert row["npos"] == npos and row["nneg"] == nneg
        assert row["u2"] == int(round(2 * u))
        assert row["auc_permille"] == int(1000 * 2 * u) // (2 * npos * nneg)
    # mid-rank path must actually be exercised: ties exist
    assert ev.groupby(["week", "cents"]).size().max() > 1


def test_calibration_ece_matches_python_reference(spark):
    """ml_calibration_ece re-derived in pure pandas from the parquet:
    value-based bins over cents/C, integer-cleared per-week ECE
    numerator — the third implementation next to the Spark entry and
    the DuckDB oracle (the ml_auc_exact discipline)."""
    import math

    import pandas as pd

    from sql_engine_triangle_spark.queries import registry
    from tests.conftest import SF_DIR_SMALL

    res = (
        registry.get("ml_calibration_ece").fn(spark, SF_DIR_SMALL).toPandas()
    )
    ev = pd.read_parquet(f"{SF_DIR_SMALL}/events.parquet")
    ev = ev[ev["event_type"].isin(["purchase", "view"])].copy()
    ev["week"] = (ev["ts"].dt.day - 1) // 7
    ev["cents"] = (ev["value"] * 100 + 0.5).apply(math.floor).astype("int64")
    ev["pos"] = (ev["event_type"] == "purchase").astype(int)
    C = int(ev["cents"].max())
    ev["bin"] = (10 * ev["cents"]) // (C + 1)
    got = res.set_index(["week", "bin"]).sort_index()
    assert len(got) == ev.groupby(["week", "bin"]).ngroups
    for (wk, g) in ev.groupby("week"):
        n_week = len(g)
        ece_num = 0
        for (b, gb) in g.groupby("bin"):
            row = got.loc[(wk, b)]
            assert row["n_bin"] == len(gb) and row["pos_bin"] == gb["pos"].sum()
            assert row["conf_sum_cents"] == gb["cents"].sum()
            ece_num += abs(C * int(gb["pos"].sum()) - int(gb["cents"].sum()))
        row = got.loc[wk].iloc[0]
        assert row["n_week"] == n_week and row["ece_num"] == ece_num
        assert row["ece_den"] == C * n_week
        assert row["ece_permille"] == (1000 * ece_num) // (C * n_week)
        assert row["ece"] == ece_num / (C * n_week)
    # the metric must be non-degenerate: some miscalibration exists
    assert (res["ece_permille"] > 0).all()


def test_t_closeness_matches_python_reference(spark):
    """curation_t_closeness re-derived in pure pandas: dense
    class x category grid, integer cumulative sums, cleared EMD
    numerator sum_i |G*C_i - total*GC_i| — third implementation."""
    import math

    import pandas as pd

    from sql_engine_triangle_spark.queries import registry
    from tests.conftest import SF_DIR_SMALL

    res = (
        registry.get("curation_t_closeness")
        .fn(spark, SF_DIR_SMALL)
        .toPandas()
        .set_index("nation")
    )
    o = pd.read_parquet(f"{SF_DIR_SMALL}/orders.parquet")
    c = pd.read_parquet(f"{SF_DIR_SMALL}/customer.parquet")
    df = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    df["bal_band"] = (df["c_acctbal"] / 1000.0).apply(math.floor).astype("int64")
    df["yr"] = df["o_orderdate"].dt.year
    df["r"] = df["o_orderpriority"].str[0].astype(int)
    cats = sorted(df["r"].unique())
    G = len(df)
    gcum = {r: int((df["r"] <= r).sum()) for r in cats}
    m = len(cats)
    agg = {}
    for (nat, seg, band, yr), g in df.groupby(
        ["c_nationkey", "c_mktsegment", "bal_band", "yr"]
    ):
        total = len(g)
        num = 0
        for r in cats:
            ci = int((g["r"] <= r).sum())
            num += abs(G * ci - total * gcum[r])
        t_pm = (1000 * num) // ((m - 1) * total * G)
        a = agg.setdefault(nat, [0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += total
        a[2] = max(a[2], t_pm)
        if t_pm > 200:
            a[3] += 1
            a[4] += total
    for nat, (ncls, nrows, mx, nfail, risk_rows) in agg.items():
        row = res.loc[nat]
        assert row["n_classes"] == ncls and row["n_rows"] == nrows, nat
        assert row["max_t_permille"] == mx, nat
        assert row["classes_fail_t200"] == nfail, nat
        assert row["at_risk_rows"] == risk_rows, nat
        assert row["risk_permille"] == (1000 * risk_rows) // nrows, nat
    assert res["classes_fail_t200"].sum() > 0  # non-vacuous


def test_ivfpq_matches_independent_numpy_pipeline(spark):
    """sim_ivfpq_adc_topk re-derived by an independent numpy
    implementation of the whole IVF-PQ pipeline (coarse integer
    k-means -> residual PQ training -> probe -> LUT -> ADC) straight
    from the parquet — a third implementation next to the Spark entry
    and the generated DuckDB oracle. Integer arithmetic with
    truncate-toward-zero division throughout."""
    import numpy as np
    import pyarrow.parquet as pq

    from sql_engine_triangle_spark.queries.curation_ops import (
        IVFPQ_COARSE_ITERS,
        IVFPQ_NPROBE,
        PQ_ITERS,
    )

    tbl = pq.read_table(f"{SF_DIR_SMALL}/embeddings.parquet").to_pydict()
    ids = np.array(tbl["vec_id"], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    q = np.floor(
        np.array([list(v) for v in tbl["embedding"]], dtype=np.float64)[order]
        * 1_000_000
        + 0.5
    ).astype(np.int64)

    def tdiv(a, b):
        return (np.sign(a) * (np.abs(a) // b)).astype(np.int64)

    # coarse k-means: seeds = 4 lowest vec_ids, lowest-cid tie-break
    cent = q[:4].copy()
    for _ in range(IVFPQ_COARSE_ITERS):
        d = ((q[:, None, :] - cent[None, :, :]) ** 2).sum(2)
        casg = d.argmin(1)  # argmin takes lowest index on ties
        # ADVICE r9: the engines simply DROP an emptied cid from the
        # next iteration's centroid set (GROUP BY semantics); this
        # vectorized reference instead asserts the case never arises
        # on the fixture, so any future divergence fails loudly here
        # rather than silently re-deriving different centroids.
        assert all((casg == c).any() for c in range(4)), "coarse cluster emptied"
        cent = np.stack(
            [tdiv(q[casg == c].sum(0), (casg == c).sum()) for c in range(4)]
        )
    res = q - cent[casg]
    # residual PQ: 4 subspaces x 16 dims, k=4, seeds = lowest vec_ids
    rsub = res.reshape(len(ids), 4, 16)
    rcent = rsub[:4].transpose(1, 0, 2).copy()  # (sub, cid, 16)
    for _ in range(PQ_ITERS):
        dd = ((rsub[:, :, None, :] - rcent[None, :, :, :]) ** 2).sum(3)
        rasg = dd.argmin(2)  # (n, sub)
        # Same empty-cluster guard as the coarse loop (the old
        # max(count, 1) kept a zero/stale centroid — semantics the
        # engines do NOT have; assert instead of silently diverging).
        assert all(
            (rasg[:, s] == c).any() for s in range(4) for c in range(4)
        ), "PQ sub-cluster emptied"
        rcent = np.stack(
            [
                np.stack(
                    [
                        tdiv(
                            rsub[rasg[:, s] == c, s].sum(0),
                            int((rasg[:, s] == c).sum()),
                        )
                        for c in range(4)
                    ]
                )
                for s in range(4)
            ]
        )
    # probe + LUT + ADC for query vec 0
    q0 = q[ids == 0][0]
    cd = ((q0[None, :] - cent) ** 2).sum(1)
    probed = np.argsort(cd, kind="stable")[:IVFPQ_NPROBE]
    scores = {}
    for pc in probed:
        qr = (q0 - cent[pc]).reshape(4, 16)
        lut = ((qr[:, None, :] - rcent) ** 2).sum(2)  # (sub, cid)
        members = np.where((casg == pc) & (ids != 0))[0]
        for m in members:
            scores[int(ids[m])] = (
                int(pc),
                int(sum(lut[s, rasg[m, s]] for s in range(4))),
            )
    expect = sorted(scores.items(), key=lambda kv: (kv[1][1], kv[0]))[:10]
    expect = [(vid, cc, dist) for vid, (cc, dist) in expect]

    rows = registry.get("sim_ivfpq_adc_topk").fn(spark, SF_DIR_SMALL).collect()
    got = [(r.vec_id, r.coarse_cid, r.adc_dist) for r in rows]
    assert got == expect
    # the probe constraint is real: every hit lives in a probed cell
    assert {cc for _, cc, _ in got} <= {int(c) for c in probed}


def test_odds_ratio_classifier_matches_python_reference(spark):
    """Independent pure-Python recomputation of the quantized mean
    odds-ratio classifier at sf0.001: even-doc training counts,
    add-one smoothed integer odds per token, exact mean, threshold.
    Also pins the measured fixture property the docstring claims:
    held-out separation is total (pred == label on every odd doc),
    and pos_only tokens appear exactly on marked docs."""
    import re as _re
    from collections import Counter

    import pandas as pd

    from sql_engine_triangle_spark.queries.curation_ops import (
        ODDS_CLS_THRESHOLD_PPM,
    )

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    toks = {
        r.doc_id: _re.split(r"\s+", str(r.text).strip().lower())
        for r in docs.itertuples()
    }
    y = {d: 1 if ts[-1] == "dup" else 0 for d, ts in toks.items()}
    cpos, cneg = Counter(), Counter()
    np_ = nn = 0
    vocab = set()
    for d, ts in toks.items():
        if d % 2 != 0:
            continue
        vocab.update(ts)
        for t in ts:
            if y[d]:
                cpos[t] += 1
                np_ += 1
            else:
                cneg[t] += 1
                nn += 1
    v = len(vocab)

    expect = {}
    for d, ts in toks.items():
        if d % 2 != 1:
            continue
        qs = [
            (1_000_000 * (cpos[t] + 1) * (nn + v))
            // ((cneg[t] + 1) * (np_ + v))
            for t in ts
        ]
        pos_only = sum(1 for t in ts if cneg[t] == 0)
        score = sum(qs) // len(qs)
        expect[d] = (
            y[d],
            len(ts),
            pos_only,
            score,
            score >= ODDS_CLS_THRESHOLD_PPM,
        )

    res = registry.get("ml_odds_ratio_classifier").fn(spark, sf).collect()
    got = {
        r.doc_id: (r.label, r.n_tokens, r.n_pos_only_tokens, r.score_ppm, r.pred)
        for r in res
    }
    assert got == expect
    assert all(bool(lab) == pred for lab, _, _, _, pred in got.values())
    assert any(lab == 1 for lab, *_ in got.values())
    for lab, _, pos_only, _, _ in got.values():
        assert (pos_only > 0) == (lab == 1)


def test_dsir_importance_matches_python_reference(spark):
    """Independent pure-Python recomputation of the DSIR importance
    selection at sf0.001 (bigram ratio table, exact integer means,
    top-quartile by (score DESC, doc_id)) — and the measured marker
    avoidance: ZERO marked docs inside the selected quartile."""
    import re as _re
    from collections import Counter

    import pandas as pd

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    toks = {
        r.doc_id: _re.split(r"\s+", str(r.text).strip().lower())
        for r in docs.itertuples()
    }
    marked = {d: 1 if ts[-1] == "dup" else 0 for d, ts in toks.items()}
    craw, ctgt = Counter(), Counter()
    nraw = ntgt = 0
    for d, ts in toks.items():
        for f in (f"{a} {b}" for a, b in zip(ts, ts[1:])):
            craw[f] += 1
            nraw += 1
            if not marked[d]:
                ctgt[f] += 1
                ntgt += 1
    v = len(craw)

    score, nb = {}, {}
    for d, ts in toks.items():
        fs = [f"{a} {b}" for a, b in zip(ts, ts[1:])]
        if not fs:
            continue
        qs = [
            (1_000_000 * (ctgt[f] + 1) * (nraw + v))
            // ((craw[f] + 1) * (ntgt + v))
            for f in fs
        ]
        score[d] = sum(qs) // len(qs)
        nb[d] = len(fs)
    order = sorted(score, key=lambda d: (-score[d], d))
    b = len(order) // 4
    cum = {d: i for i, d in enumerate(order)}

    res = registry.get("curation_dsir_importance").fn(spark, sf).collect()
    got = {
        r.doc_id: (r.marked, r.n_bigrams, r.score_ppm, r.cum_before, r.selected)
        for r in res
    }
    expect = {
        d: (marked[d], nb[d], score[d], cum[d], cum[d] < b) for d in score
    }
    assert got == expect
    sel = [d for d, r in got.items() if r[4]]
    assert len(sel) == b
    assert sum(marked[d] for d in sel) == 0, "selection must avoid marked docs"
    assert sum(marked.values()) > 0


def test_ivfpq_trainer_error_leaves_no_pool_thread(spark, monkeypatch):
    """A trainer that raises still shuts down the pool running its
    ``overlap`` callback: no worker thread outlives the call."""
    import threading

    import pytest

    from sql_engine_triangle_spark.queries import curation_ops

    def fail(*args, **kwargs):
        raise RuntimeError("trainer failed")

    monkeypatch.setattr(curation_ops, "_pq_train", fail)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="trainer failed"):
        curation_ops._ivfpq_train(spark, SF_DIR_SMALL, overlap=lambda pts: pts.count())
    left = [
        t for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ]
    assert left == []
