"""Cross-checks for the sketch-based (oracle-less) training-data ops:
LSH recall against exact baselines, rolling hash against a Python
reference, ANN recall against brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_engine_triangle_spark.catalog import load_table, table_path
from sql_engine_triangle_spark.queries import registry
from tests.conftest import SF_DIR


def _pairs(df, cols=("doc_a", "doc_b")):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_minhash_lsh_recall_vs_exact(spark):
    """Every high-similarity pair (J >= 0.8) found by the exact
    shingle join must be found by MinHash-LSH (16 bands × 4 rows ⇒
    miss prob ≈ (1-0.8^4)^16 ≈ 2e-4 per pair; deterministic hashes ⇒
    stable result)."""
    exact = registry.get("dedup_ngram_jaccard").fn(spark, SF_DIR)
    lsh = registry.get("dedup_minhash_lsh").fn(spark, SF_DIR)
    exact_high = _pairs(exact.filter(F.col("jaccard") >= 0.8))
    lsh_pairs = _pairs(lsh)
    assert exact_high, "fixture should contain planted near-dup pairs"
    missed = exact_high - lsh_pairs
    assert not missed, f"LSH missed high-sim pairs: {missed}"
    # And LSH must not invent pairs below threshold (it verifies
    # exactly, so every reported pair is a true >= 0.5 pair).
    exact_all = _pairs(exact)
    assert lsh_pairs <= exact_all


def test_simhash_pairs_subset_sanity(spark):
    """Raw SimHash operator: deterministic, symmetric-free (a<b),
    hamming within bound; the registered validation form emits the
    exact J >= 0.9 pairs with the recall flag TRUE."""
    from sql_engine_triangle_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents")
    rows = D.simhash_pairs(docs, max_hamming=8).collect()
    assert rows
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= 8
    val = registry.get("dedup_simhash_pairs").fn(spark, SF_DIR).collect()
    assert val and all(r.simhash_recall_ok for r in val)


def test_rolling_hash_matches_python_reference(spark):
    """Rabin-Karp rolling hash: Spark aggregate-expression result ==
    pure-Python reference on every fixture document."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    got = {
        r.doc_id: r.rhash
        for r in registry.get("text_rolling_hash").fn(spark, SF_DIR).collect()
    }

    def ref(text: str, base: int = 31, mod: int = 1_000_000_007) -> int:
        import re

        norm = re.sub(r"\s+", " ", text.strip().lower())
        acc = 0
        for ch in norm:
            acc = (acc * base + ord(ch)) % mod
        return acc

    for r in docs:
        assert got[r.doc_id] == ref(r.text), f"doc {r.doc_id}"


def test_clusters_lsh_equals_exact_path(spark):
    """The LSH-fed star clustering (production path, threshold 0.9)
    must produce the same components as min-label clustering over the
    exact >= 0.9 n-gram-Jaccard pairs — cross-checking BOTH the pair
    generation (LSH vs exact join) and the components algorithm
    (large/small-star vs min-label fixpoint) in one assertion."""
    from pyspark.sql import functions as F

    from sql_engine_triangle_spark.operators import dedup
    from sql_engine_triangle_spark.operators.graph import connected_components
    from sql_engine_triangle_spark.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    exact_pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, round_digits=None).filter(
        F.col("jaccard") >= 0.9
    )
    exact = {
        (r.vid, r.component) for r in connected_components(exact_pairs).collect()
    }
    lsh = {
        (r.doc_id, r.component)
        for r in registry.get("dedup_clusters_lsh").fn(spark, SF_DIR).collect()
    }
    assert exact == lsh
    assert lsh, "fixture should contain >=0.9 near-dup clusters"


def test_connected_components_synthetic(spark):
    """Chain (diameter 3, needs multiple propagation rounds), triangle,
    and an isolated edge — component = min vertex id."""
    from sql_engine_triangle_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    cc = {r.vid: r.component for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_star_equivalence(spark):
    """large-star/small-star variant must agree with the min-label
    fixpoint on mixed shapes, and must solve an adversarial-diameter
    chain (path of 120 vertices — min-label would need 120 rounds;
    the star algorithm converges in O(log n))."""
    from sql_engine_triangle_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    a = {r.vid: r.component for r in connected_components(pairs).collect()}
    b = {r.vid: r.component for r in connected_components_star(pairs).collect()}
    assert a == b

    # path graph 1000-1119 (+ an interleaved shuffle of edge order),
    # all one component with min 1000
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1000, 1119)], "doc_a long, doc_b long"
    )
    star = {r.vid: r.component for r in connected_components_star(chain, max_iter=12).collect()}
    assert star == {v: 1000 for v in range(1000, 1120)}


def test_connected_components_star_empty(spark):
    from pyspark.sql import functions as F
    from sql_engine_triangle_spark.operators.graph import connected_components_star

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components_star(empty).count() == 0


def test_embedding_lsh_subset_and_recall(spark):
    """Banded sign-LSH embedding pairs: raw operator output must be a
    subset of the exact quadratic baseline (verification is exact +
    identically rounded), recall on the fixture's pairs must be high
    (per-pair survival ≈0.96 at cos=0.45, →1 for truer near-dups),
    and the registered validation form must certify both flags TRUE
    over the exact pair rows. Deterministic hyperplanes ⇒ stable."""
    from sql_engine_triangle_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    exact_pairs = _pairs(
        similarity.cosine_pairs(emb, threshold=0.45), cols=("vec_a", "vec_b")
    )
    lsh_pairs = _pairs(
        similarity.embedding_lsh_pairs(emb, threshold=0.45),
        cols=("vec_a", "vec_b"),
    )
    assert exact_pairs, "fixture should contain near-dup embedding pairs"
    assert lsh_pairs <= exact_pairs
    assert len(lsh_pairs) >= 0.8 * len(exact_pairs), (
        f"LSH recall too low: {len(lsh_pairs)}/{len(exact_pairs)}"
    )
    val = registry.get("dedup_embedding_lsh").fn(spark, SF_DIR).collect()
    assert {(r.vec_a, r.vec_b) for r in val} == exact_pairs
    assert all(r.lsh_subset_ok and r.lsh_recall_ok for r in val)


def test_minhash_lsh_mid_regime_flags(spark):
    """The 0.5-operating-point validation entry: rows equal the exact
    J >= 0.5 pair set and both certification flags hold. Note the
    baseline here is the UNCAPPED dedup_ngram_jaccard — equality also
    re-certifies that the entry's ubiquitous-shingle cut is inactive
    on the fixture (see test_shingle_df_cap_inactive_on_fixture)."""
    exact = _pairs(registry.get("dedup_ngram_jaccard").fn(spark, SF_DIR))
    val = registry.get("dedup_minhash_lsh_mid").fn(spark, SF_DIR).collect()
    assert {(r.doc_a, r.doc_b) for r in val} == exact
    assert all(r.lsh_subset_ok and r.lsh_recall_ok for r in val)


def test_shingle_df_cap_inactive_on_fixture():
    """Cap-inactivity certification (VERDICT r8 #2): the ubiquitous-
    shingle cut in dedup_minhash_lsh_mid (SHINGLE_DF_CAP) must not
    fire on the driver fixture at ANY of the three SFs, so every
    oracle row of the capped entry is byte-identical to the historic
    uncapped form. Measured via DuckDB straight off the parquet (no
    Spark session needed); fixture maxima are 9 / 7 / 25 — the cap of
    64 keeps a 2.5× margin at sf0.1."""
    import duckdb

    from sql_engine_triangle_spark.queries.llm_ops import SHINGLE_DF_CAP

    q = r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM read_parquet('{p}')
    ),
    shing AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                                          i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM tok
    ),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM shing)
    SELECT max(cnt) FROM (SELECT count(*) AS cnt FROM ex GROUP BY s)
    """
    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        (max_df,) = con.execute(q.format(p=path)).fetchone()
        assert max_df <= SHINGLE_DF_CAP, (
            f"{sf}: max shingle df {max_df} exceeds SHINGLE_DF_CAP "
            f"{SHINGLE_DF_CAP} — the cut would fire on the driver fixture "
            "and change dedup_minhash_lsh_mid's rows; recalibrate the cap "
            "and re-run the three-SF driver_check before shipping"
        )


def test_ivf_recall_vs_brute_force(spark):
    """IVF ANN top-10 must overlap the exact top-10 by >= 70% on the
    fixture (deterministic k-means, nprobe=3); the registered
    validation form emits the exact top-10 with both flags TRUE."""
    from sql_engine_triangle_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    qvec = similarity.query_vector(emb, 0)
    exact = {
        r.vec_id
        for r in similarity.brute_force_topk(emb, qvec, k=10, exclude_id=0).collect()
    }
    ivf = {
        r.vec_id
        for r in similarity.ivf_topk(
            emb, qvec, k=10, exclude_id=0, cache_path=table_path(SF_DIR, "embeddings")
        ).collect()
    }
    assert len(exact) == 10
    assert len(exact & ivf) >= 7, f"IVF recall too low: {sorted(exact & ivf)}"
    val = registry.get("sim_ivf_topk").fn(spark, SF_DIR).collect()
    assert {r.vec_id for r in val} == exact
    assert all(r.ivf_recall_ok and r.ivf_returned_k_ok for r in val)


@pytest.mark.parametrize("seed, recall_ok", [(1559667568, False), (2, True)])
def test_ivf_flags_match_direct_computation(spark, tmp_path, seed, recall_ok):
    """sim_ivf_topk's flags equal a direct computation from
    brute_force_topk and ivf_topk, on a 500-vector corpus whose IVF
    top-10 holds only 6 of the exact 10 (recall FALSE) and on one
    where recall holds."""
    from sql_engine_triangle_spark.fixtures import generate as G
    from sql_engine_triangle_spark.operators import similarity

    sf_dir = str(tmp_path)
    G.embeddings(spark, 500, seed=seed).write.parquet(table_path(sf_dir, "embeddings"))
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = similarity.query_vector(emb, 0)
    exact = [
        r.vec_id
        for r in similarity.brute_force_topk(emb, qvec, k=10, exclude_id=0).collect()
    ]
    ivf = [
        r.vec_id
        for r in similarity.ivf_topk(
            emb, qvec, k=10, exclude_id=0, cache_path=table_path(sf_dir, "embeddings")
        ).collect()
    ]
    assert (len(set(exact) & set(ivf)) >= 7) is recall_ok
    val = registry.get("sim_ivf_topk").fn(spark, sf_dir).collect()
    assert [r.vec_id for r in val] == exact
    assert all(r.ivf_recall_ok is recall_ok for r in val)
    assert all(r.ivf_returned_k_ok is (len(ivf) == 10) for r in val)


def test_ivf_quantizer_is_rebuilt_after_the_embeddings_are_rewritten(
    spark, tmp_path, monkeypatch
):
    """The cached quantizer is keyed on the embeddings files' version:
    after a rewrite under the same path, sim_ivf_topk answers as a
    call with a cold cache does. The first corpus's centroids would
    find 7 of the second corpus's exact top-10 (recall TRUE), its own
    find 6."""
    from sql_engine_triangle_spark.fixtures import generate as G
    from sql_engine_triangle_spark.operators import similarity

    sf_dir, entry = str(tmp_path), registry.get("sim_ivf_topk")
    path = table_path(sf_dir, "embeddings")
    G.embeddings(spark, 500, seed=3).write.parquet(path)
    entry.fn(spark, sf_dir).collect()
    G.embeddings(spark, 500, seed=1559667568).write.mode("overwrite").parquet(path)
    warm = entry.fn(spark, sf_dir).collect()
    monkeypatch.setattr(similarity, "_CENTROID_CACHE", {})
    assert warm == entry.fn(spark, sf_dir).collect()


def test_lsh_ann_structural(spark):
    """Sign-LSH ANN: deterministic, returns valid scored candidates
    from probed buckets (recall is data-regime dependent — see
    sim_ann_lsh_topk docstring — so only structure is asserted on the
    raw operator); the registered validation form emits the exact
    top-10 with all three flags TRUE."""
    from sql_engine_triangle_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    qvec = similarity.query_vector(emb, 0)
    rows = similarity.ann_topk(emb, qvec, k=10, exclude_id=0).collect()
    assert 0 < len(rows) <= 10
    assert all(r.vec_id != 0 and -1.0 <= r.cos_sim <= 1.0 for r in rows)
    rows2 = similarity.ann_topk(emb, qvec, k=10, exclude_id=0).collect()
    assert [r.vec_id for r in rows] == [r.vec_id for r in rows2]
    val = registry.get("sim_ann_lsh_topk").fn(spark, SF_DIR).collect()
    assert len(val) == 10
    assert all(
        r.ann_returned_ok and r.ann_bounded_ok and r.ann_ids_valid_ok for r in val
    )


def test_multimodal_decode_is_stubbed():
    """The decode step must fail loudly, not fake silently."""
    import pytest

    from sql_engine_triangle_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_compression_ratio_matches_direct_zlib(spark, ddb):
    """The pandas-UDF zlib kernel (no SQL oracle possible) must
    reproduce direct zlib on the same rows, bit-for-bit (unrounded
    int/int division)."""
    import zlib

    got = (
        registry.get("text_compression_ratio")
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    texts = ddb.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").df()
    ref = texts["text"].map(
        lambda t: len(zlib.compress(t.encode("utf-8"), 6)) / max(len(t.encode()), 1)
    )
    assert (got["zlib_ratio"].values == ref.values).all()


def test_containment_bounds_jaccard(spark):
    """Containment >= Jaccard for every pair: every Jaccard-0.5 pair
    must appear in the containment-0.5 pair set."""
    from sql_engine_triangle_spark.operators import dedup as D
    from sql_engine_triangle_spark.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    jac = {(r.doc_a, r.doc_b) for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    cont = {
        (r.doc_a, r.doc_b) for r in D.containment_pairs(docs, threshold=0.5).collect()
    }
    assert jac <= cont


def test_keep_best_quality_semantics(spark):
    """keep_id must be a member of its own component and carry the
    component's maximum quality score (ties broken by min doc_id)."""
    from sql_engine_triangle_spark.operators import textops

    rows = registry.get("dedup_keep_best_quality").fn(spark, SF_DIR).collect()
    assert rows, "fixture should contain near-dup clusters"
    docs = load_table(spark, SF_DIR, "documents")
    q = {
        r.doc_id: r.q
        for r in docs.select(
            "doc_id", textops.quality_score(F.col("text")).alias("q")
        ).collect()
    }
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        keep = {r.keep_id for r in members}
        assert len(keep) == 1, f"component {comp} has multiple keep_ids"
        keep_id = keep.pop()
        assert keep_id in {r.doc_id for r in members}
        best = max(members, key=lambda r: (q[r.doc_id], -r.doc_id))
        assert keep_id == best.doc_id


def test_decontaminate_shared_grams_are_real(spark):
    """Every reported (train, test) contamination pair must share at
    least one literal word-8-gram; n_shared must equal the exact
    distinct-8-gram intersection size."""
    from sql_engine_triangle_spark.operators import dedup as D

    rows = registry.get("pipeline_decontaminate").fn(spark, SF_DIR).collect()
    assert rows, "fixture's planted near-dups should contaminate the 5% heldout"
    ex = {
        (r.doc_id, r.s)
        for r in D.shingle_rows(
            load_table(spark, SF_DIR, "documents"), "doc_id", "text", 8
        ).collect()
    }
    grams = {}
    for doc_id, s in ex:
        grams.setdefault(doc_id, set()).add(s)
    for r in rows:
        got = len(grams[r.train_doc] & grams[r.test_doc])
        assert got == r.n_shared and got >= 1


def test_repeated_passages_island_merge_semantics(spark):
    """Pin dedup_repeated_passages' merge rule on crafted corpora:
    overlapping repeated grams fuse into one maximal passage,
    EXACTLY-abutting spans fuse too (next start == prev end + 1),
    a >1-token gap splits islands, and repeat-free docs are absent."""
    from sql_engine_triangle_spark.operators import dedup as D

    # doc 0 and doc 1 share the 10-token run p1..p10 (3 overlapping
    # 8-grams -> ONE island of 10); doc 0 and doc 2 share x1..x8
    # (1 gram, a second island in doc 0, split by a 2-token gap);
    # doc 3 has no repeated grams.
    docs = spark.createDataFrame(
        [
            (0, "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 f0a f0b x1 x2 x3 x4 x5 x6 x7 x8"),
            (1, "s1 s2 p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 e1 e2"),
            (2, "x1 x2 x3 x4 x5 x6 x7 x8 only unique words here zz"),
            (3, "totally distinct tokens qq ww ee rr tt yy uu ii oo pp"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_passages, r.covered_tokens, r.max_passage_len)
        for r in D.repeated_passage_stats(docs, n=8).collect()
    }
    assert got == {0: (2, 18, 10), 1: (1, 10, 10), 2: (1, 8, 8)}

    # Exact abutment: doc 10 carries g1..g8 at [1,8] and h1..h8 at
    # [9,16] — the intervening grams (g2..h1 etc.) are unique, but
    # pos 9 <= 8 + 1 fuses both into ONE 16-token passage.
    abut = spark.createDataFrame(
        [
            (10, "g1 g2 g3 g4 g5 g6 g7 g8 h1 h2 h3 h4 h5 h6 h7 h8"),
            (11, "g1 g2 g3 g4 g5 g6 g7 g8 u1 u2"),
            (12, "v1 v2 h1 h2 h3 h4 h5 h6 h7 h8"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_passages, r.covered_tokens, r.max_passage_len)
        for r in D.repeated_passage_stats(abut, n=8).collect()
    }
    assert got == {10: (1, 16, 16), 11: (1, 8, 8), 12: (1, 8, 8)}


def test_bm25_topk_python_reference(spark):
    """text_bm25_topk's scores re-derived with exact Python rationals
    from the entry's own (tf, dl, df) fields plus independently
    aggregated corpus scalars: num/den reproduces both the emitted
    IEEE double (same integer-derived division) and the milli code
    (// = div on positives), and per-term ranks are consistent with
    (score desc, doc_id asc)."""
    from fractions import Fraction

    docs = load_table(spark, SF_DIR, "documents")
    from sql_engine_triangle_spark.operators import textops

    base = docs.select(
        F.size(textops.tokens(F.col("text"))).alias("n")
    ).filter(F.col("n") >= 2)
    agg = base.agg(
        F.count("*").alias("n_docs"), F.sum(F.col("n") - 1).alias("l_tot")
    ).head()
    n_docs, l_tot = int(agg.n_docs), int(agg.l_tot)

    rows = registry.get("text_bm25_topk").fn(spark, SF_DIR).collect()
    assert rows and len({r.term for r in rows}) == 8
    by_term: dict = {}
    for r in rows:
        num = (2 * n_docs - 2 * r.df + 1) * 44 * l_tot * r.tf
        den = (2 * r.df + 1) * (20 * l_tot * r.tf + 6 * l_tot + 18 * r.dl * n_docs)
        assert r.score == num / den  # same IEEE division, bit-equal
        assert r.score_milli == (num * 1000) // den
        assert Fraction(num, den) > 0
        by_term.setdefault(r.term, []).append(r)
    for term, rs in by_term.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        for a, b in zip(rs, rs[1:]):
            assert (a.score, -a.doc_id) >= (b.score, -b.doc_id), term


def test_bm25_eval_matches_python_reference(spark):
    """eval_bm25_mrr_recall re-derived end-to-end in pure Python from
    the parquet (tokens -> bigram tf/df -> ubiquitous-term cut ->
    integer milli-BM25 sum ranking -> capped-shingle Jaccard
    relevance -> first-relevant MRR/recall) — the third
    implementation next to the Spark entry and the DuckDB oracle."""
    import pandas as pd

    from sql_engine_triangle_spark.queries.llm_ops import SHINGLE_DF_CAP
    from tests.conftest import SF_DIR_SMALL

    res = (
        registry.get("eval_bm25_mrr_recall")
        .fn(spark, SF_DIR_SMALL)
        .toPandas()
        .set_index("qid")
        .sort_index()
    )
    docs = pd.read_parquet(f"{SF_DIR_SMALL}/documents.parquet")
    toks = {
        int(r.doc_id): r.text.strip().lower().split()
        for r in docs.itertuples()
    }
    base = {d: t for d, t in toks.items() if len(t) >= 2}
    dl = {d: len(t) - 1 for d, t in base.items()}
    tf: dict = {}
    for d, t in base.items():
        for a, b in zip(t, t[1:]):
            tf.setdefault(d, {}).setdefault(f"{a} {b}", 0)
            tf[d][f"{a} {b}"] += 1
    df_map: dict = {}
    for d, terms in tf.items():
        for term in terms:
            df_map[term] = df_map.get(term, 0) + 1
    n_docs, l_tot = len(base), sum(dl.values())
    cut = max(256, n_docs // 10)
    panel = sorted(d for d, t in base.items() if t[-1] == "dup")[:64]
    # shingle universe with the absolute df-cap (shingle_rows form:
    # greatest(len-2, 1) window, so <3-token docs emit a short tail)
    sh = {
        d: set(
            " ".join(t[i : i + 3])
            for i in range(max(len(t) - 2, 1))
        )
        for d, t in toks.items()
    }
    sdf: dict = {}
    for s_set in sh.values():
        for s in s_set:
            sdf[s] = sdf.get(s, 0) + 1
    hub = {s for s, c in sdf.items() if c > SHINGLE_DF_CAP}
    shc = {d: s_set - hub for d, s_set in sh.items()}
    mrr_num = hits = 0
    for qid in panel:
        qterms = {t for t in tf[qid] if df_map[t] <= cut}
        scores: dict = {}
        for term in qterms:
            dfv = df_map[term]
            for d, terms in tf.items():
                if d == qid or term not in terms:
                    continue
                tfv = terms[term]
                num = (2 * n_docs - 2 * dfv + 1) * 44 * l_tot * tfv * 1000
                den = (2 * dfv + 1) * (
                    20 * l_tot * tfv + 6 * l_tot + 18 * dl[d] * n_docs
                )
                scores[d] = scores.get(d, 0) + num // den
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        rank_of = {d: i + 1 for i, (d, _) in enumerate(ranked)}
        rel = {
            d
            for d in shc
            if d != qid
            and len(shc[qid] & shc[d]) > 0
            and 3 * len(shc[qid] & shc[d]) >= len(shc[qid]) + len(shc[d])
        }
        first = min((rank_of[d] for d in rel if d in rank_of), default=0)
        row = res.loc[qid]
        assert row["n_relevant"] == len(rel), qid
        assert row["first_rank"] == first, qid
        if 0 < first <= 10:
            assert row["rr2520"] == 2520 // first and row["hit10"] == 1
            mrr_num += 2520 // first
            hits += 1
        else:
            assert row["rr2520"] == 0 and row["hit10"] == 0
    nq = len(panel)
    row = res.iloc[0]
    assert row["n_queries"] == nq and row["hits10"] == hits
    assert row["mrr_num"] == mrr_num and row["mrr_den"] == 2520 * nq
    assert row["recall10_permille"] == (1000 * hits) // nq
    assert row["mrr"] == mrr_num / (2520 * nq)
    assert 0 < hits <= nq  # non-degenerate both ways on this fixture


def test_mmr_diversified_python_reference(spark):
    """sim_mmr_diversified re-derived with an independent numpy
    greedy over the raw parquet: int8 codes, integer dots, the same
    lambda=0.7 integer clearing (7*rel - 3*ms) and vec_id tie-break —
    selections and scores must match the Spark entry exactly, and
    each pick must dominate every unpicked pool member at its round."""
    import numpy as np
    import pyarrow.parquet as pq

    from sql_engine_triangle_spark.queries.llm_ops import MMR_K, MMR_POOL

    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pydict()
    ids = np.array(tbl["vec_id"], dtype=np.int64)
    emb = np.array([list(v) for v in tbl["embedding"]], dtype=np.float64)
    codes = np.floor(emb * 127 + 0.5).astype(np.int64)
    q = codes[ids == 0][0]
    mask = ids != 0
    rel = codes[mask] @ q
    pids = ids[mask]
    # top-POOL by (rel desc, vec_id asc)
    order = np.lexsort((pids, -rel))[:MMR_POOL]
    pool_ids, pool_codes, pool_rel = pids[order], codes[mask][order], rel[order]

    picks, ms = [], None
    active = np.ones(len(pool_ids), dtype=bool)
    for t in range(1, MMR_K + 1):
        score = 7 * pool_rel if t == 1 else 7 * pool_rel - 3 * ms
        # sentinel stays negatable: -int64.min would overflow lexsort's key
        masked = np.where(active, score, np.iinfo(np.int64).min // 4)
        best = np.lexsort((pool_ids, -masked))[0]
        picks.append((t, int(pool_ids[best]), int(pool_rel[best]), int(score[best])))
        active[best] = False
        d = pool_codes @ pool_codes[best]
        ms = d if ms is None else np.maximum(ms, d)

    rows = registry.get("sim_mmr_diversified").fn(spark, SF_DIR).collect()
    got = [(r.sel_rank, r.vec_id, r.rel_qdot, r.mmr_score) for r in rows]
    assert got == picks
    # selected ids are distinct and drawn from the pool
    sel_ids = [p[1] for p in picks]
    assert len(set(sel_ids)) == MMR_K
    assert set(sel_ids) <= set(int(i) for i in pool_ids)


def test_lm_stupid_backoff_matches_python_reference(spark):
    """Independent pure-Python recomputation of the stupid-backoff LM
    filter at sf0.001: train bigram/context/unigram counts on even
    doc_ids, score every doc with exact integer floor divisions
    (1e6*cb//cf; 2e6*cu//(5*N); 4e6//(25*V)), and compare every
    output column — so the Spark form and the DuckDB oracle can't
    share a structural bug."""
    import re as _re
    from collections import Counter

    import pandas as pd

    from sql_engine_triangle_spark.queries.llm_ops import LM_KEEP_PPM

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    toks = {
        r.doc_id: _re.split(r"\s+", str(r.text).strip().lower())
        for r in docs.itertuples()
    }
    b2, cf, uni = Counter(), Counter(), Counter()
    n_tok = 0
    for did, ts in toks.items():
        if did % 2 != 0:
            continue
        n_tok += len(ts)
        uni.update(ts)
        for w1, w2 in zip(ts, ts[1:]):
            b2[(w1, w2)] += 1
            cf[w1] += 1
    v_tok = len(uni)

    expect = {}
    for did, ts in toks.items():
        if len(ts) < 2:
            continue
        qs, nb, no = [], 0, 0
        for w1, w2 in zip(ts, ts[1:]):
            if (w1, w2) in b2:
                qs.append(1_000_000 * b2[(w1, w2)] // cf[w1])
            elif w2 in uni:
                qs.append(2 * 1_000_000 * uni[w2] // (5 * n_tok))
                nb += 1
            else:
                qs.append(4 * 1_000_000 // (25 * v_tok))
                no += 1
        score = sum(qs) // len(qs)
        expect[did] = (len(qs), nb, no, score, score >= LM_KEEP_PPM)

    res = registry.get("text_lm_stupid_backoff").fn(spark, sf).collect()
    got = {
        r.doc_id: (r.n_bigrams, r.n_backoff_uni, r.n_oov, r.score_ppm, r.kept)
        for r in res
    }
    assert got == expect
    # the filter is non-vacuous and both backoff branches are reachable
    assert any(v[4] for v in got.values()) and not all(v[4] for v in got.values())
    assert sum(v[1] for v in got.values()) > 0


def test_crossmodal_consistency_ties_to_per_modality_entries(spark):
    """Cross-entry consistency: the eval's per-doc partner counts must
    be exactly the symmetrized pair counts of the standalone
    dedup_image_phash / dedup_audio_fingerprint entries (same banded
    pairing) — each undirected pair contributes 2 to the summed
    partner counts — and the image↔audio permille must hit both
    agreement (1000) and divergence (<1000) rows on the fixture."""
    sf = "/root/testdata/sf0.001"
    res = registry.get("eval_crossmodal_consistency").fn(spark, sf).toPandas()
    n_img_pairs = registry.get("dedup_image_phash").fn(spark, sf).count()
    n_aud_pairs = registry.get("dedup_audio_fingerprint").fn(spark, sf).count()
    assert int(res["n_image_partners"].sum()) == 2 * n_img_pairs
    assert int(res["n_audio_partners"].sum()) == 2 * n_aud_pairs
    # intersections are bounded by each side
    assert (res["n_text_image"] <= res[["n_text_partners", "n_image_partners"]].min(axis=1)).all()
    assert (res["n_image_audio"] <= res[["n_image_partners", "n_audio_partners"]].min(axis=1)).all()
    # non-vacuous both ways: full agreement rows AND a divergence tail
    assert (res["img_audio_permille"] == 1000).any()
    assert (res["img_audio_permille"] < 1000).any()
    assert (res["n_text_partners"] > 0).any()


def test_dedup_precision_recall_matches_python_reference(spark):
    """Independent pure-Python recomputation of the dedup P/R eval at
    sf0.001: df-capped distinct 3-gram shingles -> exact pairwise
    Jaccard >= 0.9 -> greedy doc_b drops vs the trailing-'dup' marker,
    per-source confusion and permille metrics — so the Spark form and
    the DuckDB oracle cannot share a structural bug."""
    import re as _re
    from collections import Counter, defaultdict
    from itertools import combinations

    import pandas as pd

    from sql_engine_triangle_spark.queries.llm_ops import SHINGLE_DF_CAP

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    sh = {}
    marked = {}
    src = {}
    for r in docs.itertuples():
        ts = _re.split(r"\s+", str(r.text).strip().lower())
        marked[r.doc_id] = 1 if ts[-1] == "dup" else 0
        src[r.doc_id] = r.source
        n = max(len(ts) - 2, 1)
        sh[r.doc_id] = {" ".join(ts[i : i + 3]) for i in range(n)}

    df_ct = Counter(s for ss in sh.values() for s in ss)
    hubs = {s for s, c in df_ct.items() if c > SHINGLE_DF_CAP}
    capped = {d: {s for s in ss if s not in hubs} for d, ss in sh.items()}
    post = defaultdict(list)
    for d, ss in capped.items():
        for s in ss:
            post[s].append(d)
    inter = Counter()
    for s, ds in post.items():
        for a, b in combinations(sorted(ds), 2):
            inter[(a, b)] += 1
    dropped, paired = set(), set()
    for (a, b), i in inter.items():
        if i / (len(capped[a]) + len(capped[b]) - i) >= 0.9:
            dropped.add(b)
            paired.update((a, b))

    conf = defaultdict(lambda: [0, 0, 0, 0, 0])  # n, marked, dropped, tp, mp
    for d in marked:
        c = conf[src[d]]
        c[0] += 1
        c[1] += marked[d]
        c[2] += 1 if d in dropped else 0
        c[3] += 1 if (marked[d] and d in dropped) else 0
        c[4] += 1 if (marked[d] and d in paired) else 0

    res = registry.get("eval_dedup_precision_recall").fn(spark, sf).collect()
    assert len(res) == len(conf)
    for r in res:
        n, m, dr, tp, mp = conf[r.source]
        assert (r.n_docs, r.n_marked, r.n_dropped, r.tp) == (n, m, dr, tp), r.source
        assert r.precision_permille == (1000 * tp // dr if dr else 0)
        assert r.recall_permille == (1000 * tp // m if m else 0)
        assert r.f1_permille == (2000 * tp // (dr + m) if dr + m else 0)
        assert r.paired_recall_permille == (1000 * mp // m if m else 0)
    # the audit's headline finding is non-vacuous on the fixture:
    # pair coverage beats drop-direction recall somewhere
    tot = [sum(c[i] for c in conf.values()) for i in range(5)]
    assert tot[4] > tot[3]


def test_temperature_mixture_matches_python_reference(spark):
    """Independent pure-Python recomputation of the UniMax-style
    temperature allocation at sf0.001: math.isqrt weights, Hamilton
    largest-remainder seats with the (rem DESC, lang ASC) tie-break,
    then the alloc lowest doc_ids per lang. sf0.001 is the round
    where three langs tie at the same remainder for the last seat —
    the tie-break is load-bearing, not decorative."""
    import math
    from collections import Counter

    import pandas as pd

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    n_by_lang = Counter(docs["lang"])
    total = sum(n_by_lang.values())
    b = total // 2
    wt = {l: math.isqrt(n) for l, n in n_by_lang.items()}
    wsum = sum(wt.values())
    quota = {l: (b * w) // wsum for l, w in wt.items()}
    rem = {l: (b * w) % wsum for l, w in wt.items()}
    leftover = b - sum(quota.values())
    assert leftover > 0, "largest-remainder branch must be exercised"
    order = sorted(n_by_lang, key=lambda l: (-rem[l], l))
    alloc = {
        l: quota[l] + (1 if i < leftover else 0) for i, l in enumerate(order)
    }
    # the fixture's three-way remainder tie makes lang order decisive
    assert len({rem[l] for l in n_by_lang}) < len(n_by_lang)
    expect = set()
    for lang, grp in docs.groupby("lang"):
        ids = sorted(grp["doc_id"])[: alloc[lang]]
        expect.update((int(i), lang) for i in ids)

    res = registry.get("sample_temperature_mixture").fn(spark, sf).collect()
    got = {(r.doc_id, r.lang) for r in res}
    assert got == expect
    for r in res:
        assert r.lang_n_docs == n_by_lang[r.lang]
        assert r.lang_weight == wt[r.lang]
        assert r.lang_alloc == alloc[r.lang]
        assert r.lang_rate_permille == 1000 * alloc[r.lang] // n_by_lang[r.lang]
    # the temperature is visible: the dominant lang samples at a
    # strictly lower rate than every low-resource lang
    rates = {r.lang: r.lang_rate_permille for r in res}
    dom = max(n_by_lang, key=lambda l: (n_by_lang[l], l))
    assert all(rates[dom] < v for l, v in rates.items() if l != dom)


def test_rank_agreement_matches_python_reference(spark):
    """Independent pure-Python midrank Spearman at sf0.001 (doubled
    ranks, exact cleared rational) — and the signals must genuinely
    disagree in order (rho strongly negative) with real tie mass on
    both sides."""
    import re as _re

    import pandas as pd

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    sig = []
    for r in docs.itertuples():
        ts = _re.split(r"\s+", str(r.text).strip().lower())
        if not ts:
            continue
        sig.append((len(ts), 1000 * len(set(ts)) // len(ts)))

    def doubled_ranks(vals):
        from collections import Counter

        cnt = Counter(vals)
        lt, seen = {}, 0
        for v in sorted(cnt):
            lt[v] = seen
            seen += cnt[v]
        return {v: 2 * lt[v] + cnt[v] + 1 for v in cnt}

    ra = doubled_ranks([a for a, _ in sig])
    rb = doubled_ranks([b for _, b in sig])
    n = len(sig)
    sum_d2 = sum((ra[a] - rb[b]) ** 2 for a, b in sig)
    rho_num = 2 * n * (n * n - 1) - 3 * sum_d2
    rho_den = 2 * n * (n * n - 1)

    row = registry.get("eval_rank_agreement").fn(spark, sf).collect()[0]
    assert (row.n, row.sum_d2) == (n, sum_d2)
    assert (row.rho_num, row.rho_den) == (rho_num, rho_den)
    assert row.rho == rho_num / rho_den
    assert (row.n_distinct_a, row.n_distinct_b) == (len(ra), len(rb))
    # real ties on both signals, and strong anti-correlation
    assert len(ra) < n and len(rb) < n
    assert row.rho < -0.9
