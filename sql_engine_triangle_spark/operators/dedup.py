"""Deduplication operators over a document DataFrame.

Dedup families (training-data pipeline surface):
- exact: md5-of-text hash groups (engine-independent, oracle-checked)
- fingerprint: md5 of normalized text (near-exact: whitespace/case)
- n-gram Jaccard: exact pairwise similarity via shingle self-join
- MinHash + LSH: banded signature buckets → candidate pairs → exact
  Jaccard verify (the 100 TB scale path for near-dup detection)
- SimHash: 64-bit bit-vote sketch + banded Hamming candidate pairs
- asymmetric batch-vs-corpus LSH + a persisted parquet index
  (write/probe/append — the production ingest lifecycle, where the
  corpus is signed once per snapshot and batches probe the index)

Everything is built-in JVM expressions (higher-order array functions
and xxhash64) — deterministic, partition-parallel, no Python in the
hot path.

Scale notes:
- The exact shingle self-join is quadratic in the worst case (shared
  shingle hubs); at 100 TB use minhash_lsh_pairs whose band-bucket
  join only pairs documents sharing a full band (16 bands × 4 rows
  below ⇒ P[pair at J=0.8 missed] ≈ (1-0.8^4)^16 ≈ 2e-4).
- Signature computation is a single narrow projection — no shuffle;
  the only shuffles are the band groupBy and the verify join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_engine_triangle_spark.operators import textops

MINHASH_PERMS = 64
LSH_BANDS = 16
LSH_ROWS = 4  # MINHASH_PERMS / LSH_BANDS


def exact_hash_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by md5(text); keep_id = min id per group.
    Reference pattern: hash-groupBy, one shuffle on the digest."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_cnt"))
    )


def fingerprint_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-exact dedup on the normalized-text fingerprint."""
    return (
        docs.select(textops.fingerprint_md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_cnt"))
    )


def shingle_rows(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct (doc_id, shingle) rows — the scalable shingle form.

    The naive single projection lets CollapseProject inline the
    token-split into the shingle lambda (re-split per shingle,
    interpreted — 9.2 s for 5k docs). Materializing the token array
    through a repartition barrier first makes the lambda operate on
    the stored array: 0.85 s for the same input, and the shuffle it
    adds is the same doc_id exchange any downstream per-doc operator
    needs anyway."""
    toks = textops.tokens(F.col(text_col))
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(F.col("toks")) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, n)),
        )
    )
    return base.select("doc_id", F.explode(sh).alias("s"))


def shingle_pos_rows(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc_id, n_toks, pos, s) — one row per shingle OCCURRENCE with
    its 1-based token position (NOT distinct, unlike shingle_rows):
    the positional form passage-level operators need. Same
    materialize-tokens-through-a-barrier trick as shingle_rows (the
    inlined split re-evaluates per shingle otherwise)."""
    toks = textops.tokens(F.col(text_col))
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(F.col("toks")) - (n - 1), F.lit(1))),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.concat_ws(" ", F.slice(F.col("toks"), i, n)).alias("s"),
        ),
    )
    return base.select(
        "doc_id", F.size("toks").alias("n_toks"), F.explode(sh).alias("ps")
    ).select("doc_id", "n_toks", F.col("ps.pos").alias("pos"), F.col("ps.s").alias("s"))


def repeated_passage_stats(docs: DataFrame, n: int = 8) -> DataFrame:
    """Maximal repeated passages per document: positional n-gram
    occurrences repeated ANYWHERE in the corpus (count >= 2, within-
    doc repeats included — Lee et al. 2022's 'appears more than once'
    rule), merged into maximal islands of covered token positions
    (merge when the next gram starts <= previous covered end + 1, so
    overlapping AND exactly-abutting spans fuse). Returns (doc_id,
    n_passages, covered_tokens, max_passage_len); docs with no
    repeated gram are absent. Plan: map-side-combined repeated-gram
    groupBy + join-back onto the checkpointed positional shingle
    pass, then the island machinery (running max-of-end + flag sum +
    per-island agg) on ONE doc_id exchange."""
    from pyspark.sql.window import Window

    from sql_engine_triangle_spark.concurrency import scale_checkpoint

    posg = scale_checkpoint(
        shingle_pos_rows(docs, "doc_id", "text", n), eager=False
    )
    rep = posg.groupBy("s").agg(F.count("*").alias("cnt")).filter(F.col("cnt") >= 2)
    cov = posg.join(rep.select("s"), "s").select(
        "doc_id",
        "pos",
        F.least(F.col("pos") + F.lit(n - 1), F.col("n_toks")).alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = cov.withColumn(
        "new_isl",
        F.when(F.col("pos") > F.coalesce(prev_max_e, F.lit(-1)) + 1, 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "isl_id",
        F.sum("new_isl").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    passages = islands.groupBy("doc_id", "isl_id").agg(
        F.min("pos").alias("p_start"), F.max("e").alias("p_end")
    )
    plen = F.col("p_end") - F.col("p_start") + 1
    return passages.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_passages"),
        F.sum(plen).cast("long").alias("covered_tokens"),
        F.max(plen).cast("long").alias("max_passage_len"),
    )


def _minhash_min_cols(num_perms: int) -> list:
    """The num_perms min() aggregate columns over an exploded
    (doc_id, s) shingle frame — sig[p] = min over shingles of
    (a_p·xxhash64(s) + b_p) mod M (Broder universal-hash
    permutations; a_p < 2^16 keeps products < 2^47, overflow-safe
    under ANSI mode)."""
    import random

    M = 2_147_483_647  # 2^31 - 1 (prime)
    rnd = random.Random(42)
    A = [rnd.randrange(1, 65_521) for _ in range(num_perms)]
    B = [rnd.randrange(0, M) for _ in range(num_perms)]
    # SQL text, one JVM call per column: the Column-API form made ~8
    # py4j round trips per minimum. Same tree, same INT literal types.
    base = f"pmod(xxhash64(s), {M})"
    return [
        F.expr(f"min(pmod({A[p]} * {base} + {B[p]}, {M})) AS m{p}")
        for p in range(num_perms)
    ]


def _sig_col(num_perms: int):
    """``array(m0, ..., m{num_perms-1}) AS sig`` over the minima of
    ``_minhash_min_cols``, built in one JVM call."""
    return F.expr(
        "array(" + ", ".join(f"m{p}" for p in range(num_perms)) + ") AS sig"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int | None = None,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle self-join.

    inter(a,b) from an equi-join on exploded distinct shingles;
    J = inter / (|A| + |B| - inter). Quadratic worst case — the LSH
    variant below is the scale path; this is the correctness oracle.

    ``exploded`` accepts a precomputed (and typically checkpointed)
    ``shingle_rows`` frame so callers running several generators over
    the same corpus pay the tokenize+explode pass once (see
    dedup_minhash_lsh_mid)."""
    if exploded is None:
        exploded = shingle_rows(docs, id_col, text_col, n)
    sizes = exploded.groupBy("doc_id").agg(F.count("*").alias("n_sh"))

    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    j = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    if round_digits is not None:
        j = F.round(j, round_digits)
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", j)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def minhash_lsh_pairs_against(
    incoming: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Asymmetric near-dup: each ``incoming`` document against an
    existing ``corpus`` — the production ingest shape, where every new
    batch is deduplicated against the accumulated corpus rather than
    within itself. Emits (doc_new, doc_corpus, jaccard >= threshold).

    Same banded-LSH machinery as ``minhash_lsh_pairs`` but the bucket
    join is ACROSS the two frames only (no within-side pairs). At
    100 TB the corpus side's (band, bucket) keys and shingle sets are
    a precomputable per-snapshot index (append-only as batches are
    admitted), and the incoming batch's banded keys are small enough
    to broadcast — an ingest-time dedup pass then never rescans the
    corpus text, it probes the index. Here both sides are derived
    inline from their frames; the structure (separate signature and
    shingle-set aggregations per side — see minhash_lsh_pairs) is the
    index-build computation itself.
    """
    banded_new, sh_new = lsh_index_side(
        incoming, n=n, bands=bands, rows=rows, id_col=id_col, text_col=text_col
    )
    banded_corp, sh_corp = lsh_index_side(
        corpus, n=n, bands=bands, rows=rows, id_col=id_col, text_col=text_col
    )
    return cross_verify_pairs(banded_new, sh_new, banded_corp, sh_corp, threshold)


def lsh_index_side(
    docs: DataFrame,
    n: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """One side of the asymmetric LSH join — exactly the frames a
    persisted index stores: ``(doc_id, band, bucket)`` banded keys and
    ``(doc_id, sh)`` shingle sets (for exact-Jaccard verification)."""
    num_perms = bands * rows
    ex = shingle_rows(docs, id_col, text_col, n)
    sig_agg = ex.groupBy("doc_id").agg(*_minhash_min_cols(num_perms))
    sigs = sig_agg.select("doc_id", _sig_col(num_perms))
    banded = sigs.select(
        "doc_id", F.posexplode(_band_keys_expr(bands, rows)).alias("band", "bucket")
    )
    sh = ex.groupBy("doc_id").agg(F.collect_set("s").alias("sh"))
    return banded, sh


def cross_verify_pairs(
    banded_new: DataFrame,
    sh_new: DataFrame,
    banded_corp: DataFrame,
    sh_corp: DataFrame,
    threshold: float,
) -> DataFrame:
    """Cross-side candidate join + exact-Jaccard verify (shared by the
    inline and index-backed asymmetric paths)."""
    cands = (
        banded_new.select("band", "bucket", F.col("doc_id").alias("doc_new"))
        .join(
            banded_corp.select("band", "bucket", F.col("doc_id").alias("doc_corpus")),
            ["band", "bucket"],
        )
        .select("doc_new", "doc_corpus")
        .dropDuplicates(["doc_new", "doc_corpus"])
    )
    sh_a = sh_new.select(F.col("doc_id").alias("doc_new"), F.col("sh").alias("sh_a"))
    sh_b = sh_corp.select(
        F.col("doc_id").alias("doc_corpus"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cands.join(sh_a, "doc_new")
        .join(sh_b, "doc_corpus")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_new", "doc_corpus", "jaccard")
        .orderBy("doc_new", "doc_corpus")
    )


def write_minhash_index(
    docs: DataFrame,
    path: str,
    mode: str = "overwrite",
    n: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the corpus side of the asymmetric LSH join as a
    persisted parquet index: ``<path>/bands`` (doc_id, band, bucket)
    and ``<path>/shingles`` (doc_id, sh). This is the production
    ingest lifecycle the inline operator's docstring promises: the
    corpus is signed ONCE per snapshot; subsequent batches probe the
    index and never rescan or re-shingle corpus text. ``mode=
    "append"`` admits a new batch's rows into the index (append-only,
    like every LSH-based dedup service index).

    At 100 TB the bands table is tiny (docs × bands narrow longs,
    bucketable on ``bucket`` for co-located probes) and the shingles
    table is the only wide artifact — still far smaller than re-
    deriving it per batch, and only candidate doc_ids' rows are ever
    read by the verify join."""
    banded, sh = lsh_index_side(
        docs, n=n, bands=bands, rows=rows, id_col=id_col, text_col=text_col
    )
    banded.write.mode(mode).parquet(f"{path}/bands")
    sh.write.mode(mode).parquet(f"{path}/shingles")


def probe_minhash_index(
    spark,
    incoming: DataFrame,
    path: str,
    threshold: float = 0.5,
    n: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Asymmetric near-dup check of ``incoming`` against a persisted
    index (see write_minhash_index) — identical output contract to
    ``minhash_lsh_pairs_against(incoming, corpus)`` with the corpus
    side read from parquet instead of recomputed (equivalence locked
    by tests/test_dedup_index.py). Only the incoming batch pays
    shingle/signature cost per probe."""
    banded_new, sh_new = lsh_index_side(
        incoming, n=n, bands=bands, rows=rows, id_col=id_col, text_col=text_col
    )
    banded_corp = spark.read.parquet(f"{path}/bands")
    sh_corp = spark.read.parquet(f"{path}/shingles")
    return cross_verify_pairs(banded_new, sh_new, banded_corp, sh_corp, threshold)


def minhash_signatures(
    docs: DataFrame,
    num_perms: int = MINHASH_PERMS,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signature per document: sig[p] = min over shingles of
    xxhash64(shingle, p).

    Implementation note (measured, not guessed): the obvious nested
    higher-order form transform(seq, p -> array_min(transform(sh,...)))
    is interpreted expression evaluation that re-inlines the whole
    shingle-construction subtree per permutation per row after
    projection collapse — ~150 s for 5k docs. Instead: explode the
    shingles once and compute the minima as plain min() aggregate
    columns — one shuffle of narrow rows, fully vectorized.

    Permutations use the classic universal-hash construction
    (Broder): one string hash per shingle, then h_p = (a_p·h + b_p)
    mod M per permutation — 64 integer ops instead of 64 string
    hashes (see _minhash_min_cols)."""
    exploded = shingle_rows(docs, id_col, text_col, n)
    per_doc = exploded.groupBy("doc_id").agg(*_minhash_min_cols(num_perms))
    return per_doc.select("doc_id", _sig_col(num_perms))


def _band_keys_expr(bands: int, rows: int):
    """array<(band, bucket-hash)> over a ``sig`` column: per band, the
    xxhash64 of that band's signature rows (band index salts the hash
    so identical row-slices in different bands never collide)."""
    return F.expr(
        f"transform(sequence(0, {bands - 1}), b -> "
        f"  xxhash64(concat_ws(',', transform(slice(sig, b * {rows} + 1, {rows}), "
        f"    v -> cast(v as string))), b))"
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    id_col: str = "doc_id",
    text_col: str = "text",
    candidate_filtered_verify: bool = False,
    exploded: DataFrame | None = None,
    checkpoint_aggs: bool = True,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-Jaccard verified.
    ``exploded`` as in ngram_jaccard_pairs (shared shingle pass).

    ``checkpoint_aggs`` lazily checkpoints the two bounded per-doc
    aggregates (signatures, shingle sets) that otherwise plan once
    per consumer — see the inline notes. Callers embedding this
    generator in a larger multi-stage plan can pass False when their
    own barriers make the extra materialization jobs net-negative
    (measured per call site in the r11 optimization round).

    Pipeline: signatures → per-band bucket key (xxhash64 of the band's
    rows) → explode bands → candidate pairs from bucket equi-join →
    verify with exact Jaccard on the shingle sets (array_intersect /
    union sizes) → threshold filter.

    Only documents sharing a band bucket are ever paired, so the join
    fan-out is bounded by bucket occupancy, not |docs|² — this is the
    100 TB path.

    The signature aggregation and the verify-side shingle-set
    aggregation are SEPARATE groupBys: a combined agg (minima +
    collect_set in one pass) feeds three consumers whose pruned
    column sets differ, so Catalyst cannot reuse the exchange and the
    wide agg runs three times (measured 2.7 s → 2.0 s on the sf0.1
    fixture after splitting; the two shingle-set consumers are
    identical subplans and DO share one exchange).

    ``candidate_filtered_verify=True`` additionally semi-joins the
    shingle-set aggregation down to documents that appear in some
    candidate pair before collecting sets. At 100 TB that is the
    right shape — collect_set over every document shuffles the whole
    shingle corpus, while candidates are a tiny fraction — but it
    serializes the verify scan behind candidate generation, which
    costs ~2× on the single-machine fixture, so it is opt-in.
    """
    num_perms = bands * rows
    if exploded is None:
        exploded = shingle_rows(docs, id_col, text_col, n)
    sig_agg = exploded.groupBy("doc_id").agg(*_minhash_min_cols(num_perms))
    # Lazy-checkpoint the per-doc signature frame (|docs| rows × 64
    # ints — bounded metadata): the band self-join's two sides are
    # DIFFERENT subtrees to Catalyst (one feeds the probe, one the
    # broadcast build), so without the barrier the whole
    # scan→tokenize→explode→64-min aggregation runs TWICE per action
    # (r11 optimization round, measured in the *_before plan: nodes
    # (1-9)/(10-18) duplicated). eager=False defers materialization
    # to the first action, so plan construction stays job-free.
    sigs = sig_agg.select("doc_id", _sig_col(num_perms))
    if checkpoint_aggs:
        sigs = sigs.localCheckpoint(eager=False)
    band_keys = _band_keys_expr(bands, rows)
    # Candidate generation on bare ids only — the shingle arrays are
    # joined back AFTER pair dedup so the band self-join and the
    # dropDuplicates shuffle move narrow rows, not document payloads.
    banded = sigs.select("doc_id", F.posexplode(band_keys).alias("band", "bucket"))
    a = banded.select("band", "bucket", F.col("doc_id").alias("doc_a"))
    b = banded.select("band", "bucket", F.col("doc_id").alias("doc_b"))
    cands = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Exact-Jaccard verify on the candidate pairs via per-doc shingle
    # sets (array_intersect/union). Measured against an
    # exploded-shingle join variant: the array form wins here because
    # it adds only one collect_set shuffle, vs three extra
    # shingle_rows+join shuffles for the exploded form.
    verify_src = exploded
    if candidate_filtered_verify:
        cand_ids = (
            cands.select(F.col("doc_a").alias("doc_id"))
            .union(cands.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        verify_src = verify_src.join(F.broadcast(cand_ids), "doc_id", "semi")
    # Same duplicated-consumer fix for the verify side: sh feeds both
    # the doc_a and the doc_b join, and Catalyst plans the collect_set
    # aggregation once per consumer (nodes (24-31)/(34-41) in the
    # before plan) — the shingle-set frame is |docs| rows of ~100
    # short strings, bounded, so one lazy materialization replaces a
    # second full scan→explode→collect_set pass.
    sh = verify_src.groupBy("doc_id").agg(F.collect_set("s").alias("sh"))
    if checkpoint_aggs:
        sh = sh.localCheckpoint(eager=False)
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # Threshold on the UNROUNDED jaccard (matching ngram_jaccard_pairs'
    # default) so the LSH output stays a strict subset of the exact
    # path — rounding before the filter would admit J in
    # [threshold - 5e-5, threshold) pairs the exact path rejects.
    return (
        cands.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: per-bit vote over distinct token
    hashes, packed into one bigint.

    Same shape as minhash_signatures: explode tokens once (multiset —
    term frequency is the SimHash weight), 64 sum() vote aggregates
    (±1 per bit), pack with shiftleft in the final projection —
    avoids the interpreted nested-HOF pathology."""
    toks = textops.tokens(F.col(text_col))
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("t")
    )
    h = F.xxhash64(F.col("t"))
    votes = [
        F.sum(
            F.when((F.shiftright(h, b).bitwiseAND(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    per_doc = exploded.groupBy("doc_id").agg(*votes)
    packed = None
    for b in range(64):
        bit = F.shiftleft((F.col(f"v{b}") > 0).cast("long"), b)
        packed = bit if packed is None else packed + bit
    return per_doc.select("doc_id", packed.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit sketch into 4
    16-bit chunks (pigeonhole: hamming ≤ 3 guarantees an identical
    chunk; larger radii are best-effort), candidate-join on chunk
    equality, verify with bit_count(xor) ≤ max_hamming."""
    sims = simhash(docs, id_col, text_col)
    chunks = F.expr(
        "transform(sequence(0, 3), c -> "
        "  concat(cast(c as string), ':', "
        "         cast((shiftright(simhash, c * 16) & 65535) as string)))"
    )
    banded = sims.select("doc_id", "simhash", F.explode(chunks).alias("chunk"))
    a = banded.select(
        F.col("chunk"), F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a")
    )
    b = banded.select(
        F.col("chunk"), F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b")
    )
    return (
        a.join(b, "chunk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Shingle-containment near-dup pairs: C(a,b) =
    inter / min(|A|, |B|) — flags subset/superset documents (one doc
    embedded in another) that symmetric Jaccard under-scores, the
    quote/excerpt dup class in web corpora. Same exploded-shingle
    equi-join as ngram_jaccard_pairs (shared candidate machinery);
    containment is integer division, emitted unrounded. Quadratic
    worst case — pair candidates at scale come from the LSH path;
    this scoring then replaces the Jaccard verify."""
    exploded = shingle_rows(docs, id_col, text_col, n)
    sizes = exploded.groupBy("doc_id").agg(F.count("*").alias("n_sh"))

    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    c = F.col("inter") / F.least(F.col("na"), F.col("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("containment", c)
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
        .orderBy("doc_a", "doc_b")
    )
