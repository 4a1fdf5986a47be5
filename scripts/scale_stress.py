#!/usr/bin/env python
"""Empirical scale-stress validation (VERDICT r7 #1).

SCALE.md's 100 TB arguments are plan-shape arguments; this harness
MEASURES them: synthesize documents/embeddings corpora at multiples
of the sf0.1 row counts (testdata is read-only and tops out at
17 MB), run the heaviest battery entries at each size in a fresh JVM,
fit a time-vs-data scaling exponent per entry, and record the whole
thing in SCALING.json. Sub-quadratic measured scaling (exponent
~<=1.3 at fixed local[32] parallelism) confirms the plan argument;
anything higher must be root-caused in the entry's note.

Corpus generators live in fixtures/generate.py (documents /
embeddings), distribution-calibrated against the driver testdata —
including the property that near-dup cluster sizes stay O(1) as the
corpus grows (base pool scales with n), which is what real corpora do
and what keeps LSH-bucketed plans linear.

Two entries are expected super-linear and measured at REDUCED scales
with the root cause recorded rather than hidden:

- dedup_semantic (JVM fold form): within-cluster pairwise scoring
  pays an INTERPRETED JVM fold per pair, so even with the r10
  corpus-size-dependent k (seed_k_for: clusters stay ~2048 vectors,
  pair count ∝ n) the constant is ~100x the Arrow twin's BLAS
  kernel; measured at reduced scales as the like-for-like comparison
  carrier. The Arrow twin is the production form.
- sim_sparse_cosine_pairs: the df-cap is RELATIVE (df <= 5% of
  corpus), so on the fixture's CLOSED 31-word vocab every kept
  term's posting list grows proportionally to n and the per-term
  self-join is quadratic AS A DATA PROPERTY. Natural corpora grow
  vocabulary (Heaps' law), keeping discriminative-term df sublinear
  — measured here via the open-vocab corpus variant
  (vocab ~ 31 * scale^0.6), recorded as
  sim_sparse_cosine_pairs__openvocab.

Round 8 adds the EVENTS-fact variants: "ev" replicates the driver
fixture's own cross-SF law (users ∝ n at ~66 events/user, CLOSED
k∈[0,100) content domain — the derived transition graph saturates, so
graph stages are domain-bounded there), and "evok" is the
natural-graph counterpoint (node domain ∝ n, avg degree ~constant),
measured for the two graph entries whose wedge/label cost is
data-shape-sensitive — the same measure-both discipline as the
openvocab pair.

Usage:
    python scripts/scale_stress.py            # full run -> SCALING.json
    python scripts/scale_stress.py --gen-only # just synthesize corpora
    python scripts/scale_stress.py --redo ev10,evok30   # re-run jobs
    python scripts/scale_stress.py --redo-entries a,b   # re-measure
        only the named entries inside every job scheduling them
    python scripts/scale_stress.py --run-scale 10 --variant ev  # (child)
    python scripts/scale_stress.py --guard-run 10  # (pytest guard child)
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_ROOT = os.path.join(HERE, ".scale_data")
BASE_ROWS = {
    "documents": 5000,
    "embeddings": 2000,
    "events": 100_000,
    "part": 20_000,
    "orders": 150_000,  # customers derived (n // 10, the fixture law)
}  # sf0.1-equivalents

# entry -> (scales, note). Scales are multiples of the sf0.1 row
# counts; exponents are fit on log(time) vs log(scale).
DEFAULT_SCALES = [1, 10, 30]
ENTRIES: dict[str, tuple[list[int], str]] = {
    "pipeline_corpus_build": (DEFAULT_SCALES, ""),
    "pipeline_corpus_build_cc": (DEFAULT_SCALES, ""),
    "pipeline_corpus_build_decontam": (DEFAULT_SCALES, ""),
    "dedup_cluster_size_hist": (DEFAULT_SCALES, ""),
    "dedup_minhash_lsh_mid": (DEFAULT_SCALES, ""),
    "text_tokenize_bpe": (DEFAULT_SCALES, ""),
    "pipeline_token_budget_bpe": (DEFAULT_SCALES, ""),
    "dedup_repeated_passages": (DEFAULT_SCALES, ""),
    "ml_power_iteration": (DEFAULT_SCALES, ""),
    "dedup_semantic_arrow": (
        DEFAULT_SCALES,
        "corpus-size-dependent k (r10, seed_k_for = max(8, n // 2048), "
        "shared with the oracle CTE): cluster size stays bounded so "
        "within-cluster matmul work is ~n * 2048 — linear by sizing "
        "(was Theta(n^2/8) with the fixture constant, tail 1.15).",
    ),
    "dedup_semantic": (
        [1, 4, 10, 30],
        "interpreted-JVM-fold-per-pair comparison carrier; pair count "
        "is linear by sizing since r10 (seed_k_for) but the per-pair "
        "fold constant is ~100x the Arrow kernel's — the production "
        "form is dedup_semantic_arrow. Extended to 30x (VERDICT r10 "
        "Missing #3, measured r11): 88.2 s at 30x (k=29), tail ~1.5 "
        "even though within-cluster pair rows are linear by sizing "
        "(n^2/2k = 1024n: 2.0e7 at 10x -> 6.1e7 at 30x, ratio 3.0 vs "
        "time ratio 5.1) — the interpreted fold's throughput degrades "
        "past what pair counts explain, while the Arrow twin runs the "
        "IDENTICAL pair set in 3.99 s (22x). That gap, now measured "
        "through 30x, is the whole reason the Arrow form holds the "
        "window slot; carrier kept for the like-for-like comparison.",
    ),
    "sim_sparse_cosine_pairs": (
        [1, 2, 4],
        "relative df-cap on a CLOSED 31-word vocab: kept-term df grows "
        "~n, posting self-join quadratic AS A DATA PROPERTY; see the "
        "__openvocab variant for the natural-vocabulary measurement.",
    ),
    # r9 tier (VERDICT r8 #4): the next-heaviest bench entries.
    "text_bpe_train_merges": (
        DEFAULT_SCALES,
        "12 bounded merge rounds, each a distinct-word-frame agg + "
        "1-row argmax collect: the ROUND COUNT (hyperparameter), not "
        "data volume, should dominate — expect near-flat.",
    ),
    "dedup_drop_witness": (DEFAULT_SCALES, ""),
    "pipeline_incremental_admission": (
        DEFAULT_SCALES,
        "three batch-sequential asymmetric LSH probes over one signed "
        "frame; banded candidates bound every stage.",
    ),
    # r9 session-2 tier: the video pair + MMR re-rank.
    "multimodal_video_scenes": (
        DEFAULT_SCALES,
        "per-row Arrow decode + SAD, no shuffle beyond the 1-row "
        "cert broadcast: expect ~linear in docs.",
    ),
    "dedup_video_keyframes": (
        DEFAULT_SCALES,
        "per-row keyframe hash + banded candidate join; in-group "
        "pair yield linear by payload law (cross-group at the 56-bit "
        "random floor, 0/0/11 at 5k/20k/60k docs measured offline).",
    ),
    "sim_mmr_diversified": (
        DEFAULT_SCALES,
        "corpus-sized work is one TakeOrderedAndProject top-20; the "
        "greedy re-rank is 4 bounded rounds on 20 rows: expect flat.",
    ),
    "pipeline_multimodal_corpus_build": (
        DEFAULT_SCALES,
        "three per-row Arrow hash passes + banded joins + the "
        "df-capped text pair stage + id-only drop union: every stage "
        "individually measured sublinear; this is the composition.",
    ),
    "sim_ivfpq_adc_topk": (
        DEFAULT_SCALES,
        "coarse train is k-bounded per round; residual encode is one "
        "narrow join; query cost is probed-cell LUT lookups: expect "
        "~linear in vectors from the train/encode passes.",
    ),
    # r10 tier (VERDICT r9 #7 + the two new entries): the remaining
    # unmeasured fingerprint pair, BM25, and the retrieval eval.
    "text_bm25_topk": (
        DEFAULT_SCALES,
        "bigram tf/df aggs + an 8-term broadcast semi join + "
        "WindowGroupLimit top-10: expect ~linear in documents.",
    ),
    "dedup_image_phash": (
        DEFAULT_SCALES,
        "per-row Arrow decode+hash + banded Hamming pairing — "
        "structurally the measured dedup_video_keyframes (0.27/0.51); "
        "this is the direct measurement replacing that argument.",
    ),
    "dedup_audio_fingerprint": (
        DEFAULT_SCALES,
        "per-row RIFF/PCM decode -> frame energies -> delta-sign "
        "bits + banded Hamming pairing; same family as image/video.",
    ),
    "eval_ivfpq_mrr_recall": (
        DEFAULT_SCALES,
        "train chain shared with sim_ivfpq_adc_topk; panel-bounded "
        "(<=64 queries) probe/LUT broadcasts + one panel-broadcast "
        "gold scan: expect ~linear in vectors.",
    ),
    "eval_bm25_mrr_recall": (
        DEFAULT_SCALES,
        "bigram tf/df shapes shared with text_bm25_topk; panel "
        "(<=64) + query-term broadcasts; per-query fan-out bounded "
        "by the ubiquitous-term cut (df <= max(256, n/10)): expect "
        "~linear in documents.",
    ),
    # r12 extension tier (the r11 "extend the measured tier every
    # round" rule): the next-heaviest battery entries without a
    # direct SCALING row.
    "text_boilerplate_strip": (
        DEFAULT_SCALES,
        "(doc, line) explode -> line-frequency agg -> broadcast "
        "join-back + per-doc re-assembly: expect ~linear in docs.",
    ),
    "ml_kmeans_int": (
        DEFAULT_SCALES,
        "integer Lloyd k-means, fixed rounds; per-round assign is "
        "one broadcast join + min-agg over vectors: expect ~linear.",
    ),
    "text_quality_scores": (
        DEFAULT_SCALES,
        "per-row token/char metrics, one projection + agg: expect "
        "~linear, scan-floored at 1x.",
    ),
    "pipeline_contamination_report": (
        DEFAULT_SCALES,
        "8-gram eval-slice broadcast semi-join over train shingles "
        "(the decontaminate machinery) + per-source rollup: expect "
        "~linear in documents.",
    ),
    "pipeline_dataset_card": (
        DEFAULT_SCALES,
        "composed per-source aggs over one tokenized pass: expect "
        "~linear in documents.",
    ),
    # r11 extension tier: the remaining top-25-bench entries without
    # a direct SCALING row (each previously argued via a measured
    # structural twin; now measured directly).
    "dedup_minhash_lsh": (
        DEFAULT_SCALES,
        "the banded-LSH production pair generator at threshold 0.9 "
        "(equality-with-exact validation form): banding + bucket join "
        "— the stage lsh_mid embeds; expect its sublinear shape.",
    ),
    "dedup_incremental": (
        DEFAULT_SCALES,
        "new-batch-vs-corpus asymmetric LSH probe (md5-bucket split): "
        "the single-probe core of pipeline_incremental_admission "
        "(measured 0.34/0.34); expect the same.",
    ),
    "pipeline_quality_dup_calibration": (
        DEFAULT_SCALES,
        "banded pair yield histogram x quality-gate join: "
        "pair-count-sized aggs over the measured LSH stage.",
    ),
    "dedup_pair_histogram": (
        DEFAULT_SCALES,
        "banded-pair Jaccard-decile histogram — pair-count-sized, "
        "expect the LSH stage's shape.",
    ),
    # r11 tier: the three new entries.
    "eval_dedup_precision_recall": (
        DEFAULT_SCALES,
        "one shingle pass + the df-capped pair join (the measured "
        "lsh_mid bound) + two id-keyed flag joins + a source-sized "
        "agg: expect the text pair stage's shape (~sublinear).",
    ),
    "text_lm_stupid_backoff": (
        DEFAULT_SCALES,
        "one token pass -> bigram/unigram count aggs + shuffle "
        "equi-joins on vocab-keyed frames + one doc agg: expect "
        "~linear in documents.",
    ),
    "eval_crossmodal_consistency": (
        DEFAULT_SCALES,
        "composition of three measured pair stages (banded image/"
        "audio Hamming + the df-capped text self-join) + a "
        "pair-count-sized flag aggregation. LINEAR, not the "
        "capstone's sublinear 0.45: the capstone reduces modalities "
        "to DISTINCT drop ids while this audit keeps full partner "
        "sets, and banded pair ROWS grow ∝ n (0.43M -> 1.3M per "
        "modality at 10x -> 30x) — linear in pair rows is the floor "
        "for a partner-set audit. Each pair frame localCheckpointed "
        "before sym() (without the barrier each banded self-join ran "
        "twice: 37.6 -> 27.1 s at 30x, measured r11).",
    ),
    # r11 session-2 tier: the four data-mixture/eval entries, benched
    # and rotated the round they are built.
    "sample_temperature_mixture": (
        DEFAULT_SCALES,
        "lang-sized stats aggs + broadcast allocation + one "
        "lang-partitioned selection window over doc rows: expect "
        "~linear in documents (window shuffle dominates).",
    ),
    "curation_dsir_importance": (
        DEFAULT_SCALES,
        "bigram explode -> vocab-keyed ratio join + doc agg + the "
        "banded two-phase global rank (score bands are bounded "
        "metadata): expect ~linear in bigram rows.",
    ),
    "ml_odds_ratio_classifier": (
        DEFAULT_SCALES,
        "token explode -> one conditional-count training agg + "
        "vocab-keyed scoring join on the held-out half + doc agg: "
        "expect ~linear in token rows.",
    ),
    "eval_rank_agreement": (
        DEFAULT_SCALES,
        "two value-keyed count aggs (token-length support + the "
        "0..1000 permille domain, bounded frames) broadcast back + "
        "one global map-side-combinable agg: expect scan-flat to "
        "~linear.",
    ),
}
# Open-vocab variant (documents only, Heaps-law vocab growth) for the
# entries whose closed-vocab exponent is a DATA property: the
# df-capped sparse join, and the LSH validation form whose EXACT-pair
# stage self-joins on 3-gram shingles (27000-shingle space at 30
# words -> per-shingle df grows with n; natural vocabularies keep
# shingles near-unique).
OPENVOCAB_ENTRIES = {
    "sim_sparse_cosine_pairs": (DEFAULT_SCALES, ""),
    "dedup_minhash_lsh_mid": (DEFAULT_SCALES, ""),
}

# Events-fact entries (r8 tier), measured on the events_like corpus
# that replicates the driver fixture's own cross-SF law (users ∝ n at
# ~66 events/user, CLOSED k∈[0,100) content domain). On the closed
# domain the derived transition graph saturates toward K_100, so the
# graph entries' wedge/label stages are domain-bounded — the honest
# fixture-shaped read. The "evok" variant below is the natural-graph
# counterpoint (node count ∝ n, avg degree ~constant ≈50 — the regime
# the sum(deg^2) wedge bound assumes), per the measure-both lesson
# from the openvocab work.
EVENTS_ENTRIES = {
    "graph_pagerank": (
        DEFAULT_SCALES,
        "iterative scatter power-iteration over the closed-domain "
        "transition graph: domain-bounded rank frame, fixed rounds — "
        "expect flat (r11 extension tier).",
    ),
    "graph_jaccard_neighbors": (
        DEFAULT_SCALES,
        "closed k-domain: graph saturates to ~K_100, wedge stage "
        "domain-bounded; data-bounded regime measured as __openk.",
    ),
    "graph_label_propagation": (
        DEFAULT_SCALES,
        "closed k-domain (see graph_jaccard_neighbors); iterative "
        "rounds fixed at 4, per-round join is node-partitioned.",
    ),
    "w_pattern_match_regex": (DEFAULT_SCALES, ""),
    "a_cms_partial_rollup": (DEFAULT_SCALES, ""),
    "ml_auc_exact": (DEFAULT_SCALES, ""),
    "a_mad_outliers": (
        DEFAULT_SCALES,
        "exact two-pass MAD: the med/mad scalars ride broadcasts and "
        "the dev frame re-derives from the fact scan under each of "
        "its two consumers (r12 tier — measured to decide VERDICT "
        "r11 #6's proposed dev-frame checkpoint at scale: a WASH at "
        "ev30 as at fixture, checkpoint rejected).",
    ),
    "graph_triangle_count": (
        DEFAULT_SCALES,
        "closed k-domain transition graph saturates to ~K_100 — "
        "expect domain-bounded (r12 extension tier).",
    ),
    "graph_reachability": (
        DEFAULT_SCALES,
        "frontier iteration over the closed-domain graph: rounds "
        "bounded by diameter, frames domain-bounded (r12 tier).",
    ),
    "w_holt_linear_int": (
        DEFAULT_SCALES,
        "one map-side-combinable (type, day) agg + a sequential fold "
        "over ~30-element arrays on 5 rows: expect flat.",
    ),
    "a_trend_mann_kendall": (
        DEFAULT_SCALES,
        "(type, day) agg then day-bounded pairwise Theil-Sen "
        "(n_days^2/2 per series, never corpus-sized): expect ~flat "
        "past the agg's linear scan.",
    ),
    "ml_calibration_ece": (
        DEFAULT_SCALES,
        "one (week, bin) map-side agg + 1-row max broadcast: expect "
        "scan-flat.",
    ),
}

# Part-fact variants (r9, VERDICT r8 #4): j_fuzzy_name_match's cost
# is the blocked pairwise levenshtein, and the block key's
# cardinality is a NAME-VOCABULARY property — fixed 200 blocks under
# the fixture's closed 8x8 name law (per-block size ∝ n, block join
# quadratic as a data property, the sim_sparse/lsh_mid regime), vs
# first-token vocab ∝ n on natural catalogs (per-block size constant
# ~100, linear). Measured on BOTH, same discipline as __openvocab.
PART_ENTRIES = {
    "j_fuzzy_name_match": (
        [1, 2, 4, 10],
        "closed 64-name vocabulary, post-r10 block cap: participation "
        "capped at 256 lowest-key members per block, so pair work is "
        "bounded at blocks*cap^2 on ANY vocabulary (was ∝ n², tail "
        "2.32 pre-cap). Flat-by-construction once the cap activates "
        "(~2x); the explicit-parallelism repartition keeps the "
        "256x-fanout levenshtein stage from serializing behind AQE's "
        "byte-based coalescing (16.6 -> 2.2 s at 4x).",
    ),
}
PARTOK_ENTRIES = {
    "j_fuzzy_name_match": (
        DEFAULT_SCALES,
        "open first-token vocabulary sized ∝ n (constant ~100-part "
        "blocks, the natural-catalog regime): pair count ∝ n; cap "
        "inactive here by construction.",
    ),
}

OPENK_ENTRIES = {
    "graph_pagerank": (
        DEFAULT_SCALES,
        "natural-graph regime (nodes ∝ n, constant degree): per-round "
        "edge-scatter join is node-partitioned; rank frame ∝ n — "
        "expect ~linear per fixed round count (r11 extension tier).",
    ),
    "graph_jaccard_neighbors": (
        DEFAULT_SCALES,
        "constant-degree regime: wedge rows ∝ n (V*d^2/2 — 5M at 1x, "
        "150M at 30x) and nearly every wedge is a DISTINCT (a,b) "
        "pair. De-weaked r11 (VERDICT r10 #1): the pair aggregation "
        "is explicitly repartitioned at ~16k edges/partition (user "
        "counts are AQE-coalescing-exempt), spreading agg hash state "
        "∝ data instead of over the pinned 32 partitions — the r10 "
        "tail 1.67 / 32.8 s at 30x was per-partition agg-state "
        "spill; JACCARD_HUB_CAP=128 additionally bounds wedge "
        "fan-out at V*cap^2 on hub-heavy graphs (inactive here: "
        "measured max degree 103; and on the fixture: 99).",
    ),
    "graph_label_propagation": (DEFAULT_SCALES, ""),
}

# variant -> (entry plan, SCALING.json name suffix, tables needed)
# Orders/customer-fact entries (r10): the governance audits. QI-class
# cardinality is domain-bounded (~8750) while occupancy grows ∝ n, so
# both should measure ~linear (one equi-join + shrinking-key aggs).
OC_ENTRIES = {
    "curation_l_diversity": (DEFAULT_SCALES, ""),
    "curation_t_closeness": (DEFAULT_SCALES, ""),
}

VARIANTS: dict[str, tuple[dict, str, list[str]]] = {
    "x": (ENTRIES, "", ["documents", "embeddings"]),
    "oc": (OC_ENTRIES, "", ["orders", "customer"]),
    "ov": (OPENVOCAB_ENTRIES, "__openvocab", ["documents"]),
    "ev": (EVENTS_ENTRIES, "", ["events"]),
    "evok": (OPENK_ENTRIES, "__openk", ["events"]),
    "pt": (PART_ENTRIES, "", ["part"]),
    "ptok": (PARTOK_ENTRIES, "__opennames", ["part"]),
}

# Variants sharing a SCALING.json suffix ('x'/'ev'/'pt' all use '')
# would silently overwrite each other's records if an entry were
# scheduled in two of them (ADVICE r8) — same-suffix plans must stay
# name-disjoint, asserted at load rather than left to review.
_by_suffix: dict[str, set[str]] = {}
for _v, (_plan, _suffix, _) in VARIANTS.items():
    overlap = _by_suffix.setdefault(_suffix, set()) & set(_plan)
    assert not overlap, (
        f"variant {_v!r} reuses SCALING.json suffix {_suffix!r} for "
        f"entries already recorded under it: {sorted(overlap)}"
    )
    _by_suffix[_suffix] |= set(_plan)


def _dir_for(scale: int, variant: str = "x") -> str:
    return os.path.join(DATA_ROOT, variant + str(scale))


def _gen_corpora() -> None:
    """Synthesize every (scale, variant) corpus that any entry needs.
    Deterministic — existing dirs with _SUCCESS markers are reused."""
    from sql_engine_triangle_spark.fixtures import generate as G
    from sql_engine_triangle_spark.session import get_spark

    need: list[tuple[int, str]] = []
    for variant, (plan, _, _) in VARIANTS.items():
        for s in sorted({s for sc, _ in plan.values() for s in sc}):
            need.append((s, variant))

    spark = None
    for scale, variant in need:
        d = _dir_for(scale, variant)
        tables = VARIANTS[variant][2]
        if all(
            os.path.exists(os.path.join(d, f"{t}.parquet", "_SUCCESS"))
            for t in tables
        ):
            continue
        if spark is None:
            spark = get_spark(app_name="scale-stress-gen")
        if variant == "ev":
            dfs = {"events": G.events_like(spark, BASE_ROWS["events"] * scale)}
        elif variant == "oc":
            dfs = G.orders_customer_like(spark, BASE_ROWS["orders"] * scale)
        elif variant == "pt":
            dfs = {"part": G.part_like(spark, BASE_ROWS["part"] * scale)}
        elif variant == "ptok":
            # natural-catalog regime: first-token vocab ∝ n so the
            # (brand, first-token) block occupancy stays ~100 parts
            # (25 brands x V tokens blocks; V = n/2500 reproduces the
            # fixture's own 8 tokens at 1x).
            n = BASE_ROWS["part"] * scale
            dfs = {"part": G.part_like(spark, n, adj_vocab=max(8, n // 2500))}
        elif variant == "evok":
            # natural-graph regime: node domain ∝ n so avg degree
            # stays ~constant (V = 2T/d with T≈n transitions, d≈50);
            # 120k nodes at 30x stays under the LPA encode base.
            n = BASE_ROWS["events"] * scale
            dfs = {
                "events": G.events_like(spark, n, k_domain=max(100, n // 25))
            }
        elif variant == "ov":
            # Natural-vocabulary regime: size the vocab so PER-TERM
            # document frequency stays ~constant (df ~ 5) as the
            # corpus grows — bigram space V^2 must scale with
            # occurrences, so V ~ sqrt(n * words_per_doc / df). This
            # is the property real discriminative terms have (and
            # that the df-cap bound assumes); a first attempt with
            # Heaps-style V ~ 31 * scale^0.6 left df ~ 135 at 30x —
            # pair-DENSE data (~1e9 candidate rows) that OOMs any
            # engine, which is a statement about that corpus, not
            # the plan.
            n = BASE_ROWS["documents"] * scale
            v = max(31, int(round((n * 52 / 5) ** 0.5)))
            dfs = {"documents": G.documents(spark, n, vocab_size=v)}
        else:
            dfs = {
                "documents": G.documents(spark, BASE_ROWS["documents"] * scale),
                "embeddings": G.embeddings(spark, BASE_ROWS["embeddings"] * scale),
            }
        for t, df in dfs.items():
            # Fixed 32-way layout at every scale: constant available
            # parallelism, so the exponent measures the PLAN, not a
            # task-count ramp.
            df.repartition(32).write.mode("overwrite").parquet(
                os.path.join(d, f"{t}.parquet")
            )
        print(f"# generated {d}", file=sys.stderr)


def _run_scale(scale: int, variant: str, only: set[str] | None = None) -> None:
    """Child mode: run every entry scheduled at this scale in this
    fresh JVM (optionally filtered to ``only`` — the --redo-entries
    path); print one RESULT line."""
    from sql_engine_triangle_spark.queries import registry
    from sql_engine_triangle_spark.session import get_spark

    sf_dir = _dir_for(scale, variant)
    spark = get_spark(app_name=f"scale-stress-{variant}{scale}")
    plan, _, tables = VARIANTS[variant]
    names = [n for n, (scales, _) in plan.items() if scale in scales]
    if only is not None:
        names = [n for n in names if n in only]
    from sql_engine_triangle_spark.catalog import load_table

    for t in tables:
        load_table(spark, sf_dir, t).count()

    out: dict[str, dict] = {}
    for name in names:
        fn = registry.get(name).fn

        def run() -> None:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

        n_rows = fn(spark, sf_dir).count()
        run()  # warm
        ts = []
        for _ in range(2):
            t0 = time.time()
            run()
            ts.append(time.time() - t0)
        out[name] = {"sec": round(min(ts), 3), "rows": n_rows}
        print(f"# {variant}{scale} {name}: "
              f"{n_rows} rows in {min(ts):.2f}s", file=sys.stderr)
    print("SCALE_RESULT " + json.dumps(out))


def _fit_exponent(pts: list[tuple[int, float]]) -> dict:
    """Least-squares slope of log(t) on log(scale), plus the tail
    exponent between the two largest scales (the fit's small-scale
    points carry constant overhead — scan floors, JVM dispatch — that
    dilutes the asymptotic slope; the tail is the honest upper
    read)."""
    xs = [math.log(s) for s, _ in pts]
    ys = [math.log(max(t, 1e-3)) for _, t in pts]
    n = len(pts)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom
    (s1, t1), (s2, t2) = pts[-2], pts[-1]
    tail = math.log(max(t2, 1e-3) / max(t1, 1e-3)) / math.log(s2 / s1)
    return {"exponent_fit": round(slope, 3), "exponent_tail": round(tail, 3)}


# (variant, entry, t10 ceiling sec) triples timed by the pytest
# measured-scaling guard (tests/test_scaling.py) via --guard-run, one
# fresh JVM per scale (VERDICT r8 #1: in-suite shared-JVM timing
# inflated the 10x point ~6x and flaked the guard red). The LSH entry
# is guarded on the NATURAL-vocab corpus — its closed-vocab behavior
# is a documented data property, not a plan-regression signal.
# ml_auc_exact covers the events-fact corpus family (VERDICT r8 #8).
#
# TWO assertions per entry, because one is not enough (measured while
# building the r9 selfcheck): the exponent bound catches regressions
# whose extra work grows superlinearly AND dominates at both scales,
# but a CHEAP quadratic stage (narrow-row join fan-out) is diluted by
# the 1x scan/JVM floor — the uncapped Σdf² shingle join measured
# exponent ~1.3 at 1x→10x, under the 1.6 bound — while its t10 alone
# (~28 s quiet, scripts/guard_selfcheck.py) blows any sane ceiling.
# Ceilings are ~5-7x the quiet-machine fresh-JVM t10 (calibrated r9:
# 8.3 / 1.5 / 10.3 / 1.0 s;
# re-run `--guard-run 10` solo to recalibrate); heavy quadratics that
# exceed even the child timeout (1800 s) fail the fixture outright —
# the third backstop.
GUARD_JOBS: list[tuple[str, str, float]] = [
    ("ov", "dedup_minhash_lsh_mid", 40.0),
    ("x", "text_tokenize_bpe", 10.0),
    ("x", "pipeline_corpus_build", 60.0),
    ("ev", "ml_auc_exact", 8.0),
]
GUARD_SCALES = [1, 10]


def _guard_run(scale: int) -> None:
    """Guard child mode: in THIS fresh JVM, generate any missing
    corpora the guard jobs need at ``scale``, then time each guarded
    (variant, entry) — warmed noop-sink min-of-2, the harness
    protocol. Prints one GUARD_RESULT line keyed 'variant:entry'."""
    from sql_engine_triangle_spark.catalog import load_table
    from sql_engine_triangle_spark.fixtures import generate as G
    from sql_engine_triangle_spark.queries import registry
    from sql_engine_triangle_spark.session import get_spark

    spark = get_spark(app_name=f"scale-guard-{scale}")
    out: dict[str, dict] = {}
    for variant, name, _ceiling in GUARD_JOBS:
        d = _dir_for(scale, variant)
        tables = VARIANTS[variant][2]
        for t in tables:
            p = os.path.join(d, f"{t}.parquet")
            if not os.path.exists(os.path.join(p, "_SUCCESS")):
                n = BASE_ROWS[t] * scale
                if variant == "ov":
                    df = G.documents(spark, n, vocab_size=max(31, int(round((n * 52 / 5) ** 0.5))))
                elif variant == "ev":
                    df = G.events_like(spark, n)
                else:
                    df = getattr(G, t)(spark, n)
                df.repartition(32).write.mode("overwrite").parquet(p)
                print(f"# guard generated {p}", file=sys.stderr)
        for t in tables:
            load_table(spark, d, t).count()
        fn = registry.get(name).fn

        def run() -> None:
            fn(spark, d).write.format("noop").mode("overwrite").save()

        run()  # warm
        ts = []
        for _ in range(2):
            t0 = time.time()
            run()
            ts.append(time.time() - t0)
        out[f"{variant}:{name}"] = round(min(ts), 3)
        print(f"# guard {variant}{scale} {name}: {min(ts):.2f}s", file=sys.stderr)
    print("GUARD_RESULT " + json.dumps(out))


def main() -> None:
    if "--guard-run" in sys.argv:
        _guard_run(int(sys.argv[sys.argv.index("--guard-run") + 1]))
        return
    if "--run-scale" in sys.argv:
        i = sys.argv.index("--run-scale")
        variant = "x"
        if "--variant" in sys.argv:
            variant = sys.argv[sys.argv.index("--variant") + 1]
        elif "--open-vocab" in sys.argv:  # back-compat
            variant = "ov"
        only = None
        if "--entries" in sys.argv:
            only = set(sys.argv[sys.argv.index("--entries") + 1].split(","))
        _run_scale(int(sys.argv[i + 1]), variant, only)
        return

    _gen_corpora()
    if "--gen-only" in sys.argv:
        return

    # One fresh JVM per (scale, variant): entries in a shared JVM
    # inherit each other's GC and block-manager state.
    # Per-job results are cached in .scale_data/results.json so a
    # single polluted or newly-scheduled job can be re-run with
    # --redo x1,ov30 instead of repeating the whole (30+ min) sweep;
    # a job re-runs when it is missing any scheduled entry.
    cache_path = os.path.join(DATA_ROOT, "results.json")
    cache: dict[str, dict] = {}
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except Exception:  # noqa: BLE001 - first run
        pass
    redo: set[str] = set()
    if "--redo" in sys.argv:
        redo = set(sys.argv[sys.argv.index("--redo") + 1].split(","))
    # --redo-entries re-measures ONLY the named entries inside every
    # job that schedules them (fresh JVM per job as always), merging
    # into the cache — so a single code-touched operator can be
    # re-measured without repeating the 30+ min full sweep (r9: the
    # df-capped dedup_minhash_lsh_mid).
    redo_entries: set[str] = set()
    if "--redo-entries" in sys.argv:
        redo_entries = set(sys.argv[sys.argv.index("--redo-entries") + 1].split(","))

    results: dict[tuple[int, str], dict] = {}
    jobs = [
        (s, variant)
        for variant, (plan, _, _) in VARIANTS.items()
        for s in sorted({s for sc, _ in plan.values() for s in sc})
    ]
    for scale, variant in jobs:
        key = variant + str(scale)
        plan = VARIANTS[variant][0]
        wanted = {n for n, (scales, _) in plan.items() if scale in scales}
        retime = wanted & redo_entries
        have = set(cache.get(key, {}))
        if (
            key in cache
            and key not in redo
            and wanted <= have
            and not retime
        ):
            results[(scale, variant)] = cache[key]
            continue
        cmd = [sys.executable, os.path.abspath(__file__), "--run-scale",
               str(scale), "--variant", variant]
        if key not in redo and wanted <= have | retime and retime:
            # entry-scoped re-measure: the rest of the job stays cached
            cmd += ["--entries", ",".join(sorted(retime))]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=HERE)
        sys.stderr.write(proc.stderr)
        lines = [
            ln for ln in proc.stdout.splitlines() if ln.startswith("SCALE_RESULT ")
        ]
        if proc.returncode != 0 or not lines:
            print(f"# scale {key} FAILED rc={proc.returncode}",
                  file=sys.stderr)
            sys.stderr.write(proc.stdout[-2000:])
            continue
        got = json.loads(lines[-1][len("SCALE_RESULT "):])
        merged = {**cache.get(key, {}), **got}
        results[(scale, variant)] = merged
        cache[key] = merged
        with open(cache_path, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)

    entries_out: dict[str, dict] = {}
    for variant, (plan, suffix, _) in VARIANTS.items():
        for name, (scales, note) in plan.items():
            pts = [
                (s, results[(s, variant)][name]["sec"])
                for s in scales
                if (s, variant) in results and name in results[(s, variant)]
            ]
            if len(pts) < 2:
                continue
            rec = {
                "scales": [s for s, _ in pts],
                "times_sec": {str(s): t for s, t in pts},
                "rows": {
                    str(s): results[(s, variant)][name]["rows"] for s, _ in pts
                },
                **_fit_exponent(pts),
            }
            if note:
                rec["note"] = note
            entries_out[name + suffix] = rec

    out = {
        "base_rows_at_1x": BASE_ROWS,
        "method": "fresh JVM per scale; warmed noop-sink min-of-2 per entry; "
                  "fixed 32-file layout at every scale (constant parallelism); "
                  "exponent = OLS slope of log(sec) on log(scale), tail = "
                  "slope between the two largest scales",
        "entries": entries_out,
    }
    path = os.path.join(HERE, "SCALING.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"written": path, "n_entries": len(entries_out)}))


if __name__ == "__main__":
    main()
