"""Plan-shape assertions: the physical behaviors the reference lab
documents (SURVEY.md §4) must appear in our executed plans."""

from __future__ import annotations

import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from sql_engine_triangle_spark.plans import asserts as pa
from sql_engine_triangle_spark.queries import registry
from tests.conftest import SF_DIR


def _q(spark, name):
    return registry.get(name).fn(spark, SF_DIR)


def test_q1_pushdown_pruning_partial_agg(spark):
    df = _q(spark, "q1_agg_by_type")
    # Predicate pushdown on the date filter (§4: FDW pushdown analog).
    assert pa.has_pushed_filter(df, "l_shipdate")
    # Column pruning: only the 3 referenced columns are scanned
    # (§4: index-only scan / columnar read analog).
    assert set(pa.scan_columns(df)) == {"l_returnflag", "l_extendedprice", "l_shipdate"}
    # Partial + final aggregation (§4: 'Partial + Final HashAggregate').
    assert pa.has_partial_final_agg(df)
    # Pipelined vectorized execution.
    assert pa.codegen_stage_count(df) >= 1


def test_q2_pushes_in_list(spark):
    df = _q(spark, "q2_town_month_rollup")
    assert pa.has_pushed_filter(df, "o_orderpriority")
    assert pa.has_pushed_filter(df, "o_orderdate")
    assert pa.has_partial_final_agg(df)


def test_q4_broadcast_join_and_topk(spark):
    df = _q(spark, "q4_semi_join_form")
    # The 10-row CTE side must be broadcast (§4: hash join with small
    # build side; q4 README.md:79), as must the dim tables.
    assert pa.has_broadcast_join(df)

    topk = _q(spark, "o_topk_rows")
    # ORDER BY + LIMIT without a full sort (§4: top-N optimization).
    assert pa.has_take_ordered(topk)


def test_aggregation_only_reads_needed_columns(spark):
    df = _q(spark, "a_count_distinct")
    assert set(pa.scan_columns(df)) == {"l_returnflag", "l_partkey"}


def test_semi_join_planned_as_semi(spark):
    df = _q(spark, "j_semi")
    plan = pa.executed_plan(df)
    assert "LeftSemi" in plan


# Entries whose plans legitimately contain a nested-loop/cartesian
# join: documented quadratic correctness baselines (their scale paths
# are the bucketed LSH variants) and genuinely non-equi joins.
ALLOWED_NESTED_LOOP = {
    "dedup_embedding_pairs",  # exact pairwise baseline for dedup_embedding_lsh
    "dedup_ngram_jaccard",  # pair join is equi on shingle, but the
    # doc_a < doc_b self-pair predicate can plan as BNLJ at tiny sf
    "j_range_bands",  # non-equi band join (BroadcastNestedLoop by design)
    "sub_correlated_scalar",  # decorrelated rewrite may nest at tiny sf
    # Validation forms: crossJoin of a ONE-ROW broadcast flags frame
    # onto the oracle-computable result (q4_approx_percentiles
    # pattern) — bounded by construction (1 × N), plus the exact
    # quadratic baseline they certify against:
    "dedup_embedding_lsh",
    "dedup_minhash_lsh_mid",
    "dedup_simhash_pairs",
    "sim_ann_lsh_topk",
    # ONE-ROW broadcast of the corpus-total scalar (the token budget)
    # onto the prefix-summed frame — bounded 1 × N by construction.
    "pipeline_token_budget",
    # same 1-row budget broadcast, metered in BPE tokens.
    "pipeline_token_budget_bpe",
    # same 1-row budget broadcast PLUS the oracle-grade exact pair
    # stage (swap in LSH pairs for the scale path — see docstring).
    "pipeline_corpus_build",
    "pipeline_corpus_build_cc",  # same 1-row budget broadcast
    # 1-row broadcast of the global-average scalar subquery.
    "tpch_q22_idle_customers",
    # 1-row broadcast of the corpus token total onto the term counts.
    "a_heavy_hitters",
    # 1-row broadcast of the grand-total frame onto the 12-row
    # month frame (same 1xN bounded pattern).
    "a_seasonal_index",
    # k-row (k=8) broadcast centroid frame onto the points each Lloyd
    # iteration — bounded k x N by construction.
    "ml_kmeans_int",
    # same k-row (k=4) coarse-centroid broadcasts per Lloyd iteration,
    # plus 1-2-row query/probe broadcasts in the LUT chain.
    "sim_ivfpq_adc_topk",
    # the eval shares the training chain above, plus a panel-bounded
    # (<=64-row) query broadcast for probe and gold scans and a 1-row
    # metrics broadcast onto the panel rows.
    "eval_ivfpq_mrr_recall",
    # 1-row scalar broadcasts: (n_docs, l_tot) in the BM25 stats and
    # the 1-row metrics frame onto the panel rows (a_heavy_hitters /
    # q4_approx_percentiles molds).
    "eval_bm25_mrr_recall",
    # 1-row global max-cents broadcast onto the fact before binning.
    "ml_calibration_ece",
    # category-bounded (5-row) broadcasts: the cats grid cross join,
    # the 5x5 triangle self-join for the global CDF (non-equi by
    # design), and the 1-row (G, m) totals frame.
    "curation_t_closeness",
    # 1-row broadcast n_edges / n_nodes summary frames onto the 1-row
    # triangle count.
    "graph_triangle_count",
    # 1-row broadcast top-100 total onto the 1-row corpus totals.
    "text_vocab_coverage",
    # 1-row broadcast of the (n_docs, l_tot) scalar frame onto the
    # query-term postings (a_heavy_hitters mold).
    "text_bm25_topk",
    # 1-row broadcast of the (n_tok, v_tok) training-totals frame
    # onto the scored bigrams (a_heavy_hitters mold).
    "text_lm_stupid_backoff",
    # 1-row broadcast of the decode-certification flag onto the pair
    # set (q4_approx_percentiles validation-form mold).
    "dedup_image_phash",
    "dedup_audio_fingerprint",  # same 1-row certification broadcast
    "multimodal_video_scenes",  # same 1-row certification broadcast
    "dedup_video_keyframes",  # same 1-row certification broadcast
    # 1-row drop/kept-count broadcasts onto the 8-row shard frame,
    # plus the df-capped exact text-pair stage (the allowlisted
    # quadratic baseline of dedup_minhash_lsh_mid, bounded by the
    # ubiquitous-shingle cut).
    "pipeline_multimodal_corpus_build",
    # 1-row broadcast of the per-round selected vector onto the
    # <=20-row re-rank pool (bounded 1 x pool by construction).
    "sim_mmr_diversified",
    # 1-row broadcast HHI frame onto the 1-row corpus summary.
    "pipeline_dataset_card",
    # 1-row broadcast max-tokens scalar onto the per-lang rollup.
    "pipeline_repeat_factors",
    # 1-row broadcast total onto the 9-row digit distribution.
    "a_benford_digits",
    # 1-row broadcast token-budget scalar (same shape as the greedy
    # capstone it extends).
    "pipeline_corpus_build_decontam",
    # 1-row broadcast corpus-doc-count scalar onto the vocab-sized
    # df frame.
    "sim_sparse_cosine_pairs",
    # 1-row certification frames (build/probe/candidate/true counts)
    # folded into the single output row.
    "j_bloom_prefilter",
    # 1-row broadcast rescale scalar (max|w|) onto the 64-row vector
    # each power-iteration round.
    "ml_power_iteration",
    # 1-row broadcast quartile-boundary frame onto the bucket pass.
    "a_equidepth_hist",
    # 1-row broadcast total/max frame onto the 16-row partition report.
    "maint_partition_skew_report",
    # 1-row broadcast decile-boundary frame onto the gated corpus.
    "pipeline_quality_dup_calibration",
    # 1-row broadcast boundary + total frames onto the 10-row curve.
    "pipeline_token_lorenz",
    # 1-row broadcast budget/weight-sum totals onto the lang-sized
    # allocation frame, then the bounded alloc table broadcast onto
    # doc rows (equi-join — only the totals are nested-loop).
    "sample_temperature_mixture",
    # 1-row broadcast corpus totals (N_raw/N_tgt/V) onto the bigram
    # ratio join; 1-row budget onto the banded rank output.
    "curation_dsir_importance",
    # 1-row broadcast class totals (np/nn/V) onto the held-out
    # scoring join.
    "ml_odds_ratio_classifier",
    # 1-row broadcast distinct-value counts onto the 1-row Spearman
    # aggregate (1 x 1 by construction).
    "eval_rank_agreement",
}


def test_no_silent_cartesian_joins(spark):
    """100 TB guard: no registry entry may silently plan a cartesian
    product or nested-loop join — at scale that is a run-forever
    plan. Quadratic baselines are allowlisted explicitly so a new
    entry (or a Catalyst regression on a bucketed path) fails loudly."""
    bad = {}
    for name in registry.names():
        df = registry.get(name).fn(spark, SF_DIR)
        plan = pa.executed_plan(df)
        hits = [
            kind
            for kind in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if kind in plan
        ]
        if hits and name not in ALLOWED_NESTED_LOOP:
            bad[name] = hits
    assert not bad, f"unexpected nested-loop/cartesian plans: {bad}"


# Entries allowed to ship an UNBOUNDED (no upstream Aggregate/limit)
# frame through a single-partition exchange. Empty by policy: every
# single-partition exchange in every registry plan must sit above a
# bounded intermediate. Add a name here only with a written argument
# that the frame is dimension-sized by construction.
ALLOWED_UNBOUNDED_SINGLE_PARTITION: set[str] = set()

# Node kinds that bound the row count entering a single partition:
# an aggregation (group-cardinality output), a top-k / limit, or a
# window-group-limit (k rows per group of a bounded group domain).
_BOUNDING = re.compile(
    r"HashAggregate|SortAggregate|ObjectHashAggregate"
    r"|TakeOrderedAndProject|GlobalLimit|CollectLimit|WindowGroupLimit"
)


# A scan→exchange path is additionally bounded if it rides a
# broadcast: the broadcast threshold caps what that branch ships.
_PATH_BOUNDING = re.compile(
    _BOUNDING.pattern + r"|BroadcastExchange|BroadcastQueryStage"
)


def test_single_partition_exchanges_are_bounded(spark):
    """100 TB guard for the bounded-window policy (VERDICT r6 #4): an
    `Exchange SinglePartition` funnels its whole input through ONE
    task, so it is only scale-safe above a bounded intermediate. Two
    checks per exchange (ADVICE r7 strengthened the first into the
    second): (a) the input subtree contains a bounding node at all,
    and (b) EVERY file-scan→exchange path crosses a bounding node —
    a join below the exchange with one aggregated branch and one
    fact-sized branch passes (a) but funnels fact-scale rows through
    one task; (b) catches it."""
    bad = {}
    for name in registry.names():
        df = registry.get(name).fn(spark, SF_DIR)
        subs = pa.single_partition_subtrees(df)
        unbounded = [s for s in subs if not _BOUNDING.search(s)]
        unbounded += [
            p
            for p in pa.single_partition_scan_paths(df)
            if not _PATH_BOUNDING.search(p)
        ]
        if unbounded and name not in ALLOWED_UNBOUNDED_SINGLE_PARTITION:
            bad[name] = unbounded[0].splitlines()[:6]
    assert not bad, f"fact-sized single-partition exchanges: {bad}"


def test_domain_cap_window_group_limit(spark):
    """curation_domain_cap's rank<=50 must push below the source
    exchange (WindowGroupLimit): a head domain then ships at most
    50 rows per map task instead of its full document set."""
    df = _q(spark, "curation_domain_cap")
    assert "WindowGroupLimit" in pa.executed_plan(df)


def test_q19_pushes_single_side_residuals(spark):
    """Catalyst must decompose the OR-of-ANDs predicate: the brand
    disjunction is derivable for the part side and must reach the
    part scan as a pushed filter, not evaluate post-join."""
    df = _q(spark, "tpch_q19_disjunctive_join")
    assert pa.has_pushed_filter(df, "p_brand")
    assert pa.has_broadcast_join(df)


def test_q6_pushes_all_three_predicates(spark):
    """TPC-H Q6's date/discount/quantity conjunction must reach the
    parquet scan as pushed filters — row-group pruning at scale."""
    df = _q(spark, "tpch_q6_forecast_revenue")
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert pa.has_pushed_filter(df, col), col
    assert pa.has_partial_final_agg(df)


def test_quantized_topk_single_pass_plan(spark):
    """sim_quantized_topk must be the ideal retrieval plan: one scan,
    per-task k-heap (TakeOrderedAndProject), ZERO exchanges — the
    shape that stays a single pass at 100 TB."""
    df = _q(spark, "sim_quantized_topk")
    plan = pa.executed_plan(df)
    assert pa.has_take_ordered(df)
    assert "Exchange" not in plan


def test_bitmap_distinct_single_agg_chain(spark):
    """a_bitmap_distinct must be ONE aggregation chain (tile agg →
    word merge → rollup): a split tiles→{merge, count} shape would
    re-run the tile aggregation per consumer (the r5 fix)."""
    df = _q(spark, "a_bitmap_distinct")
    plan = pa.executed_plan(df)
    # one scan of events only
    assert plan.count("Scan parquet") == 1
    assert pa.has_partial_final_agg(df)


def test_skew_salted_join_no_nested_loop(spark):
    """j_skew_salted's (key, salt) equi-join must plan as a hash/SMJ
    join — salting must never degrade to a nested loop."""
    df = _q(spark, "j_skew_salted")
    plan = pa.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_validation_form_has_no_nested_loop(spark):
    """sim_ivf_topk's flags are literals over the collected exact
    top-10 (the IVF ids are collected too), so its plan joins nothing:
    no broadcast flags frame, no nested loop."""
    plan = pa.executed_plan(_q(spark, "sim_ivf_topk"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _unpartitioned_windows(df) -> int:
    """Window operators of the optimized plan with no partition spec:
    Spark runs each in one task and logs a warning for it."""
    nodes, found = [df._jdf.queryExecution().optimizedPlan()], 0
    while nodes:
        node = nodes.pop()
        if node.getClass().getSimpleName() == "Window":
            found += node.partitionSpec().isEmpty()
        kids = node.children()
        nodes.extend(kids.apply(i) for i in range(kids.size()))
    return found


def test_ivf_validation_form_has_no_unpartitioned_window(spark):
    """sim_ivf_topk's recall count is taken over the collected exact
    top-10, not by a window over the whole result."""
    assert _unpartitioned_windows(_q(spark, "sim_ivf_topk")) == 0
    # The check sees the form it replaced.
    df = spark.range(3).select(F.sum("id").over(Window.partitionBy()).alias("n"))
    assert _unpartitioned_windows(df) == 1


ARROW_KERNEL_ENTRIES = (
    "sim_knn_join_arrow",
    "dedup_semantic_arrow",
    "sim_hard_negatives_arrow",
)


def test_arrow_kernels_have_no_range_exchange(spark):
    """An Arrow kernel's output ends in a partition-local sort: a
    global sort's range exchange samples its child first, which runs
    the applyInPandas kernel a second time."""
    for name in ARROW_KERNEL_ENTRIES:
        plan = pa.executed_plan(_q(spark, name))
        assert "FlatMapGroupsInPandas" in plan, name
        assert "rangepartitioning" not in plan, name


def test_kmeans_argmin_uses_window_group_limit(spark):
    """ml_kmeans_int's per-point argmin (rn = 1 over dist, cid) must
    push below the exchange as WindowGroupLimit — each map task ships
    one candidate row per vector, not k."""
    df = _q(spark, "ml_kmeans_int")
    assert "WindowGroupLimit" in pa.executed_plan(df)


def test_mad_outliers_broadcasts_scalars(spark):
    """a_mad_outliers' per-group medians/MADs must ride broadcast
    joins back onto the fact — group-cardinality frames, never a
    fact-sized shuffle join."""
    df = _q(spark, "a_mad_outliers")
    assert pa.has_broadcast_join(df)


def test_every_window_entry_has_a_plan_section():
    """PLANS.md window contract (VERDICT r10 #3): every driver-window
    entry must have a checked-in EXPLAIN section. dump_plans.py now
    derives its query list mechanically from registry._PRIORITY_WINDOW
    (two consecutive rounds the hand-maintained list missed entries);
    this guard asserts the committed ARTIFACT satisfies the contract,
    so a window rotation without a PLANS.md regeneration fails the
    suite instead of shipping a hole."""
    with open("/root/repo/PLANS.md") as f:
        headers = {
            ln[3:].strip() for ln in f if ln.startswith("## ")
        }
    missing = [n for n in registry._PRIORITY_WINDOW if n not in headers]
    assert not missing, f"window entries missing PLANS.md sections: {missing}"
