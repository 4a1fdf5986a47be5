"""Core-query extras beyond the generic registry sweep: approx-sketch
tolerance (SURVEY.md §5) and agreement of the SQL entry points' two
ways of binding tables (SURVEY.md §3 Entry A ≡ Entry C)."""

from __future__ import annotations

from sql_engine_triangle_spark.engine import Engine
from sql_engine_triangle_spark.queries import registry
from tests.conftest import SF_DIR, assert_frames_match


def test_q4_approx_validation_all_true(spark):
    """A10/A11 driver form: the tolerance-validation entry must emit
    within-tolerance TRUE for every nation (matching its oracle's
    asserted expectation)."""
    pdf = registry.get("q4_approx_percentiles").fn(spark, SF_DIR).toPandas()
    assert len(pdf) > 0
    assert pdf["p50_within_tol"].all(), pdf[~pdf["p50_within_tol"]]
    assert pdf["uniq_within_tol"].all(), pdf[~pdf["uniq_within_tol"]]


def test_q4_approx_close_to_exact(spark):
    """A10 tolerance: approx_percentile within 5% of exact p50 (the
    lab's CH-vs-PG exact/approx pairing, q4 README.md:64 vs :222)."""
    approx = (
        registry.get("q4_approx_sketch").fn(spark, SF_DIR).toPandas().set_index("nation")
    )
    exact = (
        registry.get("q4_top_nations_percentiles")
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("nation")
    )
    joined = exact.join(approx, how="inner", rsuffix="_a")
    assert len(joined) == len(exact)
    rel = ((joined["p50_approx"] - joined["p50"]).abs() / joined["p50"]).max()
    assert rel < 0.05, f"approx p50 off by {rel:.3%}"


def test_sql_over_views_equals_placeholder_binding(spark):
    """One text, two binding paths: q1_agg_by_type's text run by
    ``Engine.sql`` over the Engine's child-session views (Entry A) and
    by ``Engine.query``, which binds each ``{table}`` placeholder to a
    frame (Entry C). Both must give the same answer (SURVEY.md §3)."""
    eng = Engine(spark, SF_DIR)
    via_views = eng.sql(registry.get("q1_agg_by_type").oracle).toPandas()
    via_placeholders = eng.query("q1_agg_by_type").toPandas()
    assert_frames_match(via_placeholders, via_views)
