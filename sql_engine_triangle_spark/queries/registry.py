"""Central query registry.

Each registered query is the engine-facade form of one operator (or
operator pipeline) from SURVEY.md §2. An entry carries:

- ``fn(spark, sf_dir) -> DataFrame`` — the Spark form;
- ``oracle`` — ANSI SQL that DuckDB runs over the same Parquet for
  differential testing (SURVEY.md §5), or ``None`` for genuinely
  non-SQL-expressible ops (sketches with engine-specific hash
  functions, streaming state, stubs) — those get rows-only checks;
- ``tags`` — SURVEY.md §2 operator ids covered (e.g. "A5", "W1");
- ``doc`` — why the entry is shaped the way it is.

There are two registration forms:

- ``register_sql(name, text, ...)`` — ONE SQL text serves both
  engines. The text names fixture tables as ``{lineitem}``-style
  placeholders: Spark binds each to ``catalog.load_table`` through
  ``spark.sql``'s formatter (a uniquely named temp view, dropped after
  analysis), and the stored oracle is the same text with each
  placeholder replaced by the bare table name. A broadcast is a
  ``/*+ BROADCAST(alias) */`` hint, which DuckDB reads as a comment.
  Spark joins in the written order (join reordering is off by
  default), so a text names the fact table first and the dimensions
  after it.
- ``@register(name, oracle=...)`` — a DataFrame builder with its own
  oracle. Use it only where one text cannot serve both engines: the
  entry calls into ``operators/``, ``sources/`` or ``streaming/``, its
  Spark form has no DuckDB spelling (sketches, Arrow kernels,
  higher-order folds), or the oracle text plans worse in Spark (a
  nested-loop join or an extra scan the builder avoids).

Column-name discipline: a builder aliases every computed column
identically in its DataFrame code and its oracle SQL; result ordering
is made deterministic (explicit tie-break keys) wherever a LIMIT
exists.
"""

from __future__ import annotations

import string
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from sql_engine_triangle_spark.catalog import TABLES, load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    sql: str | None = None  # the placeholder text of a register_sql entry


_REGISTRY: dict[str, RegisteredQuery] = {}


def _add(q: RegisteredQuery) -> None:
    if q.name in _REGISTRY:
        raise ValueError(f"duplicate query name {q.name!r}")
    _REGISTRY[q.name] = q


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a DataFrame query builder to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        _add(RegisteredQuery(name, fn, oracle, tags, fn.__doc__ or ""))
        return fn

    return deco


def sql_tables(text: str) -> tuple[str, ...]:
    """The fixture tables a ``register_sql`` text names, in first-use
    order. Every placeholder must be a bare ``catalog.TABLES`` name."""
    found: list[str] = []
    for _, field_name, spec, conversion in string.Formatter().parse(text):
        if field_name is None:
            continue
        if field_name not in TABLES or spec or conversion:
            raise ValueError(
                f"placeholder {{{field_name}}} is not a fixture table; "
                f"known: {TABLES}"
            )
        if field_name not in found:
            found.append(field_name)
    return tuple(found)


def register_sql(
    name: str, text: str, tags: tuple[str, ...] = (), doc: str = ""
) -> None:
    """Add an entry served from one SQL text on both engines (a
    literal brace in the text is written doubled)."""
    tables = sql_tables(text)

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(text, **{t: load_table(spark, sf_dir, t) for t in tables})

    fn.__name__ = fn.__qualname__ = name
    oracle = text.format(**{t: t for t in tables})
    _add(RegisteredQuery(name, fn, oracle, tags, doc, sql=text))


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent).
    Imported lazily to avoid circular imports at package init; import
    errors propagate — a broken module must fail loudly, not silently
    shrink the driver contract."""
    from sql_engine_triangle_spark.queries import (  # noqa: F401
        aux_ops,
        core,
        curation_ops,
        ingest_ops,
        llm_ops,
        streaming_ops,
        tpch_like,
        warehouse_ops,
    )


# The external correctness driver ingests only the FIRST 50 entries of
# ``queries()`` in dict order, so the window below is a coverage
# decision, not cosmetics: every slot holds an oracle-backed entry.
# Entries outside it stay in the full-registry oracle sweep (tests),
# which runs every entry regardless of order. COVERAGE.md records each
# rotation and the entries it displaced.
_PRIORITY_WINDOW: tuple[str, ...] = (
    "q1_agg_by_type",
    "q2_town_month_rollup",
    "q3_yoy_window",
    "q4_top_nations_percentiles",
    "q4_semi_join_form",
    "sub_quantified_anyall",
    "a_cms_partial_rollup",
    "sample_temperature_mixture",
    "curation_dsir_importance",
    "ml_odds_ratio_classifier",
    "eval_rank_agreement",
    "graph_jaccard_neighbors",
    "graph_label_propagation",
    "maint_data_quality_checks",
    "text_bpe_train_merges",
    "ml_auc_exact",
    "a_seasonal_index",
    "w_cusum_drift",
    "w_holt_linear_int",
    "a_trend_mann_kendall",
    "text_lm_stupid_backoff",
    "w_sessionize",
    "w_scd2_history",
    "curation_t_closeness",
    "eval_dedup_precision_recall",
    "asof_nearest_attribution",
    "j_range_bands_bucketed",
    "a_percentile_partial_rollup",
    "u_multiset_ops",
    "sim_sparse_cosine_pairs",
    "eval_ivfpq_mrr_recall",
    "sim_ivfpq_adc_topk",
    "ml_power_iteration",
    "dedup_semantic_arrow",
    "eval_crossmodal_consistency",
    "eval_bm25_mrr_recall",
    "text_bm25_topk",
    "dedup_image_phash",
    "text_tokenize_bpe",
    "maint_partition_skew_report",
    "dedup_audio_fingerprint",
    "dedup_video_keyframes",
    "pipeline_quality_dup_calibration",
    "sim_mmr_diversified",
    "ml_calibration_ece",
    "pipeline_token_budget_bpe",
    "curation_l_diversity",
    "pipeline_corpus_build_decontam",
    "pipeline_multimodal_corpus_build",
    "stream_closed_sessions",
)


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    missing = [n for n in _PRIORITY_WINDOW if n not in _REGISTRY]
    if missing:  # a renamed/removed entry must fail loudly, not shrink coverage
        raise RuntimeError(f"priority window names not registered: {missing}")
    ordered = {n: _REGISTRY[n].fn for n in _PRIORITY_WINDOW}
    ordered.update(
        (name, q.fn) for name, q in _REGISTRY.items() if name not in ordered
    )
    return ordered


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {name: q.oracle for name, q in _REGISTRY.items() if q.oracle is not None}


def get(name: str) -> RegisteredQuery:
    _ensure_loaded()
    return _REGISTRY[name]


def names() -> list[str]:
    _ensure_loaded()
    return sorted(_REGISTRY)
