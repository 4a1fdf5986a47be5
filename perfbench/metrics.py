"""Metric names, units, and the per-layer metrics derived from spans.

Every run prints every metric of its kind. A per-layer metric of a
layer the workload does not call reads 0.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from perfbench.stats import median
from perfbench.trace import Tracer

END_TO_END = {
    "setup_s": "s",
    "op_mean_s": "s",
    "rows_per_s": "rows/s",
    "retained_mb": "MB",
}

REF_QUERIES = ("ref_q1", "ref_q2", "ref_q3", "ref_q4")
CURATION_ENTRIES = (
    "dedup_minhash_lsh",
    "dedup_semantic_arrow",
    "sim_ivf_topk",
    "text_quality_scores",
)

# Time metrics are the median duration of the spans of the same name
# without the unit suffix ("ref_q1.build_s" <- spans "ref_q1.build",
# "merge.s" <- spans "merge").
SPAN_TIMES = (
    [f"{q}.{part}_s" for q in REF_QUERIES for part in ("build", "exec")]
    + ["fresh_read.build_s", "fresh_read.exec_s"]
    + ["ingest.parse_s", "ingest.write_s", "merge.s", "maintenance.compact_s"]
    + [f"{e}.s" for e in CURATION_ENTRIES]
)
# Tasks run by one call of each curation entry, checkpoint jobs of the
# engine's own threads included (median per call).
ENTRY_TASKS = [f"{e}.tasks" for e in CURATION_ENTRIES]

PER_LAYER = {
    "session.start_s": "s",
    **{name: "s" for name in SPAN_TIMES},
    "sim_ivf_topk.first_s": "s",
    **{name: "count" for name in ENTRY_TASKS},
    "concurrency.persisted_rdds": "count",
    "catalog.listing_jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "ingest.files_written": "count",
    "ingest.bad_rows": "count",
    "merge.rows_out": "count",
    "maintenance.files_before": "count",
    "maintenance.files_after": "count",
    "maintenance.bytes": "bytes",
    "storage.bytes_per_user_byte": "ratio",
}


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    setup_s: float  # from the session's start to the measured phase, warm-up included
    end_to_end: dict[str, float]  # op_mean_s and rows_per_s
    samples: dict  # sample counts and context for the info line
    layer_extra: dict[str, float] = field(default_factory=dict)


def _span_name(metric: str) -> str:
    return metric[: -len(".s")] if metric.endswith(".s") else metric[: -len("_s")]


def layer_metrics(tracer: Tracer, session_s: float, extra: dict[str, float]) -> dict:
    values: dict[str, float] = {name: 0 for name in PER_LAYER}
    values["session.start_s"] = session_s
    for metric in SPAN_TIMES:
        durs = [s.dur for s in tracer.named(_span_name(metric))]
        if durs:
            values[metric] = median(durs)
    for metric in ENTRY_TASKS:
        spans = tracer.named(metric[: -len(".tasks")])
        if spans:
            values[metric] = median([tracer.subtree_count(s, "tasks") for s in spans])
    builds = [s for s in tracer.spans if s.name.endswith(".build")]
    if builds:
        values["catalog.listing_jobs"] = median([len(s.jobs) for s in builds])
    ops = tracer.roots()
    if ops:
        for key in ("jobs", "stages", "tasks"):
            values[f"exec.{key}"] = median([tracer.subtree_count(s, key) for s in ops])
        values["exec.failed_tasks"] = sum(tracer.subtree_count(s, "failed_tasks") for s in ops)
    values.update(extra)
    return {name: (values[name], unit) for name, unit in PER_LAYER.items()}
