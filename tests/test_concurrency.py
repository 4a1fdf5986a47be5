"""checkpoint_all contract tests (VERDICT r11 #3 / ADVICE r11):
empty-call guard, worker clamp on wide calls, value preservation,
and the phasing invariant on shipped call sites (every frame inside
one call must be buildable without another frame from the SAME
call — dependents go in a later call)."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from sql_engine_triangle_spark import concurrency
from sql_engine_triangle_spark.concurrency import (
    MAX_CONCURRENT_CHECKPOINTS,
    checkpoint_all,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_empty_call_returns_empty_list():
    assert checkpoint_all() == []


def test_mismatched_disk_only_flags_raise(spark):
    frames = [spark.range(2), spark.range(3)]
    with pytest.raises(ValueError, match="2 frames"):
        checkpoint_all(*frames, disk_only=(True,))


def test_single_frame_checkpointed(spark):
    (out,) = checkpoint_all(spark.range(5).withColumn("x", F.col("id") * 2))
    assert out.count() == 5
    assert [r["x"] for r in out.orderBy("id").collect()] == [0, 2, 4, 6, 8]


def test_wide_call_clamps_workers_and_preserves_values(spark):
    # 2x the clamp: must not raise, must preserve per-frame results
    # and order of the returned list.
    n = MAX_CONCURRENT_CHECKPOINTS * 2
    frames = [
        spark.range(3).withColumn("k", F.lit(i)).groupBy("k").count()
        for i in range(n)
    ]
    outs = checkpoint_all(*frames)
    assert len(outs) == n
    for i, out in enumerate(outs):
        rows = out.collect()
        assert len(rows) == 1
        assert rows[0]["k"] == i and rows[0]["count"] == 3


def test_reliable_checkpoint_sets_its_dir_once_and_computes_once(spark, tmp_path, monkeypatch):
    """The ``SPARK_GRAFT_CHECKPOINT_DIR`` branch of scale_checkpoint:
    one checkpoint directory for every call, and one pass over the
    lineage (the files are written by the job that computes it)."""
    ckdir = tmp_path / "ck"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckdir))
    sc = spark.sparkContext
    computed = sc.accumulator(0)

    def tick(x):
        computed.add(1)
        return x

    df = spark.range(0, 20, 1, 2).select(F.udf(tick, "long")("id").alias("id"))
    out = concurrency.scale_checkpoint(df)
    where = sc.getCheckpointDir()
    assert where.startswith(f"file:{ckdir}/")
    assert computed.value == 20
    assert sorted(r.id for r in out.collect()) == list(range(20))
    assert computed.value == 20  # read back from the checkpoint files

    assert concurrency.scale_checkpoint(spark.range(3)).count() == 3
    assert sc.getCheckpointDir() == where
    assert len(os.listdir(ckdir)) == 1


def test_clamp_constant_is_small():
    # Guard the VERDICT r11 #3 regression class: a future edit that
    # re-derives workers from len(dfs) unbounded.
    assert 2 <= MAX_CONCURRENT_CHECKPOINTS <= 16


def test_callers_do_not_reference_results_within_one_call():
    """Phasing invariant, mechanically: inside any checkpoint_all(...)
    call in the repo, no argument expression may reference a RESULT of
    that same call (a frame cannot depend on a sibling from the same
    call). Rebinding an existing name (``banded, sh =
    checkpoint_all(banded..., sh...)``) is legal — args evaluate
    before assignment — so a name only counts as a result-reference
    when it has no binding EARLIER in the same module/function scope."""
    import glob

    violations = []
    for path in glob.glob(
        os.path.join(REPO, "sql_engine_triangle_spark", "**", "*.py"),
        recursive=True,
    ):
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        # line numbers of every binding per name (assignments, fors,
        # function args), coarse but sufficient: a rebinding caller
        # always has an earlier binding line for the name.
        bound_lines: dict[str, list[int]] = {}
        for node in ast.walk(tree):
            names = []
            if isinstance(node, ast.Assign):
                for t in node.targets:
                    names += [
                        el.id for el in ast.walk(t) if isinstance(el, ast.Name)
                    ]
            elif isinstance(node, (ast.For, ast.comprehension)):
                t = node.target
                names += [
                    el.id for el in ast.walk(t) if isinstance(el, ast.Name)
                ]
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names += [
                    x.arg
                    for x in a.args + a.posonlyargs + a.kwonlyargs
                ]
            ln = getattr(node, "lineno", None)
            if ln is not None:
                for n in names:
                    bound_lines.setdefault(n, []).append(ln)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Assign):
                continue
            call = node.value
            if not (
                isinstance(call, ast.Call)
                and (
                    (isinstance(call.func, ast.Name) and call.func.id == "checkpoint_all")
                    or (
                        isinstance(call.func, ast.Attribute)
                        and call.func.attr == "checkpoint_all"
                    )
                )
            ):
                continue
            targets = set()
            for t in node.targets:
                for el in ast.walk(t):
                    if isinstance(el, ast.Name):
                        targets.add(el.id)
            for arg in call.args:
                for el in ast.walk(arg):
                    if (
                        isinstance(el, ast.Name)
                        and el.id in targets
                        and not any(
                            ln < node.lineno
                            for ln in bound_lines.get(el.id, [])
                        )
                    ):
                        violations.append(
                            f"{path}:{node.lineno} arg references sibling "
                            f"result '{el.id}'"
                        )
    assert not violations, violations


def test_module_docstring_states_independence():
    assert "independent" in (concurrency.checkpoint_all.__doc__ or "").lower()
