"""Concurrent materialization of independent intermediates.

The repo's standard fix for multi-consumer subtrees is an eager
``localCheckpoint()`` (CLAUDE.md: Catalyst shares no exchange across
different downstream aggregations). Composed entries chain several
SUCH checkpoints whose lineages are mutually independent — and each
eager checkpoint is one sequential driver job, so on small inputs the
per-job overhead (scheduling + planning + Arrow/py4j roundtrips)
dominates the entry's wall-clock: the r11 optimization round measured
4 independent fingerprint/shingle checkpoints at 2.8 s serial vs
0.78 s concurrent on local[32].

``checkpoint_all`` submits the materializations from a small thread
pool (guide §2.6 "overlap independent jobs": Spark's scheduler runs
several jobs at once; actions are only sequential because driver code
calls them sequentially). FIFO scheduling back-fills executors freed
by one job's tail with the next job's tasks. Results are unaffected:
each frame materializes exactly the rows it would have materialized
sequentially.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


# Concurrent-materialization width (VERDICT r11 #3 / ADVICE r11):
# enough in-flight jobs to back-fill executor tails, bounded so a
# wide call cannot stampede the driver's scheduler (guide §2.6: "2-3
# jobs in flight is plenty"; 8 covers every current call site
# without queueing).
MAX_CONCURRENT_CHECKPOINTS = 8

_CHECKPOINT_DIR_LOCK = threading.Lock()


def scale_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize a DATA-PROPORTIONAL intermediate (corpus-sized
    tokenized / term-frequency / exploded-shingle frames — rows grow
    with total tokens, not |docs|). VERDICT r11 #2: default
    MEMORY_AND_DESER localCheckpoint of such frames is a 100 TB
    liability — executors must HOLD a corpus-sized intermediate in
    storage memory, evicting execution memory. Two scale-dependent
    knobs, parameterised per the optimization-round rules (local
    defaults keep the driver's bench comparable):

    - default: ``localCheckpoint(storageLevel=DISK_ONLY)`` — same
      lineage truncation and plan-dedup win, but blocks live on
      executor-local disk (the natural home of shuffle-sized data)
      instead of competing with execution memory. Bench-neutral at
      fixture scale (A/B in OPTIMIZATION_r12.md).
    - ``$SPARK_GRAFT_CHECKPOINT_DIR`` set (cluster deployments):
      a RELIABLE ``df.checkpoint()`` into that directory, surviving
      executor loss — localCheckpoint blocks are unrecoverable
      (lineage is truncated), so on a real cluster one lost executor
      would otherwise fail the job (guide §5; SCALE.md
      "bounded-vs-proportional" rule). Spark 4 writes the checkpoint
      files in the job that computes the frame, so the lineage runs
      once with no persist (pinned by tests/test_concurrency.py).

    BOUNDED per-doc aggregates (|docs|-row signature/shingle-set/
    fingerprint frames) deliberately keep the plain localCheckpoint
    default — they are metadata-sized at any corpus scale and the
    memory level is the faster read."""
    ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckdir:
        _use_checkpoint_dir(df.sparkSession.sparkContext, ckdir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY)


def _use_checkpoint_dir(sc, ckdir: str) -> None:
    """Point reliable checkpoints at ``ckdir`` unless they already
    write under it: each ``setCheckpointDir`` makes a new directory
    below ``ckdir``, and ``checkpoint_all`` calls from pool threads."""
    path = sc._jvm.org.apache.hadoop.fs.Path(ckdir)
    want = path.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(path).toString()
    with _CHECKPOINT_DIR_LOCK:
        current = sc.getCheckpointDir()
        if current is None or current.rsplit("/", 1)[0] != want:
            sc.setCheckpointDir(ckdir)


def checkpoint_all(
    *dfs: DataFrame, disk_only: tuple[bool, ...] | None = None
) -> list[DataFrame]:
    """Eagerly localCheckpoint every frame, materializing them as
    CONCURRENT driver jobs. The frames' lineages must not depend on
    one another (callers phase their checkpoints: everything inside
    one call is independent; dependents go in a later call —
    tests/test_concurrency.py pins this invariant on the shipped
    call sites). ``disk_only[i]`` routes frame i through
    ``scale_checkpoint`` (data-proportional frames; see its
    docstring) instead of the plain in-memory localCheckpoint."""
    if not dfs:
        return []
    flags = disk_only or (False,) * len(dfs)
    if len(flags) != len(dfs):
        raise ValueError(
            f"disk_only has {len(flags)} flags for {len(dfs)} frames"
        )

    def _ckpt(pair):
        df, disk = pair
        return scale_checkpoint(df) if disk else df.localCheckpoint()

    if len(dfs) == 1:
        return [_ckpt((dfs[0], flags[0]))]
    workers = min(len(dfs), MAX_CONCURRENT_CHECKPOINTS)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        return list(pool.map(_ckpt, zip(dfs, flags)))
