"""Stage-output pinning.

Two flavors:

- ``pin``: SQL columnar cache (compressed byte buffers, spills to disk).
  Lineage stays intact — re-derivable after executor loss.
- ``pin_truncate``: lazy ``localCheckpoint`` — persists AND replaces the
  logical plan with a LogicalRDD. The topology pipeline chains six stages
  whose *analysis* cost grows with the accumulated plan (every derived
  frame re-analyzes the whole tree, and AQE re-plans it per exchange);
  truncating at the stage boundaries keeps downstream plans O(stage)
  instead of O(pipeline). Tradeoff: checkpoint blocks are not re-derivable
  after executor loss — acceptable for interactive jobs because durable
  resume goes through write_tables/read_tables (north rule).

For LONG jobs, ``durable_stage_checkpoints`` upgrades every pin_truncate
inside its scope to a parquet write+read at ``options.checkpoint_dir``:
stage outputs survive executor AND driver loss, and a re-run with
``checkpoint_resume=True`` picks up mid-pipeline from the last completed
stage (stages are numbered in deterministic pipeline order; a stage is
trusted only when its parquet ``_SUCCESS`` marker exists)."""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_ctx = threading.local()


def pin(df: DataFrame) -> DataFrame:
    """Lazily persist a stage output (columnar, memory-then-disk)."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


@contextmanager
def durable_stage_checkpoints(root: str, resume: bool = False):
    """Within this scope, pin_truncate writes stage parquet under ``root``.

    Writes are EAGER (each stage boundary materializes when the pipeline is
    built) — that is the point: a killed job leaves completed stages on
    storage. With ``resume=True``, a stage whose ``_SUCCESS`` marker exists
    is read back instead of recomputed, so only the tail of the pipeline
    re-runs. Stage numbering is call-order within the scope, which is
    deterministic for a given (input, options) because every branch decision
    upstream of a pin derives from already-pinned frames."""
    _ctx.root = root
    _ctx.resume = resume
    _ctx.n = 0
    try:
        yield
    finally:
        _ctx.root = None


def _pin_durable(df: DataFrame) -> DataFrame:
    i = _ctx.n
    _ctx.n += 1
    path = os.path.join(_ctx.root, f"stage_{i:03d}")
    spark = df.sparkSession
    if not (_ctx.resume and os.path.exists(os.path.join(path, "_SUCCESS"))):
        df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def pin_truncate(df: DataFrame) -> DataFrame:
    """Lazily persist AND truncate logical lineage (stage boundary).

    The wide stage outputs (extract.unified, cut.parts, dedup.arcs_final)
    use this, not ``pin``: the columnar cache keeps lineage, and every
    downstream action re-ran the exchanges behind it (measured at 20k
    docs: 3x the stages and 3x the wall of this checkpoint)."""
    if getattr(_ctx, "root", None) and not df.isStreaming:
        return _pin_durable(df)
    return df.localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK_DESER
    )


def release_pins(spark) -> int:
    """Drop every block the engine has pinned in this session: the SQL
    cache (``pin``) and all persistent RDDs, which is where
    ``localCheckpoint`` blocks live (``pin_truncate``).

    Long-lived drivers (notebooks, services) that build many topologies
    accumulate stage blocks otherwise — each construction pins a handful of
    stage outputs that nothing releases, and on a shared cluster that is
    executor memory taken from every subsequent job. Call between
    constructions once a Topology's outputs have been written/collected.
    Returns the number of RDDs unpersisted. Frames produced by
    ``pin_truncate`` are NOT recomputable afterwards (lineage was
    truncated) — re-run the pipeline or use durable checkpoints if the
    outputs are still needed."""
    spark.catalog.clearCache()
    # py4j surfaces the java.util.Map as a dict-like JavaMap
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for r in rdds:
        r.unpersist()
    return len(rdds)
