"""Scalable deterministic dense-id assignment.

The reference's arc identity is *position in a Python list* (SURVEY.md §1.1);
at scale we carry content-derived keys through the pipeline and only mint
dense positional ids where the TopoJSON output format demands them. A global
``row_number()`` window would funnel everything through one reducer, so ids
are minted with the classic two-phase range-partition trick:

  1. range-repartition + sort within partitions by the order key,
  2. count rows per partition (small collect),
  3. add ``partition_offset + local_position`` in a mapInPandas pass.

No per-row Python, no single-partition shuffle; cost is one extra pass.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def prefix_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    val_col: str,
    out_col: str = "prefix",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach the EXCLUSIVE running sum of ``val_col`` over the total order
    of ``order_cols`` (row i gets the sum of all strictly-earlier rows).

    Same two-phase range-partition trick as dense_index — a global window
    ``SUM() OVER (ORDER BY ...)`` would funnel everything through one
    reducer; here the only serial step is a collect of per-partition totals
    (O(partitions) rows). Deterministic for a given input dataset when
    ``order_cols`` is a total order."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    arranged = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    arranged = arranged.cache()

    sums = (
        arranged.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.sum(F.col(val_col)).alias("s"))
        .collect()
    )
    size_map = {r["pid"]: int(r["s"] or 0) for r in sums}
    offsets = {}
    acc = 0
    for pid in sorted(size_map):
        offsets[pid] = acc
        acc += size_map[pid]

    schema = T.StructType(
        arranged.schema.fields + [T.StructField(out_col, T.LongType())]
    )

    def attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        pos = offsets.get(pid, 0)
        for pdf in batches:
            vals = pdf[val_col].to_numpy()
            out = pdf.copy()
            run = vals.cumsum()
            out[out_col] = pos + run - vals  # exclusive
            pos += int(run[-1]) if len(vals) else 0
            yield out

    return arranged.mapInPandas(attach, schema=schema)


def dense_index(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str = "idx",
    num_partitions: int | None = None,
    key_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Attach a dense 0-based long ``out_col`` following the total order of
    ``order_cols``. Deterministic for a given input dataset.

    With ``key_cols`` (a unique key), the two-phase machinery runs over a
    NARROW (key + order) projection and the ids join back on the key —
    wide payload columns (coordinate arrays) cross the wire once, in the
    final hash join, instead of riding the range shuffle + cache + Arrow
    attach round-trip. Use whenever ``df`` carries payload wider than its
    keys; bytes moved per id minted drop by ~2 full passes of the frame."""
    if key_cols:
        narrow = df.select(*dict.fromkeys([*key_cols, *order_cols]))
        ids = dense_index(narrow, order_cols, out_col, num_partitions)
        return df.join(
            ids.select(*key_cols, out_col), on=list(key_cols)
        )
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    arranged = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    arranged = arranged.cache()

    sizes = (
        arranged.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    size_map = {r["pid"]: r["count"] for r in sizes}
    offsets = {}
    acc = 0
    for pid in sorted(size_map):
        offsets[pid] = acc
        acc += size_map[pid]

    schema = T.StructType(
        arranged.schema.fields + [T.StructField(out_col, T.LongType())]
    )

    def attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        pos = offsets.get(pid, 0)
        for pdf in batches:
            out = pdf.copy()
            out[out_col] = range(pos, pos + len(pdf))
            pos += len(pdf)
            yield out

    return arranged.mapInPandas(attach, schema=schema)
