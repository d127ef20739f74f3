"""Hashmap stage: resolve per-ring arc sequences into signed TopoJSON arcs.

Re-expresses /root/reference/topojson/core/hashmap.py:137-328. The decision
logic (_hash_order / _backward_arcs / _resolve_orient) is inherently
sequential *within one ring* but embarrassingly parallel across rings, so it
runs as an Arrow-batched pandas pass over rows of

    (feature_seq, unit_seq, ring_seq, [ordered arc refs + flags + summaries])

Scale design: the full arc coordinate arrays never reach this stage. All the
reference's per-arc decisions consume only arc *endpoints*
(hashmap.py:221-228 coord_f/coord_l) and, for the order-3 winding check, the
ring's signed area (hashmap.py:313-328). The signed area of the stitched ring
decomposes exactly into per-arc open-chain shoelace partials plus the cyclic
connection cross-terms between consecutive oriented endpoints (duplicate join
vertices contribute zero in the reference's cyclic formula, ops.py:338-357),
so each arc ships as a fixed-size 6-number summary computed JVM-side — the
join/groupBy here shuffles O(refs) small structs, not O(refs x arc length)
coordinates.

Negative encoding: reversed traversal of arc i is written -(i+1)
(hashmap.py:258), decoded downstream with ~arc.
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..options import TopoOptions

RESOLVED_SCHEMA = T.StructType(
    [
        T.StructField("feature_seq", T.LongType()),
        T.StructField("fkey", T.StringType()),
        T.StructField("object_name", T.StringType()),
        T.StructField("unit_seq", T.IntegerType()),
        T.StructField("ring_seq", T.IntegerType()),
        T.StructField("signed_arcs", T.ArrayType(T.LongType())),
    ]
)

def _hash_order(arc_ids: np.ndarray, shared_bool: np.ndarray):
    """Port of hashmap.py:137-196 (decision list per shared/non-shared run)."""
    split_arc_ids = np.split(arc_ids, np.nonzero(~shared_bool)[0])
    split_boolean = np.split(shared_bool, np.nonzero(~shared_bool)[0])
    order_of_arc: List[Optional[int]] = [None] * len(split_boolean)
    if len(split_boolean) == 1:
        order_of_arc[0] = 3
    else:
        for idx, split_geom in enumerate(split_boolean):
            if len(split_geom) == 0:
                order_of_arc[idx] = 0
            elif split_geom.sum() == 0:
                order_of_arc[idx] = 0
            elif split_geom.sum() == len(split_geom):
                next_arc = split_arc_ids[idx + 1][0]
                split_arc_ids[idx] = np.append(split_arc_ids[idx], next_arc)
                order_of_arc[idx] = 2
            else:
                order_of_arc[idx] = 1
    return order_of_arc, split_arc_ids


def resolve_ring_winding(
    out: List[int],
    order: int,
    info_by_id: dict,
    inner: bool,
    winding_order: Optional[str],
) -> List[int]:
    """hashmap.py:296-309: the order-3 winding double-check for one
    polarity (inner vs outer ring) — cheap endpoint math, so both
    polarities of a line share one backward_arcs_core pass."""
    if order != 3:
        return [int(v) for v in out]
    if inner and winding_order == "CCW_CW":
        need_ccw = False
    elif not inner and (winding_order == "CW_CCW" or winding_order is None):
        need_ccw = False
    else:
        need_ccw = True
    return [int(v) for v in _resolve_orient(list(out), need_ccw, info_by_id)]


def backward_arcs_core(
    arc_ids: List[int],
    shared: List[bool],
    info_by_id: dict,
):
    """Port of hashmap.py:198-311 including the loop-carried
    previous_arc_backwards state, WITHOUT the final order-3 winding
    resolution (polarity-dependent; applied by resolve_ring_winding).
    Returns (signed arc ids, last split run's order).

    ``info_by_id`` maps final arc id -> (first_pt, last_pt, shoelace_partial)
    where the points are (x, y) tuples; endpoint equality is exact float
    equality, matching the reference's np.array_equiv on raw coords."""
    arc_ids = np.asarray(arc_ids, dtype=np.int64)
    shared_bool = np.asarray(shared, dtype=bool)
    order_of_arc, split_arc_ids = _hash_order(arc_ids, shared_bool)

    order = 0
    for idx_outer, split_arc in enumerate(split_arc_ids):
        order = order_of_arc[idx_outer]
        if order == 0:
            continue
        if order == 2:
            split_arc = split_arc[::-1]

        previous_arc_backwards = False
        for idx, arc_idx in enumerate(split_arc):
            if idx == 0:
                continue
            arc_idx_prev = split_arc[idx - 1]
            if arc_idx_prev < 0:
                arc_idx_prev = abs(arc_idx_prev) - 1

            coord_f, coord_l, _ = info_by_id[int(arc_idx)]
            f_prev, l_prev, _ = info_by_id[int(arc_idx_prev)]
            if not previous_arc_backwards:
                coord_f_prev, coord_l_prev = f_prev, l_prev
            else:
                coord_f_prev, coord_l_prev = l_prev, f_prev

            if order == 1:
                if coord_l_prev != coord_f:
                    split_arc[idx] = -(arc_idx + 1)
                    previous_arc_backwards = True
                else:
                    previous_arc_backwards = False
            elif order == 2:
                if coord_f_prev != coord_l:
                    split_arc[idx] = -(arc_idx + 1)
                    previous_arc_backwards = True
                else:
                    previous_arc_backwards = False
            elif order == 3:
                if coord_f_prev == coord_l and coord_l_prev != coord_f:
                    split_arc[idx - 1] = -(arc_idx_prev + 1)
                    split_arc[idx] = -(arc_idx + 1)
                    previous_arc_backwards = True
                elif coord_f == coord_f_prev:
                    split_arc[idx - 1] = -(arc_idx_prev + 1)
                    previous_arc_backwards = False
                elif coord_l_prev != coord_f:
                    split_arc[idx] = -(arc_idx + 1)
                    previous_arc_backwards = True
                else:
                    previous_arc_backwards = False

        if order == 2:
            split_arc_ids[idx_outer] = split_arc[::-1]
        else:
            split_arc_ids[idx_outer] = split_arc

    comb = np.concatenate(split_arc_ids).flatten()
    _, idx_arcs = np.unique(comb, return_index=True)
    out = comb[np.sort(idx_arcs)].tolist()

    # NOTE: like the reference, `order` is the *last* split run's order
    return [int(v) for v in out], order


def _resolve_orient(arcs_idx: List[int], need_ccw: bool, info_by_id: dict):
    """hashmap.py:313-328: stitch the ring, test winding, flip all if wrong.

    The stitched ring's cyclic shoelace sum = sum of oriented per-arc
    partials + cross-terms of the connection edges (end_k -> start_{k+1},
    cyclically). Exactly the reference's signed_area over the vstacked ring
    (ops.py:338-357): its duplicated join vertices contribute zero there,
    and here coinciding endpoints give cross(p, p) = 0."""
    total = 0.0
    ends = []  # oriented (first, last) per arc
    for arc_idx in arcs_idx:
        if arc_idx < 0:
            f, l, shl = info_by_id[int(~arc_idx)]
            ends.append((l, f))
            total -= shl
        else:
            f, l, shl = info_by_id[int(arc_idx)]
            ends.append((f, l))
            total += shl
    k = len(ends)
    for i in range(k):
        e = ends[i][1]
        s = ends[(i + 1) % k][0]
        total += e[0] * s[1] - s[0] * e[1]
    ring_is_ccw = (total / 2.0) >= 0.0
    if ring_is_ccw != need_ccw:
        return (np.array(arcs_idx) * -1 - 1).tolist()
    return arcs_idx


_RESOLVED_D_SCHEMA = T.StructType(
    [
        T.StructField("ldig", T.BinaryType()),
        T.StructField("inner", T.BooleanType()),
        T.StructField("signed_arcs", T.ArrayType(T.LongType())),
    ]
)


def hashmap_stage(
    line_refs: DataFrame,
    pmap: DataFrame,
    arcs_final: DataFrame,
    options: TopoOptions,
) -> DataFrame:
    """Resolve every line row's arc refs into signed arc lists.

    Scale design — resolve per DISTINCT line: the signed-arc decision is a
    function of (the line's arc sequence, inner-vs-outer ring, winding
    option) only, and the arc sequence is a function of the line digest. So
    the sequential reference logic runs once per ldig — both ring
    polarities come out of a single backward_arcs_core pass (the winding
    double-check is polarity-dependent but endpoint-cheap) — and the result
    joins back to the O(features) rows on (ldig, inner); duplicate-heavy
    corpora never repeat it. ``arcs_final`` is unused (the endpoint +
    open-chain-shoelace summaries ride pmap, minted in the cut kernel's
    numpy pass — see cut.part_summary); kept in the signature for
    call-site clarity.
    """
    winding = options.winding_order

    # per-distinct-line ordered entries, shipped to Python as parallel
    # PRIMITIVE arrays (Arrow hands them over as numpy arrays) —
    # array-of-struct would surface as one Python dict per entry
    per_line = (
        pmap.groupBy("ldig")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "split_seq", "final_idx", "is_shared",
                        "fx", "fy", "lx", "ly", "shl",
                    )
                )
            ).alias("entries")
        )
        .select(
            "ldig",
            F.expr("transform(entries, e -> e.final_idx)").alias("ids"),
            F.expr("transform(entries, e -> e.is_shared)").alias("shr"),
            F.expr("transform(entries, e -> e.fx)").alias("fx"),
            F.expr("transform(entries, e -> e.fy)").alias("fy"),
            F.expr("transform(entries, e -> e.lx)").alias("lx"),
            F.expr("transform(entries, e -> e.ly)").alias("ly"),
            F.expr("transform(entries, e -> e.shl)").alias("shl"),
        )
    )

    def resolve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                ids = [int(v) for v in row.ids]  # split_seq-sorted
                if len(ids) > 1:
                    info = {
                        i: ((xf, yf), (xl, yl), s)
                        for i, xf, yf, xl, yl, s in zip(
                            ids, row.fx, row.fy, row.lx, row.ly, row.shl
                        )
                    }
                    base, order = backward_arcs_core(
                        ids, [bool(b) for b in row.shr], info
                    )
                    for inner in (False, True):
                        out.append((
                            row.ldig,
                            inner,
                            resolve_ring_winding(
                                base, order, info, inner, winding
                            ),
                        ))
                else:
                    out.append((row.ldig, False, ids))
                    out.append((row.ldig, True, ids))
            yield pd.DataFrame(
                out, columns=[f.name for f in _RESOLVED_D_SCHEMA.fields]
            )

    resolved_d = per_line.mapInPandas(resolve, schema=_RESOLVED_D_SCHEMA)
    return (
        line_refs.withColumn("inner", F.col("ring_seq") > 0)
        .join(resolved_d, on=["ldig", "inner"])
        .select(
            "feature_seq",
            "fkey",
            "object_name",
            "unit_seq",
            "ring_seq",
            "signed_arcs",
        )
    )
