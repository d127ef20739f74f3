"""Join stage: bbox -> (presimplify) -> (prequantize) -> junction detection.

Re-expresses /root/reference/topojson/core/join.py:91-231 Spark-first:

- bbox: one global min/max aggregation (ops.py:417-477) with per-line
  vectorized pre-aggregation so nothing explodes.
- prequantize: per-line Arrow UDF applying the exact grid math of
  ops.py:613-671, transform broadcast as literals.
- junctions, coords-connected (``shared_coords=True``, join.py:178-198):
  the sequential neighbor-dict trick reduces to: *a vertex is a junction iff
  it occurs with >= 2 distinct sorted neighbor pairs*. That is one
  explode + two-level groupBy on quantized vertex keys — the north rule's
  "global groupBy on quantized coordinate hashes". Entirely JVM-side.
- junctions, path-connected (``shared_coords=False``, the reference default,
  join.py:200-226): envelope-overlap candidate pairs enumerated per grid
  cell (replacing the STRtree of ops.py:575-610), per-pair collinear
  overlap + linemerge in an Arrow UDF (replacing shapely
  intersection/linemerge), junctions = endpoints of merged pieces.
  Corpora whose longest line exceeds GIANT_LINE_PTS vertices escalate to a
  segment-level relational plan of the same semantics.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import kernels as K
from ..options import TopoOptions
from ..plans.pin import pin

# Cap on candidate-pair scratch cells per enumeration step inside one
# grid-cell group of the cellgrouped junction engine (~4M cells: ~32 MB
# of int64 index arrays / 4 MB of bools at peak). A dense hot cell with
# k lines therefore costs O(_PAIR_BLOCK) memory, never O(k^2).
_PAIR_BLOCK = 1 << 22

COORDS_T = T.ArrayType(T.DoubleType())  # flat interleaved x,y

# flat-coords SQL helpers: x / y streams of an interleaved coords column
_XS = ("if(size(coords) >= 2, transform(sequence(0, (size(coords) div 2) - 1), "
       "i -> coords[2*i]), array())")
_YS = ("if(size(coords) >= 2, transform(sequence(0, (size(coords) div 2) - 1), "
       "i -> coords[2*i + 1]), array())")


# ------------------------------------------------------------ bbox


def compute_bbox_stats(
    lines: DataFrame, points: DataFrame
) -> Tuple[Optional[Tuple], Optional[Tuple], int]:
    """One global aggregation returning ((minx, miny, maxx, maxy),
    (avg_w, avg_h), max_line_pts).

    max_line_pts (the longest line's vertex count) feeds the giant-line
    escalation: a cellgrouped task holds whole lines of a cell, so giant
    lines escalate to the segment-relational engine.

    cell_hint is the mean line-envelope extent (max of width/height means).
    The grid-cell self-joins (candidate pairs, junction->line assignment)
    want cells sized like a typical line's envelope: a fixed span/K grid
    degrades to a quadratic per-cell join once the corpus grows denser than
    K^2 cells, while envelope-sized cells keep each line on O(1) cells and
    each cell's occupancy proportional to true local overlap. Same single
    pass as the bbox (ops.py:417-444 analog) — no extra job. Envelopes were
    fused into the extract parse (extract.line_annotations), so this scans
    four doubles per line instead of re-walking the coords arrays.
    """
    lb = lines.select(
        F.col("x0").alias("minx"),
        F.col("y0").alias("miny"),
        F.col("x1").alias("maxx"),
        F.col("y1").alias("maxy"),
        (F.size("coords") / 2).cast("long").alias("npts"),
    )
    pb = points.select(
        F.col("x").alias("minx"),
        F.col("y").alias("miny"),
        F.col("x").alias("maxx"),
        F.col("y").alias("maxy"),
        F.lit(0).cast("long").alias("npts"),
    )
    row = (
        lb.unionByName(pb)
        .agg(
            F.min("minx").alias("minx"),
            F.min("miny").alias("miny"),
            F.max("maxx").alias("maxx"),
            F.max("maxy").alias("maxy"),
            F.avg(F.col("maxx") - F.col("minx")).alias("avg_w"),
            F.avg(F.col("maxy") - F.col("miny")).alias("avg_h"),
            F.max("npts").alias("max_pts"),
        )
        .collect()[0]
    )
    if row["minx"] is None:
        return None, None, 0
    bbox = (
        float(row["minx"]),
        float(row["miny"]),
        float(row["maxx"]),
        float(row["maxy"]),
    )
    max_pts = int(row["max_pts"] or 0)
    avg = (float(row["avg_w"] or 0.0), float(row["avg_h"] or 0.0))
    if max(avg) <= 0:
        return bbox, None, max_pts
    return bbox, avg, max_pts


# ------------------------------------------------------------ per-line UDFs

_ANNOT_T = T.StructType(
    [
        T.StructField("coords", T.ArrayType(T.DoubleType())),
        T.StructField("ldig", T.BinaryType()),
        T.StructField("pdig", T.BinaryType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
    ]
)

_ANNOT_COLS = ["coords", "ldig", "pdig", "x0", "y0", "x1", "y1"]


def _rewrite_lines(lines: DataFrame, fn) -> DataFrame:
    """Apply ``fn: (k,2) array, is_ring -> (k,2) array`` to every line and
    recompute the fused annotations (digests + envelope) in the SAME Arrow
    pass — coord-rewriting stages never add an extra full-corpus round trip
    (extract.line_annotations rationale)."""
    from .extract import line_annotations

    @F.pandas_udf(_ANNOT_T)
    def rw(coords: pd.Series, is_ring: pd.Series) -> pd.DataFrame:
        rows = [
            line_annotations(fn(K.as_np(c), bool(r)), bool(r))
            for c, r in zip(coords, is_ring)
        ]
        return pd.DataFrame(rows, columns=_ANNOT_COLS)

    other = [c for c in lines.columns if c not in _ANNOT_COLS]
    return lines.select(
        *other, rw("coords", "is_ring").alias("_a")
    ).select(*other, *[F.col(f"_a.{c}").alias(c) for c in _ANNOT_COLS])


def presimplify_lines(lines: DataFrame, factor: float, algorithm: str) -> DataFrame:
    """join.py:129-144: simplify raw linestrings before junction detection."""
    return _rewrite_lines(
        lines, lambda a, _r: K.simplify_coords(a, factor, algorithm)
    )


def quantize_lines(lines: DataFrame, bbox: Tuple, quant_factor: float) -> DataFrame:
    """ops.py:641-668 per line; the transform is derived from the global
    bbox (already aggregated) so this stage is narrow."""
    return _rewrite_lines(
        lines, lambda a, _r: K.quantize_coords(a, bbox, quant_factor)
    )


def quantize_points(points: DataFrame, bbox: Tuple, quant_factor: float) -> DataFrame:
    kx, ky = K.quantize_factors(bbox, quant_factor)
    return points.withColumn(
        "x", F.round((F.col("x") - F.lit(bbox[0])) / F.lit(kx)).cast("double")
    ).withColumn(
        "y", F.round((F.col("y") - F.lit(bbox[1])) / F.lit(ky)).cast("double")
    )


# ------------------------------------------------------------ junctions


def junctions_shared_coords(lines: DataFrame) -> DataFrame:
    """Coords-connected junction detection as a pure DataFrame plan.

    Per vertex i the neighbor pair is (coords[i-1], coords[i+1]) with the
    reference's exact wraparound (join.py:188-196: Python negative indexing
    gives prev=last for i=0; next=first for the last vertex). Junction iff
    the vertex has >= 2 distinct sorted neighbor pairs globally.

    Vertex identity is EXACT coordinate equality (the reference keys its
    neighbor dict on raw float tuples, join.py:185-198) — naturalearth-style
    data has near-identical border vertices differing at 1e-13 that must NOT
    merge; Spark groupBy on doubles matches Python dict-key semantics
    (bit equality with -0.0 == 0.0 normalization).
    Returns distinct (jx, jy).
    """
    verts = lines.select(
        F.explode(
            F.expr(
                """
                transform(sequence(0, (size(coords) div 2) - 1), i -> struct(
                  coords[2*i] as x, coords[2*i + 1] as y,
                  array_sort(array(
                    struct(
                      coords[2 * if(i = 0, (size(coords) div 2) - 1, i - 1)] as nx,
                      coords[2 * if(i = 0, (size(coords) div 2) - 1, i - 1) + 1] as ny
                    ),
                    struct(
                      coords[2 * if(i = (size(coords) div 2) - 1, 0, i + 1)] as nx,
                      coords[2 * if(i = (size(coords) div 2) - 1, 0, i + 1) + 1] as ny
                    )
                  )) as neigh
                ))
                """
            )
        ).alias("v")
    ).select("v.x", "v.y", "v.neigh")

    # two-level aggregation: distinct (vertex, neigh) first (map-side
    # combinable), then count distinct neighbor sets per vertex
    per_pair = verts.groupBy("x", "y", "neigh").agg(F.count(F.lit(1)).alias("_c"))
    return (
        per_pair.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .select(F.col("x").alias("jx"), F.col("y").alias("jy"))
    )


def _with_bbox_cells(lines: DataFrame, bbox: Tuple, cell: float) -> DataFrame:
    """Attach exploded envelope cell ids covering each line's bbox.
    ``lines`` must carry the fused envelope columns (x0, y0, x1, y1)."""
    bx, by = bbox[0], bbox[1]
    return (
        lines.withColumn("_cx0", F.floor((F.col("x0") - F.lit(bx)) / F.lit(cell)))
        .withColumn("_cx1", F.floor((F.col("x1") - F.lit(bx)) / F.lit(cell)))
        .withColumn("_cy0", F.floor((F.col("y0") - F.lit(by)) / F.lit(cell)))
        .withColumn("_cy1", F.floor((F.col("y1") - F.lit(by)) / F.lit(cell)))
        .withColumn("cx", F.explode(F.sequence("_cx0", "_cx1")))
        .withColumn("cy", F.explode(F.sequence("_cy0", "_cy1")))
        .drop("_cx0", "_cx1", "_cy0", "_cy1")
    )


def _cell_size(bbox: Tuple, cell: Optional[float]) -> float:
    """Shared grid-cell sizing for the junction engines: default span/64,
    and never let envelope-sized cells shatter a tiny-extent corpus into a
    huge cell universe relative to the bbox."""
    span = max(bbox[2] - bbox[0], bbox[3] - bbox[1])
    if cell is None:
        return span / 64 if span > 0 else 1.0
    if span > 0:
        cell = max(cell, span / 4096)
    return cell


def junctions_path_connected_cellgrouped(
    lines_with_lid: DataFrame, bbox: Tuple, cell: Optional[float] = None
) -> DataFrame:
    """Cell-grouped junction detection: envelope-overlap candidate pairs
    (the distributed replacement for select_unique_combs, ops.py:575-610)
    fed to the per-pair collinear-overlap kernel, with each line's
    coordinate array crossing the wire once per grid CELL it touches
    instead of once per candidate PAIR.

    Plan shape (the 100 TB rationale):

    1. Representative selection never moves coords: a digest-only
       ``groupBy(pdig).agg(min(lid))`` (narrow tuples) followed by a
       broadcast semi-join marks one deterministic representative per
       spatial path (path-equal copies produce identical intersections
       with every other line, join.py:207-210).
    2. ONE wide exchange: representatives explode to the envelope's grid
       cells (multiplicity ~(1 + w/cell)^2, typically 2-4) and hash-
       repartition by (cx, cy) + sort within partitions. A per-pair plan
       moves coords through TWO wide shuffle joins with multiplicity = the
       pair fan-out (the neighbor count).
    3. Pair enumeration happens INSIDE the Arrow worker: per cell,
       envelope-overlap candidates via a vectorized triangular mask, each
       pair processed exactly once at its canonical cell — the cell of
       floor((max(x0_a, x0_b) - bx) / cell): envelope overlap guarantees
       that cell is in both lines' exploded ranges, and the floor
       arithmetic is the same IEEE-double expression the JVM explode
       evaluated, so the assignment is bit-exact on both sides.

    Skew bound: a single hot cell with k co-located lines still enumerates
    O(k^2) candidate PAIRS (that is the problem statement), but scratch
    memory is capped at O(_PAIR_BLOCK) by blocked triangular enumeration —
    a 1e5-line cell costs ~4 MB of mask scratch, not ~80 GB of
    triu_indices. Wall-time skew from such a cell remains; corpora with
    giant lines auto-escalate to the ``relational`` engine (segment-level
    parallelism).

    Returns distinct (jx, jy).
    """
    cell = _cell_size(bbox, cell)
    bx, by = bbox[0], bbox[1]
    # captured by VALUE into the Arrow closure (driver-side read), so a
    # test that patches the module constant reaches the executors
    pair_block = _PAIR_BLOCK

    rep_ids = lines_with_lid.groupBy("pdig").agg(F.min("lid").alias("lid"))
    # broadcast is right up to ~10^8 distinct paths (8B ids)
    rep_side = F.broadcast(rep_ids.select("lid"))
    reps = lines_with_lid.join(rep_side, on="lid", how="leftsemi").select(
        "lid", "coords", "x0", "y0", "x1", "y1"
    )

    cells = (
        reps.withColumn(
            "cx",
            F.explode(
                F.sequence(
                    F.floor((F.col("x0") - F.lit(bx)) / F.lit(cell)),
                    F.floor((F.col("x1") - F.lit(bx)) / F.lit(cell)),
                )
            ),
        )
        .withColumn(
            "cy",
            F.explode(
                F.sequence(
                    F.floor((F.col("y0") - F.lit(by)) / F.lit(cell)),
                    F.floor((F.col("y1") - F.lit(by)) / F.lit(cell)),
                )
            ),
        )
        .repartition("cx", "cy")
        .sortWithinPartitions("cx", "cy")
    )

    out_schema = _T2_SCHEMA

    def find_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def process(pdf: pd.DataFrame) -> list:
            pts: list = []
            if len(pdf) < 2:
                return pts
            cxv = pdf["cx"].to_numpy()
            cyv = pdf["cy"].to_numpy()
            chg = np.nonzero((cxv[1:] != cxv[:-1]) | (cyv[1:] != cyv[:-1]))[0] + 1
            starts = np.concatenate([[0], chg])
            ends = np.concatenate([chg, [len(pdf)]])
            x0 = pdf["x0"].to_numpy()
            y0 = pdf["y0"].to_numpy()
            x1 = pdf["x1"].to_numpy()
            y1 = pdf["y1"].to_numpy()
            lid = pdf["lid"].to_numpy()
            coords = pdf["coords"].to_numpy()
            for s, e in zip(starts.tolist(), ends.tolist()):
                k = e - s
                if k < 2:
                    continue
                gx0, gy0 = x0[s:e], y0[s:e]
                gx1, gy1 = x1[s:e], y1[s:e]
                glid = lid[s:e]
                arrs: dict = {}

                def run_pairs(i: np.ndarray, j: np.ndarray) -> None:
                    # canonical-cell ownership: bit-identical to the JVM
                    # explode (same IEEE-double floor expression)
                    ccx = np.floor((np.maximum(gx0[i], gx0[j]) - bx) / cell)
                    ccy = np.floor((np.maximum(gy0[i], gy0[j]) - by) / cell)
                    own = (ccx == cxv[s]) & (ccy == cyv[s])
                    if not own.any():
                        return
                    for ii, jj in zip(i[own].tolist(), j[own].tolist()):
                        # kernel arg order pinned to lid order (endpoint
                        # sets are symmetric; keeps raw emission
                        # byte-stable)
                        if glid[jj] < glid[ii]:
                            ii, jj = jj, ii
                        a = arrs.get(ii)
                        if a is None:
                            a = arrs[ii] = K.as_np(coords[s + ii])
                        b = arrs.get(jj)
                        if b is None:
                            b = arrs[jj] = K.as_np(coords[s + jj])
                        segs = K.line_pair_shared_segments(a, b)
                        if len(segs):
                            pts.append(K.shared_chain_endpoints(segs))

                if k * (k - 1) // 2 <= pair_block:
                    i, j = np.triu_indices(k, 1)
                    ov = (
                        (gx0[i] <= gx1[j]) & (gx0[j] <= gx1[i])
                        & (gy0[i] <= gy1[j]) & (gy0[j] <= gy1[i])
                    )
                    if ov.any():
                        run_pairs(i[ov], j[ov])
                else:
                    # Hot-cell path: a dense cell with k lines must NOT
                    # materialize O(k^2) index arrays in one Python task
                    # (k=1e5 would be ~80 GB of int64). Enumerate the
                    # triangle in row blocks of ~pair_block candidate
                    # cells each — O(block*k) scratch, same total work,
                    # identical pair set and emission order (row-major
                    # triangle order, exactly what triu_indices yields).
                    ar = np.arange(k)
                    blk = max(1, pair_block // k)
                    for b0 in range(0, k - 1, blk):
                        bi = ar[b0:min(b0 + blk, k - 1)]
                        ov = (
                            (gx0[bi][:, None] <= gx1[None, :])
                            & (gx0[None, :] <= gx1[bi][:, None])
                            & (gy0[bi][:, None] <= gy1[None, :])
                            & (gy0[None, :] <= gy1[bi][:, None])
                            & (ar[None, :] > bi[:, None])
                        )
                        if ov.any():
                            ii, jj = np.nonzero(ov)
                            run_pairs(bi[ii], jj)
            return pts

        def emit(pts: list) -> pd.DataFrame:
            if pts:
                allp = np.concatenate(pts)
                return pd.DataFrame({"jx": allp[:, 0], "jy": allp[:, 1]})
            return pd.DataFrame(
                {
                    "jx": pd.Series([], dtype="float64"),
                    "jy": pd.Series([], dtype="float64"),
                }
            )

        pend: Optional[pd.DataFrame] = None
        for pdf in batches:
            if pend is not None and len(pend):
                pdf = pd.concat([pend, pdf], ignore_index=True)
            pend = None
            if not len(pdf):
                continue
            # the trailing cell may continue in the next Arrow batch:
            # hold its rows back (rows arrive sorted by (cx, cy))
            cxv = pdf["cx"].to_numpy()
            cyv = pdf["cy"].to_numpy()
            not_last = (cxv != cxv[-1]) | (cyv != cyv[-1])
            if not_last.any():
                tail = int(np.nonzero(not_last)[0][-1]) + 1
            else:
                tail = 0
            pend = pdf.iloc[tail:]
            head = pdf.iloc[:tail]
            if len(head):
                yield emit(process(head))
        if pend is not None and len(pend):
            yield emit(process(pend))

    raw = cells.mapInPandas(find_cells, schema=out_schema)
    return raw.dropDuplicates(["jx", "jy"])


def _normz(c: str):
    """-0.0 -> +0.0 (IEEE: -0.0 + 0.0 == +0.0), matching the kernel's
    ``pts + 0.0`` key normalization (kernels._undirected_seg_keys)."""
    return F.col(c) + F.lit(0.0)


def _explode_segments(reps: DataFrame) -> DataFrame:
    """One row per non-degenerate segment of each path representative:
    original endpoints (ax, ay, bx, by) in traversal order + the canonical
    undirected key (kx1..ky2: endpoint-sorted, -0.0-normalized). Degenerate
    (zero-length) segments are inert in the kernel (never emitted, rr == 0
    skips them in the sweep, and their keys only ever match other degenerate
    segments), so they are dropped here outright."""
    seg_expr = """
      filter(transform(sequence(0, (size(coords) div 2) - 2), i -> named_struct(
        'ax', coords[2*i],     'ay', coords[2*i+1],
        'bx', coords[2*i+2],   'by', coords[2*i+3])),
        s -> NOT (s.ax = s.bx AND s.ay = s.by))
    """
    segs = reps.select("lid", F.explode(F.expr(seg_expr)).alias("s")).select(
        "lid",
        F.col("s.ax").alias("ax"), F.col("s.ay").alias("ay"),
        F.col("s.bx").alias("bx"), F.col("s.by").alias("by"),
    )
    swap = (_normz("bx") < _normz("ax")) | (
        (_normz("bx") == _normz("ax")) & (_normz("by") < _normz("ay"))
    )
    return segs.select(
        "lid", "ax", "ay", "bx", "by",
        F.when(swap, _normz("bx")).otherwise(_normz("ax")).alias("kx1"),
        F.when(swap, _normz("by")).otherwise(_normz("ay")).alias("ky1"),
        F.when(swap, _normz("ax")).otherwise(_normz("bx")).alias("kx2"),
        F.when(swap, _normz("ay")).otherwise(_normz("by")).alias("ky2"),
    )


def _rasterize_segments(
    df: DataFrame, names, bbox, fine: float
) -> DataFrame:
    """Rasterize each segment of ``_explode_segments`` output onto the
    fine grid: one row per covered cell (cx, cy), columns renamed per
    ``names`` = [lid, ax, ay, bx, by, k1..k4].

    X-SLAB method: explode the x-cell range, then within each x-slab emit
    only the y-cells the segment actually spans there (±1 cell padding
    absorbs float rounding) — O(cells touched). The bbox cross product
    (x-range × y-range) is quadratically larger for long diagonal
    segments: K cells per axis would emit K² rows for a ~2K-cell cover.
    Extra padded cells are harmless: candidate pairs only feed the EXACT
    collinear filter downstream. Soundness needs each segment's emitted
    set to be a SUPERSET of the cells it truly intersects — within an
    x-slab the segment's y-extent is the interval between its y values at
    the slab's clamped x bounds (linear in x), padded ±1 cell and
    re-clamped to the segment's own y range (near-vertical slopes
    overflow the interpolation otherwise, and Spark's sequence() silently
    REVERSES when start > stop instead of erroring)."""
    bx0, by0 = (bbox[0], bbox[1]) if bbox else (0.0, 0.0)
    ren = df.select(
        F.col("lid").alias(names[0]),
        *[F.col(c).alias(p) for c, p in zip(
            ["ax", "ay", "bx", "by"], names[1:5])],
        *[F.col(k).alias(p) for k, p in zip(_KEYS, names[5:9])],
        F.explode(
            F.sequence(
                F.floor((F.least("ax", "bx") - F.lit(bx0)) / F.lit(fine)),
                F.floor((F.greatest("ax", "bx") - F.lit(bx0)) / F.lit(fine)),
            )
        ).alias("cx"),
    )
    ax, ay, bx, by = (F.col(c) for c in names[1:5])
    slab_lo = F.lit(bx0) + F.col("cx") * F.lit(fine)
    xlo = F.greatest(F.least(ax, bx), slab_lo)
    xhi = F.least(F.greatest(ax, bx), slab_lo + F.lit(fine))
    dx = bx - ax
    t_lo = F.when(dx == 0, F.lit(0.0)).otherwise((xlo - ax) / dx)
    t_hi = F.when(dx == 0, F.lit(1.0)).otherwise((xhi - ax) / dx)
    y_at_lo = ay + t_lo * (by - ay)
    y_at_hi = ay + t_hi * (by - ay)
    y0s = F.greatest(F.least(y_at_lo, y_at_hi), F.least(ay, by))
    y1s = F.least(F.greatest(y_at_lo, y_at_hi), F.greatest(ay, by))
    cy_min = F.floor((F.least(ay, by) - F.lit(by0)) / F.lit(fine))
    cy_max = F.floor((F.greatest(ay, by) - F.lit(by0)) / F.lit(fine))
    cy_lo = F.greatest(F.floor((y0s - F.lit(by0)) / F.lit(fine)) - 1, cy_min)
    cy_hi = F.least(F.floor((y1s - F.lit(by0)) / F.lit(fine)) + 1, cy_max)
    return ren.withColumn("cy", F.explode(F.sequence(cy_lo, cy_hi)))


_KEYS = ["kx1", "ky1", "kx2", "ky2"]
_PAIR = ["lid_a", "lid_b"]

_T2_SCHEMA = T.StructType(
    [T.StructField("jx", T.DoubleType()), T.StructField("jy", T.DoubleType())]
)


# A cellgrouped task holds whole lines of a cell (plus the numpy sweep's
# intermediates) in one Python worker; beyond ~256k vertices per line that
# risks per-task OOM and stragglers, so such corpora escalate to the
# segment-relational engine.
GIANT_LINE_PTS = 262_144


def junctions_path_connected(
    lines_with_lid: DataFrame,
    bbox: Tuple,
    cell: Optional[float] = None,
    max_line_pts: int = 0,
) -> DataFrame:
    """Path-connected junction detection (reference join.py:200-226).

    Normally-sized lines run the ``cellgrouped`` plan: grid-cell grouping,
    pair enumeration INSIDE the Arrow worker, one coords exchange at cell
    multiplicity (~2-4x). When the longest line exceeds GIANT_LINE_PTS
    vertices the ``relational`` plan runs instead: several narrow-tuple
    shuffles over O(total segments), slower at normal sizes, but its unit
    of parallelism is a SEGMENT, so corpora whose individual lines are
    huge stay balanced. Both are validated against the full reference
    junction suite.
    """
    if max_line_pts > GIANT_LINE_PTS:
        return junctions_path_connected_relational(lines_with_lid, bbox, cell)
    return junctions_path_connected_cellgrouped(lines_with_lid, bbox, cell)


def junctions_path_connected_relational(
    lines_with_lid: DataFrame, bbox: Tuple, cell: Optional[float] = None
) -> DataFrame:
    """Path-connected junction detection (reference join.py:200-226) as a
    RELATIONAL plan — the per-pair Arrow kernel re-expressed so the hot path
    is whole-stage codegen; Python touches only the rare cycle-shaped pairs.

    Semantics mirrored 1:1 from line_pair_shared_segments +
    merge_segments_to_chains (kernels.py:388-460), validated against the
    85-case reference junction suite:

    1. One representative line per spatial path (pdig canonicalizes
       rotation/direction/collinear vertices = the reference's
       ``geom1.equals(geom2)`` pair filter).
    2. MATCHED overlap pieces: segments bit-identical (undirected) in two
       different paths, found by a single equi-join on the canonical
       endpoint key — the kernel's fast path, no pair enumeration at all.
    3. RESIDUE pieces (vertex-misaligned collinear overlaps): segment pairs
       co-located in a fine grid cell, filtered by the kernel's EXACT
       float64 collinearity + 1-D interval math transcribed into SQL
       doubles (same IEEE ops, same comparisons, same endpoint selection).
       Pairs where both segments are key-matched are excluded, matching the
       kernel's documented deviation. Cell co-location is sound: two
       overlapping collinear segments always share a covered cell.
    4. Pieces deduped per pair on the 1e-8-snapped canonical form
       (kernel _dedupe_segments; matched pieces win representative ties).
    5. Chain endpoints: a vertex (1e-8-snapped, the kernel's vertex_keys
       snap) is a chain endpoint iff its piece-degree within the pair is
       != 2 — exactly where merge_lines stops a traversal. Every raw
       coordinate variant at such a vertex is emitted, matching the
       kernel's per-chain raw-endpoint emission.
    6. Pairs whose piece set has NO degree != 2 vertex (pure cycles — e.g.
       a line traversing a ring's full boundary plus extra parts) fall back
       to the exact Python chain merge on just their pieces.

    Returns distinct (jx, jy).
    """
    reps = lines_with_lid.groupBy("pdig").agg(
        F.min("lid").alias("lid"),
        # min_by: deterministic representative (first() varies across runs,
        # and path-equal variants may differ in collinear filler vertices)
        F.min_by("coords", "lid").alias("coords"),
    )
    segs = pin(_explode_segments(reps))

    # ---- matched pieces: one equi-join, no pair enumeration ----
    b_side = segs.select(
        F.col("lid").alias("lid_b"), *[F.col(k) for k in _KEYS]
    )
    matched = (
        segs.withColumnRenamed("lid", "lid_a")
        .join(b_side, on=_KEYS)
        .where(F.col("lid_a") < F.col("lid_b"))
        .select(
            *_PAIR, *_KEYS,
            # the kernel emits side a's original orientation (p -> p + r)
            F.col("ax").alias("px1"), F.col("ay").alias("py1"),
            F.col("bx").alias("px2"), F.col("by").alias("py2"),
        )
    )

    # ---- residue pieces: fine-cell co-location + exact collinear math ----
    span = max(bbox[2] - bbox[0], bbox[3] - bbox[1]) if bbox else 0.0
    if cell is not None and cell > 0:
        fine = cell / 8.0
    else:
        fine = span / 1024 if span > 0 else 1.0
    if span > 0:
        fine = max(fine, span / 65536)

    ca = _rasterize_segments(
        segs, ["lid_a", "aax", "aay", "abx", "aby",
               "ak1", "ak2", "ak3", "ak4"], bbox, fine)
    cb = _rasterize_segments(
        segs, ["lid_b", "bax", "bay", "bbx", "bby",
               "bk1", "bk2", "bk3", "bk4"], bbox, fine)
    coloc = ca.join(cb, on=["cx", "cy"]).where(F.col("lid_a") < F.col("lid_b"))

    # exact float64 collinearity + interval overlap (kernels.py:333-371,
    # same IEEE double ops / comparisons as the numpy sweep)
    rx = F.col("abx") - F.col("aax")
    ry = F.col("aby") - F.col("aay")
    sx = F.col("bbx") - F.col("bax")
    sy = F.col("bby") - F.col("bay")
    cross_rs = rx * sy - ry * sx
    cross_qp_r = (F.col("bax") - F.col("aax")) * ry - (
        F.col("bay") - F.col("aay")
    ) * rx
    rr = rx * rx + ry * ry
    t0r = ((F.col("bax") - F.col("aax")) * rx
           + (F.col("bay") - F.col("aay")) * ry) / rr
    t1r = ((F.col("bbx") - F.col("aax")) * rx
           + (F.col("bby") - F.col("aay")) * ry) / rr
    swapped = t0r > t1r
    t0 = F.when(swapped, t1r).otherwise(t0r)
    t1 = F.when(swapped, t0r).otherwise(t1r)
    blox = F.when(swapped, F.col("bbx")).otherwise(F.col("bax"))
    bloy = F.when(swapped, F.col("bby")).otherwise(F.col("bay"))
    bhix = F.when(swapped, F.col("bax")).otherwise(F.col("bbx"))
    bhiy = F.when(swapped, F.col("bay")).otherwise(F.col("bby"))
    lo = F.greatest(t0, F.lit(0.0))
    hi = F.least(t1, F.lit(1.0))

    residue_raw = (
        coloc.where((cross_rs == 0) & (cross_qp_r == 0))
        .where(hi - lo > 0)
        .withColumn("px1", F.when(t0 <= 0, F.col("aax")).otherwise(blox))
        .withColumn("py1", F.when(t0 <= 0, F.col("aay")).otherwise(bloy))
        .withColumn("px2", F.when(t1 >= 1, F.col("abx")).otherwise(bhix))
        .withColumn("py2", F.when(t1 >= 1, F.col("aby")).otherwise(bhiy))
    )
    # kernel deviation preserved: a matched x matched (non-identical) pair
    # is never swept — exclude rows where BOTH sides are key-matched
    mkeys = matched.select(*_PAIR, *_KEYS).dropDuplicates()
    ma = mkeys.select(
        *_PAIR,
        *[F.col(k).alias(f"ak{i + 1}") for i, k in enumerate(_KEYS)],
        F.lit(True).alias("_ma"),
    )
    mb = mkeys.select(
        *_PAIR,
        *[F.col(k).alias(f"bk{i + 1}") for i, k in enumerate(_KEYS)],
        F.lit(True).alias("_mb"),
    )
    residue = (
        residue_raw.join(ma, on=_PAIR + ["ak1", "ak2", "ak3", "ak4"],
                         how="left")
        .join(mb, on=_PAIR + ["bk1", "bk2", "bk3", "bk4"], how="left")
        .where(~(F.col("_ma").isNotNull() & F.col("_mb").isNotNull()))
        .select(*_PAIR, "px1", "py1", "px2", "py2")
    )

    # ---- dedupe pieces per pair on the snapped canonical form ----
    pieces = matched.select(
        *_PAIR, "px1", "py1", "px2", "py2"
    ).withColumn("prio", F.lit(0)).unionByName(
        residue.withColumn("prio", F.lit(1))
    )
    c1x = F.bround(F.col("px1") * F.lit(K.VERTEX_TOL)).cast("long")
    c1y = F.bround(F.col("py1") * F.lit(K.VERTEX_TOL)).cast("long")
    c2x = F.bround(F.col("px2") * F.lit(K.VERTEX_TOL)).cast("long")
    c2y = F.bround(F.col("py2") * F.lit(K.VERTEX_TOL)).cast("long")
    fwd = (c1x < c2x) | ((c1x == c2x) & (c1y <= c2y))
    pieces_d = pin(
        pieces.withColumn("clx", F.when(fwd, c1x).otherwise(c2x))
        .withColumn("cly", F.when(fwd, c1y).otherwise(c2y))
        .withColumn("chx", F.when(fwd, c2x).otherwise(c1x))
        .withColumn("chy", F.when(fwd, c2y).otherwise(c1y))
        .groupBy(*_PAIR, "clx", "cly", "chx", "chy")
        .agg(
            F.min(
                F.struct("prio", "px1", "py1", "px2", "py2")
            ).alias("p")
        )
        .select(
            *_PAIR,
            F.col("p.px1").alias("px1"), F.col("p.py1").alias("py1"),
            F.col("p.px2").alias("px2"), F.col("p.py2").alias("py2"),
        )
    )

    # ---- chain endpoints: piece-degree != 2 on snapped vertex keys ----
    ends = pieces_d.select(
        *_PAIR, F.col("px1").alias("vx"), F.col("py1").alias("vy")
    ).unionByName(
        pieces_d.select(
            *_PAIR, F.col("px2").alias("vx"), F.col("py2").alias("vy")
        )
    ).withColumn(
        "kvx", F.bround(F.col("vx") * F.lit(K.VERTEX_TOL)).cast("long")
    ).withColumn(
        "kvy", F.bround(F.col("vy") * F.lit(K.VERTEX_TOL)).cast("long")
    )
    deg = ends.groupBy(*_PAIR, "kvx", "kvy").agg(
        F.count(F.lit(1)).alias("n")
    )
    t1_junc = (
        ends.join(deg.where(F.col("n") != 2),
                  on=_PAIR + ["kvx", "kvy"])
        .select(F.col("vx").alias("jx"), F.col("vy").alias("jy"))
    )

    # ---- cycle-shaped pairs (no open vertex): exact Python chain merge ----
    open_pairs = deg.groupBy(*_PAIR).agg(
        F.max((F.col("n") != 2).cast("int")).alias("has_open")
    )
    t2_pairs = open_pairs.where(F.col("has_open") == 0).select(*_PAIR)

    def merge_cycles(pdf: pd.DataFrame) -> pd.DataFrame:
        segs_np = pdf[["px1", "py1", "px2", "py2"]].to_numpy(dtype=np.float64)
        xs, ys = [], []
        for chain in K.merge_segments_to_chains(segs_np):
            xs.extend((chain[0][0], chain[-1][0]))
            ys.extend((chain[0][1], chain[-1][1]))
        return pd.DataFrame({"jx": xs, "jy": ys})

    t2_junc = (
        pieces_d.join(t2_pairs, on=_PAIR, how="leftsemi")
        .groupBy(*_PAIR)
        .applyInPandas(
            lambda key, pdf: merge_cycles(pdf), schema=_T2_SCHEMA
        )
    )

    return t1_junc.unionByName(t2_junc).dropDuplicates(["jx", "jy"])


# ------------------------------------------------------------ stage API


def join_stage(
    lines: DataFrame,
    points: DataFrame,
    options: TopoOptions,
):
    """Returns (lines, points, bbox, transform, junctions_df_or_None,
    cell_hint). cell_hint is the typical line-envelope extent in the
    pipeline's working coordinate space (quantized grid units when
    prequantizing) — consumed by every downstream grid-cell join."""
    if options.presimplify_factor:
        lines = presimplify_lines(
            lines, options.presimplify_factor, options.simplify_algorithm
        )

    bbox, avg_wh, max_pts = compute_bbox_stats(lines, points)
    transform = None
    cell = None
    if avg_wh is not None:
        cell = max(avg_wh)
    if bbox is not None and options.quant_factor:
        kx, ky = K.quantize_factors(bbox, options.quant_factor)
        transform = {"scale": [kx, ky], "translate": [bbox[0], bbox[1]]}
        lines = quantize_lines(lines, bbox, options.quant_factor)
        points = quantize_points(points, bbox, options.quant_factor)
        if avg_wh is not None:
            cell = max(
                avg_wh[0] / kx if kx else 0.0, avg_wh[1] / ky if ky else 0.0
            ) or None

    junctions = None
    if options.topology and bbox is not None:
        if options.shared_coords:
            junctions = junctions_shared_coords(lines)
        else:
            qbbox = bbox
            if transform is not None:
                # lines are now in quantized grid space
                q = options.quant_factor
                qbbox = (0.0, 0.0, q - 1, q - 1)
            lines_lid = lines.withColumn(
                "lid",
                F.xxhash64(
                    F.col("feature_seq"), F.col("unit_seq"), F.col("ring_seq")
                ),
            )
            junctions = junctions_path_connected(
                lines_lid, qbbox, cell=cell, max_line_pts=max_pts
            )

    return lines, points, bbox, transform, junctions, cell
