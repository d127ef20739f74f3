"""Cut stage: split linestrings at junctions.

Re-expresses /root/reference/topojson/core/cut.py:80-174. The reference
queries an STRtree of junctions per line; here the junction set is joined to
the lines (vertex-key equi-join in coords-connected mode, bbox-cell join in
path-connected mode) and the actual split runs the exact fast_split kernel
(ops.py:270-335, including ring rotation) inside an Arrow UDF.

Scale design — cut distinct content once: a web-scale corpus repeats the
same geometry across many documents, and splitting depends only on the
line's coordinates + ring flag, never on which feature carries it. So lines
are grouped by a content digest (``ldig`` = sha1 of the exact coordinate
bytes + ring flag), ONE representative per digest is split, and per-feature
identity travels as narrow ref tuples joined back on the digest. Coordinate
arrays therefore exist in O(distinct lines), not O(features) — the
reference's per-feature split (cut.py:106-130) distributes without
re-running identical work.

Output: (parts, refs) —
    parts(ldig, split_seq, coords)                    one row per distinct arc
    refs(feature_seq, fkey, object_name, unit_seq,
         ring_seq, gtype, is_ring, split_seq, ldig)   one row per feature arc
(feature_seq, unit_seq, ring_seq, split_seq) is the reference's positional
extract order; dense ids are minted only at write time.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import kernels as K
from ..plans.pin import pin, pin_truncate

PARTS_SCHEMA = T.StructType(
    [
        T.StructField("ldig", T.BinaryType()),
        T.StructField("split_seq", T.IntegerType()),
        T.StructField("coords", T.ArrayType(T.DoubleType())),
        # canonical duplicate digest (ops.py:961-971 rules) — computed here,
        # in the same Arrow pass that produced the part, so the dedup stage
        # never needs a second coordinate-carrying frame
        T.StructField("pdig", T.BinaryType()),
        # endpoint + open-chain-shoelace summary, also computed in this
        # pass (the part is already a numpy array here): these five
        # scalars are all the hashmap stage ever needs per arc, and
        # minting them here removes a whole-arc-store higher-order
        # Catalyst aggregate (interpreted, allocation-heavy) from dedup
        T.StructField("fx", T.DoubleType()),
        T.StructField("fy", T.DoubleType()),
        T.StructField("lx", T.DoubleType()),
        T.StructField("ly", T.DoubleType()),
        T.StructField("shl", T.DoubleType()),
    ]
)

_SUMMARY_COLS = ["fx", "fy", "lx", "ly", "shl"]


def part_summary(part: np.ndarray) -> tuple:
    """(fx, fy, lx, ly, shl) for an (n, 2) part — the open-chain shoelace
    pairs with reference ops.py:338-357 (see hashmap.backward_arcs_core).

    ``shl`` feeds a SIGN test (``total/2 >= 0`` in hashmap._resolve_orient),
    so its rounding must not depend on accumulation order. The per-segment
    cross terms are summed with ``math.fsum`` — correctly rounded
    independent of term order — rather than a difference of two dot
    products (whose BLAS-chosen reduction order could flip a near-zero
    stitched-ring area). Parity with the reference's np.roll shoelace is
    analytic; fsum makes this side the MORE stable of the two.
    """
    x = part[:, 0]
    y = part[:, 1]
    shl = (
        math.fsum((x[:-1] * y[1:] - x[1:] * y[:-1]).tolist())
        if len(part) >= 2
        else 0.0
    )
    return (
        float(x[0]), float(y[0]), float(x[-1]), float(y[-1]), shl,
    )

ARCS_SCHEMA = T.StructType(
    [
        T.StructField("feature_seq", T.LongType()),
        T.StructField("fkey", T.StringType()),
        T.StructField("object_name", T.StringType()),
        T.StructField("unit_seq", T.IntegerType()),
        T.StructField("ring_seq", T.IntegerType()),
        T.StructField("gtype", T.StringType()),
        T.StructField("is_ring", T.BooleanType()),
        T.StructField("split_seq", T.IntegerType()),
        T.StructField("coords", T.ArrayType(T.DoubleType())),
    ]
)

_LINE_COLS = [
    "feature_seq",
    "fkey",
    "object_name",
    "unit_seq",
    "ring_seq",
    "gtype",
    "is_ring",
    "coords",
    "ldig",
    "x0",
    "y0",
    "x1",
    "y1",
]


def _cut_with_splitters(reps_with_split: DataFrame, path_mode: bool) -> DataFrame:
    """``reps_with_split`` has (ldig, is_ring, coords, splitters); returns
    parts (ldig, split_seq, coords)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sha1 = hashlib.sha1
        canon = K.canonical_dup_bytes
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                line = K.as_np(row.coords)
                spl = row.splitters
                parts = None
                if spl is None or len(spl) == 0:
                    parts = [K.remove_collinear_points(line)]
                else:
                    pts = K.as_np(spl)
                    if path_mode:
                        # select junctions on the line (1e-8), insert missing
                        # vertices, then split at all of them (cut.py:130 +
                        # ops.py:194-267)
                        d, _ = K._dist_and_proj_to_polyline(pts, line)
                        pts_on = pts[d < K.ON_LINE_TOL]
                        if len(pts_on) == 0:
                            parts = [K.remove_collinear_points(line)]
                        else:
                            line = K.insert_points_on_line(line, pts_on)
                            keys = K.packed_vertex_keys(pts_on)
                    else:
                        keys = K.packed_vertex_keys(pts)
                    if parts is None:
                        parts = [
                            K.remove_collinear_points(p)
                            for p in K.fast_split(line, keys, bool(row.is_ring))
                        ]
                for si, part in enumerate(parts):
                    out.append(
                        (row.ldig, si, K.flat(part),
                         sha1(canon(part)).digest(),
                         *part_summary(part))
                    )
            yield pd.DataFrame(
                out, columns=[f.name for f in PARTS_SCHEMA.fields]
            )

    return reps_with_split.mapInPandas(run, schema=PARTS_SCHEMA)


def cut_stage(
    lines: DataFrame,
    junctions: Optional[DataFrame],
    shared_coords: bool,
    bbox: Optional[Tuple] = None,
    cell: Optional[float] = None,
) -> Tuple[DataFrame, DataFrame]:
    """Split lines at junctions; always drops collinear interior vertices
    (cut.py:136-147 does so on every path). Returns (parts, refs).

    The exact-content digest (``ldig``) and envelope columns arrive fused
    from the extract parse (extract.line_annotations) — no extra
    coordinate-carrying UDF pass happens here."""
    lines = lines.select(*_LINE_COLS)

    def _distinct_reps() -> DataFrame:
        """One representative per distinct line content (coords equal by
        digest). Cached (plain columnar cache — the parent lines pin stays
        the durable copy): the splitter-match branch and the final
        with_split join both consume reps; each un-cached consumer would
        re-execute the distinct-agg over the full line store. The plan is
        a SortAggregate (first(coords) is not hash-aggregatable): its
        exchange + sort ALSO serve the downstream consumers — the hash
        partitioning propagates into the splitter chain (dedup +
        collect_list run exchange-free) and the sorted, partitioned cache
        makes the with_split sort-merge join exchange- and sort-free on
        the coords side. Measured alternatives (dup-free projection +
        shuffled-hash join; repartition-without-sort) shifted the same
        coords exchange later and lost the propagation — slower at high
        parallelism."""
        return pin(
            lines.groupBy("ldig").agg(
                F.first("is_ring").alias("is_ring"),
                F.first("coords").alias("coords"),
                F.first("x0").alias("x0"),
                F.first("y0").alias("y0"),
                F.first("x1").alias("x1"),
                F.first("y1").alias("y1"),
            )
        )

    if junctions is None:
        # no splitter join downstream, so nothing needs reps' partitioning
        # or sort order — a duplicate-free corpus (common after upstream
        # exact-dedup) skips the aggregate entirely: the kernel maps over
        # the pinned line store in place, zero exchanges in the whole
        # stage. One narrow digest-only probe decides.
        has_dups = not (
            lines.groupBy("ldig")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > 1)
            .isEmpty()
        )
        reps = _distinct_reps() if has_dups else lines.select(
            "ldig", "is_ring", "coords", "x0", "y0", "x1", "y1"
        )
        with_split = reps.withColumn(
            "splitters", F.lit(None).cast(T.ArrayType(T.ArrayType(T.DoubleType())))
        )  # splitter points stay nested [[x, y], ...]: tiny arrays
        parts = _cut_with_splitters(with_split, path_mode=False)
    elif shared_coords:
        reps = _distinct_reps()
        # exact vertex equi-join (reference semantics: a junction splits a
        # line only where it IS a vertex, bit-exact — join.py:185-198 keys
        # on raw float tuples)
        verts = reps.select(
            "ldig",
            F.explode(
                F.expr(
                    "transform(sequence(0, (size(coords) div 2) - 1), "
                    "i -> struct("
                    "coords[2*i] as jx, coords[2*i + 1] as jy))"
                )
            ).alias("v"),
        ).select("ldig", "v.jx", "v.jy").dropDuplicates(["ldig", "jx", "jy"])
        matched = verts.join(junctions, on=["jx", "jy"]).select(
            "ldig", "jx", "jy"
        )
        splitters = matched.groupBy("ldig").agg(
            F.collect_list(F.array("jx", "jy")).alias("splitters")
        )
        with_split = reps.join(splitters, on="ldig", how="left")
        parts = _cut_with_splitters(with_split, path_mode=False)
    else:
        reps = _distinct_reps()
        # bbox containment join: junction within the line's envelope
        # (np_array_bbox_points_line, ops.py:162-191); grid cells prune
        if bbox is None:
            raise ValueError("path-connected cut requires the bbox")
        span = max(bbox[2] - bbox[0], bbox[3] - bbox[1])
        if cell is None or cell <= 0:
            cell = span / 64 if span > 0 else 1.0
        elif span > 0:
            # same envelope-sized-cell floor as join._cell_size
            cell = max(cell, span / 4096)
        from .join import _with_bbox_cells

        lcells = _with_bbox_cells(
            reps.selectExpr(
                "ldig as lid", "x0", "y0", "x1", "y1"
            ),
            bbox,
            cell,
        )
        jcells = junctions.select(
            "jx",
            "jy",
            F.floor((F.col("jx") - F.lit(bbox[0])) / F.lit(cell)).alias("cx"),
            F.floor((F.col("jy") - F.lit(bbox[1])) / F.lit(cell)).alias("cy"),
        )
        matched = (
            lcells.join(jcells, on=["cx", "cy"])
            .where(
                (F.col("jx") >= F.col("x0"))
                & (F.col("jx") <= F.col("x1"))
                & (F.col("jy") >= F.col("y0"))
                & (F.col("jy") <= F.col("y1"))
            )
            .select(F.col("lid").alias("ldig"), "jx", "jy")
            .dropDuplicates(["ldig", "jx", "jy"])
        )
        splitters = matched.groupBy("ldig").agg(
            F.collect_list(F.array("jx", "jy")).alias("splitters")
        )
        with_split = reps.join(splitters, on="ldig", how="left")
        parts = _cut_with_splitters(with_split, path_mode=True)

    # pin the distinct-arc table: it is read by refs expansion, dedup digest
    # and the kept-coords lookup; without the pin every consumer re-runs the
    # whole digest+splitter+split cascade (checkpoint, not the columnar
    # cache: see pin_truncate's docstring).
    parts = pin_truncate(parts)
    line_refs = lines.drop("coords", "x0", "y0", "x1", "y1")
    return parts, line_refs


def cut_arcs_wide(parts: DataFrame, line_refs: DataFrame) -> DataFrame:
    """Reference-shaped wide view — one row per feature arc WITH coords (the
    cut output of cut.py:170-172; test/inspection surface, not the scale
    path)."""
    return line_refs.join(parts, on="ldig").select(
        *[f.name for f in ARCS_SCHEMA.fields]
    )
