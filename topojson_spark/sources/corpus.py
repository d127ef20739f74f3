"""Deterministic generator for the interleaved ``documents`` corpus.

Shape per BASELINE.json input_hint:
    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int32>>)

Geometries travel as GeoJSON text inside ``kind='geometry'`` spans,
interleaved with noise-text spans and media-ref spans (FIXTURES.md §1).
Generation is fully deterministic *per document* (seeded by doc index), so it
distributes: generation runs as mapInPandas over ``spark.range(n_docs)`` —
no driver-side materialization, any scale.

The geometric content is the FIXTURES.md §3 mosaic: a W x H lattice of unit
squares where every interior edge is shared bit-identically by exactly two
polygons — the junction/dedup stressor whose expected topology is computable
in closed form (arcs = edges of the planar grid graph).
"""

from __future__ import annotations

import hashlib
import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
    ]
)

_NOISE = [
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "how vexingly quick daft zebras jump",
    "sphinx of black quartz judge my vow",
]


def _doc_rng(doc_ix: int, seed: int) -> np.random.Generator:
    h = hashlib.sha256(f"{seed}:{doc_ix}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _edge_midpoints(p0, p1, k: int) -> list:
    """Deterministic zigzag midpoints of a lattice edge, identical for both
    traversal directions: computed in the canonical (sorted-endpoint)
    direction, then reversed if the caller walks the edge backwards. Offsets
    are perpendicular, seeded by the canonical edge key, bounded at 0.2 so
    rings stay simple."""
    if k <= 0:
        return []
    a, b = (p0, p1) if p0 <= p1 else (p1, p0)
    h = hashlib.sha256(f"edge:{a}:{b}".encode()).digest()
    dx, dy = b[0] - a[0], b[1] - a[1]
    # unit perpendicular (lattice edges are axis-aligned)
    px, py = -dy, dx
    pts = []
    # amplitude scales with midpoint spacing so dense edges stay simple
    # (a fixed +-0.2 made adjacent zigzags cross at k >= ~6, and the
    # extract stage correctly dropped those rings as self-intersecting)
    amp = 0.6 / (k + 1)
    for i in range(1, k + 1):
        t = i / (k + 1)
        off = ((h[i % 32] / 255.0) - 0.5) * amp
        pts.append([a[0] + dx * t + px * off, a[1] + dy * t + py * off])
    if (p0, p1) != (a, b):
        pts.reverse()
    return pts


def _square_geojson(col: int, row: int, verts_per_edge: int = 0) -> str:
    # exterior ring, CCW as generated; coords derived canonically per lattice
    # edge -> shared edges are bit-identical between the two sharing cells
    # (FIXTURES.md §1 requirement). verts_per_edge > 0 densifies each edge
    # with a deterministic zigzag (heavier kernels; same topology).
    x, y = float(col), float(row)
    corners = [(x, y), (x + 1, y), (x + 1, y + 1), (x, y + 1)]
    ring = []
    for i in range(4):
        p0, p1 = corners[i], corners[(i + 1) % 4]
        ring.append([p0[0], p0[1]])
        ring.extend(_edge_midpoints(p0, p1, verts_per_edge))
    ring.append([x, y])
    return json.dumps({"type": "Polygon", "coordinates": [ring]})


def _make_doc(doc_ix: int, grid_w: int, grid_h: int, seed: int,
              verts_per_edge: int = 0) -> list:
    """Spans for one document. Document i carries the mosaic polygon for grid
    cell i (if i < W*H); every document additionally gets noise/media spans
    and ~10% get an extra diagonal linestring."""
    rng = _doc_rng(doc_ix, seed)
    spans = []
    offset = 0

    def add(kind: str, text: str = "", media_ref: str = ""):
        nonlocal offset
        spans.append(
            {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}
        )
        offset += max(1, len(text) + len(media_ref))

    add("text", _NOISE[int(rng.integers(0, len(_NOISE)))])
    n_cells = grid_w * grid_h
    if doc_ix < n_cells:
        col, row = doc_ix % grid_w, doc_ix // grid_w
        add("geometry", _square_geojson(col, row, verts_per_edge))
    else:
        # extra linestrings crossing the mosaic (junction stressors)
        a = int(rng.integers(0, grid_w))
        b = int(rng.integers(0, grid_h))
        line = {
            "type": "LineString",
            "coordinates": [[float(a), 0.0], [float(a), float(b + 1)]],
        }
        add("geometry", json.dumps(line))
    if rng.random() < 0.3:
        h = hashlib.sha1(f"media{doc_ix}".encode()).hexdigest()[:12]
        add("media", media_ref=f"s3://corpus/img_{h}.png")
    if rng.random() < 0.5:
        add("text", _NOISE[int(rng.integers(0, len(_NOISE)))])
    return spans


def generate_documents(
    spark: SparkSession,
    n_docs: int,
    grid_w: int = 8,
    grid_h: int = 8,
    seed: int = 42,
    partitions: int | None = None,
    verts_per_edge: int = 0,
) -> DataFrame:
    """Distributed deterministic corpus: one row per document.

    Default partitioning is 4x the core count: generation feeds straight
    into the CPU-heavy extract UDF, and one-partition-per-core stages pay
    the full straggler cost (the slowest task gates the stage)."""
    parts = partitions or max(2, 4 * spark.sparkContext.defaultParallelism)
    base = spark.range(0, n_docs, 1, parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = pd.DataFrame(
                {
                    "doc_id": [f"doc_{i:08d}" for i in ids],
                    "spans": [
                        _make_doc(int(i), grid_w, grid_h, seed, verts_per_edge)
                        for i in ids
                    ],
                }
            )
            yield out

    return base.mapInPandas(gen, schema=DOCUMENTS_SCHEMA)


def span_manifest(spark: SparkSession, documents: DataFrame) -> DataFrame:
    """Flat span view used for the driver's span-sequence-equality invariant:
    (doc_id, span_ix, kind, text, media_ref, offset) ordered per doc."""
    return documents.select(
        "doc_id", F.posexplode("spans").alias("span_ix", "span")
    ).select(
        "doc_id",
        "span_ix",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )
