"""Adversarial skew corpus for the junction engines (VERDICT r4 #3).

The mesh2d failure mode at scale: one grid cell / one collinear corridor
shared by *many* lines, so a single cell group holds k lines and the pair
set is O(k^2). The cellgrouped engine must (a) survive that cell at
bounded memory — blocked triangular enumeration, never O(k^2) scratch
(join.py _PAIR_BLOCK) — and (b) produce exactly the same junction set as
the independent relational engine and as its own fast (un-blocked) path.

Reference behavior family: /root/reference/tests/test_join.py:475-527
(self-intersection / shared-segment density), here at ~100x density.
"""

import time

import pytest

from topojson_spark.operators import join as J
from topojson_spark.topology import Topology

STAGE = dict(prequantize=False, winding_order=None)

N_LINES = 120
SPAN = 40  # vertices every 1.0 -> 40 segments per line


def _corridor_data():
    """N_LINES collinear, vertex-aligned, mutually overlapping lines along
    y=0: line i runs x = i .. i+SPAN. Every pair within SPAN of each other
    shares a multi-segment chain, all inside a handful of grid cells."""
    return {
        f"l{i}": {
            "type": "LineString",
            "coordinates": [[float(x), 0.0] for x in range(i, i + SPAN + 1)],
        }
        for i in range(N_LINES)
    }


@pytest.fixture(scope="module")
def corridor_junctions_fast(spark):
    """Expected junction set: the cellgrouped engine's un-blocked (triu)
    path on the corridor corpus."""
    t = Topology(_corridor_data(), spark=spark, **STAGE)
    pts = sorted(map(tuple, t.junction_points()))
    # sanity: the corpus is genuinely junction-dense (every interior
    # overlap boundary is a chain endpoint)
    assert len(pts) > 100
    return pts


def test_hot_cell_blocked_enumeration_matches_fast_path(
    spark, monkeypatch, corridor_junctions_fast
):
    """Force the blocked path (pair budget far below the ~7k pairs per
    cell) and require the identical junction set, within a wall-time
    canary — proving the O(_PAIR_BLOCK)-memory path is semantics- and
    order-preserving, not just non-crashing."""
    monkeypatch.setattr(J, "_PAIR_BLOCK", 64)
    t0 = time.monotonic()
    t = Topology(_corridor_data(), spark=spark, **STAGE)
    pts = sorted(map(tuple, t.junction_points()))
    elapsed = time.monotonic() - t0
    assert pts == corridor_junctions_fast
    # generous canary: the blocked sweep of ~7k pairs/cell must stay far
    # from quadratic-memory thrash territory
    assert elapsed < 300, f"hot-cell blocked sweep took {elapsed:.0f}s"


def test_hot_cell_relational_engine_agrees(
    spark, monkeypatch, corridor_junctions_fast
):
    """Independent engine cross-check on the same skew corpus: the
    giant-line escalation, forced by lowering its threshold."""
    monkeypatch.setattr(J, "GIANT_LINE_PTS", -1)
    t = Topology(_corridor_data(), spark=spark, **STAGE)
    assert sorted(map(tuple, t.junction_points())) == corridor_junctions_fast


def _zigzag(x0: int, n: int):
    """n+1 vertices from x0: y alternates 0/1 with global parity, so two
    zigzags agree wherever their x ranges overlap (no collinear runs)."""
    return [[float(x), float(x % 2)] for x in range(x0, x0 + n + 1)]


def test_giant_line_auto_escalates_to_relational(spark):
    """The documented escalation threshold, validated empirically: a corpus
    whose longest line exceeds GIANT_LINE_PTS vertices must auto-select the
    relational engine (segment-level parallelism — a cell/pair task would
    have to hold whole ~300k-vertex lines), and that engine must produce
    the exact junction set on the giant corpus: two overlapping zigzags
    share one chain whose endpoints are the only junctions."""
    import time as _time

    from pyspark.sql import functions as F

    from topojson_spark.operators import join as J
    from topojson_spark.operators.extract import extract
    from topojson_spark.options import TopoOptions

    n = J.GIANT_LINE_PTS + 60  # ~262k vertices per line
    overlap_from = 1000
    data = {
        "a": {"type": "LineString", "coordinates": _zigzag(0, n)},
        "b": {"type": "LineString", "coordinates": _zigzag(overlap_from, n)},
    }
    from topojson_spark.operators.extract import features_from_mapping

    feats = features_from_mapping(spark, data, TopoOptions())
    lines0, points0, _ = extract(feats, TopoOptions(prequantize=False), None)
    bbox, avg_wh, max_pts = J.compute_bbox_stats(lines0, points0)
    assert max_pts > J.GIANT_LINE_PTS  # the corpus really is giant-line

    lines_lid = lines0.withColumn(
        "lid",
        F.xxhash64(F.col("feature_seq"), F.col("unit_seq"), F.col("ring_seq")),
    )
    # dispatcher choice: engine=None + giant max_line_pts must yield the
    # same plan as forcing the relational engine
    auto = J.junctions_path_connected(
        lines_lid, bbox, max_line_pts=max_pts
    )
    # engine discriminator: the cellgrouped/pairwise engines run their
    # pair kernels in a MapInPandas node; the relational engine is the
    # only one with none (whole-stage-codegen segment plan)
    def _plan(df):
        return df._jdf.queryExecution().analyzed().toString()

    assert "MapInPandas" not in _plan(auto)  # relational selected
    # and a normally-sized corpus keeps the cellgrouped default
    small = J.junctions_path_connected(lines_lid, bbox, max_line_pts=100)
    assert "MapInPandas" in _plan(small)

    t0 = _time.monotonic()
    got = sorted((r["jx"], r["jy"]) for r in auto.collect())
    elapsed = _time.monotonic() - t0
    # the shared chain runs x = overlap_from .. n; its two endpoints are
    # the only junctions
    assert got == [
        (float(overlap_from), float(overlap_from % 2)),
        (float(n), float(n % 2)),
    ]
    assert elapsed < 240, f"relational sweep of giant lines took {elapsed:.0f}s"
