"""End-to-end parity tests re-expressing the reference's per-stage unit
tests (FIXTURES.md §2) as assertions over the engine's stage DataFrames.

Stage-level reference tests construct Join/Cut/Dedup/Hashmap directly, which
uses TopoOptions defaults (prequantize=False, winding_order=None,
shared_coords=False) — mirrored here via STAGE_DEFAULTS."""

import json

import numpy as np
import pytest

from topojson_spark import TopoOptions
from topojson_spark.topology import Topology

STAGE = dict(prequantize=False, winding_order=None)


def topo(spark, data, **kw):
    return Topology(data, spark=spark, **{**STAGE, **kw})


def junctions(t):
    return t.junction_points()


# ---------------------------------------------------------------- join


def test_join_duplicate_lines_no_junctions(spark):
    # reference tests/test_join.py:20-27
    data = {
        "abc1": {"type": "LineString", "coordinates": [[0, 0], [1, 0], [2, 0]]},
        "abc2": {"type": "LineString", "coordinates": [[0, 0], [1, 0], [2, 0]]},
    }
    assert junctions(topo(spark, data)) == []


def test_join_reversed_duplicate_lines_no_junctions(spark):
    # tests/test_join.py:31-38
    data = {
        "abc": {"type": "LineString", "coordinates": [[0, 0], [1, 0], [2, 0]]},
        "cba": {"type": "LineString", "coordinates": [[2, 0], [1, 0], [0, 0]]},
    }
    assert junctions(topo(spark, data)) == []


def test_join_line_ABC_extends_AB(spark):
    # tests/test_join.py:42-52 — junctions at (0,0) and (1,0)
    data = {
        "abc": {"type": "LineString", "coordinates": [[0, 0], [1, 0], [2, 0]]},
        "ab": {"type": "LineString", "coordinates": [[0, 0], [1, 0]]},
    }
    assert junctions(topo(spark, data)) == [(0.0, 0.0), (1.0, 0.0)]


def test_join_shared_paths_multilinestring_6_junctions(spark):
    # tests/test_join.py:625-645
    data = [
        {"type": "LineString", "coordinates": [(0, 0), (10, 0), (10, 5), (20, 5)]},
        {
            "type": "LineString",
            "coordinates": [
                (5, 0), (25, 0), (25, 5), (16, 5),
                (16, 10), (14, 10), (14, 5), (0, 5),
            ],
        },
    ]
    assert len(junctions(topo(spark, data))) == 6


def test_join_shared_coords_mode(spark):
    # tests/test_join.py:174-184 (shared_coords=True)
    data = {
        "cba": {"type": "LineString", "coordinates": [[2, 0], [1, 0], [0, 0]]},
        "ab": {"type": "LineString", "coordinates": [[0, 0], [1, 0]]},
    }
    assert junctions(topo(spark, data, shared_coords=True)) == [
        (0.0, 0.0),
        (1.0, 0.0),
    ]


def test_join_exact_duplicate_rings_no_junctions(spark):
    # tests/test_join.py:717-724 family
    data = {
        "abca1": {"type": "Polygon", "coordinates": [[[0, 0], [1, 1], [2, 0], [0, 0]]]},
        "abca2": {"type": "Polygon", "coordinates": [[[0, 0], [1, 1], [2, 0], [0, 0]]]},
    }
    assert junctions(topo(spark, data)) == []


def test_join_rotated_duplicate_rings_no_junctions(spark):
    data = {
        "abca": {"type": "Polygon", "coordinates": [[[0, 0], [1, 1], [2, 0], [0, 0]]]},
        "bcab": {"type": "Polygon", "coordinates": [[[1, 1], [2, 0], [0, 0], [1, 1]]]},
    }
    assert junctions(topo(spark, data)) == []


# ---------------------------------------------------------------- cut


def test_cut_two_squares_4_segments_1_dup(spark):
    # tests/test_cut.py:34-48 analog (FIXTURES §2)
    data = {
        "abcda": {
            "type": "Polygon",
            "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
        },
        "befcb": {
            "type": "Polygon",
            "coordinates": [[[1, 0], [2, 0], [2, 1], [1, 1], [1, 0]]],
        },
    }
    t = topo(spark, data)
    segs = t.arcs_cut.collect()
    assert len(segs) == 4
    # one duplicate group of size 2 -> 3 surviving arcs
    assert t.arcs.count() == 3


def test_cut_junctions_split_line(spark):
    # ABC extends AB: ABC splits at (1,0) -> arcs AB + BC; AB dups -> 2 arcs
    data = {
        "abc": {"type": "LineString", "coordinates": [[0, 0], [1, 0], [2, 0]]},
        "ab": {"type": "LineString", "coordinates": [[0, 0], [1, 0]]},
    }
    t = topo(spark, data)
    assert t.arcs_cut.count() == 3
    assert t.arcs.count() == 2


# ---------------------------------------------------------------- dedup


def test_dedup_two_polygon_reversed_shared_arc(spark):
    # tests/test_dedup.py:34-49: shared arc 2, bookkeeping [[2,0],[1,2]]
    data = {
        "abcda": {
            "type": "Polygon",
            "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
        },
        "befcb": {
            "type": "Polygon",
            "coordinates": [[[1, 0], [2, 0], [2, 1], [1, 1], [1, 0]]],
        },
    }
    t = topo(spark, data)
    shared = sorted(
        r["final_idx"] for r in t.arcs.where("is_shared").collect()
    )
    assert shared == [2]
    rows = {
        (r["fkey"]): None for r in t.refs.collect()
    }
    bk = {}
    for r in t.refs.orderBy("feature_seq", "unit_seq", "ring_seq", "split_seq").collect():
        bk.setdefault(r["fkey"], []).append(r["final_idx"])
    assert bk["abcda"] == [2, 0]
    assert bk["befcb"] == [1, 2]


def test_dedup_duplicate_rotated_hole_interior(spark):
    # tests/test_dedup.py:11-31: no duplicates, 4 lines in 3 units
    data = {
        "foo": {
            "type": "MultiPolygon",
            "coordinates": [
                [
                    [[0, 0], [20, 0], [10, 20], [0, 0]],
                    [[3, 2], [10, 16], [17, 2], [3, 2]],
                ],
                [[[6, 4], [14, 4], [10, 12], [6, 4]]],
            ],
        },
        "bar": {
            "type": "Polygon",
            "coordinates": [[[17, 2], [3, 2], [10, 16], [17, 2]]],
        },
    }
    t = topo(spark, data)
    # the hole of foo and bar are rotated duplicates -> deduped
    assert t.arcs.count() == 3
    assert t.arcs.where("is_shared").count() == 1


def test_dedup_duplicate_polygon_reversed_winding(spark):
    # tests/test_dedup.py:52-62: both features reference arc 0
    data = {
        "abca": {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [0, 1], [0, 0]]]},
        "acba": {"type": "Polygon", "coordinates": [[[0, 0], [0, 1], [1, 0], [0, 0]]]},
    }
    t = topo(spark, data)
    assert t.arcs.count() == 1
    bk = [r["final_idx"] for r in t.refs.collect()]
    assert bk == [0, 0]


def test_dedup_shared_line_ABCDBE_and_FBCG(spark):
    # tests/test_dedup.py:65-80: 1 shared arc, 2 bookkeeping rows
    data = {
        "abcdbe": {
            "type": "LineString",
            "coordinates": [[0, 0], [1, 0], [2, 0], [3, 0], [1, 0], [4, 0]],
        },
        "fbcg": {
            "type": "LineString",
            "coordinates": [[0, 1], [1, 0], [2, 0], [3, 1]],
        },
    }
    t = topo(spark, data)
    assert t.arcs.where("is_shared").count() == 1
    n_rows = t.refs.select("feature_seq", "unit_seq", "ring_seq").distinct().count()
    assert n_rows == 2


# ---------------------------------------------------------------- hashmap


def _feature_arcs(t, key):
    d = t.to_dict()
    for name, obj in d["objects"].items():
        for g in obj["geometries"]:
            if str(g.get("id")) == key:
                return g["arcs"]
    raise KeyError(key)


def test_hashmap_backward_polygon(spark):
    # tests/test_hashmap.py:39-53: [[-3, 0]] and [[1, 2]]
    data = {
        "abc": {
            "type": "Polygon",
            "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
        },
        "def": {
            "type": "Polygon",
            "coordinates": [[[1, 0], [2, 0], [2, 1], [1, 1], [1, 0]]],
        },
    }
    t = topo(spark, data)
    assert _feature_arcs(t, "abc") == [[-3, 0]]
    assert _feature_arcs(t, "def") == [[1, 2]]


def test_hashmap_geomcol_multipolygon_polygon(spark):
    # tests/test_hashmap.py:9-36: nested GC arcs [[[4,0],[1]],[[2]]]
    data = {
        "foo": {
            "type": "GeometryCollection",
            "geometries": [
                {
                    "type": "MultiPolygon",
                    "coordinates": [
                        [
                            [[10, 20], [20, 0], [0, 0], [10, 20]],
                            [[3, 2], [10, 16], [17, 2], [3, 2]],
                        ],
                        [[[6, 4], [14, 4], [10, 12], [6, 4]]],
                    ],
                },
                {
                    "type": "Polygon",
                    "coordinates": [[[20, 0], [35, 5], [10, 20], [20, 0]]],
                },
            ],
        }
    }
    t = topo(spark, data)
    d = t.to_dict()
    feat = d["objects"]["data"]["geometries"][0]
    assert feat["type"] == "GeometryCollection"
    assert feat["geometries"][0]["arcs"] == [[[4, 0], [1]], [[2]]]


# ---------------------------------------------------------------- topology


def test_topology_full_defaults_two_squares(spark):
    # Topology() defaults (prequantize=1e5, CW_CCW): structure invariants
    data = {
        "abc": {
            "type": "Polygon",
            "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
        },
        "def": {
            "type": "Polygon",
            "coordinates": [[[1, 0], [2, 0], [2, 1], [1, 1], [1, 0]]],
        },
    }
    t = Topology(data, spark=spark)
    d = t.to_dict()
    assert d["bbox"] == (0.0, 0.0, 2.0, 1.0)
    assert "transform" in d
    assert len(d["arcs"]) == 3
    # delta-encoded integer arcs
    for arc in d["arcs"]:
        assert all(float(v).is_integer() for pt in arc for v in pt)


def test_topology_roundtrip_geojson(spark):
    # tests/test_topology.py:42-89 analog: to_geojson restores the polygons
    data = {
        "sq1": {
            "type": "Polygon",
            "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
        },
        "sq2": {
            "type": "Polygon",
            "coordinates": [[[1, 0], [2, 0], [2, 1], [1, 1], [1, 0]]],
        },
    }
    from topojson_spark.functions import kernels as K

    # exact round-trip without quantization
    t0 = Topology(data, spark=spark, prequantize=False)
    fc0 = t0.to_geojson()
    for feat, key in zip(fc0["features"], ["sq1", "sq2"]):
        ring = np.asarray(feat["geometry"]["coordinates"][0])
        orig = np.asarray(data[key]["coordinates"][0], dtype=float)
        assert K.normalize_path(ring) == K.normalize_path(orig)
        assert K.is_ccw(ring)  # CCW_CW output winding

    # quantized round-trip: within grid tolerance (kx = span/(1e5-1))
    def rings_close(a, b, tol=5e-5):
        a, b = np.asarray(a)[:-1], np.asarray(b)[:-1]
        if len(a) != len(b):
            return False
        for cand in (a, a[::-1]):
            for s in range(len(cand)):
                if np.allclose(np.roll(cand, s, axis=0), b, atol=tol):
                    return True
        return False

    t = Topology(data, spark=spark)
    fc = t.to_geojson()
    assert len(fc["features"]) == 2
    for feat, key in zip(fc["features"], ["sq1", "sq2"]):
        ring = np.asarray(feat["geometry"]["coordinates"][0])
        orig = np.asarray(data[key]["coordinates"][0], dtype=float)
        assert rings_close(ring, orig)
        assert K.is_ccw(ring)


def test_topology_no_topology_flag(spark):
    # topology=False keeps rings uncut (test_topology.py:112-121 analog)
    data = {
        "abc": {
            "type": "Polygon",
            "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
        },
        "def": {
            "type": "Polygon",
            "coordinates": [[[1, 0], [2, 0], [2, 1], [1, 1], [1, 0]]],
        },
    }
    t = Topology(data, spark=spark, topology=False)
    assert len(t.to_dict()["arcs"]) == 2


def test_topology_points(spark):
    data = {
        "pt": {"type": "Point", "coordinates": [0.5, 0.5]},
        "mp": {"type": "MultiPoint", "coordinates": [[0.1, 0.2], [0.3, 0.4]]},
    }
    t = Topology(data, spark=spark, prequantize=False)
    d = t.to_dict()
    geoms = {g["id"]: g for g in d["objects"]["data"]["geometries"]}
    assert geoms["pt"]["coordinates"] == [0.5, 0.5]
    assert geoms["mp"]["coordinates"] == [[0.1, 0.2], [0.3, 0.4]]
    assert d["arcs"] == []


def test_topology_empty_and_invalid(spark):
    # bowtie dropped, empty linestring -> arcs None (test_extract.py:45-60)
    data = {
        "empty": {"type": "LineString", "coordinates": []},
        "bowtie": {
            "type": "Polygon",
            "coordinates": [[[0, 0], [1, 1], [0, 1], [1, 0], [0, 0]]],
        },
        "ok": {"type": "LineString", "coordinates": [[0, 0], [1, 1]]},
    }
    t = Topology(data, spark=spark, prequantize=False)
    d = t.to_dict()
    geoms = {g["id"]: g for g in d["objects"]["data"]["geometries"]}
    assert geoms["empty"]["arcs"] is None
    assert "bowtie" not in geoms
    assert geoms["ok"]["arcs"] == [0]


def test_topology_multiple_objects(spark):
    data1 = [{"type": "LineString", "coordinates": [[0, 0], [1, 1]]}]
    data2 = [{"type": "LineString", "coordinates": [[2, 2], [3, 3]]}]
    t = Topology(
        [data1, data2],
        spark=spark,
        prequantize=False,
        object_name=["one", "two"],
    )
    d = t.to_dict()
    assert set(d["objects"].keys()) == {"one", "two"}
    assert len(d["objects"]["one"]["geometries"]) == 1
    assert d["objects"]["two"]["geometries"][0]["id"] == 0


def test_topology_geojson_duplicates_exact_ring(spark):
    """Port of reference test_topology.py:516-527
    (test_topology_geojson_duplicates): three polygons where p0 shares one
    edge with p1 and one with p2; after dedup + stitch the first polygon's
    ring must come back EXACTLY as the reference emits it."""
    p0 = {"type": "Polygon", "coordinates": [
        [[0, 0], [0, 1], [1, 1], [2, 1], [2, 0], [1, 0], [0, 0]]]}
    p1 = {"type": "Polygon", "coordinates": [
        [[0, 1], [0, 2], [1, 2], [1, 1], [0, 1]]]}
    p2 = {"type": "Polygon", "coordinates": [
        [[1, 0], [2, 0], [2, -1], [1, -1], [1, 0]]]}
    t = Topology({"abc": p0, "def": p1, "ghi": p2}, spark=spark,
                 prequantize=False)
    fc = t.to_geojson()
    ring = fc["features"][0]["geometry"]["coordinates"][0]
    assert [[float(x), float(y)] for x, y in ring] == [
        [0.0, 1.0], [0.0, 0.0], [1.0, 0.0], [2.0, 0.0],
        [2.0, 1.0], [1.0, 1.0], [0.0, 1.0],
    ]


def test_svg_and_geo_interface(spark):
    """to_svg (pure-string SVG, topology.py:169-179 analog) and
    __geo_interface__ (topology.py:145-149)."""
    data = {
        "a": {"type": "Polygon",
              "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]},
    }
    t = Topology(data, spark=spark, prequantize=False)
    svg = t.to_svg()
    assert svg.startswith("<svg") and "polyline" in svg
    per_arc = t.to_svg(separate=True)
    assert len(per_arc) == 1 and per_arc[0].startswith("<svg")
    gi = t.__geo_interface__
    assert gi["type"] == "FeatureCollection"
    assert gi["features"][0]["geometry"]["type"] == "Polygon"
    import pytest as _pytest
    with _pytest.raises(ImportError):
        t.to_gdf()
    with _pytest.raises(ImportError):
        t.to_alt()
