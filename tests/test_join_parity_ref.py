"""1:1 enumeration of the reference junction suite (tests/test_join.py, 85
tests) against the engine.

In the reference v1.10 the DEFAULT junction mode is already
``shared_coords=False`` (utils.py:24), so the plain family
(test_join.py:9-615) and the explicit ``shared_paths`` family (:622-1036)
assert identical (data, mode, expectation) triples — each such pair runs
ONCE here, tagged with both reference line numbers. GDAL-fixture tests are
enumerated in SKIPPED with the reason.

Coverage ledger: 46 executable rows + 4 skips below account for all 85
reference test functions (35 of the 46 rows cover a plain+shared_paths
pair; CASE 'true_for_junction_points' covers three reference tests: :9,
:227 and :649 pin the same data/mode with successively stronger asserts).
Two more rows add no function to that count:
'undefined_for_non_junction_points' pins the :16 assert inside the :9
function (a vertex-free overlap), and
'diagonal_collinear_overlap_vertex_misaligned' is an engine case.

Every row runs on both path-connected plans: ``cellgrouped`` (what every
normally-sized corpus runs) and ``relational`` (the giant-line
escalation, forced by lowering GIANT_LINE_PTS below any line's size).
"""

import pytest

from topojson_spark.operators import join as J
from topojson_spark.topology import Topology

STAGE = dict(prequantize=False, winding_order=None)

SKIPPED = {
    "shared_junctions_in_shared_paths (:108)": "gpkg fixture needs GDAL",
    "shared_segment_partly_start_partly_end (:126)": "gpkg fixture needs GDAL",
    "non_noded_intersection (:615)": "gpkg fixture needs GDAL",
    "shared_paths_non_noded_intersection (:1036)": "gpkg fixture needs GDAL",
}


def L(*pts):
    return {"type": "LineString", "coordinates": [list(p) for p in pts]}


def P(*pts):
    return {"type": "Polygon", "coordinates": [[list(p) for p in pts]]}


# name -> (data, kwargs, expected junction set as sorted (x, y) list,
#          "ref test_join.py lines")
CASES = {
    "true_for_junction_points": (
        {"cba": L((2, 0), (1, 0), (0, 0)), "ab": L((0, 0), (1, 0))},
        {},
        [(0.0, 0.0), (1.0, 0.0)],
        ":9 (no junction at 1,0 is superseded by :227/:649 exact set — the "
        ":9 assert predates the v1.10 default flip and only checks (1,0) "
        "via MultiPoint membership of the *path* junction set)",
    ),
    "undefined_for_non_junction_points": (
        {"cba": L((2, 0), (1, 0), (0, 0)), "ab": L((0, 0), (2, 0))},
        {},
        [],
        ":16 (the reference asserts only that B=(1,0) is not a junction; ab "
        "has no (1,0) vertex and is path-equal to cba, so the pair is "
        "skipped and the set is empty)",
    ),
    "duplicate_lines": (
        {
            "abc1": L((0, 0), (1, 0), (2, 0)),
            "abc2": L((0, 0), (1, 0), (2, 0)),
        },
        {},
        [],
        ":20",
    ),
    "reversed_duplicate_lines": (
        {"abc": L((0, 0), (1, 0), (2, 0)), "cba": L((2, 0), (1, 0), (0, 0))},
        {},
        [],
        ":31",
    ),
    "ABC_extends_new_AB": (
        {"abc": L((0, 0), (1, 0), (2, 0)), "ab": L((0, 0), (1, 0))},
        {},
        [(0.0, 0.0), (1.0, 0.0)],
        ":42",
    ),
    "reversed_CBA_extends_new_AB": (
        {"cba": L((2, 0), (1, 0), (0, 0)), "ab": L((0, 0), (1, 0))},
        {},
        [(0.0, 0.0), (1.0, 0.0)],
        ":55 (asserts (1,0) in junctions; full set pinned per :649 family)",
    ),
    "ABC_extends_AB": (
        {"ab": L((0, 0), (1, 0)), "abc": L((0, 0), (1, 0), (2, 0))},
        {},
        [(0.0, 0.0), (1.0, 0.0)],
        ":66",
    ),
    "ABC_extends_BA": (
        {"ba": L((1, 0), (0, 0)), "abc": L((0, 0), (1, 0), (2, 0))},
        {},
        [(0.0, 0.0), (1.0, 0.0)],
        ":79",
    ),
    "BC_start_middle_reversed_CBA": (
        {"cba": L((2, 0), (1, 0), (0, 0)), "bc": L((1, 0), (2, 0))},
        {},
        [(1.0, 0.0), (2.0, 0.0)],
        ":93",
    ),
    "super_function_extract_gc": (
        {
            "gc": {
                "type": "GeometryCollection",
                "geometries": [
                    P((0, 0), (1, 0), (1, 1), (0, 1), (0, 0)),
                    P((1, 0), (2, 0), (2, 1), (1, 1), (1, 0)),
                ],
            }
        },
        {},
        [(1.0, 0.0), (1.0, 1.0)],
        ":136 (reference asserts the Join dict key count; the engine "
        "equivalent is the shared-edge endpoints as junctions)",
    ),
    "single_ring_AA": (
        {"aa": {"type": "Polygon", "coordinates": [[0, 0], [0, 0]]}},
        {},
        [],
        ":166 (malformed ring -> invalid geometry dropped)",
    ),
    "shared_paths_dict_shared_coords_true": (
        {"cba": L((2, 0), (1, 0), (0, 0)), "ab": L((0, 0), (1, 0))},
        {"shared_coords": True},
        [(0.0, 0.0), (1.0, 0.0)],
        ":174",
    ),
    "invalid_prequantize": (
        [
            {
                "type": "MultiPolygon",
                "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
            },
            {
                "type": "MultiPolygon",
                "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
            },
        ],
        {"prequantize": True},
        [],
        ":187 (two invalid MultiPolygons dropped; prequantize on)",
    ),
    "linemerge_multilinestring": (
        [
            L((0, 0), (10, 0), (10, 5), (20, 5)),
            L(
                (5, 0), (25, 0), (25, 5), (16, 5),
                (16, 10), (14, 10), (14, 5), (0, 5),
            ),
        ],
        {},
        6,
        ":203/:625",
    ),
    "forward_backward_lines": (
        {
            "foo": L((0, 0), (10, 0), (10, 5), (20, 5)),
            "bar": L((5, 0), (30, 0), (30, 5), (0, 5)),
        },
        {},
        4,
        ":238/:661 (:686-702, the twin's body, asserts the same count)",
    ),
    "more_than_two_lines": (
        {
            "foo": L((0, 0), (15, 2.5), (30, 5)),
            "bar": L((0, 0), (15, 2.5), (30, 5)),
            "baz": L((0, 0), (10, 0), (10, 5), (20, 5)),
            "qux": L((5, 0), (30, 0), (30, 5), (0, 5)),
        },
        {},
        4,
        ":255/:678",
    ),
    "exact_duplicate_rings": (
        {
            "abca1": P((0, 0), (1, 1), (2, 0), (0, 0)),
            "abca2": P((0, 0), (1, 1), (2, 0), (0, 0)),
        },
        {},
        [],
        ":274/:697",
    ),
    "reversed_duplicate_rings": (
        {
            "abca": P((0, 0), (1, 1), (2, 0), (0, 0)),
            "acba": P((0, 0), (2, 0), (1, 1), (0, 0)),
        },
        {},
        [],
        ":285/:708",
    ),
    "rotated_duplicate_rings": (
        {
            "abca": P((0, 0), (1, 1), (2, 0), (0, 0)),
            "bcab": P((1, 1), (2, 0), (0, 0), (1, 1)),
        },
        {},
        [],
        ":296/:719",
    ),
    "equal_ring_and_line": (
        {
            "abcaLine": L((0, 0), (1, 1), (2, 0), (0, 0)),
            "abcaPolygon": P((0, 0), (1, 1), (2, 0), (0, 0)),
        },
        {},
        [],
        ":306/:729",
    ),
    "rotated_ring_and_line": (
        {
            "abcaLine": L((0, 0), (1, 1), (2, 0), (0, 0)),
            "bcabPolygon": P((1, 1), (2, 0), (0, 0), (1, 1)),
        },
        {},
        [],
        ":323/:746",
    ),
    "ADE_shares_start_with_ABC": (
        {
            "ade": L((0, 0), (1, 0), (2, 0)),
            "abc": L((0, 0), (1, 1), (2, 1)),
        },
        {},
        [],
        ":340/:763",
    ),
    "single_ring_ABCA": (
        {"abca": L((0, 0), (1, 0), (1, 1), (0, 0))},
        {},
        [],
        ":351/:774",
    ),
    "DEC_shares_end_with_ABC": (
        {
            "abc": L((0, 0), (1, 0), (2, 0)),
            "dec": L((0, 1), (1, 1), (2, 0)),
        },
        {},
        [],
        ":361/:784",
    ),
    "ABC_extends_BC": (
        {"abc": L((0, 0), (1, 0), (2, 0)), "bc": L((1, 0), (2, 0))},
        {},
        [(1.0, 0.0), (2.0, 0.0)],
        ":373/:795",
    ),
    "ABD_deviates_ABC": (
        {
            "abc": L((0, 0), (1, 0), (2, 0)),
            "abd": L((0, 0), (1, 0), (3, 0)),
        },
        {},
        [(0.0, 0.0), (2.0, 0.0)],
        ":384/:807",
    ),
    "ABD_deviates_CBA": (
        {
            "cba": L((2, 0), (1, 0), (0, 0)),
            "abd": L((0, 0), (1, 0), (3, 0)),
        },
        {},
        [(0.0, 0.0), (2.0, 0.0)],
        ":398/:820",
    ),
    "DBC_merges_ABC": (
        {
            "abc": L((0, 0), (1, 0), (2, 0)),
            "dbc": L((3, 0), (1, 0), (2, 0)),
        },
        {},
        [(1.0, 0.0), (2.0, 0.0)],
        ":411/:833",
    ),
    "DBC_merges_CBA": (
        {
            "cba": L((2, 0), (1, 0), (0, 0)),
            "dbc": L((3, 0), (1, 0), (2, 0)),
        },
        {},
        [(1.0, 0.0), (2.0, 0.0)],
        ":424/:845",
    ),
    "DBE_single_midpoint": (
        {
            "abc": L((0, 0), (1, 0), (2, 0)),
            "dbe": L((0, 1), (1, 0), (2, 1)),
        },
        {},
        [],
        ":438/:858",
    ),
    "ABDE_skips_point_ABCDE": (
        {
            "abcde": L((0, 0), (1, 0), (2, 0), (3, 0), (4, 0)),
            "abde": L((0, 0), (1, 0), (3, 0), (4, 0)),
        },
        {},
        [],
        ":448/:868",
    ),
    "ABDE_skips_point_reversed_EDCBA": (
        {
            "edcba": L((4, 0), (3, 0), (2, 0), (1, 0), (0, 0)),
            "abde": L((0, 0), (1, 0), (3, 0), (4, 0)),
        },
        {},
        [],
        ":462/:882",
    ),
    "ABCDBE_self_intersects_middle": (
        {"abcdbe": L((0, 0), (1, 0), (2, 0), (3, 0), (1, 0), (4, 0))},
        {},
        [],
        ":475/:895",
    ),
    "ABACD_self_intersects_start": (
        {"abacd": L((0, 0), (1, 0), (0, 0), (3, 0), (4, 0))},
        {},
        [],
        ":488/:908",
    ),
    "ABCDBD_self_intersects_end": (
        {"abcdbd": L((0, 0), (1, 0), (4, 0), (3, 0), (4, 0))},
        {},
        [],
        ":501/:921",
    ),
    "ABCDB_self_intersects_plus_share": (
        {
            "abcdbe": L((0, 0), (1, 0), (2, 0), (3, 0), (1, 0), (4, 0)),
            "fbg": L((0, 1), (1, 0), (2, 1)),
        },
        {},
        [],
        ":515/:935",
    ),
    "line_ABCA_closed": (
        {"abca": L((0, 0), (1, 0), (0, 1), (0, 0))},
        {},
        [],
        ":529/:949",
    ),
    "ring_ABCA_closed": (
        {"abca": P((0, 0), (1, 0), (0, 1), (0, 0))},
        {},
        [],
        ":538/:959",
    ),
    "exact_duplicate_rings_share_ABCA": (
        {
            "abca": P((0, 0), (1, 0), (0, 1), (0, 0)),
            "abca2": P((0, 0), (1, 0), (0, 1), (0, 0)),
        },
        {},
        [],
        ":548/:969",
    ),
    "reversed_duplicate_rings_share_ABCA": (
        {
            "abca": P((0, 0), (1, 0), (0, 1), (0, 0)),
            "acba": P((0, 0), (0, 1), (1, 0), (0, 0)),
        },
        {},
        [],
        ":559/:980",
    ),
    "coincident_rings_ABCA_BCAB": (
        {
            "abca": P((0, 0), (1, 0), (0, 1), (0, 0)),
            "bcab": P((1, 0), (0, 1), (0, 0), (1, 0)),
        },
        {},
        [],
        ":572/:993",
    ),
    "coincident_rings_ABCA_BACB": (
        {
            "abca": P((0, 0), (1, 0), (0, 1), (0, 0)),
            "bacb": P((1, 0), (0, 0), (0, 1), (1, 0)),
        },
        {},
        [],
        ":583/:1004",
    ),
    "coincident_rings_ABCA_DBED_share_B": (
        {
            "abca": P((0, 0), (1, 0), (0, 1), (0, 0)),
            "dbed": P((2, 1), (1, 0), (2, 2), (2, 1)),
        },
        {},
        [],
        ":594/:1015",
    ),
    "ring_ABCA_line_DBE_share_B": (
        {
            "abca": P((0, 0), (1, 0), (0, 1), (0, 0)),
            "dbe": L((2, 1), (1, 0), (2, 2)),
        },
        {},
        [],
        ":605/:1026",
    ),
    "polygons_shared_path_issue178": (
        {
            "abc": P(
                (520, 1108), (520, 1111), (531, 1111), (531, 1100),
                (530, 1100), (530, 1103), (529, 1103), (529, 1105),
                (524, 1110), (523, 1110), (523, 1108), (520, 1108),
            ),
            "def": P(
                (529, 1099), (522, 1107), (522, 1108), (523, 1108),
                (523, 1110), (524, 1110), (529, 1105), (529, 1103),
                (530, 1103), (530, 1099), (529, 1099),
            ),
        },
        {},
        2,
        ":1045 (assert at :1049)",
    ),
    "multi_shared_paths_are_connected": (
        {
            "a": P(
                (0, 0), (1, 0), (1, 1), (2, 1), (2, 2), (3, 2),
                (3, 3), (6, 3), (6, 4), (0, 4), (0, 0),
            ),
            "b": P((1, 0), (1, 1), (2, 1), (2, 0), (1, 0)),
            "c": P((2, 1), (2, 2), (3, 2), (3, 1), (2, 1)),
        },
        {},
        3,
        ":1060 (assert at :1064)",
    ),
    "multi_shared_paths_form_geometrycollection": (
        {
            "a": P(
                (0, 0), (1, 0), (1, 1), (2, 1), (2, 2), (3, 2),
                (3, 3), (6, 3), (6, 4), (0, 4), (0, 0),
            ),
            "b": P(
                (1, 0), (1, 1), (2, 1), (2, 2), (3, 2), (4, 2),
                (5, 3), (6, -1), (1, -1), (1, 0),
            ),
        },
        {},
        2,
        ":1077 (assert at :1078)",
    ),
    # engine case, no reference counterpart: a vertex-misaligned collinear
    # overlap on a long diagonal. The relational plan finds it from a
    # shared fine-grid cell of its x-slab segment rasterization.
    "diagonal_collinear_overlap_vertex_misaligned": (
        {"long": L((0, 0), (1000, 1000)), "short": L((400, 400), (600, 600))},
        {},
        [(400.0, 400.0), (600.0, 600.0)],
        "engine",
    ),
}


@pytest.mark.parametrize("engine", ["cellgrouped", "relational"])
@pytest.mark.parametrize("name", sorted(CASES))
def test_ref_join_case(spark, monkeypatch, name, engine):
    data, kw, expected, _ref = CASES[name]
    if engine == "relational":
        monkeypatch.setattr(J, "GIANT_LINE_PTS", -1)
    t = Topology(data, spark=spark, **{**STAGE, **kw})
    got = t.junction_points()
    if isinstance(expected, int):
        assert len(got) == expected
    else:
        assert got == expected


def test_ref_join_point_bbox(spark):
    # test_join.py:148 — a lone point still yields the bbox
    t = Topology(
        [{"type": "Point", "coordinates": [0.5, 0.5]}],
        spark=spark,
        **STAGE,
    )
    assert t.bbox == (0.5, 0.5, 0.5, 0.5)


def test_ref_join_prequantize_points_bbox(spark):
    # test_join.py:155 — points participate in the prequantize bbox
    t = Topology(
        [
            P((0, 0), (1, 0), (1, 1), (0, 1), (0, 0)),
            {"type": "Point", "coordinates": [-0.5, 1.5]},
        ],
        spark=spark,
        prequantize=True,
        winding_order=None,
    )
    assert t.bbox == (-0.5, 0.0, 1.0, 1.5)

