"""Extract stage: geometry shredding into relational tables.

Re-expresses /root/reference/topojson/core/extract.py (the 18 input adapters
and ring/line decomposition) as a mapInPandas over a ``features_in`` frame:

    features_in(feature_seq long, fkey string, object_name string,
                geom_json string, properties map<string,string>)

Outputs three frames (the reference's linestrings/coordinates/bookkeeping
dict keys become first-class tables — SURVEY.md §1.4):

    lines (feature_seq, fkey, object_name, unit_seq, ring_seq,
           gtype, is_ring, coords array<double>)  # flat interleaved x,y
    points(feature_seq, fkey, object_name, unit_seq, pt_seq, x, y)
    features(feature_seq, fkey, object_name, template, properties)

``unit_seq`` numbers the reference's bookkeeping_geoms entries within a
feature (one polygon = one unit holding its rings; one linestring = one
unit); ``template`` is the feature's object structure (extract.py:459-470)
with unit references in place of coordinates, consumed by the hashmap stage.

Line extract order — the reference's positional identity — is the total
order (feature_seq, unit_seq, ring_seq); ids stay content-derived until the
final dense renumber at write time (SURVEY.md §4 determinism note).
"""

from __future__ import annotations

import hashlib
import json
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import kernels as K
from ..options import TopoOptions

FEATURES_IN_SCHEMA = T.StructType(
    [
        T.StructField("feature_seq", T.LongType()),
        T.StructField("fkey", T.StringType()),
        T.StructField("object_name", T.StringType()),
        T.StructField("geom_json", T.StringType()),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
        # reference parity: features arriving via a FeatureCollection are
        # NOT validity-checked (extract.py:446-487 routes them through the
        # shapely-object branch of _extract_dictionary, which never calls
        # is_valid); bare dict/Feature inputs ARE (extract.py:501-503,
        # :736-742). Producers set this per row.
        T.StructField("skip_validate", T.BooleanType()),
    ]
)

LINES_SCHEMA = T.StructType(
    [
        T.StructField("feature_seq", T.LongType()),
        T.StructField("fkey", T.StringType()),
        T.StructField("object_name", T.StringType()),
        T.StructField("unit_seq", T.IntegerType()),
        T.StructField("ring_seq", T.IntegerType()),
        T.StructField("gtype", T.StringType()),
        T.StructField("is_ring", T.BooleanType()),
        # FLAT interleaved [x0, y0, x1, y1, ...] — the engine wire format
        T.StructField("coords", T.ArrayType(T.DoubleType())),
        # fused line annotations, computed in the SAME Python pass that
        # already holds the numpy array (scaling lever: every extra
        # coordinate-carrying Arrow round-trip is a full-corpus memory pass):
        #   ldig — exact-content digest (cut stage identity)
        #   pdig — orientation/rotation-invariant path digest (join stage
        #          equal-linestring pre-filter)
        #   x0..y1 — envelope (bbox agg + every grid-cell join)
        # Any transform that rewrites coords (prequantize, presimplify)
        # recomputes these in its own single pass (annotate_lines).
        T.StructField("ldig", T.BinaryType()),
        T.StructField("pdig", T.BinaryType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
    ]
)

POINTS_SCHEMA = T.StructType(
    [
        T.StructField("feature_seq", T.LongType()),
        T.StructField("fkey", T.StringType()),
        T.StructField("object_name", T.StringType()),
        T.StructField("unit_seq", T.IntegerType()),
        T.StructField("pt_seq", T.IntegerType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("feature_seq", T.LongType()),
        T.StructField("fkey", T.StringType()),
        T.StructField("object_name", T.StringType()),
        T.StructField("template", T.StringType()),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
        T.StructField("invalid", T.BooleanType()),
    ]
)


# ------------------------------------------------------------ geometry walk


def _orient_rings(rings: list, winding_order: Optional[str]) -> list:
    """Polygon winding normalization at extract time (extract.py:296-299 via
    ops.py:793-838): CW_CCW -> exterior CW + holes CCW; CCW_CW inverse."""
    if winding_order is None:
        return rings
    want_ccw_ext = winding_order == "CCW_CW"
    out = []
    for i, ring in enumerate(rings):
        arr = np.asarray(ring, dtype=np.float64)
        ccw = want_ccw_ext if i == 0 else not want_ccw_ext
        out.append(K.orient_ring(arr, ccw).tolist())
    return out


def _ring_self_intersects(ring: np.ndarray) -> bool:
    """Proper self-intersection test for one ring (light ``is_valid``
    replacement; the reference drops invalid geometries via shapely,
    extract.py:739-742). Vectorized n^2 segment-pair test."""
    n = len(ring) - 1
    if n < 3:
        return True
    p = ring[:-1]
    r = ring[1:] - ring[:-1]
    # pair matrices (n, n); only j >= i + 2 and not the closure-adjacency
    d = r[:, None, 0] * r[None, :, 1] - r[:, None, 1] * r[None, :, 0]
    qp = p[None, :, :] - p[:, None, :]
    tn = qp[:, :, 0] * r[None, :, 1] - qp[:, :, 1] * r[None, :, 0]
    un = qp[:, :, 0] * r[:, None, 1] - qp[:, :, 1] * r[:, None, 0]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = tn / d
        u = un / d
    cross = (d != 0) & (t > 0) & (t < 1) & (u > 0) & (u < 1)
    ii, jj = np.triu_indices(n, k=2)
    keep = ~((ii == 0) & (jj == n - 1))
    return bool(cross[ii[keep], jj[keep]].any())


_CANON_TYPE = {
    t.lower(): t
    for t in (
        "Point", "MultiPoint", "LineString", "MultiLineString",
        "Polygon", "MultiPolygon", "GeometryCollection", "Feature",
    )
}


class _FeatureParser:
    """Walks one GeoJSON geometry/Feature, collecting lines/points/units."""

    def __init__(self, winding_order: Optional[str], validate: bool = True):
        self.winding_order = winding_order
        self.validate = validate
        self.lines: list = []
        self.points: list = []
        self.unit_seq = 0
        self.invalid = False

    def parse(self, geom: dict) -> Optional[dict]:
        # case-insensitive type dispatch: the reference routes through
        # shapely's shape(), which lowercases ob["type"] — fixtures like
        # test_cut.py:191 rely on 'Linestring' parsing
        gtype = _CANON_TYPE.get(str(geom.get("type")).lower())
        if gtype == "Feature":
            inner = self.parse(geom["geometry"])
            return inner
        if gtype == "GeometryCollection":
            subs = [self.parse(g) for g in geom.get("geometries", [])]
            return {"type": "GeometryCollection", "geometries": subs}
        if gtype == "Point":
            coords = geom.get("coordinates")
            if not coords:
                return {"type": gtype, "coordinates": None}
            u = self.unit_seq
            self.unit_seq += 1
            self.points.append((u, 0, float(coords[0]), float(coords[1])))
            return {"type": gtype, "coordinates": [u]}
        if gtype == "MultiPoint":
            refs = []
            for c in geom.get("coordinates") or []:
                u = self.unit_seq
                self.unit_seq += 1
                self.points.append((u, 0, float(c[0]), float(c[1])))
                refs.append(u)
            return {"type": gtype, "coordinates": refs}
        if gtype == "LineString":
            coords = geom.get("coordinates")
            if not coords or len(coords) < 2:
                # empty linestring -> arcs None (extract.py:257-260)
                return {"type": gtype, "arcs": None}
            u = self.unit_seq
            self.unit_seq += 1
            self.lines.append((u, 0, gtype, False, coords))
            return {"type": gtype, "arcs": [u]}
        if gtype == "MultiLineString":
            units = []
            for line in geom.get("coordinates") or []:
                u = self.unit_seq
                self.unit_seq += 1
                self.lines.append((u, 0, gtype, False, line))
                units.append(u)
            return {"type": gtype, "arcs": units}
        if gtype == "Polygon":
            rings = geom.get("coordinates") or []
            if rings and not isinstance(rings[0][0], (list, tuple)):
                # tolerate unnested ring (reference test fixtures do this)
                rings = [rings]
            rings = self._validate_rings(rings)
            if rings is None:
                return None
            rings = _orient_rings(rings, self.winding_order)
            u = self.unit_seq
            self.unit_seq += 1
            for ri, ring in enumerate(rings):
                self.lines.append((u, ri, gtype, True, ring))
            return {"type": gtype, "arcs": [u]}
        if gtype == "MultiPolygon":
            units = []
            for poly in geom.get("coordinates") or []:
                rings = self._validate_rings(poly)
                if rings is None:
                    return None
                rings = _orient_rings(rings, self.winding_order)
                u = self.unit_seq
                self.unit_seq += 1
                for ri, ring in enumerate(rings):
                    self.lines.append((u, ri, "MultiPolygon", True, ring))
                units.append(u)
            return {"type": gtype, "arcs": units}
        # unknown type -> invalid
        self.invalid = True
        return None

    def _validate_rings(self, rings: list) -> Optional[list]:
        out = []
        for ring in rings:
            arr = np.asarray(ring, dtype=np.float64)
            if len(arr) < 3:
                self.invalid = True
                return None
            if not np.array_equal(arr[0], arr[-1]):
                arr = np.vstack([arr, arr[:1]])
            if len(arr) < 4:
                self.invalid = True
                return None
            if self.validate and (
                K.signed_area(arr) == 0.0  # degenerate/collinear ring —
                # shapely is_valid rejects zero-area (extract.py:739-742)
                or _ring_self_intersects(arr)
            ):
                self.invalid = True
                return None
            out.append(arr.tolist())
        return out


def line_annotations(arr: np.ndarray, is_ring: bool) -> tuple:
    """(flat, ldig, pdig, x0, y0, x1, y1) for one (k,2) float64 array.

    ldig — sha1 over raw float64 coordinate bytes (with -0.0 normalized) +
    the ring flag: exact-content line identity (cut stage groups on it so
    byte-identical duplicate lines are split once). pdig — normalize_path
    digest (join stage's equal-linestring pre-filter). Envelope mins/maxes
    feed the bbox aggregate and every grid-cell join without re-walking the
    coords column JVM-side."""
    arr = np.ascontiguousarray(arr, dtype=np.float64) + 0.0
    flat = arr.ravel().tolist()
    ldig = hashlib.sha1(
        arr.tobytes() + (b"R" if is_ring else b"L")
    ).digest()
    pdig = K.normalize_path(arr)
    mn = arr.min(axis=0)
    mx = arr.max(axis=0)
    return (
        flat, ldig, pdig,
        float(mn[0]), float(mn[1]), float(mx[0]), float(mx[1]),
    )


def _parse_batch(
    pdf: pd.DataFrame, winding_order: Optional[str]
) -> tuple:
    lines_rows, points_rows, feat_rows = [], [], []
    for row in pdf.itertuples(index=False):
        try:
            geom = json.loads(row.geom_json)
        except (json.JSONDecodeError, TypeError):
            geom = None
        skip = bool(getattr(row, "skip_validate", False) or False)
        parser = _FeatureParser(winding_order, validate=not skip)
        template = parser.parse(geom) if isinstance(geom, dict) else None
        invalid = parser.invalid or template is None
        props = row.properties
        if isinstance(geom, dict) and geom.get("type") == "Feature":
            # property VALUES are stored json-encoded so arbitrary JSON
            # (nested dicts, numbers, bools — issue 151 parity) round-trips
            # through the map<string,string> column; to_dict decodes
            gprops = geom.get("properties") or {}
            merged = dict(props or {})
            merged.update({k: json.dumps(v) for k, v in gprops.items()})
            props = merged
        feat_rows.append(
            (
                row.feature_seq,
                row.fkey,
                row.object_name,
                json.dumps(template) if not invalid else None,
                props,
                bool(invalid),
            )
        )
        if invalid:
            continue
        for u, ri, gt, is_ring, coords in parser.lines:
            try:
                arr = np.asarray(coords, dtype=np.float64)[:, :2]
            except (ValueError, IndexError):
                # ragged positions mixing 2- and 3-element coords are legal
                # per RFC 7946 — fall back to per-point extraction
                arr = np.asarray(
                    [[float(c[0]), float(c[1])] for c in coords],
                    dtype=np.float64,
                )
            lines_rows.append(
                (
                    row.feature_seq,
                    row.fkey,
                    row.object_name,
                    u,
                    ri,
                    gt,
                    is_ring,
                    *line_annotations(arr, bool(is_ring)),
                )
            )
        for u, ps, x, y in parser.points:
            points_rows.append(
                (row.feature_seq, row.fkey, row.object_name, u, ps, x, y)
            )
    return lines_rows, points_rows, feat_rows


# ------------------------------------------------------------ stage API


UNIFIED_SCHEMA = T.StructType(
    [T.StructField("rec", T.StringType())]  # 'line' | 'point' | 'feature'
    + LINES_SCHEMA.fields
    + [
        T.StructField("pt_seq", T.IntegerType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("template", T.StringType()),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
        T.StructField("invalid", T.BooleanType()),
    ]
)


def unified_emit(winding_order: Optional[str]):
    """mapInPandas function emitting the unified record stream (one parse per
    document). Shared by the batch extract and the streaming ingest so the
    tuple layout can never drift between the two."""
    ucols = [f.name for f in UNIFIED_SCHEMA.fields]

    def emit(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            lrows, prows, frows = _parse_batch(pdf, winding_order)
            rows = []
            _l6 = (None,) * 6  # pt_seq, x, y, template, properties, invalid
            for r in lrows:
                rows.append(("line", *r, *_l6))
            _a6 = (None,) * 6  # ldig, pdig, x0, y0, x1, y1
            for fs, fk, on, u, ps, x, y in prows:
                rows.append(
                    ("point", fs, fk, on, u, None, None, None, None, *_a6,
                     ps, x, y, None, None, None)
                )
            for fs, fk, on, tmpl, props, inv in frows:
                rows.append(
                    ("feature", fs, fk, on, None, None, None, None, None,
                     *_a6, None, None, None, tmpl, props, inv)
                )
            yield pd.DataFrame(rows, columns=ucols)

    return emit


def extract(
    features_in: DataFrame, options: TopoOptions, metrics=None
) -> tuple:
    """Run the extract stage. Returns (lines, points, features) DataFrames.

    ONE mapInPandas parse emits a unified record stream which is
    lineage-truncated and split by record kind — each document's JSON is
    parsed exactly once regardless of how many downstream actions run.
    ``metrics`` (plans.metrics.StageMetrics) attaches the invalid-geometry
    counter of extract.py:137-143 plus row counters, at zero extra cost.
    """
    unified = features_in.mapInPandas(
        unified_emit(options.winding_order), schema=UNIFIED_SCHEMA
    )
    if not unified.isStreaming:
        # pin the unified parse so every downstream branch (lines / points /
        # features) reads the parse output instead of re-parsing JSON, and
        # downstream plan analysis stays O(stage).
        from ..plans.pin import pin_truncate

        unified = pin_truncate(unified)
    if metrics is not None and not unified.isStreaming:
        # observed AFTER the lineage truncation: a CollectMetrics node below
        # a checkpoint boundary never publishes (the RDD materialization is
        # not a SQL execution); above it, the first downstream query reports
        unified = metrics.observe(
            "extract",
            unified,
            F.sum(F.when(F.col("rec") == "line", 1).otherwise(0)).alias(
                "n_lines"
            ),
            F.sum(F.when(F.col("rec") == "point", 1).otherwise(0)).alias(
                "n_points"
            ),
            F.sum(F.when(F.col("rec") == "feature", 1).otherwise(0)).alias(
                "n_features"
            ),
            F.sum(
                F.when((F.col("rec") == "feature") & F.col("invalid"), 1)
                .otherwise(0)
            ).alias("n_invalid"),
        )

    lines = unified.where(F.col("rec") == "line").select(
        *[f.name for f in LINES_SCHEMA.fields]
    )
    points = unified.where(F.col("rec") == "point").select(
        *[f.name for f in POINTS_SCHEMA.fields]
    )
    features = unified.where(F.col("rec") == "feature").select(
        *[f.name for f in FEATURES_SCHEMA.fields]
    )
    return lines, points, features


def _is_fc(obj) -> bool:
    return (
        isinstance(obj, dict)
        and str(obj.get("type", "")).casefold() == "featurecollection"
    )


def features_from_mapping(
    spark: SparkSession,
    data,
    options: TopoOptions,
) -> DataFrame:
    """Driver-side adapter for dict / list-of-geometries input — the parity
    path mirroring extract.py:592-793 (_extract_list/_extract_dictionary).

    Accepts a dict {key: geometry-dict}, a list of geometry dicts, a single
    geometry dict, a GeoJSON FeatureCollection dict, or (with multiple
    object_name entries) a list of such collections.
    """
    names = options.object_names()
    rows = []

    def add_rows(
        mapping: dict, object_name: str, base_seq: int,
        from_fc: bool = False,
    ) -> int:
        seq = base_seq
        for key, obj in mapping.items():
            if (
                isinstance(obj, dict)
                and str(obj.get("type", "")).casefold() == "featurecollection"
            ):
                # a FeatureCollection VALUE explodes into its features, the
                # outer key is dropped (extract.py:676-691 delegates the
                # nested dict to _extract_featurecollection)
                seq = add_rows(
                    to_mapping(obj, options.ignore_index), object_name, seq,
                    from_fc=True,
                )
                continue
            props = None
            geom = obj
            if isinstance(obj, dict) and "geometry" in obj and not obj.get("type"):
                # json-encoded values (decoded in to_dict) — see _parse_batch
                props = {
                    k: json.dumps(v) for k, v in obj.items() if k != "geometry"
                }
                geom = obj["geometry"]
            rows.append(
                (seq, str(key), object_name, json.dumps(geom), props,
                 from_fc)
            )
            seq += 1
        return seq

    def to_mapping(data_obj, ignore_index: bool) -> dict:
        if isinstance(data_obj, dict) and str(
            data_obj.get("type", "")
        ).casefold() == "featurecollection":
            feats = data_obj["features"]
            zfill = len(str(len(feats)))
            mapping = {}
            for ix, feature in enumerate(feats):
                fid = feature.get("id")
                key = (
                    f"feature_{str(ix).zfill(zfill)}"
                    if (ignore_index or fid is None)
                    else fid
                )
                if key in mapping:
                    raise IndexError(
                        "index in data duplicated, use `ignore_index=True` "
                        "to overwrite index"
                    )
                geom = dict(feature["geometry"])
                if feature.get("properties"):
                    geom = {
                        "type": "Feature",
                        "geometry": feature["geometry"],
                        "properties": feature["properties"],
                    }
                mapping[key] = geom
            return mapping
        if isinstance(data_obj, dict):
            return data_obj
        if isinstance(data_obj, list):
            return dict(enumerate(data_obj))
        return {"feature_0": data_obj}

    if len(names) > 1:
        if not isinstance(data, list) or len(data) != len(names):
            raise LookupError(
                "the number of data objects does not match the number of "
                "object_name"
            )
        seq = 0
        for name, sub in zip(names, data):
            seq = add_rows(
                to_mapping(sub, options.ignore_index), name, seq,
                from_fc=_is_fc(sub),
            )
    else:
        add_rows(
            to_mapping(data, options.ignore_index), names[0], 0,
            from_fc=_is_fc(data),
        )

    return spark.createDataFrame(rows, schema=FEATURES_IN_SCHEMA)


def features_from_documents(
    documents: DataFrame, object_name: str = "data"
) -> DataFrame:
    """The corpus adapter: every ``kind='geometry'`` span becomes a feature.

    feature_seq must reproduce the reference's dict-insertion order, i.e.
    (doc order, span order). doc_ids are zero-padded and offsets strictly
    increasing, so the order key is content-derived: a dense rank over
    (doc_id, offset) — computed scalably at the end of the pipeline; here we
    derive a *sortable* surrogate from the numeric doc suffix when present,
    falling back to a rank window otherwise.
    """
    spans = documents.select(
        "doc_id", F.posexplode("spans").alias("span_ix", "span")
    ).where(F.col("span.kind") == "geometry")
    # content-derived global order: doc number * 2^20 + span index
    docnum = F.regexp_extract("doc_id", r"(\d+)$", 1)
    if not documents.isStreaming and (
        documents.select("doc_id")
        .where(F.regexp_extract("doc_id", r"(\d+)$", 1) == "")
        .limit(1)
        .count()
        > 0
    ):
        # non-numeric doc_ids: a hashed surrogate can collide (two docs
        # sharing a feature_seq merges their identity); mint the exact
        # dense rank instead. One extra narrow pass, batch only.
        from ..plans.ids import dense_index

        spans = dense_index(
            spans,
            ["doc_id", "span_ix"],
            "feature_seq",
            key_cols=["doc_id", "span_ix"],
        )
        feature_seq = F.col("feature_seq")
    else:
        # numeric-suffix ids (the corpus invariant), or a streaming source
        # where no action may run: 43-bit surrogate (2^43 * 2^20 still
        # fits a long; collision odds for 10^9 distinct non-numeric ids
        # ~1e-4 per pair-space — streaming callers with non-numeric ids
        # should pre-assign numeric ids upstream)
        feature_seq = (
            F.when(docnum != "", docnum.cast("long"))
            .otherwise(F.pmod(F.xxhash64("doc_id"), F.lit(1 << 43)))
            * F.lit(1 << 20)
            + F.col("span_ix")
        )
    return spans.select(
        feature_seq.alias("feature_seq"),
        F.concat_ws("#", "doc_id", F.col("span_ix").cast("string")).alias("fkey"),
        F.lit(object_name).alias("object_name"),
        F.col("span.text").alias("geom_json"),
        F.lit(None).cast(T.MapType(T.StringType(), T.StringType())).alias(
            "properties"
        ),
        # corpus hygiene: geometry spans are always validated
        F.lit(False).alias("skip_validate"),
    )
