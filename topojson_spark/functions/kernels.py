"""Pure-numpy geometry kernels.

Each function re-expresses one computational kernel of the reference
(/root/reference/topojson/ops.py) with bit-identical numerics where the
reference's tests pin exact values (quantize grid math, the 1e8 vertex
rounding, the 1e-8 on-line tolerance, fast_split's ring rotation, the
column-sorted canonical duplicate form). They are deliberately dependency-free
(numpy only — shapely/geopandas are not available on executors) and are called
from Arrow-batched pandas UDFs, never per-row Spark Python UDFs.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

import numpy as np

# vertex identity tolerance — reference ops.py:299 (`tol = 1e8` rounding)
VERTEX_TOL = 1e8
# on-line distance tolerance for path-connected cut — reference ops.py:218
ON_LINE_TOL = 1e-8


def as_np(c) -> np.ndarray:
    """(k,2) float64 array from a coordinate cell.

    The engine's wire format is FLAT interleaved [x0, y0, x1, y1, ...]
    (array<double>): Arrow hands it over as one primitive float64 buffer and
    the reshape is zero-copy — the single biggest lever for keeping the
    pipeline compute-bound instead of allocation/bandwidth-bound. Nested
    [[x, y], ...] input (driver-side parity paths, user-facing spatial
    tables) is still accepted via the vstack fallback."""
    arr = np.asarray(c)
    if arr.dtype != object and arr.ndim == 1:
        return arr.astype(np.float64, copy=False).reshape(-1, 2)
    if arr.dtype != object and arr.ndim == 2:
        return arr.astype(np.float64, copy=False)
    return np.vstack(c).astype(np.float64, copy=False)


def flat(arr: np.ndarray) -> list:
    """(k,2) array -> flat interleaved list (the wire format)."""
    return np.ascontiguousarray(arr, dtype=np.float64).ravel().tolist()


# ---------------------------------------------------------------- identity


def vertex_keys(coords: np.ndarray) -> np.ndarray:
    """Int64 (k,2) identity keys: round(coord * 1e8), the reference's exact
    vertex-equality rule (ops.py:233-237, ops.py:299-304)."""
    return np.around(np.asarray(coords, dtype=np.float64) * VERTEX_TOL).astype(np.int64)


def packed_vertex_keys(coords: np.ndarray) -> np.ndarray:
    """1-D byte-view key per vertex for fast row-wise membership (asvoid
    replacement, ops.py:59-83; -0.0 is normalized by the round() above)."""
    k = np.ascontiguousarray(vertex_keys(coords))
    return k.view(np.dtype((np.void, 16))).ravel()


# ---------------------------------------------------------------- quantize


def quantize_factors(
    bbox: Tuple[float, float, float, float], quant_factor: float
) -> Tuple[float, float]:
    """Grid scale (kx, ky) — ops.py:634-640."""
    x0, y0, x1, y1 = bbox
    kx = 1 if (x1 - x0) == 0 else (x1 - x0) / (quant_factor - 1)
    ky = 1 if (y1 - y0) == 0 else (y1 - y0) / (quant_factor - 1)
    return kx, ky


def quantize_coords(
    coords: np.ndarray,
    bbox: Tuple[float, float, float, float],
    quant_factor: float,
) -> np.ndarray:
    """Snap one coordinate sequence to the quantization grid and drop
    consecutive repeats unless the line would degenerate to a point —
    exact semantics of ops.py:641-668."""
    kx, ky = quantize_factors(bbox, quant_factor)
    xy = np.asarray(coords, dtype=np.float64)
    q = (
        np.column_stack(((xy[:, 0] - bbox[0]) / kx, (xy[:, 1] - bbox[1]) / ky))
        .round()
        .astype(np.int64)
    )
    bool_slice = np.insert(np.absolute(np.diff(q, 1, axis=0)).sum(axis=1), 0, 1) != 0
    if not bool_slice.sum() == 1 or len(q) == bool_slice.sum():
        return q[bool_slice]
    return q


def dequantize_coords(q: np.ndarray, scale, translate) -> np.ndarray:
    """Inverse affine (non-delta-encoded variant): x*kx + x0."""
    q = np.asarray(q, dtype=np.float64)
    return q * np.asarray(scale, dtype=np.float64) + np.asarray(
        translate, dtype=np.float64
    )


def delta_encode(coords: np.ndarray) -> np.ndarray:
    """Per-arc first point + successive diffs as int64 — ops.py:917-925."""
    ls = np.asarray(coords).astype(np.int64)
    first = ls[0].copy()
    out = ls - np.roll(ls, 1, axis=0)
    out[0] = first
    return out


def delta_decode(arcs: np.ndarray, scale, translate) -> np.ndarray:
    """cumsum * scale + translate — ops.py:521-523 (dequantize)."""
    a = np.asarray(arcs, dtype=np.float64)
    return a.cumsum(axis=0) * np.asarray(scale) + np.asarray(translate)


# ---------------------------------------------------------------- cleaning


def remove_collinear_points(line: np.ndarray) -> np.ndarray:
    """Drop interior vertices with zero cross-product — ops.py:1030-1045."""
    line = np.asarray(line)
    if len(line) <= 2:
        return line
    p1 = line[:-2]
    p2 = line[1:-1]
    p3 = line[2:]
    collinear = (p2[:, 0] - p1[:, 0]) * (p3[:, 1] - p1[:, 1]) == (
        p3[:, 0] - p1[:, 0]
    ) * (p2[:, 1] - p1[:, 1])
    mask = np.concatenate([[False], collinear, [False]])
    return line[~mask]


# ---------------------------------------------------------------- split


def fast_split(
    line: np.ndarray, splitter_keys: np.ndarray, is_ring: bool
) -> List[np.ndarray]:
    """Split a coordinate array at vertices whose identity key appears in
    ``splitter_keys`` — exact port of ops.py:270-335 including the ring
    rotation (rotate to first junction instead of splitting there) and the
    never-split-at-0/last rule.

    ``splitter_keys`` is the packed (void16) key set of junction coordinates.
    """
    line = np.asarray(line, dtype=np.float64)
    line_keys = packed_vertex_keys(line)
    splitter_indices = np.flatnonzero(np.isin(line_keys, splitter_keys))

    if is_ring and len(splitter_indices) > 0 and splitter_indices[0] != 0:
        first_index = splitter_indices[0]
        line = line[:-1]
        line = np.roll(line, -first_index, axis=0)
        line = np.append(line, [line[0]], axis=0)
        splitter_indices = splitter_indices[1:]
        splitter_indices = splitter_indices - first_index

    splitter_indices = splitter_indices[
        (splitter_indices < (line.shape[0] - 1)) & (splitter_indices > 0)
    ]

    tmp_indices = np.zeros(line.shape[0], dtype=np.int64)
    tmp_indices[splitter_indices] = 1
    tmp_indices += 1
    ls_xy = np.repeat(line, tmp_indices, axis=0)
    splitter_indices = splitter_indices + np.arange(1, len(splitter_indices) + 1)
    return np.split(ls_xy, splitter_indices, axis=0)


def insert_points_on_line(line: np.ndarray, pts: np.ndarray) -> np.ndarray:
    """Insert junction coordinates that lie on the line (within 1e-8) but are
    not existing vertices — semantics of ops.py:194-267 (insert_coords_in_line)
    without shapely: distances/projections are computed in numpy.

    Returns the new coordinate array (or the original if nothing to insert).
    """
    line = np.asarray(line, dtype=np.float64)
    pts = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    if len(pts) == 0:
        return line

    d, proj = _dist_and_proj_to_polyline(pts, line)
    on_line = d < ON_LINE_TOL
    pts_on = pts[on_line]
    proj_on = proj[on_line]
    if len(pts_on) == 0:
        return line

    # drop points that already are vertices (1e8 rounding identity)
    existing = packed_vertex_keys(line)
    keys = packed_vertex_keys(pts_on)
    new_mask = ~np.isin(keys, existing)
    pts_new = pts_on[new_mask]
    dist_new = proj_on[new_mask]
    if pts_new.size == 0:
        return line

    keep = dist_new > 0  # ops.py:246
    pts_new, dist_new = pts_new[keep], dist_new[keep]
    if pts_new.size == 0:
        return line
    order = dist_new.argsort()
    dist_new = dist_new[order]
    pts_new = pts_new[order]

    # cumulative arc length per vertex (ops.py:254-261)
    roll = np.roll(line, 1, axis=0) - line
    eucl = np.sqrt(np.einsum("ij,ij->i", roll, roll))
    eucl[0] = 0
    cumsum = eucl.cumsum()

    insert_idx = np.searchsorted(cumsum, dist_new)
    return np.insert(line, insert_idx, pts_new, axis=0)


def _dist_and_proj_to_polyline(
    pts: np.ndarray, line: np.ndarray
) -> Tuple[np.ndarray, np.ndarray]:
    """For each point: (min distance to polyline, arc-length of the closest
    projection measured from the line start). Vectorized (npts x nsegs)."""
    a = line[:-1]  # (m,2)
    b = line[1:]
    ab = b - a
    seg_len2 = np.einsum("ij,ij->i", ab, ab)  # (m,)
    seg_len = np.sqrt(seg_len2)
    cum = np.concatenate([[0.0], seg_len.cumsum()])[:-1]  # start offset per seg

    ap = pts[:, None, :] - a[None, :, :]  # (n,m,2)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.einsum("nmj,mj->nm", ap, ab) / seg_len2[None, :]
    t = np.nan_to_num(t, nan=0.0)
    t = np.clip(t, 0.0, 1.0)
    closest = a[None, :, :] + t[:, :, None] * ab[None, :, :]
    diff = pts[:, None, :] - closest
    d2 = np.einsum("nmj,nmj->nm", diff, diff)
    seg_ix = d2.argmin(axis=1)
    n_ix = np.arange(len(pts))
    dmin = np.sqrt(d2[n_ix, seg_ix])
    proj = cum[seg_ix] + t[n_ix, seg_ix] * seg_len[seg_ix]
    return dmin, proj


# ---------------------------------------------------------------- orientation


def signed_area(ring: np.ndarray) -> float:
    """Shoelace via np.roll — ops.py:338-357."""
    ring = np.asarray(ring, dtype=np.float64)
    xs, ys = ring.T
    return float((xs * (np.roll(ys, -1) - np.roll(ys, +1))).sum() / 2)


def is_ccw(ring: np.ndarray) -> bool:
    """ops.py:360-374."""
    return signed_area(ring) >= 0.0


def orient_ring(ring: np.ndarray, ccw: bool) -> np.ndarray:
    """Force a ring's winding (replacement for shapely orient on one ring)."""
    if is_ccw(ring) != ccw:
        return np.asarray(ring)[::-1]
    return np.asarray(ring)


# ---------------------------------------------------------------- dedup keys


def canonical_dup_bytes(coords: np.ndarray) -> bytes:
    """Canonical byte form used for duplicate-arc detection — exact port of
    find_duplicates' per-linestring canonicalization (ops.py:961-971):
    rings drop the closing vertex, coordinates are column-independently
    sorted, rings additionally re-prefix the first two sorted rows (the
    np.append there flattens to 1-D; byte layout is identical either way).

    The reference hashes with process-salted Python ``hash()`` (ops.py:971);
    we digest the same bytes with sha1 so results are deterministic across
    executors/retries (SURVEY.md §7 'process-salted hash' hazard).
    """
    c = np.asarray(coords, dtype=np.float64)
    c = c + 0.0  # normalize -0.0 (asvoid, ops.py:77-82)
    if np.array_equal(c[0], c[-1]):
        c = c[0:-1]
        c = np.sort(c, axis=0)
        c = np.append(c[0:2], c)
    else:
        c = np.sort(c, axis=0)
    return c.tobytes()


# ---------------------------------------------------------------- path equality


def normalize_path(coords: np.ndarray) -> bytes:
    """Orientation/rotation-invariant normal form of a polyline's *path*,
    approximating shapely ``equals`` for simple paths (join.py:207-210 uses
    equals to skip junctions between identical linestrings).

    Steps: snap to 1e8 identity grid, drop collinear interior vertices, then
    - ring: rotate so the lexicographically-smallest vertex is first and pick
      the lexicographically smaller of the two traversal directions;
    - open line: pick the direction with the lexicographically smaller
      vertex sequence.
    """
    keys = vertex_keys(remove_collinear_points(np.asarray(coords, dtype=np.float64)))
    if len(keys) > 1 and np.array_equal(keys[0], keys[-1]):
        body = keys[:-1]
        # for each direction, rotate to the minimal vertex then compare
        variants = []
        for cand in (body, body[::-1]):
            flat = cand.view([("x", np.int64), ("y", np.int64)]).ravel()
            start = int(np.lexsort((flat["y"], flat["x"]))[0])
            variants.append(np.roll(cand, -start, axis=0).tobytes())
        return min(variants) + b"R"
    fwd = keys.tobytes()
    bwd = keys[::-1].tobytes()
    return min(fwd, bwd) + b"L"


# ---------------------------------------------------------------- overlaps


def _overlap_quadratic(p, r, q, s) -> list:
    """All-pairs collinear-overlap pieces between two segment sets.

    ``p``/``r`` are (n,2) starts and direction vectors, ``q``/``s`` (m,2).
    Returns a list of [x1, y1, x2, y2] pieces. O(n*m) — callers keep n or m
    small (line_pair_shared_segments routes only key-unmatched residues
    here)."""
    if len(p) == 0 or len(q) == 0:
        return []
    cross_rs = r[:, None, 0] * s[None, :, 1] - r[:, None, 1] * s[None, :, 0]
    qp = q[None, :, :] - p[:, None, :]
    cross_qp_r = qp[:, :, 0] * r[:, None, 1] - qp[:, :, 1] * r[:, None, 0]
    collinear = (cross_rs == 0) & (cross_qp_r == 0)
    if not collinear.any():
        return []

    rr = np.einsum("ij,ij->i", r, r)  # (n,)
    out = []
    idx_i, idx_j = np.nonzero(collinear)
    for i, j in zip(idx_i, idx_j):
        if rr[i] == 0:
            continue
        t0 = np.dot(q[j] - p[i], r[i]) / rr[i]
        t1 = np.dot(q[j] + s[j] - p[i], r[i]) / rr[i]
        # overlap boundaries are always *vertices* of one of the two lines;
        # use the original coordinates instead of p + t*r interpolation so
        # no float noise leaks into junctions/arc bytes (GEOS does the same)
        if t0 <= t1:
            blo, bhi = q[j], q[j] + s[j]
        else:
            t0, t1 = t1, t0
            blo, bhi = q[j] + s[j], q[j]
        lo, hi = max(t0, 0.0), min(t1, 1.0)
        if hi - lo <= 0:
            continue  # touch at a point (or disjoint) -> no line piece
        seg0 = p[i] if t0 <= 0 else blo
        seg1 = p[i] + r[i] if t1 >= 1 else bhi
        out.append([seg0[0], seg0[1], seg1[0], seg1[1]])
    return out


def _undirected_seg_keys(pts: np.ndarray) -> np.ndarray:
    """32-byte void key per segment: exact float64 bytes of the
    (lexicographically ordered) endpoint pair, -0.0 normalized."""
    a = pts[:-1] + 0.0
    b = pts[1:] + 0.0
    swap = (b[:, 0] < a[:, 0]) | ((b[:, 0] == a[:, 0]) & (b[:, 1] < a[:, 1]))
    lo = np.where(swap[:, None], b, a)
    hi = np.where(swap[:, None], a, b)
    segs = np.ascontiguousarray(
        np.concatenate([lo, hi], axis=1), dtype=np.float64
    )
    return segs.view(np.dtype((np.void, 32))).ravel()


def line_pair_shared_segments(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Collinear overlapping pieces between two polylines.

    Replaces ``geom1.intersection(geom2)`` + ``linemerge_ext`` + ``explode``
    of the path-connected junction mode (join.py:213-217): shapely's
    line ∩ line produces line parts exactly where segments overlap
    collinearly (point crossings are dropped by extract_lines,
    ops.py:136-159), so only those pieces are computed here.

    Fast path: segments identical (undirected, bit-exact) in both lines
    are matched by a single sort on packed endpoint keys and emitted whole;
    only the unmatched residue of each side goes through the O(n*m)
    collinear sweep. Vertex-aligned shared boundaries — the dominant case
    in topology corpora — therefore cost O((n+m) log(n+m)) per pair instead
    of O(n*m). Known (documented) deviation from the pure quadratic sweep:
    when BOTH lines self-overlap along the same collinear run with two
    different key-matched segmentations, the sub-piece of a matched segment
    against another matched segment is not re-derived; GEOS semantics on
    such self-overlapping inputs are equally unspecified.

    Returns an (n, 4) array of overlap segments [x1, y1, x2, y2], unmerged.
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    p, r = a[:-1], a[1:] - a[:-1]  # (n,2)
    q, s = b[:-1], b[1:] - b[:-1]  # (m,2)
    if len(p) == 0 or len(q) == 0:
        return np.empty((0, 4))

    ka = _undirected_seg_keys(a)
    kb = _undirected_seg_keys(b)
    uniq, inv = np.unique(np.concatenate([ka, kb]), return_inverse=True)
    in_a = np.zeros(len(uniq), dtype=bool)
    in_b = np.zeros(len(uniq), dtype=bool)
    in_a[inv[: len(ka)]] = True
    in_b[inv[len(ka):]] = True
    both = in_a & in_b
    match_a = both[inv[: len(ka)]]
    match_b = both[inv[len(ka):]]

    out: list = []
    emit = match_a & ((r[:, 0] != 0) | (r[:, 1] != 0))  # skip degenerate
    if emit.any():
        whole = np.concatenate([p[emit], p[emit] + r[emit]], axis=1)
        out.extend(whole.tolist())
    # envelope prefilter for the O(n*m) residue sweeps: an overlap piece
    # lies on BOTH segments, so a residue segment of one line can only
    # contribute if its bbox meets the other line's envelope (and vice
    # versa). For vertex-aligned corpora (shared boundaries key-matched
    # above) this collapses the sweep to the thin band near the shared
    # region — the dominant cost of the whole junction stage otherwise.
    a_lo, a_hi = a.min(axis=0), a.max(axis=0)
    b_lo, b_hi = b.min(axis=0), b.max(axis=0)
    if not match_a.all():
        na = ~match_a
        pa, ra = p[na], r[na]
        sel = _seg_env_mask(pa, ra, b_lo, b_hi)
        if sel.any():
            pa, ra = pa[sel], ra[sel]
            qs = _seg_env_mask(q, s, np.minimum(pa, pa + ra).min(axis=0),
                               np.maximum(pa, pa + ra).max(axis=0))
            if qs.any():
                out.extend(_overlap_quadratic(pa, ra, q[qs], s[qs]))
    if not match_b.all():
        nb = ~match_b
        qb, sb = q[nb], s[nb]
        sel = _seg_env_mask(qb, sb, a_lo, a_hi)
        if sel.any():
            qb, sb = qb[sel], sb[sel]
            ps = _seg_env_mask(p, r, np.minimum(qb, qb + sb).min(axis=0),
                               np.maximum(qb, qb + sb).max(axis=0))
            if ps.any():
                out.extend(_overlap_quadratic(qb, sb, p[ps], r[ps]))
    if not out:
        return np.empty((0, 4))
    return _dedupe_segments(np.asarray(out))


def _seg_env_mask(p: np.ndarray, r: np.ndarray,
                  lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Per-segment bbox-intersects-envelope mask for segments (p, p + r)."""
    e0 = np.minimum(p, p + r)
    e1 = np.maximum(p, p + r)
    return (
        (e0[:, 0] <= hi[0]) & (e1[:, 0] >= lo[0])
        & (e0[:, 1] <= hi[1]) & (e1[:, 1] >= lo[1])
    )


def _dedupe_segments(segs: np.ndarray) -> np.ndarray:
    """Drop duplicate overlap pieces (direction-insensitive)."""
    a = np.around(segs * VERTEX_TOL).astype(np.int64)
    lo = np.minimum(a[:, :2], a[:, 2:])
    hi = np.maximum(a[:, :2], a[:, 2:])
    canon = np.ascontiguousarray(np.concatenate([lo, hi], axis=1))
    # byte-view unique: same row identity as unique(axis=0) at a fraction
    # of the cost (int64 rows have no -0.0 ambiguity)
    cv = canon.view(np.dtype((np.void, 32))).ravel()
    _, ix = np.unique(cv, return_index=True)
    return segs[np.sort(ix)]


def merge_segments_to_chains(segs: np.ndarray) -> List[np.ndarray]:
    """Linemerge for small segment sets (shapely.ops.linemerge semantics:
    join pieces at endpoints shared by exactly two pieces). Returns a list of
    (k,2) polyline coordinate arrays."""
    if len(segs) == 0:
        return []
    pieces = [np.array([[s[0], s[1]], [s[2], s[3]]]) for s in segs]
    return merge_lines(pieces)


def shared_chain_endpoints(segs: np.ndarray) -> np.ndarray:
    """Endpoint SET of the merged chains of ``segs`` — the junction finder's
    actual need (join.py dedups on exact (jx, jy) downstream, so endpoint
    multiplicity is irrelevant).

    Fast path: when the quantized segment graph is a pure path forest
    (every vertex degree <= 2, no self-loops, and every connected component
    holds a degree-1 vertex — i.e. no cycles, checked by a small union-find
    over the pair's segments), the chain endpoints are exactly the
    degree-1 vertices: one vectorized unique instead of the Python
    merge_lines walk. Any other structure (branches, closed rings) falls
    back to merge_segments_to_chains, whose semantics this must match —
    tests pin the equivalence on branched/cyclic/degenerate graphs."""
    if len(segs) == 0:
        return np.empty((0, 2))
    n = len(segs)
    k = np.around(segs * VERTEX_TOL).astype(np.int64)  # (n, 4)
    if ((k[:, 0] == k[:, 2]) & (k[:, 1] == k[:, 3])).any():  # self-loop
        return _chain_endpoints_exact(segs)
    ends = np.concatenate([segs[:, :2], segs[:, 2:]])  # (2n, 2) floats
    kv = (
        np.ascontiguousarray(np.concatenate([k[:, :2], k[:, 2:]]))
        .view(np.dtype((np.void, 16)))
        .ravel()
    )
    uniq, inv, counts = np.unique(kv, return_inverse=True, return_counts=True)
    if (counts > 2).any():  # branch vertex -> merge-order semantics apply
        return _chain_endpoints_exact(segs)
    deg1 = counts == 1
    # cycle detection: union-find over the segment graph; a component
    # whose every vertex has degree 2 is a closed ring (merge_lines emits
    # its smallest vertex, which the degree rule would miss)
    parent = list(range(len(uniq)))

    def _root(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(inv[:n].tolist(), inv[n:].tolist()):
        rx, ry = _root(x), _root(y)
        if rx != ry:
            parent[rx] = ry
    has_deg1 = np.zeros(len(uniq), dtype=bool)
    roots = np.fromiter((_root(i) for i in range(len(uniq))), dtype=np.int64)
    np.logical_or.at(has_deg1, roots, deg1)
    if not has_deg1[roots].all():  # some component is a cycle
        return _chain_endpoints_exact(segs)
    # each degree-1 vertex occurs in exactly one segment end, so its
    # original float coords are unambiguous
    return ends[deg1[inv]]


def _chain_endpoints_exact(segs: np.ndarray) -> np.ndarray:
    chains = merge_segments_to_chains(segs)
    if not chains:
        return np.empty((0, 2))
    return np.asarray(
        [pt for c in chains for pt in (c[0], c[-1])], dtype=np.float64
    )


def merge_lines(lines: Sequence[np.ndarray]) -> List[np.ndarray]:
    """Merge polylines into maximal chains at endpoints of degree exactly 2
    (shapely linemerge). Deterministic: chains start from the endpoint with
    the smallest identity key; closed loops start at their smallest vertex."""
    n = len(lines)
    if n == 0:
        return []
    ends = []  # (key_bytes) per line end
    for ln in lines:
        k = vertex_keys(np.asarray(ln, dtype=np.float64))
        ends.append((k[0].tobytes(), k[-1].tobytes()))
    # endpoint -> list of (line_idx, which_end)
    node = {}
    for i, (s, e) in enumerate(ends):
        node.setdefault(s, []).append((i, 0))
        node.setdefault(e, []).append((i, 1))

    used = [False] * n
    chains: List[np.ndarray] = []

    def extend(start: int, forward: bool) -> List[Tuple[int, bool]]:
        """Oriented (line_idx, forward) sequence starting with `start`
        traversed in the given direction, extending while the reached
        endpoint has degree exactly 2."""
        seq = [(start, forward)]
        used[start] = True
        cur, fwd = start, forward
        while True:
            end_key = ends[cur][1] if fwd else ends[cur][0]
            incident = node[end_key]
            nxt = [t for t in incident if not used[t[0]]]
            if len(incident) != 2 or len(nxt) != 1:
                break
            cur, which = nxt[0]
            fwd = which == 0  # arrived at its start -> traverse forward
            used[cur] = True
            seq.append((cur, fwd))
        return seq

    order = sorted(range(n), key=lambda i: min(ends[i]))
    for i in order:
        if used[i]:
            continue
        fwd_seq = extend(i, True)
        # also extend from line i's start in the opposite direction
        used[i] = False  # allow extend() bookkeeping; re-walk backwards
        back_seq = extend(i, False)[1:]  # skip line i itself (already in fwd)
        used[i] = True
        # reverse the backward walk and flip orientations to precede line i
        pre = [(ix, not f) for ix, f in reversed(back_seq)]
        seq = pre + fwd_seq
        parts = []
        for ix, f in seq:
            coords = np.asarray(lines[ix], dtype=np.float64)
            parts.append(coords if f else coords[::-1])
        stitched = [parts[0]] + [p[1:] for p in parts[1:]]
        chains.append(np.concatenate(stitched, axis=0))
    return chains


# ---------------------------------------------------------------- simplify


def douglas_peucker(coords: np.ndarray, epsilon: float) -> np.ndarray:
    """Iterative Douglas-Peucker (replaces shapely .simplify, ops.py:727-750).
    Keeps endpoints; for rings the closing vertex is preserved."""
    pts = np.asarray(coords, dtype=np.float64)
    n = len(pts)
    if n <= 2:
        return pts
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        seg = pts[i1] - pts[i0]
        seglen = np.hypot(seg[0], seg[1])
        mid = pts[i0 + 1 : i1]
        if seglen == 0:
            d = np.hypot(mid[:, 0] - pts[i0, 0], mid[:, 1] - pts[i0, 1])
        else:
            d = np.abs(
                (mid[:, 0] - pts[i0, 0]) * seg[1] - (mid[:, 1] - pts[i0, 1]) * seg[0]
            ) / seglen
        imax = int(d.argmax())
        if d[imax] > epsilon:
            k = i0 + 1 + imax
            keep[k] = True
            stack.append((i0, k))
            stack.append((k, i1))
    out = pts[keep]
    # guard against ring degeneration (prevent_oversimplify fallback)
    if np.array_equal(pts[0], pts[-1]) and len(out) < 4:
        return pts
    return out


def visvalingam(coords: np.ndarray, epsilon: float) -> np.ndarray:
    """Visvalingam-Whyatt: iteratively drop the vertex with the smallest
    effective triangle area until all areas >= epsilon (ops.py:751-782 vw)."""
    pts = list(map(tuple, np.asarray(coords, dtype=np.float64)))
    closed = pts[0] == pts[-1]
    min_pts = 4 if closed else 2
    while len(pts) > min_pts:
        areas = []
        for i in range(1, len(pts) - 1):
            x1, y1 = pts[i - 1]
            x2, y2 = pts[i]
            x3, y3 = pts[i + 1]
            areas.append(abs((x2 - x1) * (y3 - y1) - (x3 - x1) * (y2 - y1)) / 2)
        if not areas:
            break
        imin = int(np.argmin(areas))
        if areas[imin] >= epsilon:
            break
        del pts[imin + 1]
    return np.asarray(pts)


def simplify_coords(
    coords: np.ndarray, epsilon: float, algorithm: str = "dp"
) -> np.ndarray:
    if algorithm == "vw":
        return visvalingam(coords, epsilon)
    return douglas_peucker(coords, epsilon)


# ---------------------------------------------------------------- predicates


def points_in_ring(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Winding-number point-in-ring test, vectorized over points.
    Boundary points count as inside. Used by the spatial layer's exact
    point-in-polygon refinement (north rule; no reference counterpart)."""
    pts = np.asarray(pts, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    x, y = pts[:, 0][:, None], pts[:, 1][:, None]
    x1, y1 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x2, y2 = ring[1:, 0][None, :], ring[1:, 1][None, :]

    # boundary check: collinear and within bbox of segment
    cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
    on_seg = (
        (cross == 0)
        & (x >= np.minimum(x1, x2))
        & (x <= np.maximum(x1, x2))
        & (y >= np.minimum(y1, y2))
        & (y <= np.maximum(y1, y2))
    ).any(axis=1)

    upward = (y1 <= y) & (y2 > y)
    downward = (y1 > y) & (y2 <= y)
    wn = (upward & (cross > 0)).sum(axis=1).astype(np.int64) - (
        downward & (cross < 0)
    ).sum(axis=1).astype(np.int64)
    return (wn != 0) | on_seg


def clip_polyline_to_rect(
    arr: np.ndarray, x0: float, y0: float, x1: float, y1: float
) -> List[np.ndarray]:
    """Clip a polyline to an axis-aligned rectangle (Liang-Barsky per
    segment, contiguous inside-runs merged into pieces). Used by the
    vector-tile clipper (north rule; no reference counterpart).

    Exactness: interior vertices of the input are carried through
    bit-identically (no recomputation); only genuine boundary crossings
    introduce interpolated points, so a polyline fully inside the rect
    returns byte-equal to its input and adjacent tiles share the exact
    same crossing coordinates (same p + t*d arithmetic per segment).
    Pieces shorter than 2 distinct points (grazing touches) are dropped.

    A denormal-tiny nonzero segment delta can overflow (lo - pv) / dv to
    +-inf; the clip window math handles inf correctly (the swap and the
    max/min clamp are IEEE-monotone), so the numpy overflow warning is
    suppressed rather than special-cased.
    """
    arr = np.asarray(arr, dtype=np.float64)
    pieces: List[list] = []
    cur: Optional[list] = None
    for i in range(len(arr) - 1):
        p, q = arr[i], arr[i + 1]
        d = q - p
        t0, t1 = 0.0, 1.0
        ok = True
        for dv, lo, hi, pv in (
            (d[0], x0, x1, p[0]),
            (d[1], y0, y1, p[1]),
        ):
            if dv == 0.0:
                if pv < lo or pv > hi:
                    ok = False
                    break
            else:
                with np.errstate(over="ignore"):
                    ta, tb = (lo - pv) / dv, (hi - pv) / dv
                if ta > tb:
                    ta, tb = tb, ta
                t0, t1 = max(t0, ta), min(t1, tb)
                if t0 > t1:
                    ok = False
                    break
        if not ok:
            cur = None
            continue
        a = p if t0 <= 0.0 else p + t0 * d
        b = q if t1 >= 1.0 else p + t1 * d
        if cur is not None and t0 <= 0.0:
            cur.append(b)
        else:
            cur = [a, b]
            pieces.append(cur)
        if t1 < 1.0:
            cur = None
    out: List[np.ndarray] = []
    for pc in pieces:
        a2 = np.asarray(pc, dtype=np.float64)
        keep = np.insert(
            np.abs(np.diff(a2, axis=0)).sum(axis=1) != 0.0, 0, True
        )
        a2 = a2[keep]
        if len(a2) >= 2:
            out.append(a2)
    return out


def clip_polylines_to_rects_batch(
    flat: np.ndarray, offsets: np.ndarray, rects: np.ndarray
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Batched ``clip_polyline_to_rect``: clip P polylines against P
    rectangles in ONE numpy pass over the concatenated coordinate buffer
    (the flat-coords + offsets layout the engine's other kernels use).

    Inputs: ``flat`` (N, 2) float64 vertices of all polylines
    back-to-back; ``offsets`` (P+1,) int64 with polyline i occupying rows
    ``offsets[i]:offsets[i+1]``; ``rects`` (P, 4) float64
    ``(x0, y0, x1, y1)`` per polyline.

    Returns ``(piece_pair, piece_seq, piece_offsets, out_flat)``: kept
    pieces in (pair, sequence) order, piece j's coordinates at
    ``out_flat[piece_offsets[j]:piece_offsets[j+1]]``, ``piece_pair[j]``
    its input polyline index and ``piece_seq[j]`` its 0-based rank within
    that polyline.

    Bit-identical to the scalar kernel by construction: the same
    per-axis ``(lo - pv) / dv`` window arithmetic (parallel axes replaced
    by non-constraining ±inf *before* the max/min fold, so the fold sees
    exactly the values the scalar loop's running clamp sees), the same
    ``p + t*d`` crossing interpolation, interior vertices carried through
    untouched, consecutive-duplicate collapse and the <2-point piece
    drop. Verified piece-for-piece against the scalar kernel by
    tests/test_spatial.py and the tile_clip oracle.
    """
    flat = np.asarray(flat, dtype=np.float64).reshape(-1, 2)
    offsets = np.asarray(offsets, dtype=np.int64)
    rects = np.asarray(rects, dtype=np.float64).reshape(-1, 4)
    n_pairs = len(offsets) - 1
    empty = (
        np.empty(0, np.int64),
        np.empty(0, np.int64),
        np.zeros(1, np.int64),
        np.empty((0, 2), np.float64),
    )
    if n_pairs == 0 or len(flat) == 0:
        return empty
    n_verts = np.diff(offsets)
    n_segs = np.maximum(n_verts - 1, 0)
    if int(n_segs.sum()) == 0:
        return empty
    # global start index of every valid segment (skip pair-boundary gaps)
    pair_of_seg = np.repeat(np.arange(n_pairs, dtype=np.int64), n_segs)
    si = np.arange(len(pair_of_seg), dtype=np.int64) + np.repeat(
        offsets[:-1] - np.concatenate(([0], np.cumsum(n_segs)))[:-1], n_segs
    )
    p = flat[si]
    q = flat[si + 1]
    d = q - p
    r = rects[pair_of_seg]
    t0 = np.zeros(len(si))
    t1 = np.ones(len(si))
    ok = np.ones(len(si), dtype=bool)
    ninf = np.float64(-np.inf)
    pinf = np.float64(np.inf)
    for axis, (lo_c, hi_c) in enumerate(((0, 2), (1, 3))):
        dv = d[:, axis]
        pv = p[:, axis]
        lo = r[:, lo_c]
        hi = r[:, hi_c]
        z = dv == 0.0
        ok &= ~(z & ((pv < lo) | (pv > hi)))
        with np.errstate(over="ignore", divide="ignore", invalid="ignore"):
            ta = np.where(z, ninf, (lo - pv) / dv)
            tb = np.where(z, pinf, (hi - pv) / dv)
        sw = ta > tb
        ta, tb = np.where(sw, tb, ta), np.where(sw, ta, tb)
        t0 = np.maximum(t0, ta)
        t1 = np.minimum(t1, tb)
    ok &= t0 <= t1
    with np.errstate(over="ignore", invalid="ignore"):
        a = np.where((t0 <= 0.0)[:, None], p, p + t0[:, None] * d)
        b = np.where((t1 >= 1.0)[:, None], q, p + t1[:, None] * d)
    # piece runs: a surviving segment continues its predecessor's piece
    # iff the predecessor (same pair, immediately preceding) survived,
    # exited uncut (t1 >= 1) and this segment enters uncut (t0 <= 0)
    prev_ok = np.concatenate(([False], ok[:-1]))
    prev_open = np.concatenate(([False], t1[:-1] >= 1.0))
    same_pair = np.concatenate(
        ([False], pair_of_seg[1:] == pair_of_seg[:-1])
    )
    cont = ok & prev_ok & prev_open & same_pair & (t0 <= 0.0)
    start = ok & ~cont
    if not start.any():
        return empty
    # output layout: start segments emit (a, b), continuations emit b
    n_out = np.where(ok, np.where(start, 2, 1), 0).astype(np.int64)
    pos = np.concatenate(([0], np.cumsum(n_out)))
    total = int(pos[-1])
    out = np.empty((total, 2), dtype=np.float64)
    s_idx = np.flatnonzero(start)
    c_idx = np.flatnonzero(cont)
    out[pos[s_idx]] = a[s_idx]
    out[pos[s_idx] + 1] = b[s_idx]
    out[pos[c_idx]] = b[c_idx]
    piece_first = pos[s_idx]  # first output row of each raw piece
    raw_counts = np.diff(np.concatenate((piece_first, [total])))
    # consecutive-duplicate collapse (piece-local: boundaries forced kept)
    keep = np.empty(total, dtype=bool)
    keep[0] = True
    keep[1:] = (out[1:] != out[:-1]).any(axis=1)
    keep[piece_first] = True
    kept_counts = np.add.reduceat(keep, piece_first)
    piece_kept = kept_counts >= 2
    piece_of_point = np.repeat(np.arange(len(s_idx)), raw_counts)
    final_mask = keep & piece_kept[piece_of_point]
    out_flat = out[final_mask]
    final_counts = kept_counts[piece_kept]
    piece_offsets = np.concatenate(
        ([0], np.cumsum(final_counts))
    ).astype(np.int64)
    piece_pair = pair_of_seg[s_idx][piece_kept]
    # 0-based piece rank within each pair (pairs are contiguous)
    new_pair = np.concatenate(([True], piece_pair[1:] != piece_pair[:-1]))
    idx = np.arange(len(piece_pair), dtype=np.int64)
    piece_seq = idx - np.maximum.accumulate(np.where(new_pair, idx, 0))
    return piece_pair, piece_seq, piece_offsets, out_flat
