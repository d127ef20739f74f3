"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline. Dot products via
  F.aggregate/zip_with against a broadcast query vector — JVM-side, no UDF.
- LSH-bucketed ANN: random-hyperplane signatures bucket the corpus; queries
  probe their bucket (+ optional multi-probe) then rank exactly. The scale
  path: the shuffle is one equi-join on the signature instead of a cross
  join.
- IVF-style variant: k coarse centroids (fixed deterministic seeds),
  assign -> probe nearest n_probe centroids.
"""

from __future__ import annotations

from typing import List, Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot_lit(vec_col: str, q: Sequence[float]):
    """Dot product of an array column with a literal vector (codegen)."""
    qarr = F.array(*[F.lit(float(v)) for v in q])
    return F.aggregate(
        F.zip_with(F.col(vec_col), qarr, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(vec_col: str):
    return F.sqrt(
        F.aggregate(F.col(vec_col), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_topk(
    embeddings: DataFrame,
    query: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against one query vector: (id, cos_sim, rank).

    Scale path: the corpus-wide selection is ``orderBy().limit(k)`` —
    physical TakeOrderedAndProject, a per-partition top-k merged on the
    driver side, fully distributed. Rank is attached afterwards with a
    window over the <=k surviving rows only; a global window over the
    scored corpus would funnel every row through ONE task."""
    qn = float(np.linalg.norm(np.asarray(query, dtype=np.float64))) or 1.0
    scored = embeddings.select(
        F.col(id_col),
        (
            _dot_lit(vec_col, query)
            / (F.greatest(_norm(vec_col), F.lit(1e-12)) * F.lit(qn))
        ).alias("cos_sim"),
    )
    top = scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(id_col, "cos_sim", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_signature_col(vec_col: str, planes: np.ndarray):
    """Sign-bit signature as a long column (random hyperplane LSH)."""
    sig = None
    for i, plane in enumerate(planes):
        bit = F.when(
            _dot_lit(vec_col, list(plane)) >= 0, F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig + term
    return sig


def lsh_bucket_table(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Corpus bucketed by LSH signature — precomputable/persistable."""
    planes = _hyperplanes(dim, n_planes, seed)
    return embeddings.select(
        id_col, vec_col, lsh_signature_col(vec_col, planes).alias("sig")
    )


def lsh_topk(
    bucketed: DataFrame,
    query: Sequence[float],
    k: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    multiprobe: int = 1,
) -> DataFrame:
    """ANN top-k: probe the query's bucket (and single-bit-flip neighbors up
    to ``multiprobe`` flips), rank exactly within the probed set."""
    q = np.asarray(query, dtype=np.float64)
    planes = _hyperplanes(len(q), n_planes, seed)
    bits = (planes @ q >= 0).astype(np.int64)
    base = int((bits << np.arange(n_planes)).sum())
    probes = {base}
    if multiprobe >= 1:
        for i in range(n_planes):
            probes.add(base ^ (1 << i))
    cand = bucketed.where(F.col("sig").isin(list(probes)))
    return cosine_topk(cand, query, k, id_col=id_col, vec_col=vec_col)


def cosine_neardup_pairs(
    embeddings: DataFrame,
    planes: Sequence[Sequence[float]],
    n_bands: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int = 5000,
    metrics=None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-banded.

    Scale path: the hyperplane sign signature is split into ``n_bands``
    bands; only pairs sharing at least one band value are compared (one
    equi-join on (band, value) instead of an O(n^2) cross join), then the
    survivors are refined with the exact cosine (>= threshold). The banding
    is part of the operator's contract (deterministic given ``planes``), so
    results are exactly reproducible by any engine that replays it.
    Returns (id_a, id_b, cos_sim) with id_a < id_b.

    Buckets above ``bucket_cap`` members (a viral duplicate cluster) are
    deterministically sampled before the self-join so no band bucket goes
    O(n^2) — see functions.text.cap_bucket_members / hot_buckets.
    """
    from .text import cap_bucket_members
    planes = [list(map(float, p)) for p in planes]
    n_planes = len(planes)
    assert n_planes % n_bands == 0
    r = n_planes // n_bands
    sig_bits = [
        F.when(_dot_lit(vec_col, p) >= 0, F.lit(1)).otherwise(F.lit(0))
        for p in planes
    ]
    band_vals = [
        sum(
            (sig_bits[b * r + i] * F.lit(1 << i) for i in range(1, r)),
            start=sig_bits[b * r],
        ).alias(f"band{b}")
        for b in range(n_bands)
    ]
    # pair enumeration, capping and dedup all run over NARROW
    # (id, band, val) tuples; the embedding vectors join in once per pair
    # side at the end — never duplicated per band and never dragged
    # through the cap's rank window
    base = embeddings.select(F.col(id_col), F.col(vec_col), *band_vals)
    banded = base.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"band{b}").alias("val")
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(id_col, "bv.band", "bv.val")
    banded = cap_bucket_members(
        banded, ["band", "val"], id_col, bucket_cap,
        metrics=metrics, metric_name="embedding_lsh_cap",
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "val")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "val")
    pair_ids = (
        a.join(b, on=["band", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = embeddings.select(F.col(id_col), F.col(vec_col))
    pairs = pair_ids.join(
        vecs.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")
        ),
        on="id_a",
    ).join(
        vecs.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")
        ),
        on="id_b",
    )
    dot = F.aggregate(
        F.zip_with(F.col("vec_a"), F.col("vec_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = dot / (
        F.greatest(_norm("vec_a"), F.lit(1e-12))
        * F.greatest(_norm("vec_b"), F.lit(1e-12))
    )
    return (
        pairs.withColumn("cos_sim", cos)
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def ivf_topk(
    embeddings: DataFrame,
    centroids: List[Sequence[float]],
    query: Sequence[float],
    k: int,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: rank exactly within the ``n_probe`` inverted lists whose
    centroids are nearest the query. Returns (id, cos_sim, rank), rank <= k.

    Scale path: the corpus-side assignment (``ivf_assign``) is a pure
    codegen projection — at 100 TB it is computed once and persisted
    bucketed/partitioned BY centroid_id, so a probe is a partition-pruned
    scan of n_probe/n_centroids of the corpus, no shuffle. Probe selection
    is driver-side numpy over the (tiny) centroid table; the final ranking
    is ``cosine_topk``'s TakeOrderedAndProject. Deterministic given
    (centroids, query) — reproducible by any engine, see the DuckDB oracle.
    """
    probes = ivf_probes(centroids, query, n_probe)
    assigned = ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    cand = assigned.where(F.col("centroid_id").isin(probes))
    return cosine_topk(cand, query, k, id_col=id_col, vec_col=vec_col)


def ivf_probes(
    centroids: List[Sequence[float]], query: Sequence[float], n_probe: int
) -> List[int]:
    """The ``n_probe`` centroid ids nearest the query — driver-side numpy
    over the (tiny) centroid table; stable argsort so ties are
    deterministic across engines."""
    q = np.asarray(query, dtype=np.float64)
    cents = np.asarray([list(map(float, c)) for c in centroids])
    d2 = ((cents - q) ** 2).sum(axis=1)
    return [int(i) for i in np.argsort(d2, kind="stable")[:n_probe]]


def ivf_topk_persisted(
    spark,
    source: str,
    centroids: List[Sequence[float]],
    query: Sequence[float],
    k: int,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search over a PERSISTED assignment table (written once with
    ``sources.tables.write_table(..., partition_by=["centroid_id"])``).

    This is the 100 TB probe path the ivf_topk docstring promises: because
    the store is partitioned by centroid_id, the ``isin(probes)`` filter
    becomes a PARTITION filter at the scan — Spark lists only the probed
    directories and reads n_probe/n_centroids of the corpus; nothing else
    is opened (tests assert PartitionFilters in the plan). The ranking is
    identical to :func:`ivf_topk` on the in-memory assignment."""
    from ..sources.tables import read_table

    probes = ivf_probes(centroids, query, n_probe)
    cand = read_table(spark, source).where(F.col("centroid_id").isin(probes))
    return cosine_topk(cand, query, k, id_col=id_col, vec_col=vec_col)


def ivf_assign(
    embeddings: DataFrame,
    centroids: List[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).
    Centroid count is small -> the distance expressions are unrolled
    literals, fully codegen; returns (id, vec, centroid_id)."""
    d2 = [
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(v)) for v in c]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias(f"d{i}")
        for i, c in enumerate(centroids)
    ]
    scored = embeddings.select(id_col, vec_col, *d2)
    best = F.least(*[F.col(f"d{i}") for i in range(len(centroids))])
    pick = None
    for i in range(len(centroids)):
        cond = F.col(f"d{i}") == best
        pick = F.when(cond, i) if pick is None else pick.when(cond, i)
    return scored.select(id_col, vec_col, pick.alias("centroid_id"))


# ------------------------------------------------------------------ k-means


def kmeans_init(
    embeddings: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> List[List[float]]:
    """Deterministic seeding: the vectors of the ``k`` smallest ids, in id
    order (centroid ``i`` = i-th smallest id). A k-row TakeOrdered —
    reproducible by any engine, no RNG state to ship."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    rows = (
        embeddings.orderBy(id_col).limit(k).select(id_col, vec_col).collect()
    )
    if len(rows) < k:
        raise ValueError(f"corpus has {len(rows)} vectors, need k={k}")
    return [[float(v) for v in r[1]] for r in rows]


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: List[Sequence[float]] | None = None,
):
    """Distributed k-means (Lloyd) over an embedding column, DataFrame-only.

    ``iters`` assign->recompute rounds from :func:`kmeans_init` seeds, then
    a final assignment against the converged centroids. Returns
    ``(assignments, centroids)`` where assignments is
    (id, vec, centroid_id) and centroids the final k python vectors.

    100 TB design (the aggregation shape of MLlib's treeAggregate, in pure
    DataFrame form): each round is ONE job — ``ivf_assign``'s unrolled
    codegen distances (no shuffle) feed a posexplode + groupBy
    (centroid_id, pos) mean whose partial aggregation collapses to at most
    k*dim rows PER TASK map-side, so the exchange and the driver collect
    are k*dim rows regardless of corpus size. Centroids return to the
    executors as broadcast literals in the next round's codegen, never as
    a join. Determinism: seeds are id-ordered, the assignment tie-break is
    the smallest centroid id (ivf_assign), and per-coordinate means are
    insensitive to sum order at far more than the distance margins between
    centroids, so the integer assignment surface is engine-reproducible
    (same argument as the ivf_assign oracle). An empty cluster keeps its
    previous centroid (documented deviation: the SQL oracle would drop it;
    the gate corpus never empties a cluster, asserted in tests).
    """
    cents = (
        [[float(v) for v in c] for c in init]
        if init is not None
        else kmeans_init(embeddings, k, id_col=id_col, vec_col=vec_col)
    )
    if len(cents) != k:
        raise ValueError(f"init has {len(cents)} centroids, expected k={k}")
    for _ in range(iters):
        assigned = ivf_assign(
            embeddings, cents, id_col=id_col, vec_col=vec_col
        )
        stats = (
            assigned.select(
                "centroid_id",
                F.posexplode(F.col(vec_col)).alias("pos", "val"),
            )
            .groupBy("centroid_id", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .collect()
        )
        by_cid: dict = {}
        for r in stats:
            by_cid.setdefault(r["centroid_id"], {})[r["pos"]] = r["m"]
        cents = [
            [by_cid[c][p] for p in range(len(cents[c]))]
            if c in by_cid
            else cents[c]
            for c in range(k)
        ]
    return (
        ivf_assign(embeddings, cents, id_col=id_col, vec_col=vec_col),
        cents,
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: List[Sequence[float]] | None = None,
    k: int = 16,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023): cluster the
    embeddings, then inside each cluster drop every vector that has a
    smaller-id neighbor with cosine >= ``threshold``. Returns the
    survivors as (id, centroid_id). With ``centroids=None`` the clusters
    come from :func:`kmeans_lloyd`; pass a fixed centroid table to prune
    against a precomputed codebook.

    The dominated rule (drop b iff EXISTS a < b in-cluster with
    cos(a,b) >= t) is deterministic and order-free — unlike the paper's
    sequential greedy scan it needs no driver loop, at the cost of
    occasionally dropping both ends of a chain a~b~c where greedy would
    keep c. 100 TB design: the pairwise scan is confined to a cluster
    (that is SemDeDup's whole point — k scales with corpus so clusters
    stay bounded); the self-join keys on centroid_id, so it is one
    co-partitioned exchange, and the id_a < id_b predicate halves the
    pair space. Skewed (oversized) clusters are the operator's documented
    failure mode: raise k, exactly as the paper does.
    """
    if centroids is None:
        assigned, _ = kmeans_lloyd(
            embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col
        )
    else:
        assigned = ivf_assign(
            embeddings, centroids, id_col=id_col, vec_col=vec_col
        )
    # norms minted ONCE per vector before the self-join (the join would
    # otherwise recompute each side's norm per PAIR — 3x the flops);
    # same expression, same vector -> bit-identical cosine either way
    normed = assigned.withColumn(
        "_nrm", F.greatest(_norm(vec_col), F.lit(1e-12))
    )
    a = normed.select(
        "centroid_id",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("_nrm").alias("nrm_a"),
    )
    b = normed.select(
        "centroid_id",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("_nrm").alias("nrm_b"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("vec_a"), F.col("vec_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = dot / (F.col("nrm_a") * F.col("nrm_b"))
    dropped = (
        a.join(b, on="centroid_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cos >= F.lit(float(threshold)))
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, on=id_col, how="left_anti").select(
        id_col, "centroid_id"
    )


def semantic_decontaminate(
    embeddings: DataFrame,
    eval_emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic benchmark decontamination: the embedding twin of
    ``curation.decontaminate`` — flag every corpus vector whose cosine to
    ANY eval-set vector reaches ``threshold`` (paraphrased benchmark
    leakage that n-gram overlap misses). Returns (id_col, max_eval_cos)
    for the flagged vectors; drop them with a left anti join, or keep the
    score for a severity threshold.

    ``eval_emb`` needs only ``vec_col``. 100 TB design: eval sets are
    small (10^3-10^5 vectors), so the eval side is DISTINCT-reduced and
    BROADCAST — the corpus is scanned once, scored map-side against the
    in-memory eval table, and only flagged rows (rare by construction)
    reach the per-id max exchange; the corpus never shuffles. Corpus-side
    norms are minted once per vector before the join (not per pair).
    max() over eval matches is order-free, so the output is
    engine-reproducible (same argument as semantic_dedup's oracle).
    """
    normed = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        F.greatest(_norm(vec_col), F.lit(1e-12)).alias("_nrm"),
    )
    ev = eval_emb.select(F.col(vec_col).alias("_ev")).distinct()
    ev = ev.select(
        "_ev", F.greatest(_norm("_ev"), F.lit(1e-12)).alias("_evnrm")
    )
    dot = F.aggregate(
        F.zip_with(F.col("_v"), F.col("_ev"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = dot / (F.col("_nrm") * F.col("_evnrm"))
    return (
        normed.crossJoin(F.broadcast(ev))
        .where(cos >= F.lit(float(threshold)))
        .groupBy(id_col)
        .agg(F.max(cos).alias("max_eval_cos"))
    )
