"""Dedup stage: duplicate-arc removal + contiguous-arc merge.

Re-expresses /root/reference/topojson/core/dedup.py:55-303 relationally:

- duplicate detection (ops.py:939-997 find_duplicates): canonical byte form
  per arc (column-sorted coords, ring closing-vertex rule) digested with
  sha1 — a deterministic replacement for the process-salted Python ``hash``
  (ops.py:971) — then a groupBy on the digest keeping the *max* extract
  position per group (dedup.py:171-176 sorts pairs descending: vals2keep is
  the higher index). This is the north rule's salted hash-shuffle: the
  digest is uniformly distributed so the shuffle self-salts; AQE skew-join
  handles any residual hot digest.
- extract position is the CONTENT tuple (feature_seq, unit_seq, ring_seq,
  split_seq) compared lexicographically (Spark struct ordering), so keep-max
  needs NO global sort; the reference's delete-and-renumber (np.digitize,
  dedup.py:180-206) becomes one dense rank over the (small) survivor set —
  provably the same order since pops only delete.
- contiguous-arc merge (dedup.py:208-303): per original linestring row whose
  arc list has non-shared first and last arcs, the non-shared arcs are
  linemerged; if pieces fused, the piece's max-position arc keeps the merged
  coordinates and the rest are popped (only the first fused piece per row,
  matching _find_merged_linestring's early return).

  Parity quirk, preserved deliberately: the reference runs the eligibility
  mask on the NaN-*padded* bookkeeping array (dedup.py:91), so a row is only
  merge-eligible when its arc count equals the *global maximum* row length
  (shorter rows have padding NaN in the last column). We reproduce this with
  a global max-length aggregate.

Scale design — everything per DISTINCT content: a feature row's arc list,
ref positions, merge eligibility and shared flags are all functions of the
row's line digest (``ldig``), because dedup semantics depend only on
coordinates and extract positions, and the max position among rows carrying
an ldig summarizes all of them. So every aggregation here runs over
O(distinct lines + distinct arcs) rows; the O(features x arcs) refs frame
exists only as a lazy join view (``expand_refs``) that downstream consumers
stream through exactly once. No coordinate array is ever shuffled per
feature row.
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import kernels as K
from ..plans.ids import dense_index
from ..plans.pin import pin, pin_truncate
from .cut import _SUMMARY_COLS, part_summary

_POS = ["feature_seq", "unit_seq", "ring_seq", "split_seq"]


def merge_lines_with_members(
    lines: List[np.ndarray],
) -> List[Tuple[np.ndarray, List[int]]]:
    """merge_lines + membership: which input indices built each chain."""
    n = len(lines)
    if n == 0:
        return []
    ends = []
    for ln in lines:
        k = K.vertex_keys(np.asarray(ln, dtype=np.float64))
        ends.append((k[0].tobytes(), k[-1].tobytes()))
    node = {}
    for i, (s, e) in enumerate(ends):
        node.setdefault(s, []).append((i, 0))
        node.setdefault(e, []).append((i, 1))
    used = [False] * n
    chains = []

    def extend(start: int, forward: bool):
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
            fwd = which == 0
            used[cur] = True
            seq.append((cur, fwd))
        return seq

    for i in range(n):
        if used[i]:
            continue
        fwd_seq = extend(i, True)
        used[i] = False
        back_seq = extend(i, False)[1:]
        used[i] = True
        pre = [(ix, not f) for ix, f in reversed(back_seq)]
        seq = pre + fwd_seq
        parts = []
        members = []
        for ix, f in seq:
            coords = np.asarray(lines[ix], dtype=np.float64)
            parts.append(coords if f else coords[::-1])
            members.append(ix)
        stitched = [parts[0]] + [p[1:] for p in parts[1:]]
        chains.append((np.concatenate(stitched, axis=0), members))
    return chains


def expand_refs(line_refs: DataFrame, pmap: DataFrame) -> DataFrame:
    """Lazy O(features x arcs) view: one row per feature arc ref —
    the reference's bookkeeping_arcs shape (dedup.py:104-110)."""
    return line_refs.join(pmap, on="ldig").select(
        "feature_seq",
        "fkey",
        "object_name",
        "unit_seq",
        "ring_seq",
        "gtype",
        "is_ring",
        "split_seq",
        "final_idx",
        "is_shared",
    )


def dedup_stage(parts: DataFrame, line_refs: DataFrame):
    """Inputs from the cut stage:

    parts(ldig, split_seq, coords)   distinct arcs (pinned)
    line_refs(feature_seq, fkey, object_name, unit_seq, ring_seq, gtype,
              is_ring, ldig)         one row per feature LINE

    Returns (arcs_final, refs_final, pmap):

    arcs_final(final_idx, is_shared, coords)  the deduplicated arc store
    pmap(ldig, split_seq, final_idx, is_shared)  distinct part -> arc map
    refs_final  the expanded per-feature-arc view (lazy; tests/export only)
    """

    # parts already carries the canonical duplicate digest (computed in the
    # cut UDF, same Arrow pass as the split). Every aggregation/join below
    # runs on NARROW (digest, position) tuples — no coordinate array is
    # shuffled until the single survivor-coords join at the end, which is
    # what keeps the dedup chain compute-bound instead of bandwidth-bound.
    parts_n = parts.select("ldig", "split_seq", "pdig")

    # per-ldig summary of the feature rows carrying it: the max extract
    # position (all a duplicate group's keep-max can ever need) + ref count
    line_agg = line_refs.groupBy("ldig").agg(
        F.max(
            F.struct("feature_seq", "unit_seq", "ring_seq")
        ).alias("lmax"),
        F.count(F.lit(1)).alias("n_lines"),
    )

    # candidate keep position per (part, ldig): (lmax..., split_seq)
    part_pos = parts_n.join(line_agg, on="ldig")
    pos_struct = F.struct(
        F.col("lmax.feature_seq").alias("feature_seq"),
        F.col("lmax.unit_seq").alias("unit_seq"),
        F.col("lmax.ring_seq").alias("ring_seq"),
        F.col("split_seq").alias("split_seq"),
    )
    # the salted hash-shuffle of the north rule — over O(distinct arcs)
    # narrow candidates. keep_member records WHICH byte-variant's coords the
    # reference would keep (max content key); the coords themselves are
    # joined in once, below, for survivors only. No pin: part_flags (its
    # single consumer) is checkpointed right below — an extra boundary here
    # is one more serialized materialization per run, and those barriers,
    # not bytes, dominate this stage's scaling residual.
    agg = part_pos.groupBy("pdig").agg(
        F.max(pos_struct).alias("kept"),
        F.sum("n_lines").alias("n_refs"),
        F.max(
            F.struct(F.col("ldig"), F.col("split_seq"))
        ).alias("keep_member"),
    )

    # ---- flags + keeper selection, fanned onto the distinct parts ----
    # row-level facts are ldig-level facts: row_len = n parts of the ldig,
    # shared flags come from the parts' digests; one narrow join fans
    # kept/is_shared back onto the distinct parts (flags, merge input,
    # pmap, AND the survivor-coords selection: is_keeper marks the member
    # whose byte-variant the reference keeps, so no second pass over agg)
    part_flags = pin_truncate(
        parts_n.join(agg, on="pdig").select(
            "ldig",
            "split_seq",
            "kept",
            (F.col("n_refs") > 1).alias("is_shared"),
            (
                (F.col("ldig") == F.col("keep_member.ldig"))
                & (F.col("split_seq") == F.col("keep_member.split_seq"))
            ).alias("is_keeper"),
        )
    )
    # cached: dense_index's two-phase id minting executes its input three
    # times (range-boundary sampling, the narrow range shuffle, and the
    # ids join back onto the payload) — without the cache each pass re-runs
    # this survivor join against the part store
    kept_arcs = pin(
        part_flags.where(F.col("is_keeper"))
        .join(
            parts.select("ldig", "split_seq", "coords", *_SUMMARY_COLS),
            on=["ldig", "split_seq"],
        )
        .select("kept", "coords", "is_shared", *_SUMMARY_COLS)
    )

    # ---- contiguous merge (incl. the padded-array quirk) ----
    # one grouped pass yields everything eligibility needs: row length plus
    # the first/last arcs' shared flags (min/max struct over the row's
    # unique split_seq picks the first/last part). A row whose LAST part is
    # shared at its own max_split only matters when max_split == global max,
    # so per-row flags are equivalent to the reference's padded-array mask.
    row_info = part_flags.groupBy("ldig").agg(
        F.max("split_seq").alias("max_split"),
        F.min(F.struct("split_seq", "is_shared"))["is_shared"].alias(
            "first_shared"
        ),
        F.max(F.struct("split_seq", "is_shared"))["is_shared"].alias(
            "last_shared"
        ),
    )
    # tiny scalar; the action doubles as the forcing point for the
    # part_flags checkpoint every downstream branch reuses. Also counts the
    # merge-eligible rows at the global max length so the whole merge
    # subplan (~8 shuffle barriers) is skipped when nothing can merge — the
    # common case for shared-arc-heavy corpora.
    stats = (
        row_info.groupBy("max_split")
        .agg(
            F.sum(
                (~F.col("first_shared") & ~F.col("last_shared")).cast("int")
            ).alias("n_ok")
        )
        .orderBy(F.desc("max_split"))
        .limit(1)
        .collect()
    )
    max_len = int(stats[0]["max_split"]) + 1 if stats else 0
    n_eligible = int(stats[0]["n_ok"]) if stats else 0

    popped_merge = None
    merged_coords = None
    if max_len > 1 and n_eligible > 0:
        # rows (== ldigs: an ldig carried by >1 row has all-shared arcs and
        # fails the flag test) with exactly max_len arcs, first+last unshared
        eligible = row_info.where(
            (F.col("max_split") == max_len - 1)
            & ~F.col("first_shared")
            & ~F.col("last_shared")
        ).select("ldig")
        # coords joined in only for the (typically tiny) merge-eligible set
        merge_in = (
            part_flags.join(eligible, on="ldig")
            .where(~F.col("is_shared"))
            .join(
                parts.select("ldig", "split_seq", "coords"),
                on=["ldig", "split_seq"],
            )
            .select("ldig", "split_seq", "kept", "coords")
        )

        kept_t = T.StructType(
            [
                T.StructField("feature_seq", T.LongType()),
                T.StructField("unit_seq", T.IntegerType()),
                T.StructField("ring_seq", T.IntegerType()),
                T.StructField("split_seq", T.IntegerType()),
            ]
        )
        out_schema = T.StructType(
            [
                T.StructField("kept", kept_t),
                T.StructField("action", T.StringType()),
                T.StructField("new_coords", T.ArrayType(T.DoubleType())),
                T.StructField("new_fx", T.DoubleType()),
                T.StructField("new_fy", T.DoubleType()),
                T.StructField("new_lx", T.DoubleType()),
                T.StructField("new_ly", T.DoubleType()),
                T.StructField("new_shl", T.DoubleType()),
            ]
        )
        _merge_cols = [f.name for f in out_schema.fields]

        def merge_row(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("split_seq")
            pieces = [K.as_np(c) for c in pdf["coords"]]
            keys = list(pdf["kept"])
            chains = merge_lines_with_members(pieces)
            if len(chains) == len(pieces):
                return pd.DataFrame(columns=_merge_cols)
            fused = [
                (min(members), chain, members)
                for chain, members in chains
                if len(members) >= 2
            ]
            if not fused:
                return pd.DataFrame(columns=_merge_cols)
            fused.sort(key=lambda t: t[0])
            _, chain, members = fused[0]

            def key_tuple(k):
                return (
                    k["feature_seq"],
                    k["unit_seq"],
                    k["ring_seq"],
                    k["split_seq"],
                )

            member_keys = [keys[m] for m in members]
            keep = max(member_keys, key=key_tuple)
            rows = [(keep, "keep", K.flat(chain), *part_summary(chain))]
            rows += [
                (k, "pop", None, None, None, None, None, None)
                for k in member_keys
                if key_tuple(k) != key_tuple(keep)
            ]
            return pd.DataFrame(rows, columns=_merge_cols)

        # no eager count here: an empty merge result (the common case at
        # scale — shared-arc-heavy corpora have no merge-eligible rows) makes
        # the pop/override joins below trivially cheap, and skipping the
        # driver round-trip saves a whole job per pipeline run
        merged = pin(
            merge_in.groupBy("ldig").applyInPandas(merge_row, schema=out_schema)
        )
        popped_merge = merged.where(F.col("action") == "pop").select("kept")
        merged_coords = merged.where(F.col("action") == "keep").select(
            "kept", "new_coords",
            "new_fx", "new_fy", "new_lx", "new_ly", "new_shl",
        )

    # ---- apply merge results ----
    # pops only ever remove non-shared (single-ref) arcs, so surviving
    # arcs' ref counts — hence is_shared — are unchanged (the reference
    # recomputes them, dedup.py:299-301; provably identical here)
    pmap0 = part_flags.select("ldig", "split_seq", "kept")
    if popped_merge is not None:
        kept_arcs = kept_arcs.join(popped_merge, on="kept", how="left_anti")
        kept_arcs = kept_arcs.join(merged_coords, on="kept", how="left")
        kept_arcs = kept_arcs.withColumn(
            "coords", F.coalesce(F.col("new_coords"), F.col("coords"))
        )
        for c in _SUMMARY_COLS:
            kept_arcs = kept_arcs.withColumn(
                c, F.coalesce(F.col(f"new_{c}"), F.col(c))
            )
        kept_arcs = kept_arcs.drop(
            "new_coords", *[f"new_{c}" for c in _SUMMARY_COLS]
        )
        pmap0 = pmap0.join(popped_merge, on="kept", how="left_anti")

    # dense ids: only the (small) survivor set is sorted; is_shared rides
    # along from the fused aggregation (no re-join against agg)
    kept_flat = kept_arcs.select(
        F.col("kept.feature_seq").alias("_f"),
        F.col("kept.unit_seq").alias("_u"),
        F.col("kept.ring_seq").alias("_r"),
        F.col("kept.split_seq").alias("_s"),
        "kept",
        "is_shared",
        "coords",
        *_SUMMARY_COLS,
    )
    arcs_final = dense_index(
        kept_flat, ["_f", "_u", "_r", "_s"], "final_idx", key_cols=["kept"]
    )
    # pinned HERE, once: both the pmap summary join below and every
    # downstream consumer (Topology.arcs, exports) read this same store —
    # pinning later would compute the survivor join + dense ranking twice.
    arcs_final = pin_truncate(
        arcs_final.select(
            "kept", "final_idx", "is_shared", "coords", *_SUMMARY_COLS
        )
    )

    # pmap carries the fixed-size endpoint/shoelace summary of each arc
    # (minted upstream in the cut kernel's numpy pass, merged arcs
    # re-summarized in merge_row) so the hashmap stage never joins
    # arcs_final again and no coords-wide expression ever re-runs here
    #
    # plain cache, not a checkpoint boundary: both parents are pinned, so
    # the lineage is one shallow join — a localCheckpoint here would add a
    # serialized materialization for bytes that are already resident
    pmap = pin(
        pmap0.join(
            arcs_final.select(
                "kept", "final_idx", "is_shared", *_SUMMARY_COLS
            ),
            on="kept",
        ).select(
            "ldig", "split_seq", "final_idx", "is_shared",
            "fx", "fy", "lx", "ly", "shl",
        )
    )
    refs_final = expand_refs(line_refs, pmap)
    return (
        arcs_final.drop("kept", *_SUMMARY_COLS),
        refs_final,
        pmap,
    )
