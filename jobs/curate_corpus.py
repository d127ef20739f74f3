#!/usr/bin/env python
"""spark-submit entrypoint: curate a text corpus for pretraining — the
training-data twin of jobs/build_topology.py.

    spark-submit --py-files dist/topojson_spark.zip jobs/curate_corpus.py \
        --input   <parquet dir or table of documents(doc_id, text, source)> \
        --output  <parquet dir for the curated corpus> \
        [--eval <parquet of benchmark docs(text)>]   n-gram decontamination \
        [--budgets '{"web": 600000, "books": 150000}']  per-source token \
                                                        budgets (JSON) \
        [--min-tokens 5] [--min-alpha 0.7] [--no-funnel]

Pipeline (each stage a pure DataFrame transform; every inter-stage
exchange carries narrow (id, metric) tuples, never document text):

    exact dedup (md5 groupBy keep-min — byte-identical copies collapse
                 HERE, before LSH, so viral duplicate groups can never
                 exceed the LSH bucket caps)
      -> near-dup survivors (minhash LSH pairs -> connected components ->
         best-quality doc per cluster)
      -> quality gate (token count, alpha ratio)
      -> [--eval] benchmark n-gram decontamination (broadcast probe)
      -> [--budgets] token-budget per-source mixture
      -> write curated parquet

Prints ONE JSON line with the per-stage funnel counts — the numbers a
100 TB run is monitored by. Each funnel count is one extra job over the
(cached) survivor-id frame; ``--no-funnel`` skips the intermediate
counts for a single-pass write. No per-row Python anywhere
(BASELINE.json input_hint): minhash/quality/langid are codegen
expressions, the CC loop exchanges (id, id) tuples only.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--eval", default=None,
                    help="parquet of benchmark documents(text) to "
                         "decontaminate against")
    ap.add_argument("--budgets", default=None,
                    help="JSON dict of per-source token budgets")
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--min-alpha", type=float, default=0.7)
    ap.add_argument("--no-funnel", action="store_true",
                    help="skip intermediate funnel counts (single-pass)")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from topojson_spark.functions.curation import (
        decontaminate,
        token_budget_mixture,
    )
    from topojson_spark.functions.graph import (
        connected_components,
        dedup_survivors,
    )
    from topojson_spark.functions.text import (
        exact_dedup,
        minhash_lsh_pairs,
        quality_score,
    )
    from topojson_spark.plans.metrics import StageMetrics
    from topojson_spark.plans.pin import pin
    from topojson_spark.session import get_spark

    spark = get_spark("corpus_curate")
    spark.sparkContext.setLogLevel("WARN")
    metrics = StageMetrics()

    docs = (
        spark.read.parquet(args.input)
        if "/" in args.input
        else spark.read.table(args.input)
    )
    funnel = {}

    def stage(name, ids):
        """Pin a survivor-id frame (every later stage reuses it) and
        optionally count it for the funnel."""
        ids = pin(ids)
        if not args.no_funnel:
            funnel[name] = ids.count()
        return ids

    if not args.no_funnel:
        funnel["input"] = docs.count()

    # 1. exact dedup FIRST: byte-identical duplicate groups collapse on
    # the md5 digest, so a 20k-copy viral duplicate reaches the LSH stage
    # as ONE representative and can never blow past the bucket caps
    # (cap_bucket_members' documented precondition)
    exact_keep = stage(
        "after_exact_dedup",
        exact_dedup(docs).select(F.col("keep_doc_id").alias("doc_id")),
    )
    docs1 = docs.join(exact_keep, "doc_id", "left_semi")

    # 2. near-dup survivors (best quality, then smallest id — deterministic)
    qual = quality_score(docs1)
    score = qual.select("doc_id", F.col("alpha_ratio").alias("score"))
    clusters = connected_components(
        minhash_lsh_pairs(docs1, metrics=metrics)
    )
    surv = stage(
        "after_neardup",
        dedup_survivors(docs1, clusters, score=score).select("doc_id"),
    )

    # 3. quality gate
    kept_ids = stage(
        "after_quality",
        surv.join(
            qual.select("doc_id", "n_tokens", "alpha_ratio"), "doc_id"
        )
        .where(
            (F.col("n_tokens") >= args.min_tokens)
            & (F.col("alpha_ratio") > args.min_alpha)
        )
        .select("doc_id"),
    )

    # 4. optional benchmark decontamination
    if args.eval:
        bench = spark.read.parquet(args.eval)
        hits = decontaminate(
            docs.join(kept_ids, "doc_id", "left_semi"), bench,
            metrics=metrics,
        )
        kept_ids = stage(
            "after_decontaminate",
            kept_ids.join(hits.select("doc_id"), "doc_id", "left_anti"),
        )

    # 5. optional per-source token-budget mixture
    if args.budgets:
        budgets = json.loads(args.budgets)
        picked = token_budget_mixture(
            docs.join(kept_ids, "doc_id", "left_semi"), budgets,
            metrics=metrics,
        )
        kept_ids = stage(
            "after_mixture",
            kept_ids.join(picked.select("doc_id"), "doc_id", "left_semi"),
        )

    # final pass: ONE semi join of the full rows against the cached id
    # set, straight into the writer
    out = docs.join(kept_ids, "doc_id", "left_semi")
    out.write.mode("overwrite").parquet(args.output)
    funnel["written"] = spark.read.parquet(args.output).count()
    funnel["stage_metrics"] = metrics.snapshot()
    print(json.dumps(funnel))
    return 0


if __name__ == "__main__":
    sys.exit(main())
