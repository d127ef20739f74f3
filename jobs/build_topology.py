#!/usr/bin/env python
"""spark-submit entrypoint: build (or resume) a topology over a documents
table — the north rule's production shape.

    spark-submit --py-files dist/topojson_spark.zip jobs/build_topology.py \
        --input  <parquet dir or table of documents(doc_id, spans)> \
        --output <checkpoint root for the five stage tables + manifests> \
        [--resume] [--prequantize 1e5] [--shared-coords]

Resumability (north rule): with ``--resume``, an existing verified
checkpoint at --output is loaded (per-partition manifests are recomputed
and compared) and the build is skipped; a corrupt/partial checkpoint falls
through to a clean rebuild. Stage counters land in the checkpoint meta.

No per-row Python anywhere: the pipeline is DataFrame ops + Arrow-batched
vectorized UDFs (BASELINE.json input_hint).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet path or catalog table of documents")
    ap.add_argument("--output", required=True, help="checkpoint root")
    ap.add_argument("--resume", action="store_true",
                    help="load + verify an existing checkpoint if present")
    ap.add_argument("--prequantize", default="1e5",
                    help="quantization factor, or 'false'")
    ap.add_argument("--shared-coords", action="store_true",
                    help="coords-connected junction mode (the groupBy scale "
                         "path); default is the reference's path-connected "
                         "mode")
    args = ap.parse_args(argv)

    from topojson_spark.session import get_spark
    from topojson_spark.topology import Topology, read_tables

    spark = get_spark("topojson_build")
    spark.sparkContext.setLogLevel("WARN")

    if args.resume:
        try:
            topo = read_tables(spark, args.output, verify=True)
            n = topo.arcs.count()
            print(json.dumps({"resumed": True, "n_arcs": int(n)}))
            return 0
        except Exception as ex:  # missing or corrupt -> rebuild
            print(f"resume failed ({ex}); rebuilding", file=sys.stderr)

    pq = args.prequantize
    prequantize = False if pq.lower() in ("false", "0", "no") else float(pq)

    docs = (
        spark.read.parquet(args.input)
        if "/" in args.input
        else spark.read.table(args.input)
    )
    topo = Topology(
        docs, prequantize=prequantize, shared_coords=args.shared_coords
    )
    topo.write_tables(args.output)
    print(
        json.dumps(
            {
                "resumed": False,
                "n_arcs": int(topo.arcs.count()),
                "stage_metrics": topo.stage_metrics(),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
