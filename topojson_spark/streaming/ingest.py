"""Streaming ingest: documents arrive continuously; extraction is narrow and
therefore streams; the topology joins are global and run as periodic batch
compaction over the staged extraction output.

This mirrors the reference's batch-only semantics (SURVEY.md §2.10 — the
reference has no streaming surface) while giving the 100 TB pipeline a
continuous front door:

    readStream(documents parquet dir)
      -> extract (mapInPandas, narrow, no shuffle)
      -> writeStream append -> staged lines/points/features tables
      -> (periodic) Topology over the staged tables = batch job

The staged tables are exactly the extract-stage checkpoint, so the batch
topology job resumes from them without re-parsing (north-rule lineage).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract, features_from_documents
from ..options import TopoOptions
from ..sources.corpus import DOCUMENTS_SCHEMA


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_extract(
    documents_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    options: Optional[TopoOptions] = None,
):
    """Continuously shred incoming documents into the staged extraction
    table (the unified record stream: each doc parsed exactly once).

    Returns the running StreamingQuery handles. Append-only parquet;
    exactly-once via the stream checkpoint. Use ``read_staged`` to get the
    lines/points/features views back."""
    from ..operators.extract import extract as _extract

    opts = options or TopoOptions()
    feats_in = features_from_documents(documents_stream, opts.object_names()[0])
    # one streaming write of the unified parse; views derived at read time
    from ..operators import extract as X

    unified = feats_in.mapInPandas(
        X.unified_emit(opts.winding_order), schema=X.UNIFIED_SCHEMA
    )
    q = (
        unified.writeStream.format("parquet")
        .option("path", f"{out_dir}/unified")
        .option("checkpointLocation", f"{checkpoint_dir}/unified")
        .trigger(availableNow=True)
        .start()
    )
    return [q]


def read_staged(spark: SparkSession, out_dir: str):
    """(lines, points, features) views over the staged unified table."""
    from ..operators import extract as X

    unified = spark.read.schema(X.UNIFIED_SCHEMA).parquet(f"{out_dir}/unified")
    lines = unified.where(F.col("rec") == "line").select(
        *[f.name for f in X.LINES_SCHEMA.fields]
    )
    points = unified.where(F.col("rec") == "point").select(
        *[f.name for f in X.POINTS_SCHEMA.fields]
    )
    features = unified.where(F.col("rec") == "feature").select(
        *[f.name for f in X.FEATURES_SCHEMA.fields]
    )
    return lines, points, features


def stream_exact_dedup(documents_stream: DataFrame) -> DataFrame:
    """Stateful streaming exact dedup: first occurrence of each text hash
    wins; every arrival is emitted with its duplicate ordinal.

    ``dropDuplicates`` on a stream can suppress repeats but cannot report
    HOW duplicated a document is; this keeps per-hash GroupState
    (first_doc_id, n_seen) via ``applyInPandasWithState`` and emits
    ``(doc_id, text_hash, is_first, n_seen_before, first_doc_id)`` for each
    incoming doc — the training-data ledger shape (keep the is_first rows;
    audit the rest).

    Scale: state is partitioned by text_hash (the natural shuffle key) and
    is ~40 bytes/distinct doc — at 100 TB this is RocksDB-state-store
    territory, and the operator is exactly the shape that backend expects
    (timeouts off, per-key monotone counters). Processing-time semantics:
    within a micro-batch, arrival order inside a group follows batch row
    order, which Spark keeps stable per partition; cross-batch ordering is
    by trigger, which is the streaming-native definition of "first seen"."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # id rendered as string so the ledger works for both the corpus shape
    # (doc_id string) and the documents table (doc_id long)
    hashed = documents_stream.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.md5(F.col("text")).alias("text_hash"),
    )
    out_schema = (
        "doc_id string, text_hash string, is_first boolean, "
        "n_seen_before long, first_doc_id string"
    )

    def track(key, pdfs, state: GroupState):
        (text_hash,) = key
        if state.exists:
            first_doc_id, n_seen = state.get
        else:
            first_doc_id, n_seen = None, 0
        out = []
        for pdf in pdfs:
            for doc_id in pdf["doc_id"]:
                doc_id = str(doc_id)
                if first_doc_id is None:
                    first_doc_id = doc_id
                out.append(
                    (doc_id, text_hash, n_seen == 0, n_seen, first_doc_id)
                )
                n_seen += 1
        state.update((first_doc_id, n_seen))
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id", "text_hash", "is_first",
                "n_seen_before", "first_doc_id",
            ],
        )

    return hashed.groupBy("text_hash").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType="first_doc_id string, n_seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_windowed_event_counts(
    events_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Event-time tumbling-window counts with a late-data bound — the
    Structured Streaming shape for continuous corpus telemetry.

    Append output mode: a window emits exactly once, when the watermark
    (max observed ts - ``watermark``) passes its end; rows arriving later
    than the bound are dropped by the state store instead of corrupting
    closed windows. State is one row per (window, event_type) — bounded by
    the watermark horizon, RocksDB-friendly at 100 TB ingest rates.
    Returns (window_start, window_end, event_type, n, sum_value)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type", "n", "sum_value",
        )
    )


def stream_sessionize(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "60 minutes",
) -> DataFrame:
    """Continuous gap-based sessionization — the streaming twin of
    functions.events.sessionize, expressed with the engine's native
    ``session_window`` (dynamic-gap session state in the state store, no
    custom Python state).

    A user's session stays open while events keep arriving within ``gap``
    of the last one; it emits exactly once (append mode), when the
    watermark passes session_end + gap. State per open session is one
    merged window row keyed by (user_id, session) — bounded by the
    watermark horizon. Returns (user_id, session_start, session_end,
    n_events, sum_value).

    Semantics note vs the batch operator: the two agree EVERYWHERE,
    including the boundary. ``session_window`` merges an event landing
    exactly ``gap`` after its predecessor (a session's half-open window
    [start, last+gap) is extended whenever the next event's window
    overlaps it, and last+gap itself overlaps), and the batch rule in
    functions.events.sessionize splits only on strictly-greater gaps —
    the same keep-at-exact-gap behavior, verified empirically with two
    events exactly 30 minutes apart under a 30-minute gap (one session
    in both engines)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events", "sum_value",
        )
    )


def stream_text_curation(
    documents_stream: DataFrame,
    min_tokens: int = 3,
    max_punct_ratio: float = 0.5,
    min_stop_hits: int = 0,
) -> DataFrame:
    """Continuous text curation front door: quality-gate a STREAM of text
    documents (doc_id, text, ...) with the same expressions the batch
    ``text.quality_score`` computes, returning the surviving rows with
    their quality columns attached.

    Everything here is stateless select/filter — pure codegen, no
    watermark, no state store, no shuffle — so the operator runs
    identically under any trigger and its output is row-for-row the batch
    result on the same input (pinned by test): the cheap first gate of a
    continuous ingestion pipeline, upstream of the stateful dedup ledger
    and the periodic batch compaction jobs (near-dup clustering, mixture)
    that need global views.
    """
    from ..functions.text import quality_exprs

    n_tokens, punct_ratio, stop_hits = quality_exprs(F.col("text"))
    enriched = documents_stream.withColumns(
        {
            "n_tokens": n_tokens,
            "punct_ratio": punct_ratio,
            "stop_hits": stop_hits,
        }
    )
    return enriched.where(
        (F.col("n_tokens") >= F.lit(int(min_tokens)))
        & (F.col("punct_ratio") <= F.lit(float(max_punct_ratio)))
        & (F.col("stop_hits") >= F.lit(int(min_stop_hits)))
    )
