"""Streaming pipelines.

The reference is pure batch (SURVEY.md §2.7: no event-time semantics are
needed for parity), but the 100 TB engine also ingests continuously:

* ``stream_extract`` — ``readStream`` over a docs directory (new parquet
  files = newly fetched documents) -> the SAME Arrow extraction kernel ->
  append sink. Batch and streaming share one operator (mapInArrow works
  unchanged on streaming DataFrames).
* ``windowed_event_counts`` — watermarked tumbling-window aggregation over
  an events stream (late data bounded by the watermark).
* ``sessionize_stream`` — custom stateful operator via
  ``applyInPandasWithState``: per-user session accumulation with a
  processing-gap timeout, the streaming twin of the batch q09 sessionize.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators import extract as X


def stream_docs(spark: SparkSession, docs_dir: str) -> DataFrame:
    return (spark.readStream.schema(X.DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 8)
            .parquet(docs_dir))


def stream_extract(spark: SparkSession, docs_dir: str,
                   query_name: str = "stream_extract"):
    """Streaming docs -> extraction records, memory sink (tests/smoke) —
    swap the sink for parquet/Iceberg ``toTable`` in production."""
    stream = stream_docs(spark, docs_dir)
    records = X.extract_records(stream).select(
        "doc_id", "name", "wkn", "status", "established_year", "n_categories")
    return (records.writeStream.outputMode("append")
            .format("memory").queryName(query_name).start())


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event type (works on both
    batch and streaming frames)."""
    e = events.withColumn("ts_ltz", F.col("ts").cast("timestamp_ltz"))
    if e.isStreaming:
        e = e.withWatermark("ts_ltz", watermark)
    return (e.groupBy(F.window("ts_ltz", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "sum_value"))


def stream_exact_dedup(docs: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Ingestion-time exact dedup — the streaming twin of
    ``analytics.dedup.exact_dedup``'s keep-list: one row per content
    fingerprint (md5 of the SAME normalized-text expression as the batch
    operator), first arrival wins.

    Streaming state is BOUNDED: ``dropDuplicatesWithinWatermark`` evicts a
    fingerprint once the watermark passes it, so at 100 TB/day the state
    store holds one 16-byte hash per distinct doc inside the horizon —
    never the full history (re-ingesting an old doc after the horizon is
    the deliberate trade; run the batch ``exact_dedup`` over the store for
    the exact global answer). The event-time column is the ingest
    timestamp; on a batch frame the same call degrades to plain
    ``dropDuplicates`` (exact, no horizon)."""
    from ..analytics.dedup import _norm_text

    keyed = docs.withColumn("fingerprint", F.md5(_norm_text()))
    if not keyed.isStreaming:
        return keyed.dropDuplicates(["fingerprint"])
    return (keyed
            .withColumn("ingest_ts", F.current_timestamp())
            .withWatermark("ingest_ts", watermark)
            .dropDuplicatesWithinWatermark(["fingerprint"]))


SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_id int, n_events bigint, sum_value double")
SESSION_STATE_SCHEMA = "session_id int, n_events bigint, sum_value double"


def _session_fn(key, batches: Iterator[pd.DataFrame], state: GroupState):
    (user_id,) = key
    if state.exists:
        session_id, n_events, sum_value = state.get
        session_id += 1  # each micro-batch appearance extends the session
    else:
        session_id, n_events, sum_value = 0, 0, 0.0
    for pdf in batches:
        n_events += len(pdf)
        sum_value += float(pdf["value"].sum())
    state.update((session_id, n_events, sum_value))
    yield pd.DataFrame([{"user_id": user_id, "session_id": session_id,
                         "n_events": n_events,
                         "sum_value": round(sum_value, 2)}])


def sessionize_stream(events: DataFrame):
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-user running session state carried across micro-batches, the running
    totals emitted each update. A production deployment would add
    ``ProcessingTimeTimeout`` to close idle sessions; the timeout keeps the
    query alive under availableNow triggers, so the default here is
    NoTimeout for drain-and-stop semantics."""
    return (events
            .groupBy("user_id")
            .applyInPandasWithState(
                _session_fn, SESSION_OUTPUT_SCHEMA, SESSION_STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout))


def stream_curation_gate(docs: DataFrame) -> DataFrame:
    """Ingestion-time curation gate: the PROJECTION-ONLY subset of the
    batch curation plane — PII scan/redaction plus the quality surface
    flags — fused into ONE stateless select, so it runs identically on
    batch and streaming frames with no watermark, state store or join at
    all. The stateful planes (repetition grams, dedup keep-lists,
    winnowing pairs) stay in the nightly batch pass by design; this gate
    is what an ingest microbatch can afford.

    Output: doc_id, redacted, has_pii, n_tokens, quality_ok. The gate
    expressions are SHARED with analytics.text.quality_scores
    (quality_gate_exprs), so batch and stream flag bit-identically —
    including the 6-dp rounding of punct_ratio (ADVICE r5)."""
    from ..analytics.text import pii_columns, quality_gate_exprs

    c = pii_columns()
    g = quality_gate_exprs()
    return docs.select(
        "doc_id",
        c["redacted"].alias("redacted"),
        c["has_pii"].alias("has_pii"),
        g["n_tokens"].alias("n_tokens"),
        g["quality_ok"].alias("quality_ok"))


def stream_media_dedup(media: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Ingestion-time exact MEDIA dedup — the streaming twin of
    ``analytics.multimodal.media_dedup``: one kept row per payload sha256
    (the SAME hash expression as the batch mapping), first arrival wins;
    later refs to an already-held payload are routed through the batch
    mapping at the next compaction (``rewrite_media_refs``).

    State bounds follow ``stream_exact_dedup``: the store holds one
    32-byte hash per distinct payload inside the watermark horizon —
    NOT the payloads (the hash is computed in a stateless projection
    before the stateful operator, so content bytes never enter state).
    On a batch frame the call degrades to plain ``dropDuplicates``."""
    keyed = media.withColumn("content_hash", F.sha2("content", 256))
    if not keyed.isStreaming:
        return keyed.dropDuplicates(["content_hash"])
    return (keyed
            .withColumn("ingest_ts", F.current_timestamp())
            .withWatermark("ingest_ts", watermark)
            .dropDuplicatesWithinWatermark(["content_hash"]))
