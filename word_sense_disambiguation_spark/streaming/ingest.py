"""Structured Streaming: incremental page ingest and windowed event stats.

The reference is request/response-only (no stream surface, SURVEY §2), but
a web-scale crawl pipeline ingests incrementally, so the engine exposes:

* :func:`stream_windowed_event_counts` — tumbling-window counts/sums with a
  watermark for late data; in tests it runs a parquet directory through the
  streaming engine synchronously (memory sink + ``processAllAvailable``)
  and the result equals the batch ``date_trunc`` aggregate — the streaming/
  batch parity Spark guarantees for append-mode windowed aggregates.
* :func:`stream_session_stats` — append-mode ``session_window``
  sessionization whose finals equal the batch
  ``operators.temporal.session_window_stats``.
* :func:`stream_attach_to_clusters` — foreachBatch incremental ER: each
  micro-batch of pages runs ``sense_assignments`` and
  ``attach_mentions_to_clusters`` against a frozen cluster snapshot and
  appends to a parquet sink (exactly-once via checkpointLocation).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_windowed_event_counts(
    spark: SparkSession,
    events_path: str,
    schema: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Run a tumbling-window streaming aggregate over a parquet dir to
    completion; returns the materialized result as a DataFrame."""
    name = "stream_out_" + uuid.uuid4().hex[:8]
    stream = (
        spark.readStream.schema(schema).parquet(events_path)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def stream_session_stats(
    spark: SparkSession,
    events_path: str,
    schema: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
):
    """Streaming per-user sessionization with the NATIVE
    ``session_window`` aggregate in APPEND mode: a session row is
    emitted exactly once, when the watermark passes its end — the
    correct unbounded-stream shape (complete mode would hold every
    session ever seen in state forever; the lag-window construction
    cannot stream at all). State per key is the open-session fragments
    (duplicate-timestamp rows collapse in the pre-shuffle partial
    aggregate; candidates weld in the sorted MergingSessions pass);
    late events inside the watermark re-open nothing
    (they merge before emission), later ones are dropped by the
    watermark contract.

    Returns ``(query, table_name)`` — the caller drives the input
    directory (append files, ``processAllAvailable()``) and reads
    emitted FINAL sessions from the memory sink; finalization requires
    the watermark to advance, i.e. newer events must arrive (the test
    appends a far-future flush event — the standard finite-input
    idiom). Same output schema as the batch
    :func:`operators.temporal.session_window_stats`, whose pinned
    ``> gap`` boundary rule this inherits (one expression, two
    execution modes).
    """
    name = "stream_sessions_" + uuid.uuid4().hex[:8]
    u = F.col(user_col)
    stream = (
        spark.readStream.schema(schema)
        .parquet(events_path)
        .filter(u.isNotNull() & F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("_w"), u)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(id_col).cast("long").alias("first_event_id"),
            F.max(id_col).cast("long").alias("last_event_id"),
        )
        .select(
            u,
            F.unix_timestamp(F.col("_w.start")).alias("session_start_s"),
            F.unix_timestamp(F.col("_w.end")).alias("session_end_s"),
            "n_events",
            "first_event_id",
            "last_event_id",
        )
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    return q, name


def stream_attach_to_clusters(
    spark: SparkSession,
    pages_dir: str,
    senses: DataFrame,
    base_assignments: DataFrame,
    base_clusters: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> int:
    """Streaming incremental entity resolution: each micro-batch of new
    pages runs the identical batch DAG (pages -> assignments ->
    ``attach_mentions_to_clusters`` against the FROZEN base) and appends
    its resolved mentions to a parquet sink. Returns rows written.

    Semantics (the lambda-architecture contract, stated rather than
    hidden): attaches are exact — a streamed mention joins the same base
    entity the batch operator would give it, because the base is frozen
    and scoring is deterministic. Mints are PER-MICRO-BATCH — two
    should-be-coreferent mentions arriving in different micro-batches
    mint two entities (their ids are min mention_ids, globally unique,
    so they never collide); merging those belongs to the periodic batch
    re-cluster, exactly like the batch operator's own contract for
    base-vs-base merges (the frozen-base semantics in the
    ``operators.incremental_er`` module docstring). State
    is bounded by the base size — the stream itself keeps NO growing
    state, which is what lets it run indefinitely.

    Exactly-once: file-source progress lives in ``checkpoint_dir``; a
    killed-and-restarted query reprocesses only unfinished files.
    """
    from word_sense_disambiguation_spark.datagen import PAGES_SCHEMA
    from word_sense_disambiguation_spark.operators.incremental_er import (
        attach_mentions_to_clusters,
    )
    from word_sense_disambiguation_spark.plans.pipeline import sense_assignments

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        assignments = sense_assignments(batch_df, senses)
        resolved, _oversized = attach_mentions_to_clusters(
            assignments, base_assignments, base_clusters
        )
        resolved.write.mode("append").parquet(out_dir)

    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(pages_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).count()
