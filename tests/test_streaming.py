"""Structured Streaming surfaces: batch/stream parity for windowed counts,
the streamed attach to frozen clusters and append-mode sessionization."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F

from word_sense_disambiguation_spark.streaming.ingest import stream_windowed_event_counts

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_stream_batch_parity_windowed_counts(spark, tmp_path):
    src = str(tmp_path / "events")
    os.makedirs(src)
    shutil.copy("/root/testdata/sf0.001/events.parquet", src)

    streamed = stream_windowed_event_counts(spark, src, EVENTS_SCHEMA)
    batch = (
        spark.read.parquet(src)
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
    )
    s = streamed.select("window_start", "event_type", "n", "sum_value")
    assert s.exceptAll(batch).count() == 0
    assert batch.exceptAll(s).count() == 0


def test_stream_attach_to_clusters_parity(spark, tmp_path):
    """Streaming incremental ER == batch incremental ER per micro-batch:
    a frozen base is clustered once; two increments arrive as separate
    files (maxFilesPerTrigger=1 -> two micro-batches); the streamed
    resolutions must equal the union of per-increment BATCH attaches
    (one code path, deterministic scoring, frozen base).

    Sized deliberately small (40-page world): the test runs the full
    pipeline DAG five times (base + 2 streamed epochs + 2 batch
    replays), so page count multiplies wall time."""
    from word_sense_disambiguation_spark.datagen import build_world, world_to_spark
    from word_sense_disambiguation_spark.operators.incremental_er import (
        attach_mentions_to_clusters,
    )
    from word_sense_disambiguation_spark.plans.checkpoint import run_er_pipeline
    from word_sense_disambiguation_spark.plans.pipeline import sense_assignments
    from word_sense_disambiguation_spark.streaming.ingest import (
        stream_attach_to_clusters,
    )

    sworld = world_to_spark(spark, build_world(n_pages=40, seed=11))
    cut1 = "https://synthetic.example/0000/page-0000028"
    cut2 = "https://synthetic.example/0000/page-0000034"
    base_pages = sworld["pages"].filter(F.col("url") < cut1)
    inc1 = sworld["pages"].filter((F.col("url") >= cut1) & (F.col("url") < cut2))
    inc2 = sworld["pages"].filter(F.col("url") >= cut2)

    base = run_er_pipeline(
        spark, base_pages, sworld["senses"], str(tmp_path / "base"), "base"
    )
    base_assignments = base["assignments"].cache()
    base_clusters = base["clusters"].select("mention_id", "entity_id").cache()

    pages_dir = str(tmp_path / "pages")
    inc1.coalesce(1).write.mode("append").parquet(pages_dir)
    inc2.coalesce(1).write.mode("append").parquet(pages_dir)

    n = stream_attach_to_clusters(
        spark,
        pages_dir,
        sworld["senses"],
        base_assignments,
        base_clusters,
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
        max_files_per_trigger=1,
    )
    streamed = spark.read.parquet(str(tmp_path / "out"))
    assert n == streamed.count() > 0

    expected = None
    for inc in (inc1, inc2):
        a = sense_assignments(inc, sworld["senses"])
        r, _ = attach_mentions_to_clusters(a, base_assignments, base_clusters)
        expected = r if expected is None else expected.unionByName(r)

    cols = ["mention_id", "entity_id", "attach_source"]
    got = sorted(map(tuple, streamed.select(cols).collect()))
    want = sorted(map(tuple, expected.select(cols).collect()))
    assert got == want
    # every streamed mention is resolved exactly once
    ids = [t[0] for t in got]
    assert len(ids) == len(set(ids))
    base_assignments.unpersist()
    base_clusters.unpersist()


def test_stream_session_watermark_finalization(spark, tmp_path):
    """Append-mode session_window: sessions emit exactly once, when the
    watermark passes their end (driven here by a far-future flush
    event); the emitted finals equal the batch operator on the same
    input — the one-expression-two-modes contract."""
    import datetime as dt

    import pandas as pd

    from word_sense_disambiguation_spark.operators.temporal import (
        session_window_stats,
    )
    from word_sense_disambiguation_spark.streaming.ingest import (
        stream_session_stats,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    ev = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": [
                base,
                base + dt.timedelta(seconds=1800),   # exact gap: merges
                base + dt.timedelta(seconds=3601),   # splits
                base + dt.timedelta(seconds=10),
            ],
            "user_id": [1, 1, 1, 2],
            "event_type": ["a"] * 4,
            "value": [0.0] * 4,
            "props": [""] * 4,
        }
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    d = tmp_path / "evstream"
    d.mkdir()
    ev.to_parquet(d / "part1.parquet", index=False)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    q, name = stream_session_stats(
        spark, str(d), schema, gap="30 minutes", watermark="1 hour"
    )
    try:
        q.processAllAvailable()
        n_before = spark.table(name).count()   # watermark hasn't passed
        flush = pd.DataFrame(
            {
                "event_id": [99],
                "ts": [base + dt.timedelta(days=30)],
                "user_id": [999],
                "event_type": ["a"],
                "value": [0.0],
                "props": [""],
            }
        )
        flush["ts"] = flush["ts"].astype("datetime64[us]")
        flush.to_parquet(d / "part2.parquet", index=False)
        q.processAllAvailable()
        streamed = [
            tuple(r)
            for r in spark.table(name).filter("user_id != 999").collect()
        ]
    finally:
        q.stop()
    assert n_before == 0
    sev = spark.createDataFrame(ev)
    batch = [
        tuple(r)
        for r in session_window_stats(sev, "user_id", "ts", "event_id").collect()
    ]
    assert sorted(streamed) == sorted(batch)
    assert len(batch) == 3
