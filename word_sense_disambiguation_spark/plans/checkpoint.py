"""Per-stage commit + per-partition lineage/metrics + mid-pipeline resume.

The north rule requires every stage to checkpoint per-partition lineage and
counters to a metrics table so a killed run resumes mid-stage. The protocol
here is Iceberg-flavored over plain parquet (the sandbox has no Iceberg
jars; on a cluster, point ``_write``/``_read`` at an Iceberg catalog):

* each stage writes its output to ``<run_dir>/<stage>/data`` (parquet),
* then appends per-partition row counts + wall time to
  ``<run_dir>/metrics`` (the counters table),
* then atomically commits a ``_MANIFEST.json`` (rows, wall_ms, schema,
  engine version) — a stage is *done* iff its manifest exists,
* a re-run **skips** any committed stage and reads its parquet back —
  the anti-join-on-done-keys resume pattern of the reference's generator
  (``/root/reference/training/data/generate.py:148-160``), lifted to
  whole stages.

Reading the committed output back (instead of reusing the in-memory plan)
also cuts lineage between stages — the batch analogue of
``localCheckpoint`` — so a 5-stage pipeline never accumulates a 5-stage
recovery DAG.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from word_sense_disambiguation_spark import __version__
from word_sense_disambiguation_spark.operators.blocking import (
    ER_MAX_BLOCK,
    er_candidate_pairs,
)

MANIFEST = "_MANIFEST.json"


class StageRunner:
    """Runs named stages with commit/skip/resume semantics."""

    def __init__(self, spark: SparkSession, run_dir: str, run_id: str = "run"):
        self.spark = spark
        self.run_dir = run_dir
        self.run_id = run_id
        os.makedirs(run_dir, exist_ok=True)

    # -- paths --------------------------------------------------------------
    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def _data_dir(self, name: str) -> str:
        return os.path.join(self._stage_dir(name), "data")

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._stage_dir(name), MANIFEST)

    def metrics_dir(self) -> str:
        return os.path.join(self.run_dir, "metrics")

    # -- protocol -----------------------------------------------------------
    def is_committed(self, name: str) -> bool:
        return os.path.exists(self._manifest_path(name))

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._data_dir(name))

    def stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Run ``build`` unless already committed; either way return the
        committed output (lineage-free parquet read)."""
        if self.is_committed(name):
            return self.read(name)
        t0 = time.monotonic()
        df = build()
        df.write.mode("overwrite").parquet(self._data_dir(name))
        wall_ms = int((time.monotonic() - t0) * 1000)

        out = self.read(name)
        # per-partition lineage counters over the *committed* files: this is
        # what a resumed run will actually read, so the counters describe
        # real on-disk partitions, not the pre-write shuffle layout.
        part_counts = out.groupBy(
            F.spark_partition_id().alias("partition_id")
        ).agg(F.count("*").alias("rows"))
        metrics = part_counts.select(
            F.lit(self.run_id).alias("run_id"),
            F.lit(name).alias("stage"),
            "partition_id",
            "rows",
            F.lit(wall_ms).alias("stage_wall_ms"),
            F.current_timestamp().alias("committed_at"),
        )
        metrics.write.mode("append").parquet(self.metrics_dir())

        n_rows = out.count()
        manifest = {
            "stage": name,
            "run_id": self.run_id,
            "rows": n_rows,
            "wall_ms": wall_ms,
            "schema": out.schema.simpleString(),
            "engine_version": __version__,
        }
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(name))  # atomic commit
        return out

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self.metrics_dir())

    def _done_buckets_path(self, name: str) -> str:
        return os.path.join(self._stage_dir(name), "_DONE_BUCKETS.json")

    def stage_partitioned(
        self,
        name: str,
        build: Callable[[], DataFrame],
        bucket_col: str,
        n_buckets: int = 32,
        buckets_per_commit: int | None = None,
    ) -> DataFrame:
        """Mid-stage-resumable stage: output written and COMMITTED in
        bucket groups.

        The stage output is hash-bucketed on ``bucket_col`` (portable md5,
        so bucket membership is stable across runs) and written with
        ``partitionBy``, ``buckets_per_commit`` buckets per write job; after
        each job succeeds, those buckets are recorded in an atomically-
        replaced ``_DONE_BUCKETS.json`` sidecar. A bucket directory's mere
        existence proves nothing — a crash during a write job's commit
        phase leaves partially-moved bucket dirs — so on resume any bucket
        dir NOT in the sidecar is deleted and rewritten, and only sidecar
        buckets are skipped (the anti-join-on-done-keys resume of the
        reference's generator, ``training/data/generate.py:148-160``, at
        sub-stage granularity, made exactly-once). The build plan is
        localCheckpoint'ed once per attempt so the group loop re-reads
        executor-local blocks instead of recomputing upstream per group.
        The manifest commits only when every bucket is present.
        """
        import glob as _glob
        import shutil as _shutil

        from pyspark.sql import functions as F

        if self.is_committed(name):
            return self.read(name)
        data_dir = self._data_dir(name)
        sidecar = self._done_buckets_path(name)
        done: set[int] = set()
        if os.path.exists(sidecar):
            with open(sidecar) as f:
                done = set(json.load(f)["buckets"])
        # partial-commit garbage: bucket dirs never recorded done
        for p in _glob.glob(os.path.join(data_dir, "_bucket=*")):
            if int(os.path.basename(p).split("=")[1]) not in done:
                _shutil.rmtree(p)
        resumed = sorted(done)

        t0 = time.monotonic()
        missing = [b for b in range(n_buckets) if b not in done]
        if missing:
            bucket = (
                F.conv(
                    F.substring(F.md5(F.col(bucket_col).cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long")
                % n_buckets
            ).cast("int")
            df = build().withColumn("_bucket", bucket).filter(
                F.col("_bucket").isin(missing)
            )
            group_size = buckets_per_commit or max(1, n_buckets // 4)
            if len(missing) > group_size:
                # one materialization, many commit points
                df = df.localCheckpoint(eager=True)
            for g0 in range(0, len(missing), group_size):
                group = missing[g0 : g0 + group_size]
                df.filter(F.col("_bucket").isin(group)).write.mode(
                    "append"
                ).partitionBy("_bucket").parquet(data_dir)
                done.update(group)
                tmp = sidecar + ".tmp"
                with open(tmp, "w") as f:
                    json.dump({"buckets": sorted(done)}, f)
                os.replace(tmp, sidecar)
        wall_ms = int((time.monotonic() - t0) * 1000)

        out = self.spark.read.parquet(data_dir)
        part_counts = out.groupBy(F.col("_bucket").alias("partition_id")).agg(
            F.count("*").alias("rows")
        )
        part_counts.select(
            F.lit(self.run_id).alias("run_id"),
            F.lit(name).alias("stage"),
            "partition_id",
            "rows",
            F.lit(wall_ms).alias("stage_wall_ms"),
            F.current_timestamp().alias("committed_at"),
        ).write.mode("append").parquet(self.metrics_dir())

        manifest = {
            "stage": name,
            "run_id": self.run_id,
            "rows": out.count(),
            "wall_ms": wall_ms,
            "n_buckets": n_buckets,
            "resumed_buckets": resumed,
            "schema": out.schema.simpleString(),
            "engine_version": __version__,
        }
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(name))
        return out


def run_er_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    senses: DataFrame,
    run_dir: str,
    run_id: str = "run",
    max_block_size: int = ER_MAX_BLOCK,
    use_html: bool = False,
) -> dict[str, DataFrame]:
    """The full checkpointed three-stage ER pipeline.

    Stages: mentions -> assignments -> pairs -> edges -> clusters.
    Each is individually committed/resumable; re-running after a crash
    re-executes only uncommitted stages.

    The pairs stage is ``blocking.er_candidate_pairs`` — the one ER
    blocking policy (small-block all-pairs + canopy-aware oversized-star
    recovery, deduplicated) that every ER job in the package runs.
    """
    from word_sense_disambiguation_spark.operators.candidates import (
        candidates_for_mentions,
    )
    from word_sense_disambiguation_spark.operators.clustering import cluster_mentions
    from word_sense_disambiguation_spark.operators.pairs import score_mention_pairs
    from word_sense_disambiguation_spark.operators.scoring import (
        assign_senses,
        score_candidates,
    )
    from word_sense_disambiguation_spark.operators.tokenize import (
        mentions_from_pages,
        mentions_from_pages_sql,
    )

    r = StageRunner(spark, run_dir, run_id)
    # the widest stage is bucket-partitioned: a killed run resumes
    # mid-stage, re-writing only the missing url-buckets
    mentions = r.stage_partitioned(
        "mentions",
        lambda: mentions_from_pages(pages, use_html=True)
        if use_html
        else mentions_from_pages_sql(pages),
        bucket_col="url",
    )
    assignments = r.stage(
        "assignments",
        lambda: assign_senses(score_candidates(candidates_for_mentions(mentions, senses))),
    )
    pairs = r.stage(
        "pairs", lambda: er_candidate_pairs(mentions, assignments, max_block_size)
    )
    edges = r.stage("edges", lambda: score_mention_pairs(pairs, assignments))
    clusters = r.stage("clusters", lambda: cluster_mentions(edges))
    return {
        "mentions": mentions,
        "assignments": assignments,
        "pairs": pairs,
        "edges": edges,
        "clusters": clusters,
        "runner": r,
    }
