"""Per-stage commit + per-file lineage/metrics + resume at stage granularity.

The north rule requires every stage to checkpoint per-partition lineage and
counters to a metrics table so a killed run resumes: a re-run recomputes
only the stages that never committed. The protocol
here is Iceberg-flavored over plain parquet (the sandbox has no Iceberg
jars; on a cluster, point ``_write``/``_read`` at an Iceberg catalog):

* each stage writes its output to ``<run_dir>/<stage>/data`` (parquet) in
  ONE write job — the only Spark work a commit does;
* rows, per-file row counts and the written schema come from the parquet
  footers (pyarrow, on the driver), optional counters (the edges stage's
  match count) from an ``Observation`` on that write, and the stage's
  Spark job count from its job group in the status tracker;
* the counters go to ``<run_dir>/metrics/<stage>.parquet``, written by
  pyarrow and replaced atomically (tmp file + ``os.replace``), so a crash
  before the manifest and a re-run leave each stage's counters exactly
  once;
* then ``_MANIFEST.json`` commits atomically (rows, wall_ms, spark_jobs,
  schema, observed counters and the run's *binding*: engine version,
  stage parameters and an input fingerprint) — a stage is *done* iff its
  manifest exists, and a manifest whose binding differs from the
  re-run's raises ``ValueError`` instead of serving a stale stage;
* a re-run **skips** any committed stage and reads its parquet back with
  the recorded schema (no schema-inference job) — the
  anti-join-on-done-keys resume pattern of the reference's generator
  (``/root/reference/training/data/generate.py:148-160``), lifted to
  whole stages.

Reading the committed output back (instead of reusing the in-memory plan)
also cuts lineage between stages — the batch analogue of
``localCheckpoint`` — so a 4-stage pipeline never accumulates a 4-stage
recovery DAG.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from word_sense_disambiguation_spark import __version__
from word_sense_disambiguation_spark.operators.blocking import (
    ER_MAX_BLOCK,
    er_scored_edges,
)

MANIFEST = "_MANIFEST.json"
# where Spark's parquet writer records the Spark schema in each footer
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def input_fingerprint(df: DataFrame) -> str:
    """A driver-side identity of a stage input, computed without a Spark
    job: for file sources the input files with their sizes and mtimes
    (``inputFiles()`` + Hadoop ``FileStatus``), otherwise the plan's
    ``semanticHash()`` (stable for the same DataFrame within a session)."""
    files = sorted(df.inputFiles())
    if not files:
        return f"plan:{df.semanticHash()}"
    spark = df.sparkSession
    conf = spark._jsc.hadoopConfiguration()
    Path = spark._jvm.org.apache.hadoop.fs.Path
    stats = []
    for f in files:
        path = Path(f)
        st = path.getFileSystem(conf).getFileStatus(path)
        stats.append([f, st.getLen(), st.getModificationTime()])
    digest = hashlib.sha256(json.dumps(stats).encode()).hexdigest()[:16]
    return f"files:{len(files)}:{digest}"


def _atomic_write(path: str, data: bytes) -> None:
    """Replace ``path`` with ``data`` atomically (a hidden tmp file, which
    Spark's file listing skips, then ``os.replace``)."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


class StageRunner:
    """Runs named stages with commit/skip/resume semantics.

    ``binding`` names what the stages' outputs depend on beyond their
    code (stage parameters, input fingerprints); it is recorded in every
    manifest together with the engine version, and a committed stage
    whose recorded binding differs raises ``ValueError``.
    """

    def __init__(
        self,
        spark: SparkSession,
        run_dir: str,
        run_id: str = "run",
        binding: dict | None = None,
    ):
        self.spark = spark
        self.run_dir = run_dir
        self.run_id = run_id
        self.binding = {"engine_version": __version__, **(binding or {})}
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
    def manifest(self, name: str) -> dict | None:
        """The committed manifest of ``name``, or None."""
        try:
            with open(self._manifest_path(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def is_committed(self, name: str) -> bool:
        """True iff ``name`` committed under this runner's binding; a
        manifest committed under another binding raises ``ValueError``."""
        m = self.manifest(name)
        if m is None:
            return False
        bound = m.get("binding", {})
        for field, value in self.binding.items():
            if bound.get(field) != value:
                raise ValueError(
                    f"stage {name!r} in {self.run_dir} was committed with "
                    f"{field}={bound.get(field)!r}; this run has {field}={value!r}"
                )
        return True

    def read(self, name: str) -> DataFrame:
        schema = T.StructType.fromJson(json.loads(self.manifest(name)["schema"]))
        return self.spark.read.schema(schema).parquet(self._data_dir(name))

    @contextmanager
    def _job_group(self, name: str) -> Iterator[dict]:
        """Run the body in a fresh job group; afterwards ``jobs`` holds the
        number of Spark jobs it ran (status tracker, no extra job). The
        caller's job group, if any, is restored."""
        sc = self.spark.sparkContext
        prev = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
        group = f"{self.run_id}/{name}/{uuid.uuid4().hex}"
        sc.setJobGroup(group, f"stage {name}")
        counts: dict = {}
        try:
            yield counts
        finally:
            for k, v in prev.items():
                sc.setLocalProperty(k, v)
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        counts["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))

    def _commit(
        self,
        name: str,
        wall_ms: int,
        spark_jobs: int,
        part_rows: dict[int, int],
        schema: T.StructType,
        extra: dict,
    ) -> None:
        """Counters file, then manifest — both atomic replaces, no Spark job."""
        os.makedirs(self.metrics_dir(), exist_ok=True)
        n = len(part_rows)
        counters = pa.table(
            {
                "run_id": pa.array([self.run_id] * n, pa.string()),
                "stage": pa.array([name] * n, pa.string()),
                "partition_id": pa.array(list(part_rows), pa.int32()),
                "rows": pa.array(list(part_rows.values()), pa.int64()),
                "stage_wall_ms": pa.array([wall_ms] * n, pa.int64()),
                "committed_at": pa.array(
                    [datetime.now(timezone.utc)] * n, pa.timestamp("us", tz="UTC")
                ),
            }
        )
        buf = pa.BufferOutputStream()
        pq.write_table(counters, buf)
        _atomic_write(
            os.path.join(self.metrics_dir(), f"{name}.parquet"),
            buf.getvalue().to_pybytes(),
        )
        manifest = {
            "stage": name,
            "run_id": self.run_id,
            "rows": sum(part_rows.values()),
            "wall_ms": wall_ms,
            "spark_jobs": spark_jobs,
            **extra,
            "schema": schema.json(),
            "engine_version": __version__,
            "binding": self.binding,
        }
        # the commit point
        _atomic_write(self._manifest_path(name), json.dumps(manifest).encode())

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        observe: dict[str, Column] | None = None,
    ) -> DataFrame:
        """Run ``build`` unless already committed; either way return the
        committed output (lineage-free parquet read). ``observe`` maps
        manifest keys to aggregate columns computed on the write itself
        (an ``Observation``, no extra job)."""
        if self.is_committed(name):
            return self.read(name)
        data_dir = self._data_dir(name)
        with self._job_group(name) as jobs:
            t0 = time.monotonic()
            df = build()
            obs = None
            if observe:
                obs = Observation()
                df = df.observe(obs, *[c.alias(k) for k, c in observe.items()])
            df.write.mode("overwrite").parquet(data_dir)
            wall_ms = int((time.monotonic() - t0) * 1000)
            observed = obs.get if obs else {}
        files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
        part_rows = {i: pq.read_metadata(f).num_rows for i, f in enumerate(files)}
        self._commit(
            name, wall_ms, jobs["jobs"], part_rows, _written_schema(files, df), observed
        )
        return self.read(name)

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

        ``run_er_pipeline`` does not use it: its stages are plain
        :meth:`stage` commits (one write job each), because re-running a
        whole stage costs less than the localCheckpoint and the four
        bucket-group writes (about 0.4 s against 2 s for the mentions of a
        200-page job). It is kept only because the benchmark's traced
        re-composition of the ER job still commits its mentions through
        it; it can go once that re-composition runs the pipeline's own
        stages.

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
        The manifest commits only when every bucket is present; its
        counters (rows per bucket) come from the parquet footers, as in
        :meth:`stage`.
        """
        if self.is_committed(name):
            return self.read(name)
        data_dir = self._data_dir(name)
        sidecar = self._done_buckets_path(name)
        done: set[int] = set()
        if os.path.exists(sidecar):
            with open(sidecar) as f:
                done = set(json.load(f)["buckets"])
        # partial-commit garbage: bucket dirs never recorded done
        for p in glob.glob(os.path.join(data_dir, "_bucket=*")):
            if int(os.path.basename(p).split("=")[1]) not in done:
                shutil.rmtree(p)
        resumed = sorted(done)

        df = None
        with self._job_group(name) as jobs:
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
                    _atomic_write(
                        sidecar, json.dumps({"buckets": sorted(done)}).encode()
                    )
            wall_ms = int((time.monotonic() - t0) * 1000)

        files = sorted(glob.glob(os.path.join(data_dir, "_bucket=*", "*.parquet")))
        part_rows: dict[int, int] = {}
        for f in files:
            b = int(os.path.basename(os.path.dirname(f)).split("=")[1])
            part_rows[b] = part_rows.get(b, 0) + pq.read_metadata(f).num_rows
        data_schema = _written_schema(files, df if df is not None else build())
        schema = T.StructType(
            [fl for fl in data_schema.fields if fl.name != "_bucket"]
            + [T.StructField("_bucket", T.IntegerType())]
        )
        self._commit(
            name,
            wall_ms,
            jobs["jobs"],
            dict(sorted(part_rows.items())),
            schema,
            {"n_buckets": n_buckets, "resumed_buckets": resumed},
        )
        return self.read(name)


def _written_schema(files: list[str], df: DataFrame) -> T.StructType:
    """The Spark schema the parquet writer recorded in a footer (the
    schema a read-back infers), or ``df``'s when nothing was written."""
    for f in files:
        meta = pq.read_metadata(f).metadata or {}
        if _SPARK_SCHEMA_KEY in meta:
            return T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return df.schema


def er_binding(
    pages: DataFrame,
    senses: DataFrame,
    max_block_size: int = ER_MAX_BLOCK,
    use_html: bool = False,
) -> dict:
    """What a ``run_er_pipeline`` run dir is bound to besides the engine
    version: its parameters and fingerprints of its two inputs."""
    return {
        "max_block_size": max_block_size,
        "use_html": use_html,
        "pages": input_fingerprint(pages),
        "senses": input_fingerprint(senses),
    }


def run_er_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    senses: DataFrame,
    run_dir: str,
    run_id: str = "run",
    max_block_size: int = ER_MAX_BLOCK,
    use_html: bool = False,
) -> dict[str, DataFrame]:
    """The full checkpointed ER pipeline: blocking, pair scoring and
    clustering over the sense assignments.

    Stages: mentions -> assignments -> edges -> clusters, each one
    committed :meth:`StageRunner.stage`; re-running after a crash
    re-executes only the stages that never committed. The run dir is bound
    to ``max_block_size``, ``use_html`` and fingerprints of ``pages`` and
    ``senses``: reusing it with any of them changed raises ``ValueError``.

    ``edges`` is ``blocking.er_scored_edges`` — the one ER blocking and
    scoring policy, one shuffle of the committed assignments on the block
    key — and its commit observes the match count. ``clusters`` is
    ``clustering.block_clusters`` over the committed edges: one shuffle on
    the block id, components solved per block.
    """
    from word_sense_disambiguation_spark.operators.candidates import (
        candidates_for_mentions,
    )
    from word_sense_disambiguation_spark.operators.clustering import block_clusters
    from word_sense_disambiguation_spark.operators.scoring import (
        assign_senses,
        score_candidates,
    )
    from word_sense_disambiguation_spark.operators.tokenize import (
        mentions_from_pages,
        mentions_from_pages_sql,
    )

    r = StageRunner(
        spark, run_dir, run_id, er_binding(pages, senses, max_block_size, use_html)
    )
    mentions = r.stage(
        "mentions",
        lambda: mentions_from_pages(pages, use_html=True)
        if use_html
        else mentions_from_pages_sql(pages),
    )
    assignments = r.stage(
        "assignments",
        lambda: assign_senses(score_candidates(candidates_for_mentions(mentions, senses))),
    )
    edges = r.stage(
        "edges",
        lambda: er_scored_edges(assignments, max_block_size),
        observe={
            "matches": F.coalesce(F.sum(F.col("is_match").cast("long")), F.lit(0))
        },
    )
    clusters = r.stage("clusters", lambda: block_clusters(edges))
    return {
        "mentions": mentions,
        "assignments": assignments,
        "edges": edges,
        "clusters": clusters,
        "runner": r,
    }
