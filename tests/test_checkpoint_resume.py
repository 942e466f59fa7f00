"""Checkpoint/metrics/resume semantics: kill-and-resume, skip-if-committed,
per-partition counters (north rule resumability requirement)."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

from word_sense_disambiguation_spark.operators.blocking import er_clusters
from word_sense_disambiguation_spark.operators.profiling import table_checksum
from word_sense_disambiguation_spark.plans.checkpoint import (
    MANIFEST,
    StageRunner,
    er_binding,
    run_er_pipeline,
)
from word_sense_disambiguation_spark.plans.pipeline import sense_assignments

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_stage_commit_and_skip(spark, tmp_path):
    r = StageRunner(spark, str(tmp_path / "run"), run_id="t1")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn("x", F.col("id") * 2)

    out1 = r.stage("s1", build)
    assert out1.count() == 100
    assert calls["n"] == 1
    # second run skips the build entirely
    out2 = r.stage("s1", build)
    assert calls["n"] == 1
    assert out2.count() == 100
    # manifest recorded
    m = json.load(open(tmp_path / "run" / "s1" / "_MANIFEST.json"))
    assert m["rows"] == 100 and m["stage"] == "s1"


def test_metrics_per_partition(spark, tmp_path):
    r = StageRunner(spark, str(tmp_path / "run"), run_id="t2")
    r.stage("s1", lambda: spark.range(0, 1000).repartition(4))
    met = r.metrics()
    rows = met.filter(F.col("stage") == "s1").collect()
    assert sum(x.rows for x in rows) == 1000
    assert all(x.run_id == "t2" for x in rows)
    assert {x.partition_id for x in rows} == set(range(len(rows)))


def test_mid_stage_bucket_resume(spark, sworld, tmp_path):
    """Kill INSIDE a stage: sidecar-recorded buckets survive untouched; an
    unrecorded (partially-written) bucket dir is treated as garbage —
    deleted and rewritten — so the resumed output has no lost or duplicated
    rows. Bucket-dir existence alone must prove nothing."""
    import glob

    from word_sense_disambiguation_spark.operators.tokenize import (
        mentions_from_pages_sql,
    )

    run_dir = str(tmp_path / "run")
    pages = sworld["pages"]
    n_buckets = 8

    # simulate a mid-stage crash: buckets 0-2 committed (sidecar written
    # after their group's job succeeded), bucket 3 written ONLY PARTIALLY
    # (half its rows) with no sidecar record — the commit-phase-crash shape.
    r = StageRunner(spark, run_dir, run_id="midstage")
    stage_dir = os.path.join(run_dir, "mentions")
    data_dir = os.path.join(stage_dir, "data")
    full = mentions_from_pages_sql(pages)
    bucket = (
        F.conv(F.substring(F.md5(F.col("mention_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % n_buckets
    ).cast("int")
    bucketed = full.withColumn("_bucket", bucket)
    bucketed.filter(F.col("_bucket") <= 2).write.mode("append").partitionBy(
        "_bucket"
    ).parquet(data_dir)
    bucketed.filter(
        (F.col("_bucket") == 3) & (F.crc32(F.col("mention_id")) % 2 == 0)
    ).write.mode("append").partitionBy("_bucket").parquet(data_dir)
    os.makedirs(stage_dir, exist_ok=True)
    with open(os.path.join(stage_dir, "_DONE_BUCKETS.json"), "w") as f:
        json.dump({"buckets": [0, 1, 2]}, f)
    assert not r.is_committed("mentions")
    done_dirs = sorted(glob.glob(os.path.join(data_dir, "_bucket=*")))
    assert len(done_dirs) == 4  # 0-2 committed + the partial 3
    mtimes = {d: os.path.getmtime(d) for d in done_dirs[:3]}
    partial_rows = spark.read.parquet(os.path.join(data_dir, "_bucket=3")).count()

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return mentions_from_pages_sql(pages)

    out = r.stage_partitioned("mentions", build, "mention_id", n_buckets=n_buckets)
    assert r.is_committed("mentions")
    assert calls["n"] == 1
    # all buckets now present; committed buckets were not rewritten
    assert len(glob.glob(os.path.join(data_dir, "_bucket=*"))) == n_buckets
    for d, t in mtimes.items():
        assert os.path.getmtime(d) == t, d
    # the partial bucket was rewritten in full (no silent undercount, no dup)
    b3 = spark.read.parquet(os.path.join(data_dir, "_bucket=3")).count()
    full_b3 = bucketed.filter(F.col("_bucket") == 3).count()
    assert partial_rows < full_b3 and b3 == full_b3
    assert out.count() == full.count()
    # resumed_buckets recorded in the manifest
    m = json.load(open(os.path.join(run_dir, "mentions", "_MANIFEST.json")))
    assert m["resumed_buckets"] == [0, 1, 2]
    # committed stage: a further call skips the build
    r.stage_partitioned("mentions", build, "mention_id", n_buckets=n_buckets)
    assert calls["n"] == 1


def test_kill_and_resume_mid_pipeline(spark, sworld, tmp_path):
    """Simulate a crash after the first of the ER job's three stages;
    resume must not recompute committed stages and must produce identical
    final clusters."""
    run_dir = str(tmp_path / "er")
    pages, senses = sworld["pages"], sworld["senses"]

    # partial run: execute only the first stage, then "crash"
    r = StageRunner(spark, run_dir, run_id="partial", binding=er_binding(pages, senses))
    r.stage("assignments", lambda: sense_assignments(pages, senses))
    assert r.is_committed("assignments")
    manifest = os.path.join(run_dir, "assignments", "_MANIFEST.json")
    assignments_mtime = os.path.getmtime(manifest)

    # resume: full pipeline over the same run_dir
    out = run_er_pipeline(spark, pages, senses, run_dir, run_id="resumed")
    assert out["clusters"].count() > 0
    # committed stage untouched (same manifest file, same mtime)
    assert os.path.getmtime(manifest) == assignments_mtime

    # and the resumed result equals a from-scratch run
    fresh = run_er_pipeline(spark, pages, senses, str(tmp_path / "er2"), run_id="fresh")
    a = out["clusters"].select("mention_id", "entity_id")
    b = fresh["clusters"].select("mention_id", "entity_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_er_job_use_html_matches_text_path(spark, sworld, tmp_path):
    """``use_html=True`` (the pandas extractor over the HTML) commits the
    same edges and clusters as the default JVM text extractor: the two
    extractors are row-identical."""
    pages, senses = sworld["pages"], sworld["senses"]
    text = run_er_pipeline(spark, pages, senses, str(tmp_path / "text"))
    html = run_er_pipeline(spark, pages, senses, str(tmp_path / "html"), use_html=True)
    assert html["runner"].manifest("assignments")["binding"]["use_html"] is True
    for name in ("edges", "clusters"):
        assert _checksum(html[name]) == _checksum(text[name]), name
        assert html["runner"].manifest(name)["rows"] > 0, name


ER_STAGES = ("assignments", "edges", "clusters")


def _next_job_id(spark) -> int:
    """One past the last Spark job id the status tracker knows."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    tracker, i = sc.statusTracker(), 0
    while tracker.getJobInfo(i) is not None:
        i += 1
    return i


@pytest.mark.parametrize("cap", (256, 16))
def test_er_job_counts_and_counters_once(spark, sworld, tmp_path, cap):
    """Each stage manifest records its Spark jobs (job group + status
    tracker, no extra job): they sum to the jobs the tracker saw, 6 or
    fewer for the whole ER job at the default cap and at a cap small
    enough to leave oversized blocks, and the clusters stage is one write
    job — a projection of the committed edges with no Exchange and no
    MapInPandas in its plan; each manifest also records the tasks those
    jobs ran (at least one per job) and the driver time spent building
    the plan (within the stage's wall time), and the edges manifest
    records its match count. A crash after the data and counters were
    written but before the manifests (simulated by deleting them) re-runs
    every stage and leaves each stage's counters exactly once, with
    identical clusters."""
    run_dir = str(tmp_path / "er")
    pages, senses = sworld["pages"], sworld["senses"]
    j0 = _next_job_id(spark)
    out = run_er_pipeline(spark, pages, senses, run_dir, max_block_size=cap)
    n_jobs = _next_job_id(spark) - j0
    r = out["runner"]
    manifests = {name: r.manifest(name) for name in ER_STAGES}
    per_stage = {name: m["spark_jobs"] for name, m in manifests.items()}
    assert sum(per_stage.values()) == n_jobs, per_stage
    assert n_jobs <= 6, per_stage
    assert manifests["clusters"]["spark_jobs"] == 1, per_stage
    plan = er_clusters(out["edges"])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "MapInPandas" not in plan, plan
    assert all(v >= 1 for v in per_stage.values()), per_stage
    for name, m in manifests.items():
        assert m["spark_tasks"] >= m["spark_jobs"], (name, m)
        assert 0 <= m["plan_ms"] <= m["wall_ms"], (name, m)
    assert manifests["edges"]["matches"] == out["edges"].filter("is_match").count()
    clusters = sorted(tuple(x) for x in out["clusters"].collect())

    for name in ER_STAGES:
        os.remove(os.path.join(run_dir, name, "_MANIFEST.json"))
    again = run_er_pipeline(
        spark, pages, senses, run_dir, run_id="again", max_block_size=cap
    )
    met = again["runner"].metrics()
    for name in ER_STAGES:
        rows = met.filter(F.col("stage") == name).collect()
        parts = [x.partition_id for x in rows]
        assert len(parts) == len(set(parts)), name
        assert {x.run_id for x in rows} == {"again"}, name
        assert sum(x.rows for x in rows) == again["runner"].manifest(name)["rows"]
    assert sorted(tuple(x) for x in again["clusters"].collect()) == clusters


def test_run_dir_binding(spark, sworld, tmp_path):
    """A run dir is bound to its parameters, its inputs and the engine
    version: re-using it with another block cap, another ``use_html``,
    other pages or a manifest written by another engine version raises
    ValueError naming the stage and the field — also a 0.3.0 run dir that
    holds only its first stage, ``mentions``, which this layout never
    commits; an identical re-run skips every committed stage."""
    urls = [x.url for x in sworld["pages"].select("url").orderBy("url").limit(31).collect()]
    pages_dir, other_dir = str(tmp_path / "pages"), str(tmp_path / "other")
    base = sworld["pages"].filter(F.col("url").isin(urls[:30]))
    base.coalesce(1).write.parquet(pages_dir)
    sworld["pages"].filter(F.col("url").isin(urls)).coalesce(1).write.parquet(other_dir)
    pages = spark.read.parquet(pages_dir)
    senses = sworld["senses"]
    run_dir = str(tmp_path / "er")
    run_er_pipeline(spark, pages, senses, run_dir)
    manifest = os.path.join(run_dir, "clusters", "_MANIFEST.json")
    mtime = os.path.getmtime(manifest)

    with pytest.raises(ValueError, match="'assignments'.*max_block_size"):
        run_er_pipeline(spark, pages, senses, run_dir, max_block_size=64)
    with pytest.raises(ValueError, match="'assignments'.*use_html"):
        run_er_pipeline(spark, pages, senses, run_dir, use_html=True)
    with pytest.raises(ValueError, match="'assignments'.*pages"):
        run_er_pipeline(spark, spark.read.parquet(other_dir), senses, run_dir)
    out = run_er_pipeline(spark, spark.read.parquet(pages_dir), senses, run_dir)
    assert os.path.getmtime(manifest) == mtime
    assert out["clusters"].count() > 0

    # a run dir of an older engine (another stage layout) is not resumed
    path = os.path.join(run_dir, "assignments", MANIFEST)
    with open(path) as f:
        old = json.load(f)
    old["binding"]["engine_version"] = "0.3.0"
    with open(path, "w") as f:
        json.dump(old, f)
    with pytest.raises(ValueError, match="'assignments'.*engine_version"):
        run_er_pipeline(spark, spark.read.parquet(pages_dir), senses, run_dir)
    # ... also when it died before committing any stage this layout has
    partial = os.path.join(str(tmp_path / "partial"), "mentions")
    os.makedirs(partial)
    with open(os.path.join(partial, MANIFEST), "w") as f:
        json.dump({**old, "stage": "mentions"}, f)
    with pytest.raises(ValueError, match="'mentions'.*engine_version"):
        run_er_pipeline(spark, pages, senses, str(tmp_path / "partial"))


# A driver process that runs the ER job and SIGKILLs itself at one commit
# point. The wrappers live only in this process; the package has no hook.
_KILL_DRIVER = r"""
import os, signal, sys

from word_sense_disambiguation_spark.plans import checkpoint
from word_sense_disambiguation_spark.session import get_spark

pages_dir, senses_dir, run_dir, point = sys.argv[1:5]
write, commit = checkpoint._atomic_write, checkpoint.StageRunner._commit
edges_manifest = os.path.join(run_dir, "edges", checkpoint.MANIFEST)


def die():
    os.kill(os.getpid(), signal.SIGKILL)


def atomic_write(path, data):
    if point == "before_edges_manifest" and path == edges_manifest:
        # the manifest's tmp file is written; the replace never happens
        tmp = os.path.join(os.path.dirname(path), "." + checkpoint.MANIFEST + ".tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        die()
    write(path, data)
    if point == "after_edges_counters" and path.endswith(
        os.path.join("metrics", "edges.parquet")
    ):
        die()


def commit_then(self, name, *args):
    if (point, name) in (("after_edges_data", "edges"), ("after_clusters_data", "clusters")):
        die()
    return commit(self, name, *args)


checkpoint._atomic_write = atomic_write
checkpoint.StageRunner._commit = commit_then
spark = get_spark(app_name="kill_driver", master="local[2]")
checkpoint.run_er_pipeline(
    spark, spark.read.parquet(pages_dir), spark.read.parquet(senses_dir), run_dir,
    run_id="killed",
)
sys.exit(3)  # every kill point lies on the job's path
"""

KILL_POINTS = (
    "after_edges_data",
    "after_edges_counters",
    "before_edges_manifest",
    "after_clusters_data",
)


def _checksum(df):
    return tuple(table_checksum(df, df.columns).collect()[0])


@pytest.fixture(scope="module")
def parquet_world(spark, sworld, tmp_path_factory):
    """Parquet copies of the test world (a separate driver process reads
    them) and the clusters checksum of an uninterrupted ER run."""
    d = tmp_path_factory.mktemp("kill_world")
    pages_dir, senses_dir = str(d / "pages"), str(d / "senses")
    sworld["pages"].write.parquet(pages_dir)
    sworld["senses"].write.parquet(senses_dir)
    out = run_er_pipeline(
        spark, spark.read.parquet(pages_dir), spark.read.parquet(senses_dir),
        str(d / "uninterrupted"),
    )
    return pages_dir, senses_dir, _checksum(out["clusters"])


@pytest.mark.slow
@pytest.mark.parametrize("point", KILL_POINTS)
def test_sigkill_and_resume(spark, parquet_world, tmp_path, point):
    """A driver SIGKILLed at a commit point resumes, in another process,
    to the uninterrupted run's clusters; each stage's counters are in
    metrics/ exactly once, and stages committed before the kill are
    skipped (their manifests are not rewritten)."""
    pages_dir, senses_dir, expected = parquet_world
    run_dir = str(tmp_path / "er")
    log = tmp_path / "driver.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(
            [sys.executable, "-c", _KILL_DRIVER, pages_dir, senses_dir, run_dir, point],
            cwd=REPO,
            env={**os.environ, "WSD_SPARK_DRIVER_MEM": "1g"},
            stdout=subprocess.DEVNULL,
            stderr=err,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=900)
        finally:
            try:  # the driver's JVM goes down with it
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    assert proc.returncode == -signal.SIGKILL, log.read_text()[-3000:]

    manifests = {s: os.path.join(run_dir, s, "_MANIFEST.json") for s in ER_STAGES}
    committed = {
        s: os.stat(p).st_mtime_ns for s, p in manifests.items() if os.path.exists(p)
    }
    if point == "after_clusters_data":
        assert tuple(committed) == ("assignments", "edges")
    else:
        assert tuple(committed) == ("assignments",)

    out = run_er_pipeline(
        spark, spark.read.parquet(pages_dir), spark.read.parquet(senses_dir), run_dir,
        run_id="resumed",
    )
    r = out["runner"]
    assert {s: os.stat(manifests[s]).st_mtime_ns for s in committed} == committed
    assert _checksum(out["clusters"]) == expected
    assert sorted(os.listdir(r.metrics_dir())) == sorted(f"{s}.parquet" for s in ER_STAGES)
    met = r.metrics()
    for s in ER_STAGES:
        rows = met.filter(F.col("stage") == s).collect()
        parts = [x.partition_id for x in rows]
        assert len(parts) == len(set(parts)), s
        assert {x.run_id for x in rows} == {"killed" if s in committed else "resumed"}, s
        assert sum(x.rows for x in rows) == r.manifest(s)["rows"], s
