"""The north rule's launch shape: spark-submit --py-files <pkg.zip>
scripts/run_pipeline.py actually runs the checkpointed pipeline end-to-end
in a separate JVM, and a second submit resumes from the committed stages.
The session's default driver heap fits the host."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_package(tmp_path: str) -> str:
    zpath = os.path.join(tmp_path, "wsd_spark.zip")
    pkg = os.path.join(REPO, "word_sense_disambiguation_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))
    return zpath


@pytest.mark.slow
def test_spark_submit_pipeline_and_resume(spark, world, tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark

        spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    assert os.path.exists(spark_submit), "spark-submit not found"

    # stage inputs as parquet (what a cluster job would read)
    from word_sense_disambiguation_spark.datagen import world_to_spark

    sw = world_to_spark(spark, world)
    pages_dir = str(tmp_path / "pages")
    senses_dir = str(tmp_path / "senses")
    sw["pages"].write.parquet(pages_dir)
    sw["senses"].write.parquet(senses_dir)
    run_dir = str(tmp_path / "run")

    zpath = _zip_package(str(tmp_path))
    cmd = [
        spark_submit,
        "--master", "local[4]",
        "--py-files", zpath,
        os.path.join(REPO, "scripts", "run_pipeline.py"),
        "--pages", pages_dir,
        "--senses", senses_dir,
        "--run-dir", run_dir,
        "--run-id", "submit1",
    ]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS", None)
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=900, env=env)
    assert r.returncode == 0, r.stderr[-3000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
    rows = json.loads(line)["rows"]
    assert rows["clusters"] > 0 and rows["mentions"] > 0
    assert os.path.exists(os.path.join(run_dir, "clusters", "_MANIFEST.json"))
    assert os.path.exists(os.path.join(run_dir, "metrics"))

    # resume: a second submit must skip all committed stages (manifest
    # mtimes unchanged) and report identical row counts
    mtime = os.path.getmtime(os.path.join(run_dir, "mentions", "_MANIFEST.json"))
    r2 = subprocess.run(
        cmd[:-1] + ["submit2"], capture_output=True, text=True, timeout=900, env=env
    )
    assert r2.returncode == 0, r2.stderr[-3000:]
    rows2 = json.loads(
        [ln for ln in r2.stdout.splitlines() if ln.startswith("{")][-1]
    )["rows"]
    assert rows2 == rows
    assert os.path.getmtime(os.path.join(run_dir, "mentions", "_MANIFEST.json")) == mtime


def test_default_driver_heap_fits_the_host(spark):
    """Without an override the session's driver heap is at most half of
    the host's MemTotal (a larger heap lets the suite's JVM grow until
    the kernel kills it)."""
    with open("/proc/meminfo") as fp:
        mem_kb = next(int(ln.split()[1]) for ln in fp if ln.startswith("MemTotal:"))
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    units = {"k": 1, "m": 1024, "g": 1024**2, "t": 1024**3}
    heap_kb = int(heap[:-1]) * units[heap[-1].lower()]
    assert heap_kb <= mem_kb // 2, (heap, mem_kb)
