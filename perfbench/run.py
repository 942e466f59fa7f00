"""Benchmark of record for the entity-resolution engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 20 --trace 0

Each workload is a closed loop with one client on ``local[<cores>]``: the
next operation starts when the previous one has returned. ``--trace 0``
measures the end-to-end metrics; ``--trace 1`` alternates untraced and
traced operations and reports the per-layer metrics plus the tracing
overhead. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; lines before it give
each metric with its unit and the host's steal time. The run exits 1 when
an output is wrong. Everything it writes goes under ``.perfbench/`` in the
working directory; the run's ``result.json`` (and ``spans.json`` when
traced) stay there, its data is deleted.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

SETUP_REPEATS = 3  # input staging runs per set-up; setup_s takes their median
MEM_PERIOD_S = 0.2

def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(name))
    return tree


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        for c in tree.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class MemMonitor(threading.Thread):
    """Peak memory of this process plus its whole process tree (the JVM and
    its python workers), sampled every ``MEM_PERIOD_S``. Each process counts
    its proportional set size, so pages the forked python workers share
    count once."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                continue
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_evt.wait(MEM_PERIOD_S):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


def isolate(work: str, root: str) -> None:
    """Point every temporary path of this process, the JVM and the python
    workers inside ``work``; workers import the package from ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("WSD_SPARK_DRIVER_MEM", "1g")


def start_spark(work: str, cores: int):
    from word_sense_disambiguation_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(work, "stream-ckpt"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process the
    session started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in kids:
        while os.path.exists(f"/proc/{p}"):
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)


def rep_hygiene(spark) -> None:
    """Between operations, outside every timed span: drop cached plans and
    collect garbage on both sides, so no lingering block turns a later
    operation into a cache read."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def layer_metrics(tr, stages: tuple[str, ...], untraced: list[float],
                  traced: list[float]) -> dict:
    """Per-layer metrics from the traced operations' spans and counts:
    busy time is self time, averaged over the traced jobs."""
    spans = tr.self_times()
    jobs = [s for s in spans if s["parent"] is None and s["name"] == "job"]
    job_ids = {s["op"] for s in jobs}
    n_jobs = max(len(jobs), 1)

    def busy(name: str, kind: str = "job") -> float:
        return sum(
            s["self_s"] for s in spans
            if s["name"] == name and s["op"][0] == kind
        ) / (n_jobs if kind == "job" else 1)

    m: dict[str, tuple[float, str]] = {}
    for layer in ("tokenize", "candidates", "scoring", "prompts", "mlm_scorer",
                  "blocking", "pairs", "clustering"):
        m[f"{layer}.busy_s"] = (busy(layer), "s")
    commit = 0.0
    for stage in stages:
        t = busy(f"checkpoint.{stage}")
        m[f"checkpoint.commit_s.{stage}"] = (t, "s")
        commit += t
    m["checkpoint.commit_s"] = (commit, "s")
    m["incremental_er.busy_s"] = (busy("incremental_er", "increment"), "s")
    m["ingest.busy_s"] = (busy("ingest", "increment"), "s")

    units = {
        "tokenize.pages": "pages", "tokenize.mentions": "count",
        "candidates.rows": "count", "candidates.hit_ratio": "ratio",
        "scoring.assigned": "count", "scoring.nota": "count",
        "scoring.no_definitions": "count",
        "prompts.built": "count", "prompts.null": "count",
        "mlm_scorer.prompts_per_s": "1/s",
        "blocking.pairs": "count", "blocking.oversized_blocks": "count",
        "pairs.scored": "count", "pairs.edges": "count", "pairs.edge_yield": "ratio",
        "clustering.edges_in": "count", "clustering.clusters": "count",
        "clustering.max_cluster": "count",
        "checkpoint.bytes_written": "B", "checkpoint.bytes_per_page": "B/page",
        "incremental_er.base_rows_pruned": "ratio",
        "incremental_er.attach_ratio": "ratio",
        "incremental_er.oversized_keys": "count",
        "ingest.overhead_s": "s", "ingest.rows_written": "count",
    }
    per_op = [c for key, c in tr.counts.items() if key.startswith("job-")]
    inc = [c for key, c in tr.counts.items() if key.startswith("increment-")]
    for name, unit in units.items():
        src = inc if name.startswith(("incremental_er.", "ingest.")) else per_op
        vals = [c[name] for c in src if name in c]
        m[name] = (statistics.fmean(vals) if vals else 0.0, unit)

    eng = [s["engine"] for s in spans if "engine" in s and s["op"] in job_ids]
    tot = {k: sum(e[k] for e in eng) for k in
           ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "cpu_ns", "run_ms")}
    m["spark.jobs"] = (tot["jobs"] / n_jobs, "count")
    m["spark.tasks"] = (tot["tasks"] / n_jobs, "count")
    m["spark.shuffle_write_bytes"] = (tot["shuffle_write_bytes"] / n_jobs, "B")
    m["spark.spill_bytes"] = (tot["spill_bytes"] / n_jobs, "B")
    m["spark.cpu_to_run_ratio"] = (tot["cpu_ns"] / max(tot["run_ms"] * 1e6, 1), "ratio")

    u, t = statistics.median(untraced), statistics.median(traced)
    m["trace.job_s_untraced"] = (u, "s")
    m["trace.job_s_traced"] = (t, "s")
    m["trace.overhead_s"] = (t - u, "s")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    # both imports fail outside a checkout of the repository
    from scripts._hoststat import cpu_sample, steal_pct
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = os.path.join(root, ".perfbench", run_id)
    work = os.path.join(out_dir, "work")
    isolate(work, root)
    cores = os.cpu_count() or 1
    host_before = cpu_sample()
    mem = MemMonitor()
    mem.start()

    t0 = time.monotonic()
    spark = start_spark(work, cores)
    jvm_s = time.monotonic() - t0
    errors: list[str] = []
    attempted = failed = 0
    untraced: list[float] = []
    traced: list[float] = []
    staging: list[float] = []
    window: list[tuple[int, int]] = []
    tr = None
    try:
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, cores)
        for r in range(SETUP_REPEATS):
            t = time.monotonic()
            wl.stage(os.path.join(work, f"inputs{r}"))
            staging.append(time.monotonic() - t)
        t = time.monotonic()
        wl.warmup(os.path.join(work, "warmup"))
        setup_s = jvm_s + statistics.median(staging) + time.monotonic() - t

        if args.trace:
            import tracing

            tr = tracing.Tracer(spark)
        window.append(cpu_sample())
        t_end = time.monotonic() + args.seconds
        i = 0
        while True:
            rep_hygiene(spark)
            run_dir = os.path.join(work, f"op{i}")
            attempted += 1
            try:
                t = time.monotonic()
                if tr is not None and i % 2 == 1:
                    wl.traced_op(tr, i, run_dir)
                    traced.append(time.monotonic() - t)
                else:
                    out = wl.op(run_dir)
                    untraced.append(time.monotonic() - t)
                    if out is not None:
                        wl.check(out)
            except workloads.CheckFailed:
                raise
            except Exception:
                failed += 1
                traceback.print_exc()
            i += 1
            if time.monotonic() >= t_end and (tr is None or traced or failed):
                break
        window.append(cpu_sample())
        if tr is not None:
            rep_hygiene(spark)
            wl.traced_increment(tr, os.path.join(work, "increment"))
    except workloads.CheckFailed as e:
        errors.append(str(e))
    finally:
        stop_spark(spark)
        mem.stop()
    host_after = cpu_sample()

    metrics = {}
    if errors:
        pass
    elif tr is not None and untraced and traced:
        metrics = layer_metrics(tr, workloads.ER_STAGES, untraced, traced)
    elif tr is None and untraced:
        n = len(untraced)
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_s": (statistics.median(untraced), "s"),
            "pages_per_s": (wl.pages_per_op * n / sum(untraced), "pages/s"),
            "sense_accuracy": (wl.quality["sense_accuracy"], "ratio"),
            "sense_pair_f1": (wl.quality["sense_pair_f1"], "ratio"),
            "ops_ok_frac": ((attempted - failed) / attempted, "ratio"),
            "peak_rss_mb": (mem.peak_kb / 1024, "MB"),
        }
    with open(os.path.join(os.path.dirname(__file__), "expected.json")) as f:
        expected = json.load(f)
    if not args.trace:
        for name, want in expected.items():
            got = metrics.get(name, (None,))[0]
            if got != want:
                errors.append(f"{name} = {got}, expected {want}")
    correct = not errors and bool(metrics)

    host = {
        "steal_pct_run": steal_pct(host_before, host_after),
        "steal_pct_window": steal_pct(*window) if len(window) == 2 else None,
        "cores": cores,
    }
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = dict(result, run_id=run_id, errors=errors, host=host,
                  job_s_samples=untraced, traced_job_s_samples=traced,
                  setup={"jvm_s": jvm_s, "staging_s": staging})
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out_dir, "result.json"), "w") as f:
        json.dump(record, f, indent=1)
    if tr is not None:
        tr.write(os.path.join(out_dir, "spans.json"), {"run_id": run_id})

    for e in errors:
        print(f"CHECK FAILED: {e}")
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(f"host steal: run {host['steal_pct_run']}%, window {host['steal_pct_window']}%; "
          f"{len(untraced)} untraced + {len(traced)} traced ops; records in {out_dir}")
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
