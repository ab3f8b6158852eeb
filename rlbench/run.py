"""Repository benchmark: seeded workloads over the engine on local[<nproc>].

    python3 rlbench/run.py --workload web_batch --seed 1 --seconds 6 --trace 0

One process runs one workload in a closed loop with a single client: it
starts a Spark session, generates the inputs from ``--seed``, runs the
workload once to warm up, then repeats it until ``--seconds`` have passed.
Every run's outputs are checked (rlbench/workloads.py). The last line of
stdout is one JSON object; the line before it records the run environment
and the raw samples.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, runs the same untraced loop, then runs the workload once
with a span around every layer call (web_batch: the real
``DedupPipeline.run`` and the same work called layer by layer) and reports
per-layer counters parsed from the event log.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

from tracing import (COUNTERS, NullTracer, Tracer, attribute, find_log,
                     read_events, self_time, summarize)

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SEEDS = json.loads((HERE / "seeds.json").read_text())
HEAP_GB = 2


def host_memory_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat. The
    steal share of the timed runs tells a slow host from a slow change."""
    with open("/proc/stat") as fh:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9])
    return steal, user + nice + system + idle + iowait + irq + softirq + steal


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the Spark
    JVM and its Python workers), sampled from /proc while running."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree_rss(root: int) -> int:
        children: dict[int, list[int]] = {}
        for p in Path("/proc").iterdir():
            if not p.name.isdigit():
                continue
            try:
                stat = (p / "stat").read_text()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(p.name))
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree_rss(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.tree_rss(os.getpid()))


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "recordlinkage_spark").glob("*.py")):
        h.update(p.name.encode() + p.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                         capture_output=True, text=True)
    return out.stdout.strip() or None


def start_spark(workload: str, work: Path, trace: bool):
    """Session pinned to this host: task slots from nproc by get_spark's
    rule, a fixed driver heap, every scratch path inside the work dir, no
    console progress bar on stdout."""
    from recordlinkage_spark.config import get_spark

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_MASTER", None)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        # get_spark's 48g default is over this host's memory. The heap is
        # committed and touched in full at start, so the JVM's share of
        # peak_rss_mb does not depend on when G1 grows the heap or how much
        # of it a run has touched; heap pressure shows in the traced gc_s.
        "spark.driver.memory": f"{HEAP_GB}g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP_GB}g -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    # get_spark turns SPARK_GRAFT_CPUS into task slots by its own rule
    spark = get_spark(f"rlbench-{workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    slots = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(2 * slots, 16)))  # as bench.py
    return spark, {"nproc": cpus, "master": spark.sparkContext.master,
                   "driver_memory": conf["spark.driver.memory"]}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def timed_loop(wl, seconds: float, ref, log):
    """Run the workload until ``seconds`` have passed (at least once);
    returns (wall times of passing runs, attempted, failed)."""
    from workloads import CheckFailed

    walls, attempted, failed = [], 0, 0
    t_end = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < t_end:
        attempted += 1
        try:
            t = time.perf_counter()
            out = wl.run(NullTracer())
            wall = time.perf_counter() - t
            wl.check(out, ref)
            walls.append(wall)
        except CheckFailed as exc:
            failed += 1
            log(f"run {attempted} failed its check: {exc}")
        except Exception:  # a failed run is counted, the loop goes on
            failed += 1
            log(f"run {attempted} raised:\n{traceback.format_exc()}")
        finally:
            wl.cleanup()
    return walls, attempted, failed


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


# Spans reported by traced runs; a workload reports 0 for the layers it
# does not call.
SPANS = ("minhash.sign", "minhash.band_pairs", "minhash.substring_pairs",
         "minhash.verify", "network.components", "pipeline.run",
         "indexing.index", "comparing.compute", "classifiers.ecm")
DECOMPOSED = SPANS[:5]
EXTRAS = {
    "minhash.band_pairs.dropped_buckets": "count",
    "minhash.substring_pairs.dropped_buckets": "count",
    "minhash.verify.useful_frac": "ratio",
    "pipeline.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}


def traced_run(spark, wl, work: Path, ref, before_s: float, log):
    """One traced run of the workload (and, for web_batch, its layer-by-
    layer decomposition), checked against the untraced outputs. Stops the
    session so the event log is complete, then charges the log to the
    spans. Returns (metrics, info, attempted, failed).

    The tracing overhead compares the traced run with the mean of the
    untraced runs just before (``before_s``) and just after it: runs of a
    process keep getting faster, so a comparison with earlier runs alone
    would credit that speed-up to tracing."""
    from workloads import CheckFailed

    tracer = Tracer(spark.sparkContext)
    extras = dict.fromkeys(EXTRAS, 0.0)
    attempted = failed = 0

    def check(out) -> None:
        nonlocal attempted, failed
        attempted += 1
        try:
            wl.check(out, ref)
        except CheckFailed as exc:
            failed += 1
            log(f"traced run failed its check: {exc}")

    check(wl.run(tracer))
    wl.cleanup()
    t = time.perf_counter()
    out = wl.run(NullTracer())
    after_s = time.perf_counter() - t
    check(out)
    wl.cleanup()
    extras["trace.overhead_frac"] = tracer.spans[0].wall / ((before_s + after_s) / 2) - 1
    if hasattr(wl, "decomposed"):
        clusters, ex = wl.decomposed(tracer)
        check(clusters)
        extras.update(ex)
        extras["pipeline.overhead_s"] = tracer.by_name("pipeline.run").wall - sum(
            tracer.by_name(n).wall for n in DECOMPOSED)
    wl.cleanup()
    stop_spark(spark)

    events = summarize(read_events(find_log(work / "eventlog")))
    per_span = attribute(tracer.spans, events)
    zero = dict.fromkeys(COUNTERS, 0)
    metrics = {}
    for name in SPANS:
        for k, unit in COUNTERS.items():
            metrics[f"{name}.{k}"] = metric(per_span.get(name, zero)[k], unit)
    for k, unit in EXTRAS.items():
        metrics[k] = metric(extras[k], unit)
    info = {
        "spans": [{"name": s.name, "wall_s": s.wall,
                   "self_s": self_time(tracer.spans, i),
                   "parent": None if s.parent is None else tracer.spans[s.parent].name,
                   "jobs": per_span[s.name]["jobs"],
                   "untagged_jobs": per_span[s.name]["untagged_jobs"]}
                  for i, s in enumerate(tracer.spans)],
        "untraced_bracket_s": [before_s, after_s],
    }
    return metrics, info, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=SEEDS["development"])
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def log(msg: str) -> None:
        print(f"[rlbench] {msg}", file=sys.stderr, flush=True)

    if not (ROOT / "recordlinkage_spark" / "__init__.py").is_file():
        log(f"recordlinkage_spark is not under {ROOT}: nothing to measure")
        return 2
    t_process = time.perf_counter()
    # a terminated run still stops Spark and removes its work dir (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".rlbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # Python workers import the package too: put the repo root on their
    # path, and keep every temp file inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    sys.path[:0] = [str(ROOT), str(HERE)]
    spark = None
    try:
        import pyspark
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
            return 2
        spark, env = start_spark(args.workload, work, bool(args.trace))
        session_s = time.perf_counter() - t_process
        env.update({
            "seed": args.seed, "workload": args.workload, "trace": args.trace,
            "host_memory_bytes": host_memory_bytes(), "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "git_commit": git_commit(), "source_digest": source_digest(),
            "clients": 1, "loop": "closed",
        })
        wl = WORKLOADS[args.workload](spark, work, args.seed)

        # set-up: input generation three times (median of the three), then
        # one warm-up run. A process's first run is ~2x slower than its
        # second (JIT, Spark codegen, Python worker imports); later runs
        # still speed up by 5-10% each, so timing always starts at the
        # second run and the position, not the convergence, is what stays
        # the same from run to run.
        gens = []
        for _ in range(3):
            t = time.perf_counter()
            rows = wl.generate()
            gens.append(time.perf_counter() - t)
        t = time.perf_counter()
        out = wl.run(NullTracer())
        warm_s = time.perf_counter() - t
        ref = wl.check(out)
        wl.cleanup()
        setup_s = session_s + statistics.median(gens) + warm_s

        steal0, ticks0 = cpu_ticks()
        with RssSampler() as rss:
            walls, attempted, failed = timed_loop(wl, args.seconds, ref, log)
        steal1, ticks1 = cpu_ticks()
        if not walls:
            log("no timed run passed")
            return 1
        med = statistics.median(walls)
        info = {"env": env, "rows": rows, "session_s": session_s, "gen_s": gens,
                "warmup_s": warm_s, "walls_s": walls, "n": len(walls),
                "median_s": med, "worst_s": max(walls), "digest": ref.digest,
                "steal_frac": (steal1 - steal0) / max(ticks1 - ticks0, 1)}
        if not args.trace:
            metrics = {
                "rows_per_s": metric(rows / med, "1/s"),
                "setup_s": metric(setup_s, "s"),
                "pair_recall": metric(ref.recall, "ratio"),
                "pair_precision": metric(ref.precision, "ratio"),
                "peak_rss_mb": metric(rss.peak / 2**20, "MB"),
            }
        else:
            metrics, trace_info, t_attempted, t_failed = traced_run(
                spark, wl, work, ref, walls[-1], log)
            spark = None  # traced_run stopped the session to flush the log
            info.update(trace_info)
            attempted += t_attempted
            failed += t_failed
        print(json.dumps({"info": info}), flush=True)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = work.parent
            if parent.is_dir() and not any(parent.iterdir()):
                parent.rmdir()


if __name__ == "__main__":
    sys.exit(main())
