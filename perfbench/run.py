"""Pipeline benchmark for biodata_pipeline_spark.

    python3 perfbench/run.py --workload rag_serve --seed 3 --seconds 5 --trace 0

Runs one workload (or every workload, each in a child process, when
``--workload`` is left out), prints the host shape, every metric with its
unit and direction, and as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same workload with a span
around each engine call and reports the per-layer counters.

Run from the repository root. Everything the run writes goes under a
fresh directory in ``.perfbench_work/`` that is removed when it ends;
every process it starts is stopped before it exits. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# The engine's default driver heap is sized for warehouse runs; the
# benchmark's inputs are small and the host is shared. The heap is also
# pinned and pre-touched: left to G1, how much of it got touched varied
# run to run and swamped peak_rss_mb.
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Task slots for ``local[n]``: half the CPUs, at least one. The other
    half is left to the JVM's compiler and GC threads, the Python driver
    and the Python workers, which with a slot on every CPU contend with
    the tasks (on 4 CPUs, ``rag_serve`` ran about 10% faster on
    ``local[2]`` than on ``local[4]``)."""
    return max(1, nproc() // 2)


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine so far: time its
    virtual CPUs were ready to run but the host ran something else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


# -- process tree: peak memory and shutdown ------------------------------------
def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:  # the process ended while we looked
        pass
    return out


def process_tree(root: int) -> list[int]:
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo += _children(pid)
    return seen


MIN_AGE_S = 1.0


def _rss_and_start(pid: int) -> tuple[int, float]:
    """Resident bytes and start time (seconds since boot) of ``pid``;
    (0, inf) once it has ended."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/stat") as f:
            start = int(f.read().rsplit(")", 1)[1].split()[19]) / os.sysconf("SC_CLK_TCK")
    except OSError:
        return 0, float("inf")
    return rss, start


def tree_rss_bytes(root: int) -> int:
    """Summed resident memory of ``root`` and its descendants. A process
    younger than ``MIN_AGE_S`` is left out: just after a fork or vfork
    (the JVM spawning a Python worker) the child reports its parent's
    pages as its own, which would count them twice."""
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0])
    total = 0
    for pid in process_tree(root):
        rss, start = _rss_and_start(pid)
        if pid == root or now - start >= MIN_AGE_S:
            total += rss
    return total


class PeakRss(threading.Thread):
    """Samples the summed resident memory of this process and all its
    descendants (the JVM and the Python workers) every ``interval``."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark() -> None:
    """Stop the session, then the JVM behind it, then wait until every
    descendant process has ended (killing any that linger)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    descendants = process_tree(os.getpid())[1:]
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in descendants:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            while _alive(pid):
                time.sleep(0.1)


# -- one run -------------------------------------------------------------------
def host_shape(spark_version: str) -> dict:
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "nproc": nproc(),
        "mem_gb": round(mem / 2**30, 1),
        "spark": spark_version,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def _isolate(work: str) -> dict:
    """Point every temp and Spark scratch path into ``work``, put the
    repository on the Python workers' path, and return the session conf."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the engine's mapInPandas kernels import it inside the workers
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # the engine defaults to 32 local cores
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def _setup(workload: str, seed: int, work: str, conf: dict, tracer) -> tuple[object, str, list]:
    """Session start plus input generation and write, ``SETUP_REPS``
    times (the first also launches the JVM); returns the last session,
    its inputs and every repetition's seconds."""
    from biodata_pipeline_spark import get_spark
    from inputs import SIZES, write_inputs

    times, spark, inputs = [], None, None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            tracer.bind(None)
            spark.stop()
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
        tracer.bind(spark)
        inputs = os.path.join(work, f"inputs_{rep}")
        write_inputs(workload, inputs, seed, SIZES[workload])
        times.append(time.perf_counter() - t0)
    return spark, inputs, times


def per_layer(tracer, info: dict) -> dict:
    """The traced run's metrics: structural counters for every span of
    every workload (0 where the workload has no such call), the timed
    phase's totals and the per-scoring recall."""
    from workloads import MODES, SPANS

    totals = tracer.totals()
    out = {}
    names = dict.fromkeys(("session.get_spark",) + tuple(s for w in SPANS for s in SPANS[w]))
    for name in names:
        agg = totals.get(name, {})
        out[f"{name}.jobs"] = (agg.get("jobs", 0), "count")
        out[f"{name}.tasks"] = (agg.get("tasks", 0), "count")
        out[f"{name}.shuffle_write_mb"] = (agg.get("shuffle_write_mb", 0.0), "MB")
    out["session.get_spark.wall_s"] = (totals["session.get_spark"]["wall_s"], "s")
    timed = [sp for sp in tracer.roots() if sp.name != "session.get_spark"]
    for c, unit in (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                    ("shuffle_write_mb", "MB"), ("executor_run_s", "s"), ("driver_gap_s", "s")):
        out[f"timed_phase.{c}"] = (sum(getattr(sp, c) for sp in timed), unit)
    for mode in MODES:
        got = info.get(f"recall_at_10.{mode}", (0.0,))[0]
        out[f"operators.ann_store.query.{mode}.recall_at_10"] = (got, "ratio")
    return out


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    sys.path.insert(0, ROOT)
    try:
        import biodata_pipeline_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    from tracer import Tracer
    from workloads import WORKLOADS, Ctx

    # a terminated run still stops the JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=scratch)
    monitor = PeakRss()
    monitor.start()
    tracer = Tracer(run_id=os.path.basename(work), enabled=trace)
    try:
        conf = _isolate(work)
        spark, inputs, setup_times = _setup(workload, seed, work, conf, tracer)
        shape = host_shape(spark.version)
        ctx = Ctx(spark, tracer, inputs, os.path.join(work, "run"), seconds, log)
        stolen0, total0 = steal_ticks()
        e2e, info = WORKLOADS[workload](ctx)
        stolen1, total1 = steal_ticks()
    finally:
        monitor.stop()
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(scratch)
            except OSError:  # another run's directory is still there
                pass

    print("host " + " ".join(f"{k}={v}" for k, v in shape.items()))
    print(f"workload={workload} seed={seed} seconds={seconds} trace={int(trace)} "
          f"setup_reps={SETUP_REPS}")
    attempted, failed = ctx.attempted, ctx.failed
    e2e = {
        "setup_s": statistics.median(setup_times),
        "wall_s": e2e["wall_s"],
        "peak_rss_mb": monitor.peak / 1e6,
    }
    info["error_rate"] = (failed / attempted, "ratio", "lower")
    info["host_steal_share"] = ((stolen1 - stolen0) / max(1, total1 - total0), "ratio", "info")
    for name, value in e2e.items():
        unit, better = END_TO_END[name]
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"metric {name} {shown} {unit} {better}-is-better")
    for name, (value, unit, better) in info.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        direction = "" if better == "info" else f" {better}-is-better"
        print(f"report {name} {shown} {unit}{direction}")

    if trace:
        for name, agg in tracer.totals().items():
            print("layer " + name + " " + " ".join(
                f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}" for k, v in agg.items()))
        tracer.dump(print)
        metrics = per_layer(tracer, info)
    else:
        metrics = {k: (v, END_TO_END[k][0]) for k, v in e2e.items()}
    correct = failed == 0 and all(v is not None for v, _ in metrics.values())
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


# -- every workload, from one command -----------------------------------------
def run_all(seed: int, seconds: float) -> int:
    """Each workload untraced and then traced, in child processes (a
    fresh JVM each, as a single run has); prints their reports and the
    tracing overhead."""
    from workloads import WORKLOADS

    status = 0
    for workload in WORKLOADS:
        walls = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = res.stdout.splitlines()
            for line in lines:
                if not line.startswith("span "):
                    print(line)
            status = status or res.returncode
            if res.returncode == 0 and lines:
                m = json.loads(lines[-1])["metrics"]
                walls[trace] = m["wall_s" if trace == 0 else "timed_phase.wall_s"]["value"]
        if len(walls) == 2:
            print(f"tracing_overhead {workload} {walls[1] - walls[0]:.3f} s "
                  f"({(walls[1] - walls[0]) / walls[0]:+.1%} of wall_s {walls[0]:.3f})")
    return status


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="biodata_pipeline_spark pipeline benchmark")
    ap.add_argument("--workload", choices=sorted(WORKLOADS),
                    help="one workload; all of them, untraced and traced, when left out")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload is None:
        return run_all(a.seed, a.seconds)
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
