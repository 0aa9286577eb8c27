"""Transcript->KG benchmark: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload kg_narrow_vocab --seed 1 \
        --seconds 5 --trace 0

Run it from the root of a repository checkout.  It builds the seeded
input (cached under ``.perfbench/cache``), starts ``local[nproc]`` with
``mongo2neo_spark.session.get_spark``, runs one cold iteration and then
at least one warm iteration, more while ``--seconds`` have not passed,
checks every iteration's output
against the repository's pure-Python oracle, and prints one JSON object
as its last line of standard output.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.  Their
times are CPU seconds of the driver, the JVM and its Python workers: on
a shared host the wall time of the same run moves with the load of its
neighbours (see WORKLOADS.md), so wall times are printed on the line
above the result and reported by ``--trace 1``.
``--trace 1`` runs one untraced and one traced warm iteration instead
and reports the per-layer ledger (see spans.py); the full ledger is
printed above the JSON line.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

from layers import du  # perfbench/ is sys.path[0] when run as a script


# ---------------------------------------------------------------------------
# host and session
# ---------------------------------------------------------------------------
def host_sizing() -> dict:
    """local[nproc], 4 shuffle partitions per core, and a driver heap of a
    quarter of RAM (the package's 24g default exceeds a 15 GB host)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    mem_gb = kb / (1024.0 * 1024.0)
    return {
        "cores": cores,
        "master": f"local[{cores}]",
        "shuffle_partitions": 4 * cores,
        "mem_total_gb": round(mem_gb, 1),
        "driver_mem": f"{max(2, min(24, int(mem_gb // 4)))}g",
    }


def configure_env(root: Path, work: Path, host: dict) -> dict:
    """Point every scratch location of Spark, the JVM and Python at
    ``work`` so a run writes nothing outside the checkout; return the
    extra Spark confs that go with it."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + pp if pp else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["M2N_DRIVER_MEM"] = host["driver_mem"]
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    return {
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


def start_session(host: dict, confs: dict) -> tuple:
    """get_spark plus the first trivial job; returns (spark, JVM pid,
    {get_spark_s, setup_wall_s, setup_cpu_s})."""
    from pyspark import SparkContext

    from mongo2neo_spark.session import get_spark

    c0 = time.process_time()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=host["master"],
                      shuffle_partitions=host["shuffle_partitions"],
                      extra_confs=confs)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    t2 = time.perf_counter()
    pid = SparkContext._gateway.proc.pid
    return spark, pid, {"get_spark_s": t1 - t0, "setup_wall_s": t2 - t0,
                        "setup_cpu_s": tree_cpu_s(pid) - c0}


def _descendants(pid: int) -> list:
    children: dict = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        q = todo.pop()
        out.append(q)
        todo.extend(children.get(q, []))
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM (peak RSS) over the JVM and its Python workers."""
    kb = 0
    for p in _descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next((int(l.split()[1]) for l in f
                            if l.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by this process, the JVM ``pid`` and its
    Python workers (user plus system, reaped children included).  Unlike
    wall time it leaves out the time a shared host runs someone else on
    our CPUs."""
    tck = os.sysconf("SC_CLK_TCK")
    ticks = 0
    for p in _descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in st[11:15])
    return ticks / tck + time.process_time()


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for it and its workers."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = _descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for p in tree[1:]:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)


# ---------------------------------------------------------------------------
# iterations
# ---------------------------------------------------------------------------
class Iterations:
    """Runs the workload into fresh output directories and keeps score."""

    def __init__(self, spark, wl, work: Path, jvm_pid: int):
        self.spark, self.wl, self.work = spark, wl, work
        self.jvm_pid = jvm_pid
        self.walls, self.cpus, self.written = [], [], []
        self.attempted = self.failed = 0
        self.last_paths = None
        self._n = 0

    def once(self, around=contextlib.nullcontext) -> float:
        """One timed run of the workload, inside ``around()``."""
        out = self.work / f"iter{self._n}"
        self._n += 1
        self.attempted += 1
        ok = False
        c0 = tree_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            with around():
                paths = self.wl.run(self.spark, str(out))
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(self.jvm_pid) - c0
            ok = self.wl.check(paths)
        except Exception:
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(self.jvm_pid) - c0
            traceback.print_exc(file=sys.stderr)
        if not ok:
            self.failed += 1
            print(f"perfbench: iteration {self._n - 1} raised or failed its "
                  "check", file=sys.stderr)
        self.walls.append(wall)
        self.cpus.append(cpu)
        self.written.append(du(out)[0])
        if self.last_paths is not None:
            shutil.rmtree(self.last_paths, ignore_errors=True)
        self.last_paths = out
        return wall


def end_to_end(it: Iterations, setup: dict, seconds: float) -> dict:
    it.once()                                   # cold
    t0 = time.perf_counter()
    # at least one warm sample, more while ``seconds`` have not passed.
    # A second fixed warm sample would not steady the figures (the load of
    # the host moves whole runs) but would cost 10-17 s a run that the
    # time budget of all runs does not have.
    while len(it.walls) < 2 or time.perf_counter() - t0 < seconds:
        it.once()
    return {
        "cpu_s": statistics.median(it.cpus[1:]),
        "first_cpu_s": it.cpus[0],
        "setup_s": setup["setup_cpu_s"],
        "written_mb": statistics.median(it.written),
    }


def per_layer(it: Iterations, wl, spark, setup: dict) -> tuple:
    import layers
    from spans import Ledger, Rest, Tracer

    it.once()                                   # cold
    untraced = it.once()
    tracer = Tracer(spark.sparkContext, wl.name)
    since = time.time()
    traced = it.once(around=lambda: tracer.run(wl.root_span))
    until = time.time()
    rest = Rest(spark.sparkContext)
    led = Ledger(rest, wl.name, since, until)
    metrics = layers.collect(wl, tracer, led, Path(it.last_paths), rest)
    metrics.update({
        "session.get_spark_s": setup["get_spark_s"],
        "session.setup_wall_s": setup["setup_wall_s"],
        "session.first_wall_s": it.walls[0],
        "session.peak_rss_mb": peak_rss_mb(it.jvm_pid),
        "trace.traced_wall_s": traced,
        "trace.untraced_wall_s": untraced,
        "trace.overhead_frac": traced / untraced - 1.0,
        "trace.reconcile_frac": tracer.root().seconds / traced,
    })
    return metrics, led, tracer


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "mongo2neo_spark" / "plans" / "pipeline.py").is_file():
        print(f"perfbench: {root} is not a repository checkout "
              "(no mongo2neo_spark package); run from the repository root",
              file=sys.stderr)
        return 2
    spec = json.loads((root / "BENCHMARK.json").read_text())
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    state = root / ".perfbench"
    work = state / "work" / f"run-{os.getpid()}"
    host = host_sizing()
    confs = configure_env(root, work, host)
    sys.path.insert(0, str(root))
    wl = WORKLOADS[args.workload]()
    try:
        wl.prepare(state / "cache", args.seed)
        spark, jvm_pid, setup = start_session(host, confs)
        try:
            it = Iterations(spark, wl, work, jvm_pid)
            if args.trace:
                metrics, led, tracer = per_layer(it, wl, spark, setup)
                wanted = spec["per_layer"]
                out = Path(it.last_paths)
                print(json.dumps({
                    "host": host,
                    "ledger": {"total": led.total, "labels": led.labels()},
                    "spans": [(s.label, s.seconds) for s in tracer.spans],
                    "tables_mb_files": {p.name: du(p) for p in out.iterdir()
                                        if p.is_dir()},
                }))
            else:
                metrics = end_to_end(it, setup, args.seconds)
                wanted = spec["end_to_end"]
                print(json.dumps({"host": host, "setup": setup,
                                  "walls": it.walls, "cpus": it.cpus}))
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": it.failed == 0,
        "attempted": it.attempted,
        "failed": it.failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]),
                                "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
