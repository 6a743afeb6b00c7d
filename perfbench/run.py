"""Benchmark of the opennre_spark KG engine.

    python3 perfbench/run.py --workload kg_sentence --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout of the repository. It generates the
workload's input from --seed, sets up a Spark session on local[4], runs
one pass to warm the JVM up, then for --seconds runs rounds of a fresh
Spark session, its cold first pass and warm passes. It checks every
pass's output against an independently computed expectation, and prints
one JSON object as the last line of standard output:

    {"correct": true, "attempted": 10, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see README.md). Everything the run writes goes under .perfbench/ in the
checkout. The exit code is 0 only when every checked output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
HEAP = "2g"
# rounds of (fresh session, cold pass, warm passes) in a run
COLD_ROUNDS = 3
# set-ups after the last round, so that setup_s has its median from more
# samples than cold_wall_s
EXTRA_SETUPS = 2


def process_age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def prepare_environment():
    """Keep every file the run writes inside the checkout, make the
    package importable by the Python workers, and give the Spark driver's own
    numpy (which computes the expected outputs before Spark starts) all
    cores while the engine's workers keep their single BLAS thread."""
    for d in ("tmp", "inputs", "results", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # no hsperfdata files in the system temp directory, from the JVM that
    # spark-submit starts to build the Spark driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    saved = os.environ.get("OPENBLAS_NUM_THREADS")
    os.environ["OPENBLAS_NUM_THREADS"] = str(CORES)
    import numpy  # noqa: F401  (OpenBLAS reads its thread count at load)

    if saved is None:
        del os.environ["OPENBLAS_NUM_THREADS"]
    else:
        os.environ["OPENBLAS_NUM_THREADS"] = saved
    # import perfbench as a package from the checkout root, not its
    # modules from the script's own directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]


class Session:
    """One Spark session at a time, stopped and restarted on request;
    close() also ends the JVM and waits for every child process."""

    def __init__(self, extra: dict | None = None):
        self.extra = {
            "spark.driver.memory": HEAP,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # C1 only: the JVM reaches its steady speed within the first
            # pass instead of recompiling for minutes; a heap committed
            # and touched up front keeps its resident size from moving
            # with GC timing (see README.md)
            "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1 "
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
            **(extra or {}),
        }
        self.spark = None

    def start(self, cores: int):
        from opennre_spark.session import get_spark

        self.spark = get_spark("perfbench", cores=cores, extra=self.extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self):
        """Stop the session and wait until its Python workers have ended:
        workers of the next session that start while the old ones still
        hold their memory would add to peak_rss_mb at random."""
        from pyspark import SparkContext

        from perfbench.procstat import ended, tree_pids

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            # the JVM may leave an unreaped shell child behind; it holds
            # no memory and does not count
            keep = {os.getpid(), SparkContext._gateway.proc.pid}
            deadline = time.monotonic() + 10
            while time.monotonic() < deadline and not all(
                ended(p) for p in set(tree_pids()) - keep
            ):
                time.sleep(0.05)

    def close(self):
        from pyspark import SparkContext

        from perfbench.procstat import tree_pids

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while len(tree_pids()) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in tree_pids()[1:]:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


class Passes:
    """Runs and checks passes; counts attempted and failed ones."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.steal_s: list[float] = []  # per pass, the box's steal time

    def check(self, out):
        self.attempted += 1
        errs = self.wl.check(out)
        if errs:
            self.failed += 1
            self.errors.extend(errs[:10])

    def run(self, spark) -> tuple[float, float]:
        """(wall seconds, process-tree CPU seconds) of one checked pass."""
        from perfbench.procstat import box_steal_s, tree_cpu_s

        c0, s0 = tree_cpu_s(), box_steal_s()
        t0 = time.perf_counter()
        out = self.wl.run_pass(spark)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        self.steal_s.append(box_steal_s() - s0)
        self.check(out)
        return wall, cpu

    def warm(self, spark, until: float, min_passes: int) -> tuple[list, list]:
        """Warm passes until perf_counter() reaches `until`."""
        walls, cpus = [], []
        while len(walls) < min_passes or time.perf_counter() < until:
            w, c = self.run(spark)
            walls.append(w)
            cpus.append(c)
        return walls, cpus


def restart(wl, sess: Session, cores: int):
    """A fresh Spark session in the same JVM, its input registered:
    (session, seconds taken)."""
    sess.stop()
    t0 = time.perf_counter()
    spark = sess.start(cores)
    wl.register(spark)
    return spark, time.perf_counter() - t0


def end_to_end(wl, sess: Session, passes: Passes, seconds: float, import_s: float) -> dict:
    """Set-up and a JVM warm-up pass, then COLD_ROUNDS rounds that share
    `seconds`: a fresh session, its cold first pass, warm passes."""
    from perfbench.procstat import PeakRss

    t0 = time.perf_counter()
    spark = sess.start(CORES)
    wl.register(spark)
    setups = [import_s + time.perf_counter() - t0]
    colds, walls, cpus = [], [], []
    with PeakRss() as rss:
        # the JVM's first pass also loads and compiles Spark's code, a
        # cost that varies by whole seconds from run to run; it is checked
        # and kept in the record, not reported
        jvm_first, _ = passes.run(spark)
        t0 = time.perf_counter()
        for r in range(COLD_ROUNDS):
            # new Python workers: worker spawn, weight build and cache fill
            spark, setup = restart(wl, sess, CORES)
            setups.append(setup)
            colds.append(passes.run(spark)[0])
            w, c = passes.warm(spark, t0 + seconds * (r + 1) / COLD_ROUNDS, 1)
            walls += w
            cpus += c
    for _ in range(EXTRA_SETUPS):
        setups.append(restart(wl, sess, CORES)[1])
    wall = statistics.median(walls)
    return {
        "metrics": {
            "wall_s": (wall, "s"),
            "cold_wall_s": (statistics.median(colds), "s"),
            "rows_per_s": (wl.rows / wall, "1/s"),
            "cpu_s": (statistics.median(cpus), "s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
            "setup_s": (statistics.median(setups), "s"),
            "success_rate": (
                (passes.attempted - passes.failed) / passes.attempted, "ratio"
            ),
        },
        "detail": {
            "jvm_first_wall": jvm_first, "colds": colds, "walls": walls,
            "cpus": cpus, "setups": setups,
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_environment()
    try:
        import opennre_spark.session  # noqa: F401  (imports pyspark.sql)
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2
    from perfbench import layers, spans
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    import_s = process_age()
    wl = WORKLOADS[args.workload](os.path.join(WORK, "inputs"), args.seed)
    t0 = time.perf_counter()
    fingerprint = wl.prepare()
    fingerprint["prepare_s"] = time.perf_counter() - t0

    passes = Passes(wl)
    log_dir = os.path.join(WORK, "eventlog")
    sess = Session(spans.event_log_conf(log_dir) if args.trace else None)
    try:
        if args.trace:
            res = layers.traced_run(wl, sess, passes, args.seconds, CORES)
        else:
            res = end_to_end(wl, sess, passes, args.seconds, import_s)
    finally:
        sess.close()
        os.remove(wl.path)
        # the spans' Spark metrics are in the record; the log can go
        shutil.rmtree(log_dir, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input": fingerprint, **res["detail"],
        "steal_s": passes.steal_s, "errors": passes.errors,
    }
    out_path = os.path.join(
        WORK, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json",
    )
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"input": fingerprint, "record": os.path.relpath(out_path, ROOT)}))
    for e in passes.errors[:20]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": passes.failed == 0,
        "attempted": passes.attempted,
        "failed": passes.failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()
        },
    }))
    return 0 if passes.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
