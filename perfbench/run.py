"""Benchmark: one closed-loop client drives one workload against the
engine's public API and prints its metrics as the last stdout line.

    python3 perfbench/run.py --workload batch_resolve --seed 1 --seconds 1 --trace 0

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the same
workload with Spark's event log on, times three ops with the middle one
split into layer spans, then runs the workload's traced side path (see
``perfbench/workloads.py``), and prints the per-layer metrics.  Inputs are
generated from ``--seed`` and cached under
``.perfbench_work/inputs``; everything else a run writes lives in
``.perfbench_work/run-<pid>`` and is removed when the run ends.  The exit
code is 1 if any op raised or failed its output check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# the per-layer counts every traced run prints (0 where the layer is absent)
COUNTS = (
    ("pipeline.materialize.rows", "count"),
    ("pipeline.edges.candidates", "count"),
    ("pipeline.edges.matched", "count"),
    ("pipeline.edges.verify_yield", "frac"),
    ("cluster.components", "count"),
    ("cluster.lp.hops", "count"),
    ("cluster.lp.hits", "count"),
    ("incremental.fold.delta_edges", "count"),
    ("incremental.fold.relabeled_rows", "count"),
    ("incremental.fold.compactions", "count"),
    ("dedup.fold.new_pairs", "count"),
    ("dedup.fold.compactions", "count"),
    ("io.stage_mb", "MB"),
    ("io.state_mb", "MB"),
    ("io.resolver_state_mb", "MB"),
    ("trace.unattributed_s", "s"),
    ("trace.overhead_frac", "frac"),
)
# a traced run times ops 1..3 and traces op 2: the plain ops on both sides
# bracket it, so trace.overhead_frac compares ops of the same kind with the
# warm-up drift averaged out.  The event log is on for the whole traced
# session, so the overhead is that of the spans, not of the event log.
TRACED_OP, TRACED_RUN_OPS = 2, 3


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def vm_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmRSS for pid {pid}")


class RssPeak:
    """Peak resident size of some processes over a phase: the maximum of
    their VmRSS, sampled every ``EVERY_S`` seconds by a daemon thread.
    VmHWM would cover the whole process life, and restarting it means
    writing to /proc, outside the benchmark's own directory."""

    EVERY_S = 0.05

    def __init__(self, pids: dict):
        self.pids = pids
        self.peak = {name: 0.0 for name in pids}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        for name, pid in self.pids.items():
            self.peak[name] = max(self.peak[name], vm_rss_mb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.EVERY_S):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
        for line in f:
            if line.rstrip().endswith(" " + ref[5:]):
                return line.split()[0]
    return None


def box_session(run_dir: str, trace: bool):
    """local[nproc] session sized to the host's cores and RAM."""
    from zentity_spark.session import get_spark
    cores = len(os.sched_getaffinity(0))
    heap_mb = max(1024, min(4096, ram_mb() // 4))
    extra = {"spark.driver.memory": f"{heap_mb}m",
             "spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        extra |= {"spark.eventLog.enabled": "true",
                  "spark.eventLog.dir": "file://" + log_dir,
                  "spark.eventLog.compress": "false",
                  "spark.eventLog.rolling.enabled": "false"}
    spark = get_spark(master=f"local[{cores}]", app="perfbench",
                      shuffle_partitions=2 * cores, extra=extra)
    return spark, cores, heap_mb


def stop_session(spark) -> None:
    """Stop the session, then the JVM it started, and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()     # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> int:
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    inputs = os.path.join(WORK, "inputs")
    for d in ("tmp", "out/stages", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(inputs, exist_ok=True)
    # keep every file Spark, the JVM and the engine write inside the run dir
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # -XX:-UsePerfData: no hsperfdata file, which HotSpot puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the engine's stage scratch; the workloads' state dirs sit beside it
    os.environ["ZENTITY_LOCAL_DIR"] = os.path.join(run_dir, "out", "stages")
    try:
        return measure(args, run_dir, inputs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir: str, inputs: str) -> int:
    from perfbench.trace import Tracer
    from perfbench.workloads import SIDE_SPANS, WORKLOADS

    wl = WORKLOADS[args.workload](                     # input generation
        inputs, args.seed, args.scale, os.path.join(run_dir, "out"))

    t0 = time.perf_counter()
    spark, cores, heap_mb = box_session(run_dir, bool(args.trace))
    tracer = Tracer(spark.sparkContext) if args.trace else None
    failures: list = []
    attempted = 1
    try:
        wl.setup(spark)                                # incl. warm-up op
        setup_s = time.perf_counter() - t0
        failures += wl.check_setup()
        failed = 1 if failures else 0

        plain, traced, unattributed = [], [], []
        # peak_rss_mb covers the timed phase only
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = RssPeak({"python": os.getpid(), "jvm": jvm_pid})
        with rss:
            st0, tt0 = cpu_ticks()
            start = time.perf_counter()
            i = 1
            while wl.has_op(i) and (
                    i <= TRACED_RUN_OPS if args.trace else i <= wl.min_ops
                    or time.perf_counter() - start < args.seconds):
                attempted += 1
                use_trace = args.trace and i == TRACED_OP
                try:
                    wall, errs = (wl.traced_op(i, tracer) if use_trace
                                  else wl.op(i))
                except Exception as e:                 # noqa: BLE001
                    failures.append(f"op {i} raised {type(e).__name__}: {e}")
                    failed += 1
                    break
                (traced if use_trace else plain).append(wall)
                if use_trace:
                    unattributed.append(tracer.self_time(i, wall))
                if errs:
                    failures += errs
                    failed += 1
                i += 1
            st1, tt1 = cpu_ticks()
        end_errs = []
        if args.trace and not failures:
            # the side path: after the timed phase, outside every op
            attempted += 1
            try:
                end_errs += wl.side(tracer)
            except Exception as e:                     # noqa: BLE001
                end_errs.append(f"side path raised {type(e).__name__}: {e}")
        end_errs += wl.check_end()
        if end_errs:
            failures += end_errs
            failed = min(attempted, failed + 1)
        env = {
            "nproc": cores, "ram_mb": ram_mb(), "jvm_heap_mb": heap_mb,
            "shuffle_partitions": 2 * cores,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "spark": spark.version, "python": sys.version.split()[0],
            "git_sha": git_sha(), "workload": args.workload,
            "seed": args.seed, "scale": args.scale, "trace": args.trace,
            "steal_pct": 100.0 * (st1 - st0) / max(1, tt1 - tt0),
            "op_walls_s": plain, "traced_op_walls_s": traced,
            "samples": len(plain), "peak_rss_mb": rss.peak,
        }
    finally:
        stop_session(spark)

    if args.trace:
        tracer.attribute(os.path.join(run_dir, "eventlog"))
        names = [s for c in WORKLOADS.values() for s in c.spans] \
            + list(SIDE_SPANS)
        metrics = tracer.metrics(names, cores)
        counts = dict(wl.counts)
        if unattributed:
            counts["trace.unattributed_s"] = (
                statistics.median(unattributed), "s")
        if traced and plain:
            counts["trace.overhead_frac"] = (
                statistics.median(traced) / statistics.mean(plain) - 1,
                "frac")
        for name, unit in COUNTS:
            metrics[name] = counts.get(name, (0.0, unit))
    else:
        metrics = {"setup_s": (setup_s, "s"),
                   "peak_rss_mb": (sum(rss.peak.values()), "MB")}
        if plain:      # none if the only op raised: the run has failed
            metrics |= {"op_s_p50": (statistics.median(plain), "s"),
                        "disk_mb_per_kdoc": (statistics.median(wl.disk), "MB")}
    for f in failures:
        print("CHECK FAILED:", f, file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 1 if failures else 0


def main() -> int:
    from perfbench.workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full",
                   help="smoke: the smallest inputs, for perfbench/smoke.py")
    return run(p.parse_args())


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
