#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload fhir --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) in one Spark session at
``local[<cores>]``, from a single client in this process: set-up (session
start, input generation and writing, the workload's warm-up rounds), then
whole rounds of the workload's operations until ``--seconds`` have passed. Every output is
checked against a computation made apart from the engine. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it names the
workload-specific figures and every operation's latency.

Everything the run writes lives in a temporary directory under
``.perfbench_tmp/`` of the working directory, removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


class Stats:
    """Per operation kind: wall seconds of every call and items done; and
    the CPU seconds this client process spent inside operations."""

    def __init__(self, kinds):
        self.times = {k: [] for k in kinds}
        self.items = {k: 0 for k in kinds}
        self.client_cpu_s = 0.0

    def add(self, kind: str, seconds: float, items: int) -> None:
        self.times[kind].append(seconds)
        self.items[kind] += items

    def rate(self, kind: str) -> float:
        return self.items[kind] / sum(self.times[kind])

    def seconds(self, kinds) -> float:
        return sum(sum(self.times[k]) for k in kinds)

    def p50_geomean_ms(self) -> float:
        """Geometric mean over operation kinds of each kind's median
        latency."""
        meds = [statistics.median(v) * 1000 for v in self.times.values()]
        return math.exp(sum(math.log(m) for m in meds) / len(meds))

    def quantile(self, kind: str, q: float) -> float:
        xs = sorted(self.times[kind])
        if len(xs) == 1:
            return xs[0]
        return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def environment(tmp: Path, cores: int) -> None:
    """Point every temporary file of Python, the JVM and Spark into
    ``tmp`` and put the repository on the Python workers' import path."""
    for d in ("py", "jvm", "spark-local", "warehouse"):
        (tmp / d).mkdir()
    os.environ["TMPDIR"] = str(tmp / "py")
    tempfile.tempdir = str(tmp / "py")
    os.environ["TZ"] = "UTC"
    time.tzset()
    path = [str(ROOT)]
    if os.environ.get("PYTHONPATH"):
        path.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    # spark-submit's helper JVM, like the session's (below), writes no
    # performance-data file under the system temporary directory
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"]))
    conf = {
        "spark.local.dir": tmp / "spark-local",
        "spark.sql.warehouse.dir": tmp / "warehouse",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # A heap sized up front and the parallel collector: measured on the
        # reference machine, they cut the run-to-run spread of the peak RSS
        # from 17 % to 2 % and of the crawl-curation rate from 26 % to 8 %.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp / 'jvm'} -Dderby.system.home={tmp / 'jvm'} "
            f"-Xms{heap} -XX:+UseParallelGC -XX:-UsePerfData",
        # The benchmark's stores are a few MB; 16 KiB row groups give each
        # file several, as large tables have under the default 128 MiB.
        "spark.hadoop.parquet.block.size": "16384",
    }
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it; the
    JVM is killed if it has not exited 30 s after its input closed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def own_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of process ``root`` and its live
    descendants, including what they collected from exited children."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command name: state, ppid, ..., utime, stime, cutime, cstime
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15])
    tree, todo = set(), [root]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo += [c for c, pp in parent.items() if pp == p and c not in tree]
    return sum(cpu.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def run_round(ops, stats, result, tracer=None):
    """Run one round: time each operation, then check its output."""
    for op in ops:
        result["attempted"] += 1
        if tracer is not None:
            tracer.op = op.kind
        cpu = own_cpu_s()
        t = time.perf_counter()
        try:
            out = op.run()
        except Exception:
            result["failed"] += 1
            log(f"operation {op.kind} failed:\n{traceback.format_exc()}")
            continue
        dt = time.perf_counter() - t
        stats.client_cpu_s += own_cpu_s() - cpu
        stats.add(op.kind, dt, op.items(out))
        try:
            op.check(out)
        except AssertionError as e:
            result["correct"] = False
            log(f"check failed on {op.kind}: {e}")


def warm_up(wl) -> list[dict]:
    """The workload's fixed number of untimed whole rounds; returns the
    seconds each operation kind took in each."""
    history: list[dict] = []
    for _ in range(wl.warm_rounds):
        stats = Stats(wl.kinds)
        scratch = {"attempted": 0, "failed": 0, "correct": True}
        run_round(wl.round(), stats, scratch)
        if scratch["failed"] or not scratch["correct"]:
            raise RuntimeError("warm-up round failed")
        history.append({k: round(sum(v), 3) for k, v in stats.times.items()})
    return history


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = Path.cwd() / ".perfbench_tmp"
    base.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="run-", dir=base))
    spark = None
    try:
        cores = len(os.sched_getaffinity(0))
        environment(tmp, cores)
        sys.path[:0] = [str(ROOT), str(HERE)]
        import layers
        import workloads
        from spans import Tracer

        from parquet_on_fhir_spark import session

        wl_cls = workloads.WORKLOADS[args.workload]
        t = time.perf_counter()
        spark = session.get_session(f"perfbench-{args.workload}")
        session_ms = (time.perf_counter() - t) * 1000
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        tracer = Tracer(spark) if args.trace else None
        ctx = workloads.Ctx(spark=spark, tmp=str(tmp / "data"), seed=args.seed)
        os.makedirs(ctx.tmp)
        wl = wl_cls()
        t = time.perf_counter()
        wl.setup(ctx)
        inputs_s = time.perf_counter() - t
        warm = warm_up(wl)
        log(f"set-up: session {session_ms / 1000:.1f} s, inputs {inputs_s:.1f} s, "
            f"warm-up rounds (seconds per kind) {warm}")
        if tracer is not None:
            layers.wrap_all(tracer)
            ctx.tracer = tracer
        cpu_start = tree_cpu_s(jvm_pid)
        setup_cpu_s = own_cpu_s() + cpu_start
        setup_wall_s = time.perf_counter() - T0

        stats = Stats(wl_cls.kinds)
        result = {"correct": True, "attempted": 0, "failed": 0}
        rounds = []
        start = time.perf_counter()
        while True:
            ctx.round_counts = {}
            span_mark = len(tracer.spans) if tracer else 0
            run_round(wl.round(), stats, result, tracer)
            if tracer and "minhash_lsh_pairs" in tracer.captured:
                ctx.round_counts["operators.dedup.minhash_lsh_pairs.candidate_pairs"] = (
                    layers.candidate_pairs(spark, tracer.captured.pop("minhash_lsh_pairs")))
            rounds.append({
                "counts": ctx.round_counts,
                "persisted": spark._jsc.sc().getPersistentRDDs().size(),
                "spans": (span_mark, len(tracer.spans)) if tracer else None,
            })
            if time.perf_counter() - start >= args.seconds:
                break
        log(f"{len(rounds)} rounds in {time.perf_counter() - start:.1f} s")
        cpu_per_round = (tree_cpu_s(jvm_pid) - cpu_start + stats.client_cpu_s) / len(rounds)

        named = wl.named(stats)
        if args.trace:
            metrics = layers.per_layer(tracer, rounds, session_ms)
        else:
            metrics = {
                "setup_s": (setup_cpu_s, "s"),
                "cpu_s_per_round": (cpu_per_round, "s"),
                "jvm_peak_rss_mb": (jvm_peak_rss_mb(jvm_pid), "MB"),
            }
            named.update({
                "items_per_s": (wl.items_per_s(stats), "1/s"),
                "op_p50_ms": (stats.p50_geomean_ms(), "ms"),
                "setup_wall_s": (setup_wall_s, "s"),
                **metrics,
            })
        print(json.dumps({
            "workload": args.workload,
            "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "ops": {k: len(v) for k, v in stats.times.items()},
            "op_ms": {k: [round(t * 1000, 1) for t in v] for k, v in stats.times.items()},
        }))
        line = {**result, "metrics": {k: {"value": v, "unit": u}
                                      for k, (v, u) in metrics.items()}}
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                base.rmdir()
            except OSError:
                pass
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
