"""Benchmark of the validation engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload drift --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload in turn

A run is a closed loop: one client in this process runs one iteration at a
time on ``local[<cores>]``. The run launches one JVM, then sets up
``SETUPS`` times: a new Spark session on that JVM, the seeded inputs
generated afresh in a child process, and loaded. The last session runs the
workload's warm-up iterations, then times iterations for ``--seconds``, at
least ``MIN_ITERATIONS``. Every iteration's output is checked, warm-up
included.

Each set-up and iteration is measured in wall seconds and in CPU seconds of
this process and all its descendants (the JVM, the Python workers, the input
generator). The end-to-end metrics use CPU seconds: ``setup_s`` and
``cpu_s`` are the medians over the set-ups and the timed iterations. On a
virtual machine whose vCPUs are shared with other tenants, wall time swings
with the time the hypervisor steals; the guest's CPU counters leave that time
out.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` makes the same
untraced run, then the whole run again in a new JVM with the Spark event log
on in the timed session, and prints the per-layer metrics (see
``LAYERS.md``), the untraced iteration wall and the tracing overhead. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Scratch files live under ``.perfbench_work/`` and the
run's samples, spans and host-contention snapshots under ``.perfbench_out/``
in the current directory; a run exits non-zero if any iteration fails its
check.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
MIN_ITERATIONS = 1
HEAP = "2g"


def spark_conf(cores: int, work: str, eventlog: str | None) -> dict[str, str]:
    # The frozen bench.py session settings, with a heap sized for these
    # inputs, and the JIT held to C1. With C2 the JVM goes on recompiling
    # Spark in the background for minutes, and how far it has got by the
    # timed iteration depends on how much CPU the host lends it: interleaved
    # runs on one host put a warm iteration at 20.7-26.1 CPU-s under C2 and
    # 15.9-16.8 CPU-s under C1, with C1 no slower in wall time.
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=512m -XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.sql.shuffle.partitions": str(max(cores * 2, 8)),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.scheduler.mode": "FAIR",
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if eventlog:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + eventlog,
        })
    return conf


class Sample(NamedTuple):
    """Wall and process-tree CPU seconds of one set-up or iteration."""

    wall: float
    cpu: float

    def __str__(self) -> str:
        return f"wall {self.wall:.3f} cpu {self.cpu:.2f}"


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user and system) used so far by process ``root`` and its
    live descendants, including the children they have reaped.

    The guest kernel leaves time stolen by the hypervisor out of these
    counters, so they do not grow when other tenants take the host's CPUs.
    """
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    # fields after the parenthesised command name
                    stats[int(entry)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while listed
                continue
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += sum(int(x) for x in stats[pid][11:15])  # utime stime cutime cstime
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def launch_jvm(conf: dict[str, str]) -> None:
    """Start the JVM that every session of this run shares."""
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized(conf=SparkConf().setAll(conf.items()))


def start_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # a JVM that is already gone still gets reaped below
            pass
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Runner:
    def __init__(self, args, work: str) -> None:
        import workloads

        self.args, self.work = args, work
        self.cores = len(os.sched_getaffinity(0))  # what `nproc` reports
        self.data = os.path.join(work, "data")
        self.tracer = workloads.Tracer(False)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.spark = self.wl = None

    def setup(self, eventlog: str | None = None) -> Sample:
        """A new session on the running JVM, fresh inputs, loaded.

        Stopping the previous session is not part of it: that also ends the
        session's Python workers, whose CPU time then leaves the process
        tree."""
        import workloads

        if self.spark is not None:
            self.spark.stop()
        shutil.rmtree(self.data, ignore_errors=True)
        cpu0, t0 = tree_cpu_s(os.getpid()), time.monotonic()
        gen = Generator(self.args.workload, self.args.seed, self.data)
        try:
            self.spark = start_session(spark_conf(self.cores, self.work, eventlog))
            meta = gen.meta()
        finally:
            gen.stop()
        self.wl = workloads.make(self.args.workload, self.data, meta, self.work)
        self.wl.load(self.spark)
        done = Sample(time.monotonic() - t0, tree_cpu_s(os.getpid()) - cpu0)
        print(f"setup {done}", file=sys.stderr)
        return done

    def iterate(self, name: str):
        """One checked iteration under its own job group; returns its
        sample, window and output, or None if it failed."""
        from eventlog import Window

        sc = self.spark.sparkContext
        group = f"perfbench-{self.args.workload}-{name}"
        self.tracer.iteration = name
        sc.setJobGroup(group, name)
        cpu0, t_start, m0 = tree_cpu_s(os.getpid()), time.time(), time.monotonic()
        try:
            out = self.wl.run(self.tracer)
        except Exception as exc:  # a failed iteration counts as failed
            out, problems = None, [f"{type(exc).__name__}: {exc}"]
        else:
            problems = None
        t_end = time.time()
        sample = Sample(time.monotonic() - m0, tree_cpu_s(os.getpid()) - cpu0)
        sc.setJobGroup(None, None)
        self.attempted += 1
        if problems is None:
            problems = self.wl.check(out)
        print(f"{name} {sample}", file=sys.stderr)
        if problems:
            self.failed += 1
            self.problems.extend(f"{name}: {p}" for p in problems)
            return None
        return sample, Window(name, group, t_start * 1e3, t_end * 1e3), out

    def warm_up(self, tag: str) -> None:
        for i in range(self.wl.warmup):
            self.iterate(f"{tag}warmup{i}")

    def measure(self, seconds: float, tag: str):
        """Timed closed loop; returns (samples, windows, layer metrics)."""
        samples, windows, layers = [], [], []
        stop_at = time.monotonic() + seconds
        i = 0
        while i < MIN_ITERATIONS or time.monotonic() < stop_at:
            done = self.iterate(f"{tag}{i}")
            if done is not None:
                sample, window, out = done
                samples.append(sample)
                windows.append(window)
                if self.tracer.enabled:
                    layers.append(self.wl.layers(out, self.tracer))
            i += 1
        return samples, windows, layers


class Generator:
    """Seeded inputs written by a child process while the session starts.

    The child's memory never counts in this process's peak RSS.
    """

    def __init__(self, workload: str, seed: int, out: str) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed), out],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )

    def meta(self) -> dict:
        out, err = self.proc.communicate()
        if self.proc.returncode != 0:
            raise RuntimeError(f"input generation failed: {err[-2000:]}")
        return json.loads(out.strip().splitlines()[-1])

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.communicate()


def end_to_end(setups: list[Sample], samples: list[Sample]) -> dict[str, float]:
    return {
        "setup_s": statistics.median(s.cpu for s in setups),
        "cpu_s": statistics.median(s.cpu for s in samples),
        "driver_rss_peak_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }


def run_one(args) -> tuple[dict, Runner, dict]:
    import bench  # the repository's host-contention probe

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark and Python temporary files stay inside the work directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata files under /tmp from the JVMs that spark-submit starts
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    report = {"contention_start": bench.contention_snapshot()}
    runner = Runner(args, work)
    try:
        t0 = time.monotonic()
        launch_jvm(spark_conf(runner.cores, work, None))
        report["jvm_launch_s"] = time.monotonic() - t0
        setups = [runner.setup() for _ in range(SETUPS)]
        report["setups"] = [s._asdict() for s in setups]
        runner.warm_up("")
        samples, _, _ = runner.measure(args.seconds, "it")
        report["samples"] = [s._asdict() for s in samples]
        metrics = end_to_end(setups, samples) if samples else {}
        if args.trace and samples:
            metrics = traced(runner, args, work, samples, report)
    finally:
        try:
            stop_jvm(runner.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    report["contention_end"] = bench.contention_snapshot()
    return metrics, runner, report


def traced(runner: Runner, args, work: str, untraced: list[Sample], report: dict) -> dict:
    import eventlog
    import workloads

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    runner.tracer = workloads.Tracer(True)
    # the untraced run over again in a new JVM, so that the traced iteration
    # is as far into the JVM's life as the untraced one; only the last
    # session, the one timed, writes the event log
    stop_jvm(runner.spark)
    runner.spark = None
    launch_jvm(spark_conf(runner.cores, work, None))
    for i in range(SETUPS):
        runner.setup(eventlog=log_dir if i == SETUPS - 1 else None)
    runner.warm_up("traced")
    samples, windows, layers = runner.measure(args.seconds, "traced")
    probe = runner.wl.probe() if hasattr(runner.wl, "probe") else {}
    runner.spark.stop()  # flushes the event log
    runner.spark = None
    if not samples:
        return {}
    per_iter = eventlog.iteration_metrics(log_dir, windows)
    for own, spark_side in zip(layers, per_iter):
        own.update(spark_side)
    metrics = {key: statistics.median(m[key] for m in layers) for key in layers[0]}
    metrics.update(probe)
    metrics["iteration.wall_s"] = statistics.median(s.wall for s in untraced)
    metrics["trace.overhead_frac"] = (
        statistics.median(s.cpu for s in samples) / statistics.median(s.cpu for s in untraced) - 1
    )
    report["traced_samples"] = [s._asdict() for s in samples]
    report["spans"] = runner.tracer.spans
    return metrics


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(metrics: dict, runner: Runner, args) -> dict:
    spec = declared()["per_layer" if args.trace else "end_to_end"]
    names = {m["name"] for m in spec}
    unknown = set(metrics) - names
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    return {
        "correct": runner.failed == 0 and runner.attempted > 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        # a metric of a layer the workload never enters reads as zero work
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec
        },
    }


def main_one(args) -> int:
    metrics, runner, report = run_one(args)
    result = result_line(metrics, runner, args)
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    report.update(result)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"workload {args.workload} seed {args.seed}: "
          f"{'correct' if result['correct'] else 'INCORRECT'}, "
          f"{runner.failed}/{runner.attempted} iterations failed "
          f"(failed_frac {runner.failed / max(runner.attempted, 1):.3f}), "
          f"{len(report.get('samples', []))} timed samples")
    for p in runner.problems[:20]:
        print(f"  problem: {p}")
    print(f"  contention: start {report['contention_start']} end {report['contention_end']}")
    for name, m in result["metrics"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    if not result["correct"]:
        return 1
    print(json.dumps(result))
    return 0


def main_all(args) -> int:
    """Each workload in its own process; prints a combined result."""
    import workloads

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in workloads.NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1] if proc.returncode == 0 else lines))
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            total["metrics"][f"{name}.{k}"] = v
    print(json.dumps(total))
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    try:
        # the program under test and the repository's contention probe
        import aumos_drift_detector_spark.plans.validation  # noqa: F401
        import bench  # noqa: F401
        import workloads
    except ImportError as exc:
        print(f"perfbench: the program is missing: {exc}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return main_all(args)
    if args.workload not in workloads.NAMES:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    return main_one(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
