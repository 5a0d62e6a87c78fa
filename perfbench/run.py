"""Convert/curate benchmark for tensorflow_recorder_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload convert_tabular --seed 1 --seconds 10 --trace 0

One run is one fresh process and one closed-loop caller on
``local[<cores / 2>]``:

1. generate the workload's input from ``--seed`` (untimed);
2. time ``get_spark()`` ``SETUPS`` times, each a fresh JVM, and report
   the median as ``setup_s``;
3. in the last JVM, run one cold operation (``first_op_cpu_s``),
   ``WARMUP_OPS`` untimed ones, then warm ones back to back for
   ``--seconds`` (``op_cpu_s``, ``rows_per_cpu_s``).

Operations are measured in CPU seconds used by the whole process tree
(this driver, the JVM and its Python workers), which a shared host's
contention barely moves; their wall times are recorded and printed
too.

Every operation's output is checked afterwards. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` alternates traced and untraced
warm operations and reports the per-layer metrics (spans, Spark status
store, kernel probes, counts) plus the tracing overhead. Each metric is
printed on its own line; the last stdout line is one JSON object. The
full run record and Spark's log go to ``.perfbench/logs/``.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

STARTED = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
# untimed operations between the cold one and the window: the CPU per
# call (without the JIT compiler's) falls for about three calls, and a
# count, not a time, leaves the JIT at the same point whatever the
# host's speed
WARMUP_OPS = 3
# Spark task slots. Fewer than the host's cores: a stage waits for its
# slowest task, so with every core busy each stall a shared host
# inflicts on one core stretches the whole stage, while with spare
# cores the scheduler moves the stalled thread and the driver, JIT and
# GC threads do not compete with the tasks
CPUS = max(1, (os.cpu_count() or 2) // 2)
# a fixed driver heap, so the host's free memory does not change GC
# behaviour and peak RSS from run to run
DRIVER_MEM = "4g"

LOG4J = """\
status = error
appender.file.type = File
appender.file.name = file
appender.file.fileName = {log}
appender.file.append = false
appender.file.layout.type = PatternLayout
appender.file.layout.pattern = %d{{HH:mm:ss.SSS}} %p %c{{1}}: %m%n%ex
rootLogger.level = warn
rootLogger.appenderRef.file.ref = file
"""


class RunDir:
    """Everything a run writes lives under ``<checkout>/.perfbench``:
    a scratch directory removed at exit, plus the kept logs."""

    def __init__(self, workload: str, seed: int, trace: int) -> None:
        base = os.path.join(ROOT, ".perfbench")
        self.logs = os.path.join(base, "logs")
        self.path = os.path.join(base, "runs", f"{workload}-s{seed}-{os.getpid()}")
        stem = f"{workload}-seed{seed}-trace{trace}"
        self.spark_log = os.path.join(self.logs, stem + ".spark.log")
        self.record = os.path.join(self.logs, stem + ".json")
        self.engine_log = os.path.join(self.path, "tfrecorder-spark.log")
        for sub in ("tmp", "local", "conf", "inputs", "out"):
            os.makedirs(os.path.join(self.path, sub), exist_ok=True)
        os.makedirs(self.logs, exist_ok=True)

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def configure_environment(self) -> None:
        """Point Spark's scratch, temp files and logging into the run
        directory. Must run before the first JVM launches."""
        conf = self.sub("conf")
        with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
            fh.write(LOG4J.format(log=self.spark_log))
        with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
            fh.write(
                f"spark.driver.extraJavaOptions -Djava.io.tmpdir={self.sub('tmp')}"
                " -XX:-UseDynamicNumberOfCompilerThreads\n"
            )
        os.environ["SPARK_CONF_DIR"] = conf
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        os.environ["TMPDIR"] = self.sub("tmp")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def redirect_engine_log(path: str) -> None:
    """convert() appends to a job log and copies it into every job
    directory; keep that log inside the run directory."""
    from tensorflow_recorder_spark import api

    api._configure_logging = functools.partial(api._configure_logging, logfile=path)
    api._copy_logfile = functools.partial(api._copy_logfile, logfile=path)


def launch_spark():
    from tensorflow_recorder_spark.session import get_spark

    start = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - start


def stop_spark(spark) -> None:
    """Stop the session and its JVM, so the next launch starts cold."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def host_steal_s() -> float:
    """CPU time the hypervisor gave other guests (all CPUs, /proc/stat):
    recorded so host noise can be told apart from a slower program."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def wait_for_children(timeout_s: float = 30.0) -> None:
    """Wait until every process this run started has exited."""
    from spans import descendants

    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        for pid in descendants(os.getpid()):
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.05)


class Runner:
    """Runs one workload and collects its timings, checks and traces."""

    def __init__(self, args, run_dir: RunDir) -> None:
        from spans import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.run_dir = run_dir
        self.workload = WORKLOADS[args.workload](args.seed, args.size, run_dir.sub("inputs"))
        self.tracer = Tracer() if args.trace else None
        self.results: list = []
        # CPU seconds of each call per kind (spans.tree_cpu_s), None if it raised
        self.cpu: list[dict[str, float] | None] = []
        self.problems: list[list[str]] = []
        self.record: dict = {"args": vars(args)}

    # -------------------------------------------------------- operations

    def call(self, spark, fn, traced: bool):
        """One timed user call ``fn(spark, out_dir, tracer)``. Returns
        its wall time, or None if it raised (recorded as a failure)."""
        from spans import tree_cpu_s

        index = len(self.results)
        out_dir = self.run_dir.sub(f"out/op{index:03d}")
        tracer = self.tracer if traced else None
        if tracer:
            tracer.install()
            tracer.begin_op(index)
            spark.sparkContext.setJobGroup(f"perfbench-op{index}", f"operation {index}")
        result, problems = None, []
        cpu_start = tree_cpu_s()
        start = time.perf_counter()
        try:
            root = tracer.open("op") if tracer else None
            try:
                result = fn(spark, out_dir, tracer)
            finally:
                if tracer:
                    tracer.close(root)
            elapsed = time.perf_counter() - start
            self.cpu.append({k: v - cpu_start[k] for k, v in tree_cpu_s().items()})
        except Exception:
            self.cpu.append(None)
            elapsed = None
            problems.append("raised: " + traceback.format_exc(limit=4))
        finally:
            if tracer:
                tracer.uninstall()
                spark.sparkContext.setJobGroup("perfbench-idle", "between operations")
        self.results.append(result)
        self.problems.append(problems)
        return elapsed

    def check_all(self) -> None:
        """Check every operation's output (untimed, after the window)."""
        for i, result in enumerate(self.results):
            if result is None:
                continue
            try:
                self.problems[i].extend(self.workload.check(result))
            except Exception:
                self.problems[i].append("check raised: " + traceback.format_exc(limit=4))

    def last_good(self) -> int:
        for index in range(len(self.results) - 1, -1, -1):
            if self.results[index] is not None:
                return index
        raise RuntimeError("no operation succeeded")

    # --------------------------------------------------------------- run

    def run(self) -> dict:
        from spans import RssSampler

        args, traced = self.args, bool(self.tracer)
        start = time.perf_counter()
        self.workload.generate()
        self.record["generate_s"] = time.perf_counter() - start
        self.record["truth"] = {
            k: v for k, v in self.workload.truth.items() if k != "planted"
        }
        if traced:
            self.workload.instrument(self.tracer)

        spark, setups, layers = None, [], {}
        with RssSampler() as rss:
            try:
                for _ in range(SETUPS):
                    if spark is not None:
                        stop_spark(spark)
                    spark, seconds = launch_spark()
                    setups.append(seconds)
                rss.reset()
                cold = self.call(spark, self.workload.op, traced)
                for _ in range(WARMUP_OPS):
                    self.call(spark, self.workload.op, False)
                first_warm = len(self.results)
                steal_start = host_steal_s()
                # closed loop: start another operation only while it is
                # expected to end inside the window
                warm, flags, last = [], [], cold or 0.0
                window_start = time.perf_counter()
                while len(warm) < (4 if traced else 3) or (
                    time.perf_counter() - window_start + last <= args.seconds
                ):
                    # traced and untraced alternate U T T U, so a warm-up
                    # trend does not bias the tracing overhead
                    flag = traced and len(warm) % 4 in (1, 2)
                    warm.append(self.call(spark, self.workload.op, flag))
                    flags.append(flag)
                    last = warm[-1] or 0.0
                self.record["window_s"] = time.perf_counter() - window_start
                self.record["window_host_steal_s"] = host_steal_s() - steal_start
                rss.sample()
                peaks = rss.by_process()
                self.record["rss_by_process"] = peaks
                self.check_all()
                if traced and any(r is not None for r in self.results):
                    layers = self.collect_layers(spark, setups, cold, warm, flags, first_warm)
            finally:
                if spark is not None:
                    stop_spark(spark)
                wait_for_children()

        failed = sum(1 for p in self.problems if p)
        untraced = [i for i, f in enumerate(flags, first_warm) if not f and warm[i - first_warm]]
        op_p50 = statistics.median(warm[i - first_warm] for i in untraced) if untraced else 0.0
        # a warm call's CPU without the JIT compiler's: the compiler keeps
        # working for many calls, and what it does when varies with timing
        op_cpu = statistics.median(
            self.cpu[i]["driver"] + self.cpu[i]["jvm"] - self.cpu[i]["jit"] + self.cpu[i]["python"]
            for i in untraced
        ) if untraced else 0.0
        cold_cpu = self.cpu[0]
        e2e = {
            "setup_s": statistics.median(setups),
            "first_op_cpu_s": cold_cpu["driver"] + cold_cpu["jvm"] + cold_cpu["python"]
            if cold_cpu else 0.0,
            "op_cpu_s": op_cpu,
            "rows_per_cpu_s": self.workload.rows / op_cpu if op_cpu else 0.0,
            "py_peak_rss_mb": peaks["driver_mb"] + peaks["python_mb"],
        }
        # wall-clock times: recorded and printed, not declared (see README)
        self.record["wall"] = {
            "first_op_s": cold or 0.0,
            "op_p50_s": op_p50,
            "rows_per_s": self.workload.rows / op_p50 if op_p50 else 0.0,
        }
        self.record.update(
            setups_s=setups,
            first_op_s=cold,
            cpu_s=self.cpu,
            cpus=CPUS,
            warm_s=warm,
            warm_traced=flags,
            problems={i: p for i, p in enumerate(self.problems) if p},
            failed_frac=failed / len(self.results),
            end_to_end=e2e,
            per_layer=layers,
        )
        return {
            "correct": failed == 0,
            "attempted": len(self.results),
            "failed": failed,
            "metrics": layers if traced else e2e,
        }

    # ------------------------------------------------------------ traced

    def collect_layers(self, spark, setups, cold, warm, flags, first_warm) -> dict[str, float]:
        """Per-layer metrics of the traced run (all untimed)."""
        from metrics import PER_LAYER, SPANS
        from probes import run_probes
        from spans import SparkStats

        tracer, stats = self.tracer, SparkStats(spark)
        result = self.results[self.last_good()]
        warm_ops = [first_warm + i for i, f in enumerate(flags) if f]
        extra_ops = []
        for fn, traced in self.workload.extras(result):
            if traced:
                extra_ops.append(len(self.results))
            self.call(spark, fn, traced)
            self.problems[-1].extend(self.results[-1] or [])
        counts = self.workload.layer_counts(spark, tracer, result)
        stats.settle()

        per_op: dict[int, dict[str, float]] = {}
        span_values: dict[str, dict[int, list[float]]] = {}
        for op in [0] + warm_ops + extra_ops:
            jobs = stats.jobs(f"perfbench-op{op}")
            tracer.attribute_jobs(op, jobs)
            totals = stats.stage_totals(jobs)
            python = stats.python_seconds({j.job_id for j in jobs})
            wall = sum(s.seconds for s in tracer.spans if s.op == op and s.name == "op")
            per_op[op] = {
                "spark.jobs": len(jobs),
                "spark.stages": totals.stages,
                "spark.tasks": totals.tasks,
                "spark.executor_run_s": totals.run_s,
                "spark.executor_cpu_s": totals.cpu_s,
                "spark.input_bytes": totals.input_bytes,
                "spark.jvm_gc_s": totals.gc_s,
                "spark.python_boot_s": python["boot"],
                "spark.python_run_s": python["run"],
                "spark.shuffle_write_bytes": totals.shuffle_write_bytes,
                "spark.spill_bytes": totals.spill_bytes,
                "spark.core_busy_frac": totals.run_s
                / max(wall * spark.sparkContext.defaultParallelism, 1e-9),
            }
            for index, span in enumerate(tracer.spans):
                if span.op != op or span.name not in SPANS:
                    continue
                seconds = (
                    tracer.self_seconds(index) if span.name.endswith(".other") else span.seconds
                )
                cpu = stats.stage_totals([j for j in jobs if j.job_id in span.jobs]).cpu_s
                values = span_values.setdefault(span.name, {}).setdefault(op, [0.0, 0, 0.0])
                values[0] += seconds
                values[1] += len(span.jobs)
                values[2] += cpu

        layers = {
            name: statistics.median(per_op[op][name] for op in warm_ops) for name in per_op[0]
        }
        layers["spark.cold_python_boot_s"] = per_op[0]["spark.python_boot_s"]
        # a span is read from the warm operations that reach it, else
        # from the extra calls that do, else it is 0
        for name in SPANS:
            by_op = span_values.get(name, {})
            ops = [op for op in warm_ops if op in by_op] or [op for op in extra_ops if op in by_op]
            for k, suffix in enumerate(("_s", ".jobs", ".cpu_s")):
                layers[name + suffix] = (
                    statistics.median(by_op[op][k] for op in ops) if ops else 0.0
                )
        layers.update(run_probes(self.args.seed, self.run_dir.sub("tmp")))
        traced_s = [w for w, f in zip(warm, flags) if f and w is not None]
        untraced_s = [w for w, f in zip(warm, flags) if not f and w is not None]
        layers["trace.traced_op_p50_s"] = statistics.median(traced_s)
        layers["trace.untraced_op_p50_s"] = statistics.median(untraced_s)
        layers["trace.overhead_frac"] = (
            layers["trace.traced_op_p50_s"] / layers["trace.untraced_op_p50_s"] - 1.0
        )
        layers["session.get_spark_s"] = statistics.median(setups)
        layers["wall.first_op_s"] = cold
        # CPU per process kind and of the JIT compiler: the cold call, and
        # the median over the untraced warm calls
        untraced_ops = [first_warm + i for i, f in enumerate(flags) if not f and warm[i]]
        layers["jvm.cold_jit_cpu_s"] = (self.cpu[0] or {}).get("jit", 0.0)
        layers["jvm.jit_cpu_s"] = statistics.median(self.cpu[i]["jit"] for i in untraced_ops)
        for kind in ("driver", "jvm", "python"):
            layers[f"cpu.{kind}_s"] = statistics.median(self.cpu[i][kind] for i in untraced_ops)
        layers["jvm.peak_rss_mb"] = self.record["rss_by_process"]["jvm_mb"]
        for name in PER_LAYER:
            layers.setdefault(name, counts.get(name, 0.0))
        self.record["spans"] = [vars(s) for s in tracer.spans]
        self.record["spark_per_op"] = per_op
        return layers


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the smoke tests")
    return p.parse_args(argv)


def main(argv=None) -> int:
    # the engine, and the registry's oracle harness (for its result hash)
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "scripts")]
    try:
        import check_oracle  # noqa: F401
        import pyspark  # noqa: F401

        import tensorflow_recorder_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from metrics import END_TO_END, PER_LAYER

    args = parse_args(argv)

    run_dir = RunDir(args.workload, args.seed, args.trace)
    run_dir.configure_environment()
    redirect_engine_log(run_dir.engine_log)
    try:
        out = Runner(args, run_dir)
        result = out.run()
    finally:
        run_dir.remove()
    out.record["run_s"] = time.monotonic() - STARTED
    with open(run_dir.record, "w") as fh:
        json.dump(out.record, fh, indent=1, default=str)
    units = {n: u for n, (u, *_) in {**END_TO_END, **PER_LAYER}.items()}
    result["metrics"] = {
        name: {"value": float(value), "unit": units[name]}
        for name, value in result["metrics"].items()
    }
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']!r} {m['unit']}")
    if not args.trace:
        for name, value in out.record["wall"].items():
            print(f"wall.{name} {value!r} {'1/s' if name.startswith('rows') else 's'}")
    print(f"failed_frac {out.record['failed_frac']!r} ratio")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
