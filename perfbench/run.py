"""Benchmark harness for wicsmmiretl_spark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload iterative_dedup --seed 1 --seconds 5 --trace 0

Workloads: etl_captions, iterative_dedup (see workloads.py).
A run makes its inputs from ``--seed`` under ``perfbench/.work/``, outside
any timed region. Set-up is ``get_spark`` in a fresh JVM plus one warm pass
that runs every operation once and checks its output (suite queries against
their DuckDB oracle, the pipeline against its filters and row counts); the
oracle's own time is left out. Timed passes follow until ``--seconds`` have
elapsed (at least two). Every pass must submit as many jobs in each suite
query's build phase as the warm pass did, and the etl_captions outputs of
the last pass are checked again. Progress goes to stderr; the last line of
stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

``attempted`` counts operation runs and output checks; ``failed`` those that
raised, returned wrong output or changed their build-phase job count.

``--trace 0`` reports the end-to-end metrics, from untraced passes:
``setup_s`` (wall time of get_spark + warm pass), ``pass_cpu_s`` (median CPU
seconds a pass costs this process and its descendants: the JVM, Spark's
Python daemon and its workers) and ``disk_write_amp`` (bytes a pass writes
to local disk: output files, shuffle files and spill, / input bytes). Pass
wall times (``pass_s``, ``op_p50_s``, ``input_rows_per_s``) are reported per
layer: on a shared virtual machine they follow the CPU that other guests
steal, which moved one seed's pass from 4.1 s to 7.8 s between runs.

``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics: spans timed from outside the package around calls into
its public functions, and counters read from Spark's status store per job
group. Per-layer values are medians over the traced passes; a layer a
workload never enters reads 0 (``catalog`` and ``suite`` on etl_captions,
``plans.pipeline`` and the ETL ladder on iterative_dedup). The package
itself is never modified.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MIN_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "disk_write_amp": "ratio",
}
# Status-store counters reported per traced pass, by per-layer name.
SPARK_COUNTERS = {
    "spark.exec_s": "exec_s",
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.empty_task_frac": "empty_task_frac",
    "spark.core_busy_frac": "core_busy_frac",
    "spark.executor_cpu_s": "cpu_s",
    "spark.gc_s": "gc_s",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.spill_bytes": "spill_bytes",
    "spark.serial_stage_s": "serial_stage_s",
    "spark.result_bytes": "result_bytes",
}


def per_layer_units() -> dict[str, str]:
    from workloads import DEDUP_QUERIES, LADDER

    counters = {name: ("s" if name.endswith("_s") else "ratio" if name.endswith("_frac")
                       else "bytes" if name.endswith("_bytes") else "count")
                for name in SPARK_COUNTERS}
    return {
        "pass_s": "s",
        "op_p50_s": "s",
        "input_rows_per_s": "rows/s",
        "session.get_spark_s": "s",
        "session.warm_s": "s",
        "session.peak_rss_mb": "MB",
        "catalog.load_table_calls": "count",
        "catalog.scan_partitions": "count",
        "suite.build_s": "s",
        "suite.build_jobs": "count",
        **{f"suite.build_jobs.{q}": "count" for q in DEDUP_QUERIES},
        "spark.plan_s": "s",
        "spark.run_s": "s",
        **counters,
        "plans.pipeline.extract_s": "s",
        "plans.pipeline.transform_s": "s",
        "plans.pipeline.load_s": "s",
        "plans.pipeline.checkpoint_bytes": "bytes",
        "plans.pipeline.rows_after_filter": "count",
        "plans.pipeline.fetch_failures": "count",
        "plans.pipeline.output_write_amp": "ratio",
        **dict.fromkeys(LADDER, "s"),
        "trace.overhead_s": "s",
        "failed_frac": "ratio",
    }


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Spans:
    """Runs the Spark jobs of each span in job group ``<prefix>.<span name>``."""

    traced = False

    def __init__(self, store, prefix: str):
        self.store, self.prefix = store, prefix

    def group(self, name: str):
        return self.store.group(f"{self.prefix}.{name}")

    def span(self, name: str):
        return self.group(name)


class Tracer(Spans):
    """Spans of one traced pass, timed, and counts, both summed by name."""

    traced = True

    def __init__(self, store, prefix: str = ""):
        super().__init__(store, prefix)
        self.values: dict[str, float] = {}

    def add(self, name: str, value: float) -> None:
        self.values[name] = self.values.get(name, 0.0) + value

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            with self.group(name):
                yield
        finally:
            self.add(f"{name}_s", time.perf_counter() - t0)


@contextmanager
def counting_catalog(tracer: Tracer):
    """Count ``load_table`` calls the suite makes, and the partitions they scan."""
    import wicsmmiretl_spark.suite as suite

    original = suite.load_table

    def load_table(spark, name, sf_dir=None):
        df = original(spark, name, sf_dir)
        plan = df._jdf.queryExecution().logical()
        tracer.add("catalog.load_table_calls", 1)
        # A repartitioned scan has that many partitions; the benchmark's
        # tables are single-file, single-row-group parquet, one split each.
        parts = plan.numPartitions() if plan.nodeName() == "Repartition" else 1
        tracer.add("catalog.scan_partitions", parts)
        return df

    suite.load_table = load_table
    try:
        yield
    finally:
        suite.load_table = original


def prepare_environment(work: Path) -> dict[str, str]:
    """Keep every file the run writes under ``work``; return session overrides."""
    for sub in ("local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # Python workers do not inherit the driver's sys.path; the pipeline's
    # mapInPandas closures import the package on the workers.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, str(ROOT))
    return {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants: the JVM, Spark's Python daemon and its workers.

    A process that ended was reaped by its parent inside the tree, which
    then carries its time in ``cutime``/``cstime``; so the total only grows.
    """
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 + vm_hwm_mb(jvm_pid)


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


@dataclass
class Pass:
    traced: bool
    seconds: float = 0.0
    cpu_s: float = 0.0
    latencies: list[float] = field(default_factory=list)
    written: int = 0
    counters: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)


class Run:
    """One benchmark run: set-up, warm pass, timed passes, checks."""

    def __init__(self, args, spark, store, wl, inputs):
        self.args, self.spark, self.store, self.wl, self.inputs = args, spark, store, wl, inputs
        self.cores = spark.sparkContext.defaultParallelism
        self.attempted = self.failed = 0
        self.passes: list[Pass] = []
        self.build_jobs: dict[str, int] = {}  # per query, from the warm pass

    def fail(self, what: str, problems) -> None:
        self.failed += 1
        log(f"FAILED {what}: {problems}"[:2000])

    def warm_pass(self) -> float:
        """Run and check every operation once; return the program's seconds."""
        spark_s = 0.0
        for op in self.wl.ops:
            self.attempted += 1
            try:
                seconds, problems = self.wl.warm_op(self.spark, op, Spans(self.store, f"warm.{op}"))
            except Exception:  # a crash is a failed operation, not a benchmark crash
                seconds, problems = 0.0, [traceback.format_exc()]
            spark_s += seconds
            if problems:
                self.fail(f"warm {op}", problems)
        self.build_jobs = self.count_build_jobs("warm", self.store.jobs("warm"))
        return spark_s

    def count_build_jobs(self, prefix: str, jobs: list[dict]) -> dict[str, int]:
        """Jobs each suite query submitted while being built."""
        counts = {op: 0 for op in self.wl.ops}
        for job in jobs:
            op, _, span = job["jobGroup"][len(prefix) + 1:].partition(".")
            if span == "suite.build" and op in counts:
                counts[op] += 1
        return {op: n for op, n in counts.items() if n}

    def timed_pass(self, traced: bool) -> Pass:
        i = len(self.passes)
        p, prefix, failed_ops = Pass(traced), f"p{i}", set()
        tracer = Tracer(self.store) if traced else None
        for op in self.wl.ops:
            self.attempted += 1
            t0, cpu0 = time.perf_counter(), tree_cpu_s()
            try:
                if tracer is None:
                    self.wl.run_op(self.spark, op, Spans(self.store, f"{prefix}.{op}"))
                else:
                    tracer.prefix = f"{prefix}.{op}"
                    with counting_catalog(tracer):
                        self.wl.run_op(self.spark, op, tracer)
            except Exception:  # count it and keep the loop running
                failed_ops.add(op)
                self.fail(f"pass {i} {op}", traceback.format_exc())
            seconds = time.perf_counter() - t0
            p.latencies.append(seconds)
            p.seconds += seconds
            p.cpu_s += tree_cpu_s() - cpu0
            p.written += self.wl.output_bytes()
        jobs = self.store.jobs(prefix)
        build_jobs = self.count_build_jobs(prefix, jobs)
        for op, expected in self.build_jobs.items():
            build = build_jobs.get(op, 0)
            if tracer is not None:
                tracer.add(f"suite.build_jobs.{op}", build)
            if build != expected and op not in failed_ops:
                self.fail(f"pass {i} {op}", f"{build} build jobs, warm pass ran {expected}")
        p.counters = self.store.counters(jobs, self.cores)
        if tracer is not None:
            if hasattr(self.wl, "ladder"):  # untimed, after the pass's operations
                ladder = Tracer(self.store, f"ladder{i}")
                self.wl.ladder(self.spark, ladder)
                tracer.values.update(ladder.values)
            p.layers = dict(tracer.values)
            p.layers["suite.build_jobs"] = sum(build_jobs.values())
            for name, key in SPARK_COUNTERS.items():
                p.layers[name] = p.counters[key]
        log(f"pass {i}{' traced' if traced else ''}: {p.seconds:.3f} s, "
            f"{int(p.counters['jobs'])} jobs, ops {[round(s, 2) for s in p.latencies]}")
        return p

    def measure(self) -> None:
        t_start = time.perf_counter()
        while len(self.passes) < MIN_PASSES or time.perf_counter() - t_start < self.args.seconds:
            traced = bool(self.args.trace) and len(self.passes) % 2 == 1
            self.passes.append(self.timed_pass(traced))
        self.attempted += 1
        try:
            problems = self.wl.check_last(self.spark)
        except Exception:
            problems = [traceback.format_exc()]
        if problems:
            self.fail("check of the last pass", problems)

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        untraced = [p for p in self.passes if not p.traced]
        log(f"untraced passes: {self.wall_times(untraced)}")
        written = statistics.median(
            p.written + p.counters["shuffle_write_bytes"] + p.counters["spill_bytes"] for p in untraced
        )
        return {
            "setup_s": setup_s,
            "pass_cpu_s": statistics.median(p.cpu_s for p in untraced),
            "disk_write_amp": written / self.inputs.bytes,
        }

    def wall_times(self, untraced: list[Pass]) -> dict[str, float]:
        pass_s = statistics.median(p.seconds for p in untraced)
        return {
            "pass_s": pass_s,
            "op_p50_s": statistics.median(s for p in untraced for s in p.latencies),
            "input_rows_per_s": self.inputs.rows / pass_s,
        }

    def per_layer(self, get_spark_s: float, warm_s: float) -> dict[str, float]:
        traced = [p for p in self.passes if p.traced]
        untraced = [p for p in self.passes if not p.traced]
        names = per_layer_units()
        values = {k: statistics.median(p.layers.get(k, 0.0) for p in traced) for k in names}
        values.update(self.wall_times(untraced))
        values["session.get_spark_s"] = get_spark_s
        values["session.warm_s"] = warm_s
        values["session.peak_rss_mb"] = peak_rss_mb(self.spark)
        values["trace.overhead_s"] = (
            statistics.median(p.seconds for p in traced) - statistics.median(p.seconds for p in untraced)
        )
        values["plans.pipeline.output_write_amp"] = (
            statistics.median(p.written for p in self.passes) / self.inputs.bytes
        )
        values["failed_frac"] = self.failed / self.attempted
        return values


def measure(args, work: Path) -> dict:
    import workloads
    from collector import StatusStore

    overrides = prepare_environment(work)
    from wicsmmiretl_spark.session import get_spark

    wl = workloads.make(args.workload, small=args.size == "small")
    inputs = wl.prepare(str(work / "inputs"), args.seed)
    log(f"{args.workload}: {inputs.rows} input rows, {inputs.bytes} bytes")

    t0 = time.perf_counter()
    spark = get_spark(**overrides)
    get_spark_s = time.perf_counter() - t0
    try:
        run = Run(args, spark, StatusStore(spark, tasks=bool(args.trace)), wl, inputs)
        warm_s = run.warm_pass()
        log(f"set-up: get_spark {get_spark_s:.3f} s, warm pass {warm_s:.3f} s")
        run.measure()
        if args.trace:
            values, units = run.per_layer(get_spark_s, warm_s), per_layer_units()
        else:
            values, units = run.end_to_end(get_spark_s + warm_s), END_TO_END
        wl.cleanup()
    finally:
        shutdown(spark)
    metrics = {k: {"value": values[k], "unit": unit} for k, unit in units.items()}
    return {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
            "metrics": metrics}


def parse_args(argv=None):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full",
                    help="input size; 'small' is the self-test size (selftest.py)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "wicsmmiretl_spark" / "__init__.py").is_file():
        log(f"no wicsmmiretl_spark package under {ROOT}; run from a checkout of the repository")
        return 2
    work = ROOT / "perfbench" / ".work" / f"{args.workload}-{os.getpid()}"
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
