#!/usr/bin/env python3
"""Benchmark of the validation and discovery engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

run from the root of a checkout. One client drives a closed loop on
``local[nproc/2]``: the next operation starts only after the previous one and
its correctness check have finished. Workloads (perfbench/workloads.py):

* ``validate_full``  -- profile + constraints + checks over a clean table
* ``validate_batch`` -- checkpoint resume + batch unit + drift + writes
* ``discover_json``  -- NDJSON schema discovery and validation

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` operations alternate
between untraced and traced, the metrics are the per-layer ones (medians over
the traced operations), and the spans are written to
``.bench_runs/traces/``. The line before it is a report with the set-up
breakdown, the failure ratio, every operation's time, the tail (when a run
has enough samples for one), the CPU seconds per operation with the machine
speed they were measured at (perfbench/speed.py), and the machine's load and
a single-thread CPU-burn time before and after the measurement, so
contention from outside shows in every run.

Everything the run writes stays under ``.bench_runs/`` in the checkout; the
per-run work directory (inputs, checkpoints, Spark scratch) is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.speed import SpeedProbe  # noqa: E402
from perfbench.tracing import NullTracer, Tracer  # noqa: E402

RUNS_DIR = os.path.join(ROOT, ".bench_runs")
NPROC = len(os.sched_getaffinity(0))
# task slots of local mode: a task that runs a Python UDF keeps its JVM
# thread and its Python worker busy at once, so local[nproc] runs twice as
# many busy threads as there are cores; half leaves a core to each worker
SLOTS = max(1, NPROC // 2)
# heap of the one local-mode JVM (driver and executor): leaves the rest of a
# 16 GiB machine to nproc Python workers and the page cache
DRIVER_MEM = "2g"
# stated input size per operation: files for validate_* (the batch for
# validate_batch, whose baseline is twice as large), documents for
# discover_json; "tiny" is for the smoke test only
ROWS = {
    "validate_full": {"bench": 20_000, "tiny": 2_000},
    "validate_batch": {"bench": 2_000, "tiny": 500},
    "discover_json": {"bench": 20_000, "tiny": 2_000},
}
# CPU seconds of speed.py's unit of work at the speed op_cpu_s.p50 is scaled
# to: about what it takes on a 4-core shared VM while a benchmark runs
NOMINAL_UNIT_S = 0.002
# untimed operations after materialisation, counted in setup_s: the JVM
# compiles most of the engine's hot code during these
WARMUP_OPS = {"validate_full": 2, "validate_batch": 2, "discover_json": 4}

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_cpu_s.p50": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "B",
    "profile.profile_s": "s",
    "profile.jobs": "count",
    "profile.tasks": "count",
    "constraints.compile_s": "s",
    "constraints.validate_s": "s",
    "constraints.verdicts_s": "s",
    "constraints.uniqueness_s": "s",
    "constraints.referential_s": "s",
    "constraints.violation_rows": "count",
    "constraints.recall": "ratio",
    "constraints.false_flags": "count",
    "checkpoint.resume_s": "s",
    "checkpoint.unit_write_s": "s",
    "checkpoint.state_bytes": "B",
    "drift.drift_s": "s",
    "sink.bytes_written": "B",
    "discovery.discover_s": "s",
    "discovery.emit_s": "s",
    "discovery.validate_json_s": "s",
    "discovery.docs": "count",
    "discovery.malformed": "count",
    "discovery.anomalies": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "jvm.gc_s": "s",
    "jvm.alloc_mb": "MB",
    "jvm.jit_s": "s",
    "self.op_s": "s",
    "self.sources_s": "s",
    "self.profile_s": "s",
    "self.constraints_s": "s",
    "self.checkpoint_s": "s",
    "self.drift_s": "s",
    "self.discovery_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ROWS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    ap.add_argument("--break-check", action="store_true", help="expect one result the engine does not produce")
    return ap.parse_args(argv)


# -- the machine -------------------------------------------------------------


def _burn_s() -> float:
    """Best of three timings of a fixed single-thread loop: the CPU floor."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0.0
        for i in range(300_000):
            x += math.sqrt(i)
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def contention() -> dict:
    return {"loadavg": [round(v, 2) for v in os.getloadavg()], "burn_s": round(_burn_s(), 5)}


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time a hypervisor gave to other guests over an interval."""
    delta = [b - a for a, b in zip(before, after)]
    return round(delta[7] / max(1, sum(delta)), 4)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int, skip: frozenset[int] = frozenset()) -> list[int]:
    """Every process ``pid`` started, directly or not, but those in ``skip``
    and theirs."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in skip:
                out.append(c)
                todo.append(c)
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(skip: frozenset[int] = frozenset()) -> float:
    """CPU seconds (user + system) used so far by this process and every
    process it started but those in ``skip``, the JVM and its Python workers
    included; the ``c*`` fields hold the time of children already reaped."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid(), skip)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        total += sum(int(v) for v in stat[stat.rindex(")") + 2 :].split()[11:15])
    return total / CLK_TCK


def jit_cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads. A young
    JVM compiles for minutes, in bursts that land in whichever operation
    runs at the time; a long-running job pays it once. The compiler threads
    are fixed (-XX:-UseDynamicNumberOfCompilerThreads), so none exits with
    its time."""
    if jvm_pid is None:
        return 0.0
    total = 0
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") : stat.rindex(")")]:
            total += sum(int(v) for v in stat[stat.rindex(")") + 2 :].split()[11:13])
    return total / CLK_TCK


def _pss_kb(pid: int) -> int:
    """Proportional resident size: pages shared by the Python workers forked
    from one daemon count once across them, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident memory (PSS) of this process -- the
    PySpark driver, where checkpoint states are merged -- and every process
    it started but those in ``skip`` -- the Spark JVM and its Python
    workers -- sampled from /proc; and the most processes seen at once."""

    def __init__(self, skip: frozenset[int], period: float = 0.2) -> None:
        self.skip, self.period, self.peak_kb, self.peak_procs = skip, period, 0, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            procs = [me, *descendants(me, self.skip)]
            self.peak_procs = max(self.peak_procs, len(procs))
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in procs))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- the session -------------------------------------------------------------


def pin_environment(work: str) -> None:
    """Everything the engine and Spark read from the environment, fixed by
    the benchmark: parallelism, heap, scratch and temp directories."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(SLOTS),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # the launcher JVM that spark-submit runs first: no /tmp/hsperfdata
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
    )


def start_session(work: str):
    from jsonoid_discovery_spark import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        f"local[{SLOTS}]",
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a fixed, pre-touched heap, so peak_rss_mb does not swing with
            # how far G1 had grown the heap when the sampler looked; the
            # heap an operation allocates is jvm.alloc_mb of a traced run,
            # and the work of collecting it jvm.gc_s
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    """Process id of the Spark JVM (spark-submit execs into it)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait until every child has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


# -- measurement -------------------------------------------------------------


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, with the
    sample count; no value when a run has fewer than eleven samples."""
    s = sorted(samples)
    n = len(s)
    if n < 21:  # below that, such a percentile lies under the median
        return {"value": None, "unit": "s", "percentile": None, "samples": n}
    return {"value": s[n - 11], "unit": "s", "percentile": round(100.0 * (n - 10) / n, 1), "samples": n}


@dataclass
class OpResult:
    wall_s: float
    cpu_s: float  # driver, JVM and Python workers, JIT compiler excluded
    jit_s: float
    start: float  # time.monotonic() at the start and the end
    end: float
    bad: list[str]
    out: dict


def run_op(wl, tracer, i: int, jvm: int | None, skip: frozenset[int] = frozenset()) -> OpResult:
    """One timed operation, then its check outside the timed region; the
    processes in ``skip`` are not the program's, and their CPU time is left
    out. An exception counts as a failed operation."""
    jit0, cpu0, m0, t0 = jit_cpu_s(jvm), tree_cpu_s(skip), time.monotonic(), time.perf_counter()

    def took() -> tuple[float, float, float, float, float]:
        dt, m1 = time.perf_counter() - t0, time.monotonic()
        cpu, jit = tree_cpu_s(skip) - cpu0, jit_cpu_s(jvm) - jit0
        return dt, cpu - jit, jit, m0, m1

    try:
        if tracer.traced:
            with tracer.op(i):
                out = wl.op(tracer, i)
        else:
            out = wl.op(tracer, i)
        res = OpResult(*took(), [], out)
        res.bad = wl.check(out)
    except Exception as e:  # the loop must go on: record and count it
        traceback.print_exc(file=sys.stderr)
        res = OpResult(*took(), [f"{type(e).__name__}: {e}"], {})
    finally:
        wl.cleanup_op(i)
    return res


@dataclass
class Loop:
    times: dict[bool, list[float]] = field(default_factory=lambda: {False: [], True: []})
    cpu: list[float] = field(default_factory=list)
    jit: list[float] = field(default_factory=list)
    unit: list[float] = field(default_factory=list)  # speed.py's unit, per operation
    failures: list[str] = field(default_factory=list)
    layer_samples: list[dict[str, float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    ok_seconds: float = 0.0
    peak_rss_kb: int = 0
    peak_procs: int = 0


def closed_loop(wl, tracer, seconds: float, jvm: int | None, speed: SpeedProbe) -> Loop:
    """Operations back to back for ``seconds``; with a tracer, every other
    one (the first included) is traced, and at least one of each kind runs.
    ``speed``'s process is kept out of the CPU and memory figures."""
    null = NullTracer()
    lp = Loop()
    skip = frozenset({speed.proc.pid})
    t_start = time.perf_counter()
    with RssSampler(skip) as rss:
        while lp.attempted < 1 + tracer.traced or time.perf_counter() - t_start < seconds:
            traced = tracer.traced and lp.attempted % 2 == 0
            r = run_op(wl, tracer if traced else null, lp.attempted, jvm, skip)
            lp.times[traced].append(r.wall_s)
            lp.cpu.append(r.cpu_s)
            lp.jit.append(r.jit_s)
            lp.unit.append(speed.unit_s(r.start, r.end))
            if r.bad:
                lp.failed += 1
                lp.failures.extend(r.bad)
            else:
                lp.ok_seconds += r.wall_s
            if traced:
                lp.layer_samples.append(
                    {**tracer.op_summary(lp.attempted), **wl.layer_counts(r.out), "jvm.jit_s": r.jit_s}
                    if r.out
                    else {}
                )
            lp.attempted += 1
    lp.peak_rss_kb, lp.peak_procs = rss.peak_kb, rss.peak_procs
    return lp


def end_to_end(lp: Loop, rows: int, setup_s: float) -> tuple[dict[str, float], dict]:
    times = lp.times[False] + lp.times[True]
    metrics = {
        "setup_s": setup_s,
        # CPU seconds of the driver, the JVM and the Python workers per
        # operation, the JIT compiler's excluded, scaled to the nominal
        # machine speed: the work done, where op_s is the time it took
        "op_cpu_s.p50": statistics.median([c * NOMINAL_UNIT_S / u for c, u in zip(lp.cpu, lp.unit)]),
        "peak_rss_mb": lp.peak_rss_kb / 1024.0,
    }
    # wall times: reported, not bounded, as CPU time other guests take from
    # the machine moves them further between runs than any bound allows
    return metrics, {
        "op_s.p50": {"value": statistics.median(times), "unit": "s"},
        # throughput of the one client; with a fixed input size it carries
        # what op_s does, through a mean that one slow operation moves
        "rows_per_s": {
            "value": rows * (lp.attempted - lp.failed) / lp.ok_seconds if lp.ok_seconds else 0.0,
            "unit": "1/s",
        },
        "op_s.tail": tail(times),
        "op_s": [round(t, 3) for t in times],
        # as measured, before scaling, and the speed unit's CPU time during
        # each operation
        "op_cpu_s": [round(c, 2) for c in lp.cpu],
        "op_jit_s": [round(j, 2) for j in lp.jit],
        "op_unit_ms": [round(u * 1000, 3) for u in lp.unit],
    }


def per_layer(lp: Loop, wl, session_s: float) -> dict[str, float]:
    metrics = {k: statistics.median([s.get(k, 0.0) for s in lp.layer_samples]) for k in PER_LAYER_UNITS}
    metrics["session.start_s"] = session_s
    metrics["sources.input_bytes"] = wl.input_bytes
    metrics["trace.overhead_s"] = statistics.median(lp.times[True]) - statistics.median(lp.times[False])
    return metrics


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a timeout's SIGTERM still stops Spark and removes the work directory
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isdir(os.path.join(ROOT, "jsonoid_discovery_spark")):
        print(f"engine package jsonoid_discovery_spark not found under {ROOT}", file=sys.stderr)
        return 2
    # the report and the result are the only lines on the real standard
    # output: the JVM and the Python workers inherit stderr as theirs, so
    # nothing they print, at shutdown included, can follow the result
    sys.stdout.flush()
    out = os.fdopen(os.dup(sys.stdout.fileno()), "w")
    os.dup2(sys.stderr.fileno(), sys.stdout.fileno())
    rows = ROWS[args.workload][args.size]
    work = os.path.join(RUNS_DIR, "work", f"{args.workload}-seed{args.seed}-rows{rows}-pid{os.getpid()}")
    pin_environment(work)
    from perfbench.workloads import WORKLOADS

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        jvm = jvm_pid()
        wl = WORKLOADS[args.workload](spark, args.seed, rows, SLOTS, broken=args.break_check)
        t0 = time.perf_counter()
        wl.materialise(os.path.join(work, "input"))
        wl.use(os.path.join(work, "input"))
        materialise_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        # JIT, codegen and Python workers warm up
        warmup = [run_op(wl, NullTracer(), -1 - i, jvm) for i in range(WARMUP_OPS[args.workload])]
        warmup_s = time.perf_counter() - t0

        tracer = Tracer(spark) if args.trace else NullTracer()
        before, cpu0 = contention(), cpu_times()
        speed = SpeedProbe()
        try:
            lp = closed_loop(wl, tracer, args.seconds, jvm, speed)
        finally:
            speed.close()
        cpu1, after = cpu_times(), contention()

        report = {
            "workload": args.workload,
            "seed": args.seed,
            "rows": rows,
            "master": f"local[{SLOTS}]",
            "nproc": NPROC,
            "driver_mem": DRIVER_MEM,
            "session_start_s": round(session_s, 3),
            "materialise_s": round(materialise_s, 3),
            "warmup_s": round(warmup_s, 3),
            "warmup_op_s": [round(r.wall_s, 3) for r in warmup],
            "ops": lp.attempted,
            "peak_procs": lp.peak_procs,
            "failed_ops_ratio": {"value": lp.failed / lp.attempted, "unit": "ratio"},
            "failures": lp.failures[:5],
            "contention": {"before": before, "after": after, "steal_share": steal_share(cpu0, cpu1)},
        }
        if args.trace:
            metrics, units = per_layer(lp, wl, session_s), PER_LAYER_UNITS
            report["trace_file"] = os.path.relpath(write_trace(tracer, args, metrics), ROOT)
        else:
            metrics, extra = end_to_end(lp, rows, session_s + materialise_s + warmup_s)
            units = END_TO_END_UNITS
            report.update(extra)
        print(json.dumps({"report": report}), file=out, flush=True)
        result = {
            "correct": lp.failed == 0,
            "attempted": lp.attempted,
            "failed": lp.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result), file=out, flush=True)
        return 0
    finally:
        try:
            stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def write_trace(tracer, args, metrics: dict) -> str:
    """Spans of the run, per-layer medians and self times, as one JSON file."""
    out_dir = os.path.join(RUNS_DIR, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"metrics": metrics, "spans": [s.as_dict() for s in tracer.spans]}, f)
    return path


if __name__ == "__main__":
    sys.exit(main())
