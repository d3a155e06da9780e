"""The benchmark of record: one seeded workload per invocation.

    python3 perfbench/run.py --workload knn_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line is a
JSON object whose metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics. A ``report`` line before
it prints every end-to-end figure of the workload with its unit and sample
count. Workloads and metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TRACE_DIR = ROOT / ".perfbench_traces"  # spans of the last traced run per workload/seed
SETUP_REPS = 3
MIN_CORES = 2
MIN_HEAP_GB = 2


class HostTooSmall(Exception):
    pass


def size_host() -> dict:
    """local[k] and the JVM heap from this host: every usable core, and
    a quarter of physical memory capped at 8 GB. Refuses a host that cannot
    hold that heap plus the Python side."""
    cores = len(os.sched_getaffinity(0))
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":", 1)
            mem[key] = int(val.split()[0]) * 1024
    heap_gb = min(8, mem["MemTotal"] // 4 // 2**30)
    if cores < MIN_CORES:
        raise HostTooSmall(f"perfbench: needs at least {MIN_CORES} cores, host has {cores}")
    if heap_gb < MIN_HEAP_GB or mem["MemAvailable"] < (heap_gb + 1) * 2**30:
        raise HostTooSmall(
            f"perfbench: needs {MIN_HEAP_GB} GB of heap plus 1 GB free; host has "
            f"{mem['MemTotal'] / 2**30:.1f} GB total, {mem['MemAvailable'] / 2**30:.1f} GB available"
        )
    return {"cores": cores, "heap_gb": heap_gb}


def new_session(host: dict, work: Path):
    from pyspark.sql import SparkSession

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{host['cores']}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{host['heap_gb']}g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * host["cores"]))
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run reads every job and stage of the run back
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)


def cpu_steal_s() -> float:
    """CPU seconds stolen from this (virtual) host so far, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def proc_cpu_s(path) -> float:
    """User plus system CPU seconds so far of a process (all its threads,
    ``/proc/<pid>``) or of one thread (``/proc/<pid>/task/<tid>``)."""
    with open(f"{path}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class ProgramCpu:
    """CPU seconds spent so far by this process and the JVM, less the JVM's
    JIT compiler threads. How much compiling a pass meets depends on how
    far the JVM's own warm-up has got, which varies from run to run, so the
    clock leaves it out; garbage collection and every other thread count.
    A compiler thread that exits keeps the time last read from it."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self):
        self.jvm = None  # /proc path of the JVM, once it runs
        self.jit: dict[str, float] = {}  # compiler thread -> CPU seconds
        self.other: set[str] = set()  # threads known not to compile

    def __call__(self) -> float:
        total = proc_cpu_s("/proc/self")
        if self.jvm is None:
            return total
        total += proc_cpu_s(self.jvm)
        for task in os.scandir(f"{self.jvm}/task"):
            if task.name in self.other:
                continue
            try:
                with open(f"{task.path}/comm") as f:
                    if not f.read().startswith(self.JIT_THREADS):
                        self.other.add(task.name)
                        continue
                self.jit[task.name] = proc_cpu_s(task.path)
            except OSError:  # the thread has exited
                pass
        return total - sum(self.jit.values())


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the JVM's."""

    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm("self") + hwm(jvm_pid)) / 1024


def run(args, host: dict, work: Path) -> dict:
    import spans as tr
    import workloads

    import pyspark

    # One tracer serves both modes; when tracing is off its spans are no-ops.
    tracer = tr.Tracer(enabled=False)
    wl = workloads.WORKLOADS[args.workload](args.seed, work, tracer)

    t_run = time.perf_counter()
    spark = None
    cpu_s = wl.cpu_s = ProgramCpu()
    setup_s, setup_cpu = [], []
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        # the first set-up starts the JVM: all of its CPU time is set-up
        t, c = time.perf_counter(), cpu_s()
        spark = new_session(host, work)
        cpu_s.jvm = cpu_s.jvm or f"/proc/{spark._jvm.java.lang.ProcessHandle.current().pid()}"
        if args.trace and rep == SETUP_REPS - 1:
            tracer.enabled = True
            tracer.install_memo_hooks()
        wl.setup(spark)
        tracer.enabled = False
        setup_s.append(time.perf_counter() - t)
        setup_cpu.append(cpu_s() - c)

    t_setup = time.perf_counter()
    probe = tr.SparkProbe(spark, tracer) if args.trace else None
    walls = {False: [], True: []}  # pass walls untraced / traced
    cpu = {False: [], True: []}  # CPU seconds of the passes, likewise
    # Warm-up passes are run and checked but not timed. The traced run has
    # at least one, then alternates traced and untraced passes, so
    # trace.overhead_pct compares warm passes with each other.
    warmup = max(wl.warmup_passes, args.trace)
    steal = []  # CPU time the hypervisor gave to other guests, per pass
    deadline = None
    pass_no = 0
    while True:
        counted = pass_no >= warmup
        if counted and deadline is None:
            deadline = time.perf_counter() + args.seconds
        traced = bool(args.trace) and counted and (pass_no - warmup) % 2 == 0
        before = None
        if traced:
            probe.drain()  # nothing from earlier passes reaches this one
            tracer.on_op_end = probe.drain
            before = probe.codegen()
        tracer.enabled = traced
        n0, steal0 = len(wl.op_walls), cpu_steal_s()
        wl.run_pass(spark, pass_no)
        steal.append(round(cpu_steal_s() - steal0, 2))
        tracer.enabled = False
        if traced:
            tracer.codegen.append((before, probe.codegen()))
        if counted:
            walls[traced].append(sum(wl.op_walls[n0:]))
            cpu[traced].append(sum(wl.op_cpu[n0:]))
        else:
            wl.first_timed_op = len(wl.op_walls)
        pass_no += 1
        if counted and time.perf_counter() >= deadline and (not args.trace or (walls[True] and walls[False])):
            break
    t_passes = time.perf_counter()

    failed_checks = wl.check(spark)
    t_check = time.perf_counter()
    attempted = len(wl.op_walls)
    failed = min(attempted, wl.failed_ops + failed_checks)

    rss = peak_rss_mb(spark)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {"cores": host["cores"], "heap_gb": host["heap_gb"], "spark": pyspark.__version__},
        "setup_wall_s_reps": [round(s, 4) for s in setup_s],
        "setup_cpu_s_reps": [round(s, 3) for s in setup_cpu],
        "pass_walls_s": {
            "untraced": [round(w, 4) for w in walls[False]],
            "traced": [round(w, 4) for w in walls[True]],
        },
        "warmup_passes": warmup,
        "cpu_steal_s_per_pass": steal,
        # the JIT compilers' CPU over the whole run, left out of every CPU figure
        "jit_cpu_s": round(sum(cpu_s.jit.values()), 2),
        "pass_cpu_s": {
            "untraced": [round(c, 3) for c in cpu[False]],
            "traced": [round(c, 3) for c in cpu[True]],
        },
        # every operation in run order: [name, wall s, CPU s]
        "op_wall_cpu_s": [[n, round(w, 3), round(c, 2)] for n, w, c in zip(wl.op_names, wl.op_walls, wl.op_cpu)],
        "phase_s": {
            "setup": round(t_setup - t_run, 3),
            "passes": round(t_passes - t_setup, 3),
            "check": round(t_check - t_passes, 3),
        },
        **wl.details(),
    }
    if args.trace:
        jobs = probe.jobs([op for op in tracer.ops if op.root is not None])
        probe.close()
        tracer.uninstall()
        metrics, per_op = tr.layer_metrics(tracer, jobs, walls, wl.layer_extras())
        report["ops"] = per_op
        run_ms = metrics["spark.exec.run_ms"]["value"]
        if run_ms is not None:
            # summed task time over the traced pass wall (can exceed 1 on k cores)
            report["exec_share_of_pass"] = run_ms / 1e3 / statistics.median(walls[True])
        TRACE_DIR.mkdir(exist_ok=True)
        tr.dump(tracer, TRACE_DIR / f"{args.workload}-{args.seed}.jsonl")
    else:
        e2e = {
            "setup_s": (statistics.median(setup_s), "s", len(setup_s)),
            "setup_cpu_s": (statistics.median(setup_cpu), "s", len(setup_cpu)),
            # Passes are timed on the ProgramCpu clock: their walls also
            # measure the load of whoever shares the host
            # (cpu_steal_s_per_pass), and swing by a third with it.
            "pass_cpu_s": (statistics.median(cpu[False]), "s", len(cpu[False])),
            "pass_wall_s": (statistics.median(walls[False]), "s", len(walls[False])),
            "peak_rss_mb": (rss, "MB", 1),
            "failed_frac": (failed / attempted, "failed/attempted", attempted),
            **wl.e2e(),
        }
        # every end-to-end figure, with its unit and sample count
        report["metrics"] = {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in e2e.items()}
        metrics = declared(e2e)
    stop(spark)
    return {"report": report, "attempted": attempted, "failed": failed, "metrics": metrics}


# name -> unit, in the order BENCHMARK.json declares them
E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s"}


def declared(e2e: dict) -> dict:
    """The end-to-end metrics BENCHMARK.json declares, for the result line."""
    return {k: {"value": e2e[k][0], "unit": u} for k, u in E2E_UNITS.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))  # the package under test is the checkout's
    try:
        import polarify_spark
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 3
    if not Path(polarify_spark.__file__).resolve().is_relative_to(ROOT):
        print(
            f"perfbench: polarify_spark must come from {ROOT}, not {polarify_spark.__file__}",
            file=sys.stderr,
        )
        return 3
    if args.workload not in workloads.WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
            file=sys.stderr,
        )
        return 2
    try:
        host = size_host()
    except HostTooSmall as exc:
        print(exc, file=sys.stderr)
        return 4

    work = ROOT / ".perfbench_work" / str(os.getpid())
    work.mkdir(parents=True)
    # library temp dirs (stream sinks, index scratch) land in the checkout too
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    (work / "tmp").mkdir()
    import tempfile

    tempfile.tempdir = None
    try:
        out = run(args, host, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            (ROOT / ".perfbench_work").rmdir()
    print("report " + json.dumps(out["report"], sort_keys=True), flush=True)
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": out["metrics"],
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
