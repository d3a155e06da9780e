"""In-memory spans and layer counters for the traced run.

Spans sit at the benchmark's own call boundaries into each layer, plus
wrappers around the memo-artifact entry points and one span per Spark job.
Spark's own counters (planning phases, codegen, stage metrics) are read
through py4j. Every hook is optional: if its target is missing, that
layer's metrics become null with a warning on stderr and the run goes on.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from dataclasses import dataclass, field

MB = 1024 * 1024


def warn(msg: str) -> None:
    print(f"perfbench: warning: {msg}", file=sys.stderr, flush=True)


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None


@dataclass
class Op:
    op_id: int
    name: str
    group: str
    start: float = 0.0
    end: float = 0.0
    root: int | None = None
    plan_ms: dict = field(default_factory=dict)


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op so
    the untraced run executes the same benchmark code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.missing: set[str] = set()  # layers whose hooks found no target
        self._local = threading.local()
        self._lock = threading.Lock()
        self._current: Op | None = None
        self._undo: list = []
        self.on_op_end = None  # called before an operation closes (bus drain)
        self.codegen: list[tuple] = []  # (before, after) counters per traced pass

    # --- spans ------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        st = self._stack()
        op = self._current
        parent = st[-1] if st else (op.root if op else None)
        s = Span(layer, name, time.time(), parent=parent, op=op.op_id if op else None)
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        st.append(idx)
        try:
            yield
        finally:
            s.end = time.time()
            st.pop()

    @contextlib.contextmanager
    def operation(self, name: str, spark):
        """One benchmark operation: its own Spark job group and root span."""
        op = Op(len(self.ops), name, f"perfbench-op-{len(self.ops)}")
        self.ops.append(op)
        spark.sparkContext.setJobGroup(op.group, name)
        self._current = op
        op.start = time.time()
        try:
            with self.span("op", name):
                if self.enabled:
                    op.root = self._stack()[-1]
                yield op
        finally:
            op.end = time.time()
            if self.enabled and self.on_op_end is not None:
                self.on_op_end()
            self._current = None
            spark.sparkContext.setJobGroup("perfbench-idle", "between operations")

    def add_phases(self, df) -> None:
        """Add the planning phases ``df``'s own query execution has run
        (its eager analysis) to the current operation."""
        op = self._current
        if not self.enabled or op is None:
            return
        try:
            _add_phases(op, df._jdf.queryExecution())
        except Exception as exc:
            warn(f"planning phases unreadable: {exc}")
            self.missing.add("spark.plan")

    # --- memo-artifact hooks ----------------------------------------------

    def install_memo_hooks(self) -> None:
        """Wrap ``_memo.memo_build`` (fill or hit), ``materialize`` (publish)
        and ``read_artifact`` wherever the package holds a reference."""
        try:
            from polarify_spark.operators import _memo
        except ImportError as exc:
            warn(f"memo layer not traced: {exc}")
            self.missing.add("memo")
            return
        tracer = self

        def memo_build(orig):
            @functools.wraps(orig)
            def wrapped(registry_lock, memo, key, build, *a, **kw):
                def timed_build():
                    with tracer.span("memo", "fill"):
                        return build()

                with tracer.span("memo", "memo_build"):
                    return orig(registry_lock, memo, key, timed_build, *a, **kw)

            return wrapped

        def spanned(name):
            def wrap(orig):
                @functools.wraps(orig)
                def wrapped(*a, **kw):
                    with tracer.span("memo", name):
                        return orig(*a, **kw)

                return wrapped

            return wrap

        for attr, make in (
            ("memo_build", memo_build),
            ("materialize", spanned("publish")),
            ("read_artifact", spanned("read")),
        ):
            orig = getattr(_memo, attr, None)
            if orig is None:
                warn(f"memo layer: polarify_spark.operators._memo.{attr} is gone")
                self.missing.add("memo")
                continue
            new = make(orig)
            for mod in [m for n, m in list(sys.modules.items()) if n.startswith("polarify_spark")]:
                for name, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, name, new)
                        self._undo.append((mod, name, orig))

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._undo):
            setattr(mod, name, orig)
        self._undo.clear()


# --- Spark counters read through py4j -----------------------------------------


def _add_phases(op: Op, qe) -> None:
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        op.plan_ms[kv._1()] = op.plan_ms.get(kv._1(), 0) + kv._2().durationMs()


class PlanListener:
    """A py4j-implemented QueryExecutionListener: the planning-phase
    durations of every query an operation runs, from its
    ``QueryPlanningTracker``."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        op = self.tracer._current
        if op is None or not self.tracer.enabled:
            return
        try:
            _add_phases(op, qe)
        except Exception as exc:  # a listener must never fail the query
            warn(f"planning phases unreadable: {exc}")
            self.tracer.missing.add("spark.plan")

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkProbe:
    """Reads Spark's counters for the traced run. Any read that fails marks
    its layer missing instead of failing the run."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.jvm = spark._jvm
        self.listener = None
        try:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(spark.sparkContext._gateway)
            self.listener = PlanListener(tracer)
            spark._jsparkSession.listenerManager().register(self.listener)
        except Exception as exc:
            warn(f"planning phases not traced: {exc}")
            tracer.missing.add("spark.plan")
            self.listener = None

    def close(self) -> None:
        if self.listener is not None:
            with contextlib.suppress(Exception):
                self.spark._jsparkSession.listenerManager().unregister(self.listener)
            self.listener = None

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception as exc:
            warn(f"listener bus not drained: {exc}")

    def codegen(self) -> dict | None:
        """Cumulative codegen counters: compile count and time, and the
        sampled per-class source sizes and per-method bytecode sizes."""
        try:
            gen = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
            cm = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
            arrays = self.jvm.java.util.Arrays

            def values(hist):
                text = arrays.toString(hist.getSnapshot().getValues())
                return [int(v) for v in text.strip("[]").split(",") if v.strip()]

            comp = cm.METRIC_COMPILATION_TIME()
            src = cm.METRIC_SOURCE_CODE_SIZE()
            meth = cm.METRIC_GENERATED_METHOD_BYTECODE_SIZE()
            return {
                "compiles": comp.getCount(),
                "compile_ns": gen.compileTime(),
                "source_count": src.getCount(),
                "source": values(src),
                "method_count": meth.getCount(),
                "method": values(meth),
            }
        except Exception as exc:
            warn(f"codegen counters unreadable: {exc}")
            self.tracer.missing.add("spark.codegen")
            return None

    def jobs(self, ops: list[Op]) -> dict[int, list[dict]]:
        """Per operation: its Spark jobs with their stages' task metrics,
        from the status store. A job belongs to the operation whose job
        group it carries; a job from a thread that did not inherit the
        group (the memo layer's overlapped fills) to the operation running
        when it was submitted."""
        out: dict[int, list[dict]] = {}
        try:
            store = self.spark.sparkContext._jsc.sc().statusStore()
            empty = self.jvm.java.util.ArrayList()
            no_quantiles = self.spark.sparkContext._gateway.new_array(self.jvm.double, 0)
            by_group = {op.group: op for op in ops}
            for jd in _seq(store.jobsList(empty)):
                sub, comp = jd.submissionTime(), jd.completionTime()
                if sub.isEmpty() or comp.isEmpty():
                    continue
                start, end = sub.get().getTime() / 1e3, comp.get().getTime() / 1e3
                group = jd.jobGroup()
                op = by_group.get(group.get() if group.isDefined() else None) or next(
                    (o for o in ops if o.start <= start <= o.end), None
                )
                if op is None:
                    continue
                stages = []
                sids = jd.stageIds()
                for i in range(sids.size()):
                    for st in _seq(store.stageData(sids.apply(i), False, empty, False, no_quantiles)):
                        if st.status().toString() != "COMPLETE":
                            continue
                        stages.append(
                            {
                                "tasks": st.numCompleteTasks(),
                                "run_ms": st.executorRunTime(),
                                "cpu_ms": st.executorCpuTime() / 1e6,
                                "gc_ms": st.jvmGcTime(),
                                "input_mb": st.inputBytes() / MB,
                                "shuffle_read_mb": st.shuffleReadBytes() / MB,
                                "shuffle_write_mb": st.shuffleWriteBytes() / MB,
                                "spill_mb": st.diskBytesSpilled() / MB,
                            }
                        )
                out.setdefault(op.op_id, []).append({"start": start, "end": end, "stages": stages})
        except Exception as exc:
            warn(f"status store unreadable: {exc}")
            self.tracer.missing.update({"spark.sched", "spark.exec"})
            return {}
        return out


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


# --- summarizing spans into layer metrics -----------------------------------


def add_job_spans(tracer: Tracer, jobs: dict[int, list[dict]]) -> None:
    """One span per Spark job, clipped to its operation and parented on the
    latest-started span of that operation open at the job's submission."""
    for op in tracer.ops:
        if op.root is None:
            continue
        mine = [i for i, s in enumerate(tracer.spans) if s.op == op.op_id]
        for job in jobs.get(op.op_id, []):
            start = min(max(job["start"], op.start), op.end)
            end = min(max(job["end"], start), op.end)
            parent = max(
                (i for i in mine if tracer.spans[i].start <= start <= tracer.spans[i].end),
                key=lambda i: tracer.spans[i].start,
                default=op.root,
            )
            tracer.spans.append(Span("spark.sched", "job", start, end, parent, op.op_id))


def self_times(tracer: Tracer) -> dict[int, dict[str, float]]:
    """Per operation, the ms of its wall attributed to each layer. Every
    instant of the operation goes to the deepest span open at that instant
    (the latest-started on a tie, e.g. concurrent fills), so the layers'
    self times sum to the operation's wall exactly. The root span's share
    is the unaccounted residual, reported as layer "op"."""
    depth: list[int] = []
    for s in tracer.spans:
        depth.append(0 if s.parent is None else depth[s.parent] + 1)
    per_op: dict[int, dict[str, float]] = {}
    for op in tracer.ops:
        if op.root is None:
            continue
        root = tracer.spans[op.root]
        mine = [
            (depth[i], s.start, s)
            for i, s in enumerate(tracer.spans)
            if s.op == op.op_id and s.end > s.start
        ]
        cuts = sorted({t for _, s0, s in mine for t in (max(s0, root.start), min(s.end, root.end))})
        out: dict[str, float] = {}
        for a, b in zip(cuts, cuts[1:]):
            mid = (a + b) / 2
            _, _, top = max(
                ((d, s0, s) for d, s0, s in mine if s0 <= mid < s.end),
                key=lambda x: (x[0], x[1]),
            )
            out[top.layer] = out.get(top.layer, 0.0) + (b - a) * 1e3
        per_op[op.op_id] = out
    return per_op


# --- per-layer metrics ------------------------------------------------------------

# name -> unit, in the order BENCHMARK.json declares them
LAYER_UNITS = {
    "transpiler.calls": "count",
    "transpiler.busy_ms": "ms",
    "transpiler.self_ms": "ms",
    "spark.plan.analysis_ms": "ms",
    "spark.plan.optimization_ms": "ms",
    "spark.plan.planning_ms": "ms",
    "spark.codegen.compiles": "count",
    "spark.codegen.compile_ms": "ms",
    "spark.codegen.source_kb": "kB",
    "spark.codegen.max_method_bytes": "bytes",
    "spark.sched.jobs": "count",
    "spark.sched.stages": "count",
    "spark.sched.tasks": "count",
    "spark.sched.jobs_wall_ms": "ms",
    "spark.sched.outside_jobs_ms": "ms",
    "spark.sched.self_ms": "ms",
    "operators.build_ms": "ms",
    "operators.columns_ms": "ms",
    "operators.action_ms": "ms",
    "operators.self_ms": "ms",
    "memo.fills": "count",
    "memo.hits": "count",
    "memo.hit_ratio": "ratio",
    "memo.fill_ms": "ms",
    "memo.publish_ms": "ms",
    "memo.artifact_mb": "MB",
    "memo.self_ms": "ms",
    "pipeline.build_ms": "ms",
    "pipeline.write_ms": "ms",
    "pipeline.rows_out": "count",
    "pipeline.self_ms": "ms",
    "knn.index_build_ms": "ms",
    "knn.index_mb": "MB",
    "knn.search_ms": "ms",
    "knn.self_ms": "ms",
    "client.self_ms": "ms",
    "spark.exec.run_ms": "ms",
    "spark.exec.cpu_ms": "ms",
    "spark.exec.gc_ms": "ms",
    "spark.exec.input_mb": "MB",
    "spark.exec.shuffle_read_mb": "MB",
    "spark.exec.shuffle_write_mb": "MB",
    "spark.exec.spill_mb": "MB",
    "op.residual_ms": "ms",
    "trace.overhead_pct": "%",
}

# a layer whose hook or counter is missing nulls every metric it feeds
_LAYER_OF = {
    "memo": ("memo.",),
    "spark.plan": ("spark.plan.",),
    "spark.codegen": ("spark.codegen.",),
    "spark.sched": ("spark.sched.",),
    "spark.exec": ("spark.exec.",),
}

def _added(before: list[int], after: list[int]) -> list[int]:
    """The samples in ``after`` that ``before`` lacks (multiset difference)."""
    from collections import Counter

    return list((Counter(after) - Counter(before)).elements())


def _codegen(tracer: Tracer) -> dict:
    """Codegen deltas summed over the traced passes. Compile count and time
    are exact. Source sizes come from a Dropwizard reservoir that keeps
    every sample until it holds 1028, then a uniform sample: past that the
    pass's source total is its compile count times the mean sampled size,
    and the method maximum is the largest sampled one."""
    out = {"compiles": 0, "compile_ms": 0.0, "source_kb": 0.0, "max_method_bytes": 0}
    for before, after in tracer.codegen:
        if before is None or after is None:
            return {}
        out["compiles"] += after["compiles"] - before["compiles"]
        out["compile_ms"] += (after["compile_ns"] - before["compile_ns"]) / 1e6
        src = _added(before["source"], after["source"])
        n_src = after["source_count"] - before["source_count"]
        if src:
            out["source_kb"] += (sum(src) if len(src) == n_src else n_src * sum(src) / len(src)) / 1024
        out["max_method_bytes"] = max([out["max_method_bytes"], *_added(before["method"], after["method"])])
    return out


def layer_metrics(tracer: Tracer, jobs: dict, walls: dict, extras: dict) -> tuple[dict, list]:
    """Per-layer metrics, each a mean over the traced passes, and per
    traced operation its wall and the self time of each layer in it."""
    import statistics

    add_job_spans(tracer, jobs)
    traced = [op for op in tracer.ops if op.root is not None]
    n = max(len(walls[True]), 1)
    v: dict[str, float | None] = dict.fromkeys(LAYER_UNITS, 0.0)

    def spans(layer, name=None):
        return [
            s for s in tracer.spans
            if s.op is not None and s.layer == layer and (name is None or s.name == name)
        ]

    def ms(layer, name=None):
        return sum(s.end - s.start for s in spans(layer, name)) * 1e3 / n

    v["transpiler.calls"] = len(spans("transpiler")) / n
    v["transpiler.busy_ms"] = ms("transpiler")
    for phase in ("analysis", "optimization", "planning"):
        v[f"spark.plan.{phase}_ms"] = sum(op.plan_ms.get(phase, 0) for op in traced) / n
    cg = _codegen(tracer)
    if cg:
        v["spark.codegen.compiles"] = cg["compiles"] / n
        v["spark.codegen.compile_ms"] = cg["compile_ms"] / n
        v["spark.codegen.source_kb"] = cg["source_kb"] / n
        v["spark.codegen.max_method_bytes"] = cg["max_method_bytes"]
    else:
        tracer.missing.add("spark.codegen")

    stages = [st for op in traced for job in jobs.get(op.op_id, []) for st in job["stages"]]
    v["spark.sched.jobs"] = sum(len(jobs.get(op.op_id, [])) for op in traced) / n
    v["spark.sched.stages"] = len(stages) / n
    v["spark.sched.tasks"] = sum(st["tasks"] for st in stages) / n
    for key in ("run_ms", "cpu_ms", "gc_ms", "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        v[f"spark.exec.{key}"] = sum(st[key] for st in stages) / n

    v["operators.build_ms"] = ms("operators", "build")
    v["operators.columns_ms"] = ms("operators", "columns")
    v["operators.action_ms"] = ms("operators", "action")
    fills, calls = len(spans("memo", "fill")), len(spans("memo", "memo_build"))
    v["memo.fills"] = fills / n
    v["memo.hits"] = (calls - fills) / n
    v["memo.hit_ratio"] = (calls - fills) / calls if calls else 0.0
    v["memo.fill_ms"] = ms("memo", "fill")
    v["memo.publish_ms"] = ms("memo", "publish")
    v["pipeline.build_ms"] = ms("pipeline", "build")
    v["pipeline.write_ms"] = ms("pipeline", "write")
    v["knn.search_ms"] = ms("knn", "search")

    self_ms = self_times(tracer)
    op_wall = sum((tracer.spans[op.root].end - tracer.spans[op.root].start) * 1e3 for op in traced)
    jobs_wall = _jobs_union_ms(tracer)
    v["spark.sched.jobs_wall_ms"] = jobs_wall / n
    v["spark.sched.outside_jobs_ms"] = (op_wall - jobs_wall) / n
    for layer in ("transpiler", "spark.sched", "operators", "memo", "pipeline", "knn", "client"):
        v[f"{layer}.self_ms"] = sum(d.get(layer, 0.0) for d in self_ms.values()) / n
    v["op.residual_ms"] = sum(d.get("op", 0.0) for d in self_ms.values()) / n

    if walls[True] and walls[False]:
        v["trace.overhead_pct"] = (statistics.median(walls[True]) / statistics.median(walls[False]) - 1) * 100
    v.update(extras)

    for layer, prefixes in _LAYER_OF.items():
        if layer in tracer.missing:
            for k in v:
                if k.startswith(prefixes):
                    v[k] = None
    per_op = [
        {
            "op": op.name,
            "wall_ms": round((tracer.spans[op.root].end - tracer.spans[op.root].start) * 1e3, 3),
            "self_ms": {k: round(x, 3) for k, x in sorted(self_ms[op.op_id].items())},
        }
        for op in traced
    ]
    return {k: {"value": v[k], "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}, per_op


def dump(tracer: Tracer, path) -> None:
    """Write every recorded span as JSON lines."""
    import json

    with open(path, "w") as f:
        for i, s in enumerate(tracer.spans):
            f.write(json.dumps({"id": i, "layer": s.layer, "name": s.name, "start": s.start,
                                "end": s.end, "parent": s.parent, "op": s.op}) + "\n")


def _jobs_union_ms(tracer: Tracer) -> float:
    """Wall time covered by at least one Spark job, summed over operations."""
    total = 0.0
    for op in tracer.ops:
        iv = sorted((s.start, s.end) for s in tracer.spans if s.op == op.op_id and s.layer == "spark.sched")
        cur_s = cur_e = None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            total += cur_e - cur_s
    return total * 1e3
