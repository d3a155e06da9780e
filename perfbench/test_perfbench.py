"""Tests of the benchmark's own code (no SparkSession needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import importlib.util
import json
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


@pytest.mark.parametrize(
    "write",
    [
        lambda p, s: gen.write_lineitem(p, s, rows=5_000),
        lambda p, s: gen.write_documents(p, s, 1),
        lambda p, s: gen.write_embeddings(p, s, 500),
    ],
    ids=["lineitem", "documents", "embeddings"],
)
def test_same_seed_writes_identical_bytes(tmp_path, write):
    a, b, c = tmp_path / "a.parquet", tmp_path / "b.parquet", tmp_path / "c.parquet"
    write(a, 7)
    write(b, 7)
    write(c, 8)
    assert a.read_bytes() == b.read_bytes()
    assert a.read_bytes() != c.read_bytes()


def test_same_seed_draws_identical_programs_and_queries():
    assert gen.program_module(7, 3) == gen.program_module(7, 3)
    assert gen.program_module(7, 3) != gen.program_module(7, 4)
    a, b = gen.query_batches(7, (1, 64)), gen.query_batches(7, (1, 64))
    assert [len(x) for x in a] == [1, 64]
    assert all((x == y).all() for x, y in zip(a, b))


def _gen_source_kb(tmp_path: Path, tag: str, seed: int, pass_no: int) -> list[float]:
    from polarify_spark import sparkify

    src, specs = gen.program_module(seed, pass_no)
    path = tmp_path / f"progs_{tag}.py"
    path.write_text(src)
    spec = importlib.util.spec_from_file_location(f"perfbench_test_{tag}", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return [len(sparkify(getattr(mod, name)).__wrapped_source__) / 1024 for name, _, _ in specs]


def test_gen_source_kb_repeats_exactly_and_spans_the_size_mix(tmp_path):
    first = _gen_source_kb(tmp_path, "a", 11, 0)
    assert first == _gen_source_kb(tmp_path, "b", 11, 0)
    for pass_no in range(3):
        sizes = _gen_source_kb(tmp_path, f"p{pass_no}", 11, pass_no)
        assert min(sizes) < 1 and max(sizes) > 30


def test_printed_metric_names_equal_the_declared_ones():
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert e2e == run.E2E_UNITS
    values = {k: (1.0, u, 1) for k, u in run.E2E_UNITS.items()} | {"failed_frac": (0.0, "", 1)}
    assert run.declared(values) == {k: {"value": 1.0, "unit": u} for k, u in e2e.items()}

    layers = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert layers == spans.LAYER_UNITS
    metrics, _ = spans.layer_metrics(_toy_tracer(), {}, {True: [1.0], False: [1.0]}, {})
    assert list(metrics) == list(layers)
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(workloads.WORKLOADS)


def _toy_tracer() -> spans.Tracer:
    """One operation with overlapping children: two concurrent fills under
    a build, and a job that outlives the build."""
    tr = spans.Tracer(enabled=True)
    t0 = 1000.0
    tr.ops.append(spans.Op(0, "op", "g", start=t0, end=t0 + 10))
    tr.spans.append(spans.Span("op", "op", t0, t0 + 10, None, 0))
    tr.ops[0].root = 0
    tr.spans.append(spans.Span("pipeline", "build", t0 + 1, t0 + 6, 0, 0))
    tr.spans.append(spans.Span("memo", "fill", t0 + 2, t0 + 5, 1, 0))
    tr.spans.append(spans.Span("memo", "fill", t0 + 3, t0 + 7, 1, 0))
    tr.spans.append(spans.Span("spark.sched", "job", t0 + 4, t0 + 9, 3, 0))
    return tr


def test_layer_self_times_sum_to_the_operation_wall():
    tr = _toy_tracer()
    per_op = spans.self_times(tr)[0]
    assert sum(per_op.values()) == pytest.approx(10_000)
    assert per_op["op"] == pytest.approx(2_000)  # 0-1 and 9-10: the residual


def test_missing_hook_target_nulls_its_layer(monkeypatch, capsys):
    from polarify_spark.operators import _memo

    monkeypatch.delattr(_memo, "read_artifact")
    tr = spans.Tracer(enabled=True)
    tr.install_memo_hooks()
    try:
        assert "memo" in tr.missing
        assert "read_artifact" in capsys.readouterr().err
        metrics, _ = spans.layer_metrics(tr, {}, {True: [1.0], False: [1.0]}, {})
        assert metrics["memo.fills"]["value"] is None
        assert metrics["transpiler.calls"]["value"] == 0
    finally:
        tr.uninstall()


def test_memo_hooks_count_fills_and_hits_and_uninstall():
    from polarify_spark.operators import _memo

    orig = _memo.memo_build
    tr = spans.Tracer(enabled=True)
    tr.install_memo_hooks()
    try:
        tr.ops.append(spans.Op(0, "op", "g"))
        tr._current = tr.ops[0]
        with tr.span("op", "op"):
            tr.ops[0].root = 0
            import threading

            memo, lock = {}, threading.Lock()
            for _ in range(3):
                assert _memo.memo_build(lock, memo, "k", lambda: (time.sleep(0.001), 42)[1]) == 42
        names = [s.name for s in tr.spans if s.layer == "memo"]
        assert names.count("fill") == 1 and names.count("memo_build") == 3
    finally:
        tr.uninstall()
    assert _memo.memo_build is orig


def test_percentile_needs_ten_samples_beyond_it():
    from checks import percentile

    assert percentile(list(range(19)), 50) is None
    assert percentile(list(range(20)), 50) == pytest.approx(9.5)
    assert percentile(list(range(99)), 90) is None


def test_host_sizing_reports_cores_and_heap():
    host = run.size_host()
    assert host["cores"] >= run.MIN_CORES and host["heap_gb"] >= run.MIN_HEAP_GB
