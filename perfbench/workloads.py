"""The benchmark's workloads: set-up, one timed pass, and the output check.

Each workload keeps what its check needs while the passes run and checks
it once, after timing stops.
"""

from __future__ import annotations

import importlib.util
import shutil
import sys
import time
from pathlib import Path

import numpy as np

import checks
import gen


class Workload:
    name = ""
    warmup_passes = 0  # untimed passes before the timed ones

    def __init__(self, seed: int, work: Path, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.op_names: list[str] = []
        self.op_walls: list[float] = []
        self.op_cpu: list[float] = []
        self.cpu_s = lambda: 0.0  # the CPU clock; the runner sets it
        self.first_timed_op = 0  # operations before it ran in warm-up passes
        self.failed_ops = 0

    def op(self, spark, name: str, body) -> None:
        """Run one timed operation; an exception counts as a failure."""
        t, c = time.perf_counter(), self.cpu_s()
        try:
            with self.tracer.operation(name, spark):
                body()
        except Exception as exc:  # an operation failure is a result, not a crash
            print(f"perfbench: operation {name} failed: {exc!r}", file=sys.stderr)
            self.failed_ops += 1
        self.op_names.append(name)
        self.op_walls.append(time.perf_counter() - t)
        self.op_cpu.append(self.cpu_s() - c)

    def setup(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, pass_no: int) -> None:
        raise NotImplementedError

    def check(self, spark) -> int:
        """Compare kept outputs with independent references; returns the
        number of operations whose output is wrong."""
        raise NotImplementedError

    def e2e(self) -> dict:
        """Workload-specific end-to-end figures: name -> (value, unit, samples)."""
        return {}

    def details(self) -> dict:
        """Descriptive facts for the report line."""
        return {}

    def layer_extras(self) -> dict:
        """Per-layer metrics measured outside operations."""
        return {}

    def op_percentiles(self) -> dict:
        timed = self.op_walls[self.first_timed_op:]
        return {
            "op_p50_s": (checks.percentile(timed, 50), "s", len(timed)),
            "op_p90_s": (checks.percentile(timed, 90), "s", len(timed)),
        }


class SparkifyPrograms(Workload):
    """Fresh row-wise programs each pass: transpile, analyse, codegen, run."""

    name = "sparkify_programs"
    # every pass compiles fresh programs; the warm-up passes only take the
    # JVM's own JIT warm-up out of the timed passes
    warmup_passes = 2

    def setup(self, spark) -> None:
        inputs = self.work / "inputs"
        inputs.mkdir(parents=True, exist_ok=True)
        self.lineitem_path = inputs / "lineitem.parquet"
        gen.write_lineitem(self.lineitem_path, self.seed)
        self.lineitem = spark.read.parquet(str(self.lineitem_path))
        self.transpile_ms: list[float] = []
        self.source_kb: dict[int, float] = {}
        self.sizes_kb: dict[int, list[float]] = {}
        self.checked: list = []  # (name, original function, output frame) of pass 0

    def _load(self, pass_no: int):
        src, specs = gen.program_module(self.seed, pass_no)
        path = self.work / "programs" / f"bench_programs_{pass_no}.py"
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(src)
        mod_name = f"bench_programs_{pass_no}"
        spec = importlib.util.spec_from_file_location(mod_name, path)
        mod = importlib.util.module_from_spec(spec)
        sys.modules[mod_name] = mod  # inspect.getsource resolves through it
        spec.loader.exec_module(mod)
        return mod, specs

    def run_pass(self, spark, pass_no: int) -> None:
        from pyspark.sql import functions as F

        from polarify_spark import sparkify

        mod, specs = self._load(pass_no)
        cols = [F.col(c) for c in gen.PROGRAM_COLUMNS]
        sizes = self.sizes_kb.setdefault(pass_no, [])
        tr = self.tracer

        for name, kind, pairs in specs:
            fn = getattr(mod, name)

            def body(fn=fn):
                t = time.perf_counter()
                with tr.span("transpiler", "sparkify"):
                    wrapped = sparkify(fn)
                self.transpile_ms.append((time.perf_counter() - t) * 1e3)
                sizes.append(len(wrapped.__wrapped_source__) / 1024)
                with tr.span("operators", "build"):
                    with tr.span("operators", "columns"):
                        column = wrapped(*cols)  # one py4j call per Column operation
                    out = self.lineitem.select("l_rowid", column.alias("r"))
                with tr.span("operators", "action"):
                    out.write.format("noop").mode("overwrite").save()
                # select() analysed eagerly, outside the write's own query
                tr.add_phases(out)
                if pass_no == 0:
                    self.checked.append((name, fn, out))

            self.op(spark, f"{kind}{pairs or ''}", body)
        self.source_kb[pass_no] = sum(sizes)

    def check(self, spark) -> int:
        return checks.check_programs(self.lineitem_path, self.checked, self.seed)

    def e2e(self) -> dict:
        return {
            **self.op_percentiles(),
            "transpile_ms_p50": (
                checks.percentile(self.transpile_ms[self.first_timed_op:], 50),
                "ms",
                len(self.transpile_ms) - self.first_timed_op,
            ),
            "gen_source_kb": (self.source_kb.get(0), "kB", len(self.sizes_kb.get(0, []))),
        }

    def details(self) -> dict:
        # the program-size distribution of every pass, in kB of generated source
        return {"program_kb": {p: sorted(round(s, 2) for s in v) for p, v in self.sizes_kb.items()}}


# Together these cover the three quality gates, the three decontamination
# modes and the leakage-safe split.
CORPUS_CONFIGS = (
    dict(quality_gate="heuristic", decontaminate="semijoin"),
    dict(quality_gate="charlm", decontaminate="broadcast"),
    dict(quality_gate="logreg", decontaminate="bloom", leakage_safe_split=True),
)
CORPUS_R = 1


class CorpusBuildCold(Workload):
    """The batch corpus-build job, each pass against a fresh artifact store."""

    name = "corpus_build_cold"
    # the first pass in a fresh JVM costs about twice a warm one
    warmup_passes = 1

    def setup(self, spark) -> None:
        self.sf_dir = self.work / "corpus"
        self.sf_dir.mkdir(parents=True, exist_ok=True)
        self.n_docs = gen.write_documents(self.sf_dir / "documents.parquet", self.seed, CORPUS_R)
        self.outputs: list[tuple[dict, Path]] = []
        self.artifact_mb: list[float] = []
        self.rows_out: list[int] = []

    def run_pass(self, spark, pass_no: int) -> None:
        from polarify_spark.operators import release_shared_caches
        from polarify_spark.operators._memo import ARTIFACTS_DIR_CONF
        from polarify_spark.pipeline import (
            CorpusPipelineConfig,
            build_training_corpus,
            write_training_corpus,
        )

        tr = self.tracer
        art = self.work / "artifacts" / f"pass{pass_no}"
        shutil.rmtree(art, ignore_errors=True)
        art.mkdir(parents=True)
        spark.conf.set(ARTIFACTS_DIR_CONF, str(art))
        release_shared_caches(spark, scope="all")
        docs = spark.read.parquet(str(self.sf_dir / "documents.parquet"))

        for i, cfg in enumerate(CORPUS_CONFIGS):
            out_dir = self.work / "out" / f"pass{pass_no}_cfg{i}"

            def body(cfg=cfg, out_dir=out_dir):
                with tr.span("pipeline", "build"):
                    manifest = build_training_corpus(spark, str(self.sf_dir), CorpusPipelineConfig(**cfg))
                with tr.span("pipeline", "write"):
                    write_training_corpus(manifest, docs, str(out_dir))

            self.op(spark, "+".join(str(v) for v in cfg.values()), body)
            if tr.enabled:
                self.rows_out.append(checks.parquet_rows(out_dir))
            if pass_no == 0:
                self.outputs.append((cfg, out_dir))
            else:
                shutil.rmtree(out_dir, ignore_errors=True)
        if tr.enabled:
            self.artifact_mb.append(checks.dir_mb(art))
        if pass_no > 0:
            shutil.rmtree(art, ignore_errors=True)

    def check(self, spark) -> int:
        return checks.check_corpus(self.sf_dir, self.outputs)

    def details(self) -> dict:
        return {"R": CORPUS_R, "documents": self.n_docs, "configs": [dict(c) for c in CORPUS_CONFIGS]}

    def layer_extras(self) -> dict:
        n = max(len(self.artifact_mb), 1)
        return {
            "memo.artifact_mb": sum(self.artifact_mb) / n,
            "pipeline.rows_out": sum(self.rows_out) / n,
        }


KNN_CORPUS = 2_000
# One query batch per method and pass. The sizes are fixed, so every seed
# asks for the same work (bruteforce cost grows with the batch); the seed
# draws the vectors.
KNN_METHODS = ("search_ivf", "bruteforce", "ivf", "rplsh")
KNN_BATCH_SIZES = (64, 16, 32, 1)
KNN_K = 10


class KnnServe(Workload):
    """Interactive top-k serving over a saved IVF index, one closed-loop client."""

    name = "knn_serve"
    warmup_passes = 2

    def setup(self, spark) -> None:
        from polarify_spark.operators.knn import save_ivf_index

        sf_dir = self.work / "vectors"
        sf_dir.mkdir(parents=True, exist_ok=True)
        self.vectors = gen.write_embeddings(sf_dir / "embeddings.parquet", self.seed, KNN_CORPUS)
        self.corpus = spark.read.parquet(str(sf_dir / "embeddings.parquet"))
        # the caller brings its own centroids: the generator's cluster centers
        self.centroids = spark.createDataFrame(
            [(c, v.astype("float32").tolist()) for c, v in enumerate(gen.embedding_centers(self.seed))],
            "cell_id int, cent_vec array<float>",
        )
        self.index = self.work / "index"
        with self.tracer.span("knn", "index_build"):
            t = time.perf_counter()
            save_ivf_index(self.corpus, self.centroids, str(self.index))
            self.index_build_ms = (time.perf_counter() - t) * 1e3
        self.batches = gen.query_batches(self.seed, KNN_BATCH_SIZES)
        self.results: list[tuple[str, np.ndarray, list]] = []

    def run_pass(self, spark, pass_no: int) -> None:
        from polarify_spark.operators.knn import knn_join, search_ivf_index

        tr = self.tracer
        for method, batch in zip(KNN_METHODS, self.batches):

            def body(batch=batch, method=method):
                with tr.span("client", "queries"):
                    q = spark.createDataFrame(
                        [(j, v.tolist()) for j, v in enumerate(batch)],
                        "vec_id long, embedding array<float>",
                    )
                if method == "search_ivf":
                    with tr.span("knn", "search"):
                        res = search_ivf_index(spark, str(self.index), q, k=KNN_K)
                else:
                    with tr.span("operators", "build"):
                        res = knn_join(q, self.corpus, k=KNN_K, method=method, centroids=self.centroids)
                with tr.span("operators", "action"):
                    rows = res.collect()
                if pass_no == 0:
                    self.results.append((method, batch, rows))

            self.op(spark, method, body)

    def check(self, spark) -> int:
        failed, self.recall, self.recall_samples = checks.check_knn(self.vectors, self.results, KNN_K)
        return failed

    def e2e(self) -> dict:
        return {**self.op_percentiles(), "recall_at_10": (self.recall, "ratio", self.recall_samples)}

    def details(self) -> dict:
        return {"corpus_vectors": KNN_CORPUS, "methods": list(KNN_METHODS), "batch_sizes": list(KNN_BATCH_SIZES)}

    def layer_extras(self) -> dict:
        return {
            "knn.index_build_ms": self.index_build_ms,
            "knn.index_mb": checks.dir_mb(self.index),
        }


WORKLOADS = {w.name: w for w in (SparkifyPrograms, CorpusBuildCold, KnnServe)}
