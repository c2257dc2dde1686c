"""Names, units and bounds of every metric the runner prints.

``BENCHMARK.json`` at the repository root must list exactly what this
module defines (``test_perfbench.py`` pins the two together).
"""

from __future__ import annotations

# query -> plan module; the tests check each module against the registry.
# corpus: one bench_scale.SCALE_LANE query from each of the dedup, curation
# and ANN families. A pipeline run costs about 90 s, so a corpus run must
# stay under about 40 s for 48 runs to fit in an hour, and a query's first
# run in the JVM is part of every run. That leaves out the word-shingle
# family (near_dup_jaccard_pairs, minhash_lsh_pairs_md5,
# containment_dup_pairs): each takes 8-12 s on its first run.
# corpus_curation_funnel is left out because its DuckDB oracle alone takes
# about two minutes.
CORPUS = {
    "cross_source_dup_audit": "textops",
    "gopher_quality_filter": "corpusqc",
    "semantic_near_dup_k_scaled": "clustering",
}
# Documents and embeddings in the generated corpus. Above 1,024 the
# SemDeDup assignment runs as an Arrow mapInPandas GEMM in Python workers.
CORPUS_DOCS = 3000
PLAN_MODULES = sorted(set(CORPUS.values()))
# run_demo's subject count: its time is set by the job count, not the data
PIPELINE_SUBJECTS = 120

PIPELINE_STAGES = [
    "generate", "validate", "bronze", "silver", "star", "marts",
    "analytics", "ml", "dashboard",
]
PIPELINE_DIRS = ["raw", "bronze", "silver", "star", "marts", "predictions"]

# The workloads listed in BENCHMARK.json, with why each exists.
WORKLOADS = {
    "corpus": (
        "exact-dedup, quality-filter and semantic-dedup queries on 3,000 "
        "generated documents: most op time is inside stages, so task kernels, "
        "Python workers and shuffles show here"
    ),
    "pipeline": (
        "one cold run_demo, the clinical platform's own job: ~450 short jobs, "
        "collects and checkpoints, every write and MLlib training, so the "
        "driver floor and the write path show here"
    ),
}

# One pass per run: a corpus pass takes 4-9 s and a pipeline pass 50-110 s.
# At 5 s, corpus runs on a fast host measured a second, faster pass, and
# the medians split by pass count.
RUN_SECONDS = 1

# name -> (unit, better, bound)
# Bounds are the largest allowed: a shared 4-vCPU host drifts by 10-25%
# between runs. Use compare.py's paired runs to resolve smaller changes.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
    "op_p90_s": ("s", "lower", 0.25),
    "ok_frac": ("ratio", "higher", 0.02),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

SPARK_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "driver_s": "s",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "jvm_gc_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "input_bytes": "bytes",
    "spill_bytes": "bytes",
}
QUERY_SPAN_KINDS = [
    "workload", "op", "build", "exec", "materialize", "driver_collect",
    "spark_job", "spark_stage",
]
PIPELINE_SPAN_KINDS = [
    "workload", "clinical_stage", "clinical_call", "write", "materialize",
    "driver_collect", "spark_job", "spark_stage",
]


def _common(span_kinds: list[str]) -> dict[str, str]:
    out = {
        "session.get_spark_s": "s",
        "pydaemon.first_python_op_s": "s",
        "materialize.calls": "count",
        "materialize.s": "s",
        "driver_collect.calls": "count",
        "driver_collect.rows": "rows",
        "driver_collect.s": "s",
        "trace.overhead_s": "s",
        "trace.evicted": "count",
    }
    out.update({f"spark.{k}": u for k, u in SPARK_UNITS.items()})
    out.update({f"self.{k}_s": "s" for k in span_kinds})
    return out


def per_layer(workload: str) -> dict[str, str]:
    """Per-layer metric name -> unit that a traced run of ``workload``
    measures; every traced run prints the union, with 0 for the rest."""
    if workload == "pipeline":
        out = _common(PIPELINE_SPAN_KINDS)
        out.update({f"clinical.{s}_s": "s" for s in PIPELINE_STAGES + ["other"]})
        for d in PIPELINE_DIRS:
            out[f"clinical.{d}.bytes_written"] = "bytes"
            out[f"clinical.{d}.files_written"] = "count"
        out["clinical.bytes_written_per_input_byte"] = "ratio"
        return out
    out = _common(QUERY_SPAN_KINDS)
    for m in PLAN_MODULES:
        out[f"plans.{m}.build_s"] = "s"
        out[f"plans.{m}.exec_s"] = "s"
        out[f"spark.{m}.jobs"] = "count"
        out[f"spark.{m}.driver_s"] = "s"
    return out


def all_per_layer() -> dict[str, str]:
    """The per-layer metrics of every workload, in a stable order."""
    out: dict[str, str] = {}
    for w in WORKLOADS:
        out.update(per_layer(w))
    return out


def better(name: str) -> str:
    return "higher" if name == "spark.tasks" else "lower"


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` document this runner satisfies."""
    layer = all_per_layer()
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": better(n)} for n, u in layer.items()
        ],
    }
