"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import compare  # noqa: E402
import run  # noqa: E402
import spans as tr  # noqa: E402
import spec  # noqa: E402


def test_benchmark_json_matches_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    assert doc == spec.benchmark_json()
    assert {w["name"] for w in doc["workloads"]} == set(spec.WORKLOADS)
    for m in doc["end_to_end"] + doc["per_layer"]:
        assert m["unit"] and m["better"] in ("lower", "higher")
    assert "setup_s" in {m["name"] for m in doc["end_to_end"]}


def test_query_modules_match_registry():
    from clinical_data_platform_spark.plans.registry import ORACLES, QUERIES

    for q, module in spec.CORPUS.items():
        assert QUERIES[q].__module__.rsplit(".", 1)[1] == module, q
        assert q in ORACLES, q


def _op(name, module, latency, ok=True):
    return {"op": name, "module": module, "ok": ok, "latency_s": latency,
            "build_s": latency / 4, "exec_s": latency * 3 / 4,
            "spark": {k: 1.0 for k in spec.SPARK_UNITS}}


def _corpus_passes():
    t = tr.Tracer()
    passes = []
    for k in range(2):
        w = len(t.spans)
        with t.span("workload", "corpus"):
            ops = []
            for q, m in spec.CORPUS.items():
                with t.span("op", q):
                    with t.span("build", q):
                        with t.span("materialize", "localCheckpoint"):
                            pass
                    with t.span("exec", q):
                        pass
                ops.append(_op(q, m, 0.5))
        passes.append({"wall_s": 4.0 + k, "ops": ops, "span": w,
                       "trace_overhead_s": 0.1 * (k + 1), "evicted": 0})
    return passes, t


def _pipeline_passes():
    t = tr.Tracer()
    with t.span("workload", "pipeline"):
        for stage in spec.PIPELINE_STAGES:
            with t.span("clinical_call", stage):
                with t.span("write", "parquet"):
                    pass
    stage_s = {s: 1.0 for s in spec.PIPELINE_STAGES + ["other"]}
    written = {d: (100, 2) for d in spec.PIPELINE_DIRS}
    ops = [{"op": s, "ok": True, "error": None, "latency_s": 1.0}
           for s in spec.PIPELINE_STAGES]
    return [{"wall_s": 9.0, "ops": ops, "span": 0, "written": written,
             "workdir_bytes": 1000, "stage_s": stage_s, "trace_overhead_s": 0.5,
             "evicted": 0, "spark": {k: 1.0 for k in spec.SPARK_UNITS}}], t


SETUP = {"setup_s": 3.0, "get_spark_s": 1.0, "first_query_s": 1.0,
         "first_python_op_s": 1.0}


@pytest.mark.parametrize("workload", sorted(spec.WORKLOADS))
def test_output_names_every_metric_with_a_unit(workload):
    passes, t = _corpus_passes() if workload == "corpus" else _pipeline_passes()
    e2e, attempted, failed = run.end_to_end(SETUP, [], passes, 1024.0)
    assert set(e2e) == set(spec.END_TO_END)
    assert all(v > 0 for v in e2e.values())
    assert (attempted, failed) == (sum(len(p["ops"]) for p in passes), 0)
    layers = run.per_layer_metrics(workload, SETUP, passes, t.spans)
    names = {m["name"] for m in spec.benchmark_json()["per_layer"]}
    assert set(layers) == names
    # every metric of this workload's own layers is measured
    assert all(layers[n] > 0 for n in spec.per_layer(workload)
               if n.startswith(("plans.", "clinical.")))
    assert layers["trace.evicted"] == 0
    if workload == "corpus":
        assert layers["materialize.calls"] == len(spec.CORPUS)
        assert layers["trace.overhead_s"] == pytest.approx(0.15)
    else:
        assert layers["clinical.bytes_written_per_input_byte"] == pytest.approx(10.0)
        assert layers["self.write_s"] >= 0


def test_failed_ops_count_against_ok_frac():
    passes, _ = _corpus_passes()
    passes[0]["ops"][0]["ok"] = False
    checks = [{"op": "x", "ok": False}, {"op": "y", "ok": True}]
    e2e, attempted, failed = run.end_to_end(SETUP, checks, passes, 1.0)
    assert (attempted, failed) == (2 + 2 * len(spec.CORPUS), 2)
    assert e2e["ok_frac"] == pytest.approx(1 - 2 / attempted)


def test_row_count_counts_one_row_for_first():
    from pyspark.sql import Row

    assert tr._row_count(Row(a=1, b=2, c=3)) == 1
    assert tr._row_count([Row(a=1), Row(a=2)]) == 2
    assert tr._row_count(7) == 1
    assert tr._row_count(None) == 0


def test_self_time_on_a_synthetic_span_tree():
    S = tr.Span
    spans = [
        S("workload", "w", 0.0, 10.0),
        S("op", "a", 1.0, 5.0, 0),
        S("build", "a", 1.0, 2.0, 1),
        S("exec", "a", 2.5, 5.0, 1),
        S("spark_job", "j1", 2.5, 4.0, 3),
        S("spark_stage", "s1", 2.5, 3.5, 4),
        S("spark_stage", "s2", 3.0, 4.5, 4),  # overlaps s1, overruns its job
        S("op", "b", 6.0, 9.0, 0),
    ]
    st = tr.self_times(spans)
    assert st == pytest.approx([10 - 4 - 3, 4 - 1 - 2.5, 1, 2.5 - 1.5, 0, 1, 1.5, 3])


def test_covered_merges_and_clips():
    assert tr.covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert tr.covered([], 0, 1) == 0.0


def test_driver_time_is_op_time_outside_stages():
    jobs = [{"id": 0, "start": 1.0, "end": 3.0, "stages": [
        {"id": 0, "start": 1.0, "end": 2.0, "tasks": 4, "executor_run_s": 1.0,
         "executor_cpu_s": 0.5, "jvm_gc_s": 0.0, "shuffle_read_bytes": 0,
         "shuffle_write_bytes": 10, "input_bytes": 100, "spill_bytes": 0},
        {"id": 1, "start": 1.5, "end": 3.0, "tasks": 1, "executor_run_s": 1.0,
         "executor_cpu_s": 0.5, "jvm_gc_s": 0.1, "shuffle_read_bytes": 10,
         "shuffle_write_bytes": 0, "input_bytes": 0, "spill_bytes": 0},
    ]}]
    c = tr.spark_counters(jobs, 0.0, 4.0)
    assert c["driver_s"] == pytest.approx(2.0)
    assert (c["jobs"], c["stages"], c["tasks"]) == (1, 2, 5)
    assert c["input_bytes"] == 100 and c["shuffle_read_bytes"] == 10


def test_spark_spans_attach_under_the_innermost_open_span():
    t = tr.Tracer()
    t.spans = [tr.Span("op", "q", 0.0, 10.0), tr.Span("build", "q", 0.0, 4.0, 0),
               tr.Span("materialize", "localCheckpoint", 1.0, 3.0, 1),
               tr.Span("exec", "q", 4.0, 10.0, 0)]
    jobs = [{"id": 7, "start": 1.5, "end": 2.5, "stages": []},
            {"id": 8, "start": 5.0, "end": 9.0, "stages": [
                {"id": 3, "start": 5.0, "end": 9.0, "tasks": 2}]}]
    tr.attach_spark_spans(t, 0, jobs)
    assert [(s.kind, s.parent) for s in t.spans[4:]] == [
        ("spark_job", 2), ("spark_job", 3), ("spark_stage", 5)]


def test_compare_verdicts():
    parent = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]
    faster = [p * 0.8 for p in parent]
    assert compare.verdict(parent, faster, "lower", 0.1)["verdict"] == "gain"
    assert compare.verdict(parent, parent, "lower", 0.1)["verdict"] == "same"
    slower = [p * 1.3 for p in parent]
    assert compare.verdict(parent, slower, "lower", 0.1)["verdict"] == "regression"
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert compare.verdict(noisy, noisy, "lower", 0.1)["verdict"] == "unresolved"
    # 8 of 10 wins is not a gain even with a wide median gap
    mixed = faster[:8] + [p * 1.05 for p in parent[8:]]
    assert compare.verdict(parent, mixed, "lower", 0.25)["verdict"] != "gain"
