"""Benchmark runner for the clinical data platform engine.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 1 --trace 0

Run from the repository root. One invocation generates its inputs from
``--seed``, sets the Spark session up once in a fresh JVM (``setup_s``:
JVM launch, the first query and the first Python-worker stage), checks
every op, then runs closed-loop passes of the workload: at least one, and
more until ``--seconds`` have gone by. Every run is
stamped with ``nproc`` and ``SPARK_GRAFT_CPUS``; traced runs also carry the
``bench._calibrate`` pair, taken after the measured passes. The last stdout
line is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``;
the metrics are the end-to-end ones with ``--trace 0`` and the per-layer
ones with ``--trace 1``. The line before it holds the run context, and a
full record (every op, and with ``--trace 1`` every span) is written under
``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench")


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _isolate(work: str, cpus: int) -> None:
    """Keep the JVM's, Spark's and Python's scratch files in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # get_spark's default heap is 8g. With it the heap grows with GC timing,
    # and peak_rss_mb spread 0.30 (IQR / median) over five corpus runs; with
    # a 1g heap, 0.06 over ten (README.md, "Heap").
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    # every JVM, spark-submit's launcher included: no hsperfdata file,
    # which the JVM would write to /tmp whatever its tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )


def _python_stage(spark, cpus: int) -> None:
    def identity(batches):
        yield from batches

    spark.range(0, 64 * cpus, 1, cpus).mapInArrow(identity, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def set_up(workload, cpus: int):
    """``get_spark`` through warm-up: the first query, then the first stage
    that runs Python workers, if the workload's ops use them. The first
    ``get_spark`` of a process launches the JVM, so every run measures a
    cold set-up, as every real invocation pays it."""
    from clinical_data_platform_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(f"perfbench-{workload.name}")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    workload.warm_up(spark)
    t2 = time.time()
    if workload.python_workers:
        _python_stage(spark, cpus)
    t3 = time.time()
    return spark, {
        "setup_s": t3 - t0,
        "get_spark_s": t1 - t0,
        "first_query_s": t2 - t1,
        "first_python_op_s": t3 - t2,
    }


def _stop_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - escalate to kill, then wait
            proc.kill()
            proc.wait()


def _reset_peak_rss(pids) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def _peak_rss_mb(pids) -> list[float]:
    out = []
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    out.append(int(line.split()[1]) / 1024.0)
    return out


def end_to_end(setup, checks, passes, peak_rss_mb) -> tuple[dict, int, int]:
    """End-to-end metrics over the measured passes; also (attempted, failed)."""
    ops = [op for p in passes for op in p["ops"]]
    attempted = len(checks) + len(ops)
    failed = sum(not c["ok"] for c in checks) + sum(not op["ok"] for op in ops)
    lat = [op["latency_s"] for op in ops if op["ok"]]
    return {
        "setup_s": setup["setup_s"],
        "wall_s": _median(p["wall_s"] for p in passes),
        "op_p50_s": _median(lat),
        "op_p90_s": _p90(lat),
        "ok_frac": 1.0 - failed / attempted,
        "peak_rss_mb": peak_rss_mb,
    }, attempted, failed


def pass_layers(workload_name: str, p: dict, spans: list, self_s: list) -> dict:
    """Per-layer totals of one traced pass; ``spans`` is the whole trace."""
    from spans import descends
    from spec import PIPELINE_DIRS, PLAN_MODULES, SPARK_UNITS

    root = p["span"]
    mine = [i for i in range(root, len(spans)) if i == root or descends(spans, i, root)]
    out: dict[str, float] = {"trace.overhead_s": p["trace_overhead_s"]}
    for i in mine:
        k = f"self.{spans[i].kind}_s"
        out[k] = out.get(k, 0.0) + self_s[i]
    for kind in ("materialize", "driver_collect"):
        hits = [spans[i] for i in mine if spans[i].kind == kind]
        out[f"{kind}.calls"] = float(len(hits))
        out[f"{kind}.s"] = sum(s.end - s.start for s in hits)
    out["driver_collect.rows"] = float(sum(
        spans[i].attrs.get("rows", 0) for i in mine if spans[i].kind == "driver_collect"))
    if workload_name == "pipeline":
        for k in SPARK_UNITS:
            out[f"spark.{k}"] = p["spark"][k]
        for stage, s in p["stage_s"].items():
            out[f"clinical.{stage}_s"] = s
        for d in PIPELINE_DIRS:
            b, f = p["written"][d]
            out[f"clinical.{d}.bytes_written"] = float(b)
            out[f"clinical.{d}.files_written"] = float(f)
        raw = p["written"]["raw"][0]
        out["clinical.bytes_written_per_input_byte"] = p["workdir_bytes"] / raw if raw else 0.0
        return out
    for k in SPARK_UNITS:
        out[f"spark.{k}"] = sum(op["spark"][k] for op in p["ops"] if "spark" in op)
    for m in PLAN_MODULES:
        mops = [op for op in p["ops"] if op["module"] == m]
        out[f"plans.{m}.build_s"] = sum(op["build_s"] for op in mops)
        out[f"plans.{m}.exec_s"] = sum(op["exec_s"] for op in mops)
        out[f"spark.{m}.jobs"] = sum(op["spark"]["jobs"] for op in mops if "spark" in op)
        out[f"spark.{m}.driver_s"] = sum(op["spark"]["driver_s"] for op in mops if "spark" in op)
    return out


def per_layer_metrics(workload_name: str, setup, passes, spans: list) -> dict:
    """Per-layer metrics: medians over the passes, which are all traced;
    ``trace.evicted`` is the total, and any other value than 0 means the
    ``spark.*`` figures are short."""
    from spans import self_times
    from spec import all_per_layer

    self_s = self_times(spans)
    traced = [pass_layers(workload_name, p, spans, self_s) for p in passes]
    out = {name: _median(t.get(name, 0.0) for t in traced) for name in all_per_layer()}
    out["session.get_spark_s"] = setup["get_spark_s"]
    out["pydaemon.first_python_op_s"] = setup["first_python_op_s"]
    out["trace.evicted"] = float(sum(p["evicted"] for p in passes))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["corpus", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "clinical_data_platform_spark")):
        print("perfbench: run from the repository root (clinical_data_platform_spark/ "
              "not found)", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    _isolate(work, cpus)
    sys.path[:0] = [HERE, ROOT]
    import spans as tr
    import workloads
    from spec import END_TO_END, all_per_layer

    wl = workloads.make(args.workload, args.seed)
    phases, marks = {}, [time.time()]

    def phase(name: str) -> None:
        marks.append(time.time())
        phases[name] = marks[-1] - marks[-2]

    calib = None
    try:
        wl.make_inputs(work, args.seed)
        phase("inputs")
        spark, setup = set_up(wl, cpus)
        phase("setup")
        import bench

        checks = wl.check(spark)
        phase("check")

        pids = [os.getpid(), bench._jvm_pid()]
        rss_pre = _peak_rss_mb(pids)
        # start every run's measurement from a collected heap
        spark.sparkContext._jvm.System.gc()
        _reset_peak_rss(pids)
        tracer = tr.Tracer() if args.trace else None
        order_rng = random.Random(args.seed)
        passes = []
        t0 = time.time()
        while not passes or time.time() - t0 < args.seconds:
            if tracer:
                wl.install_probes(tracer)
            try:
                passes.append(wl.run_pass(spark, order_rng, len(passes), tracer))
            finally:
                if tracer:
                    tracer.uninstall()
        rss_post = _peak_rss_mb(pids)
        peak = sum(rss_post)
        phase("measure")
        if args.trace:
            # ~10 s of fixed work: stamped on traced runs only, and after the
            # passes, so that it warms nothing they measure
            calib = bench._calibrate(spark, wl.data_dir)
            phase("calibrate")
        spark.stop()
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    phase("teardown")

    metrics, attempted, failed = end_to_end(setup, checks, passes, peak)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "calib": calib,
        "input_bytes": wl.input_bytes,
        "passes": len(passes),
        "op_samples": sum(len(p["ops"]) for p in passes),
        "setup": setup,
        "phases_s": phases,
        "rss_pre": rss_pre,
        "rss_post": rss_post,
        "failures": [c for c in checks if not c["ok"]]
        + [op for p in passes for op in p["ops"] if not op["ok"]],
    }
    if args.trace:
        metrics = per_layer_metrics(args.workload, setup, passes, tracer.spans)
        units = all_per_layer()
        context["trace_complete"] = metrics["trace.evicted"] == 0
        if not context["trace_complete"]:
            print(f"perfbench: {metrics['trace.evicted']:.0f} Spark jobs or stages were "
                  "evicted before they were read; the spark.* figures are short",
                  file=sys.stderr)
    else:
        units = {k: v[0] for k, v in END_TO_END.items()}
    record = {"context": context, "metrics": metrics, "checks": checks, "passes": passes}
    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    with open(os.path.join(OUT, "runs", f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        with open(os.path.join(OUT, "runs", f"{tag}.trace.json"), "w") as fh:
            json.dump(tracer.to_json(), fh)
    print(json.dumps({"context": context}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
