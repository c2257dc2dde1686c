"""The benchmark's workloads: what one pass runs and how its output is checked.

Each workload is a closed loop with one client: the driver thread issues
the next op only after the previous one has returned. Why each workload
exists, and which layer metric should move which end-to-end metric, is
recorded in ``README.md`` beside this file.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
import spans as tr
from spec import CORPUS, CORPUS_DOCS, PIPELINE_DIRS, PIPELINE_STAGES, PIPELINE_SUBJECTS

# the set-up's first query
WARMUP_QUERY = "event_type_counts"
OP_TIMEOUT_S = 30.0
# a cold run_demo takes 60-110 s on a shared 4-vCPU host; cancelling at
# 150 s keeps a run inside three minutes
RUN_DEMO_TIMEOUT_S = 150.0


def _err(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"[:500]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class OpTimer:
    """Cancels the op's Spark job group when the op outlives its timeout."""

    def __init__(self, spark, group: str, timeout: float) -> None:
        sc = spark.sparkContext
        sc.setJobGroup(group, group, interruptOnCancel=True)
        self._timer = threading.Timer(timeout, sc.cancelJobGroup, (group,))
        self._timer.daemon = True

    def __enter__(self):
        self._timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self._timer.cancel()
        self._timer.join()


class QueryWorkload:
    """Registered query plans over a generated sf-shaped corpus. An op is
    one query: the builder call, then execution into the noop sink. The
    checked pass is the warm-up."""

    python_workers = True

    def __init__(self, name: str, queries: dict[str, str], sf: float,
                 docs: int | None = None) -> None:
        self.name, self.queries = name, queries
        self.sf, self.docs = sf, docs
        self.data_dir = ""
        self.input_bytes = 0

    def make_inputs(self, work: str, seed: int) -> None:
        self.data_dir = os.path.join(work, "data")
        datagen.generate(self.data_dir, seed, self.sf, self.docs)
        self.input_bytes = _tree_bytes(self.data_dir)[0]

    def install_probes(self, tracer: tr.Tracer) -> None:
        tracer.install_dataframe_probes()

    def warm_up(self, spark) -> None:
        from clinical_data_platform_spark.plans.registry import QUERIES

        _noop(QUERIES[WARMUP_QUERY](spark, self.data_dir))

    def check(self, spark) -> list[dict]:
        """Untimed pass: every op's output against its DuckDB oracle, with
        the normalization of ``tools/oracle_check.py``. The oracles run on
        a second thread while Spark computes."""
        from clinical_data_platform_spark.plans.registry import ORACLES, QUERIES
        from tools.oracle_check import dtype_sig, value_hash

        with ThreadPoolExecutor(1) as pool:
            wants = pool.submit(_run_oracles, self.data_dir,
                                [ORACLES[q] for q in self.queries])
            gots, secs = [], []
            for i, q in enumerate(self.queries):
                a = time.time()
                try:
                    with OpTimer(spark, f"check-{i}-{q}", OP_TIMEOUT_S):
                        gots.append(QUERIES[q](spark, self.data_dir).toPandas())
                except Exception as e:  # noqa: BLE001 - a failing op is recorded, the run goes on
                    gots.append(e)
                secs.append(time.time() - a)
            wants = wants.result()
        results = []
        for q, got, want, sec in zip(self.queries, gots, wants, secs):
            rec = {"op": q, "ok": False, "rows": None, "error": None, "s": sec}
            if isinstance(got, Exception) or isinstance(want, Exception):
                e = got if isinstance(got, Exception) else want
                rec["error"] = _err(e)
            else:
                rec["rows"] = len(got)
                if len(got) != len(want):
                    rec["error"] = f"rows {len(got)} != oracle {len(want)}"
                elif dtype_sig(got) != dtype_sig(want):
                    rec["error"] = f"schema {dtype_sig(got)} != oracle {dtype_sig(want)}"
                elif value_hash(got) != value_hash(want):
                    rec["error"] = "value hash differs from oracle"
                else:
                    rec["ok"] = True
            results.append(rec)
        return results

    def run_pass(self, spark, order_rng: random.Random, pass_no: int,
                 tracer: tr.Tracer | None) -> dict:
        from clinical_data_platform_spark.plans.registry import QUERIES

        order = list(self.queries)
        order_rng.shuffle(order)
        ops = []
        w_idx = len(tracer.spans) if tracer else None
        overhead = evicted = 0.0
        t0 = time.time()
        with _span(tracer, "workload", self.name):
            for i, q in enumerate(order):
                group = f"p{pass_no}-{i}-{q}"
                rec = {"op": q, "module": self.queries[q], "ok": True, "error": None}
                op_idx = len(tracer.spans) if tracer else None
                a = b = time.time()
                try:
                    with OpTimer(spark, group, OP_TIMEOUT_S), _span(tracer, "op", q):
                        with _span(tracer, "build", q):
                            df = QUERIES[q](spark, self.data_dir)
                        b = time.time()
                        with _span(tracer, "exec", q):
                            _noop(df)
                except Exception as e:  # noqa: BLE001 - recorded as a failed op
                    rec["ok"], rec["error"] = False, _err(e)
                c = time.time()
                rec.update(start=a, end=c, latency_s=c - a, build_s=b - a, exec_s=c - b)
                if tracer:
                    reader = tr.GroupReader(spark, group)
                    jobs = reader.read()
                    rec["spark"] = tr.spark_counters(jobs, a, c)
                    rec["evicted"] = reader.evicted
                    tr.attach_spark_spans(tracer, op_idx, jobs)
                    overhead += time.time() - c
                    evicted += reader.evicted
                ops.append(rec)
        return {"wall_s": time.time() - t0, "ops": ops, "span": w_idx,
                "trace_overhead_s": overhead, "evicted": evicted}


class PipelineWorkload:
    """``clinical.pipeline.run_demo`` in a fresh workdir per pass. An op is
    one pipeline stage, timed from the stage marks of the run report. A run
    measures one pass, the first ``run_demo`` in the JVM, as a user of
    ``python -m clinical_data_platform_spark.clinical.pipeline`` sees it."""

    name = "pipeline"
    # run_demo starts no Python workers, so its set-up warms none
    python_workers = False

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.work = self.data_dir = ""
        self.input_bytes = 0

    def make_inputs(self, work: str, seed: int) -> None:
        # run_demo generates its own cohort; these tables only feed the
        # host calibration probe of traced runs
        self.work = work
        self.data_dir = os.path.join(work, "base")
        datagen.generate(self.data_dir, seed, 0.01)

    def install_probes(self, tracer: tr.Tracer) -> None:
        _wrap_pipeline(tracer)

    def warm_up(self, spark) -> None:
        from clinical_data_platform_spark.clinical.synthetic import generate_dm

        _noop(generate_dm(spark, 50, self.seed))

    def check(self, spark) -> list[dict]:
        return []  # every pass checks its own run report

    def run_pass(self, spark, order_rng: random.Random, pass_no: int,
                 tracer: tr.Tracer | None) -> dict:
        from clinical_data_platform_spark.clinical import pipeline

        wd = os.path.join(self.work, f"demo-{pass_no}")
        shutil.rmtree(wd, ignore_errors=True)
        group = f"p{pass_no}-run_demo"
        report, error = None, None
        w_idx = len(tracer.spans) if tracer else None
        if tracer:
            # run_demo runs about as many stages as the status store keeps:
            # read them as each of its calls into the clinical modules ends
            reader = tr.GroupReader(spark, group)
            tracer.on_span_end = lambda sp: reader.read() if sp.kind == "clinical_call" else None
        a = time.time()
        try:
            with _span(tracer, "workload", self.name), \
                    OpTimer(spark, group, RUN_DEMO_TIMEOUT_S):
                report = pipeline.run_demo(spark, wd, PIPELINE_SUBJECTS, self.seed)
        except Exception as e:  # noqa: BLE001 - recorded as failed ops
            error = _err(e)
        c = time.time()
        if error is None:
            error = pipeline_problems(report)
        ops = _stage_ops(report, error)
        written = {d: _tree_bytes(os.path.join(wd, d)) for d in PIPELINE_DIRS}
        out = {"wall_s": c - a, "ops": ops, "written": written,
               "workdir_bytes": _tree_bytes(wd)[0], "span": w_idx}
        if tracer:
            tracer.on_span_end = None
            # the reads at call boundaries ran inside the pass; this last
            # one does not
            out["trace_overhead_s"] = reader.read_s
            reader.read()
            out["stage_s"] = _stage_spans(tracer, w_idx)
            out["spark"] = tr.spark_counters(reader.jobs, a, c)
            out["evicted"] = reader.evicted
            tr.attach_spark_spans(tracer, w_idx, reader.jobs)
        shutil.rmtree(wd, ignore_errors=True)
        return out


def _run_oracles(data_dir: str, sqls: list[str]) -> list:
    """Each oracle's DataFrame, or the exception it raised."""
    import duckdb

    from clinical_data_platform_spark.catalog import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = []
        for sql in sqls:
            try:
                out.append(con.execute(sql).fetchdf())
            except Exception as e:  # noqa: BLE001 - reported as that op's failure
                out.append(e)
        return out
    finally:
        con.close()


def pipeline_problems(report: dict | None) -> str | None:
    """The invariants ``tests/test_pipeline_e2e.py`` asserts on a run."""
    if report is None:
        return "no report"
    dm = report["validation"].get("DM", {})
    ml = report["ml"]
    checks = [
        (list(report["stages"]) == PIPELINE_STAGES, f"stages {list(report['stages'])}"),
        (dm.get("accepted_values__SEX") == 1, f"DM SEX violations {dm.get('accepted_values__SEX')}"),
        (dm.get("not_null__SUBJID") == 0 and dm.get("unique__SUBJID") == 0, "DM SUBJID violations"),
        (all(n > 0 for n in report["analytics"].values()), "empty analytics output"),
        (ml.get("auc", 0) >= 0.65 and ml.get("ap", 0) >= 0.60, f"ML gates {ml}"),
        (ml.get("n_scored") == PIPELINE_SUBJECTS, f"n_scored {ml.get('n_scored')}"),
    ]
    bad = [msg for ok, msg in checks if not ok]
    return "; ".join(bad) or None


def _stage_ops(report: dict | None, error: str | None) -> list[dict]:
    if report is None:
        return [{"op": s, "ok": False, "error": error, "latency_s": None}
                for s in PIPELINE_STAGES]
    prev, ops = 0.0, []
    for s, mark in report["stages"].items():
        ops.append({"op": s, "ok": error is None, "error": error,
                    "latency_s": mark - prev})
        prev = mark
    return ops


# functions run_demo calls, by the stage that calls them
_PIPELINE_CALLS = {
    "generate": [("pipeline", "generate_all")],
    "validate": [("checks", "check_report")],
    "bronze": [("pipeline", "land_to_bronze")],
    "silver": [("pipeline", "standardize_bronze_to_sdtm"), ("pipeline", "write_adsl")],
    "star": [("star", "build_star")],
    "marts": [("marts", "build_marts")],
    "analytics": [("analytics", "ae_rates_by_arm"), ("analytics", "lab_abnormality_rates"),
                  ("analytics", "vital_trend_summaries")],
    "ml": [("pipeline", "subject_level_features"), ("pipeline", "train_with_report"),
           ("pipeline", "export_artifacts"), ("pipeline", "score"),
           ("pipeline", "closed_form_risk")],
    "dashboard": [("pipeline", "dashboard_payload")],
}


def _wrap_pipeline(tracer: tr.Tracer) -> None:
    from clinical_data_platform_spark.clinical import analytics, marts, pipeline, star
    from clinical_data_platform_spark.operators import checks

    owners = {"pipeline": pipeline, "checks": checks, "star": star,
              "marts": marts, "analytics": analytics}
    for stage, calls in _PIPELINE_CALLS.items():
        for owner, attr in calls:
            tracer.wrap_function(owners[owner], attr, "clinical_call", stage)
    tracer.install_dataframe_probes(writes=True)


def _stage_spans(tracer: tr.Tracer, w_idx: int) -> dict[str, float]:
    """Derive one ``clinical_stage`` span per stage: from the stage's first
    call to the next stage's first call (the last stage ends with its last
    call), then re-parent the workload's direct children into them."""
    w = tracer.spans[w_idx]
    calls = [s for s in tracer.spans if s.kind == "clinical_call" and s.parent == w_idx]
    firsts: dict[str, float] = {}
    lasts: dict[str, float] = {}
    for s in calls:
        firsts.setdefault(s.name, s.start)
        lasts[s.name] = s.end
    seq = sorted(firsts, key=firsts.get)
    out = {}
    for k, stage in enumerate(seq):
        start = firsts[stage]
        end = firsts[seq[k + 1]] if k + 1 < len(seq) else lasts[stage]
        idx = len(tracer.spans)
        tracer.spans.append(tr.Span("clinical_stage", stage, start, end, w_idx))
        for j in range(w_idx + 1, idx):
            s = tracer.spans[j]
            if s.parent == w_idx and start <= s.start < end:
                s.parent = idx
        out[stage] = end - start
    out["other"] = (w.end - w.start) - sum(out.values())
    return out


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) on disk under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _span(tracer: tr.Tracer | None, kind: str, name: str):
    return tracer.span(kind, name) if tracer else contextlib.nullcontext()


def make(name: str, seed: int):
    if name == "corpus":
        return QueryWorkload("corpus", CORPUS, sf=0.001, docs=CORPUS_DOCS)
    if name == "pipeline":
        return PipelineWorkload(seed)
    raise SystemExit(f"unknown workload {name!r}; expected corpus or pipeline")
