"""Dashboard chart-data layer — parity with ui/dashboard.py (1,007 LoC of
Streamlit). The reference renders plotly charts from pandas aggregations
over the subject-outcomes mart; the portable part is those AGGREGATIONS,
which here are Spark plans returning exactly the rows each chart draws.
The rendering surface is serving/app.py's /dashboard endpoints (JSON for
any front end + a minimal HTML table view) — Streamlit itself is not in
this environment and is a pure client of this layer.

Chart queries (reference line cites):

- overview_metrics       dashboard.py:184-200  (4 st.metric tiles)
- age_histogram          dashboard.py:209-216  (px.histogram, 20 bins)
- safety_risk_breakdown  dashboard.py:223-235  (px.pie on value_counts)
- arm_distribution       dashboard.py:245-252  (px.bar on value_counts)
- ae_by_arm              dashboard.py:470-476  (groupby agg sum/mean/count)
- demographics_by_arm_sex dashboard.py:542-548 (groupby size)
- feature_correlations   dashboard.py:576-605  (px.imshow corr matrix)
- treatment_summary      dashboard.py:614-625  (multi-agg per arm)

All are single-pass partial/final aggregations over the mart (subject
cardinality) — every one of them holds at 100 TB because the mart itself
is the reduction of the facts.
"""

from __future__ import annotations

from itertools import combinations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..catalog import ONE_ROW, bounded_collect

NUMERIC_FEATURES = ["AGE", "AE_COUNT", "SEVERE_AE_COUNT"]

# Every chart groups by low-cardinality study dimensions (arm, sex, risk
# band) or fixed bins, so none sends more rows to the driver than this.
CHART_MAX_ROWS = 1_000


def overview_metrics(outcomes: DataFrame) -> DataFrame:
    """The four headline tiles in one aggregation pass."""
    return outcomes.agg(
        F.count(F.lit(1)).cast("long").alias("total_subjects"),
        F.sum("total_adverse_events").cast("long").alias("total_aes"),
        F.sum("serious_adverse_events").cast("long").alias("serious_aes"),
        F.round(F.avg("age"), 1).alias("avg_age"),
    )


def age_histogram(outcomes: DataFrame, nbins: int = 20) -> DataFrame:
    """Fixed-width age bins -> counts (px.histogram nbins=20). Bin edges
    are computed from one min/max pass so the binning matches plotly's
    uniform-width behavior; the bin loop is a Spark expression, not a
    collect."""
    row = bounded_collect(
        outcomes.agg(F.min("age").alias("lo"), F.max("age").alias("hi")), ONE_ROW
    )[0]
    lo, hi = float(row["lo"]), float(row["hi"])
    width = (hi - lo) / nbins or 1.0
    bin_idx = F.least(
        F.floor((F.col("age") - F.lit(lo)) / F.lit(width)).cast("int"),
        F.lit(nbins - 1),
    )
    return (
        outcomes.filter(F.col("age").isNotNull())
        .groupBy(bin_idx.alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "bin",
            F.round(F.lit(lo) + F.col("bin") * F.lit(width), 4).alias("bin_lo"),
            F.round(F.lit(lo) + (F.col("bin") + 1) * F.lit(width), 4).alias("bin_hi"),
            "n",
        )
        .orderBy("bin")
    )


def safety_risk_breakdown(outcomes: DataFrame) -> DataFrame:
    return (
        outcomes.groupBy("safety_risk_category")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "safety_risk_category")
    )


def arm_distribution(outcomes: DataFrame) -> DataFrame:
    return (
        outcomes.groupBy("treatment_arm")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "treatment_arm")
    )


def ae_by_arm(outcomes: DataFrame) -> DataFrame:
    """sum/mean/count of AE_COUNT per arm (dashboard.py:470)."""
    return (
        outcomes.groupBy("treatment_arm")
        .agg(
            F.sum("total_adverse_events").cast("long").alias("ae_sum"),
            F.round(F.avg("total_adverse_events"), 4).alias("ae_mean"),
            F.count(F.lit(1)).cast("long").alias("n_subjects"),
        )
        .orderBy("treatment_arm")
    )


def demographics_by_arm_sex(outcomes: DataFrame) -> DataFrame:
    return (
        outcomes.groupBy("treatment_arm", "sex")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("treatment_arm", "sex")
    )


def feature_correlations(features: DataFrame) -> DataFrame:
    """Pearson correlation matrix over the numeric features as long-form
    (f1, f2, corr) rows — one corr() aggregation per pair in a SINGLE
    pass (all pairs in one agg), matching pandas .corr() semantics
    (dashboard.py:576-605)."""
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"{a}|{b}")
        for a, b in combinations(NUMERIC_FEATURES, 2)
    ]
    wide = bounded_collect(features.agg(*aggs), ONE_ROW)[0]
    rows = [(f, f, 1.0) for f in NUMERIC_FEATURES]
    for a, b in combinations(NUMERIC_FEATURES, 2):
        v = wide[f"{a}|{b}"]
        rows += [(a, b, v), (b, a, v)]
    spark = features.sparkSession
    return spark.createDataFrame(
        sorted(rows), "f1 STRING, f2 STRING, corr DOUBLE"
    )


def treatment_summary(outcomes: DataFrame) -> DataFrame:
    """Per-arm multi-agg (mean age, AE mean/max, completeness mean)."""
    return (
        outcomes.groupBy("treatment_arm")
        .agg(
            F.round(F.avg("age"), 2).alias("age_mean"),
            F.round(F.avg("total_adverse_events"), 2).alias("ae_mean"),
            F.max("total_adverse_events").cast("long").alias("ae_max"),
            F.round(F.avg("data_completeness_score"), 4).alias("completeness_mean"),
        )
        .orderBy("treatment_arm")
    )


def dashboard_payload(outcomes: DataFrame, features: DataFrame) -> dict:
    """Every chart's data as one JSON-able dict (the /dashboard/data
    response). Each entry is a list of row-dicts in chart order."""
    charts = {
        "overview_metrics": overview_metrics(outcomes),
        "age_histogram": age_histogram(outcomes),
        "safety_risk_breakdown": safety_risk_breakdown(outcomes),
        "arm_distribution": arm_distribution(outcomes),
        "ae_by_arm": ae_by_arm(outcomes),
        "demographics_by_arm_sex": demographics_by_arm_sex(outcomes),
        "feature_correlations": feature_correlations(features),
        "treatment_summary": treatment_summary(outcomes),
    }
    return {
        name: [r.asDict() for r in bounded_collect(df, CHART_MAX_ROWS)]
        for name, df in charts.items()
    }
