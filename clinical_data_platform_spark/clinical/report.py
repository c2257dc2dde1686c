"""Static study-report surface — the render layer over the dashboard
chart-data module (clinical/dashboard.py), closing the parity gap with
the reference's Streamlit UI (ui/dashboard.py, 1,007 LoC).

Design decision, stated for the record: the reference renders live via
Streamlit + Plotly against the API. A 100 TB Spark deployment serves
the same content better as a MATERIALIZED artifact — the charts' data
is computed once by the engine (every panel is a registered, tested
DataFrame op), and rendering is a driver-side template over the tiny
collected payload, producing a dependency-free single-file HTML (inline
CSS, pure <table>/<div> bars, no JS) that can be archived next to the
data it describes, attached to a CI run, or served statically. The live
surface remains `serving/app.py`'s /dashboard/data JSON (same payload),
so a JS front end can still render interactively.

Sections mirror ui/dashboard.py's overview + analytics pages: headline
tiles, age histogram, safety-risk breakdown, treatment arms, AE-by-arm,
demographics crosstab, feature correlations, per-arm treatment summary,
and the data-quality check report.
"""

from __future__ import annotations

import html as _html
import json
import os
from datetime import datetime, timezone

__all__ = ["render_html", "write_report", "build_report_payload"]

_CSS = """
body { font-family: -apple-system, 'Segoe UI', Roboto, sans-serif;
       margin: 2rem auto; max-width: 960px; color: #1f2430; }
h1 { border-bottom: 3px solid #667eea; padding-bottom: .3rem; }
h2 { color: #4a5568; margin-top: 2rem; }
table { border-collapse: collapse; width: 100%; margin: .5rem 0; }
th, td { border: 1px solid #e2e8f0; padding: .35rem .6rem;
         text-align: left; font-size: .9rem; }
th { background: #f7fafc; }
.tiles { display: flex; gap: 1rem; }
.tile { flex: 1; background: #f7fafc; border: 1px solid #e2e8f0;
        border-radius: 8px; padding: .8rem; text-align: center; }
.tile .v { font-size: 1.6rem; font-weight: 700; color: #667eea; }
.bar { background: #667eea; height: .9rem; display: inline-block; }
.meta { color: #718096; font-size: .8rem; }
"""


def _table(rows: list[dict]) -> str:
    if not rows:
        return "<p class='meta'>no rows</p>"
    cols = list(rows[0].keys())
    head = "".join(f"<th>{_html.escape(str(c))}</th>" for c in cols)
    body = "".join(
        "<tr>"
        + "".join(f"<td>{_html.escape(str(r.get(c)))}</td>" for c in cols)
        + "</tr>"
        for r in rows
    )
    return f"<table><tr>{head}</tr>{body}</table>"


def _bars(rows: list[dict], label_key: str, value_key: str) -> str:
    if not rows:
        return "<p class='meta'>no rows</p>"
    mx = max(float(r[value_key]) for r in rows) or 1.0
    out = ["<table>"]
    for r in rows:
        w = int(260 * float(r[value_key]) / mx)
        out.append(
            f"<tr><td>{_html.escape(str(r[label_key]))}</td>"
            f"<td>{r[value_key]}</td>"
            f"<td style='width:280px'><span class='bar' "
            f"style='width:{w}px'></span></td></tr>"
        )
    out.append("</table>")
    return "".join(out)


def build_report_payload(silver: dict, generated_at: str | None = None) -> dict:
    """Compute every report section from the silver SDTM tables: the
    dashboard chart payload plus the DQ check report. All Spark work
    happens here; rendering is pure string templating after."""
    from ..catalog import bounded_collect
    from ..operators.checks import REPORT_ROWS_PER_RULE, check_report
    from . import marts
    from .dashboard import CHART_MAX_ROWS, dashboard_payload
    from .features import subject_level_features
    from .pipeline import DOMAIN_RULES

    built = marts.build_marts(silver)
    outcomes = built["fact_subject_outcomes"]
    features = subject_level_features(silver["DM"], silver["AE"])
    payload = dashboard_payload(outcomes, features)
    payload["study_overview"] = [
        r.asDict()
        for r in bounded_collect(built["dim_study_overview"], CHART_MAX_ROWS)
    ]
    dq_rows: list[dict] = []
    for domain, rules in DOMAIN_RULES.items():
        if domain in silver:
            report = check_report(silver[domain], rules)
            for r in bounded_collect(report, REPORT_ROWS_PER_RULE * len(rules)):
                dq_rows.append({"domain": domain, **r.asDict()})
    payload["dq_checks"] = dq_rows
    payload["_meta"] = {
        "generated_at": generated_at
        or datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "sections": 10,
    }
    return payload


def render_html(payload: dict, title: str = "Clinical Study Report") -> str:
    """Pure function: payload dict -> single-file HTML string."""
    p = payload
    tiles = (p.get("overview_metrics") or [{}])[0]
    tile_html = "".join(
        f"<div class='tile'><div class='v'>{tiles.get(k, '—')}</div>"
        f"<div>{lbl}</div></div>"
        for k, lbl in [
            ("total_subjects", "Total Subjects"),
            ("total_aes", "Total Adverse Events"),
            ("serious_aes", "Serious AEs"),
            ("avg_age", "Average Age"),
        ]
    )
    sections = [
        f"<h1>{_html.escape(title)}</h1>",
        f"<p class='meta'>generated {p.get('_meta', {}).get('generated_at', '')}"
        " · computed by the Spark engine, rendered statically</p>",
        "<h2>Study Overview</h2>",
        f"<div class='tiles'>{tile_html}</div>",
        _table(p.get("study_overview", [])),
        "<h2>Age Distribution</h2>",
        _bars(p.get("age_histogram", []), "bin_lo", "n"),
        "<h2>Safety Risk Categories</h2>",
        _bars(p.get("safety_risk_breakdown", []), "safety_risk_category", "n"),
        "<h2>Treatment Arms</h2>",
        _bars(p.get("arm_distribution", []), "treatment_arm", "n"),
        "<h2>Adverse Events by Arm</h2>",
        _table(p.get("ae_by_arm", [])),
        "<h2>Demographics (Arm × Sex)</h2>",
        _table(p.get("demographics_by_arm_sex", [])),
        "<h2>Feature Correlations</h2>",
        _table(p.get("feature_correlations", [])),
        "<h2>Treatment Summary</h2>",
        _table(p.get("treatment_summary", [])),
        "<h2>Data Quality Checks</h2>",
        _table(p.get("dq_checks", [])),
    ]
    body = "\n".join(sections)
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{_html.escape(title)}</title><style>{_CSS}</style></head>"
        f"<body>{body}</body></html>"
    )


def write_report(silver: dict, out_dir: str) -> dict[str, str]:
    """Materialize report.html + report.json under out_dir; returns the
    written paths. JSON carries the full payload so downstream tooling
    (or the serving layer) can re-render without touching Spark."""
    os.makedirs(out_dir, exist_ok=True)
    payload = build_report_payload(silver)
    html_path = os.path.join(out_dir, "report.html")
    json_path = os.path.join(out_dir, "report.json")
    with open(html_path, "w") as f:
        f.write(render_html(payload))
    with open(json_path, "w") as f:
        json.dump(payload, f, indent=2, default=str)
    return {"html": html_path, "json": json_path}
