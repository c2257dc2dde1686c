"""Declarative data-quality check engine.

Re-expresses the reference's three validation stacks — pandera schemas
(validation/pandera_schemas.py:15-132), Great Expectations suites
(validation/ge_expectations.py:64-153) and dbt schema tests
(dbt/clinical_dbt/models/sources.yml, marts/schema.yml) — as ONE rule
registry compiled to a SINGLE Spark aggregation pass per table
(deequ-style). At 100 TB this matters: N rules cost one scan, not N.

Rule kinds (SURVEY.md §2.9 V1-V11):
  not_null, unique, accepted_values, in_range, regex, str_length,
  cross_column (arbitrary boolean SQL predicate), row_count bounds,
  composite_unique, referential (FK containment — needs a join, separate
  pass), freshness (max timestamp lag vs a reference instant).

Each rule compiles to a violation-count aggregate
``sum(CASE WHEN <violates> THEN 1 ELSE 0 END)``; the report mirrors
validation/validator.py:63-77 ({rule, column, violations, passed}).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..catalog import ONE_ROW, bounded_collect


@dataclass(frozen=True)
class Rule:
    kind: str
    column: str | None = None
    params: dict[str, Any] = field(default_factory=dict)

    @property
    def name(self) -> str:
        col = self.column or self.params.get("columns") or ""
        if isinstance(col, (list, tuple)):
            col = "_".join(col)
        return f"{self.kind}__{col}" if col else self.kind


def not_null(column: str) -> Rule:
    return Rule("not_null", column)


def unique(column: str) -> Rule:
    return Rule("unique", column)


def accepted_values(column: str, values: list) -> Rule:
    return Rule("accepted_values", column, {"values": list(values)})


def in_range(column: str, lo=None, hi=None, strict_hi: bool = False) -> Rule:
    return Rule("in_range", column, {"lo": lo, "hi": hi, "strict_hi": strict_hi})


def regex(column: str, pattern: str) -> Rule:
    return Rule("regex", column, {"pattern": pattern})


def str_length(column: str, lo: int = 0, hi: int = 10**9) -> Rule:
    return Rule("str_length", column, {"lo": lo, "hi": hi})


def cross_column(name: str, predicate: str) -> Rule:
    """predicate: boolean SQL expression that must hold on every row."""
    return Rule("cross_column", name, {"predicate": predicate})


def composite_unique(columns: list[str]) -> Rule:
    return Rule("composite_unique", None, {"columns": list(columns)})


def freshness(column: str, now: str, warn_minutes: int, breach_minutes: int) -> Rule:
    """now: ISO timestamp literal — injected, never current_timestamp(),
    so results are deterministic/testable (src/common/freshness.py:33-57)."""
    return Rule(
        "freshness",
        column,
        {"now": now, "warn_minutes": warn_minutes, "breach_minutes": breach_minutes},
    )


def _violation_agg(rule: Rule) -> Column:
    """Compile a rule to ONE aggregate expression counting violations."""
    c = F.col(rule.column) if rule.column else None
    k = rule.kind
    if k == "not_null":
        return F.sum(F.when(c.isNull(), 1).otherwise(0))
    if k == "unique":
        # duplicates among non-null values
        return F.count(c) - F.countDistinct(c)
    if k == "accepted_values":
        bad = (~c.isin(rule.params["values"])) & c.isNotNull()
        return F.sum(F.when(bad, 1).otherwise(0))
    if k == "in_range":
        lo, hi = rule.params.get("lo"), rule.params.get("hi")
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (c < F.lit(lo))
        if hi is not None:
            cond = cond | (
                (c >= F.lit(hi)) if rule.params.get("strict_hi") else (c > F.lit(hi))
            )
        return F.sum(F.when(cond & c.isNotNull(), 1).otherwise(0))
    if k == "regex":
        bad = (~c.rlike(rule.params["pattern"])) & c.isNotNull()
        return F.sum(F.when(bad, 1).otherwise(0))
    if k == "str_length":
        ln = F.length(c)
        bad = ((ln < rule.params["lo"]) | (ln > rule.params["hi"])) & c.isNotNull()
        return F.sum(F.when(bad, 1).otherwise(0))
    if k == "cross_column":
        pred = F.expr(rule.params["predicate"])
        # a NULL predicate is not a violation (3-valued logic, pandera parity)
        return F.sum(F.when(~F.coalesce(pred, F.lit(True)), 1).otherwise(0))
    if k == "composite_unique":
        # distinct over a STRUCT: multi-column countDistinct would silently
        # skip rows where any key is NULL (SQL semantics); wrapping in a
        # struct keeps NULL-bearing keys countable (dbt
        # unique_combination_of_columns / DuckDB count(distinct (a,b)))
        cols = rule.params["columns"]
        return F.count(F.lit(1)) - F.countDistinct(
            F.struct(*[F.col(x) for x in cols])
        )
    if k == "freshness":
        lag_min = _freshness_lag_min(rule)
        return F.when(lag_min > rule.params["breach_minutes"], 1).otherwise(0)
    raise ValueError(f"unknown rule kind {k!r}")


def _freshness_lag_min(rule: Rule) -> Column:
    """Staleness in minutes, shared by the breach and warn aggregates.
    Long casts (whole seconds) match DuckDB date_diff('second', ...)."""
    now = F.lit(rule.params["now"]).cast("timestamp")
    return (now.cast("long") - F.max(F.col(rule.column)).cast("long")) / 60.0


def _warn_agg(rule: Rule) -> Column | None:
    """Secondary warn-level aggregate for rules with a warning tier.

    Freshness has two thresholds (src/common/freshness.py:52-57): the
    breach count is the rule's violation column; this emits the companion
    ``<name>__warn`` column — 1 when staleness exceeds warn_minutes but
    not breach_minutes."""
    if rule.kind != "freshness":
        return None
    lag_min = _freshness_lag_min(rule)
    warn = (lag_min > rule.params["warn_minutes"]) & (
        lag_min <= rule.params["breach_minutes"]
    )
    return F.when(warn, 1).otherwise(0)


def run_checks(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Compile ALL rules into one aggregation pass.

    Returns a single wide row: n_rows plus one BIGINT violation count per
    rule (column name = rule.name). One scan, map-side partial aggregation,
    O(1) output — the shape that survives 100 TB.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for r in rules:
        aggs.append(_violation_agg(r).cast("long").alias(r.name))
        warn = _warn_agg(r)
        if warn is not None:
            aggs.append(warn.cast("long").alias(f"{r.name}__warn"))
    return df.agg(*aggs)


#: check_report emits at most this many rows per rule (breach + warn tier)
REPORT_ROWS_PER_RULE = 2


def check_report(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Long-format report {rule, violations, passed, severity} via one wide
    pass + an unpivot (stack) — still one scan of the data.

    Warning-tier rows (``<name>__warn``, freshness) carry
    severity='warn' and passed=NULL: a warning is NOT a breach
    (src/common/freshness.py:52-57 keeps the tiers distinct), so report
    consumers scanning for passed=false see only true failures."""
    wide = run_checks(df, rules)
    names = [c for c in wide.columns if c != "n_rows"]
    stack_expr = "stack({n}, {args}) as (rule, violations)".format(
        n=len(names), args=", ".join(f"'{n}', `{n}`" for n in names)
    )
    is_warn = F.col("rule").endswith("__warn")
    return wide.selectExpr("n_rows", stack_expr).select(
        "rule",
        "violations",
        F.when(is_warn, F.lit(None).cast("boolean"))
        .otherwise(F.col("violations") == 0)
        .alias("passed"),
        F.when(is_warn, "warn").otherwise("breach").alias("severity"),
        "n_rows",
    )


def referential_violations(
    child: DataFrame, parent: DataFrame, child_key: str, parent_key: str
) -> DataFrame:
    """FK containment (dbt relationships test): rows in child with no parent.
    Implemented as a left-anti join; broadcast parent when it's dim-sized."""
    return child.join(
        parent.select(F.col(parent_key).alias("__pk")).dropDuplicates(),
        child[child_key] == F.col("__pk"),
        "left_anti",
    )


def freshness_sli(
    df: DataFrame,
    ts_col: str,
    now: str,
    slo_minutes: int = 120,
    warn_factor: float = 1.25,
) -> dict:
    """Freshness SLI report (src/common/freshness.py:15,52-57 parity):
    minutes since the newest row vs an SLO; status ok / warning (<= SLO *
    warn_factor) / breach. ``now`` is injected for determinism; pass
    datetime.utcnow().isoformat() in production. Returns the JSON-able
    dict the reference writes to freshness_sli.json."""
    now_s = F.lit(now).cast("timestamp")
    row = bounded_collect(
        df.agg(
            F.max(ts_col).alias("max_ts"),
            ((now_s.cast("long") - F.max(ts_col).cast("long")) / 60.0).alias("lag_min"),
        ),
        ONE_ROW,
    )[0]
    max_ts = row["max_ts"]
    lag_min = float(row["lag_min"])
    if lag_min <= slo_minutes:
        status = "ok"
    elif lag_min <= slo_minutes * warn_factor:
        status = "warning"
    else:
        status = "breach"
    return {
        "max_timestamp": str(max_ts),
        "as_of": now,
        "lag_minutes": round(lag_min, 2),
        "slo_minutes": slo_minutes,
        "warn_threshold_minutes": round(slo_minutes * warn_factor, 1),
        "status": status,
    }
