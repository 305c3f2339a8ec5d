"""Data-quality assertion runner — the dbt-test DSL re-expressed (SURVEY.md §2.11).

A test is a query returning violating rows; pass <=> 0 rows (dbt's
contract). Each generic test compiles to a boolean violation column
counted as ``sum(CASE WHEN violation THEN 1 ELSE 0 END)`` — pushdown-
friendly, no driver materialization beyond the count. ``run_assertions``
batches every assertion read from the same SCAN into ONE aggregate pass,
so a 37-test suite costs a handful of scans rather than 37. The scan is
the asserted model itself unless the assertion names another model in
``scan``: checks on a chain of views (unified -> enriched -> cleaned)
then share one pass over the last view that still holds every row,
instead of rebuilding the chain once per model.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Assertion:
    name: str
    model: str
    violation: Column  # boolean column: true == row violates
    severity: str = "error"  # error | warn
    #: model whose aggregate pass evaluates this check in place of
    #: ``model``. Contract: its rows are a superset of ``model``'s rows,
    #: with the same values in every column ``violation`` reads, and
    #: ``violation`` is false or NULL on the extra rows.
    scan: str | None = None


@dataclass
class AssertionResult:
    name: str
    model: str
    failures: int
    severity: str

    @property
    def passed(self) -> bool:
        return self.failures == 0


def not_null(model: str, col: str) -> Assertion:
    """T1: dbt ``not_null``."""
    return Assertion(f"not_null__{model}__{col}", model, F.col(col).isNull())


def accepted_values(model: str, col: str, values: Sequence) -> Assertion:
    """T2: dbt ``accepted_values`` (NULLs pass, as in dbt)."""
    return Assertion(
        f"accepted_values__{model}__{col}",
        model,
        F.col(col).isNotNull() & ~F.col(col).isin(list(values)),
    )


def accepted_range(
    model: str, col: str, min_value=None, max_value=None, inclusive: bool = True
) -> Assertion:
    """T3: dbt_utils.accepted_range (NULLs pass)."""
    c = F.col(col)
    ok = F.lit(True)
    if min_value is not None:
        ok = ok & (c >= min_value if inclusive else c > min_value)
    if max_value is not None:
        ok = ok & (c <= max_value if inclusive else c < max_value)
    return Assertion(f"accepted_range__{model}__{col}", model, c.isNotNull() & ~ok)


def expression_is_true(model: str, name: str, violation: Column) -> Assertion:
    """T5-style singular row-level test from an arbitrary predicate."""
    return Assertion(name, model, violation)


def run_assertions(
    models: dict[str, DataFrame], assertions: Sequence[Assertion]
) -> list[AssertionResult]:
    """Evaluate all assertions, one aggregate job per distinct scan.

    An assertion is counted over ``models[a.scan]`` when it names a scan
    present in ``models`` (see :class:`Assertion` for the contract the
    scan must meet), otherwise over ``models[a.model]`` — so a caller
    passing only some models still gets every check it can resolve.
    Results are grouped by ``model`` in first-appearance order, each
    group in input order, whichever scan counted them.
    """
    by_scan: dict[str, list[tuple[int, Assertion]]] = {}
    for i, a in enumerate(assertions):
        scan = a.scan if a.scan in models else a.model
        by_scan.setdefault(scan, []).append((i, a))

    failures: dict[int, int] = {}
    for scan, group in by_scan.items():
        aggs = [
            F.sum(F.when(a.violation, 1).otherwise(0)).cast("long").alias(str(i))
            for i, a in group
        ]
        row = models[scan].agg(*aggs).first()
        for i, _ in group:
            failures[i] = int(row[str(i)] or 0)

    model_order: dict[str, int] = {}
    for a in assertions:
        model_order.setdefault(a.model, len(model_order))
    results = [
        AssertionResult(a.name, a.model, failures[i], a.severity)
        for i, a in enumerate(assertions)
    ]
    return sorted(results, key=lambda r: model_order[r.model])


def positive_fare_threshold(fct: DataFrame, tolerance: float = 0.05) -> AssertionResult:
    """T4: dbt/tests/marts/assert_positive_fare.sql — fail when >5% of rows
    have fare_amount <= 0 OR total_amount <= 0. The reference computes the
    ratio via two single-row aggregate CTEs and a 1x1 implicit cross join;
    one aggregate pass is the Spark-native equivalent."""
    row = fct.agg(
        F.sum(
            F.when((F.col("fare_amount") <= 0) | (F.col("total_amount") <= 0), 1).otherwise(0)
        ).alias("problem_count"),
        F.count("*").alias("total_count"),
    ).first()
    problem, total = int(row.problem_count or 0), int(row.total_count or 0)
    pct = (problem * 100.0 / total) if total else 0.0
    return AssertionResult(
        "assert_positive_fare", "fct_trips", 1 if pct > tolerance * 100 else 0, "error"
    )


def valid_speed(fct: DataFrame) -> AssertionResult:
    """T5: dbt/tests/marts/assert_valid_speed.sql — any row with
    avg_speed_mph <= 0 OR avg_speed_mph > 100 fails."""
    n = fct.filter((F.col("avg_speed_mph") <= 0) | (F.col("avg_speed_mph") > 100)).count()
    return AssertionResult("assert_valid_speed", "fct_trips", n, "error")


def source_freshness(
    df: DataFrame,
    loaded_at_col: str = "loaded_at",
    warn_after_days: int = 2,
    error_after_days: int = 5,
) -> str:
    """T6: dbt source freshness (sources.yml:21-23) -> 'pass'|'warn'|'error'."""
    row = df.agg(F.max(loaded_at_col).alias("mx"), F.current_timestamp().alias("now")).first()
    if row.mx is None:
        return "error"
    age_days = (row.now - row.mx).total_seconds() / 86400.0
    if age_days > error_after_days:
        return "error"
    if age_days > warn_after_days:
        return "warn"
    return "pass"
