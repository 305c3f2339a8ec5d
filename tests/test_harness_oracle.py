"""Cross-check every registered harness query against its DuckDB oracle —
the local mirror of the driver's correctness gate, at the driver's sf
(0.01) with exact value comparison."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

from lakehouse_platform_nyc_taxi_spark import harness

from .conftest import SF_ORACLE
from .oracle_utils import assert_matches_oracle


def _specs():
    return [
        pytest.param(spec, id=name) for name, spec in sorted(harness.registry().items())
    ]


@pytest.mark.parametrize("spec", _specs())
def test_query_matches_oracle(spark, duck_oracle, spec):
    df = spec.fn(spark, SF_ORACLE)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check, like the driver
        return
    assert_matches_oracle(df, duck_oracle, spec.oracle, name=spec.name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_approx_distinct_within_error_bound(spark):
    """agg_approx_distinct folds its accuracy claim into the result as a
    `within_bound` flag (|approx-exact| <= max(3*rsd*exact, 5) at
    rsd=0.05) that the DuckDB oracle pins TRUE — this checks the flag
    and the underlying estimate directly."""
    rows = harness.registry()["agg_approx_distinct"].fn(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r.exact_users > 0
        assert r.within_bound, (r.event_type, r.exact_users)


def test_every_registered_query_in_coverage_md():
    """COVERAGE.md is the parity ledger: every harness.queries() name must
    appear in it (as `name` in a table row) so new registrations can't
    silently skip documentation (VERDICT r6 'Next round' #4)."""
    import pathlib

    cov = pathlib.Path(__file__).resolve().parents[1] / "COVERAGE.md"
    text = cov.read_text()
    missing = [n for n in harness.registry() if f"`{n}`" not in text]
    assert not missing, f"queries absent from COVERAGE.md: {missing}"


def _write_round(path, rnd, rows):
    (path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def _registered():
    """Registration order: the names in the order their modules ran."""
    return list(harness._REGISTRY)


GREEN = {"rows_match": True, "err": None}


@pytest.fixture
def history(tmp_path, monkeypatch):
    """An empty attestation history that registry() reads instead of the
    repo's; tests add rounds with ``_write_round``."""
    monkeypatch.setattr(harness, "HISTORY_DIR", tmp_path)
    return tmp_path


def test_registry_without_history_keeps_registration_order(history):
    assert list(harness.registry()) == _registered()


def test_registry_orders_by_latest_green_round(history):
    a, b, c = _registered()[:3]
    _write_round(history, 3, {a: GREEN, b: GREEN})
    _write_round(history, 5, {a: GREEN})
    _write_round(history, 4, {c: GREEN})
    # every never-green name (round 0) comes first; then
    # b (r3), c (r4), a (r5 beats its r3 row)
    assert list(harness.registry())[-3:] == [b, c, a]


def test_registry_ignores_failing_rows(history):
    a, b, c = _registered()[:3]
    _write_round(history, 2, {a: GREEN, b: GREEN, c: GREEN})
    _write_round(
        history,
        7,
        {
            a: {"rows_match": None, "err": "no_oracle"},
            b: {"rows_match": False, "err": None},
            c: GREEN,
        },
    )
    assert harness.latest_green_round() == {a: 2, b: 2, c: 7}
    assert list(harness.registry())[-3:] == [a, b, c]


def test_registry_ties_keep_registration_order(history):
    reg = _registered()
    late = reg[::7]
    _write_round(history, 9, {n: GREEN for n in late})
    names = list(harness.registry())
    assert names[-len(late):] == late
    assert names[: -len(late)] == [n for n in reg if n not in late]


def test_registry_order_does_not_depend_on_import_order():
    """A process that imports a query module before the package lists the
    same order as one that imports the package alone."""
    script = (
        "import importlib, sys\n"
        "for m in sys.argv[1:]: importlib.import_module(m)\n"
        "from lakehouse_platform_nyc_taxi_spark import harness\n"
        "print(' '.join(harness.registry()))\n"
    )
    pkg = "lakehouse_platform_nyc_taxi_spark.harness"

    def names(*first):
        out = subprocess.run(
            [sys.executable, "-c", script, *first],
            cwd=harness.HISTORY_DIR, capture_output=True, text=True, check=True,
        )
        return out.stdout.split()

    package_first = names()
    assert names(f"{pkg}.tpcds") == package_first
    assert names(f"{pkg}.scale_corpus") == package_first


def test_registry_yields_every_registered_name_once():
    names = list(harness.registry())
    assert len(names) == len(set(names))
    assert set(names) == set(harness._REGISTRY)


def test_driver_window_is_the_least_recently_attested():
    """With the checked-in history, no query in the driver's window (the
    first 50) was attested later than any query after it."""
    latest = harness.latest_green_round()
    rounds = [latest.get(n, 0) for n in harness.registry()]
    assert max(rounds[:50]) <= min(rounds[50:])


def test_approx_percentile_high_cardinality_error_bound(spark, duck_oracle):
    """The genuinely-approximate sketch case (high-cardinality price):
    GK with accuracy a guarantees rank error <= n/a; check the returned
    value sits within the exact value's neighborhood (0.5% relative —
    far looser than the rank bound implies on this data)."""
    from pyspark.sql import functions as F

    from lakehouse_platform_nyc_taxi_spark.sources.testdata import load_table

    from .conftest import SF_ORACLE

    li = load_table(spark, SF_ORACLE, "lineitem")
    got = {
        r.l_returnflag: list(r.ap)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)"
            ).alias("ap")
        )
        .collect()
    }
    exact = {
        flag: [p50, p90, p99]
        for flag, p50, p90, p99 in duck_oracle.execute(
            """
            SELECT l_returnflag,
                   quantile_disc(l_extendedprice, 0.5),
                   quantile_disc(l_extendedprice, 0.9),
                   quantile_disc(l_extendedprice, 0.99)
            FROM lineitem GROUP BY 1
            """
        ).fetchall()
    }
    assert set(got) == set(exact)
    for flag in got:
        for a, e in zip(got[flag], exact[flag]):
            assert abs(a - e) / e < 0.005, (flag, a, e)
