"""Oracle-battery self-check: every registered query with an oracle must
hash-match DuckDB at sf0.001 (fast) — mirrors the driver's t2 gate."""

from __future__ import annotations

import pytest

from .conftest import SF_SMOKE, register_duck_views
from .oracle import compare_spark_duck


def _cases():
    from hive_dwrf_spark.queries import load_registry

    queries, oracle = load_registry()
    return queries, oracle


def test_registry_nonempty():
    queries, oracle = _cases()
    # the full declared surface: a silent registration regression (lost
    # module import, decorator typo) must fail here, not in the driver
    assert len(queries) >= 107
    # every query carries an oracle — no rows-only weak checks
    assert set(oracle) == set(queries)


def test_registry_import_failure_raises(monkeypatch):
    """A query module that fails to import fails load_registry() instead
    of silently dropping its whole family from the registry."""
    import sys

    from hive_dwrf_spark.queries import load_registry

    monkeypatch.setitem(sys.modules, "hive_dwrf_spark.queries.pipeline", None)
    with pytest.raises(ImportError):
        load_registry()


@pytest.mark.parametrize("name", sorted(_cases()[1]))
def test_oracle_match(spark, duck, name):
    queries, oracle = _cases()
    register_duck_views(duck, SF_SMOKE)
    sdf = queries[name](spark, SF_SMOKE)
    ok, msg = compare_spark_duck(sdf, duck, oracle[name])
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", sorted(set(_cases()[0]) - set(_cases()[1])))
def test_rows_only(spark, name):
    queries, _ = _cases()
    sdf = queries[name](spark, SF_SMOKE)
    assert sdf.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["n_name", "rev"]


def test_q08_approx_within_5pct(spark):
    """SURVEY §2.C Q08: approx_count_distinct must land within 5% of the
    exact distinct count (HLL estimates are engine-specific, so this is the
    accuracy check rather than a hash oracle)."""
    queries, _ = _cases()
    exact = queries["q08"](spark, SF_SMOKE).collect()[0][0]
    approx = queries["q08_approx"](spark, SF_SMOKE).collect()[0][0]
    assert abs(approx - exact) / exact <= 0.05, (approx, exact)
