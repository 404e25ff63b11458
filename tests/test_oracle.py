"""Differential tests: every registered query vs its DuckDB oracle —
the local mirror of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from feature_store_spark.oracle import compare, first_diff
from feature_store_spark.queries import SPECS, all_queries

all_queries()  # register extension specs before parametrization

ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.sql is not None)
ROWS_ONLY_NAMES = sorted(n for n, s in SPECS.items() if s.sql is None)

# One DataFrame build per query, shared by the match + atomic-schema
# tests below: fn() is plan construction, but the iterative queries
# (kmeans, curation label-prop, knn fixtures) run real driver-side
# jobs while building — paying that twice per query cost the suite
# ~3 min of its 33 (round 11, VERDICT r10 item 6). DataFrames are
# immutable plans; reuse cannot leak state between the two checks.
# Keyed by session and fixture dir too: a frame is bound to the
# session and the data it was planned against.
_DF_CACHE: dict[tuple, object] = {}


def _df(spark, sf_dir, name):
    key = (id(spark), sf_dir, name)
    if key not in _DF_CACHE:
        _DF_CACHE[key] = SPECS[name].fn(spark, sf_dir)
    return _DF_CACHE[key]


def test_df_cache_keys_on_session_and_fixture_dir(monkeypatch):
    """A cached frame is reused only for the same (session, sf_dir,
    name); another fixture dir or session plans its own frame."""
    from types import SimpleNamespace

    calls = []

    def fn(spark, sf_dir):
        calls.append((spark, sf_dir))
        return object()

    monkeypatch.setitem(SPECS, "__cache_probe", SimpleNamespace(fn=fn))
    monkeypatch.setattr(f"{__name__}._DF_CACHE", {})
    s1, s2 = object(), object()
    a = _df(s1, "/sf_a", "__cache_probe")
    assert _df(s1, "/sf_a", "__cache_probe") is a
    assert _df(s1, "/sf_b", "__cache_probe") is not a
    assert _df(s2, "/sf_a", "__cache_probe") is not a
    assert calls == [(s1, "/sf_a"), (s1, "/sf_b"), (s2, "/sf_a")]


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    spec = SPECS[name]
    df = _df(spark, sf_dir, name)
    report = compare(df, duck, spec.sql)
    if not report["ok"]:
        diff = first_diff(spec.fn(spark, sf_dir), duck, spec.sql)
        pytest.fail(f"{name}: {report}\ndiff: {diff}")


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_query_runs(spark, sf_dir, name):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.columns) > 0


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_query_output_is_atomic(spark, sf_dir, name):
    """Driver-canonicalizer contract: the round driver sorts/hashes
    results with pandas, which cannot handle list/dict cells (the r1
    `err` rows on array<double> outputs). Every oracle-checked query
    must therefore project complex types to deterministic scalars
    (see queries_llm._stringify_vec). Plan-only — nothing executes."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = _df(spark, sf_dir, name)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name} emits non-atomic output columns {bad}; stringify them "
        "on both Spark and oracle sides"
    )


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs = e.queries()
    sqls = e.oracle_sql()
    assert set(sqls) <= set(qs)
    assert len(qs) >= 10
