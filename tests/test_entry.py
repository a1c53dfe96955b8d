"""Driver-contract surface: entry() must run on a BARE SparkSession (the
driver builds its own session without our confs) and every queries() entry
must produce a stable schema at sf0.001."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_entry_runs_on_bare_session(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"url", "cluster_id", "is_duplicate"}


def test_queries_and_oracles_consistent():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs), "oracle without a query"
    # SQL-expressible coverage: at least 12 oracle-gated entries
    assert len(os_) >= 12


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_each_query_runs(spark, name):
    fn = entrymod.queries()[name]
    df = fn(spark, SF)
    assert df.columns, name
    assert df.count() >= 0


@pytest.mark.parametrize("name", ["shingle_jaccard_pairs", "unigram_jaccard_pairs"])
def test_cross_join_queries_refuse_large_inputs(spark, monkeypatch, name):
    """The brute-force pair queries raise, naming their bound, instead of
    starting an n^2 join over an input above it (sf0.001 holds 500 docs)."""
    monkeypatch.setattr(entrymod, "_QUADRATIC_MAX_DOCS", 499)
    with pytest.raises(ValueError, match="accept at most 499"):
        entrymod.queries()[name](spark, SF)
