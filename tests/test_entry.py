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


def _kernel_stages(spark, group_id: str) -> dict[str, int]:
    """Completed stages per Python plan node (ArrowEvalPython: a pandas UDF;
    MapInPandas: a map) among the group's jobs, read from the status
    store's per-stage operation graphs."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    counts: dict[str, int] = {}
    for jid in sc.statusTracker().getJobIdsForGroup(group_id):
        for sid in sc.statusTracker().getJobInfo(jid).stageIds:
            info = sc.statusTracker().getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue  # skipped: its output was reused
            names, stack = set(), [store.operationGraphForStage(sid).rootCluster()]
            while stack:
                c = stack.pop()
                names.add(c.name())
                ch = c.childClusters()
                stack.extend(ch.apply(i) for i in range(ch.size()))
            for nm in names & {"ArrowEvalPython", "MapInPandas"}:
                counts[nm] = counts.get(nm, 0) + 1
    return counts


@pytest.mark.parametrize(
    "name", ["media_phash_pairs", "media_blockmean_pairs", "video_dup_pairs"]
)
def test_media_pair_queries_run_each_kernel_once(spark, name):
    """The sketch pandas UDF and the decode/hash map run in one stage each:
    every band-join branch reads the one materialized signature frame (a
    lazy frame reran both kernels per branch: 3, 3 and 2 times)."""
    from europa_spark.cancel import JobGroup

    group = JobGroup(spark, f"kernels-{name}")
    with group:
        entrymod.queries()[name](spark, SF).count()
    assert _kernel_stages(spark, group.group_id) == {
        "ArrowEvalPython": 1, "MapInPandas": 1,
    }


@pytest.mark.parametrize("name", ["embedding_dup_pairs", "ann_lsh_topk"])
def test_ann_bucket_queries_run_the_hyperplane_udf_once(spark, name):
    """Both sides of the hyperplane-bucket self-join read one evaluation of
    the bucket pandas UDF (two separately projected sides ran it once per
    side)."""
    from europa_spark.cancel import JobGroup

    group = JobGroup(spark, f"kernels-{name}")
    with group:
        entrymod.queries()[name](spark, SF).count()
    assert _kernel_stages(spark, group.group_id) == {"ArrowEvalPython": 1}
