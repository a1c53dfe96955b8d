"""End-to-end gates: dup-pair recall >= 0.99, cluster membership equality,
quarantine, permutation invariance, checkpointed resume (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from europa_spark.checkpoint import CheckpointStore
from europa_spark.config import CANONICAL
from europa_spark.pipeline import run


@pytest.fixture(scope="module")
def result(spark, docs_df):
    out = run(docs_df)
    for k in ("pairs", "components", "report"):
        out[k] = out[k].cache()
    return out


def _pair_urls(corpus):
    return {
        (a, b) for a, b, _, _ in corpus.expected_pairs.itertuples(index=False)
    }


def test_dup_pair_recall(result, corpus):
    """THE gate (BASELINE.json): recall >= 0.99 of planted dup pairs at the
    canonical config. Found pairs are compared at the connectivity level:
    a planted (a, b) counts as recalled iff a and b share a cluster."""
    comp = {r["url"]: r["cluster_id"] for r in result["components"].collect()}
    planted = _pair_urls(corpus)
    recalled = sum(
        1 for a, b in planted if comp.get(a) is not None and comp.get(a) == comp.get(b)
    )
    recall = recalled / len(planted)
    assert recall >= 0.99, recall


def test_cluster_membership_equality(result, corpus):
    """Cluster assignments must match the planted truth exactly (membership
    equality, not just recall — no over-merging either)."""
    got = {r["url"]: r["cluster_id"] for r in result["components"].collect()}
    want = dict(
        zip(corpus.expected_clusters["url"], corpus.expected_clusters["cluster_id"])
    )
    assert got == want


def test_quarantine_and_report(result, corpus, docs_df):
    quar = {r["url"] for r in result["quarantine"].collect()}
    assert quar == set(corpus.expected_quarantine["url"])
    report = result["report"]
    assert report.count() == docs_df.count() - len(quar)
    dup_rows = report.filter("is_duplicate").count()
    n_clustered = len(corpus.expected_clusters)
    n_components = corpus.expected_clusters["cluster_id"].nunique()
    assert dup_rows == n_clustered - n_components


def test_permutation_invariance(spark, docs_df, result):
    """Shuffling/repartitioning input never changes cluster membership
    (SURVEY.md §5.2 property 5)."""
    shuffled = docs_df.repartition(13).sortWithinPartitions("lang")
    got = {
        r["url"]: r["cluster_id"]
        for r in run(shuffled)["components"].collect()
    }
    base = {r["url"]: r["cluster_id"] for r in result["components"].collect()}
    assert got == base


def test_checkpoint_resume(spark, docs_df, tmp_path, result):
    """Resume: second run with the same store recomputes nothing and
    returns identical outputs (idempotent-resume property)."""
    store = CheckpointStore(str(tmp_path / "ckpt"), CANONICAL.config_hash())
    r1 = run(docs_df, store=store)
    pairs1 = {(r["url_a"], r["url_b"]) for r in r1["pairs"].collect()}
    stages_after_first = {c["stage"] for c in store.counters()}

    store2 = CheckpointStore(str(tmp_path / "ckpt"), CANONICAL.config_hash())
    r2 = run(docs_df, store=store2)
    pairs2 = {(r["url_a"], r["url_b"]) for r in r2["pairs"].collect()}
    assert pairs1 == pairs2
    # no stage re-ran: counters unchanged after the resumed run
    assert {c["stage"] for c in store2.counters()} == stages_after_first
    assert len(store2.counters()) == len(store.counters())
    # and the result matches the non-checkpointed run
    base = {(r["url_a"], r["url_b"]) for r in result["pairs"].collect()}
    assert pairs1 == base


def test_counters_lineage(spark, docs_df, tmp_path):
    store = CheckpointStore(str(tmp_path / "c2"), CANONICAL.config_hash())
    run(docs_df, store=store)
    counters = store.counters()
    assert counters, "counters must be recorded"
    for c in counters:
        assert c["rows_out"] == sum(p["rows"] for p in c["partitions"])
        assert c["wall_ms"] >= 0


def test_live_progress_without_store(spark, docs_df):
    """S5: a STORE-LESS run must still emit a live per-stage progress stream
    (r01 gap: counters existed only at checkpoint-save time)."""
    from europa_spark.progress import ProgressTracker

    seen_live = []
    tracker = ProgressTracker(on_event=seen_live.append)
    out = run(docs_df, tracker=tracker)
    out["report"].count()
    out["release"]()
    stages = {e.stage for e in tracker.events if e.kind == "end"}
    assert {"membership", "signatures_dual", "pairs", "components"} <= stages
    assert seen_live == tracker.events  # streamed as they happened
    assert all(
        e.wall_ms is not None and e.wall_ms >= 0
        for e in tracker.events if e.kind == "end"
    )


def test_release_unpersists_everything(spark, docs_df):
    """Storage hygiene: release() must drop every block this run cached —
    repeated runs in one session may not accumulate storage memory."""
    jsc = spark.sparkContext._jsc.sc()

    def cached_ids():
        return {
            i.id() for i in jsc.getRDDStorageInfo() if i.numCachedPartitions() > 0
        }

    before = cached_ids()  # other tests' module-scoped caches may be live
    out = run(docs_df)
    out["report"].count()  # materialize (lazy persists fill the cache)
    assert cached_ids() - before, "run should have cached frames"
    out["release"]()
    leftover = cached_ids() - before
    assert not leftover, leftover


def test_memory_page_size_does_not_follow_heap(spark):
    """Tungsten pages stay small on the fixture's 4g driver: a page size
    derived from the heap (32 MB here, 64 MB at 24g) gives every hash
    aggregate, join and sort of every tiny task a humongous zero-filled
    page."""
    mm = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()
    assert mm.pageSizeBytes() <= 4 * 1024 * 1024, mm.pageSizeBytes()


def test_job_group_cancellation(spark):
    """CancellationToken analog: cancelling the job group aborts an
    in-flight action quickly instead of letting it run to completion."""
    import threading
    import time

    from europa_spark.cancel import JobGroup

    group = JobGroup(spark, "cancel-test")
    err = {}

    def slow_action():
        with group:
            try:
                # ~minutes of work if not cancelled; overflow-safe under
                # Spark 4 ANSI mode (id % 7 stays tiny — sum(id*id) would
                # raise ARITHMETIC_OVERFLOW and die before the cancel)
                spark.range(200_000_000_000).selectExpr(
                    "count(if(id % 7 = 0, 1, null)) AS n"
                ).collect()
            except Exception as e:  # noqa: BLE001 — wrapper type varies
                err["e"] = f"{type(e).__name__}: {e}"

    t = threading.Thread(target=slow_action)
    t0 = time.time()
    t.start()
    # cancelJobGroup only cancels ALREADY-SUBMITTED jobs — cancelling before
    # the action registers silently no-ops. Poll until the job is live.
    tracker = spark.sparkContext.statusTracker()
    while not tracker.getActiveJobsIds():
        if time.time() - t0 > 30:
            raise AssertionError("job never started")
        time.sleep(0.05)
    group.cancel()
    t.join(timeout=60)
    assert not t.is_alive(), "action did not abort after cancel"
    assert time.time() - t0 < 60
    assert "cancel" in err.get("e", "").lower(), err.get("e", "no error raised")
