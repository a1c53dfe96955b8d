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


def _cached_ids(spark) -> set[int]:
    jsc = spark.sparkContext._jsc.sc()
    return {
        i.id() for i in jsc.getRDDStorageInfo() if i.numCachedPartitions() > 0
    }


def test_release_unpersists_everything(spark, docs_df):
    """Storage hygiene: release() must drop every block this run cached —
    repeated runs in one session may not accumulate storage memory."""
    before = _cached_ids(spark)  # other tests' module-scoped caches may be live
    out = run(docs_df)
    out["report"].count()  # materialize (lazy persists fill the cache)
    assert _cached_ids(spark) - before, "run should have cached frames"
    out["release"]()
    leftover = _cached_ids(spark) - before
    assert not leftover, leftover


def test_failed_run_releases_everything(spark, docs_df):
    """A run that raises mid-way (here: at the components stage, after the
    signature and pair checkpoints and the pair chains' caches are filled)
    frees every block it cached before the error reaches the caller."""
    from europa_spark.progress import ProgressTracker

    class Stop(Exception):
        pass

    def on_event(ev):
        if ev.stage == "components" and ev.kind == "begin":
            raise Stop

    before = _cached_ids(spark)
    with pytest.raises(Stop):
        run(docs_df, tracker=ProgressTracker(on_event=on_event))
    leftover = _cached_ids(spark) - before
    assert not leftover, leftover


def test_scope_releases_on_exception(spark):
    """A Scope body that persists, checkpoints and raises leaves nothing
    persisted."""
    from europa_spark.scope import Scope

    jsc = spark.sparkContext._jsc

    def persistent():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    before = persistent()
    with pytest.raises(ZeroDivisionError):
        with Scope(spark) as scope:
            df = scope.persist(spark.range(100).withColumn("k", F.col("id") % 7))
            ck = scope.checkpoint(df.groupBy("k").count())
            assert ck.count() == 7
            assert len(persistent() - before) == 2
            1 / 0
    assert persistent() - before == set()


def test_memory_page_size_does_not_follow_heap(spark):
    """Tungsten pages stay small on the fixture's 4g driver: a page size
    derived from the heap (32 MB here, 64 MB at 24g) gives every hash
    aggregate, join and sort of every tiny task a humongous zero-filled
    page."""
    mm = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()
    assert mm.pageSizeBytes() <= 4 * 1024 * 1024, mm.pageSizeBytes()


def test_driver_young_gen_follows_heap(spark):
    """The driver JVM's G1 young gen is fixed at a tenth of the heap the
    session asked for (4g here, not the 24g default), and its regions are
    large enough that a 4 MB page is not a humongous object."""
    jvm = spark._jvm
    diag = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))

    def mb(flag):
        return int(diag.getVMOption(flag).getValue()) // 2**20

    assert mb("G1HeapRegionSize") == 16
    # G1 rounds the young gen down to whole regions
    for flag in ("NewSize", "MaxNewSize"):
        assert 4096 // 10 - 16 < mb(flag) <= 4096 // 10, (flag, mb(flag))


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


@pytest.fixture(scope="module")
def small_docs(spark, tmp_path_factory):
    """A 300-doc corpus: small enough to run the pipeline once per method
    set, large enough to plant exact, near and substring duplicates."""
    from europa_spark.fixtures import generate, write_corpus

    d = str(tmp_path_factory.mktemp("small_corpus"))
    write_corpus(generate(300, seed=7), d)
    return spark.read.parquet(f"{d}/documents.parquet")


def _run_pairs(docs, methods, store=None):
    out = run(docs, methods=methods, store=store)
    try:
        return {(r["url_a"], r["url_b"]) for r in out["pairs"].collect()}
    finally:
        out["release"]()


@pytest.fixture(scope="module")
def standalone_pairs(small_docs):
    """method -> the (url_a, url_b) set of that method's standalone path on
    the same representatives pipeline.run pairs."""
    from europa_spark.exact import (
        exact_membership,
        exact_pairs,
        representatives,
        with_content_hash,
    )
    from europa_spark.extract import split_quarantine, with_extracted
    from europa_spark.minhash import minhash_pairs
    from europa_spark.simhash import simhash_pairs
    from europa_spark.substring import substring_pairs

    clean, _ = split_quarantine(with_extracted(small_docs))
    clean = clean.select("url", "warc_ts", "extracted").cache()
    reps = representatives(with_content_hash(clean)).select("url", "extracted")
    frames = {
        "exact": exact_pairs(exact_membership(clean)),
        "minhash": minhash_pairs(reps),
        "substring": substring_pairs(reps),
        "simhash": simhash_pairs(reps),
    }
    try:
        return {
            m: {(r["url_a"], r["url_b"]) for r in f.collect()}
            for m, f in frames.items()
        }
    finally:
        clean.unpersist()


@pytest.mark.parametrize(
    "methods",
    [
        ("exact", "minhash"),
        ("substring",),
        ("exact", "minhash", "substring", "simhash"),
    ],
)
def test_method_sets_equal_standalone_union(small_docs, standalone_pairs, methods):
    """Every method set pairs exactly the distinct union of its methods'
    standalone paths on the same representatives."""
    want = set().union(*(standalone_pairs[m] for m in methods))
    assert want, methods
    assert _run_pairs(small_docs, methods) == want


def test_store_resumed_under_larger_method_set(small_docs, tmp_path):
    """A store filled under one method set must not hand its stages to a
    run with another: the resumed run pairs what a store-less run pairs."""
    root = str(tmp_path / "ckpt")
    _run_pairs(
        small_docs, ("exact", "minhash"),
        CheckpointStore(root, CANONICAL.config_hash()),
    )
    methods = ("exact", "minhash", "substring")
    resumed = _run_pairs(
        small_docs, methods, CheckpointStore(root, CANONICAL.config_hash())
    )
    assert resumed == _run_pairs(small_docs, methods)


def test_unknown_method_raises(small_docs):
    with pytest.raises(ValueError, match="unknown methods"):
        run(small_docs, methods=("exact", "minhash*"))
