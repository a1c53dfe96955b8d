"""End-to-end near-duplicate pipeline — the SearchService dispatch analog
(Api/Implementations/SearchService.cs:32-44) over webtext.

Flow (SURVEY.md §3 Spark trace):
  scan -> lang/size filters -> extract -> quarantine split
       -> exact collapse (hash once per unique content)
       -> signature stages on representatives only
       -> confirmed pairs (exact star edges ∪ minhash ∪ substring [∪ simhash])
       -> union-find -> clusters / per-doc report

Default method set is (exact, minhash, substring) — the Jaccard-semantics
set the recall gate binds to; simhash is the opt-in fuzzy bit-level path.
Each stage optionally checkpoints through a CheckpointStore for mid-run
resume (north rule).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import CheckpointStore
from .cluster import (
    _tracked_local_checkpoint,
    _unpersist_ids,
    cluster_members,
    tracked_connected_components,
)
from .config import DedupConfig, CANONICAL
from .exact import content_hash_col, exact_pairs, exact_membership
from .extract import split_quarantine, with_extracted
from .minhash import (
    maybe_broadcast,
    minhash_pairs,
    with_dual_signatures,
    with_signatures,
)
from .progress import ProgressTracker
from .simhash import simhash_pairs
from .substring import substring_pairs

DEFAULT_METHODS = ("exact", "minhash", "substring")


def load_documents(spark: SparkSession, source: str) -> DataFrame:
    """Iceberg table name or parquet path/dir via the catalog shim."""
    from .catalog import load_table

    return load_table(spark, source)


def apply_filters(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Declarative scan predicates (FileFilter.cs:7-28 analog) — expressed
    as filters so Catalyst pushes them into the parquet/Iceberg scan."""
    out = docs
    if cfg.langs:
        out = out.filter(F.col("lang").isin(list(cfg.langs)))
    if cfg.exclude_langs:
        out = out.filter(~F.col("lang").isin(list(cfg.exclude_langs)))
    if cfg.min_bytes is not None or cfg.max_bytes is not None:
        size = F.length(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"))
        if cfg.min_bytes is not None:
            out = out.filter(size >= cfg.min_bytes)
        if cfg.max_bytes is not None:
            out = out.filter(size <= cfg.max_bytes)
    return out


def run(
    docs: DataFrame,
    cfg: DedupConfig = CANONICAL,
    methods: tuple[str, ...] = DEFAULT_METHODS,
    store: CheckpointStore | None = None,
    tracker: "ProgressTracker | None" = None,
) -> dict[str, DataFrame]:
    """Returns {'quarantine', 'membership', 'pairs', 'components',
    'clusters', 'report', 'release'} — DataFrames plus a ``release()``
    callable that unpersists every frame this run cached (call it when done
    consuming the outputs; a long-lived session otherwise accumulates
    storage blocks across runs).

    ``tracker`` (europa_spark.progress.ProgressTracker) receives live
    begin/end events per stage — the S5 progress stream — with or without a
    checkpoint store.
    """
    spark = docs.sparkSession
    persisted: list[DataFrame] = []

    def _persist(df: DataFrame) -> DataFrame:
        # LAZY persist: marks the subtree for caching so multi-consumer
        # frames compute once, but adds no materialization barrier — the
        # final actions trigger the whole DAG in one pass. (The r01 design
        # eagerly persist().count()ed every stage: ~10 serial job barriers
        # that dominated wall time as a corpus-independent floor.)
        persisted.append(df)
        return df.persist()

    ckpt_ids: set = set()

    def _truncate(df: DataFrame) -> tuple[DataFrame, int]:
        # EAGER materialization that ALSO cuts lineage (localCheckpoint):
        # one barrier job (a count, whose row total is returned alongside
        # the frame), after which downstream actions
        # plan against a leaf LogicalRDD instead of the full composed tree.
        # The deep frames here (signatures -> bands -> candidates -> verify
        # -> union) nest the whole upstream plan MULTIPLICATIVELY (each
        # self-join/union repeats the subtree), and Catalyst re-analyzes +
        # cache-matches that tree on EVERY downstream action — measured
        # ~2 s of pure driver planning per action on the cached pairs frame
        # at sf0.1 (count() on fully-cached 248 rows: 2.65 s; same count
        # after truncation: 0.11 s). The union-find loop alone paid it 2-3
        # times per run (r5's "components ~5.7 s driver floor" was mostly
        # this). Blocks are tracked and freed by release() like persists.
        out, ids = _tracked_local_checkpoint(df, eager=False)
        ckpt_ids.update(ids)
        return out, out.count()

    def release() -> None:
        for df in persisted:
            df.unpersist()
        persisted.clear()
        _unpersist_ids(spark, ckpt_ids)
        ckpt_ids.clear()

    def stage(name: str, compute):
        t0 = tracker.begin(name) if tracker is not None else None
        # tag every job this stage launches (thread-local): the Spark UI and
        # the event log then attribute shuffle/CPU metrics to the pipeline
        # stage by name (tools/stage_bytes.py reads them back)
        spark.sparkContext.setJobDescription(f"europa:{name}")
        try:
            if store is None:
                # store-less: stages stay lazy; only genuinely
                # multi-consumer frames are persisted by the caller below.
                return compute()
            # store-backed: the parquet write materializes the stage once
            # and a resumed run reads it back (J5 cache-hit semantics)
            df, _ = store.get_or_compute(spark, name, compute)
            return df
        finally:
            spark.sparkContext.setJobDescription(None)
            if tracker is not None:
                tracker.end(name, t0)

    filtered = apply_filters(docs, cfg)
    extracted = with_extracted(filtered)
    clean, quarantine = split_quarantine(extracted)
    # every downstream branch (membership, reps/signatures, report, clusters)
    # re-reads clean docs: cache extraction so the scan+regex chain runs once
    # instead of per branch. Narrow FIRST — downstream only needs
    # (url, warc_ts, extracted); keeping the html binary out of the cache
    # roughly halves the stored bytes (the in-memory analog of ReadSchema
    # pruning on a checkpoint table).
    # LAZY persist (r6; was an eager barrier): the first action to touch
    # clean is the signatures checkpoint job, and its winner-url BROADCAST
    # is a blocking dependency of the semi-join stream stage — Spark
    # materializes the broadcast subtree (clean cache -> membership cache ->
    # winner urls) BEFORE launching the stage that streams the clean cache,
    # so the extract chain still runs exactly once and the separate
    # materialization job round-trip is saved. Tracked as its own stage
    # (timing only — no checkpoint table) so the scaling profile attributes
    # the scan+extract+cache bytes to the right phase (near-zero now: the
    # fill bills to signatures_dual).
    t0 = tracker.begin("extract_clean") if tracker is not None else None
    try:
        # content_hash is computed INTO the cache (sha2 is CPU, which
        # scales; a separate hashing pass would re-stream the 2.5 KB/row
        # text column out of the cache — bytes, which don't): membership
        # then reads only (url, ts, 64 B hash) via columnar pruning
        clean = _persist(
            clean.select("url", "warc_ts", "extracted").withColumn(
                "content_hash", content_hash_col()
            )
        )
        # Race caveat, measured both ways (r6): the dual checkpoint's
        # count() under AQE materializes its independent leaf query stages
        # CONCURRENTLY (the membership SHUFFLE_HASH join alone has two map
        # stages over clean), so on a COLD first run up to 3 jobs race this
        # lazy cache and recompute scan+extract+sha2 for the partitions
        # in flight simultaneously (event log, cold 200k: 3 concurrent
        # 32-task jobs, 692 task-seconds of GC). The duplication is bounded
        # by the in-flight window (~cores partitions), NOT corpus size:
        # trailing tasks find the block already cached and skip compute.
        # An eager count() barrier here removes the race but serializes the
        # fill — interleaved A/B measured it SLOWER everywhere warm
        # (OPTIMIZATION_r06.md, "Clean-cache fill race"), so the fill stays
        # lazy.
    finally:
        if tracker is not None:
            tracker.end("extract_clean", t0)
    # quarantine stays lazy without a store: it is an output, not an input
    # of any later stage — eager materialization would bill a full extra
    # extract pass to every pipeline run that never reads it
    if store is not None:
        quarantine = stage("quarantine", lambda: quarantine)

    # narrow frame consumed by exact pairs AND the winner-url projection
    membership = stage(
        "membership", lambda: _persist(exact_membership(clean, cfg))
    )
    # representatives WITHOUT moving text: membership's window shuffles only
    # narrow columns (url, ts, hash), and the winner-url set broadcasts back
    # onto the cached clean table as a semi-join — the r01/r02 design
    # (row_number window over clean) shuffled the WIDE extracted column
    # (~2.5 KB/row) through disk, a phase measured to run at identical wall
    # on 8 and 32 cores. Winner urls are ~25 B/doc; at scales beyond
    # broadcast (>~10^9 docs per job) set cfg.broadcast_hints=False and AQE
    # plans a shuffle semi-join on the bucketed layout.
    winners = membership.filter(
        F.col("url") == F.col("exact_group_id")
    ).select("url")
    reps = clean.join(maybe_broadcast(winners, cfg), "url", "left_semi").select(
        "url", "extracted"
    )

    pair_frames: list[DataFrame] = []
    if "exact" in methods:
        pair_frames.append(stage("pairs_exact", lambda: exact_pairs(membership)))
    if "minhash" in methods or "substring" in methods or "simhash" in methods:
        # signatures are the expensive stage — checkpoint them so a resumed
        # run skips straight to pairing (J5 cache-hit semantics)
        if "minhash" in methods and "substring" in methods:
            # ONE-PASS signatures: minhash + winnow fingerprints computed in
            # a single Arrow transfer of the text (the text column is the
            # pipeline's dominant byte stream and bytes-moved is the
            # measured scaling ceiling — two separate full passes was the
            # r2 design). Narrow output (~1.3 KB/row); wide shingle arrays
            # never leave the Python worker. Eager: band stats + band join
            # + all three substring consumers race this frame.
            # Stage name is 'signatures_dual', NOT 'signatures': the store
            # keys a stage by (name, config_hash) and the two signature
            # shapes differ by schema — a minhash-only run's cached
            # (url, minhash) table resumed under a methods set that also
            # needs winnow fps would fail downstream (r3 ADVICE #2).
            dual = stage(
                "signatures_dual",
                lambda: _truncate(with_dual_signatures(reps, cfg))[0],
            )
            sigs = dual.select("url", "minhash")
            # the minhash chain (band stats + candidate/verify barriers) and
            # the substring chain (fingerprint df-cap barrier) are
            # independent until the pair union — submit them from two driver
            # threads so their barrier jobs overlap instead of serializing
            # (guide §2.6: actions are only sequential because the driver
            # calls them sequentially; FIFO scheduling back-fills the tail
            # of one chain's stages with the other's tasks). Both read only
            # the materialized dual checkpoint, so there is no shared
            # unmaterialized frame to race; job descriptions are
            # thread-local, so each chain keeps its own label. Store-backed
            # runs stay sequential: the store manifest commit is
            # read-modify-write, and two concurrent stage completions could
            # drop one entry (resume correctness beats the overlap).
            if store is None:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=2) as pool:
                    f_mh = pool.submit(
                        stage,
                        "pairs_minhash",
                        lambda: minhash_pairs(
                            reps, cfg, sigs=sigs, registry=persisted
                        ),
                    )
                    f_ss = pool.submit(
                        stage,
                        "pairs_substring",
                        lambda: substring_pairs(
                            reps, cfg, registry=persisted, fp_arrays=dual
                        ),
                    )
                    pair_frames.append(f_mh.result())
                    pair_frames.append(f_ss.result())
            else:
                pair_frames.append(
                    stage(
                        "pairs_minhash",
                        lambda: minhash_pairs(
                            reps, cfg, sigs=sigs, registry=persisted
                        ),
                    )
                )
                pair_frames.append(
                    stage(
                        "pairs_substring",
                        lambda: substring_pairs(
                            reps, cfg, registry=persisted, fp_arrays=dual
                        ),
                    )
                )
        elif "minhash" in methods:
            # narrow minhash-only signatures (~1 KB/row; the wide shingle
            # arrays stay in the Python worker — emitting+caching them for
            # every doc was the 32-core DRAM anti-scaler, r02 profile).
            # Eager: bands stats + band join consume this concurrently.
            sigs = stage(
                "signatures",
                lambda: _truncate(
                    with_signatures(reps, cfg).select("url", "minhash")
                )[0],
            )
            pair_frames.append(
                stage(
                    "pairs_minhash",
                    lambda: minhash_pairs(reps, cfg, sigs=sigs, registry=persisted),
                )
            )
        elif "substring" in methods:
            pair_frames.append(
                stage(
                    "pairs_substring",
                    lambda: substring_pairs(reps, cfg, registry=persisted),
                )
            )
        if "simhash" in methods:
            pair_frames.append(
                stage(
                    "pairs_simhash",
                    lambda: simhash_pairs(reps, cfg, registry=persisted),
                )
            )

    # pairs is consumed by union-find AND returned as an output — eager, so
    # the heavy verify/vote join subtrees run exactly once (and the
    # components stage timer measures only the clustering loop)
    n_pairs: list[int] = []

    def _pairs() -> DataFrame:
        out, n = _truncate(
            reduce(DataFrame.unionByName, pair_frames)
            .dropDuplicates(["url_a", "url_b"])
        )
        n_pairs.append(n)
        return out

    pairs = stage("pairs", _pairs)

    def _components() -> DataFrame:
        # the hint lets union-find build its right-sized adjacency in one
        # pass; it is the pairs checkpoint's own materializing count, so
        # only a stage resumed from the store (which skipped _pairs) counts
        # again. The result's checkpoint is freed by release().
        out, ids = tracked_connected_components(
            pairs, n_edges_hint=n_pairs[0] if n_pairs else pairs.count()
        )
        ckpt_ids.update(ids)
        return out

    components = stage("components", _components)
    # outputs read (url, warc_ts) from the NARROW persisted membership frame
    # (1:1 with clean — a window adds columns, drops no rows), NOT from the
    # wide clean cache: at multi-million-row scale the text cache is the
    # first thing LRU evicts during the pairs phase, and the final
    # report/clusters actions were measured re-running the whole
    # scan+extract subtree (84 GB of input re-reads at 6M rows) just to
    # project two 25-byte columns. membership (~100 B/row) survives in
    # storage, so the output actions stay cache-resident by construction.
    meta = membership.select("url", "warc_ts")
    clusters = stage(
        "clusters", lambda: cluster_members(components, meta)
    )

    # per-doc dedup report: every clean doc with its cluster (or itself) and
    # a keep/duplicate decision — the flagship output shape
    report = (
        meta
        .join(components, "url", "left")
        .select(
            "url",
            F.coalesce(F.col("cluster_id"), F.col("url")).alias("cluster_id"),
            (F.col("cluster_id").isNotNull() & (F.col("cluster_id") != F.col("url")))
            .alias("is_duplicate"),
        )
    )

    return {
        "quarantine": quarantine,
        "membership": membership,
        "pairs": pairs,
        "components": components,
        "clusters": clusters,
        "report": report,
        "release": release,
    }
