"""End-to-end near-duplicate pipeline — the SearchService dispatch analog
(Api/Implementations/SearchService.cs:32-44) over webtext.

Flow (SURVEY.md §3 Spark trace):
  scan -> lang/size filters -> extract -> quarantine split
       -> exact collapse (hash once per unique content)
       -> one signature stage on representatives only
       -> confirmed pairs (exact star edges ∪ minhash ∪ substring [∪ simhash])
       -> union-find -> clusters / per-doc report

Default method set is (exact, minhash, substring) — the Jaccard-semantics
set the recall gate binds to; simhash is the opt-in fuzzy bit-level path.
Each stage optionally checkpoints through a CheckpointStore for mid-run
resume (north rule).
"""

from __future__ import annotations

from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import CheckpointStore
from .cluster import cluster_members, connected_components
from .config import DedupConfig, CANONICAL
from .exact import content_hash_col, exact_pairs, exact_membership
from .extract import split_quarantine, with_extracted
from .minhash import maybe_broadcast, minhash_pairs, with_signatures
from .progress import ProgressTracker
from .scope import Scope
from .simhash import simhash_pairs
from .substring import substring_pairs

DEFAULT_METHODS = ("exact", "minhash", "substring")
# text method -> (the signature kind it pairs on, minhash.SIGNATURE_KINDS;
# its one pair function), in pair-union order. run() calls the pair function
# as a self-join and streaming.delta_pairs calls it with probes=.
TEXT_METHODS = {
    "minhash": ("minhash", minhash_pairs),
    "substring": ("fps", substring_pairs),
    "simhash": ("simhash", simhash_pairs),
}
METHODS = ("exact", *TEXT_METHODS)


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
    callable that unpersists every frame and checkpoint this run cached
    (call it when done consuming the outputs; a long-lived session otherwise
    accumulates storage blocks across runs). A run that raises releases
    them itself before the error propagates.

    ``methods``: any subset of METHODS. A ``store`` keys each stage by
    the method set as well as by name and config hash, so a store filled
    under one set never resumes into another.

    ``tracker`` (europa_spark.progress.ProgressTracker) receives live
    begin/end events per stage — the S5 progress stream — with or without a
    checkpoint store.
    """
    unknown = set(methods) - set(METHODS)
    if unknown:
        raise ValueError(f"unknown methods {sorted(unknown)}; known: {METHODS}")
    scope = Scope(docs.sparkSession, tracker)
    try:
        return _outputs(docs, cfg, methods, store, scope)
    except BaseException:
        scope.release()
        raise


def _outputs(
    docs: DataFrame, cfg: DedupConfig, methods: tuple[str, ...],
    store: CheckpointStore | None, scope: Scope,
) -> dict:
    spark = docs.sparkSession
    method_key = "+".join(sorted(set(methods)))  # no glob chars: a path

    def stage(name: str, compute):
        with scope.stage(name):
            if store is None:
                # store-less: stages stay lazy; only genuinely
                # multi-consumer frames are persisted by the caller below.
                return compute()
            # store-backed: the parquet write materializes the stage once
            # and a resumed run reads it back (J5 cache-hit semantics). The
            # key names the method set: a stage stored under one set (say
            # pairs without substring rows) is stale under another.
            return store.get_or_compute(spark, f"{name}.{method_key}", compute)[0]

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
    with scope.stage("extract_clean"):
        # content_hash is computed INTO the cache (sha2 is CPU, which
        # scales; a separate hashing pass would re-stream the 2.5 KB/row
        # text column out of the cache — bytes, which don't): membership
        # then reads only (url, ts, 64 B hash) via columnar pruning
        clean = scope.persist(
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
    # quarantine stays lazy without a store: it is an output, not an input
    # of any later stage — eager materialization would bill a full extra
    # extract pass to every pipeline run that never reads it
    if store is not None:
        quarantine = stage("quarantine", lambda: quarantine)

    # narrow frame consumed by exact pairs AND the winner-url projection
    membership = stage(
        "membership", lambda: scope.persist(exact_membership(clean, cfg))
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
    kinds = tuple(kind for m, (kind, _) in TEXT_METHODS.items() if m in methods)
    if kinds:
        # ONE signature stage for every text method: one pandas UDF computes
        # exactly the requested kinds in a single Arrow transfer of the text
        # (the pipeline's dominant byte stream; bytes moved are the measured
        # scaling ceiling). Only url, the substring pass's 8-byte uid and
        # the narrow signatures are checkpointed, never the text. Eager (one
        # count materializes the checkpoint): every pair chain below reads
        # it, and their barriers race. The default method set keeps the
        # 'signatures_dual' tag, by which its per-stage metrics are read
        # back.
        def _sigs() -> DataFrame:
            out = scope.checkpoint(with_signatures(reps, cfg, kinds=kinds).select(
                F.xxhash64("url").alias("uid"), "url", *kinds
            ))
            out.count()
            return out

        sigs = stage(
            "signatures_dual"
            if set(methods) == set(DEFAULT_METHODS) else "signatures",
            _sigs,
        )
        requested = [
            (f"pairs_{m}", partial(pair, reps, cfg, sigs=sigs, registry=scope.frames))
            for m, (_, pair) in TEXT_METHODS.items() if m in methods
        ]
        # the pair chains are independent until the pair union — submit them
        # from one driver thread each so their barrier jobs overlap instead
        # of serializing (guide §2.6: actions are only sequential because
        # the driver calls them sequentially; FIFO scheduling back-fills the
        # tail of one chain's stages with another's tasks). All read only
        # the materialized signature checkpoint, so there is no shared
        # unmaterialized frame to race; job descriptions are thread-local,
        # so each chain keeps its own label. Store-backed runs stay
        # sequential: the store manifest commit is read-modify-write, and
        # two concurrent stage completions could drop one entry (resume
        # correctness beats the overlap).
        if store is None:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(requested)) as pool:
                futures = [pool.submit(stage, n, c) for n, c in requested]
                pair_frames.extend(f.result() for f in futures)
        else:
            pair_frames.extend(stage(n, c) for n, c in requested)

    # pairs is consumed by union-find AND returned as an output — eager, so
    # the heavy verify/vote join subtrees run exactly once (and the
    # components stage timer measures only the clustering loop). The
    # checkpoint matters most here: on the cached but untruncated pair
    # frame every downstream action re-analyzed the whole composed tree
    # (sf0.1, count() on 248 cached rows: 2.65 s; after truncation:
    # 0.11 s), which the union-find loop paid 2-3 times per run.
    n_pairs: list[int] = []

    def _pairs() -> DataFrame:
        out = scope.checkpoint(
            reduce(DataFrame.unionByName, pair_frames)
            .dropDuplicates(["url_a", "url_b"])
        )
        n_pairs.append(out.count())
        return out

    pairs = stage("pairs", _pairs)
    # the hint sizes union-find's adjacency; it is the pairs checkpoint's
    # own materializing count, so only a stage resumed from the store (which
    # skipped _pairs) lets union-find count the edges again
    components = stage("components", lambda: connected_components(
        pairs, n_edges_hint=n_pairs[0] if n_pairs else None, scope=scope
    ))
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
        "release": scope.release,
    }
