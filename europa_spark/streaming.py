"""Structured Streaming incremental dedup (SURVEY.md §2.8 extension).

The reference's cross-run incrementality (Qdrant cache probes,
SimilarImageFinder.cs:167-178,303-315) generalizes to continuous ingestion:
``readStream`` over the documents directory -> ``foreachBatch`` incremental
exact dedup against a persistent seen-content state table. Each micro-batch:

  1. extract + content-hash the batch (same kernels as batch mode);
  2. left-join the ``seen`` state (content_hash -> first url): hashes already
     seen are emitted as duplicates of the original (J5 cache-hit shape);
  3. first occurrence per new hash is appended to ``seen`` (A3 first-wins,
     made deterministic by min-url within the batch);
  4. intra-batch extra copies are emitted as duplicates too.

State lives in plain parquet under ``state_dir``, PARTITIONED BY BATCH ID
(`seen/batch_id=N/`, `dup_log/batch_id=N/`), which is what makes replay
idempotent: a replayed batch (streaming checkpoint recovery) overwrites its
own partition with the same deterministic rows, and the state read for batch
N only sees partitions with batch_id < N — so a replay can never match rows
against its own previous (partially committed) output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .config import CANONICAL, DedupConfig
from .exact import content_hash_col, representatives, with_content_hash
from .extract import split_quarantine, with_extracted
from .minhash import with_signatures
from .pipeline import TEXT_METHODS
from .scope import Scope

DOC_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def _seen_path(state_dir: str) -> str:
    return os.path.join(state_dir, "seen")


def _dup_log_path(state_dir: str) -> str:
    return os.path.join(state_dir, "dup_log")


def _state_path_exists(spark: SparkSession, p: str) -> bool:
    """Existence check via the Hadoop FS API (works for local/HDFS/S3 paths
    alike) — so ONLY a genuinely-missing state dir reads as 'first batch'.
    Catching any read exception here (the r2 design) would silently restart
    dedup history on a corrupted or transiently-unreadable state dir."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(p)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(path)


def _read_state(
    spark: SparkSession, path: str, schema: str, before_batch: int
) -> DataFrame:
    """Per-batch state visible to ``before_batch``: only partitions
    committed by EARLIER batches — a replayed batch never sees its own prior
    output. A missing dir is the first batch's empty state; read failures
    on an EXISTING dir (corruption, IO errors) propagate.

    Raises ValueError on a dir that lacks a column of ``schema`` (state
    written in an older layout, e.g. near-dup ``sigs/`` as (url, shingles,
    minhash)): reading it as an empty index would re-pair history that the
    pair log already holds."""
    if not _state_path_exists(spark, path):
        return spark.createDataFrame([], schema)
    df = spark.read.parquet(path)
    cols = _columns(schema)
    if not set(cols) <= set(df.columns):
        raise ValueError(
            f"{path} holds state in an old layout, with columns {df.columns}; "
            f"the expected layout is ({schema}). Start a new state_dir: the "
            "old one cannot be resumed."
        )
    return df.filter(F.col("batch_id") < before_batch).select(*cols)


def _columns(schema: str) -> list[str]:
    return [c.strip().split(" ")[0] for c in schema.split(",")]


def _read_log(spark: SparkSession, path: str) -> DataFrame:
    """A per-batch log with batch_id restored from the partition dir names."""
    return spark.read.parquet(path).withColumn(
        "batch_id", F.col("batch_id").cast("long")
    )


def _start(spark: SparkSession, source_dir: str, handler, checkpoint_dir: str):
    """availableNow streaming query over a documents directory: processes
    all files currently in source_dir through ``handler(batch_df, batch_id)``,
    then stops — call again after new files land (or switch the trigger for
    continuous mode). Spark creates the checkpoint and state dirs through
    the Hadoop FS, so a URI state_dir works as is. Returns the
    StreamingQuery."""
    return (
        spark.readStream.schema(DOC_SCHEMA).parquet(source_dir)
        .writeStream.foreachBatch(handler)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def process_batch(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    spark = batch_df.sparkSession
    with Scope(spark) as scope:
        clean, _ = split_quarantine(with_extracted(batch_df))
        hashed = clean.select("url", content_hash_col().alias("content_hash"))

        seen = _read_state(
            spark, _seen_path(state_dir), "content_hash string, first_url string",
            batch_id,
        )
        # eager checkpoint: both state writes below read the joined rows
        joined = scope.checkpoint(hashed.join(
            seen.withColumnRenamed("first_url", "seen_url"), "content_hash", "left"
        ))
        joined.count()

        # cross-batch duplicates: hash already in state
        cross = joined.filter(F.col("seen_url").isNotNull()).select(
            "url",
            F.col("seen_url").alias("duplicate_of"),
            "content_hash",
        )
        # intra-batch: first (min url) wins among unseen hashes
        unseen = joined.filter(F.col("seen_url").isNull())
        firsts = unseen.groupBy("content_hash").agg(F.min("url").alias("first_url"))
        intra = (
            unseen.join(firsts, "content_hash")
            .filter(F.col("url") != F.col("first_url"))
            .select(
                "url",
                F.col("first_url").alias("duplicate_of"),
                "content_hash",
            )
        )
        dups = cross.unionByName(intra)
        # per-batch partition + overwrite = exactly-once output under replay:
        # batch content is deterministic given (batch rows, state<batch_id), so
        # a recovery replay rewrites identical rows instead of appending copies
        dups.write.mode("overwrite").parquet(
            os.path.join(_dup_log_path(state_dir), f"batch_id={batch_id}")
        )
        firsts.select("content_hash", "first_url").write.mode("overwrite").parquet(
            os.path.join(_seen_path(state_dir), f"batch_id={batch_id}")
        )


def start_incremental_dedup(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str | None = None,
):
    """availableNow streaming exact-dedup query (see ``_start``)."""
    return _start(
        spark, source_dir,
        lambda df, bid: process_batch(df, bid, state_dir),
        checkpoint_dir or os.path.join(state_dir, "_stream_ckpt"),
    )


def read_dup_log(spark: SparkSession, state_dir: str) -> DataFrame:
    """(url, duplicate_of, content_hash, batch_id)."""
    return _read_log(spark, _dup_log_path(state_dir))


# ---------------------------------------------------------------------------
# Streaming pair dedup: the minhash, substring and simhash paths under
# foreachBatch, one handler for all three. Each micro-batch runs
# delta_pairs: the method's batch pair call (pipeline.TEXT_METHODS) over the
# accumulated index with the new docs as ``probes=``, minus pairs already
# confirmed (J4/J5 resume semantics); it appends its signature state and
# pairs to per-batch partitions with the exact path's exactly-once replay
# scheme. Near-dup state keeps the text, not shingle arrays: the exact
# verify rehashes it like the batch path does.
# ---------------------------------------------------------------------------

_PAIRS_SCHEMA = "url_a string, url_b string, score double"

# method -> (signature-state dir, its schema, pair-state dir,
#            stream-checkpoint dir); its pair function is in
#            pipeline.TEXT_METHODS
_PAIR_STATE = {
    "minhash": (
        "sigs", "url string, extracted string, minhash array<bigint>",
        "pairs", "_stream_ckpt_nd",
    ),
    "substring": (
        "fps", "uid bigint, url string, fps array<bigint>",
        "sub_pairs", "_stream_ckpt_sub",
    ),
    "simhash": (
        "sh_sigs", "url string, simhash bigint",
        "sh_pairs", "_stream_ckpt_sh",
    ),
}


def _pair_state(method: str) -> tuple:
    if method not in _PAIR_STATE:
        raise ValueError(
            f"no streaming pair state for method {method!r}; "
            f"known: {sorted(_PAIR_STATE)}"
        )
    return _PAIR_STATE[method]


def delta_pairs(
    existing_sigs: DataFrame,
    new_reps: DataFrame,
    method: str,
    cfg: DedupConfig = CANONICAL,
    existing_pairs: DataFrame | None = None,
    scope: Scope | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(new_sigs, new_pairs) for newly-arrived documents (J4/J5 resume
    semantics: cached signatures are never recomputed, verified pairs never
    re-verified, QdrantRepository.cs:158-182 + SimilarImageFinder.cs:303-315).

    The signature frames are ``method``'s state layout (``_PAIR_STATE``).
    The method's batch pair function runs over existing + new with the new
    docs as probes, so every pair touches a new doc and hot buckets and the
    df cap see the accumulated corpus. ``existing_pairs`` are anti-joined
    after it: verify and the Hamming and vote filters only drop rows.

    new_sigs is an eager checkpoint (probes, index, verify and the caller's
    state write all read it). ``scope`` holds it and the pair function's
    caches; with ``scope=None`` the pair plan is lazy."""
    cols = _columns(_pair_state(method)[1])  # raises on an unknown method
    kind, pair = TEXT_METHODS[method]
    registry = scope.frames if scope is not None else None
    scope = scope or Scope(new_reps.sparkSession)
    new_sigs = scope.checkpoint(
        with_signatures(new_reps, cfg, kinds=(kind,))
        .withColumn("uid", F.xxhash64("url"))
        .select(*cols)
    )
    new_sigs.count()
    all_sigs = existing_sigs.select(*cols).unionByName(new_sigs)
    pairs = pair(all_sigs, cfg, sigs=all_sigs, probes=new_sigs, registry=registry)
    if existing_pairs is not None:
        # already-done exclusion (the MatchExcept anti-join, J4)
        pairs = pairs.join(
            existing_pairs.select("url_a", "url_b"), ["url_a", "url_b"], "left_anti"
        )
    return new_sigs, pairs


def process_batch_pairs(
    batch_df: DataFrame, batch_id: int, state_dir: str, method: str, cfg=None
) -> None:
    """One micro-batch of incremental ``method`` pair dedup. Deterministic
    given (batch rows, state with batch_id < batch_id), so checkpoint-
    recovery replays rewrite identical partitions."""
    sigs_dir, sigs_schema, pairs_dir, _ = _pair_state(method)
    cfg = cfg or CANONICAL
    spark = batch_df.sparkSession
    clean, _ = split_quarantine(with_extracted(batch_df))
    new_reps = representatives(with_content_hash(clean, cfg), cfg).select(
        "url", "extracted"
    )
    sigs_path = os.path.join(state_dir, sigs_dir)
    pairs_path = os.path.join(state_dir, pairs_dir)
    existing_sigs = _read_state(spark, sigs_path, sigs_schema, batch_id)
    existing_pairs = _read_state(spark, pairs_path, _PAIRS_SCHEMA, batch_id)
    with Scope(spark) as scope:
        new_sigs, new_pairs = delta_pairs(
            existing_sigs, new_reps, method, cfg, existing_pairs=existing_pairs,
            scope=scope,
        )
        new_sigs.write.mode("overwrite").parquet(
            os.path.join(sigs_path, f"batch_id={batch_id}")
        )
        new_pairs.select("url_a", "url_b", "score").write.mode("overwrite").parquet(
            os.path.join(pairs_path, f"batch_id={batch_id}")
        )


def start_incremental_pairs(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    method: str,
    checkpoint_dir: str | None = None,
    cfg=None,
):
    """availableNow streaming ``method`` pair query (see ``_start``) — the
    continuous-ingestion analog of the batch pipeline's pair stage."""
    ckpt_dir = _pair_state(method)[3]
    return _start(
        spark, source_dir,
        lambda df, bid: process_batch_pairs(df, bid, state_dir, method, cfg),
        checkpoint_dir or os.path.join(state_dir, ckpt_dir),
    )


def read_pairs(spark: SparkSession, state_dir: str, method: str) -> DataFrame:
    """(url_a, url_b, score, batch_id) accumulated across batches."""
    return _read_log(spark, os.path.join(state_dir, _pair_state(method)[2]))
