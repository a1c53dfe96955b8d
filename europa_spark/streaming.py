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

from .exact import content_hash_col
from .extract import split_quarantine, with_extracted

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
    on an EXISTING dir (corruption, IO errors) propagate."""
    if not _state_path_exists(spark, path):
        return spark.createDataFrame([], schema)
    df = spark.read.parquet(path)
    cols = [c.strip().split(" ")[0] for c in schema.split(",")]
    return df.filter(F.col("batch_id") < before_batch).select(*cols)


def process_batch(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    spark = batch_df.sparkSession
    clean, _ = split_quarantine(with_extracted(batch_df))
    hashed = clean.select(
        "url", content_hash_col().alias("content_hash")
    ).localCheckpoint()

    seen = _read_state(
        spark, _seen_path(state_dir), "content_hash string, first_url string",
        batch_id,
    )
    joined = hashed.join(
        seen.withColumnRenamed("first_url", "seen_url"), "content_hash", "left"
    ).localCheckpoint()

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
    """availableNow streaming query: processes all files currently in
    source_dir, then stops — call again after new files land (or switch the
    trigger for continuous mode). Returns the StreamingQuery."""
    os.makedirs(state_dir, exist_ok=True)
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(source_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: process_batch(df, bid, state_dir)
        )
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(state_dir, "_stream_ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )


def read_dup_log(spark: SparkSession, state_dir: str) -> DataFrame:
    """(url, duplicate_of, content_hash, batch_id) — batch_id is restored
    from the partition directory names."""
    return spark.read.parquet(_dup_log_path(state_dir)).withColumn(
        "batch_id", F.col("batch_id").cast("long")
    )


# ---------------------------------------------------------------------------
# Streaming NEAR-duplicate dedup: the MinHash/LSH path under foreachBatch.
# Each micro-batch signatures its new docs once, probes the accumulated band
# index (incremental_minhash_pairs: delta probes x full index, J4/J5 resume
# semantics), and appends its (url, extracted, minhash) state + confirmed
# pairs to per-batch partitions with the same exactly-once replay scheme as
# the exact path. The state keeps the text, not shingle arrays: the exact
# verify rehashes it like the batch path does.
# ---------------------------------------------------------------------------


def _sigs_path(state_dir: str) -> str:
    return os.path.join(state_dir, "sigs")


def _pairs_path(state_dir: str) -> str:
    return os.path.join(state_dir, "pairs")


def process_batch_neardup(
    batch_df: DataFrame, batch_id: int, state_dir: str, cfg=None
) -> None:
    """One micro-batch of incremental MinHash/LSH dedup. Deterministic given
    (batch rows, state with batch_id < batch_id), so checkpoint-recovery
    replays rewrite identical partitions.

    Raises ValueError on a ``sigs/`` dir in the old (url, shingles, minhash)
    layout: reading it as an empty index would re-pair history that
    ``pairs/`` already holds."""
    from .config import CANONICAL
    from .exact import representatives, with_content_hash
    from .minhash import incremental_minhash_pairs

    cfg = cfg or CANONICAL
    spark = batch_df.sparkSession
    clean, _ = split_quarantine(with_extracted(batch_df))
    new_reps = representatives(with_content_hash(clean, cfg), cfg).select(
        "url", "extracted"
    )

    sigs_path = _sigs_path(state_dir)
    if _state_path_exists(spark, sigs_path):
        cols = spark.read.parquet(sigs_path).columns
        if "shingles" in cols and "extracted" not in cols:
            raise ValueError(
                f"{sigs_path} holds near-dup state in the old (url, shingles, "
                "minhash) layout; sigs/ is now (url, extracted, minhash). "
                "Start a new state_dir: the old one cannot be resumed."
            )
    existing_sigs = _read_state(
        spark, sigs_path,
        "url string, extracted string, minhash array<bigint>", batch_id,
    )
    existing_pairs = _read_state(
        spark, _pairs_path(state_dir),
        "url_a string, url_b string, score double", batch_id,
    )
    new_sigs, new_pairs = incremental_minhash_pairs(
        existing_sigs, new_reps, cfg, existing_pairs=existing_pairs
    )
    new_sigs.write.mode("overwrite").parquet(
        os.path.join(sigs_path, f"batch_id={batch_id}")
    )
    new_pairs.select("url_a", "url_b", "score").write.mode("overwrite").parquet(
        os.path.join(_pairs_path(state_dir), f"batch_id={batch_id}")
    )


def start_incremental_neardup(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str | None = None,
    cfg=None,
):
    """availableNow streaming near-dup query over a documents directory —
    the continuous-ingestion analog of the batch pipeline's minhash path."""
    os.makedirs(state_dir, exist_ok=True)
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(source_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: process_batch_neardup(df, bid, state_dir, cfg)
        )
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(state_dir, "_stream_ckpt_nd"),
        )
        .trigger(availableNow=True)
        .start()
    )


def read_neardup_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """(url_a, url_b, score, batch_id) accumulated across batches."""
    return spark.read.parquet(_pairs_path(state_dir)).withColumn(
        "batch_id", F.col("batch_id").cast("long")
    )


# ---------------------------------------------------------------------------
# Streaming SUBSTRING dedup: the winnowing path under foreachBatch — same
# exactly-once per-batch-partition scheme; fingerprints accumulate as the
# index, each batch's new docs probe it (substring.incremental_substring_pairs).
# Completes §2.8 coverage across all three dedup methods (exact, minhash,
# substring).
# ---------------------------------------------------------------------------


def _fps_path(state_dir: str) -> str:
    return os.path.join(state_dir, "fps")


def _sub_pairs_path(state_dir: str) -> str:
    return os.path.join(state_dir, "sub_pairs")


def process_batch_substring(
    batch_df: DataFrame, batch_id: int, state_dir: str, cfg=None
) -> None:
    """One micro-batch of incremental winnowing dedup. Deterministic given
    (batch rows, state with batch_id < batch_id) — replays rewrite
    identical partitions."""
    from .config import CANONICAL
    from .exact import representatives, with_content_hash
    from .substring import incremental_substring_pairs

    cfg = cfg or CANONICAL
    spark = batch_df.sparkSession
    clean, _ = split_quarantine(with_extracted(batch_df))
    new_reps = representatives(with_content_hash(clean, cfg), cfg).select(
        "url", "extracted"
    )
    existing_fps = _read_state(
        spark, _fps_path(state_dir),
        "uid bigint, url string, fps array<bigint>", batch_id,
    )
    existing_pairs = _read_state(
        spark, _sub_pairs_path(state_dir),
        "url_a string, url_b string, score double", batch_id,
    )
    new_fps, new_pairs = incremental_substring_pairs(
        existing_fps, new_reps, cfg, existing_pairs=existing_pairs
    )
    new_fps.select("uid", "url", "fps").write.mode("overwrite").parquet(
        os.path.join(_fps_path(state_dir), f"batch_id={batch_id}")
    )
    new_pairs.select("url_a", "url_b", "score").write.mode("overwrite").parquet(
        os.path.join(_sub_pairs_path(state_dir), f"batch_id={batch_id}")
    )


def start_incremental_substring(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str | None = None,
    cfg=None,
):
    """availableNow streaming substring-dup query over a documents dir."""
    os.makedirs(state_dir, exist_ok=True)
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(source_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: process_batch_substring(df, bid, state_dir, cfg)
        )
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(state_dir, "_stream_ckpt_sub"),
        )
        .trigger(availableNow=True)
        .start()
    )


def read_substring_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """(url_a, url_b, score, batch_id) accumulated across batches."""
    return spark.read.parquet(_sub_pairs_path(state_dir)).withColumn(
        "batch_id", F.col("batch_id").cast("long")
    )


# ---------------------------------------------------------------------------
# Streaming SIMHASH dedup — the fourth and last method under foreachBatch;
# single-long signatures make this the cheapest incremental state.
# ---------------------------------------------------------------------------


def _sh_sigs_path(state_dir: str) -> str:
    return os.path.join(state_dir, "sh_sigs")


def _sh_pairs_path(state_dir: str) -> str:
    return os.path.join(state_dir, "sh_pairs")


def process_batch_simhash(
    batch_df: DataFrame, batch_id: int, state_dir: str, cfg=None
) -> None:
    """One micro-batch of incremental SimHash dedup (same exactly-once
    per-batch-partition scheme as the other three methods)."""
    from .config import CANONICAL
    from .exact import representatives, with_content_hash
    from .simhash import incremental_simhash_pairs

    cfg = cfg or CANONICAL
    spark = batch_df.sparkSession
    clean, _ = split_quarantine(with_extracted(batch_df))
    new_reps = representatives(with_content_hash(clean, cfg), cfg).select(
        "url", "extracted"
    )
    existing_sigs = _read_state(
        spark, _sh_sigs_path(state_dir), "url string, simhash bigint", batch_id
    )
    existing_pairs = _read_state(
        spark, _sh_pairs_path(state_dir),
        "url_a string, url_b string, score double", batch_id,
    )
    new_sigs, new_pairs = incremental_simhash_pairs(
        existing_sigs, new_reps, cfg, existing_pairs=existing_pairs
    )
    new_sigs.select("url", "simhash").write.mode("overwrite").parquet(
        os.path.join(_sh_sigs_path(state_dir), f"batch_id={batch_id}")
    )
    new_pairs.select("url_a", "url_b", "score").write.mode("overwrite").parquet(
        os.path.join(_sh_pairs_path(state_dir), f"batch_id={batch_id}")
    )


def start_incremental_simhash(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str | None = None,
    cfg=None,
):
    """availableNow streaming SimHash-dup query over a documents dir."""
    os.makedirs(state_dir, exist_ok=True)
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(source_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: process_batch_simhash(df, bid, state_dir, cfg)
        )
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(state_dir, "_stream_ckpt_sh"),
        )
        .trigger(availableNow=True)
        .start()
    )


def read_simhash_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """(url_a, url_b, score, batch_id) accumulated across batches."""
    return spark.read.parquet(_sh_pairs_path(state_dir)).withColumn(
        "batch_id", F.col("batch_id").cast("long")
    )
