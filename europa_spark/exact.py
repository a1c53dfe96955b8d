"""Exact-duplicate detection — the Blake3 cascade re-expressed for Spark.

Reference semantics (Api/Implementations/DuplicatesByHash/
DuplicateByHashFinder.cs:29-77): pass 1 hashes the first 10% of each file and
prunes groups of size 1 (:42-53); pass 2 hashes survivors fully (:58-65);
final groups need >= 2 members and are ordered newest-first (:73-76).

Spark-first scale note (100 TB): the reference's cascade saves *disk IO* —
each pass re-reads file bytes. Columnar Spark reads ``text`` once either way,
so the cascade only saves hash CPU, while its survivor semi-join forces a
shuffle of the WIDE text column (or a huge broadcast). The default here is a
single full-hash pass that shuffles only narrow (url, hash, ts) columns; the
faithful cascade (J1 in SURVEY.md §2.5) is kept behind ``use_cascade`` and
benchmarked in bench.py. Hash choice: sha256 of extracted bytes — the gate is
on groupings, not hash values (SURVEY.md H1), and sha2 is a JVM built-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DedupConfig, CANONICAL


def content_hash_col():
    return F.sha2(F.encode(F.col("extracted"), "UTF-8"), 256)


def prefix_key_col(cfg: DedupConfig = CANONICAL):
    """Stage-1 key: xxhash64 of the first ceil(10%) characters plus the
    length (cheap discriminator, mirrors the size pre-grouping effect of
    hashing a size-proportional prefix, DuplicateByHashFinder.cs:96-97)."""
    n = F.ceil(F.length("extracted") * F.lit(cfg.prefix_fraction)).cast("int")
    return F.xxhash64(F.col("extracted").substr(F.lit(1), n), F.length("extracted"))


def with_content_hash(
    clean: DataFrame, cfg: DedupConfig = CANONICAL, use_cascade: bool = False
) -> DataFrame:
    """clean(url, warc_ts, extracted, ...) -> + content_hash.

    With ``use_cascade``: stage-1 prefix-key counts prune singleton groups via
    a left-semi join (DuplicateByHashFinder.cs:52-53); rows pruned there keep
    content_hash = NULL-safe unique sentinel (their prefix uniqueness proves
    full-content uniqueness is NOT implied — so the cascade instead assigns
    the full hash only to survivors and a per-row unique key to the rest,
    which preserves grouping semantics: non-survivors can never be dups).
    """
    if not use_cascade:
        if "content_hash" in clean.columns:
            return clean  # precomputed into the clean cache (pipeline.run)
        return clean.withColumn("content_hash", content_hash_col())

    keyed = clean.withColumn("prefix_key", prefix_key_col(cfg))
    survivors = (
        keyed.groupBy("prefix_key").count().filter(F.col("count") > 1)
        .select("prefix_key")
    )
    surv = keyed.join(survivors, "prefix_key", "left_semi").withColumn(
        "content_hash", content_hash_col()
    )
    # prefix-unique rows cannot have an exact duplicate (same content ->
    # same prefix); give them a row-unique hash so downstream grouping is a
    # no-op for them without special-casing
    alone = keyed.join(survivors, "prefix_key", "left_anti").withColumn(
        "content_hash", F.concat(F.lit("uniq:"), F.col("url"))
    )
    return surv.unionByName(alone).drop("prefix_key")


def exact_membership(
    clean: DataFrame, cfg: DedupConfig = CANONICAL, use_cascade: bool = False
) -> DataFrame:
    """Per-row exact-dup assignment: (url, warc_ts, content_hash, group_size,
    exact_group_id = min url sharing the hash). One narrow shuffle."""
    hashed = with_content_hash(clean, cfg, use_cascade).select(
        "url", "warc_ts", "content_hash"
    )
    # aggregate + join, NOT a window over content_hash: the window form
    # funnels EVERY row of a hot hash through one task (at web scale a
    # boilerplate group has 10^6-10^8 members — one task sorting the whole
    # group), while the aggregation's map-side partial combine absorbs the
    # hot key and the join streams. AQE skew-join splitting covers the
    # residual join-side hotness. Spark plans min over a string as a
    # SortAggregate (each partial and final side sorts its partition by
    # the key), not a HashAggregate; a count-only aggregate would hash.
    stats = hashed.groupBy("content_hash").agg(
        F.count("*").alias("group_size"),
        F.min("url").alias("exact_group_id"),
    )
    # SHUFFLE_HASH: build on the compact stats side, stream the rows —
    # sort-merge would sort the row relation for nothing (substring.py has
    # the measured rationale for this hint pattern)
    return hashed.join(stats.hint("shuffle_hash"), "content_hash").select(
        "url", "warc_ts", "content_hash", "group_size", "exact_group_id"
    )


def exact_clusters(membership: DataFrame) -> DataFrame:
    """Duplicate groups (>= 2 members), members newest-first — the
    DuplicatesResponse shape (DuplicateByHashFinder.cs:73-76;
    DuplicatesResponse.cs:10-19). Member arrays cap at cluster.MAX_MEMBERS
    newest via the salted two-phase top-K (cluster._topk_members: a naive
    collect_list materializes a web-scale mega-group in ONE reduce task);
    n_members is the true count, cluster_id = exact_group_id = min url."""
    from .cluster import MAX_MEMBERS, _topk_members

    # membership already carries exact_group_id == min(url) per hash, so the
    # cluster id rides through the top-K aggregation as a carry column —
    # the old second groupBy + SHUFFLE_HASH join re-derived it (r5 ADVICE)
    rows = membership.filter(F.col("group_size") > 1).select(
        "content_hash", "warc_ts", "url",
        F.col("exact_group_id").alias("cluster_id"),
    )
    caps = _topk_members(rows, "content_hash", MAX_MEMBERS, carry=("cluster_id",))
    return caps.select("content_hash", "cluster_id", "n_members", "members")


def exact_pairs(membership: DataFrame) -> DataFrame:
    """Intra-group pairs (url_a < url_b) for the unified pair table.

    Scale note: a group of n yields n-1 star edges (to the group min), NOT
    n(n-2)/2 — union-find only needs a spanning set, and the skew block
    (FIXTURES.md §1E) would otherwise explode quadratically.
    """
    return (
        membership.filter(
            (F.col("group_size") > 1) & (F.col("url") != F.col("exact_group_id"))
        )
        .select(
            F.col("exact_group_id").alias("url_a"),
            F.col("url").alias("url_b"),
            F.lit("exact").alias("method"),
            F.lit(1.0).alias("score"),
        )
    )


def representatives(
    clean_hashed: DataFrame, cfg: DedupConfig = CANONICAL
) -> DataFrame:
    """One row per distinct content — the 'hash once per unique content'
    optimization (SimilarImageFinder.cs:161-165 via TryAdd first-wins; ours
    is the deterministic min-url variant, SURVEY.md A3). All signature stages
    run on this collapsed set: on boilerplate-heavy webtext this is the
    single biggest constant-factor win (SURVEY.md §4).

    Winner selection is an aggregation (min over the string url, which
    Spark plans as a SortAggregate, not a HashAggregate) + semi-join, NOT a
    row_number window over content_hash: the window shuffles the full WIDE rows by
    content_hash, so a hot hash (an identical-boilerplate group with
    10^6-10^8 members at web scale) lands in ONE task that sorts the whole
    group's text, while the agg partial-combines map-side and the semi-join
    keys on (content_hash, url) — perfectly uniform even when one hash
    repeats 10^6 times. (Adopted during the r5 skew-bench investigation;
    the skew corpus's measured straggler itself turned out to be parquet
    row-group layout, but the window's hot-key funnel is structural.)

    r6: the semi-join keys on the winner URL alone (urls are unique per
    row, so (content_hash, url) and url select the same winners) and
    broadcasts the narrow winner-url set under cfg.broadcast_hints — the
    WIDE text relation is then never shuffled at all (the old SHUFFLE_HASH
    form exchanged every text row by join key just to drop the losers;
    this is the same winner-broadcast shape pipeline.run already uses).
    Beyond broadcast scale (~10^9 urls/job), cfg.broadcast_hints=False
    restores a shuffle semi-join planned by AQE."""
    from .minhash import maybe_broadcast

    winners = clean_hashed.groupBy("content_hash").agg(
        F.min("url").alias("url")
    ).select("url")
    return clean_hashed.join(maybe_broadcast(winners, cfg), "url", "left_semi")
