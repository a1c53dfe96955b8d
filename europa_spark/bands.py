"""One skew-routed LSH band join, shared by every signature family: MinHash
bands (minhash.py), SimHash/pHash pigeonhole bands (simhash.py) and
block-mean byte bands (multimodal.py). The reference's radius search
(QdrantRepository.cs:184-206) becomes a count-then-verify band equi-join
(C2Net's LSH join shape); this module is the candidate half, the callers
own the exact verify.

Input is an index ``(url, band_idx, band_key, *payload)``, one row per
document per band. Rows colliding on ``(band_idx, band_key)`` are candidate
pairs. A plain equi self-join is quadratic in the bucket size, so buckets
are routed by their member count ``n`` (explicit skew handling, the
FP-Hadoop treatment of skewed keys):

  * ``n <= cfg.bucket_cap``: all-pairs equi-join; AQE skew-join splitting
    handles residual per-key hotness.
  * ``cfg.bucket_cap < n <= cfg.star_only_cap`` (hot): star edges from every
    member to the bucket's minimum url (the anchor) PLUS all-pairs inside
    ``ceil(n / cfg.salt_sub_cap)`` salted sub-buckets,
    ``salt = pmod(xxhash64(url, band_idx, band_key), n_salts)``. Work per
    band is O(n * salt_sub_cap) instead of O(n^2): a 10k-member near-dup
    bucket yields ~10k + 32*10k candidates per band, not 50M.
  * ``n > cfg.star_only_cap`` (mega: web-scale boilerplate cliques): star
    edges only (rationale on config.star_only_cap).

Recall: members similar to EACH OTHER but not to the anchor keep their
direct edge whenever they share a salt in any band; the star edges keep
whole-bucket connectivity through the anchor. The residual loss, a similar
pair whose EVERY shared band is hot and salted apart, is the documented
trade against the reference's unbounded radius search (adversarial
fixtures: tests/test_minhash.py; bench scale: tools/skew_bench.py).

Incremental mode (``probes``, passed on by the pair functions' ``probes=``
from streaming.delta_pairs): the new documents' band rows join the
accumulated, capped index. A probe in a sub-cap bucket meets every member;
a probe in a hot bucket meets the anchor plus the members of its own salted
sub-bucket (the same salt formula, so it meets exactly the members it would
share a salt with in a batch run over the accumulated corpus); a probe in a
mega bucket meets the anchor only. Per-probe fan-out stays bounded at
bands * (bucket_cap + salt_sub_cap + 1) however large the index grows.
n_salts derives from the bucket size AT PROBE TIME, which grows across
batches, so salted sub-bucket membership (not connectivity) can differ from
a one-shot batch run; tests/test_incremental.py pins the salted semantics
and the cluster-level equivalence.

Payload columns (whatever verify needs: the simhash or blockmean signature,
nothing for MinHash) ride along and come out as ``{p}_a``/``{p}_b``. The
anchor's payload comes from ``min_by(p, url)`` in the bucket-stats
aggregate, so no extra join fetches it.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import CANONICAL, DedupConfig

KEY = ["band_idx", "band_key"]


def banded_pairs(
    index: DataFrame,
    cfg: DedupConfig = CANONICAL,
    payload: Sequence[str] = (),
    probes: DataFrame | None = None,
    registry: list | None = None,
) -> DataFrame:
    """Distinct candidate pairs ``(url_a < url_b, {p}_a, {p}_b)`` from band
    collisions in ``index`` (batch self-join), or between ``probes`` and
    ``index`` when probes are given (incremental; probes share the index's
    columns and are contained in it).

    ``registry`` (batch only; a Scope's ``frames``): the band table and
    bucket stats are persisted behind one barrier job and appended for the
    scope's release. With ``registry=None`` nothing is cached: the result is
    a lazy plan (a cache dropped before its consumer runs would only add a
    job)."""
    payload = list(payload)
    if probes is not None:
        return _probe_pairs(index, probes, cfg, payload)
    return _self_pairs(index, cfg, payload, registry)


def _bucket_stats(index: DataFrame, payload: list) -> DataFrame:
    # aggregation (map-side partial combine), NOT a window: a window would
    # shuffle+sort the whole band table, while the aggregate shuffles one
    # compact row per bucket and the filter drops the singleton buckets
    # (the vast majority) before the join. min over the string url plans
    # as a SortAggregate (each side sorts its partition), not a hash one
    return (
        index.groupBy(*KEY)
        .agg(
            F.count("*").alias("bucket_n"),
            F.min("url").alias("anchor"),
            *[F.min_by(p, "url").alias(f"anchor_{p}") for p in payload],
        )
        .filter(F.col("bucket_n") >= 2)
    )


def _salt(cfg: DedupConfig):
    n_salts = F.ceil(F.col("bucket_n") / F.lit(cfg.salt_sub_cap)).cast("int")
    return F.pmod(F.xxhash64("url", *KEY), n_salts).alias("salt")


def _pairs(a: DataFrame, b: DataFrame, on: list, keep, payload: list) -> DataFrame:
    """a JOIN b on ``on`` where ``keep(a.url, b.url)``, as (url_a, url_b,
    {p}_a, {p}_b)."""
    a, b = a.alias("a"), b.alias("b")
    return (
        a.join(b, on)
        .filter(keep(F.col("a.url"), F.col("b.url")))
        .select(
            F.col("a.url").alias("url_a"),
            F.col("b.url").alias("url_b"),
            *[F.col(f"{s}.{p}").alias(f"{p}_{s}") for s in "ab" for p in payload],
        )
    )


def _self_pairs(
    index: DataFrame, cfg: DedupConfig, payload: list, registry: list | None
) -> DataFrame:
    bands = index.repartition(*KEY)
    stats = _bucket_stats(bands, payload)
    if registry is not None:
        # CACHE the band table ONCE, pre-partitioned on the bucket key:
        # event-log profiling (1M rows) caught the lazy band subtree re-
        # reading the wide signature cache and re-writing its own ~340 MB
        # exchange SIX times (once per downstream reference) because AQE
        # does not reuse exchanges across separate DataFrame references. One
        # repartition exchange at persist time makes the stats aggregation
        # and every sized/normal/hot branch join exchange-free; only the
        # salted join re-keys.
        #
        # ONE barrier job materializes bands AND stats (stats is the bands
        # cache's first consumer, so the lazy persist fills en route).
        # `sized` stays lazy: each branch streams the bands cache and hash-
        # probes the small cached stats side. Barrier vs race was measured
        # both ways (OPTIMIZATION_r06.md, "Barriers kept"): skipping this
        # count wins ~0.2-0.4 s/query at sf0.1 but LOSES at 200k docs, where
        # the racing query stages duplicate real exchange bytes.
        registry.extend([bands.persist(), stats.persist()])
        stats.count()
    sized = bands.join(stats, KEY)
    n = F.col("bucket_n")
    cols = ["url", *payload]
    normal = sized.filter(n <= cfg.bucket_cap).select(*KEY, *cols)
    hot = sized.filter(n > cfg.bucket_cap)
    star = hot.filter(F.col("url") != F.col("anchor")).select(
        F.col("anchor").alias("url_a"),
        F.col("url").alias("url_b"),
        *[F.col(f"anchor_{p}").alias(f"{p}_a") for p in payload],
        *[F.col(p).alias(f"{p}_b") for p in payload],
    )
    salted = hot.filter(n <= cfg.star_only_cap).select(*KEY, _salt(cfg), *cols)
    return (
        _pairs(normal, normal, KEY, operator.lt, payload)
        .unionByName(star)
        .unionByName(_pairs(salted, salted, [*KEY, "salt"], operator.lt, payload))
        .dropDuplicates(["url_a", "url_b"])
    )


def _probe_pairs(
    index: DataFrame, probes: DataFrame, cfg: DedupConfig, payload: list
) -> DataFrame:
    stats = _bucket_stats(index, payload)
    sized = index.join(stats, KEY)
    n = F.col("bucket_n")
    hot = n > cfg.bucket_cap
    in_salt_range = hot & (n <= cfg.star_only_cap)
    cols = ["url", *payload]
    anchors = stats.filter(hot).select(
        *KEY,
        F.col("anchor").alias("url"),
        *[F.col(f"anchor_{p}").alias(p) for p in payload],
    )
    capped = sized.filter(n <= cfg.bucket_cap).select(*KEY, *cols).unionByName(anchors)
    hot_index = sized.filter(in_salt_range).select(*KEY, _salt(cfg), *cols)
    hot_probes = probes.join(stats.filter(in_salt_range), KEY).select(
        *KEY, _salt(cfg), *cols
    )
    found = _pairs(probes, capped, KEY, operator.ne, payload).unionByName(
        _pairs(hot_probes, hot_index, [*KEY, "salt"], operator.ne, payload)
    )
    # orient url_a < url_b; each payload travels with its url
    swap = F.col("url_a") > F.col("url_b")
    return found.select(
        *[
            F.when(swap, F.col(f"{c}_{o}"))
            .otherwise(F.col(f"{c}_{s}"))
            .alias(f"{c}_{s}")
            for c in cols
            for s, o in (("a", "b"), ("b", "a"))
        ]
    ).dropDuplicates(["url_a", "url_b"])
