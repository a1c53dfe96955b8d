"""Pair-level delta compute: for every text method, the delta run over
(old + new) must produce the same pair set as a from-scratch batch run
(J4/J5 resume semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from europa_spark.config import CANONICAL
from europa_spark.exact import representatives, with_content_hash
from europa_spark.extract import split_quarantine, with_extracted
from europa_spark.minhash import with_signatures
from europa_spark.pipeline import TEXT_METHODS
from europa_spark.scope import Scope
from europa_spark.streaming import _PAIR_STATE, delta_pairs


@pytest.fixture(scope="module")
def split_reps(spark, docs_df):
    clean, _ = split_quarantine(with_extracted(docs_df))
    reps = representatives(with_content_hash(clean)).select("url", "extracted")
    old = reps.filter(F.crc32(F.col("url")) % 4 != 0)
    new = reps.filter(F.crc32(F.col("url")) % 4 == 0)
    return reps.cache(), old.cache(), new.cache()


def _rows(df) -> set:
    return {(r["url_a"], r["url_b"], r["score"]) for r in df.collect()}


@pytest.mark.parametrize("method", list(TEXT_METHODS))
def test_incremental_equals_batch(spark, split_reps, method):
    """Old pairs (a batch run over the old docs) plus delta_pairs' pairs for
    the new docs equal a batch run over all docs, scores included."""
    reps, old, new = split_reps
    pair = TEXT_METHODS[method][1]
    # the scope owns every frame read more than once (the old signatures,
    # old_pairs, and the band/verify intermediates behind its registry)
    with Scope(spark) as scope:
        batch = _rows(pair(reps, CANONICAL, registry=scope.frames))
        # the old docs' signature state: a delta on an empty index
        empty = spark.createDataFrame([], _PAIR_STATE[method][1])
        old_sigs, _ = delta_pairs(empty, old, method, scope=scope)
        old_pairs = scope.persist(
            pair(old_sigs, CANONICAL, sigs=old_sigs, registry=scope.frames)
        )
        old_rows = _rows(old_pairs)
        _, delta = delta_pairs(
            old_sigs, new, method, existing_pairs=old_pairs, scope=scope
        )
        delta_rows = _rows(delta)
    assert batch
    # no overlap (anti-join) and exact union
    assert not ({r[:2] for r in old_rows} & {r[:2] for r in delta_rows})
    assert old_rows | delta_rows == batch
    # every delta pair touches a new doc
    new_urls = {r["url"] for r in new.collect()}
    assert all(a in new_urls or b in new_urls for a, b, _ in delta_rows)


def test_incremental_hot_bucket_salted_probe(spark):
    """r4 ADVICE #1: a probe landing in a HOT index bucket must pair with
    the star anchor AND with every index member sharing its salted
    sub-bucket (mirroring the batch path's salted sub-bucket pairs) — the r4 code
    paired hot-bucket probes with the anchor only, silently losing the
    direct edge to a non-anchor near-dup. Pinned exactly: expected set is
    recomputed here from the same salt formula."""
    from europa_spark.config import DedupConfig
    from europa_spark.minhash import band_table

    cfg = DedupConfig(bucket_cap=2, salt_sub_cap=2)
    text = " ".join(f"t{i}" for i in range(100))
    old = spark.createDataFrame(
        [(f"u{i:02d}", text) for i in range(8)], "url string, extracted string"
    )
    new = spark.createDataFrame([("u08", text)], "url string, extracted string")
    old_sigs = with_signatures(old, cfg)
    new_sigs, delta = delta_pairs(old_sigs, new, "minhash", cfg)
    got = {(r["url_a"], r["url_b"]) for r in delta.collect()}
    assert all("u08" in p for p in got)
    assert ("u00", "u08") in got  # star anchor edge
    # replicate the salt assignment over the accumulated band index:
    # 9 identical docs per bucket, cap 2 -> n_salts = ceil(9/2) = 5
    cols = ["url", "extracted", "minhash"]
    bt = band_table(
        old_sigs.select(*cols).unionByName(new_sigs.select(*cols)), cfg
    )
    salted = bt.withColumn(
        "salt", F.pmod(F.xxhash64("url", "band_idx", "band_hash"), F.lit(5))
    )
    probe = salted.filter(F.col("url") == "u08").select(
        "band_idx", "band_hash", "salt"
    )
    partners = {
        r["url"]
        for r in salted.join(probe, ["band_idx", "band_hash", "salt"])
        .filter(F.col("url") != "u08")
        .collect()
    }
    expected = {(min(m, "u08"), max(m, "u08")) for m in partners}
    expected.add(("u00", "u08"))
    # identical texts verify at J=1, so candidates == confirmed pairs
    assert got == expected


def test_incremental_simhash_hot_bucket_salted_probe(spark):
    """Same pin for the simhash incremental index (the r3 ADVICE #3 twin):
    hot-bucket probes pair with the anchor plus their salted sub-bucket."""
    from europa_spark.config import DedupConfig
    from europa_spark.simhash import _band_cols

    cfg = DedupConfig(bucket_cap=2, salt_sub_cap=2)
    text = " ".join(f"t{i}" for i in range(100))
    old = spark.createDataFrame(
        [(f"u{i:02d}", text) for i in range(8)], "url string, extracted string"
    )
    new = spark.createDataFrame([("u08", text)], "url string, extracted string")
    old_sigs = with_signatures(old, cfg, kinds=("simhash",)).select(
        "url", "simhash"
    )
    new_sigs, delta = delta_pairs(old_sigs, new, "simhash", cfg)
    got = {(r["url_a"], r["url_b"]) for r in delta.collect()}
    assert all("u08" in p for p in got)
    assert ("u00", "u08") in got
    bt = (
        old_sigs.unionByName(new_sigs.select("url", "simhash"))
        .select(
            "url", F.posexplode(_band_cols(cfg)).alias("band_idx", "band_key")
        )
        .withColumn(
            "salt", F.pmod(F.xxhash64("url", "band_idx", "band_key"), F.lit(5))
        )
    )
    probe = bt.filter(F.col("url") == "u08").select(
        "band_idx", "band_key", "salt"
    )
    partners = {
        r["url"]
        for r in bt.join(probe, ["band_idx", "band_key", "salt"])
        .filter(F.col("url") != "u08")
        .collect()
    }
    expected = {(min(m, "u08"), max(m, "u08")) for m in partners}
    expected.add(("u00", "u08"))
    assert got == expected


def test_incremental_mega_bucket_star_only(spark):
    """Probes landing in MEGA index buckets (> star_only_cap) pair with the
    star anchor only — bounded per-probe fan-out on web-scale boilerplate."""
    from europa_spark.config import DedupConfig

    cfg = DedupConfig(bucket_cap=2, star_only_cap=4)
    text = " ".join(f"t{i}" for i in range(100))
    old = spark.createDataFrame(
        [(f"u{i:02d}", text) for i in range(8)], "url string, extracted string"
    )
    new = spark.createDataFrame([("u08", text)], "url string, extracted string")
    _, delta = delta_pairs(with_signatures(old, cfg), new, "minhash", cfg)
    assert {(r["url_a"], r["url_b"]) for r in delta.collect()} == {("u00", "u08")}
