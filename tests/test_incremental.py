"""Pair-level delta compute: incremental run over (old + new) must produce
the same pair set as a from-scratch batch run (J4/J5 resume semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from europa_spark.exact import representatives, with_content_hash
from europa_spark.extract import split_quarantine, with_extracted
from europa_spark.minhash import incremental_minhash_pairs, minhash_pairs, with_signatures


@pytest.fixture(scope="module")
def split_reps(spark, docs_df):
    clean, _ = split_quarantine(with_extracted(docs_df))
    reps = representatives(with_content_hash(clean)).select("url", "extracted")
    old = reps.filter(F.crc32(F.col("url")) % 4 != 0)
    new = reps.filter(F.crc32(F.col("url")) % 4 == 0)
    return reps.cache(), old.cache(), new.cache()


def test_incremental_equals_batch(spark, split_reps):
    reps, old, new = split_reps
    # caller-owned caches: every frame read more than once (the signatures,
    # old_pairs, and the band/verify intermediates behind the registry)
    # runs its UDF subtree once
    reg: list = []
    try:
        batch_pairs = {
            (r["url_a"], r["url_b"])
            for r in minhash_pairs(reps, registry=reg).collect()
        }
        old_sigs = with_signatures(old).persist()
        reg.append(old_sigs)
        old_pairs = minhash_pairs(old, sigs=old_sigs, registry=reg).persist()
        reg.append(old_pairs)
        old_set = {(r["url_a"], r["url_b"]) for r in old_pairs.collect()}
        _, delta = incremental_minhash_pairs(
            old_sigs, new, existing_pairs=old_pairs
        )
        delta_set = {(r["url_a"], r["url_b"]) for r in delta.collect()}
    finally:
        for f in reg:
            f.unpersist()
    # no overlap (anti-join) and exact union
    assert not (old_set & delta_set)
    assert old_set | delta_set == batch_pairs
    # every delta pair touches a new doc
    new_urls = {r["url"] for r in new.collect()}
    assert all(a in new_urls or b in new_urls for a, b in delta_set)


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
    new_sigs, delta = incremental_minhash_pairs(old_sigs, new, cfg)
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
    from europa_spark.simhash import (
        _band_cols,
        incremental_simhash_pairs,
        with_simhash,
    )

    cfg = DedupConfig(bucket_cap=2, salt_sub_cap=2)
    text = " ".join(f"t{i}" for i in range(100))
    old = spark.createDataFrame(
        [(f"u{i:02d}", text) for i in range(8)], "url string, extracted string"
    )
    new = spark.createDataFrame([("u08", text)], "url string, extracted string")
    old_sigs = with_simhash(old, cfg).select("url", "simhash")
    new_sigs, delta = incremental_simhash_pairs(old_sigs, new, cfg)
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
    _, delta = incremental_minhash_pairs(with_signatures(old, cfg), new, cfg)
    assert {(r["url_a"], r["url_b"]) for r in delta.collect()} == {("u00", "u08")}
