"""MinHash/LSH path: signature determinism, estimator sanity, planted-pair
recall, decoy rejection, and the hot-bucket star-edge skew path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from europa_spark.config import DedupConfig
from europa_spark.exact import representatives, with_content_hash
from europa_spark.extract import split_quarantine, with_extracted
from europa_spark.fixtures import _shingles, jaccard
from europa_spark.minhash import (
    _batch_shingle_hashes,
    band_table,
    candidate_pairs,
    minhash_pairs,
    verify_pairs,
    with_signatures,
)
from europa_spark.multimodal import media_blockmean_pairs
from europa_spark.simhash import simhash_pairs
from europa_spark.streaming import delta_pairs


@pytest.fixture(scope="module")
def reps(spark, docs_df):
    clean, _ = split_quarantine(with_extracted(docs_df))
    return representatives(with_content_hash(clean)).select("url", "extracted").cache()


@pytest.fixture(scope="module")
def sigs(reps):
    return with_signatures(reps).cache()


def test_signature_shape_and_determinism(spark, sigs):
    two = sigs.limit(5).select("url", "minhash")
    rows1 = {r["url"]: r["minhash"] for r in two.collect()}
    rows2 = {r["url"]: r["minhash"] for r in two.collect()}
    assert rows1 == rows2
    assert all(len(v) == 128 for v in rows1.values())


def test_signatures_carry_no_shingle_arrays(reps, sigs):
    """Signatures add only the minhash column; the wide shingle-array
    layout is gone (verify rehashes the text)."""
    assert sigs.columns == [*reps.columns, "minhash"]
    with pytest.raises(ValueError):
        with_signatures(reps, include_shingles=True)


def test_minhash_estimates_jaccard(spark):
    """Signature agreement fraction must track true Jaccard (property)."""
    base = " ".join(f"w{i}" for i in range(300))
    variant = " ".join(f"w{i}" if i % 10 else f"x{i}" for i in range(300))
    df = spark.createDataFrame([("a", base), ("b", variant)], "url string, extracted string")
    s = {r["url"]: r for r in with_signatures(df).collect()}
    true_j = jaccard(_shingles(base.split(" ")), _shingles(variant.split(" ")))
    est = sum(x == y for x, y in zip(s["a"]["minhash"], s["b"]["minhash"])) / 128
    assert abs(est - true_j) < 0.15, (true_j, est)


def _planted_minhash_pairs(corpus):
    return {
        (a, b)
        for a, b, m, _ in corpus.expected_pairs.itertuples(index=False)
        if m == "minhash"
    }


def test_recall_and_decoy_rejection(spark, reps, sigs, corpus):
    got = {
        (r["url_a"], r["url_b"])
        for r in minhash_pairs(reps, sigs=sigs).collect()
    }
    planted = _planted_minhash_pairs(corpus)
    missed = planted - got
    recall = 1 - len(missed) / len(planted)
    assert recall >= 0.99, f"recall {recall}, missed {sorted(missed)[:5]}"
    # decoys (block C 'd' docs) must never pair with their base
    decoy_pairs = {p for p in got if "/c/" in p[0] and p[1].endswith("d")}
    assert not decoy_pairs
    # every found pair must truly be above threshold (verify step is exact)
    ext = {r["url"]: r["extracted"] for r in reps.collect()}
    for a, b in list(got - planted)[:50]:
        j = jaccard(_shingles(ext[a].split(" ")), _shingles(ext[b].split(" ")))
        assert j >= 0.8, (a, b, j)


def test_hot_bucket_star_and_salted_edges(spark):
    """Oversized band buckets route to star edges + salted within-sub-bucket
    all-pairs (skew cap): work is O(n * cap), never O(n^2)."""
    cfg = DedupConfig(bucket_cap=3, salt_sub_cap=3)
    text = " ".join(f"t{i}" for i in range(100))
    n = 10
    df = spark.createDataFrame(
        [(f"u{i:02d}", text) for i in range(n)], "url string, extracted string"
    )
    sigs = with_signatures(df, cfg)
    bt = band_table(sigs, cfg)
    cands = candidate_pairs(bt, cfg)
    rows = {(r["url_a"], r["url_b"]) for r in cands.collect()}
    star = {("u00", f"u{i:02d}") for i in range(1, n)}
    assert star <= rows  # connectivity through the bucket representative
    # boundedness is PER BAND (identical docs collide in all 16 bands and
    # each band salts differently, so the union may approach all-pairs —
    # per-band candidate WORK is what must stay O(n * cap)):
    one_band = candidate_pairs(bt.filter(F.col("band_idx") == 0), cfg)
    assert one_band.count() < n * cfg.bucket_cap
    confirmed = verify_pairs(cands, sigs, cfg)
    # identical text -> J=1 on every candidate, so the component is intact
    assert confirmed.count() == len(rows)


def test_hot_bucket_mutual_pairs_survive_salting(spark):
    """Adversarial (ADVICE r01): hot-bucket members that are near-dups of
    EACH OTHER but not of the bucket min must keep a direct candidate edge
    whenever they share a salt — the star-only r01 design dropped them all."""
    cfg = DedupConfig(bucket_cap=2, salt_sub_cap=2)
    members = ["a0"] + [f"m{i}" for i in range(1, 8)]
    bands = spark.createDataFrame(
        [(u, 0, 42) for u in members], "url string, band_idx int, band_hash bigint"
    )
    rows = {
        (r["url_a"], r["url_b"])
        for r in candidate_pairs(bands, cfg).collect()
    }
    star = {("a0", m) for m in members[1:]}
    assert star <= rows
    non_star = rows - star
    # salting ceil(8/2)=4 sub-buckets over 8 members: within-salt mutual
    # pairs must exist (deterministic xxhash salt assignment)
    assert non_star, "salted sub-buckets must emit direct member-member pairs"
    # and the fan-out stays linear-ish: every member appears in O(cap) pairs
    from collections import Counter

    degree = Counter()
    for a, b in rows:
        degree[a] += 1
        degree[b] += 1
    assert max(degree[m] for m in members[1:]) <= 2 * cfg.bucket_cap
    # the batch simhash band join routes the same way: one shared signature
    # puts all 8 urls in one hot bucket of each of its 4 bands; the star
    # edges carry the anchor's signature from the bucket stats (a missing
    # anchor payload would fail the Hamming verify and drop them)
    sigs = spark.createDataFrame(
        [(u, 7) for u in members], "url string, simhash bigint"
    )
    got = {
        (r["url_a"], r["url_b"])
        for r in simhash_pairs(None, cfg, sigs=sigs).collect()
    }
    assert star <= got
    assert got - star, "simhash salted sub-buckets must emit member pairs"


def test_band_join_is_narrow(spark, sigs):
    """The band self-join must shuffle only narrow columns — the wide
    shingles/minhash arrays may not appear anywhere in its optimized plan."""
    bt = band_table(sigs)
    assert set(bt.columns) == {"url", "band_idx", "band_hash"}
    # shingles/minhash legitimately feed the signature projection, but no
    # SHUFFLE may carry the wide arrays: every Exchange input must be narrow
    import re

    plan = (
        candidate_pairs(bt)._jdf.queryExecution().executedPlan().toString()
    )
    for m in re.finditer(r"Exchange ([^\n]*)", plan):
        line = m.group(1)
        assert "shingles" not in line and "minhash" not in line, line


def _set_jaccard(reps, pairs, k: int) -> dict:
    """Driver-side reference: |A∩B|/|A∪B| over Python sets of each url's
    shingle hashes, for every (url_a, url_b) in ``pairs``."""
    ext = {r["url"]: r["extracted"] for r in reps.collect()}
    urls = sorted({u for p in pairs for u in p})
    sets = dict(zip(urls, (
        set(a.tolist())
        for a in _batch_shingle_hashes([ext[u] for u in urls], k)
    )))
    return {(a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b]) for a, b in pairs}


def test_verify_strategy_and_margin_equivalence(spark, reps, sigs):
    """The rehash verify must score every confirmed pair exactly as a
    driver-side |A∩B|/|A∪B| over Python sets of the same shingle hashes,
    and confirm exactly the candidates that reference puts at or above the
    threshold, no more and no fewer."""
    base = {
        (r["url_a"], r["url_b"], r["score"])
        for r in minhash_pairs(reps).collect()
    }
    assert base, "planted corpus must yield pairs"
    cfg = DedupConfig()
    cands = [
        (r["url_a"], r["url_b"])
        for r in candidate_pairs(band_table(sigs)).collect()
    ]
    ref = _set_jaccard(reps, cands, cfg.shingle_k)
    for a, b, score in base:
        assert score == ref[a, b], (a, b, score, ref[a, b])
    expected = {p for p in cands if ref[p] >= cfg.jaccard_threshold}
    got = {(a, b) for a, b, _ in base}
    assert got == expected, (sorted(expected - got)[:5], sorted(got - expected)[:5])


def test_mega_bucket_star_only(spark):
    """Buckets above cfg.star_only_cap (web-scale boilerplate cliques) keep
    star edges but skip salted sub-bucket pairs, in every band join — the
    salted work would be n*cap/2 per band while star edges alone give full
    cluster recall for a true near-dup clique (config.star_only_cap
    rationale)."""
    cfg = DedupConfig(bucket_cap=2, star_only_cap=4)
    bands = spark.createDataFrame(
        [(f"m{i}", 0, 42) for i in range(8)],
        "url string, band_idx int, band_hash bigint",
    )
    rows = {
        (r["url_a"], r["url_b"]) for r in candidate_pairs(bands, cfg).collect()
    }
    star = {("m0", f"m{i}") for i in range(1, 8)}
    assert rows == star
    # the simhash and blockmean band joins follow the same caps. SimHash:
    # the 8 signatures share bands 0-2 (one mega bucket each) and differ in
    # bits 60-62, so each star pair's score pins the ANCHOR's signature
    # (m0's, from the bucket stats), not the member's own
    sh = spark.createDataFrame(
        [(f"m{i}", 7 | (i << 60)) for i in range(8)], "url string, simhash bigint"
    )
    got = simhash_pairs(None, cfg, sigs=sh).collect()
    assert {
        (r["url_a"], r["url_b"], r["score"]) for r in got
    } == {("m0", f"m{i}", (64 - bin(i).count("1")) / 64) for i in range(1, 8)}
    # block-mean: one shared signature puts all 8 urls in one mega bucket
    # of every band
    bm = spark.createDataFrame(
        [(f"m{i}", "a5" * 121) for i in range(8)], "url string, blockmean string"
    )
    got = media_blockmean_pairs(bm, cfg=cfg).collect()
    assert {(r["url_a"], r["url_b"]) for r in got} == star
    assert all(r["score"] == 1.0 for r in got)


def test_pair_functions_without_registry_are_lazy(spark, reps):
    """With no registry, building the minhash and substring pair plans
    launches no Spark job and caches nothing: a barrier job whose caches
    are dropped before the lazy result is read is pure waste."""
    from europa_spark.cancel import JobGroup
    from europa_spark.substring import substring_pairs

    sc = spark.sparkContext

    def persisted():
        return set(sc._jsc.getPersistentRDDs().keys())

    before = persisted()
    group = JobGroup(spark, "lazy-pair-plans")
    with group:
        minhash_pairs(reps)
        substring_pairs(reps)
    assert list(sc.statusTracker().getJobIdsForGroup(group.group_id)) == []
    assert persisted() == before


def _python_evals(df) -> list[str]:
    """Names of the Python-evaluation nodes in df's optimized plan."""
    out, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if "Python" in name or name.startswith("MapIn"):
            out.append(name)
        ch = node.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return out


def test_verify_evaluates_each_pair_once(spark, reps, sigs):
    """Verify scores and filters in one Arrow map, so its optimized plan
    holds one Python evaluation, in the batch and the incremental path. A
    pandas-UDF score column under the threshold filter planned two stacked
    ArrowEvalPython nodes (Catalyst pushes the filter below the projection):
    every pair's texts crossed to Python and were scored twice."""
    cands = candidate_pairs(band_table(sigs))
    assert _python_evals(verify_pairs(cands, reps)) == ["MapInArrow"]
    old = sigs.filter(F.crc32("url") % 4 != 0)
    new = reps.filter(F.crc32("url") % 4 == 0)
    _, delta = delta_pairs(old, new, "minhash")
    assert _python_evals(delta) == ["MapInArrow"]


def test_verify_threshold_and_empty_texts(spark):
    """The map keeps a pair iff its score reaches jaccard_threshold, with
    that score. An empty (or null) text is one empty token, never an empty
    shingle set: two such texts score 1.0 and are confirmed."""
    words = [f"t{i}" for i in range(20)]  # 16 distinct 5-shingles

    def edit(i):
        return " ".join(words[:i] + ["zz"] + words[i + 1:])

    sigs = spark.createDataFrame(
        [("a", ""), ("b", ""), ("c", None), ("d", " ".join(words)),
         ("e", edit(19)), ("f", edit(10))],
        "url string, extracted string",
    )
    cands = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("d", "e"), ("d", "f")],
        "url_a string, url_b string",
    )
    got = {
        (r["url_a"], r["url_b"], r["method"], r["score"])
        for r in verify_pairs(cands, sigs).collect()
    }
    # d/e share 15 of 17 shingles (0.88); d/f share 11 of 21 (0.52)
    assert got == {
        ("a", "b", "minhash", 1.0), ("a", "c", "minhash", 1.0),
        ("d", "e", "minhash", 15 / 17),
    }
