"""Structured-Streaming incremental dedup + multimodal binary plumbing."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import numpy as np

from europa_spark.multimodal import (
    _decode_bytes,
    blockmean_hash,
    dhash64,
    make_fake_media,
    media_exact_dups,
    media_phash_pairs,
    media_signatures,
    phash64,
    with_media_metadata,
)
from europa_spark.pipeline import METHODS
from europa_spark.streaming import (
    process_batch,
    process_batch_pairs,
    read_dup_log,
    read_pairs,
    start_incremental_dedup,
    start_incremental_pairs,
)


def _write_docs(path: str, rows: list[tuple[str, str]]) -> None:
    t = pa.Table.from_arrays(
        [
            pa.array([r[0] for r in rows]),
            pa.array([None] * len(rows), pa.timestamp("us", tz="UTC")),
            pa.array([None] * len(rows), pa.binary()),
            pa.array([r[1] for r in rows]),
            pa.array(["en"] * len(rows)),
        ],
        names=["url", "warc_ts", "html", "text", "lang"],
    )
    pq.write_table(t, path)


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_incremental_stream_dedup(spark, tmp_path):
    src = tmp_path / "src"
    state = str(tmp_path / "state")
    os.makedirs(src)

    _write_docs(str(src / "b1.parquet"), [("u1", "alpha beta"), ("u2", "alpha beta"), ("u3", "unique one")])
    before = _persistent_ids(spark)
    q = start_incremental_dedup(spark, str(src), state)
    q.awaitTermination(120)
    # the batch's checkpoint is freed once its state writes finish
    assert _persistent_ids(spark) - before == set()

    log1 = {(r["url"], r["duplicate_of"]) for r in read_dup_log(spark, state).collect()}
    assert log1 == {("u2", "u1")}  # intra-batch dup, first-wins by min url

    # second batch: cross-batch dup of u1 + new unique
    _write_docs(str(src / "b2.parquet"), [("u4", "alpha beta"), ("u5", "another text")])
    q = start_incremental_dedup(spark, str(src), state)
    q.awaitTermination(120)

    log2 = {(r["url"], r["duplicate_of"]) for r in read_dup_log(spark, state).collect()}
    assert log2 == {("u2", "u1"), ("u4", "u1")}, log2


def test_corrupted_state_raises_not_restarts(spark, tmp_path):
    """A corrupted (existing but unreadable) state dir must RAISE, not be
    silently treated as 'first batch, empty state' — the r2 design swallowed
    any read exception and would re-admit every duplicate with wrong state
    (ADVICE r2: narrow to missing-path only)."""
    import pytest

    from europa_spark.streaming import _read_state

    schema = "content_hash string, first_url string"
    state = tmp_path / "corrupt_state"
    seen = state / "seen"
    os.makedirs(seen)
    (seen / "part-00000.parquet").write_bytes(b"this is not parquet at all")
    with pytest.raises(Exception):
        _read_state(spark, str(seen), schema, before_batch=1).collect()

    # a genuinely MISSING dir still reads as empty first-batch state
    empty = _read_state(spark, str(tmp_path / "never_written" / "seen"), schema, 1)
    assert empty.count() == 0


def _near_dup_texts():
    base = " ".join(f"tok{i}" for i in range(120))
    # one changed token kills <= 5 of ~116 shingles: J ~ 0.92 > 0.8
    variant = " ".join("CHANGED" if i == 60 else f"tok{i}" for i in range(120))
    unrelated = " ".join(f"zzz{i}" for i in range(120))
    return base, variant, unrelated


def _stream_texts(method: str) -> tuple[str, str, str]:
    """(base, variant, unrelated): variant pairs with base under ``method``,
    unrelated pairs with neither."""
    base, variant, unrelated = _near_dup_texts()
    if method == "simhash":
        # the mid-text change flips 5 of 64 bits (> simhash_hamming_d = 3);
        # changing the last token flips 1
        variant = base.rsplit(" ", 1)[0] + " CHANGED"
    elif method == "substring":
        block = " ".join(f"copied{i}" for i in range(100))  # ~780 chars shared
        base = "unique lead-in alpha " + block + " unique tail one"
        variant = "totally different start " + block + " and another ending"
        unrelated = " ".join(f"noise{i}" for i in range(120))
    return base, variant, unrelated


def _pair_rows(spark, state: str, method: str) -> set:
    return {
        (r["url_a"], r["url_b"], r["score"])
        for r in read_pairs(spark, state, method).collect()
    }


@pytest.mark.parametrize("method", [m for m in METHODS if m != "exact"])
def test_incremental_stream_pairs(spark, tmp_path, method):
    """Streaming pair dedup for every text method: batch 1 yields no pair,
    batch 2's doc probes the index accumulated from batch 1 and pairs with
    its planted twin, and a replay of batch 1 (checkpoint recovery)
    rewrites identical partitions (exactly-once)."""
    src = tmp_path / "src"
    state = str(tmp_path / "state")
    os.makedirs(src)
    base, variant, unrelated = _stream_texts(method)

    _write_docs(str(src / "b1.parquet"), [("d1", base), ("d2", unrelated)])
    before = _persistent_ids(spark)
    start_incremental_pairs(spark, str(src), state, method).awaitTermination(120)
    assert _pair_rows(spark, state, method) == set()

    _write_docs(str(src / "b2.parquet"), [("d3", variant)])
    start_incremental_pairs(spark, str(src), state, method).awaitTermination(120)
    # each batch frees its new-signature checkpoint once its writes finish
    assert _persistent_ids(spark) - before == set()
    got = _pair_rows(spark, state, method)
    assert {(a, b) for a, b, _ in got} == {("d1", "d3")}, got

    if method == "simhash":
        # equivalence with the one-shot batch path over the union
        from europa_spark.extract import split_quarantine, with_extracted
        from europa_spark.simhash import simhash_pairs

        union = spark.createDataFrame(
            [("d1", None, None, base, "en"), ("d2", None, None, unrelated, "en"),
             ("d3", None, None, variant, "en")],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        clean, _ = split_quarantine(with_extracted(union))
        batch = {
            (r["url_a"], r["url_b"], r["score"])
            for r in simhash_pairs(clean.select("url", "extracted")).collect()
        }
        assert got == batch, (got, batch)

    # replay of batch 1 (recovery semantics): identical rows, no dup pairs
    b1 = spark.createDataFrame(
        [("d3", None, None, variant, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    process_batch_pairs(b1, 1, state, method)
    assert _pair_rows(spark, state, method) == got


def test_stream_pairs_rejects_unknown_method(spark, tmp_path):
    """A method with no streaming pair state fails before any dir is made."""
    state = str(tmp_path / "state")
    with pytest.raises(ValueError, match="no streaming pair state.*'exact'"):
        start_incremental_pairs(spark, str(tmp_path), state, "exact")
    with pytest.raises(ValueError, match="known: \\['minhash'"):
        read_pairs(spark, state, "nope")
    assert not os.path.exists(state)


@pytest.mark.parametrize(
    "method, sigs_dir, rows, schema, match",
    [
        ("minhash", "sigs", [("n1", [1, 2, 3], list(range(128)))],
         "url string, shingles array<bigint>, minhash array<bigint>",
         "old .*shingles.* layout"),
        ("substring", "fps", [("n1", [1, 2, 3])],
         "url string, fps array<bigint>",
         "old layout.*uid bigint, url string, fps"),
        ("simhash", "sh_sigs", [("n1", 7)],
         "url string, sig bigint",
         "old .*sig.* layout.*simhash bigint"),
    ],
    ids=["minhash", "substring", "simhash"],
)
def test_stream_pairs_reject_old_state_layout(
    spark, tmp_path, method, sigs_dir, rows, schema, match
):
    """A signature dir written in another layout (the old near-dup sigs/
    held (url, shingles, minhash)) must fail with an error that names the
    layout, never read as an empty index while the pair log holds
    history."""
    state = str(tmp_path / "oldstate")
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(state, sigs_dir, "batch_id=0")
    )
    base, _, _ = _near_dup_texts()
    batch = spark.createDataFrame(
        [("n2", None, None, base, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    with pytest.raises(ValueError, match=match):
        process_batch_pairs(batch, 1, state, method)


def test_stream_uri_state_dir_leaves_no_local_tree(spark, tmp_path, monkeypatch):
    """A URI state_dir is written through the Hadoop FS only: starting a
    stream leaves no ./file: tree in the cwd."""
    src = tmp_path / "src"
    cwd = tmp_path / "cwd"
    os.makedirs(src)
    os.makedirs(cwd)
    _write_docs(str(src / "b1.parquet"), [("u1", "alpha beta"), ("u2", "alpha beta")])
    state = (tmp_path / "state").as_uri()
    monkeypatch.chdir(cwd)
    start_incremental_dedup(spark, str(src), state).awaitTermination(120)
    assert not (cwd / "file:").exists()
    log = {(r["url"], r["duplicate_of"]) for r in read_dup_log(spark, state).collect()}
    assert log == {("u2", "u1")}


def test_media_metadata_and_signatures(spark):
    rows = [
        ("m1", make_fake_media(8, 6, b"abcabc")),
        ("m2", make_fake_media(8, 6, b"abcabc")),       # byte-identical to m1
        ("m3", make_fake_media(16, 4, b"zzzzzz")),
        ("m4", b"\xff\xd8\xffJPEGDATA"),                 # real codec: skipped
    ]
    df = spark.createDataFrame(rows, "url string, media binary")
    meta = {r["url"]: r for r in with_media_metadata(df).collect()}
    assert meta["m1"]["media_type"] == "fake"
    assert meta["m4"]["media_type"] == "jpeg"
    assert meta["m1"]["n_bytes"] == len(rows[0][1])

    sigs = {r["url"]: r for r in media_signatures(df).collect()}
    assert set(sigs) == {"m1", "m2", "m3"}  # jpeg skipped (stub decoder)
    assert (sigs["m1"]["width"], sigs["m1"]["height"]) == (8, 6)
    for col in ("dhash", "phash", "blockmean"):
        assert sigs["m1"][col] == sigs["m2"][col]  # byte-identical media
        assert sigs["m1"][col] != sigs["m3"][col]
    assert len(sigs["m1"]["blockmean"]) == 242  # 961 bits -> 121 bytes hex

    dups = {(r["url"], r["group_id"]) for r in media_exact_dups(df).collect()}
    assert dups == {("m1", "m1"), ("m2", "m1")}


def _rand_image(rng, w=48, h=32):
    return rng.integers(0, 256, size=w * h, dtype=np.uint8)


def test_perceptual_hash_properties():
    """The three reference hash algorithms (DifferenceHash.cs:20-46,
    PerceptualHash.cs:64-120, BlockMeanHash.cs:46-99): near-identical images
    hash within a small Hamming radius, unrelated images far; hashes are
    scale-invariant (resize canonicalization)."""
    rng = np.random.default_rng(11)
    base = _rand_image(rng)
    noisy = np.clip(base.astype(np.int16) + rng.integers(-2, 3, base.shape), 0, 255)
    other = _rand_image(rng)

    def grid(payload):
        return _decode_bytes(make_fake_media(48, 32, payload.astype(np.uint8).tobytes()))[2]

    def ham64(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    g0, g1, g2 = grid(base), grid(noisy), grid(other)
    assert ham64(dhash64(g0), dhash64(g1)) <= 6
    assert ham64(dhash64(g0), dhash64(g2)) >= 16
    assert ham64(phash64(g0), phash64(g1)) <= 6
    assert ham64(phash64(g0), phash64(g2)) >= 16

    bm = lambda g: int.from_bytes(blockmean_hash(g), "little")  # noqa: E731
    assert bin(bm(g0) ^ bm(g1)).count("1") <= 96   # of 961 bits
    assert bin(bm(g0) ^ bm(g2)).count("1") >= 300

    # scale invariance: 2x upsampled image stays within the radius
    big = np.kron(g0, np.ones((2, 2)))
    w, h = big.shape[1], big.shape[0]
    assert ham64(phash64(g0), phash64(big)) <= 8, (w, h)


def test_media_phash_pairs_planted(spark):
    """Planted perceptual near-dups group; unrelated media do not."""
    rng = np.random.default_rng(5)
    base = _rand_image(rng)
    noisy = np.clip(base.astype(np.int16) + rng.integers(-1, 2, base.shape), 0, 255)
    rows = [
        ("p1", make_fake_media(48, 32, base.tobytes())),
        ("p2", make_fake_media(48, 32, noisy.astype(np.uint8).tobytes())),
        ("p3", make_fake_media(48, 32, _rand_image(rng).tobytes())),
        ("p4", make_fake_media(48, 32, _rand_image(rng).tobytes())),
    ]
    df = spark.createDataFrame(rows, "url string, media binary")
    pairs = {
        (r["url_a"], r["url_b"])
        for r in media_phash_pairs(media_signatures(df)).collect()
    }
    assert ("p1", "p2") in pairs
    assert all({a, b} == {"p1", "p2"} for a, b in pairs), pairs


def test_text_sketch_media_radius_search_finds_planted_pairs(spark, corpus):
    """The gated media_phash_pairs path end-to-end on the fixture corpus:
    shingle-sketch rendering -> pHash -> radius search must recover every
    planted >=0.8-Jaccard near-dup pair and nothing Jaccard-far (r2 VERDICT
    #3: the gate must certify a non-empty, expected pair set)."""
    from europa_spark.extract import split_quarantine, with_extracted
    from europa_spark.multimodal import text_sketch_media

    docs = spark.createDataFrame(corpus.documents)
    clean, _ = split_quarantine(with_extracted(docs))
    sketch = text_sketch_media(clean.limit(400))
    sigs = media_signatures(sketch)
    got = {
        (r["url_a"], r["url_b"])
        for r in media_phash_pairs(sigs).collect()
    }
    exp = corpus.expected_pairs
    planted = {
        tuple(sorted((a, b)))
        for a, b, j in zip(exp["url_a"], exp["url_b"], exp["true_jaccard"])
        if j >= 0.8
    }
    in_scope = {r["url"] for r in sketch.select("url").collect()}
    planted = {p for p in planted if p[0] in in_scope and p[1] in in_scope}
    assert planted, "fixture must plant in-scope near-dup pairs"
    # the perceptual radius search is approximate by nature (like the
    # reference's SimilarImageFinder): measured planted recall 1.0 on this
    # corpus and 0.989 on a fresh seed-7 corpus (tail pairs at Hamming
    # 12-14 vs the ~18 background floor). Gate at 0.95 + nothing spurious.
    recall = len(planted & got) / len(planted)
    assert recall >= 0.95, (recall, planted - got)
    # no spurious far pairs: everything found lies INSIDE one planted
    # cluster (siblings just under 0.8 direct Jaccard are legitimately
    # sketch-close; cross-cluster hits would be false positives)
    cl = dict(
        zip(corpus.expected_clusters["url"], corpus.expected_clusters["cluster_id"])
    )
    assert all(
        a in cl and b in cl and cl[a] == cl[b] for a, b in got
    ), {p for p in got if cl.get(p[0]) != cl.get(p[1])}


def test_video_vote_matching_planted(spark):
    """Vote-threshold video matching on EXPLICIT planted videos: v1/v2 share
    4 of 5 frames (one frame noised) -> pair; v3 shares only 2 distinct
    frames with anything (its repeated f6 must count once, not thrice) ->
    below the 3-vote threshold; v4 is unrelated -> no pair."""
    from europa_spark.multimodal import (
        make_fake_video,
        video_frame_signatures,
        video_near_dups,
    )

    rng = np.random.default_rng(9)
    f = [rng.integers(0, 256, 48 * 48, dtype=np.uint8).tobytes() for _ in range(7)]
    noisy = (
        np.clip(
            np.frombuffer(f[0], dtype=np.uint8).astype(np.int16)
            + rng.integers(-1, 2, 48 * 48),
            0, 255,
        ).astype(np.uint8).tobytes()
    )
    rows = [
        ("v1", make_fake_video(48, 48, [f[0], f[1], f[2], f[3], f[4]])),
        ("v2", make_fake_video(48, 48, [noisy, f[1], f[2], f[3], f[5]])),
        ("v3", make_fake_video(48, 48, [f[0], f[1], f[6], f[6], f[6]])),
        ("v4", make_fake_video(48, 48, [rng.integers(0, 256, 48 * 48, dtype=np.uint8).tobytes() for _ in range(5)])),
    ]
    df = spark.createDataFrame(rows, "url string, media binary")
    sigs = video_frame_signatures(df)
    assert sigs.count() == 20  # 4 videos x 5 frames
    pairs = {
        (r["url_a"], r["url_b"]): r["score"]
        for r in video_near_dups(sigs).collect()
    }
    assert set(pairs) == {("v1", "v2")}, pairs
    assert pairs[("v1", "v2")] >= 4  # 3 identical + 1 noised frame

    # frame sampling: every 2nd frame halves the signature rows
    assert video_frame_signatures(df, sample_every=2).count() == 12


def test_video_sketch_corpus_no_false_positives(spark, corpus):
    """Corpus-level regression for the gated query: every video pair found
    on sketch videos is a genuinely planted near-dup (>= 0.8 Jaccard) or an
    intra-cluster sibling; docs too short for 3 content frames never pair."""
    from europa_spark.extract import split_quarantine, with_extracted
    from europa_spark.multimodal import (
        text_sketch_video,
        video_frame_signatures,
        video_near_dups,
    )

    docs = spark.createDataFrame(corpus.documents)
    clean, _ = split_quarantine(with_extracted(docs))
    sub = clean.limit(400)
    found = {
        (r["url_a"], r["url_b"])
        for r in video_near_dups(
            video_frame_signatures(text_sketch_video(sub))
        ).collect()
    }
    assert found, "long planted near-dups must pair"
    cl = dict(
        zip(corpus.expected_clusters["url"], corpus.expected_clusters["cluster_id"])
    )
    bad = {p for p in found if cl.get(p[0]) != cl.get(p[1]) or cl.get(p[0]) is None}
    assert not bad, bad


def test_stream_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch (checkpoint-recovery semantics) must rewrite
    identical rows, not duplicate the log or self-match against its own
    prior output (ADVICE r01: per-batch partition + state<batch_id read)."""
    state = str(tmp_path / "state")
    rows = [("u1", "alpha beta"), ("u2", "alpha beta"), ("u3", "solo text")]
    batch = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    process_batch(batch, 0, state)
    first = sorted(
        (r["url"], r["duplicate_of"], r["batch_id"])
        for r in read_dup_log(spark, state).collect()
    )
    assert first == [("u2", "u1", 0)]
    # replay the SAME batch id — e.g. foreachBatch recovery after a crash
    process_batch(batch, 0, state)
    replay = sorted(
        (r["url"], r["duplicate_of"], r["batch_id"])
        for r in read_dup_log(spark, state).collect()
    )
    assert replay == first  # no duplicated rows, no self-matches
    # and the next batch still sees batch-0 state exactly once
    b1 = spark.createDataFrame(
        [("u9", None, None, "alpha beta", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    process_batch(b1, 1, state)
    final = {
        (r["url"], r["duplicate_of"]) for r in read_dup_log(spark, state).collect()
    }
    assert final == {("u2", "u1"), ("u9", "u1")}


def test_blockmean_radius_search_finds_planted_pairs(spark, corpus):
    """The gated media_blockmean_pairs path end-to-end (the reference's
    THIRD similarity mode, BlockMeanHash.cs:46-99): sketch rendering ->
    961-bit block-mean hash -> byte-band radius search must recover the
    planted >=0.8-Jaccard near-dups and emit nothing cross-cluster."""
    from europa_spark.extract import split_quarantine, with_extracted
    from europa_spark.multimodal import media_blockmean_pairs, text_sketch_media

    docs = spark.createDataFrame(corpus.documents)
    clean, _ = split_quarantine(with_extracted(docs))
    sketch = text_sketch_media(clean.limit(400))
    sigs = media_signatures(sketch)
    got = {
        (r["url_a"], r["url_b"])
        for r in media_blockmean_pairs(sigs).collect()
    }
    exp = corpus.expected_pairs
    planted = {
        tuple(sorted((a, b)))
        for a, b, j in zip(exp["url_a"], exp["url_b"], exp["true_jaccard"])
        if j >= 0.8
    }
    in_scope = {r["url"] for r in sketch.select("url").collect()}
    planted = {p for p in planted if p[0] in in_scope and p[1] in in_scope}
    assert planted, "fixture must plant in-scope near-dup pairs"
    recall = len(planted & got) / len(planted)
    assert recall >= 0.95, (recall, planted - got)
    cl = dict(
        zip(corpus.expected_clusters["url"], corpus.expected_clusters["cluster_id"])
    )
    assert all(
        a in cl and b in cl and cl[a] == cl[b] for a, b in got
    ), {p for p in got if cl.get(p[0]) != cl.get(p[1])}


def test_blockmean_band_join_equals_brute_force(spark, corpus):
    """Pigeonhole completeness of the 17-byte-band join: the banded pair
    set must equal brute-force Hamming <= d over all signature pairs."""
    import numpy as np

    from europa_spark.extract import split_quarantine, with_extracted
    from europa_spark.multimodal import media_blockmean_pairs, text_sketch_media

    docs = spark.createDataFrame(corpus.documents)
    clean, _ = split_quarantine(with_extracted(docs))
    sigs = media_signatures(text_sketch_media(clean.limit(300))).cache()
    got = {
        (r["url_a"], r["url_b"])
        for r in media_blockmean_pairs(sigs).collect()
    }
    rows = sigs.select("url", "blockmean").collect()
    urls = [r["url"] for r in rows]
    bits = np.unpackbits(
        np.array(
            [np.frombuffer(bytes.fromhex(r["blockmean"]), dtype=np.uint8) for r in rows]
        ),
        axis=1,
        bitorder="little",
    )
    want = set()
    for i in range(len(urls)):
        d = (bits[i + 1:] != bits[i]).sum(axis=1)
        for j in np.nonzero(d <= 16)[0]:
            want.add(tuple(sorted((urls[i], urls[i + 1 + j]))))
    assert got == want
