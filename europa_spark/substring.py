"""Exact-substring duplicate pass — winnowed k-gram fingerprints.

Plays the role of the reference's (dead) audio-fingerprint path: insert
hashed fingerprints, match with a vote threshold (AudioHashGenerator.cs:
12-49, ThresholdVotes=25 at :38), best-match join — re-expressed as a
fingerprint equi-join + vote-count aggregation (SURVEY.md H8/H9/A6).
Catches verbatim >= ~600-char blocks embedded in otherwise-unique text that
MinHash misses (overall Jaccard below threshold).

Algorithm: winnowing (Schleimer, Wilkerson, Aiken — "Winnowing: Local
Algorithms for Document Fingerprinting", SIGMOD 2003): rolling hashes of
char k-grams; keep the min of each sliding window of w hashes; any shared
substring of length >= k + w - 1 guarantees >= 1 shared fingerprint.

Skew handling: fingerprints occurring in more than ``winnow_max_df``
documents are dropped before the join (boilerplate stop-fingerprints) — the
same frequency-cap idea as the LSH bucket cap, bounding the equi-join
fan-out at O(max_df^2) per hot fingerprint.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DedupConfig, CANONICAL
from .minhash import with_signatures

_U64 = np.uint64
_ROLL_BASE = _U64(1099511628211)  # FNV prime, odd
# modular inverse of the (odd) base in Z/2^64 — exists, so the k-gram
# polynomial factors through prefix sums (see _batch_winnow)
_INV_BASE = _U64(pow(int(_ROLL_BASE), -1, 1 << 64))

WINNOW_MAX_DF = 1000  # stop-fingerprint document-frequency cap

# data-independent power tables, grown on demand and cached:
# _POW_TABLES = (inv_pows, base_pows) with inv_pows[i] = base^-i,
# base_pows[i] = base^i (both mod 2^64). Rebound as ONE tuple, never
# mutated: a reader always sees both tables from the same generation.
_POW_TABLES: tuple[np.ndarray, np.ndarray] = (
    np.array([1], dtype=_U64),
    np.array([1], dtype=_U64),
)


def _powers(n: int) -> tuple[np.ndarray, np.ndarray]:
    global _POW_TABLES
    tables = _POW_TABLES
    if len(tables[0]) < n:
        m = max(n, 2 * len(tables[0]))
        inv = np.empty(m, dtype=_U64)
        inv[0] = 1
        np.cumprod(np.full(m - 1, _INV_BASE, dtype=_U64), out=inv[1:])
        pb = np.empty(m, dtype=_U64)
        pb[0] = 1
        np.cumprod(np.full(m - 1, _ROLL_BASE, dtype=_U64), out=pb[1:])
        # cache only chunk-sized tables: a single pathological multi-MB
        # document forms its own over-sized chunk, and pinning tables of
        # that size in every long-lived worker would hold 16 B/byte-of-
        # largest-doc forever — compute-and-discard beyond 16x chunk
        if m <= 16 * _CHUNK_CHARS:
            _POW_TABLES = (inv, pb)
        return inv, pb
    return tables


def _sliding_min(h: np.ndarray, w: int) -> np.ndarray:
    """Exact minimum of every length-``w`` window in O(n): per-block
    prefix/suffix minima (two ``minimum.accumulate`` passes over blocks of
    w) instead of the O(n*w) strided-view reduction — window [j, j+w-1]
    spans at most two w-aligned blocks, so its min is
    min(suffix_min_of_first_block[j], prefix_min_of_second[j+w-1]).
    Identical values to sliding_window_view(h, w).min(axis=1)."""
    n = len(h)
    m = n - w + 1
    nb = -(-n // w)
    pad = np.full(nb * w, np.iinfo(np.uint64).max, dtype=_U64)
    pad[:n] = h
    blocks = pad.reshape(nb, w)
    pre = np.minimum.accumulate(blocks, axis=1).ravel()
    suf = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(suf[:m], pre[w - 1 : w - 1 + m])


def _winnow_np(text: str, k: int, w: int) -> np.ndarray:
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(_U64)
    n = len(b)
    if n == 0:
        return np.empty(0, dtype=_U64)
    if n < k:
        # short doc: single fingerprint of the whole text (python ints mod
        # 2^64 — numpy warns on scalar uint64 overflow)
        h = 0
        for x in b.tolist():
            h = (h * int(_ROLL_BASE) + int(x)) & 0xFFFFFFFFFFFFFFFF
        return np.array([h], dtype=_U64)
    m = n - k + 1
    h = np.zeros(m, dtype=_U64)
    for j in range(k):
        h = h * _ROLL_BASE + b[j : j + m]
    if m <= w:
        return np.unique(h[[int(np.argmin(h))]])
    windows = np.lib.stride_tricks.sliding_window_view(h, w)
    return np.unique(windows.min(axis=1))


# 64 KB chunks: the rolling-hash accumulator + byte buffer stay ~1 MB
# (L2-resident) per worker — at 200 KB the combined working set of 32
# concurrent workers overflowed shared L3 and the kernel went DRAM-bound
_CHUNK_CHARS = 65_536


def _batch_winnow(texts: list[str], k: int, w: int) -> list[np.ndarray]:
    """Chunked-batch twin of _winnow_np: the k-gram rolling hash runs over
    concatenated row bytes in ~64 KB chunks — large enough to amortize
    per-row numpy overhead, small enough to stay cache-resident. The hash
    is computed via modular prefix sums (~4 passes; see inline note) and
    the per-window minimum via the O(n) block prefix/suffix method
    (_sliding_min) — together ~6 passes over the chunk where the r5 kernel
    paid k + w ≈ 192 (k=64 multiply-adds, then an O(n*w) strided-view
    reduction). Identical output to the per-row kernel (tested)."""
    out: list[np.ndarray] = [None] * len(texts)  # type: ignore[list-item]
    bs = [t.encode("utf-8") for t in texts]
    i = 0
    while i < len(bs):
        j, chars = i, 0
        while j < len(bs) and (chars == 0 or chars + len(bs[j]) <= _CHUNK_CHARS):
            chars += len(bs[j])
            j += 1
        chunk = bs[i:j]
        lens = np.fromiter((len(b) for b in chunk), dtype=np.int64, count=len(chunk))
        total = int(lens.sum())
        acc = None
        if total >= k:
            # k-gram rolling hash via modular prefix sums (~4 passes instead
            # of the k-iteration multiply-add loop; k=64 in the canonical
            # config):  h_j = sum b_i*base^(j+k-1-i)
            #               = base^(k-1+j) * (S_{j+k} - S_j)
            # with S the prefix sum of b_i * base^-i, everything in the
            # Z/2^64 ring (base is odd, so base^-1 exists) — bit-identical
            # to the loop, pinned by tests/test_kernel_properties.py
            allb = np.frombuffer(b"".join(chunk), dtype=np.uint8).astype(_U64)
            m_total = total - k + 1
            inv_pows, base_pows = _powers(total + 1)
            wgt = allb * inv_pows[:total]
            S = np.empty(total + 1, dtype=_U64)
            S[0] = 0
            np.cumsum(wgt, out=S[1:])
            acc = S[k:] - S[:-k]
            acc *= base_pows[k - 1 : k - 1 + m_total]
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        for r, n in enumerate(lens):
            n, s = int(n), int(starts[r])
            if n == 0:
                out[i + r] = np.empty(0, dtype=_U64)
            elif n < k:
                h = 0
                for x in chunk[r]:
                    h = (h * int(_ROLL_BASE) + int(x)) & 0xFFFFFFFFFFFFFFFF
                out[i + r] = np.array([h], dtype=_U64)
            else:
                hrow = acc[s : s + n - k + 1]
                if len(hrow) <= w:
                    out[i + r] = np.unique(hrow[[int(np.argmin(hrow))]])
                else:
                    out[i + r] = np.unique(_sliding_min(hrow, w))
        i = j
    return out


def substring_pairs(
    reps: DataFrame,
    cfg: DedupConfig = CANONICAL,
    max_df: int = WINNOW_MAX_DF,
    registry: list | None = None,
    sigs: DataFrame | None = None,
    probes: DataFrame | None = None,
) -> DataFrame:
    """reps(url, extracted) -> confirmed substring pairs.

    explode fingerprints -> drop stop-fingerprints (df > max_df) -> self
    equi-join -> vote count >= cfg.substring_votes (the A6 collision-counting
    aggregation, exactly the LSH shape).

    ``sigs``: optional precomputed (uid, url, fps) relation — the
    pipeline passes its one signature table so the text crosses to Python
    once for every method (minhash.with_signatures); it must already be
    materialized.

    ``probes``: (uid, url, fps) rows of documents in ``sigs``; only
    pairs that touch a probe are returned. The df cap counts over the whole
    index, so a boilerplate fingerprint stays capped as it grows.

    ``registry=None``: nothing is cached and no job runs; the result is a
    lazy plan. Pass a registry to cache the fingerprint relations behind
    one barrier job and unpersist them when done (see
    minhash.minhash_pairs).
    """
    if sigs is None:
        # the winnow kernel is the expensive part and this DAG consumes the
        # fingerprint relation three times (df-count branch + both self-join
        # sides): cache the compact (uid, url, fps) arrays once and explode
        # JVM-side per consumer. With a checkpoint store this would be the
        # fingerprints table. LAZY: the rare barrier below is the first
        # consumer and fills this cache en route (no racing stage touches
        # it earlier), so the UDF still runs exactly once.
        fp_arrays = with_fingerprints(reps, cfg)
        if registry is not None:
            registry.append(fp_arrays.persist())
    else:
        fp_arrays = sigs.select("uid", "url", "fps")
    id_map = fp_arrays.select("uid", "url")
    # fingerprints are np.unique'd per doc inside the kernel, so (uid, fp)
    # is already distinct — no dedup shuffle needed.
    #
    # CACHE the exploded relation ONCE, pre-partitioned on fp: event-log
    # profiling (tools/spark_stage_detail.py, 1M rows) showed each lazy
    # reference to this subtree re-reading the wide dual cache (~1.3 GB) and
    # re-writing its own exchange — the df-cap agg, the rare join, and both
    # self-join aliases each paid the full explode, ~4x duplicated bytes in
    # the one stage already pinned at the DRAM ceiling. AQE does not reuse
    # exchanges across separate DataFrame references, so the dedup is
    # explicit: one repartition("fp") exchange at persist time, after which
    # the df-cap groupBy, the rare join, and the self-join are all
    # exchange-free (HashPartitioning(fp) satisfies every downstream
    # distribution; AQE leaves cached-plan partitioning intact by default).
    fps = fp_arrays.select("uid", F.explode("fps").alias("fp")).repartition("fp")
    if registry is not None:
        registry.append(fps.persist())
    # stop-fingerprint cap: a fingerprint shared by thousands of docs is
    # boilerplate, not evidence of a copied passage. Aggregation runs
    # in-place on the fp-partitioned cache (no exchange).
    #
    # ONE barrier job materializes fp_arrays, fps AND rare (sequential
    # first-consumer chain — no racing stages): the r5 shape paid three
    # blocking jobs here (fp_arrays count, fps count, then a persisted
    # `surv` copy of the whole capped relation, counted again). `surv` is
    # now lazy — each self-join side streams the fps cache and hash-probes
    # the small cached rare side, exchange-free and without a second
    # exploded-relation-sized block-store copy.
    rare = (
        fps.groupBy("fp")
        .count()
        .filter((F.col("count") > 1) & (F.col("count") <= max_df))
        .select("fp")
    )
    if registry is not None:
        registry.append(rare.persist())
        rare.count()
    # SHUFFLE_HASH on the RARE side only: a sort-merge plan here SORTS the
    # full exploded relation, and those sort buffers shrink linearly with
    # core count — measured 0 MB spilled at 8 cores vs 9,067 MB at 32 in
    # this one stage before the hint (tools/stage_bytes.py). The build side
    # (df-capped survivor fp keys) is the one relation that does NOT grow
    # with corpus-duplication volume; hash-building anything
    # corpus-proportional measured 94.7 s vs 60.5 s at 3M/32c. Both sides
    # are fp-partitioned cache reads, so the join moves zero shuffle bytes.
    surv = fps.join(rare.hint("shuffle_hash"), "fp")
    if probes is None:
        a, b = surv.alias("a"), surv.alias("b")
        hits = a.join(b, "fp").filter(F.col("a.uid") < F.col("b.uid"))
        key = [F.col("a.uid").alias("uid_a"), F.col("b.uid").alias("uid_b")]
    else:
        # probes are ONE batch's fingerprints, bounded per batch rather than
        # by the accumulated corpus, so they are a safe shuffled-hash build
        # side (surv holds only capped fps, so the join drops the rest).
        # probe x index meets a new-vs-old pair once per shared fp and a
        # new-vs-new pair twice (both directions): canonicalize, then
        # distinct per fp before the vote count
        p = probes.select("uid", F.explode("fps").alias("fp"))
        hits = (
            p.hint("shuffle_hash").alias("p")
            .join(surv.alias("i"), "fp")
            .filter(F.col("p.uid") != F.col("i.uid"))
            .select(
                F.least("p.uid", "i.uid").alias("uid_a"),
                F.greatest("p.uid", "i.uid").alias("uid_b"),
                "fp",
            )
            .distinct()
        )
        key = ["uid_a", "uid_b"]
    votes = (
        hits.groupBy(*key)
        .agg(F.count("*").alias("votes"))
        .filter(F.col("votes") >= cfg.substring_votes)
    )
    ma = id_map.select(F.col("uid").alias("uid_a"), F.col("url").alias("u_a"))
    mb = id_map.select(F.col("uid").alias("uid_b"), F.col("url").alias("u_b"))
    return (
        votes.join(ma, "uid_a")
        .join(mb, "uid_b")
        .select(
            F.least("u_a", "u_b").alias("url_a"),
            F.greatest("u_a", "u_b").alias("url_b"),
            F.lit("substring").alias("method"),
            F.col("votes").cast("double").alias("score"),
        )
    )


def with_fingerprints(reps: DataFrame, cfg: DedupConfig = CANONICAL) -> DataFrame:
    """reps(url, extracted) -> (uid, url, fps): the keyed winnow-fingerprint
    arrays (the substring pass's checkpointable signature table).

    uid: the fingerprint relations carry this compact 8-byte doc key
    instead of the ~45 B url string through every shuffle; urls re-attach
    to final pair rows only. 64-bit keys are collision-safe to ~10^9 docs
    per partition-job; the 10^12-scale deployment note in SURVEY.md §4
    calls for a 128-bit key."""
    return with_signatures(reps, cfg, kinds=("fps",)).select(
        F.xxhash64("url").alias("uid"), "url", "fps"
    )
