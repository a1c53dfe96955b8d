"""SimHash-64 fuzzy bit-level path — the dHash/pHash analog.

Reference semantics: 64-bit perceptual bit signatures (DifferenceHash.cs:
20-46, PerceptualHash.cs:64-120, HashSize=64), searched within a Hamming
radius (degreeOfSimilarity, SearchParametersValidator.cs:28) where the
Qdrant ±1-vector Dot score obeys dot = 64 - 2*hamming (QdrantRepository.cs:
240-247; SURVEY.md §2.9 delta 3 — we expose the Hamming threshold directly
and keep the dot-score equivalence in the tests).

Spark design: signature is ONE LongType column (cheaper than any array);
candidate generation is a pigeonhole band equi-join — split 64 bits into
``simhash_bands`` disjoint 16-bit keys; any pair within Hamming d collides
on >= 1 band when bands >= d+1 (guaranteed recall, unlike probabilistic
LSH); verification is ``bit_count(a ^ b) <= d``, whole-stage-codegen'd.

This path is NOT in the default cluster pipeline (it finds bit-level-similar
pairs the Jaccard truth tables don't plant); it is the configurable fuzzy
alternative per the north rule.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bands import banded_pairs
from .config import DedupConfig, CANONICAL
from .minhash import _token_hash, with_signatures

_U64 = np.uint64
_BIGRAM_MIX = _U64(0xC2B2AE3D27D4EB4F)

# FNV-1a-64 (public domain constants) — the SQL-expressible token hash:
# h = OFFSET; per byte: h = (h XOR b) * PRIME mod 2^64. The DuckDB twin
# replays the identical chain in HUGEINT space (__spark_entry__._simhash_ctes)
_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3


def _fnv1a64(tok: str, cache: dict) -> int:
    h = cache.get(tok)
    if h is None:
        h = _FNV_OFFSET
        for b in tok.encode("utf-8"):
            h = ((h ^ b) * _FNV_PRIME) & 0xFFFFFFFFFFFFFFFF
        cache[tok] = h
    return h


_TOKEN_HASHES = {"blake2b": _token_hash, "fnv1a": _fnv1a64}


def _simhash_np(text: str, cache: dict, token_hash=_token_hash) -> int:
    """64-bit SimHash over word unigrams + bigrams (FIXTURES.md §3)."""
    toks = text.split(" ")
    th = np.fromiter(
        (token_hash(t, cache) for t in toks), dtype=_U64, count=len(toks)
    )
    if len(th) == 0:
        return 0
    feats = [th]
    if len(th) >= 2:
        feats.append(th[:-1] * _BIGRAM_MIX + th[1:])
    h = np.concatenate(feats)
    bits = (h[:, None] >> np.arange(64, dtype=_U64)[None, :]) & _U64(1)
    votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
    sig = 0
    for i in np.nonzero(votes >= 0)[0]:
        sig |= 1 << int(i)
    return sig - (1 << 64) if sig >= (1 << 63) else sig  # two's complement


_CHUNK_TOKENS = 64_000  # ~512 KB uint64 working buffers — cache-resident
# rows per chunk: _segment_bit_counts bins are rows x 256 int64 per byte
# lane (~1 MB at 512 rows). The token cap alone lets a run of empty or
# one-token docs grow a chunk to the whole Arrow batch.
_CHUNK_ROWS = 512

# (256, 8) LUT: _BYTE_BITS[v, b] = bit b of byte value v
_BYTE_BITS = ((np.arange(256)[:, None] >> np.arange(8)[None, :]) & 1).astype(
    np.int64
)


def _segment_bit_counts(vals: np.ndarray, seg256: np.ndarray, n_rows: int) -> np.ndarray:
    """(n_rows, 64) exact per-segment set-bit counts of uint64 ``vals``;
    ``seg256`` = segment id of each value, pre-multiplied by 256."""
    lanes = vals.view(np.uint8).reshape(-1, 8)
    cnt = np.empty((n_rows, 64), dtype=np.int64)
    for bpos in range(8):
        bc = np.bincount(
            seg256 + lanes[:, bpos], minlength=n_rows * 256
        ).reshape(n_rows, 256)
        cnt[:, bpos * 8 : (bpos + 1) * 8] = bc @ _BYTE_BITS
    return cnt


def _batch_simhash(texts: list[str], token_hash=_token_hash) -> np.ndarray:
    """Chunked vectorized twin of _simhash_np (r3 VERDICT #5 — the last
    per-doc-Python-loop hot kernel): tokenize+hash all rows in one Arrow
    pass (minhash._tokenize_hashed — one hash per distinct token, gathered
    through the dictionary codes), vectorized bigram mix over the flat
    token-hash array, then per-bit set-bit counts via one cumulative sum
    per bit gathered at row boundaries (handles rows with no bigrams
    cleanly). Working set per chunk is a handful of ~512 KB buffers — the
    same cache-resident discipline as the minhash/winnow kernels.
    Bit-identical to the per-row reference kernel for both token hashes
    (hypothesis-pinned in tests/test_simhash.py)."""
    from .minhash import _tokenize_hashed

    out = np.zeros(len(texts), dtype=np.int64)
    shifts = np.arange(64, dtype=_U64)
    lens_all, T_all = _tokenize_hashed(texts, token_hash)
    starts_all = np.zeros(len(lens_all), dtype=np.int64)
    np.cumsum(lens_all[:-1], out=starts_all[1:])
    n_rows = len(lens_all)
    i = 0
    while i < n_rows:
        j, toks = i, 0
        while j < n_rows and j - i < _CHUNK_ROWS and (
            toks == 0 or toks + int(lens_all[j]) <= _CHUNK_TOKENS
        ):
            toks += int(lens_all[j])
            j += 1
        s0 = int(starts_all[i])
        lens = lens_all[i:j]
        total = toks
        T = T_all[s0 : s0 + total]
        starts = starts_all[i:j] - s0
        ends = starts + lens
        # bigram features over ALL adjacent positions, zero-padded to row
        # length: cross-row junk pairs (position ends[r]-1) and the pad are
        # ZEROED, so they add 0 to every set-bit count and are excluded from
        # n_feats — this makes the per-row B segments contiguous
        # (starts[r] .. starts[r+1]-1), which reduceat handles in one pass
        Bp = np.zeros(total, dtype=_U64)
        if total >= 2:
            np.multiply(T[:-1], _BIGRAM_MIX, out=Bp[:-1])
            Bp[:-1] += T[1:]
            Bp[ends[:-1] - 1] = 0  # cross-row pairs
            Bp[ends[-1] - 1] = 0   # last row's trailing pad slot
        # per-row per-bit set counts, exact: histogram each of the 8 byte
        # lanes into per-(row, byte-value) bins (np.bincount, one C pass per
        # lane) and expand 256 byte values -> 8 bit columns with a tiny LUT
        # matmul — ~9x less work than the r5 unpackbits/reduceat form, which
        # materialized a (total, 64) bit matrix and accumulated 64 int64
        # columns per token (measured 35.4 -> 3.8 ms per 64k-token chunk,
        # value-identical by construction: both count set bits per segment)
        seg = np.repeat(np.arange(len(lens), dtype=np.int64), lens) * 256
        ucnt = _segment_bit_counts(T, seg, len(lens))
        bcnt = _segment_bit_counts(Bp, seg, len(lens))
        # votes[r,bit] = 2*set_count - n_feats >= 0  <=>  2*set_count >= n;
        # n_feats = tokens + real bigrams = lens + max(lens-1, 0)
        n_feats = (lens + np.maximum(lens - 1, 0))[:, None]
        sig_bits = (2 * (ucnt + bcnt) >= n_feats).astype(_U64)
        out[i:j] = (sig_bits << shifts[None, :]).sum(axis=1, dtype=_U64).view(np.int64)
        i = j
    return out


def _band_cols(cfg: DedupConfig):
    nb = cfg.simhash_bands
    width = 64 // nb
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))
            for i in range(nb)
        ]
    )


def _band_index(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url, simhash, band_idx, band_key): the banded_pairs index, with the
    signature as payload for the Hamming verify."""
    return sigs.select(
        "url", "simhash", F.posexplode(_band_cols(cfg)).alias("band_idx", "band_key")
    )


def simhash_pairs(
    reps: DataFrame | None,
    cfg: DedupConfig = CANONICAL,
    sigs: DataFrame | None = None,
    registry: list | None = None,
    probes: DataFrame | None = None,
) -> DataFrame:
    """Confirmed pairs within Hamming distance cfg.simhash_hamming_d.

    score = (64 - hamming) / 64; the reference's dot score is recoverable as
    64 - 2*hamming (QdrantRepository.cs:240-247). Candidates come from the
    skew-routed band join (bands.banded_pairs) with the signature as
    payload, so the verify needs no signature lookup. ``probes``: signature
    rows of documents contained in ``sigs``; only pairs that touch a probe
    are returned (pigeonhole recall for Hamming <= d still holds: a probe
    and its partner share a band).

    ``registry=None``: nothing is cached, the result is a lazy plan; pass a
    registry to cache the band join's intermediates across consumers (see
    bands.banded_pairs).
    """
    if sigs is None:
        # no persist: the band table cache is the signatures' only consumer
        sigs = with_signatures(reps, cfg, kinds=("simhash",))
    cands = banded_pairs(
        _band_index(sigs, cfg), cfg, ["simhash"],
        probes=None if probes is None else _band_index(probes, cfg),
        registry=registry,
    )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= cfg.simhash_hamming_d)
        .select(
            "url_a",
            "url_b",
            F.lit("simhash").alias("method"),
            ((F.lit(64) - F.col("hamming")) / F.lit(64)).alias("score"),
        )
    )
