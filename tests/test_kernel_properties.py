"""Property-based equivalence of the chunked-batch kernels vs their per-row
reference implementations (hypothesis): the batch kernels process
concatenated rows in cache-resident chunks with boundary masking, and any
off-by-one at a chunk or row boundary silently corrupts signatures — these
properties pin byte-exact equality on adversarial inputs (empty strings,
chunk-straddling rows, repeated tokens, non-ASCII).
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from europa_spark.minhash import (
    _batch_shingle_hashes,
    _minhash_of,
    _perm_params,
    _shingle_hashes_np,
)
from europa_spark.config import CANONICAL
from europa_spark.substring import _batch_winnow, _winnow_np

# words over a small alphabet force shingle collisions and repeats; the
# occasional unicode char exercises the utf-8 byte path in winnowing
_word = st.text(alphabet="abcé", min_size=1, max_size=4)
_text = st.lists(_word, min_size=0, max_size=60).map(" ".join)


@settings(max_examples=60, deadline=None)
@given(st.lists(_text, min_size=1, max_size=20), st.integers(2, 6))
def test_batch_shingles_equal_per_row(texts, k):
    batch = _batch_shingle_hashes(texts, k)
    for t, got in zip(texts, batch):
        cache: dict = {}
        want = _shingle_hashes_np(t, k, cache)
        assert np.array_equal(got, want), t


@settings(max_examples=40, deadline=None)
@given(st.lists(_text, min_size=1, max_size=16))
def test_minhash_deterministic_and_estimates(texts):
    a, b = _perm_params(CANONICAL)
    arrs = _batch_shingle_hashes(texts, CANONICAL.shingle_k)
    m1 = _minhash_of(arrs, a, b, CANONICAL.num_perm)
    m2 = _minhash_of(arrs, a, b, CANONICAL.num_perm)
    for x, y in zip(m1, m2):
        assert np.array_equal(x, y)
    # identical shingle sets MUST give identical signatures
    for i, t in enumerate(texts):
        for j in range(i + 1, len(texts)):
            if np.array_equal(arrs[i], arrs[j]):
                assert np.array_equal(m1[i], m1[j])


@settings(max_examples=60, deadline=None)
@given(
    st.lists(_text, min_size=1, max_size=12),
    st.integers(2, 16),
    st.integers(1, 16),
)
def test_batch_winnow_equal_per_row(texts, k, w):
    batch = _batch_winnow(texts, k, w)
    for t, got in zip(texts, batch):
        want = _winnow_np(t, k, w)
        assert np.array_equal(got, want), (t, k, w)


@settings(max_examples=60, deadline=None)
@given(st.lists(_text, min_size=1, max_size=20), st.booleans(), st.booleans())
def test_batch_simhash_equal_per_row(texts, use_fnv, tiny_chunks):
    """r3 VERDICT #5: the chunked factorize/unpackbits simhash kernel must
    be bit-identical to the per-row reference for BOTH token hashes;
    tiny_chunks forces rows to straddle chunk boundaries."""
    import europa_spark.simhash as sh

    token_hash = sh._fnv1a64 if use_fnv else sh._token_hash
    old = sh._CHUNK_TOKENS
    try:
        if tiny_chunks:
            sh._CHUNK_TOKENS = 3
        batch = sh._batch_simhash(texts, token_hash)
    finally:
        sh._CHUNK_TOKENS = old
    cache: dict = {}
    for t, got in zip(texts, batch):
        assert got == sh._simhash_np(t, cache, token_hash), t


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.one_of(st.just(""), _word), min_size=1, max_size=40),
    st.booleans(),
    st.integers(1, 4),
)
def test_batch_simhash_row_capped_chunks(texts, use_fnv, chunk_rows):
    """Empty and one-token docs: the row cap, not the token cap, closes
    each chunk, so the bit-count bins stay chunk_rows x 256 however many
    such docs a batch holds; the signatures stay bit-identical."""
    import europa_spark.simhash as sh

    token_hash = sh._fnv1a64 if use_fnv else sh._token_hash
    seen: list[int] = []
    counts = sh._segment_bit_counts

    def spy(vals, seg256, n_rows):
        seen.append(n_rows)
        return counts(vals, seg256, n_rows)

    old = sh._CHUNK_TOKENS, sh._CHUNK_ROWS, sh._segment_bit_counts
    try:
        sh._CHUNK_TOKENS, sh._CHUNK_ROWS = 64, chunk_rows
        sh._segment_bit_counts = spy
        batch = sh._batch_simhash(texts, token_hash)
    finally:
        sh._CHUNK_TOKENS, sh._CHUNK_ROWS, sh._segment_bit_counts = old
    assert max(seen) <= chunk_rows
    cache: dict = {}
    for t, got in zip(texts, batch):
        assert got == sh._simhash_np(t, cache, token_hash), t


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet="abc ", min_size=200, max_size=400), st.integers(0, 150))
def test_winnow_guarantee(doc, offset):
    """Winnowing's defining property (Schleimer et al. 2003): two documents
    sharing a substring of length >= k + w - 1 share >= 1 fingerprint."""
    k, w = CANONICAL.winnow_kgram, CANONICAL.winnow_window
    shared = "x" * (k + w - 1) + doc[:50]
    d1 = doc[:offset] + shared + doc[offset:]
    d2 = "zzz " + shared + " qqq"
    f1, f2 = _batch_winnow([d1, d2], k, w)
    assert set(f1.tolist()) & set(f2.tolist())


@settings(max_examples=60, deadline=None)
@given(
    st.lists(_text, min_size=1, max_size=10),
    st.lists(
        st.tuples(st.integers(0, 99), st.integers(0, 99)),
        min_size=0,
        max_size=40,
    ),
    st.integers(2, 6),
)
def test_batch_pair_jaccard_equals_per_pair(texts, pair_idx, k):
    """r4 VERDICT #2: the grouped-searchsorted pair-Jaccard kernel must be
    bit-identical to the per-pair intersect1d reference — including repeated
    anchors (the star-edge shape), duplicate pairs, and self-pairs."""
    from europa_spark.minhash import _batch_pair_jaccard

    n = len(texts)
    ta = [texts[i % n] for i, _ in pair_idx]
    tb = [texts[j % n] for _, j in pair_idx]
    got = _batch_pair_jaccard(ta, tb, k)
    assert got.shape == (len(pair_idx),)
    cache: dict = {}
    arrs = {t: _shingle_hashes_np(t, k, cache) for t in set(ta) | set(tb)}
    for x, a_t, b_t in zip(got, ta, tb):
        a, b = arrs[a_t], arrs[b_t]
        inter = np.intersect1d(a, b, assume_unique=True).size
        union = a.size + b.size - inter
        want = inter / union if union else float("nan")
        assert (np.isnan(x) and np.isnan(want)) or x == want, (a_t, b_t)
