"""Batch-vectorized kernels must be bit-identical to the per-row reference
kernels (the batch versions are what production runs; the per-row versions
define the semantics)."""

from __future__ import annotations

import numpy as np

from europa_spark.minhash import _batch_shingle_hashes, _shingle_hashes_np
from europa_spark.substring import _batch_winnow, _winnow_np


def _texts():
    rng = np.random.default_rng(5)
    alpha = list("abcdefg ")
    texts = ["".join(rng.choice(alpha, int(n))) for n in rng.integers(0, 3000, 60)]
    # adversarial shapes: empty, single word, exactly k words/chars, repeats
    texts += ["", "one", "a b c d e", "a b c d", "x" * 64, "x" * 63, "y " * 200]
    return texts


def test_batch_shingles_equal_reference():
    texts = _texts()
    batch = _batch_shingle_hashes(texts, 5)
    for t, got in zip(texts, batch):
        want = _shingle_hashes_np(t, 5, {})
        assert got.dtype == want.dtype
        assert np.array_equal(got, want), t[:40]


def test_batch_winnow_equal_reference():
    texts = _texts()
    batch = _batch_winnow(texts, 64, 32)
    for t, got in zip(texts, batch):
        want = _winnow_np(t, 64, 32)
        assert np.array_equal(got, want), t[:40]


def test_signature_family_equals_single_kinds_and_kernels(spark):
    """One pass of the signature UDF over all kinds must emit exactly what
    each single-kind pass emits, and exactly what the batch winnow and
    simhash kernels compute row for row."""
    from europa_spark.config import CANONICAL
    from europa_spark.minhash import with_signatures
    from europa_spark.simhash import _batch_simhash

    texts = _texts()
    rows = [(f"u{i}", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "url string, extracted string")
    kinds = ("minhash", "fps", "simhash")
    every = {
        r["url"]: r
        for r in with_signatures(df, CANONICAL, kinds=kinds).collect()
    }
    mh = {
        r["url"]: r["minhash"]
        for r in with_signatures(df, CANONICAL, include_shingles=False).collect()
    }
    single = {
        kind: {
            r["url"]: r[kind]
            for r in with_signatures(df, CANONICAL, kinds=(kind,)).collect()
        }
        for kind in kinds
    }
    fps = _batch_winnow(texts, CANONICAL.winnow_kgram, CANONICAL.winnow_window)
    sh = _batch_simhash(texts)
    for i, (u, t) in enumerate(rows):
        assert every[u]["extracted"] == t, u
        assert every[u]["minhash"] == mh[u], u
        for kind in kinds:
            assert every[u][kind] == single[kind][u], (kind, u)
        assert every[u]["fps"] == fps[i].view(np.int64).tolist(), u
        assert every[u]["simhash"] == int(sh[i]), u
