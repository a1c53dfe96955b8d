"""Text-analysis ops and embedding similarity search."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from europa_spark.adapters import load_embeddings, to_canonical
from europa_spark.ann import (
    DUP_QUANT_SCALE,
    QUANT_SCALE,
    ann_ivf,
    ann_lsh,
    embedding_dup_pairs_lsh,
    kmeans_centroids,
    knn_cosine_blocked,
    knn_exact_quantized_blocked,
)
from europa_spark.quality import language_id, quality_features

SF = "/root/testdata/sf0.001"


def test_quality_features_values(spark):
    df = spark.createDataFrame(
        [("u1", "the cat, the hat!"), ("u2", "one two three")],
        "url string, text string",
    )
    got = {r["url"]: r for r in quality_features(df).collect()}
    r = got["u1"]
    assert r["n_tokens"] == 4
    assert r["n_distinct_tokens"] == 3  # 'the', 'cat,', 'hat!'
    assert r["punct_ratio"] == 2 / 17
    assert r["stopword_ratio"] == 2 / 4  # 'the' twice ('cat,' has punct)
    assert got["u2"]["stopword_ratio"] == 0.0
    # BPE-ish estimate: "the|cat|,|the|hat|!" -> 6; "one|two|three" -> 3
    assert r["bpe_token_estimate"] == 6
    assert got["u2"]["bpe_token_estimate"] == 3


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            ("e", "the house of the king and the queen is big"),
            ("d", "der hund und die katze das ist gut"),
            ("u", "xyzzy plugh quux"),
        ],
        "url string, text string",
    )
    got = {r["url"]: r["lang_pred"] for r in language_id(df).collect()}
    assert got == {"e": "en", "d": "de", "u": "und"}


@pytest.fixture(scope="module")
def emb(spark):
    return load_embeddings(spark, SF).cache()


class _NumpyRef:
    """Driver-side truth over a small embedding table: exact float-cosine
    top-k, int64 quantized-dot top-k (both self-excluded, ties by neighbor
    id), and the integer cosine dup predicate evaluated in Python ints."""

    def __init__(self, rows):
        rows = sorted(rows, key=lambda r: r["vec_id"])
        self.ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        self.M = np.array([r["embedding"] for r in rows], dtype=np.float64)

    def _topk(self, S, k):
        out = []
        for qi, qid in enumerate(self.ids):
            mask = self.ids != qid
            ii, ss = self.ids[mask], S[qi][mask]
            for rank, j in enumerate(np.lexsort((ii, -ss))[:k], 1):
                out.append((int(qid), int(ii[j]), ss[j].item(), rank))
        return out

    def quant(self, scale):
        return np.floor(self.M * scale).astype(np.int64)

    def cosine_topk(self, k):
        n = np.linalg.norm(self.M, axis=1)
        n[n == 0] = 1.0
        return self._topk((self.M @ self.M.T) / n[:, None] / n[None, :], k)

    def quant_topk(self, k):
        Q = self.quant(QUANT_SCALE)
        return self._topk(Q @ Q.T, k)

    def dup_pairs(self, threshold):
        t_num = int(round(threshold * 100))
        Q = self.quant(DUP_QUANT_SCALE)
        D, N = Q @ Q.T, (Q * Q).sum(axis=1)
        out = set()
        for i, a in enumerate(self.ids):
            for j in np.nonzero((self.ids > a) & (D[i] > 0))[0]:
                d, na, nb = int(D[i, j]), int(N[i]), int(N[j])
                if d * d * 10000 >= t_num * t_num * na * nb:
                    out.add((int(a), int(self.ids[j]), d, na, nb))
        return out


@pytest.fixture(scope="module")
def ref(emb):
    return _NumpyRef(emb.collect())


def _pairs(rows):
    return {(r[0], r[1]) for r in rows}


def test_knn_cosine_matches_numpy(spark, emb, ref):
    want = {(v, rank): nb for v, nb, _, rank in ref.cosine_topk(3)}
    got = {
        (r["vec_id"], r["rank"]): r["neighbor_id"]
        for r in knn_cosine_blocked(emb, k=3).collect()
    }
    for qid in ref.ids[:50]:
        for rank in range(1, 4):
            assert got[(qid, rank)] == want[(qid, rank)], (qid, rank)


def test_knn_quantized_agrees_with_cosine_mostly(spark, emb):
    """Quantization changes scores but top-1 should agree for most vectors
    (sanity link between the oracle-gated variant and the float path)."""
    q = {r["vec_id"]: r["neighbor_id"]
         for r in knn_exact_quantized_blocked(emb, k=1).collect()}
    c = {r["vec_id"]: r["neighbor_id"]
         for r in knn_cosine_blocked(emb, k=1).collect()}
    agree = sum(q[v] == c[v] for v in q) / len(q)
    assert agree > 0.6, agree  # quantized-dot vs cosine: same-norm-ish corpus


def test_knn_blocked_equals_baseline(spark, emb, ref):
    """The distributed block-grid kNN (gated plan) must return EXACTLY the
    numpy all-pairs rows for the quantized path (exact int64 arithmetic,
    decomposable top-k), and the same neighbor/rank sets with <=1-ulp score
    drift for the float path (BLAS accumulation order)."""
    blk_q = (
        knn_exact_quantized_blocked(emb, k=5, n_blocks=4)
        .orderBy("vec_id", "rank")
        .collect()
    )
    assert ref.quant_topk(5) == [tuple(r) for r in blk_q]
    base_c = ref.cosine_topk(5)
    blk_c = knn_cosine_blocked(emb, k=5, n_blocks=4).orderBy("vec_id", "rank").collect()
    assert [(v, nb, rank) for v, nb, _, rank in base_c] == [
        (r["vec_id"], r["neighbor_id"], r["rank"]) for r in blk_c
    ]
    assert all(
        abs(a[2] - b["cosine"]) < 1e-12 for a, b in zip(base_c, blk_c)
    )


def test_knn_small_corpus_never_emits_self(spark, emb):
    """Regression (r3 review): with n <= k the old -inf-mask kNN emitted the
    query itself as its last neighbor; the blocked kNN must drop self and
    agree with the reference on the truncated result."""
    small = spark.createDataFrame(emb.limit(4).collect(), emb.schema)
    base = _NumpyRef(small.collect()).cosine_topk(5)
    blk = knn_cosine_blocked(small, k=5, n_blocks=2).orderBy("vec_id", "rank").collect()
    assert all(r["vec_id"] != r["neighbor_id"] for r in blk)
    assert len(blk) == 4 * 3  # 3 real neighbors each, no self padding
    assert [(v, nb, rank) for v, nb, _, rank in base] == [
        (r["vec_id"], r["neighbor_id"], r["rank"]) for r in blk
    ]


def test_knn_blocked_plan_is_distributed(spark, emb):
    """r2 VERDICT #2: the GATED exact-kNN plan may not collect to the driver
    or broadcast the embedding table — it must be the cogrouped grid join."""
    plan = (
        knn_exact_quantized_blocked(emb, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_lsh_recall(spark, emb, ref):
    """LSH ANN recall@5 vs exact cosine on 500 vecs — default params
    (24 tables x 4 bits) measure 0.96 here; gate at 0.9 (r2 VERDICT #7:
    0.7 was a low bar)."""
    truth = _pairs(ref.cosine_topk(5))
    got = _pairs(ann_lsh(emb, k=5).collect())
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, recall


def test_ann_ivf_recall_and_shape(spark, emb, ref):
    """IVF probe path: decent recall@5 vs exact cosine, valid ranks, no
    self-pairs, deterministic across invocations."""
    truth = _pairs(ref.cosine_topk(5))
    rows = ann_ivf(emb, k=5).collect()  # defaults: 16 cells, 8 probes
    got = _pairs(rows)
    assert all(a != b for a, b in got)
    assert all(1 <= r["rank"] <= 5 for r in rows)
    recall = len(truth & got) / len(truth)
    # near-uniform random embeddings are IVF's worst case (no cluster
    # structure); defaults measure 0.834 here — gate at 0.8 (r2 VERDICT #7)
    assert recall >= 0.8, recall
    # deeper probing must push past 0.9 (measured 0.946 at n_probe=12)
    deep = _pairs(ann_ivf(emb, k=5, n_cells=16, n_probe=12).collect())
    assert len(truth & deep) / len(truth) >= 0.9
    again = _pairs(ann_ivf(emb, k=5).collect())
    assert got == again


def test_embedding_dup_pairs_integer_predicate(spark, emb, ref):
    """The integer predicate must agree with the float cosine it encodes.
    Runs at 0.4: the sf0.001 table has pairs there (none reach 0.9)."""
    import math

    threshold = 0.4
    t_num = int(round(threshold * 100))
    got = embedding_dup_pairs_lsh(emb, threshold=threshold).collect()
    assert got, "gate must be non-empty at this threshold"
    q = dict(zip(ref.ids.tolist(), ref.quant(DUP_QUANT_SCALE)))
    found = set()
    for r in got:
        a, b = r["vec_id_a"], r["vec_id_b"]
        assert a < b
        qdot = int(q[a] @ q[b])
        assert qdot == r["qdot"]
        cos_q = qdot / math.sqrt(int(q[a] @ q[a]) * int(q[b] @ q[b]))
        assert cos_q >= threshold - 1e-12
        found.add((a, b))
    # exhaustive check on a sample: no missed pair among first 80 vectors
    ids = sorted(q)[:80]
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            na, nb = int(q[a] @ q[a]), int(q[b] @ q[b])
            d = int(q[a] @ q[b])
            if d > 0 and d * d * 10000 >= t_num * t_num * na * nb:
                assert (a, b) in found, (a, b)


def test_embedding_dup_pairs_lsh_matches_bruteforce(spark, emb, ref):
    """The gated scale path (bucketed LSH + quantized verify, no driver
    collect) must emit EXACTLY the brute-force integer-predicate pair set —
    candidate recall 1.0 at the gate's LSH params."""
    brute = ref.dup_pairs(0.4)
    lsh = {
        (r["vec_id_a"], r["vec_id_b"], r["qdot"], r["na"], r["nb"])
        for r in embedding_dup_pairs_lsh(emb, threshold=0.4).collect()
    }
    assert brute, "gate must be non-empty at this threshold"
    assert lsh == brute


def test_kmeans_centroids_deterministic_and_normalized(spark, emb):
    C1 = kmeans_centroids(emb, n_cells=8)
    C2 = kmeans_centroids(emb, n_cells=8)
    assert np.array_equal(C1, C2)
    assert C1.shape[0] == 8
    assert np.allclose(np.linalg.norm(C1, axis=1), 1.0)


def test_adapter_roundtrip(spark):
    docs = to_canonical(spark.read.parquet(f"{SF}/documents.parquet"))
    assert docs.schema.simpleString() == (
        "struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string>"
    )
    assert docs.filter(F.col("url").isNull()).count() == 0
    assert docs.select("url").distinct().count() == docs.count()
