"""MinHash/LSH near-duplicate path — the block-mean-hash + Qdrant radius
search (SURVEY.md H6/J2/J3) re-expressed as signatures + band equi-joins.

Reference semantics being preserved:
  * signature generation per unique content (BlockMeanHash.cs:46-99 — the
    "higher-resolution" signature; ours is MinHash num_perm=128 over word
    k-shingles per FIXTURES.md §3),
  * radius similarity search with a threshold (QdrantRepository.cs:184-206)
    -> LSH band self-join, an equi-join by construction,
  * exact re-verification at the threshold (QdrantRepository.cs:192) ->
    exact Jaccard on stored shingle-hash sets, computed JVM-side via
    array_intersect/array_union (no Python in the verify hot path).

Scale design (north rule: explicit skew handling):
  * signatures are computed once per DISTINCT content (caller passes the
    representatives set, europa_spark.exact.representatives);
  * band buckets above ``cfg.bucket_cap`` are routed to linear star edges
    (member -> bucket min) plus all-pairs within ``cfg.salt_sub_cap``-sized
    salted sub-buckets instead of the quadratic all-pairs self-join — a
    10k-member near-dup bucket yields ~10k + 32*10k candidates per band,
    not 50M; buckets above ``cfg.star_only_cap`` (mega boilerplate cliques)
    keep star edges only (FIXTURES.md §1 block E is the adversarial
    fixture; tools/skew_bench.py is the bench-scale one);
  * sub-cap buckets go through a plain equi-join; AQE skew-join splitting
    handles residual per-key hotness;
  * all shuffled relations are narrow (ids + 64-bit hashes); the wide
    ``shingles`` arrays are only joined in at the final verify step.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .config import DedupConfig, CANONICAL


def maybe_broadcast(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Broadcast hint gated by cfg.broadcast_hints: the small-side url sets
    (winner urls ~25 B/doc, candidate urls post-LSH-selectivity) broadcast
    at any sane per-job scale, but beyond ~10^9 docs the deployment flips
    the config OFF and AQE plans a shuffle semi-join — no code edit
    (r2 VERDICT #4)."""
    return F.broadcast(df) if cfg.broadcast_hints else df


_U64 = np.uint64
# polynomial base for combining token hashes into shingle hashes (odd, fixed)
_SHINGLE_BASE = _U64(0x9E3779B97F4A7C15)


def _token_hash(tok: str, cache: dict) -> int:
    h = cache.get(tok)
    if h is None:
        h = int.from_bytes(
            hashlib.blake2b(tok.encode("utf-8"), digest_size=8).digest(), "little"
        )
        cache[tok] = h
    return h


def _shingle_hashes_np(
    text: str, k: int, cache: dict, token_hash=_token_hash
) -> np.ndarray:
    """Distinct 64-bit hashes of word k-grams (split on single spaces,
    FIXTURES.md §3). Docs shorter than k words hash the whole token list.
    ``token_hash``: blake2b by default; oracle-gated callers pass
    simhash._fnv1a64, whose per-byte chain the DuckDB twin replays."""
    toks = text.split(" ")
    th = np.fromiter(
        (token_hash(t, cache) for t in toks), dtype=_U64, count=len(toks)
    )
    n = len(th)
    if n == 0:
        return np.empty(0, dtype=_U64)
    kk = min(k, n)
    m = n - kk + 1
    acc = np.zeros(m, dtype=_U64)
    for j in range(kk):
        acc = acc * _SHINGLE_BASE + th[j : j + m]
    return np.unique(acc)


_CHUNK_TOKENS = 64_000  # keep the k-gram polynomial loop cache-resident


def _tokenize_hashed(
    texts: list[str], token_hash=_token_hash, cache: dict | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Split every text on single spaces and hash each token: one Arrow C
    pass for split/flatten/dictionary-encode (token lists identical to
    ``str.split(" ")``, including the empty-token behavior — pinned by the
    kernel-equivalence tests), then ONE Python hash call per DISTINCT token,
    gathered back through the dictionary codes. Replaces the r5
    per-row ``t.split(" ")`` + object-array ``pd.factorize`` tokenizer
    (millions of per-token PyObjects; measured ~2.6x slower) with zero
    change in values. Returns (per-row token counts int64, flat per-token
    uint64 hash array)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cache = {} if cache is None else cache
    # 64-bit offsets: a batch over 2 GiB of text fits (pa.string() raises
    # ArrowCapacityError there)
    arr = pa.array(texts, type=pa.large_string())
    toks = pc.split_pattern(arr, " ")
    lens = pc.list_value_length(toks).to_numpy().astype(np.int64)
    enc = pc.list_flatten(toks).dictionary_encode()
    codes = enc.indices.to_numpy()
    uh = np.fromiter(
        (token_hash(u, cache) for u in enc.dictionary.to_pylist()),
        dtype=_U64,
        count=len(enc.dictionary),
    )
    return lens, uh[codes]


def _batch_shingle_hashes(texts: list[str], k: int) -> list[np.ndarray]:
    """Chunked-batch twin of _shingle_hashes_np: tokenize+hash all rows in
    one Arrow pass (_tokenize_hashed — the token-hash dict cache of the
    reference kernel becomes one hash per distinct token), then compute the
    k-gram polynomial over ~64k-token chunks with row-boundary masking.
    Identical output to the per-row reference kernel (asserted in tests)."""
    out: list[np.ndarray] = [None] * len(texts)  # type: ignore[list-item]
    lens_all, T_all = _tokenize_hashed(texts, _token_hash)
    starts_all = np.zeros(len(lens_all), dtype=np.int64)
    np.cumsum(lens_all[:-1], out=starts_all[1:])
    n_rows = len(lens_all)
    i = 0
    while i < n_rows:
        j, toks = i, 0
        while j < n_rows and (toks == 0 or toks + int(lens_all[j]) <= _CHUNK_TOKENS):
            toks += int(lens_all[j])
            j += 1
        s0 = int(starts_all[i])
        lens = lens_all[i:j]
        total = toks
        T = T_all[s0 : s0 + total]
        acc = None
        m_total = total - k + 1
        if m_total > 0:
            acc = T[0:m_total].copy()
            for jj in range(1, k):
                acc *= _SHINGLE_BASE
                acc += T[jj : jj + m_total]
        for r, n in enumerate(lens):
            n, s = int(n), int(starts_all[i + r]) - s0
            if n >= k:
                out[i + r] = np.unique(acc[s : s + n - k + 1])
            else:
                # short doc: polynomial over all its tokens
                a = np.zeros(1, dtype=_U64)
                for jj in range(n):
                    a = a * _SHINGLE_BASE + T[s + jj]
                out[i + r] = np.unique(a) if n else np.empty(0, dtype=_U64)
        i = j
    return out


def make_shingle_udf(cfg: DedupConfig = CANONICAL):
    from pyspark.sql.functions import pandas_udf

    k = cfg.shingle_k

    @pandas_udf(ArrayType(LongType()))
    def shingle_hashes(text: pd.Series) -> pd.Series:
        arrs = _batch_shingle_hashes(
            [t if t is not None else "" for t in text], k
        )
        return pd.Series([a.view(np.int64).tolist() for a in arrs])

    return shingle_hashes


def _perm_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    """num_perm multiply-shift hash params, seeded (FIXTURES.md §3 seed=42).
    Universal family h_i(x) = a_i*x + b_i mod 2^64 with odd a_i."""
    rng = np.random.default_rng(cfg.seed)
    a = rng.integers(1, 1 << 63, size=cfg.num_perm, dtype=np.uint64) * _U64(2) + _U64(1)
    b = rng.integers(0, 1 << 63, size=cfg.num_perm, dtype=np.uint64)
    return a, b


_CHUNK_SHINGLES = 65_536  # 512 KB uint64 — L2-resident per worker


def _minhash_of(
    arrs: list[np.ndarray],
    a: np.ndarray,
    b: np.ndarray,
    num_perm: int,
    max_cells: int | None = None,  # kept for call-site compat; unused
) -> list[list[int]]:
    """MinHash signatures for a list of shingle-hash arrays.

    Cache-resident by construction: permutations iterate OUTER over an
    L2-sized shingle chunk, computing a_i*s + b_i into one reused 512 KB
    buffer and reducing per-doc minima immediately. The naive (P x N)
    permutation matrix (tens of MB per chunk + temporaries) is never
    materialized — with 32 concurrent Python workers that matrix made the
    kernel DRAM-bandwidth-bound and 8->32 cores ANTI-scaled ~3x; this
    formulation keeps the whole working set in per-core cache. Output is
    bit-identical to the matrix formulation (same uint64 arithmetic)."""
    out: list[list[int]] = []
    i = 0
    buf = np.empty(_CHUNK_SHINGLES, dtype=_U64)
    while i < len(arrs):
        j, cells = i, 0
        while j < len(arrs) and (cells == 0 or cells + len(arrs[j]) <= _CHUNK_SHINGLES):
            cells += len(arrs[j])
            j += 1
        chunk = arrs[i:j]
        nonempty = [c for c in chunk if len(c)]
        if nonempty:
            s = np.concatenate(nonempty)
            n = len(s)
            v = buf[:n] if n <= _CHUNK_SHINGLES else np.empty(n, dtype=_U64)
            offs = np.zeros(len(nonempty), dtype=np.int64)
            np.cumsum([len(c) for c in nonempty[:-1]], out=offs[1:])
            mins = np.empty((num_perm, len(nonempty)), dtype=_U64)
            for p in range(num_perm):
                np.multiply(s, a[p], out=v)
                v += b[p]
                mins[p] = np.minimum.reduceat(v, offs)
        mi = 0
        for c in chunk:
            if len(c) == 0:
                # degenerate signature — quarantined upstream, but keep a
                # deterministic sentinel rather than exploding
                out.append(np.full(num_perm, np.iinfo(np.int64).max, dtype=np.int64))
            else:
                # ndarray, not list: Arrow's ndarray fast path skips
                # per-element PyObject conversion (num_perm boxed ints per
                # row otherwise — tens of millions per 100k docs)
                out.append(np.ascontiguousarray(mins[:, mi]).view(np.int64))
                mi += 1
        i = j
    return out


def make_minhash_udf(cfg: DedupConfig = CANONICAL):
    from pyspark.sql.functions import pandas_udf

    a, b = _perm_params(cfg)
    num_perm = cfg.num_perm
    max_cells = 4_000_000

    @pandas_udf(ArrayType(LongType()))
    def minhash_sig(shingles: pd.Series) -> pd.Series:
        arrs = [
            np.asarray(s, dtype=np.int64).view(_U64)
            if s is not None and len(s) > 0
            else np.empty(0, dtype=_U64)
            for s in shingles
        ]
        return pd.Series(_minhash_of(arrs, a, b, num_perm, max_cells), dtype=object)

    return minhash_sig


def make_signature_udf(cfg: DedupConfig = CANONICAL):
    """Fused shingles+minhash in ONE pandas UDF (single Arrow round-trip;
    the shingle arrays never cross JVM<->Python twice)."""
    from pyspark.sql.functions import pandas_udf

    k = cfg.shingle_k
    a, b = _perm_params(cfg)
    num_perm = cfg.num_perm
    max_cells = 4_000_000

    @pandas_udf("shingles array<bigint>, minhash array<bigint>")
    def signature(text: pd.Series) -> pd.DataFrame:
        arrs = _batch_shingle_hashes([t if t is not None else "" for t in text], k)
        mins = _minhash_of(arrs, a, b, num_perm, max_cells)
        # ndarray values: Arrow's fast path, no per-element int boxing
        return pd.DataFrame(
            {
                "shingles": pd.Series([x.view(np.int64) for x in arrs], dtype=object),
                "minhash": pd.Series(mins, dtype=object),
            }
        )

    return signature


def make_minhash_only_udf(cfg: DedupConfig = CANONICAL):
    """Signature UDF that emits ONLY the num_perm-long MinHash array (~1 KB
    per row) and keeps the full shingle-hash arrays (~3-4 KB per row on
    webtext) inside the Python worker. The wide arrays were the measured
    32-core anti-scaling culprit (r02 profile: the emit-everything stage ran
    3x SLOWER at 32 workers than at 8 — Arrow serialization + columnar cache
    of ~4 KB/row saturates DRAM bandwidth long before 32 cores are CPU
    bound). Verify recomputes shingles for the few candidate docs instead
    (see verify_pairs)."""
    from pyspark.sql.functions import pandas_udf

    k = cfg.shingle_k
    a, b = _perm_params(cfg)
    num_perm = cfg.num_perm

    @pandas_udf(ArrayType(LongType()))
    def minhash_only(text: pd.Series) -> pd.Series:
        arrs = _batch_shingle_hashes([t if t is not None else "" for t in text], k)
        return pd.Series(_minhash_of(arrs, a, b, num_perm), dtype=object)

    return minhash_only


def make_dual_signature_udf(cfg: DedupConfig = CANONICAL):
    """MinHash signature + winnowing fingerprints in ONE pandas UDF — a
    single Arrow transfer of the text instead of two full passes (the
    r2-measured scaling bottleneck is bytes moved, not CPU: the text column
    dominates every stream, so the minhash and substring passes sharing one
    JVM->Python crossing halves the pipeline's largest byte flow). Output
    stays narrow: 128-long minhash (~1 KB) + winnow fingerprints (~320 B at
    w=128 on ~2.5 KB docs); shingle arrays never leave the worker."""
    from pyspark.sql.functions import pandas_udf

    from .substring import _batch_winnow

    k = cfg.shingle_k
    a, b = _perm_params(cfg)
    num_perm = cfg.num_perm
    kw, w = cfg.winnow_kgram, cfg.winnow_window

    @pandas_udf("minhash array<bigint>, fps array<bigint>")
    def dual_signature(text: pd.Series) -> pd.DataFrame:
        ts = [t if t is not None else "" for t in text]
        arrs = _batch_shingle_hashes(ts, k)
        mins = _minhash_of(arrs, a, b, num_perm)
        fps = _batch_winnow(ts, kw, w)
        return pd.DataFrame(
            {
                "minhash": pd.Series(mins, dtype=object),
                "fps": pd.Series([f.view(np.int64) for f in fps], dtype=object),
            }
        )

    return dual_signature


def with_dual_signatures(reps: DataFrame, cfg: DedupConfig = CANONICAL) -> DataFrame:
    """reps(url, extracted) -> (uid, url, minhash, fps): the one-pass
    signature table feeding BOTH the LSH band join and the substring
    fingerprint join (uid = the substring pass's compact 8-byte key)."""
    dual = make_dual_signature_udf(cfg)
    return reps.select(
        F.xxhash64("url").alias("uid"),
        "url",
        dual(F.col("extracted")).alias("s"),
    ).select("uid", "url", F.col("s.minhash").alias("minhash"), F.col("s.fps").alias("fps"))


def with_signatures(
    reps: DataFrame,
    cfg: DedupConfig = CANONICAL,
    include_shingles: bool = True,
) -> DataFrame:
    """reps(url, extracted, ...) -> + minhash ARRAY<BIGINT> (+ shingles
    ARRAY<BIGINT> when ``include_shingles``). One fused Arrow round-trip;
    everything else stays JVM-side. The pipeline path uses
    ``include_shingles=False`` — narrow signatures scale with cores, wide
    ones are DRAM-bound (see make_minhash_only_udf)."""
    if not include_shingles:
        mh = make_minhash_only_udf(cfg)
        return reps.withColumn("minhash", mh(F.col("extracted")))
    sig = make_signature_udf(cfg)
    s = reps.withColumn("_sig", sig(F.col("extracted")))
    return s.withColumn("shingles", F.col("_sig.shingles")).withColumn(
        "minhash", F.col("_sig.minhash")
    ).drop("_sig")


def band_table(sigs: DataFrame, cfg: DedupConfig = CANONICAL) -> DataFrame:
    """(url, band_idx, band_hash) — signature split into b bands of r rows,
    each band hashed JVM-side (xxhash64 over the slice + band index). The
    'vector DB collection' becomes this plain table (SURVEY.md S6/J2)."""
    r = cfg.rows_per_band
    bands = F.array(
        *[
            F.xxhash64(F.slice(F.col("minhash"), i * r + 1, r), F.lit(i))
            for i in range(cfg.bands)
        ]
    )
    return sigs.select(
        "url", F.posexplode(bands).alias("band_idx", "band_hash")
    )


def candidate_pairs(
    bands: DataFrame, cfg: DedupConfig = CANONICAL, registry: list | None = None
) -> DataFrame:
    """Distinct candidate (url_a < url_b) pairs from band collisions.

    Buckets <= bucket_cap: all-pairs equi self-join (J2). Oversized buckets
    (explicit skew cap, north rule) are SALTED into ceil(n/salt_sub_cap)
    sub-buckets of ~salt_sub_cap members with all-pairs inside each salt,
    PLUS linear star edges to the bucket minimum — work per hot bucket is
    O(n * salt_sub_cap) instead of O(n^2). Buckets above star_only_cap emit
    star edges ONLY (see config.star_only_cap). Recall: mutually-similar members that are NOT similar to the
    bucket min keep their direct edge whenever they share a salt (and any
    other band); the star edges keep whole-bucket connectivity through the
    representative. Residual loss — a similar pair whose EVERY shared band
    is hot and salted apart — is the documented trade vs the reference's
    unbounded radius search (adversarial fixture: tests/test_minhash.py).

    ``registry=None`` (direct API calls): intermediates are unpersisted on
    return — the returned lazy plan recomputes them per consumer action.
    Pass a registry to keep them cached across consumers and unpersist when
    done (the pipeline/_drained pattern); r4 ADVICE: the old behavior left
    them cached for the session lifetime.
    """
    own = registry is None
    if own:
        registry = []
    try:
        return _candidate_pairs(bands, cfg, registry)
    finally:
        if own:
            for f in registry:
                f.unpersist()


def _candidate_pairs(
    bands: DataFrame, cfg: DedupConfig, registry: list
) -> DataFrame:
    # CACHE the band table ONCE, pre-partitioned on the bucket key:
    # event-log profiling (tools/spark_stage_detail.py, 1M rows) caught the
    # lazy band subtree re-reading the wide signature cache and re-writing
    # its own ~340 MB exchange SIX times — once per downstream reference
    # (stats agg, sized join, and the normal/hot splits) — because AQE does
    # not reuse exchanges across separate DataFrame references. One
    # repartition exchange at persist time makes the stats aggregation and
    # every sized/normal/hot branch join exchange-free
    # (HashPartitioning(band_idx, band_hash) satisfies each downstream
    # distribution; only the salted hot-bucket join re-keys).
    bands = bands.repartition("band_idx", "band_hash").persist()
    if registry is not None:
        registry.append(bands)
    # bucket stats via hash aggregation (map-side partial combine), NOT a
    # window: a window would shuffle+sort the full bands table, while the
    # aggregate shuffles one compact row per distinct bucket and the filter
    # drops the singleton buckets (the vast majority) before the join.
    #
    # ONE barrier job materializes bands AND stats (stats is the bands
    # cache's first consumer, so the lazy persist fills en route — no racing
    # consumers): the r5 shape spent three blocking jobs here (bands count,
    # then a persisted `sized` copy of the whole joined band table, counted
    # again). `sized` is now lazy — each branch streams the bands cache and
    # hash-probes the small cached stats side, exchange-free and without a
    # second band-table-sized block-store copy.
    stats = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("bucket_n"), F.min("url").alias("bucket_min"))
        .filter(F.col("bucket_n") >= 2)
    ).persist()
    # barrier-vs-race, measured both ways (OPTIMIZATION_r06.md, "Barriers
    # kept"): skipping this count (and the pruned/rare barriers) wins
    # ~0.2-0.4 s/query at sf0.1 where the barrier is pure job overhead, but
    # LOSES at 200k docs — the racing query stages duplicate real exchange
    # bytes there, and the bench's larger corpora are the binding case
    stats.count()
    if registry is not None:
        registry.append(stats)
    sized = bands.join(stats, ["band_idx", "band_hash"])
    normal = sized.filter(F.col("bucket_n") <= cfg.bucket_cap).select(
        "band_idx", "band_hash", "url"
    )
    a = normal.alias("a")
    b = normal.alias("b")
    normal_pairs = a.join(b, ["band_idx", "band_hash"]).filter(
        F.col("a.url") < F.col("b.url")
    ).select(F.col("a.url").alias("url_a"), F.col("b.url").alias("url_b"))

    n_salts = F.ceil(F.col("bucket_n") / F.lit(cfg.salt_sub_cap)).cast("int")
    hot = sized.filter(F.col("bucket_n") > cfg.bucket_cap).select(
        "band_idx", "band_hash", "url", "bucket_min", "bucket_n",
        F.pmod(F.xxhash64("url", "band_idx", "band_hash"), n_salts).alias("salt"),
    )
    # star edges for EVERY over-cap bucket (connectivity through the anchor)
    hot_star = hot.filter(F.col("url") != F.col("bucket_min")).select(
        F.col("bucket_min").alias("url_a"), F.col("url").alias("url_b")
    )
    # salted sub-bucket all-pairs only BELOW star_only_cap: above it (mega
    # buckets — web-scale boilerplate cliques) the salted work n*cap/2 per
    # band dwarfs any recall it buys, and star edges alone already give full
    # CLUSTER recall for a true near-dup clique (see config.star_only_cap)
    salted = hot.filter(F.col("bucket_n") <= cfg.star_only_cap)
    ha = salted.select("band_idx", "band_hash", "salt", "url").alias("ha")
    hb = salted.select("band_idx", "band_hash", "salt", "url").alias("hb")
    hot_salt_pairs = (
        ha.join(hb, ["band_idx", "band_hash", "salt"])
        .filter(F.col("ha.url") < F.col("hb.url"))
        .select(F.col("ha.url").alias("url_a"), F.col("hb.url").alias("url_b"))
    )
    return normal_pairs.unionByName(hot_star).unionByName(hot_salt_pairs).distinct()


def estimated_jaccard_col(mh_a, mh_b, num_perm: int):
    """MinHash Jaccard estimate: fraction of equal signature components.
    Pure Catalyst (zip_with + aggregate over two BIGINT arrays) — stays in
    whole-stage codegen, no Python."""
    eq = F.zip_with(mh_a, mh_b, lambda x, y: (x == y).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, x: acc + x) / F.lit(num_perm)


def est_prefilter(
    candidates: DataFrame, sigs: DataFrame, cfg: DedupConfig = CANONICAL
) -> DataFrame:
    """Drop candidate pairs whose MinHash-estimated Jaccard is below
    jaccard_threshold - cfg.verify_est_margin BEFORE the exact verify
    (r3 VERDICT #2a — the pairs stage measured 0.326 scaling efficiency,
    below even the 0.41 DRAM ceiling, because the ~5.6 KB/doc shingle
    arrays shuffled through two joins for EVERY candidate).

    The signatures are already materialized (~1 KB/row, 5x narrower than
    the shingle arrays), so this join is the cheap one; on boilerplate-
    heavy webtext the surviving set is a small fraction of LSH candidates
    (sub-threshold bucket collisions dominate), so the wide shingle
    recompute + both verify joins shrink by the same fraction. Recall cost
    is bounded and documented on cfg.verify_est_margin (~1e-5 per true
    pair at the canonical config — inside the 0.99 gate by four orders of
    magnitude; the sf0.01 oracle gate and the planted-truth suite measure
    the realized effect: zero lost pairs)."""
    mh = sigs.select("url", "minhash")
    est_t = cfg.jaccard_threshold - cfg.verify_est_margin
    return (
        candidates.join(
            mh.withColumnRenamed("url", "url_a").withColumnRenamed("minhash", "mh_a"),
            "url_a",
        )
        .join(
            mh.withColumnRenamed("url", "url_b").withColumnRenamed("minhash", "mh_b"),
            "url_b",
        )
        .filter(estimated_jaccard_col(F.col("mh_a"), F.col("mh_b"), cfg.num_perm)
                >= F.lit(est_t))
        .select("url_a", "url_b")
    )


def _batch_pair_jaccard(texts_a, texts_b, k: int) -> np.ndarray:
    """Exact shingle-Jaccard for aligned (text_a, text_b) pairs — fully
    vectorized (r4 VERDICT #2 retired the last per-pair loop):

      * distinct texts in the batch are shingled ONCE (star-edge anchors
        repeat across thousands of pairs),
      * distinct (a, b) index pairs are scored once and gathered back,
      * intersections are counted per ANCHOR GROUP with one searchsorted of
        the concatenated partner arrays against the anchor's sorted-unique
        array + a cumsum segment reduction — the old np.intersect1d path
        re-sorted (concatenate + argsort) both arrays for EVERY pair.

    Bit-identical to the per-pair formulation: the membership count of
    sorted-unique B in sorted-unique A equals |A∩B|, union = |A|+|B|-|A∩B|,
    and the final score is the same IEEE double division of exactly
    representable int counts (pinned by tests/test_kernel_properties.py).
    """
    uniq: dict[str, int] = {}
    n = len(texts_a)
    idx_a = np.empty(n, dtype=np.int64)
    idx_b = np.empty(n, dtype=np.int64)
    for i, t in enumerate(texts_a):
        idx_a[i] = uniq.setdefault(t if t is not None else "", len(uniq))
    for i, t in enumerate(texts_b):
        idx_b[i] = uniq.setdefault(t if t is not None else "", len(uniq))
    if n == 0:
        return np.empty(0, dtype=np.float64)
    arrs = _batch_shingle_hashes(list(uniq), k)
    sizes = np.fromiter((a.size for a in arrs), dtype=np.int64, count=len(arrs))
    nu = len(uniq)
    keys = idx_a * nu + idx_b
    ukeys, inv = np.unique(keys, return_inverse=True)
    ua, ub = ukeys // nu, ukeys % nu
    inter_u = np.zeros(len(ukeys), dtype=np.int64)
    order = np.argsort(ua, kind="stable")
    sua = ua[order]
    run_starts = np.flatnonzero(np.concatenate(([True], sua[1:] != sua[:-1])))
    run_ends = np.concatenate((run_starts[1:], [len(sua)]))
    for rs, re_ in zip(run_starts, run_ends):
        a = arrs[sua[rs]]
        grp = order[rs:re_]
        blens = sizes[ub[grp]]
        if a.size == 0 or int(blens.sum()) == 0:
            continue  # empty anchor or all-empty partners: |A∩B| = 0
        B = np.concatenate([arrs[j] for j in ub[grp]])
        pos = np.searchsorted(a, B)
        hit = (pos < a.size) & (a[np.minimum(pos, a.size - 1)] == B)
        cs = np.zeros(len(B) + 1, dtype=np.int64)
        np.cumsum(hit, out=cs[1:])
        starts = np.zeros(len(grp), dtype=np.int64)
        np.cumsum(blens[:-1], out=starts[1:])
        # cumsum differences, NOT add.reduceat: reduceat returns arr[i] (not
        # 0) for empty segments, which an empty partner array would hit
        inter_u[grp] = cs[starts + blens] - cs[starts]
    inter = inter_u[inv]
    union = sizes[idx_a] + sizes[idx_b] - inter
    return np.where(union > 0, inter / np.maximum(union, 1), np.nan)


def make_pair_jaccard_udf(cfg: DedupConfig = CANONICAL):
    """Vectorized exact-Jaccard kernel over (text_a, text_b) pairs: both
    shingle sets are recomputed IN the kernel (chunked batch hasher, each
    distinct text in the batch shingled once — star-edge anchors repeat
    across pairs) and only the double score leaves Python. Value-identical
    to the JVM array_intersect/array_union path: same blake2b k-gram hash
    chain, |A∩B|/|A∪B| over the same uint64 sets, IEEE double division."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    k = cfg.shingle_k

    @pandas_udf(DoubleType())
    def pair_jaccard(text_a: pd.Series, text_b: pd.Series) -> pd.Series:
        return pd.Series(
            _batch_pair_jaccard(list(text_a), list(text_b), k)
        )

    return pair_jaccard


def verify_pairs(
    candidates: DataFrame,
    sigs: DataFrame,
    cfg: DedupConfig = CANONICAL,
    registry: list | None = None,
) -> DataFrame:
    """Exact-Jaccard confirmation of candidates (J3).

    ``sigs`` either carries a precomputed ``shingles`` column (incremental
    resume path — JVM set algebra on the stored arrays), or carries
    ``extracted`` text, in which case cfg.verify_strategy picks the data
    movement:

      * 'rehash' (default): candidate pairs join the pruned TEXT (the pair
        table broadcast when hinted, so the first join is map-side) and one
        vectorized kernel recomputes both shingle sets per pair, emitting
        only the score. The text (~2.5-4.2 KB/doc on webtext) is NARROWER
        than the ~5.6 KB/doc shingle-hash arrays derived from it, and
        string pages shuffle far cheaper than BIGINT-array rows — the
        arrays variant of this stage measured 0.326 scaling efficiency at
        1M rows, below the 0.41 DRAM ceiling (r3 VERDICT #2).
      * 'arrays': recompute shingle arrays for candidate urls via UDF, then
        JVM array_intersect/array_union through both pair joins.

    Candidates are a small fraction of the corpus (LSH radius-search
    selectivity), so pruning BEFORE any recompute keeps wide data out of
    the signature stage entirely.

    ``registry=None``: intermediates unpersist on return (recompute per
    consumer); pass a registry to cache across consumers (see
    candidate_pairs)."""
    own = registry is None
    if own:
        registry = []
    try:
        return _verify_pairs(candidates, sigs, cfg, registry)
    finally:
        if own:
            for f in registry:
                f.unpersist()


def _verify_pairs(
    candidates: DataFrame,
    sigs: DataFrame,
    cfg: DedupConfig,
    registry: list,
) -> DataFrame:
    # the hint ships only urls; cfg.broadcast_hints=False at scales where
    # the candidate url set outgrows broadcast (AQE plans the semi-join)
    needed = candidates.select(
        F.explode(F.array("url_a", "url_b")).alias("url")
    ).distinct()
    if "shingles" not in sigs.columns and cfg.verify_strategy == "rehash":
        pruned = sigs.select("url", "extracted").join(
            maybe_broadcast(needed, cfg), "url", "left_semi"
        ).persist()
        pruned.count()  # both text joins consume this — don't race the scan
        if registry is not None:
            registry.append(pruned)
        pj = make_pair_jaccard_udf(cfg)
        a = pruned.select(
            F.col("url").alias("url_a"), F.col("extracted").alias("text_a")
        )
        b = pruned.select(
            F.col("url").alias("url_b"), F.col("extracted").alias("text_b")
        )
        j = (
            maybe_broadcast(candidates, cfg)
            .join(a, "url_a")
            .join(b, "url_b")
            .withColumn("score", pj(F.col("text_a"), F.col("text_b")))
        )
        return (
            j.filter(F.col("score") >= F.lit(cfg.jaccard_threshold))
            .select("url_a", "url_b", F.lit("minhash").alias("method"), "score")
        )
    if "shingles" in sigs.columns:
        sh = sigs.select(F.col("url"), F.col("shingles")).join(
            maybe_broadcast(needed, cfg), "url", "left_semi"
        )
    else:
        shingle_udf = make_shingle_udf(cfg)
        pruned = sigs.select("url", "extracted").join(
            maybe_broadcast(needed, cfg), "url", "left_semi"
        )
        sh = pruned.select(
            "url", shingle_udf(F.col("extracted")).alias("shingles")
        ).persist()
        sh.count()  # both pair joins consume this — don't race the UDF
        if registry is not None:
            registry.append(sh)
    j = (
        candidates.join(sh.withColumnRenamed("url", "url_a").withColumnRenamed("shingles", "sh_a"), "url_a")
        .join(sh.withColumnRenamed("url", "url_b").withColumnRenamed("shingles", "sh_b"), "url_b")
        .withColumn(
            "score",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
    )
    return (
        j.filter(F.col("score") >= F.lit(cfg.jaccard_threshold))
        .select("url_a", "url_b", F.lit("minhash").alias("method"), "score")
    )


def incremental_minhash_pairs(
    existing_sigs: DataFrame,
    new_reps: DataFrame,
    cfg: DedupConfig = CANONICAL,
    existing_pairs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Delta compute for newly-arrived documents (J4/J5 resume semantics:
    cached signatures are never recomputed, verified pairs never re-verified,
    QdrantRepository.cs:158-182 + SimilarImageFinder.cs:303-315).

    Returns (new_sigs, new_pairs): new_pairs touches at least one new doc —
    probes are ONLY the new docs' bands, joined against the full band index
    (old pairs among existing docs are already in the checkpoint).
    """
    # localCheckpoint: the shingle+minhash UDF subtree feeds four consumers
    # (probe bands, the accumulated index union, the verify shingle join,
    # and the caller's state write) — without a barrier it recomputes per
    # consumer every micro-batch (the simhash/substring incremental paths
    # already checkpoint theirs for exactly this reason; r6 closes the gap)
    new_sigs = with_signatures(new_reps, cfg).localCheckpoint()
    cols = ["url", "shingles", "minhash"]
    all_sigs = existing_sigs.select(*cols).unionByName(new_sigs.select(*cols))
    probes = band_table(new_sigs, cfg)
    index = band_table(all_sigs, cfg)
    # index-side hot buckets are capped (same cap as the batch path): the
    # index grows with the whole corpus, so an uncapped equi-join would let
    # one degenerate bucket make per-batch fan-out corpus-proportional
    # (r3 ADVICE #3). A probe landing in a hot bucket pairs with (a) the
    # bucket min — the star anchor that keeps whole-bucket connectivity —
    # and (b) the members of its own SALTED sub-bucket, mirroring the batch
    # path's hot_salt_pairs (r4 ADVICE #1: star-only routing silently lost
    # the direct edge to a non-anchor near-dup). Same salt formula as
    # candidate_pairs, so a probe meets exactly the members it would share a
    # salt with in a batch run over the accumulated corpus; per-probe
    # fan-out stays bounded at bands * (cap + salt_sub_cap + 1). NOTE the residual batch/
    # incremental delta on hot buckets: n_salts derives from the bucket size
    # AT PROBE TIME, which grows across batches, so sub-bucket membership
    # (not connectivity, and not the verified-pair threshold) can differ
    # from a one-shot batch run — tests/test_incremental.py pins the salted
    # semantics and the cluster-level equivalence.
    stats = (
        index.groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("bucket_n"), F.min("url").alias("bucket_min"))
        .filter(F.col("bucket_n") >= 2)
    )
    sized = index.join(stats, ["band_idx", "band_hash"])
    n_salts = F.ceil(F.col("bucket_n") / F.lit(cfg.salt_sub_cap)).cast("int")
    capped_index = (
        sized.filter(F.col("bucket_n") <= cfg.bucket_cap)
        .select("band_idx", "band_hash", "url")
        .unionByName(
            sized.filter(
                (F.col("bucket_n") > cfg.bucket_cap)
                & (F.col("url") == F.col("bucket_min"))
            ).select("band_idx", "band_hash", "url")
        )
    )
    plain_cands = (
        probes.alias("a")
        .join(capped_index.alias("b"), ["band_idx", "band_hash"])
        .filter(F.col("a.url") != F.col("b.url"))
        .select(F.col("a.url").alias("pa"), F.col("b.url").alias("pb"))
    )
    hot_index = sized.filter(
        (F.col("bucket_n") > cfg.bucket_cap)
        & (F.col("bucket_n") <= cfg.star_only_cap)
    ).select(
        "band_idx", "band_hash", "url",
        F.pmod(F.xxhash64("url", "band_idx", "band_hash"), n_salts).alias("salt"),
    )
    hot_probes = (
        probes.join(
            stats.filter(
                (F.col("bucket_n") > cfg.bucket_cap)
                & (F.col("bucket_n") <= cfg.star_only_cap)
            ),
            ["band_idx", "band_hash"],
        )
        .select(
            "band_idx", "band_hash", "url",
            F.pmod(
                F.xxhash64("url", "band_idx", "band_hash"), n_salts
            ).alias("salt"),
        )
    )
    salt_cands = (
        hot_probes.alias("a")
        .join(hot_index.alias("b"), ["band_idx", "band_hash", "salt"])
        .filter(F.col("a.url") != F.col("b.url"))
        .select(F.col("a.url").alias("pa"), F.col("b.url").alias("pb"))
    )
    cands = (
        plain_cands.unionByName(salt_cands)
        .select(
            F.least("pa", "pb").alias("url_a"),
            F.greatest("pa", "pb").alias("url_b"),
        )
        .distinct()
    )
    if existing_pairs is not None:
        # already-done exclusion (the MatchExcept anti-join, J4)
        cands = cands.join(
            existing_pairs.select("url_a", "url_b"), ["url_a", "url_b"], "left_anti"
        )
    if cfg.verify_est_margin is not None:
        # same estimate-prune as the batch path — incremental and batch must
        # confirm the same pair set (est_prefilter never drops a pair at the
        # canonical margin; equivalence is test-pinned)
        cands = est_prefilter(cands, all_sigs, cfg)
    return new_sigs, verify_pairs(cands, all_sigs, cfg)


def top_k_per_probe(pairs: DataFrame, k: int) -> DataFrame:
    """Optional per-probe result cap — the reference truncates every ANN
    query at limit=100 (QdrantRepository.cs:192, J7). Recall-unsafe, so OFF
    by default (SURVEY.md §2.9 delta 4); exposed for parity."""
    w = Window.partitionBy("url_a").orderBy(F.desc("score"), F.asc("url_b"))
    return (
        pairs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def minhash_pairs(
    reps: DataFrame,
    cfg: DedupConfig = CANONICAL,
    sigs: DataFrame | None = None,
    registry: list | None = None,
) -> DataFrame:
    """Full near-dup path: representatives -> confirmed minhash pairs.

    ``registry``: optional list collecting every DataFrame persisted here so
    the caller can unpersist them when done (pipeline.run's release()).
    With ``registry=None`` the intermediates are unpersisted on return and
    the lazy result recomputes them per consumer (see candidate_pairs)."""
    own = registry is None
    if own:
        registry = []
    try:
        return _minhash_pairs(reps, cfg, sigs, registry)
    finally:
        if own:
            for f in registry:
                f.unpersist()


def _minhash_pairs(
    reps: DataFrame,
    cfg: DedupConfig,
    sigs: DataFrame | None,
    registry: list,
) -> DataFrame:
    if sigs is None:
        # narrow minhash-only signatures (~1 KB/row): the band subtree
        # references this several times — persist so the UDF runs once.
        # LAZY: candidate_pairs' stats barrier is the first (and only
        # concurrent-free) consumer, so one job materializes the reps
        # cache, this signature cache, the repartitioned band table and
        # the bucket stats back-to-back instead of three barrier jobs.
        sigs = with_signatures(reps, cfg, include_shingles=False).persist()
        if registry is not None:
            registry.append(sigs)
    raw_cands = candidate_pairs(band_table(sigs, cfg), cfg, registry=registry)
    if cfg.verify_est_margin is not None and "minhash" in sigs.columns:
        # estimate-prune on the narrow signatures BEFORE anything wide moves
        # (see est_prefilter); raw candidates have exactly one consumer (the
        # estimate join), so they stay lazy — only the surviving set is
        # cached for verify's three consumers
        raw_cands = est_prefilter(raw_cands, sigs, cfg)
    # cands is consumed three times in verify (the url prune + both pair
    # joins); it is small (LSH selectivity) — persist so the band self-join
    # runs once. LAZY: verify's pruned-text barrier consumes the url prune
    # first (no concurrent reference), filling this cache en route.
    cands = raw_cands.persist()
    if registry is not None:
        registry.append(cands)
    # verify recomputes shingles for candidate urls only when sigs are
    # narrow: reps carries the text
    verify_source = sigs if "shingles" in sigs.columns else reps
    confirmed = verify_pairs(cands, verify_source, cfg, registry=registry)
    if cfg.top_k_neighbors is not None:
        confirmed = top_k_per_probe(confirmed, cfg.top_k_neighbors)
    return confirmed
