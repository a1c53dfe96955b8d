"""MinHash/LSH near-duplicate path — the block-mean-hash + Qdrant radius
search (SURVEY.md H6/J2/J3) re-expressed as signatures + band equi-joins.

Reference semantics being preserved:
  * signature generation per unique content (BlockMeanHash.cs:46-99 — the
    "higher-resolution" signature; ours is MinHash num_perm=128 over word
    k-shingles per FIXTURES.md §3),
  * radius similarity search with a threshold (QdrantRepository.cs:184-206)
    -> LSH band self-join, an equi-join by construction,
  * exact re-verification at the threshold (QdrantRepository.cs:192) ->
    exact Jaccard over the shingle-hash sets, recomputed from the candidate
    docs' text in one vectorized kernel (verify_pairs).

Scale design (north rule: explicit skew handling):
  * signatures are computed once per DISTINCT content (caller passes the
    representatives set, europa_spark.exact.representatives);
  * candidates come from the one skew-routed band join, bands.banded_pairs
    (hot buckets: star edges + salted sub-buckets; mega buckets: star edges
    only — the recall and fan-out argument lives in that module);
  * all shuffled relations are narrow (ids + 64-bit hashes); the text is
    only joined in at the final verify step, for candidate docs only, and
    the shingle sets derived from it never leave the Python worker.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bands import banded_pairs
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


SIGNATURE_KINDS = {
    "minhash": "array<bigint>",  # MinHash over word k-shingles (band join)
    "fps": "array<bigint>",  # winnowing fingerprints (substring.py)
    "simhash": "bigint",  # SimHash-64 (simhash.py)
}


def with_signatures(
    reps: DataFrame,
    cfg: DedupConfig = CANONICAL,
    *,
    kinds: tuple[str, ...] = ("minhash",),
    include_shingles: bool = False,
) -> DataFrame:
    """reps(url, extracted, ...) -> reps' columns + one column per kind in
    ``kinds`` (SIGNATURE_KINDS), all from ONE pandas UDF: each Arrow batch
    of text crosses the JVM->Python boundary once and leaves as a struct of
    exactly ``kinds``. The text column dominates every stream and bytes
    moved are the measured scaling ceiling (r2), so the minhash, substring
    and simhash passes share one crossing instead of paying one each.

    Output stays narrow: 128-long minhash (~1 KB), winnow fingerprints
    (~320 B at w=128 on ~2.5 KB docs), one 64-bit simhash. The shingle-hash
    arrays (~3-4 KB per row on webtext) never leave the worker — emitting
    and caching them was the measured 32-core anti-scaler (r02: 3x SLOWER
    at 32 workers than at 8, DRAM-bound) — so ``include_shingles`` must be
    False; verify_pairs rehashes the text of the few candidate docs."""
    from pyspark.sql.functions import pandas_udf

    # imported here: simhash imports this module
    from .simhash import _TOKEN_HASHES, _batch_simhash
    from .substring import _batch_winnow

    if include_shingles:
        raise ValueError(
            "with_signatures emits no shingle arrays; verify_pairs rehashes "
            "the extracted text"
        )
    kinds = tuple(kinds)
    if not kinds or not set(kinds) <= set(SIGNATURE_KINDS):
        raise ValueError(
            f"signature kinds must be a non-empty subset of "
            f"{sorted(SIGNATURE_KINDS)}, got {kinds!r}"
        )
    k = cfg.shingle_k
    a, b = _perm_params(cfg)
    num_perm = cfg.num_perm
    kw, w = cfg.winnow_kgram, cfg.winnow_window
    token_hash = _TOKEN_HASHES[cfg.simhash_token_hash]

    @pandas_udf(", ".join(f"{kd} {SIGNATURE_KINDS[kd]}" for kd in kinds))
    def signatures(text: pd.Series) -> pd.DataFrame:
        ts = [t if t is not None else "" for t in text]
        out = {}
        for kd in kinds:
            if kd == "minhash":
                mins = _minhash_of(_batch_shingle_hashes(ts, k), a, b, num_perm)
                out[kd] = pd.Series(mins, dtype=object)
            elif kd == "fps":
                # ndarray values: Arrow's fast path, no per-element boxing
                fps = _batch_winnow(ts, kw, w)
                out[kd] = pd.Series([f.view(np.int64) for f in fps], dtype=object)
            else:
                out[kd] = pd.Series(_batch_simhash(ts, token_hash))
        return pd.DataFrame(out)

    return reps.select("*", signatures(F.col("extracted")).alias("_sig")).select(
        *reps.columns, *[F.col(f"_sig.{kd}").alias(kd) for kd in kinds]
    )


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
    bands: DataFrame,
    cfg: DedupConfig = CANONICAL,
    registry: list | None = None,
    probes: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate (url_a < url_b) pairs from band collisions: the
    band table through the skew-routed band join (bands.banded_pairs, which
    holds the hot/mega bucket routing and its recall argument). ``probes``:
    a band table of rows in ``bands``; only pairs touching one are returned.

    ``registry=None`` (direct API calls): nothing is cached, the result is
    a lazy plan. Pass a registry to cache the band table and bucket stats
    across consumers and unpersist them when done (pass a Scope's
    ``frames``).
    """
    index, probes = (
        None if b is None else b.withColumnRenamed("band_hash", "band_key")
        for b in (bands, probes)
    )
    return banded_pairs(index, cfg, probes=probes, registry=registry)


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


def verify_pairs(
    candidates: DataFrame,
    sigs: DataFrame,
    cfg: DedupConfig = CANONICAL,
    registry: list | None = None,
) -> DataFrame:
    """Exact-Jaccard confirmation of candidates (J3), from ``sigs``'
    (url, extracted) text.

    Candidate pairs join the pruned TEXT (the pair table broadcast when
    hinted, so the first join is map-side) and one vectorized kernel
    (_batch_pair_jaccard) recomputes both shingle sets per pair in an Arrow
    map that also applies the threshold, emitting only the kept pairs. The
    text (~2.5-4.2 KB/doc on webtext) is NARROWER than
    the ~5.6 KB/doc shingle-hash arrays derived from it, and string pages
    shuffle far cheaper than BIGINT-array rows — a verify that joined the
    arrays measured 0.326 scaling efficiency at 1M rows, below the 0.41
    DRAM ceiling (r3 VERDICT #2). Candidates are a small fraction of the
    corpus (LSH radius-search selectivity), so pruning BEFORE any recompute
    keeps wide data out of the signature stage entirely.

    ``registry=None``: nothing is cached, the result is a lazy plan. Pass a
    registry to cache the pruned text behind one barrier job and unpersist
    it when done (see minhash_pairs)."""
    # the hint ships only urls; cfg.broadcast_hints=False at scales where
    # the candidate url set outgrows broadcast (AQE plans the semi-join)
    needed = candidates.select(
        F.explode(F.array("url_a", "url_b")).alias("url")
    ).distinct()
    pruned = sigs.select("url", "extracted").join(
        maybe_broadcast(needed, cfg), "url", "left_semi"
    )
    if registry is not None:
        registry.append(pruned.persist())
        pruned.count()  # both text joins consume this — don't race the scan
    k, t = cfg.shingle_k, cfg.jaccard_threshold

    def verify(batches):
        import pyarrow as pa

        for rb in batches:
            score = _batch_pair_jaccard(
                rb.column("text_a").to_pylist(), rb.column("text_b").to_pylist(), k
            )
            # a NaN score (empty union; unreachable from text, where "" is
            # one token) is dropped: a pandas NaN reaches the JVM as null,
            # which fails Spark's >= too
            keep = score >= t
            mask = pa.array(keep)
            yield pa.RecordBatch.from_arrays(
                [rb.column("url_a").filter(mask), rb.column("url_b").filter(mask),
                 pa.array(score[keep])],
                names=["url_a", "url_b", "score"],
            )

    a = pruned.select(
        F.col("url").alias("url_a"), F.col("extracted").alias("text_a")
    )
    b = pruned.select(
        F.col("url").alias("url_b"), F.col("extracted").alias("text_b")
    )
    return (
        maybe_broadcast(candidates, cfg)
        .join(a, "url_a")
        .join(b, "url_b")
        # one map scores AND filters: a filter on a pandas-UDF score column
        # is pushed below its projection, so the UDF would run twice per pair
        .mapInArrow(verify, "url_a string, url_b string, score double")
        .select("url_a", "url_b", F.lit("minhash").alias("method"), "score")
    )


def minhash_pairs(
    reps: DataFrame,
    cfg: DedupConfig = CANONICAL,
    sigs: DataFrame | None = None,
    registry: list | None = None,
    probes: DataFrame | None = None,
) -> DataFrame:
    """Full near-dup path: representatives -> confirmed minhash pairs.

    ``probes``: signature rows of documents in ``sigs``; only pairs that
    touch a probe are returned (``reps`` holds the text of all of ``sigs``).

    ``registry=None``: nothing is cached and no job runs; the result is a
    lazy plan. Pass a registry to cache the signatures, band table,
    candidates and verify text across consumers: it collects every
    DataFrame persisted here so the caller can unpersist them when done
    (a Scope's ``frames`` list, freed by its release())."""
    if sigs is None:
        sigs = with_signatures(reps, cfg)
        if registry is not None:
            # narrow minhash-only signatures (~1 KB/row): the band subtree
            # references this several times — persist so the UDF runs once.
            # LAZY: candidate_pairs' stats barrier is the first (and only
            # concurrent-free) consumer, so one job materializes the reps
            # cache, this signature cache, the repartitioned band table and
            # the bucket stats back-to-back instead of three barrier jobs.
            registry.append(sigs.persist())
    cands = candidate_pairs(
        band_table(sigs, cfg), cfg, registry=registry,
        probes=None if probes is None else band_table(probes, cfg),
    )
    if registry is not None:
        # cands is consumed three times in verify (the url prune + both pair
        # joins); it is small (LSH selectivity) — persist so the band
        # self-join runs once. LAZY: verify's pruned-text barrier consumes
        # the url prune first (no concurrent reference), filling this cache
        # en route.
        registry.append(cands.persist())
    return verify_pairs(cands, reps, cfg, registry=registry)
