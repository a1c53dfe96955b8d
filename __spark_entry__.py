"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship near-duplicate pipeline on sf0.001;
``queries()`` exposes each implemented operator from SURVEY.md §2 over the
pre-registered testdata tables; ``oracle_sql()`` gives the DuckDB twin for
every SQL-expressible query (signature-UDF stages get rows-only checks and
are gated by the planted-truth pytest suite instead).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from europa_spark.adapters import URL_SQL, load_canonical, load_embeddings
from europa_spark.ann import (
    ann_ivf,
    ann_lsh,
    ann_lsh_sql,
    embedding_dup_pairs_lsh,
    embedding_dup_pairs_sql,
    knn_cosine_blocked,
    knn_cosine_fold_sql,
    knn_exact_quantized_blocked,
    knn_exact_quantized_sql,
)
from europa_spark.config import CANONICAL
from europa_spark.exact import exact_membership, exact_clusters, representatives, with_content_hash
from europa_spark.extract import split_quarantine, with_extracted
from europa_spark.minhash import minhash_pairs, with_signatures
from europa_spark.pipeline import run
from europa_spark.quality import (
    doc_fingerprints,
    doc_fingerprints_sql,
    language_id,
    language_id_sql,
    quality_features,
    quality_features_sql,
)
from europa_spark.scope import Scope
from europa_spark.simhash import simhash_pairs
from europa_spark.substring import WINNOW_MAX_DF, substring_pairs

# DuckDB view `documents` has the driver schema (doc_id, text, lang, source,
# n_chars); this CTE maps it to the canonical (url, text, lang) shape used by
# every oracle — the exact SQL twin of adapters.to_canonical.
DOCS_SQL = f"SELECT {URL_SQL} AS url, text, lang FROM documents"

SHINGLE_K = CANONICAL.shingle_k
JACCARD_T = CANONICAL.jaccard_threshold


def _clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_canonical(spark, sf_dir)
    clean, _ = split_quarantine(with_extracted(docs))
    return clean


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full dedup pipeline report on sf0.001 (every clean doc with
    its cluster id and keep/duplicate decision)."""
    return _q_dedup_report(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_exact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = exact_membership(_clean(spark, sf_dir))
    return m.select(
        "url", "content_hash",
        F.col("group_size").cast("long").alias("group_size"),
        "exact_group_id",
    )


def _q_exact_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = exact_clusters(exact_membership(_clean(spark, sf_dir)))
    return cl.select(
        "content_hash", "cluster_id", F.col("n_members").cast("long").alias("n_members")
    )


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_features(_clean(spark, sf_dir), text_col="extracted")


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = language_id(_clean(spark, sf_dir), text_col="extracted")
    casts = [F.col(c).cast("long").alias(c) if c.startswith("score_") else F.col(c)
             for c in out.columns]
    return out.select(*casts)


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprints(_clean(spark, sf_dir), text_col="extracted")


def _q_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # total_chars cast to long on BOTH sides: DuckDB's sum() yields HUGEINT
    # (int128) which the driver canon hashes differently from int64
    # (CORRECTNESS_r01 lang_profile hash-mismatch)
    return (
        _clean(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("extracted")).cast("long").alias("total_chars"),
            (F.sum(F.length("extracted")) / F.count("*")).alias("avg_chars"),
        )
    )


def _q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _clean(spark, sf_dir).select(
        F.explode(F.split("extracted", " ", -1)).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(50)
    )


def _shingle_col(text, k: int):
    toks = F.split(text, " ", -1)
    n = F.size(toks)
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: F.concat_ws("\x01", F.slice(toks, i, k)),
            )
        ),
    ).otherwise(F.array(F.concat_ws("\x01", toks)))


# Largest input (documents before cleaning) the brute-force pair queries
# accept: 20k docs is 4e8 cross-join rows, 16x sf0.1's (5,000 docs). Past
# it the n^2 join cannot finish in a bench or test budget;
# minhash_lsh_pairs is the scalable form of the same answer.
_QUADRATIC_MAX_DOCS = 20_000


def _clean_for_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_canonical(spark, sf_dir).count()
    if n > _QUADRATIC_MAX_DOCS:
        raise ValueError(
            f"{sf_dir} holds {n} documents; the brute-force pair queries "
            f"cross-join every clean document and accept at most "
            f"{_QUADRATIC_MAX_DOCS}"
        )
    return _clean(spark, sf_dir)


def _q_shingle_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact word-5-gram Jaccard pairs >= threshold — the J3
    verifier as a standalone relational operator (engine-neutral)."""
    d = _clean_for_cross_join(spark, sf_dir).select(
        "url", _shingle_col(F.col("extracted"), SHINGLE_K).alias("sh")
    )
    a = d.select(F.col("url").alias("url_a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("url").alias("url_b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("url_a") < F.col("url_b"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("url_a", "url_b", "jaccard")
    )


def _q_unigram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard >= 0.5 pairs (unigram variant, non-trivial on the
    sandbox corpus's small vocabulary)."""
    d = _clean_for_cross_join(spark, sf_dir).select(
        "url", F.array_distinct(F.split("extracted", " ", -1)).alias("t")
    )
    a = d.select(F.col("url").alias("url_a"), F.col("t").alias("t_a"))
    b = d.select(F.col("url").alias("url_b"), F.col("t").alias("t_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("url_a") < F.col("url_b"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("t_a", "t_b"))
            / F.size(F.array_union("t_a", "t_b")),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("url_a", "url_b", "jaccard")
    )


# Pair queries build inside one ``with Scope(spark)`` and return an eager
# localCheckpoint of their (small) result, materialized before the scope
# frees every intermediate, also on failure: a standalone gated query must
# not leak storage blocks for the session's lifetime (r2 ADVICE). Spark's
# ContextCleaner reclaims the result block once the result is dropped.


def _reps_for_kernels(clean: DataFrame, scope: Scope) -> DataFrame:
    """Representatives prepared for the signature kernels: winner collapse,
    narrow (url, extracted) projection, then a non-eager lineage truncation
    (``scope.checkpoint``) so the scan+hash+winner subtree runs once and
    every downstream reference plans against a leaf. Without it that
    subtree repeats through the signature cache into EVERY band/verify
    branch of the final plan: ~12k formatted-plan lines whose
    analysis/cache-matching the driver re-pays per action (measured 4.08 ->
    3.21 s on minhash_lsh_pairs).

    The kernels run on the reps' own partitions (one per scan split), the
    same as pipeline.run's signature stage: a round-robin out to every core
    measured slower on each standalone pair query at sf0.1 on 32 cores
    (minhash 3.42 vs 2.59 s, simhash 2.29 vs 1.91, substring 1.51 vs
    1.11), since each extra task forks and warms its own Python worker and
    ripples per-task overhead into every downstream verify/band stage."""
    return scope.checkpoint(
        representatives(with_content_hash(clean)).select("url", "extracted")
    )


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH + exact-Jaccard verify. Oracle = brute-force exact
    Jaccard: identical output as long as LSH candidate recall is 1.0 at
    this scale (verification is exact, so false positives are impossible)."""
    clean = _clean(spark, sf_dir)
    with Scope(spark) as scope:
        # reps feeds BOTH the signature UDF and the verify text join —
        # see _reps_for_kernels
        return minhash_pairs(
            _reps_for_kernels(clean, scope), registry=scope.frames
        ).select(
            "url_a", "url_b", F.col("score").alias("jaccard")
        ).localCheckpoint(eager=True)


# gated simhash config: FNV-1a token hash, so the whole signature (and the
# pair set) has a byte-exact DuckDB HUGEINT twin (_simhash_ctes) — the same
# promotion the winnowing pass got in r2. The library default stays blake2b;
# tests pin both kernels.
SIMHASH_FNV = CANONICAL.__class__(simhash_token_hash="fnv1a")


def _assert_ascii(docs: DataFrame) -> DataFrame:
    """Fail LOUDLY if any text is non-ASCII (r3 ADVICE #4): the DuckDB
    FNV twin hashes per CHARACTER (ord over substr) while the Spark kernel
    hashes per UTF-8 BYTE — equal iff chars == bytes. An early-exit scan
    (limit 1) turns the silent oracle divergence into a hard error.

    Callers pass the CLEAN frame, not the representatives: reps are one row
    per distinct content of clean, so the two carry exactly the same set of
    text VALUES and the assertions are equivalent — but asserting on clean
    is a plain scan+filter job, while asserting on reps re-ran the whole
    hash+group+join winner subtree just to scan the same texts (r6)."""
    bad = docs.filter(
        F.length("extracted") != F.octet_length("extracted")
    ).limit(1).count()
    if bad:
        raise ValueError(
            "FNV-SimHash oracle requires ASCII-only text (char-hash SQL twin "
            "vs byte-hash Spark kernel would silently diverge)"
        )
    return docs


def _assert_ascii_async(docs: DataFrame):
    """Submit the ASCII oracle assert on a driver thread so its scan job
    overlaps the query's main chain (guide §2.6) instead of serializing
    ahead of it; returns a join callable that re-raises the loud
    ValueError. External behavior is unchanged — the query still raises
    before returning any result — only the job overlap differs."""
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)
    fut = pool.submit(_assert_ascii, docs)
    pool.shutdown(wait=False)
    return fut.result


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs within Hamming d=3 of the FNV-SimHash-64. Oracle = brute-force
    Hamming over the SQL-computed signatures: identical because pigeonhole
    bands (4 >= d+1) guarantee candidate recall and no sf0.01 band bucket
    exceeds bucket_cap (hot-bucket star routing never engages)."""
    clean = _clean(spark, sf_dir)
    check_ascii = _assert_ascii_async(clean)
    with Scope(spark) as scope:
        out = simhash_pairs(
            _reps_for_kernels(clean, scope), SIMHASH_FNV, registry=scope.frames
        ).select("url_a", "url_b", "score").localCheckpoint(eager=True)
    check_ascii()
    return out


def _q_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same char-vs-byte caveat as the FNV twin: the winnowing SQL twin
    # hashes characters, the kernel hashes UTF-8 bytes
    clean = _clean(spark, sf_dir)
    check_ascii = _assert_ascii_async(clean)
    with Scope(spark) as scope:
        out = substring_pairs(
            _reps_for_kernels(clean, scope), registry=scope.frames
        ).select("url_a", "url_b", "score").localCheckpoint(eager=True)
    check_ascii()
    return out


def _from_run(spark: SparkSession, sf_dir: str, project) -> DataFrame:
    """``project(run(...))`` materialized, then the run released: without
    it the run()'s persisted frames leak into the session AND a repeated
    invocation (bench.py best-of-N reps) would hit the plan-keyed warm
    cache instead of re-executing the query it claims to time."""
    out = run(load_canonical(spark, sf_dir))
    try:
        return project(out).localCheckpoint(eager=True)
    finally:
        out["release"]()


def _q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _from_run(spark, sf_dir, lambda out: out["report"])


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # member list serialized to ONE sorted '|'-joined STRING: the driver's
    # pandas canonicalizer cannot sort/hash ARRAY cells (r01 hard error);
    # the library API keeps the newest-first struct array
    return _from_run(spark, sf_dir, lambda out: out["clusters"].select(
        "cluster_id",
        F.col("n_members").cast("long").alias("n_members"),
        F.array_join(
            F.array_sort(F.transform("members", lambda m: m["url"])), "|"
        ).alias("member_urls"),
    ))


def _q_nearest_duplicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-match top-1 per document (J8/H9 product shape —
    AudioHashGenerator.cs:46-48's single best match): for every doc with at
    least one confirmed near-dup, its highest-Jaccard neighbor."""
    pairs = _q_minhash_pairs(spark, sf_dir)  # materialized, scope released
    sym = pairs.unionByName(
        pairs.select(
            F.col("url_b").alias("url_a"), F.col("url_a").alias("url_b"), "jaccard"
        )
    )
    w = Window.partitionBy("url_a").orderBy(F.desc("jaccard"), F.asc("url_b"))
    return (
        sym.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("url_a").alias("url"),
            F.col("url_b").alias("nearest_url"),
            "jaccard",
        )
    )


def _q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc FNV-SimHash-64 projection (H4) as a 16-char hex string —
    value-oracle-gated against the DuckDB HUGEINT replay of the identical
    FNV-1a + bigram-mix + bit-vote chain (r2 VERDICT next-round #4; the
    blake2b default stays pinned by tests/test_simhash.py)."""
    clean = _assert_ascii(_clean(spark, sf_dir))
    reps = representatives(with_content_hash(clean)).select("url", "extracted")
    return with_signatures(reps, SIMHASH_FNV, kinds=("simhash",)).select(
        "url", F.lpad(F.hex("simhash"), 16, "0").alias("simhash_hex")
    )


def _q_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_canonical(spark, sf_dir)
    _, quar = split_quarantine(with_extracted(docs))
    return quar


def _q_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact top-k (block-grid cogroup, no driver collect /
    broadcast — the 100-TB-shaped plan). Oracle = the relational all-pairs
    SQL; identical rows because per-block top-k is decomposable and the
    integer arithmetic is exact (r2 VERDICT #2)."""
    return knn_exact_quantized_blocked(load_embeddings(spark, sf_dir), k=5)


KNN_DRIFT_BOUND = 1e-9  # >> the ~1e-15 BLAS-vs-fold ulp drift, << real gaps


def _q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Float-cosine top-k, gated on (vec_id, neighbor_id, rank) ONLY
    (r3 VERDICT #6): the raw double score can't hash-match across engines
    (different BLAS/fold accumulation orders give ulp drift), but neighbor
    identity and rank order are stable — distinct neighbors' cosines on
    this corpus differ by far more than the ~1e-15 drift, and exact ties
    (identical vectors) break by neighbor_id identically on both sides.
    That corpus property is now ASSERTED, not assumed (r4 ADVICE #4): the
    gate computes top-(k+1) and fails loudly if any adjacent nonzero
    cosine gap falls under KNN_DRIFT_BOUND — a corpus change that made the
    rank gate drift-fragile becomes a hard error instead of a flaky hash.
    The in-repo API (knn_cosine_blocked) still returns the score."""
    with Scope(spark) as scope:
        topk1 = scope.persist(knn_cosine_blocked(load_embeddings(spark, sf_dir), k=6))
        w = Window.partitionBy("vec_id").orderBy("rank")
        min_gap = (
            topk1.withColumn("next_cos", F.lead("cosine").over(w))
            .filter(F.col("next_cos").isNotNull())
            .select((F.col("cosine") - F.col("next_cos")).alias("gap"))
            .filter(F.col("gap") > 0)
            .agg(F.min("gap"))
            .first()[0]
        )
        if min_gap is not None and min_gap < KNN_DRIFT_BOUND:
            raise ValueError(
                f"knn_cosine rank gate is drift-fragile on this corpus: "
                f"min adjacent nonzero cosine gap {min_gap} < "
                f"{KNN_DRIFT_BOUND} — near-tie neighbors could reorder "
                "across engines; re-gate on the quantized variant"
            )
        return (
            topk1.filter(F.col("rank") <= 5)
            .select("vec_id", "neighbor_id", "rank")
            .localCheckpoint(eager=True)
        )


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k — FULLY value-oracled since r5
    (r4 VERDICT next-round #2, the last seeded-RNG rows-only gate besides
    IVF): the Spark UDF accumulates its sign dots in explicit dim-order
    left folds and ann.ann_lsh_sql embeds the identical seeded hyperplane
    matrix as %.17e literals, replaying sign bits -> bucket ids -> DISTINCT
    bucket join -> fold-exact cosine re-rank bit-for-bit in DuckDB. Gated
    on (vec_id, neighbor_id, rank); cosine doubles are bit-identical by
    construction but stay out of the hash for symmetry with knn_cosine.
    The oracle's hyperplane literals are dim-specific, so the gate asserts
    the table's dimensionality."""
    emb = load_embeddings(spark, sf_dir)
    dim = emb.select(F.max(F.size("embedding")).alias("d")).first()["d"]
    if dim != 64:
        raise ValueError(f"ann_lsh oracle embeds dim=64 hyperplanes, got {dim}")
    return ann_lsh(emb, k=5).select("vec_id", "neighbor_id", "rank")


EMB_DUP_THRESHOLD = 0.4  # sandbox embeddings have no cos>=0.9 pairs (max
# observed 0.51); 0.4 keeps the gate non-empty (60 pairs at sf0.01) so the
# green row certifies real rows, not an empty set (VERDICT r01 #6)


def _q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed + integer-quantized verify — the scale path (no driver
    collect, no O(n^2) crossJoin). Oracle = the brute-force SQL twin; they
    match exactly because the verify predicate is identical integer math and
    candidate recall is 1.0 at these LSH params (asserted in tests)."""
    return embedding_dup_pairs_lsh(
        load_embeddings(spark, sf_dir), threshold=EMB_DUP_THRESHOLD
    )


def _q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-find over the LSH embedding dup pairs -> connected components
    (vec_id -> cluster_id = min member) — the clustering stage composes over
    embedding similarity exactly as over text pairs. Oracle = the same
    brute-force integer pair predicate closed with a recursive CTE (the
    dedup_clusters technique applied to the embeddings table)."""
    from europa_spark.cluster import connected_components

    # ids stay LongType end-to-end: connected_components is type-agnostic
    # (min/least over the id column), so cluster_id is the NUMERIC min —
    # matching the SQL twin's BIGINT min (string ids would label by
    # lexicographic min and diverge)
    # materialized first: with no edge-count hint, union-find counts the
    # edges before it builds its adjacency — two reads of a lazy pair plan
    pairs = embedding_dup_pairs_lsh(
        load_embeddings(spark, sf_dir), threshold=EMB_DUP_THRESHOLD
    ).select(
        F.col("vec_id_a").alias("url_a"), F.col("vec_id_b").alias("url_b")
    ).localCheckpoint()
    comp = connected_components(pairs)
    return comp.select(
        F.col("url").alias("vec_id"), F.col("cluster_id").alias("cluster_id")
    )


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k gated at the DEEP-PROBE config (r4 VERDICT next-round #3:
    full k-means replay in SQL is impractical — the centroids depend on the
    data, and oracle_sql() is static): probing every cell makes the
    candidate set all-pairs, so the REAL IVF machinery (seeded k-means
    training, UDF cell assignment, cell equi-join, dedup, fold-cosine
    re-rank) must reproduce exact kNN exactly — any bug in assignment/join/
    dedup/ranking breaks the hash. Oracle = knn_cosine_fold_sql, whose
    ordered-fold arithmetic is bit-identical to the Catalyst F.aggregate
    cosine, so ranks agree even at float near-ties. The APPROXIMATE config
    (n_probe=8/16) stays pytest-gated (recall >= 0.8 + deep-probe >= 0.9,
    tests/test_quality_ann.py)."""
    return ann_ivf(
        load_embeddings(spark, sf_dir), k=5, n_cells=16, n_probe=16
    ).select("vec_id", "neighbor_id", "rank")


# --- multimodal: the testdata tables carry no media bytes, so the binary
# column is constructed deterministically from the text (FAKE fixture format,
# europa_spark.multimodal docstring) — the query then exercises the REAL
# binary-column plumbing: magic-byte type cascade, metadata projection,
# sha2-over-BINARY exact groups, mapInPandas decode+signature.
# header is printable-ASCII by format design (2-decimal-digit dims) so the
# DuckDB oracle can build the identical byte string in VARCHAR space
# (DuckDB 1.0's sha256 has no BLOB overload): 32x24 grayscale tiled from
# the text bytes
_FAKE_HEADER = b"FAKE3224"


def _with_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ASCII enforced loudly: every media oracle (metadata length, sha over
    # the VARCHAR-space blob, the dhash pixel twin) indexes CHARACTERS while
    # the Spark side encodes UTF-8 BYTES
    d = _assert_ascii(_clean(spark, sf_dir))
    return d.select(
        "url",
        F.concat(
            F.lit(bytearray(_FAKE_HEADER)), F.encode(F.col("extracted"), "UTF-8")
        ).alias("media"),
    )


def _q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from europa_spark.multimodal import with_media_metadata

    return with_media_metadata(_with_media(spark, sf_dir)).select(
        "url", "media_type", "n_bytes"
    )


def _q_media_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from europa_spark.multimodal import media_exact_dups

    return media_exact_dups(_with_media(spark, sf_dir)).select(
        "url", "media_hash", F.col("group_size").cast("long").alias("group_size"),
        "group_id",
    )


def _q_media_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three perceptual hashes (dHash / pHash-DCT / block-mean, the
    reference's ImageHash trio) over the decoded grid — scalar long/string
    columns only (r01's ARRAY column broke the driver canon)."""
    from europa_spark.multimodal import media_signatures

    return media_signatures(_with_media(spark, sf_dir))


def _q_media_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash-64 over the FAKE media (DifferenceHash.cs:20-46 value-for-value)
    — the first media hash with a VALUE oracle (r3 VERDICT #4): the DuckDB
    twin replays decode -> area-mean resize -> gradient bits FLOAT-FAITHFULLY
    (see _dhash_sql — exact-rational comparison alone mismatches 17/500 docs
    on tie-jitter, so the twin reproduces numpy's prefix-sum float chain via
    ordered list_reduce folds). Runs the real media_signatures mapInPandas
    path; pHash (float DCT) and block-mean stay rows-only in
    media_signatures."""
    from europa_spark.multimodal import media_signatures

    return media_signatures(_with_media(spark, sf_dir)).select(
        "url", "width", "height", "dhash"
    )


def _q_media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pHash-64 over the FAKE media (PerceptualHash.cs:64-120 value-for-
    value) — the DCT hash with a VALUE oracle (r3 VERDICT called DCT
    'no SQL twin'; it has one now): multimodal.phash64 accumulates its two
    matmuls in explicit left-fold term order, and _phash_sql replays
    decode -> nearest row-upscale -> both DCT folds -> discrete median ->
    threshold bits bit-exactly in DuckDB (the C8 DCT matrix is embedded as
    %.17e literals — scientific notation parses as DOUBLE; plain decimals
    parse as DECIMAL(17,16) and break the round-trip)."""
    from europa_spark.multimodal import media_signatures

    return media_signatures(_with_media(spark, sf_dir)).select(
        "url", "width", "height", "phash"
    )


def _q_media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs within pHash Hamming radius 10 — the
    SimilarImageFinder radius-search product shape (SimilarImageFinder.cs:
    280-330) over media columns. The payload is the shingle-sketch rendering
    (multimodal.text_sketch_media), under which the corpus's planted
    near-dup texts measure Hamming <= 6 and the background floor is 18 —
    so the gate certifies a real non-empty pair set (25 pairs at sf0.01;
    r2 it was green-but-empty on byte-tiled text).

    VALUE-ORACLED since r4: FNV-1a sketch hashing (ASCII asserted) lets
    _media_phash_pairs_sql replay sketch -> decode -> resize -> ordered-
    fold DCT pHash -> Hamming pairs exactly (single-frame case of the
    _video_sql chain)."""
    from europa_spark.multimodal import (
        media_phash_pairs,
        media_signatures,
        text_sketch_media,
    )

    # materialized once: each band-join branch reads the signatures, and a
    # lazy frame reruns the sketch UDF and the decode/hash map per branch
    sigs = media_signatures(
        text_sketch_media(_assert_ascii(_clean(spark, sf_dir)), token_hash="fnv1a")
    ).localCheckpoint()
    return media_phash_pairs(sigs).select("url_a", "url_b", "score")


def _q_media_blockmean_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-mean-961 radius pairs over the FNV sketch payload — the
    reference's third similarity mode as a gated pair query (r4 VERDICT
    next-round #8; BlockMeanHash.cs:46-99 + QdrantRepository.cs:184-206).
    VALUE-ORACLED: _blockmean_pairs_sql replays sketch -> decode -> integer
    block-sum matrix product -> median bits -> Hamming exactly (all-integer
    chain, no float-faithfulness needed). Planted near-dups measure
    Hamming <= 9 at sf0.01 vs a 64+ background floor, so the d=16 gate
    certifies a real non-empty pair set."""
    from europa_spark.multimodal import (
        media_blockmean_pairs,
        media_signatures,
        text_sketch_media,
    )

    # materialized once: each band-join branch reads the signatures, and a
    # lazy frame reruns the sketch UDF and the decode/hash map per branch
    sigs = media_signatures(
        text_sketch_media(_assert_ascii(_clean(spark, sf_dir)), token_hash="fnv1a")
    ).localCheckpoint()
    return media_blockmean_pairs(sigs).select("url_a", "url_b", "score")


CURATION_MIN_TOKENS = 30
CURATION_LANG = "en"


def _q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-training-data product query: compose quality thresholds +
    language-ID + the full 3-method dedup into the kept training corpus —
    (url, n_tokens, lang_pred, cluster_id) for docs that are English, long
    enough, and NOT duplicates. Oracle = the same composition in SQL (the
    dedup recursive-CTE closure + the token/lang-ID twins)."""
    clean = _clean(spark, sf_dir)
    q = quality_features(clean, text_col="extracted").select("url", "n_tokens")
    lid = language_id(clean, text_col="extracted").select("url", "lang_pred")
    return _from_run(spark, sf_dir, lambda out: (
        out["report"]
        .join(q, "url")
        .join(lid, "url")
        .filter(
            (F.col("lang_pred") == CURATION_LANG)
            & (F.col("n_tokens") >= CURATION_MIN_TOKENS)
            & (~F.col("is_duplicate"))
        )
        .select(
            "url",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "lang_pred",
            "cluster_id",
        )
    ))


def _q_video_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vote-threshold video near-dup pairs (the reference's audio
    ThresholdVotes matching shape, AudioHashGenerator.cs:12-49, over
    frame-sampled per-frame pHashes): docs rendered as FAKV multi-frame
    sketch videos; two videos pair on >= 3 pHash-close frames. Every row
    at sf0.01 is a planted text near-dup (zero false positives).

    VALUE-ORACLED since r4 (was 'rows-only — DCT has no SQL twin'): the
    sketch uses the FNV-1a token hash (same config move as simhash) so
    _video_sql replays the ENTIRE chain in DuckDB — token FNV -> k-gram
    polynomial mod 2^64 (32-bit-half split multiply) -> distinct-shingle
    count grid -> FAKV decode -> exact-rational 48x64 -> 32x32 area resize
    -> ordered-fold DCT pHash -> pigeonhole-complete Hamming<=10 frame
    match -> distinct-frame vote threshold. ASCII asserted (the SQL FNV
    hashes per character, Spark per UTF-8 byte)."""
    from europa_spark.multimodal import (
        text_sketch_video,
        video_frame_signatures,
        video_near_dups,
    )

    # materialized once, as in _q_media_phash_pairs
    sigs = video_frame_signatures(
        text_sketch_video(_assert_ascii(_clean(spark, sf_dir)), token_hash="fnv1a")
    ).localCheckpoint()
    return video_near_dups(sigs).select("url_a", "url_b", "score")


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard driver signal on the §2.8 exactly-once incremental machinery
    (r3 VERDICT #8): sf0.01 is split into 3 deterministic batches
    (xxhash64(url) mod 3) and fed through the REAL foreachBatch handler
    (streaming.process_batch_pairs with method "minhash" — parquet state
    partitions, batch_id < N state reads), then batch 1 is REPLAYED to
    exercise the overwrite idempotence the streaming checkpoint-recovery
    path relies on. The
    accumulated pair log must equal the one-shot batch result, so the
    oracle is the same brute-force exact-Jaccard twin as minhash_lsh_pairs
    (each pair is discovered exactly once — when its later member's batch
    probes the accumulated band index)."""
    import shutil
    import tempfile

    from europa_spark.streaming import process_batch_pairs, read_pairs

    docs = load_canonical(spark, sf_dir)
    # GATE-ONLY state location: a throwaway driver-local tempdir, torn down
    # below — correct here because this gate runs single-process and never
    # resumes. The PRODUCTION layout is a durable shared checkpoint root
    # (HDFS/S3) holding these same parquet state partitions next to the
    # Structured Streaming checkpointLocation — see streaming.py's
    # start_incremental_pairs (one handler; _PAIR_STATE maps each method to
    # its state dirs) and RUNBOOK.md's resume story; do NOT copy this
    # tempfile pattern into a cluster job (r4 VERDICT #4).
    state_dir = tempfile.mkdtemp(prefix="europa_inc_gate_")
    try:
        for bid in range(3):
            batch = docs.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == bid)
            process_batch_pairs(batch, bid, state_dir, "minhash")
        # replay batch 1: exactly-once means the final log is unchanged
        process_batch_pairs(
            docs.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 1), 1,
            state_dir, "minhash",
        )
        return (
            read_pairs(spark, state_dir, "minhash")
            .select("url_a", "url_b", F.col("score").alias("jaccard"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dedup_report": _q_exact_report,
        "exact_dedup_clusters": _q_exact_clusters,
        "quality_scores": _q_quality,
        "language_id": _q_langid,
        "doc_fingerprints": _q_fingerprints,
        "lang_profile": _q_lang_profile,
        "token_histogram": _q_token_histogram,
        "shingle_jaccard_pairs": _q_shingle_jaccard_pairs,
        "unigram_jaccard_pairs": _q_unigram_jaccard_pairs,
        "minhash_lsh_pairs": _q_minhash_pairs,
        "simhash_pairs": _q_simhash_pairs,
        "simhash_signatures": _q_simhash_signatures,
        "substring_pairs": _q_substring_pairs,
        "dedup_report": _q_dedup_report,
        "dedup_clusters": _q_dedup_clusters,
        "nearest_duplicate": _q_nearest_duplicate,
        "quarantine": _q_quarantine,
        "knn_quantized": _q_knn_quantized,
        "knn_cosine": _q_knn_cosine,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "embedding_dup_pairs": _q_embedding_dups,
        "embedding_dup_clusters": _q_embedding_dup_clusters,
        "media_metadata": _q_media_metadata,
        "media_exact_dups": _q_media_exact_dups,
        "media_dhash": _q_media_dhash,
        "media_phash": _q_media_phash,
        "media_signatures": _q_media_signatures,
        "media_phash_pairs": _q_media_phash_pairs,
        "media_blockmean_pairs": _q_media_blockmean_pairs,
        "video_dup_pairs": _q_video_dup_pairs,
        "corpus_curation": _q_corpus_curation,
        "incremental_dedup": _q_incremental_dedup,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB). Views: region nation customer supplier part orders
# lineitem events documents embeddings
# ---------------------------------------------------------------------------

_SHINGLES_CTE = f"""
WITH d AS ({DOCS_SQL}),
t AS (SELECT url, string_split(text, ' ') AS toks FROM d),
s AS (
  SELECT url,
         CASE WHEN len(toks) >= {SHINGLE_K}
              THEN list_distinct(list_transform(
                     range(1, len(toks) - {SHINGLE_K} + 2),
                     i -> array_to_string(list_slice(toks, i, i + {SHINGLE_K} - 1),
                                          chr(1))))
              ELSE [array_to_string(toks, chr(1))]
         END AS sh
  FROM t
)
"""


# ---------------------------------------------------------------------------
# CTE builders for the flagship dedup oracles: clean/reps projections, the
# winnowing fingerprint twin (byte-exact mod-2^64 arithmetic in HUGEINT), the
# brute-force shingle-Jaccard pair twin, and the recursive-CTE transitive
# closure — together they give dedup_report / dedup_clusters a hard DuckDB
# gate (VERDICT r01 "next round" #2).
# ---------------------------------------------------------------------------

# clean = quarantine excluded (same predicate as split_quarantine)
_CLEAN_BODY = f"""SELECT {URL_SQL} AS url, text FROM documents
  WHERE text IS NOT NULL AND NOT regexp_matches(text, '^[ \t\n\r\f\x0B]*$')"""

# one row per distinct content, deterministic min-url winner — the SQL twin
# of europa_spark.exact.representatives
_REPS_BODY = """SELECT url, text FROM (
    SELECT url, text,
           row_number() OVER (PARTITION BY sha256(text) ORDER BY url) AS rn
    FROM clean) WHERE rn = 1"""


def _winnow_ctes(
    k: int = CANONICAL.winnow_kgram,
    w: int = CANONICAL.winnow_window,
    votes: int = CANONICAL.substring_votes,
    max_df: int = WINNOW_MAX_DF,
) -> str:
    """CTE chain computing winnowed-fingerprint substring pairs over `reps`
    — the exact SQL twin of europa_spark.substring._batch_winnow + the
    df-cap + vote-count join (verified byte-identical fingerprints against
    the numpy kernel). uint64 wraparound arithmetic becomes explicit
    `% 2^64` in HUGEINT space (products stay < 2^78 << 2^127); text is
    indexed per character, which equals per byte on this corpus (ASCII —
    the Spark kernel hashes UTF-8 bytes)."""
    base = 1099511628211  # _ROLL_BASE, substring.py
    pow_sql = "[" + ",".join(
        f"{pow(base, e, 1 << 64)}::HUGEINT" for e in range(k)
    ) + "]"  # pow_sql[e+1] = BASE^e mod 2^64
    m64 = "18446744073709551616::HUGEINT"
    return f"""
pw AS (SELECT {pow_sql} AS p),
docn AS (SELECT url, text, length(text) AS n FROM reps),
kpos AS (
  SELECT url, text, unnest(range(1, n - {k} + 2)) AS i
  FROM docn WHERE n >= {k}
),
khash AS (
  SELECT url, i,
         list_sum(list_transform(range(0, {k}),
             j -> CAST(ord(substr(text, CAST(i + j AS INT), 1)) AS HUGEINT)
                  * p[{k} - j])) % {m64} AS h
  FROM kpos, pw
),
wmin AS (
  SELECT url, i,
         min(h) OVER (PARTITION BY url ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
         max(i) OVER (PARTITION BY url) AS m
  FROM khash
),
fps_long AS (
  SELECT DISTINCT url, fp FROM wmin WHERE i <= greatest(m - {w} + 1, 1)
),
fps_short AS (
  SELECT url,
         list_sum(list_transform(range(1, n + 1),
             i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS HUGEINT)
                  * p[n - i + 1])) % {m64} AS fp
  FROM docn, pw WHERE n < {k} AND n > 0
),
fps AS (SELECT url, fp FROM fps_long UNION ALL SELECT url, fp FROM fps_short),
rare_fp AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) > 1 AND count(*) <= {max_df}
),
fpr AS (SELECT f.url, f.fp FROM fps f JOIN rare_fp USING (fp)),
sub_pairs AS (
  SELECT a.url AS url_a, b.url AS url_b, count(*) AS votes
  FROM fpr a JOIN fpr b USING (fp)
  WHERE a.url < b.url
  GROUP BY a.url, b.url
  HAVING count(*) >= {votes}
)"""


# brute-force word-5-gram Jaccard pairs over reps — the minhash/LSH twin
# (identical output because LSH verification is exact Jaccard)
_MH_CTES = f"""
tok AS (SELECT url, string_split(text, ' ') AS toks FROM reps),
shg AS (
  SELECT url,
         CASE WHEN len(toks) >= {SHINGLE_K}
              THEN list_distinct(list_transform(
                     range(1, len(toks) - {SHINGLE_K} + 2),
                     i -> array_to_string(
                            list_slice(toks, i, i + {SHINGLE_K} - 1), chr(1))))
              ELSE [array_to_string(toks, chr(1))]
         END AS sh
  FROM tok
),
mh_pairs AS (
  SELECT a.url AS url_a, b.url AS url_b,
         len(list_intersect(a.sh, b.sh))
           / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
           AS jaccard
  FROM shg a, shg b
  WHERE a.url < b.url
    AND len(list_intersect(a.sh, b.sh))
          / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
          >= {JACCARD_T}
)"""


# exact star edges (group min -> member) + union of all pair methods +
# min-label transitive closure: the union-find twin. `reach` enumerates
# (node, reachable-node) — components here are tiny (only true dup groups).
_CLOSURE_CTES = """
ex_pairs AS (
  SELECT url_a, url_b FROM (
    SELECT min(url) OVER (PARTITION BY sha256(text)) AS url_a, url AS url_b
    FROM clean) WHERE url_a <> url_b
),
edges AS (
  SELECT url_a, url_b FROM mh_pairs
  UNION SELECT url_a, url_b FROM sub_pairs
  UNION SELECT url_a, url_b FROM ex_pairs
),
sym AS (
  SELECT url_a AS u, url_b AS v FROM edges
  UNION SELECT url_b, url_a FROM edges
),
cc_nodes AS (SELECT DISTINCT u AS url FROM sym),
reach(url, lab) AS (
  SELECT url, url FROM cc_nodes
  UNION
  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.url
),
comp AS (SELECT url, min(lab) AS cluster_id FROM reach GROUP BY url)
"""

_DEDUP_CTES = (
    f"WITH RECURSIVE clean AS ({_CLEAN_BODY}),\nreps AS ({_REPS_BODY}),"
    + _winnow_ctes() + ","
    + _MH_CTES + ","
    + _CLOSURE_CTES
)


def _embedding_dup_clusters_sql() -> str:
    """Recursive-CTE transitive closure over the brute-force integer-cosine
    pair predicate (the exact SQL semantics of embedding_dup_pairs_sql) —
    the dedup_clusters oracle technique applied to the embeddings table."""
    from europa_spark.ann import DUP_QUANT_SCALE

    t_num = int(round(EMB_DUP_THRESHOLD * 100))
    return f"""
WITH RECURSIVE q AS (
  SELECT vec_id, list_transform(embedding,
         x -> CAST(floor(x * {DUP_QUANT_SCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
n AS (
  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS nn
  FROM q
),
d AS (
  SELECT a.vec_id AS u, b.vec_id AS v,
         list_sum(list_transform(range(1, len(a.qv) + 1),
                  i -> a.qv[i] * b.qv[i])) AS qdot,
         a.nn AS na, b.nn AS nb
  FROM n a, n b
  WHERE a.vec_id < b.vec_id
),
e AS (
  SELECT u, v FROM d
  WHERE qdot > 0 AND qdot * qdot * 10000 >= {t_num * t_num} * na * nb
),
sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
nodes AS (SELECT DISTINCT u FROM sym),
reach(u, lab) AS (
  SELECT u, u FROM nodes
  UNION
  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.u
)
SELECT CAST(u AS BIGINT) AS vec_id, CAST(min(lab) AS BIGINT) AS cluster_id
FROM reach GROUP BY u
"""


def _simhash_ctes() -> str:
    """CTE chain computing the FNV-SimHash-64 signature over `reps` — the
    byte-exact SQL twin of europa_spark.simhash._simhash_np with the fnv1a
    token hash (validated equal on every sf0.01 doc). uint64 wraparound
    arithmetic runs in HUGEINT mod-2^64 space; the bigram mix
    (h_i * MIX + h_{i+1} mod 2^64) splits the multiplicand into 32-bit
    halves so no intermediate exceeds 2^65 (a direct h*MIX product could
    reach 2^128 and overflow signed int128). Chars equal bytes on this
    ASCII corpus (same caveat as the winnowing twin)."""
    mix = 0xC2B2AE3D27D4EB4F  # _BIGRAM_MIX, simhash.py
    b1, b0 = mix >> 32, mix & 0xFFFFFFFF
    m64 = "18446744073709551616::HUGEINT"
    fnv = """list_reduce(
      list_prepend(14695981039346656037::HUGEINT,
        list_transform(range(1, length(toks[CAST(i AS INT)])+1),
          j -> CAST(ord(substr(toks[CAST(i AS INT)], CAST(j AS INT), 1))
                    AS HUGEINT))),
      (acc, b) -> (CAST(xor(CAST(acc AS UBIGINT), CAST(b AS UBIGINT))
                        AS HUGEINT) * 1099511628211::HUGEINT) % {m64})"""
    return f"""
tokd AS (SELECT url, string_split(text, ' ') AS toks FROM reps),
tok AS (SELECT url, toks, unnest(range(1, len(toks)+1)) AS i FROM tokd),
th AS (SELECT url, i, {fnv.format(m64=m64)} AS h FROM tok),
bg AS (
  SELECT a.url,
         ( (a.h % 4294967296::HUGEINT) * {b0}::HUGEINT
         + (((a.h // 4294967296::HUGEINT) * {b0}::HUGEINT
            + (a.h % 4294967296::HUGEINT) * {b1}::HUGEINT)
            % 4294967296::HUGEINT) * 4294967296::HUGEINT
         + b.h ) % {m64} AS h
  FROM th a JOIN th b ON a.url = b.url AND b.i = a.i + 1
),
allh AS (SELECT url, h FROM th UNION ALL SELECT url, h FROM bg),
bits AS (SELECT url, unnest(range(0,64)) AS bit, h FROM allh),
votes AS (
  SELECT url, bit,
         sum(CASE WHEN (h // (1::HUGEINT << CAST(bit AS INT))) % 2 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM bits GROUP BY url, bit
),
sig AS (
  SELECT url,
         sum(CASE WHEN v >= 0 THEN (1::HUGEINT << CAST(bit AS INT))
                  ELSE 0::HUGEINT END) AS s
  FROM votes GROUP BY url
)"""


# clean docs (quarantine excluded) + the constructed FAKE media blob — the
# SQL twin of _with_media (header || utf8 text bytes)
_MEDIA_CTE = f"""
WITH d AS ({DOCS_SQL}),
m AS (
  SELECT url, 'FAKE3224' || text AS media
  FROM d
  WHERE text IS NOT NULL AND NOT regexp_matches(text, '^[ \t\n\r\f\x0B]*$')
)
"""


def _dhash_sql() -> str:
    """DuckDB twin of multimodal.dhash64 over the FAKE3224 blob — the full
    decode -> 8x9 area-mean resize -> gradient-bit chain, FLOAT-FAITHFUL
    (DifferenceHash.cs:20-46 semantics).

    Exactness argument: pixels are text bytes tiled to 32x24 (pixel p =
    ord(char at p mod len)). The ROW pass means 3-row integer sums through
    exact float arithmetic, so rm = fl(S/3) — DuckDB's CAST/3.0 rounds
    identically. The COLUMN pass in numpy is cumsum -> prefix differences
    -> /width; replaying the SAME fold-left addition order with
    list_reduce over the ordered 32-value row gives bit-identical prefix
    doubles, so every comparison — including the 49 exact-rational ties at
    sf0.01 whose float jitter flips 17 hashes — resolves identically.
    Pure-integer cross-multiplication is NOT used for exactly this reason.
    """
    edges = [0, 3, 7, 10, 14, 17, 21, 24, 28, 32]  # floor(j*32/9)
    widths = [edges[i + 1] - edges[i] for i in range(9)]
    pre = "[" + ", ".join(
        ["0.0"] + [f"list_reduce(l[1:{e}], (a,b) -> a + b)" for e in edges[1:]]
    ) + "]"

    def mean(j: int) -> str:  # 0-based col-block index
        return f"((pre[{j + 2}] - pre[{j + 1}]) / {widths[j]}.0)"

    bits = " + ".join(
        f"(CASE WHEN {mean(j + 1)} > {mean(j)} "
        f"THEN (1::HUGEINT << (8*rb + {j})) ELSE 0::HUGEINT END)"
        for j in range(8)
    )
    return f"""
WITH d AS ({DOCS_SQL}),
m AS (
  SELECT url, text FROM d
  WHERE text IS NOT NULL AND NOT regexp_matches(text, '^[ \t\n\r\f\x0B]*$')
),
pix AS (
  SELECT url,
         ord(substr(text, CAST((p % length(text)) + 1 AS INT), 1)) AS v,
         (p // 32) AS r, (p % 32) AS c
  FROM m, range(0, 768) t(p)
),
rs AS (SELECT url, (r // 3) AS rb, c, sum(v) AS s FROM pix GROUP BY url, rb, c),
lst AS (SELECT url, rb, list(CAST(s AS DOUBLE) / 3.0 ORDER BY c) AS l
        FROM rs GROUP BY url, rb),
pr AS (SELECT url, rb, {pre} AS pre FROM lst),
db AS (SELECT url, rb, {bits} AS part FROM pr),
sig AS (SELECT url, sum(part) AS s FROM db GROUP BY url)
SELECT url, CAST(32 AS INT) AS width, CAST(24 AS INT) AS height,
       CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
            THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS dhash
FROM sig
"""


def _phash_sql() -> str:
    """DuckDB twin of multimodal.phash64 over the FAKE3224 blob — decode ->
    32x32 resize -> 2-D DCT-II (8 kept rows) -> median-threshold bits,
    FLOAT-FAITHFUL (PerceptualHash.cs:64-120 semantics).

    Exactness argument, step by step:
    * decode/tiling: pixel p = ord(char at p mod len) — integers, exact as
      DOUBLE (same pix CTE as _dhash_sql).
    * resize 24->32 rows is an UPSCALE, so _resize_area takes the nearest
      row (pure integer gather, row rr reads source row (rr*24)//32); the
      32-wide axis is a no-op. Zero float arithmetic so far.
    * DCT: phash64 accumulates tmp = C8 @ g and D8 = tmp @ C8.T as
      explicit k-major/c-major left folds; list_reduce over the
      list_transform terms is the same fold (a+(c*g): one product
      rounding + one add rounding per term, and numpy's zeros-init is a
      no-op because 0.0 + x is exact). The C8 matrix constants are
      embedded as %.17e literals: scientific notation parses as DOUBLE
      (shortest-repr round-trip), while plain decimal literals parse as
      DECIMAL(17,16) and silently re-round — measured 108/2003 mismatches.
    * median of the 63 non-DC coefficients is the middle ELEMENT (odd
      count, no averaging): quantile_disc(0.5) picks the identical value.
    * bit i (= u*8 + v) set when coef > med, DC included — HUGEINT sum,
      then the same two's-complement cast to BIGINT as _dhash_sql.

    Validated bit-exact on 124 adversarial payloads (constant, periodic,
    blank — the tie-heavy cases where DECIMAL parsing flipped 47/64 DCT
    cells) before wiring in.
    """
    from europa_spark.multimodal import _dct_matrix

    c8 = _dct_matrix(32)[:8].reshape(256)
    cm_flat = ", ".join(f"{float(v):.17e}" for v in c8)  # index u*32+k
    rmap = ", ".join(f"({rr}, {(rr * 24) // 32})" for rr in range(32))
    return f"""
WITH d AS ({DOCS_SQL}),
cmat AS (SELECT [{cm_flat}] AS cm),
m AS (
  SELECT url, text FROM d
  WHERE text IS NOT NULL AND NOT regexp_matches(text, '^[ \t\n\r\f\x0B]*$')
),
pix AS (
  SELECT url,
         ord(substr(text, CAST((p % length(text)) + 1 AS INT), 1)) AS v,
         (p // 32) AS r, (p % 32) AS c
  FROM m, range(0, 768) t(p)
),
g32 AS (
  SELECT url, list(CAST(v AS DOUBLE) ORDER BY rr * 32 + c) AS g
  FROM (
    SELECT pix.url, rm.rr, pix.c, pix.v
    FROM pix JOIN (VALUES {rmap}) rm(rr, r) ON pix.r = rm.r
  ) GROUP BY url
),
tmp AS (
  SELECT url, u, c,
         list_reduce(
           list_transform(range(0, 32),
                          k -> cm[u * 32 + k + 1] * g[k * 32 + c + 1]),
           (a, b) -> a + b) AS t
  FROM g32, cmat, range(0, 8) uu(u), range(0, 32) cc(c)
),
tl AS (SELECT url, u, list(t ORDER BY c) AS tr FROM tmp GROUP BY url, u),
d8 AS (
  SELECT tl.url, tl.u, vv.v,
         list_reduce(
           list_transform(range(0, 32),
                          c -> tr[c + 1] * cm[v * 32 + c + 1]),
           (a, b) -> a + b) AS coef
  FROM tl, cmat, range(0, 8) vv(v)
),
med AS (
  SELECT url, quantile_disc(coef, 0.5) AS md
  FROM d8 WHERE NOT (u = 0 AND v = 0) GROUP BY url
),
sig AS (
  SELECT d8.url,
         sum(CASE WHEN coef > md
             THEN (1::HUGEINT << (u * 8 + v)) ELSE 0::HUGEINT END) AS s
  FROM d8 JOIN med ON d8.url = med.url
  GROUP BY d8.url
)
SELECT url, CAST(32 AS INT) AS width, CAST(24 AS INT) AS height,
       CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
            THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS phash
FROM sig
"""


def _blockmean_sql() -> str:
    """DuckDB twin of multimodal.blockmean_hash over the FAKE3224 blob —
    256x256 nearest upscale -> 31x31 overlapping 16x16 block means ->
    median-threshold bits -> 121 hex bytes. EXACT, no float-faithfulness
    needed: the upscale is a pure integer gather, so each block SUM is an
    integer and factorizes through the source grid as an integer matrix
    product  bsum[bi,bj] = sum_{r,c} v[r,c]*rowov[bi,r]*colov[bj,c]
    (rowov/colov = how many of the block's 16 grid rows/cols map onto each
    source row/col). mean = bsum/256.0 is exact (power-of-two divisor) and
    ORDER-FREE, so comparing block sums against the discrete median of sums
    reproduces numpy's mean comparisons identically; median of 961 values
    is the middle element (odd count, no averaging). Validated bit-exact on
    105 adversarial payloads. Matches BlockMeanHash.cs:46-99 semantics."""

    def overlap(n_src: int) -> list[tuple[int, int, int]]:
        out = []
        for b in range(31):
            cnt: dict[int, int] = {}
            for g in range(b * 8, b * 8 + 16):
                s = (g * n_src) // 256
                cnt[s] = cnt.get(s, 0) + 1
            out.extend((b, s, c) for s, c in cnt.items())
        return out

    rowov = ", ".join(f"({b},{s},{c})" for b, s, c in overlap(24))
    colov = ", ".join(f"({b},{s},{c})" for b, s, c in overlap(32))
    return f"""
WITH d AS ({DOCS_SQL}),
m AS (
  SELECT url, text FROM d
  WHERE text IS NOT NULL AND NOT regexp_matches(text, '^[ \t\n\r\f\x0B]*$')
),
pix AS (
  SELECT url,
         ord(substr(text, CAST((p % length(text)) + 1 AS INT), 1)) AS v,
         (p // 32) AS r, (p % 32) AS c
  FROM m, range(0, 768) t(p)
),
rowov AS (SELECT * FROM (VALUES {rowov}) x(bi, r, w)),
colov AS (SELECT * FROM (VALUES {colov}) x(bj, c, w)),
m1 AS (
  SELECT url, bi, c, sum(v * w) AS s
  FROM pix JOIN rowov USING (r) GROUP BY url, bi, c
),
bs AS (
  SELECT url, bi, bj, sum(s * w) AS bsum
  FROM m1 JOIN colov USING (c) GROUP BY url, bi, bj
),
med AS (SELECT url, quantile_disc(bsum, 0.5) AS md FROM bs GROUP BY url),
bits AS (
  SELECT bs.url, (bi * 31 + bj) AS i, (bsum > md) AS bit
  FROM bs JOIN med ON bs.url = med.url
),
bytes AS (
  SELECT url, i // 8 AS byte_i,
         sum(CASE WHEN bit THEN (1 << (i % 8)) ELSE 0 END) AS bv
  FROM bits GROUP BY url, byte_i
)
SELECT url,
       lower(string_agg(lpad(hex(bv), 2, '0'), '' ORDER BY byte_i)) AS blockmean
FROM bytes GROUP BY url
"""


def _video_sql() -> str:
    """DuckDB twin of the whole video_dup_pairs chain (text_sketch_video
    with token_hash='fnv1a' -> video_frame_signatures -> video_near_dups).

    Replay, stage by stage (every step validated bit-exact on 39 synthetic
    videos / 11 planted pairs before wiring in):
    * chunking: per = max(30, ceil(n_toks/5)); chunk i = toks[i*per ..
      (i+1)*per); empty chunks are only ever TRAILING (i*per >= n is
      monotone in i), so chunk index == frame index. Videos with < 3
      frames can never reach min_votes=3 (votes = least of two distinct-
      frame counts), so only >=3-frame videos are materialized.
    * token FNV-1a per char (ASCII asserted on the Spark side), k-gram
      polynomial acc*BASE + th mod 2^64 with the 32-bit-half split multiply
      (the simhash-twin technique; acc*BASE directly could reach 2^128).
    * sketch grid: DISTINCT shingles -> cell = h mod 3072, value
      min(32*count, 255) — integers.
    * FAKV decode + 48x64 -> 32x32 area resize: both axes downscale with
      power-of-two-times-width divisors (width 1 or 2 rows x 2 cols), so
      every resized value is an exact multiple of 0.25 — order-free exact
      rational arithmetic, no float-faithful fold needed.
    * pHash: the same ordered-fold DCT replay as _phash_sql.
    * matching: brute-force Hamming <= 10 over frame pairs equals the
      Spark band join (16 bands of 4 bits, d=10 < 16 -> pigeonhole-
      complete recall, then the exact Hamming filter), votes = least
      distinct matched frame indices per side, threshold 3.
    """
    return _sketch_phash_prefix(
        chunks_sql="""
chunks AS (
  SELECT url, ci.i AS fi,
         list_slice(toks, ci.i * per + 1, (ci.i + 1) * per) AS ctoks
  FROM tokd, range(0, 5) ci(i)
  WHERE ci.i * per < len(toks)
),
eligible AS (SELECT url FROM chunks GROUP BY url HAVING count(*) >= 3),
fchunks AS (SELECT c.* FROM chunks c JOIN eligible USING (url))"""
    ) + """,
hits AS (
  SELECT a.url AS url_a, b.url AS url_b, a.fi AS fa, b.fi AS fb
  FROM fr a JOIN fr b ON a.url < b.url
  WHERE bit_count(xor(a.ph, b.ph)) <= 10
),
votes AS (
  SELECT url_a, url_b,
         least(count(DISTINCT fa), count(DISTINCT fb)) AS v
  FROM hits GROUP BY url_a, url_b
)
SELECT url_a, url_b, CAST(v AS DOUBLE) AS score
FROM votes WHERE v >= 3
"""


def _media_phash_pairs_sql() -> str:
    """DuckDB twin of media_phash_pairs over the FNV text_sketch_media
    payload: the single-frame degenerate case of _video_sql's chain (one
    chunk = the whole doc), then brute-force Hamming <= 10 pairs — equal to
    the Spark band join by the same pigeonhole argument — with
    score = (64 - hamming) / 64 (exact: integer / power of two)."""
    return _sketch_phash_prefix(
        chunks_sql="""
fchunks AS (SELECT url, 0 AS fi, toks AS ctoks FROM tokd)"""
    ) + """
SELECT a.url AS url_a, b.url AS url_b,
       (64 - bit_count(xor(a.ph, b.ph))) / 64.0 AS score
FROM fr a JOIN fr b ON a.url < b.url
WHERE bit_count(xor(a.ph, b.ph)) <= 10
"""


def _sketch_cells_prefix(chunks_sql: str) -> str:
    """CTE chain for the FNV-sketch front alone: token FNV -> k-gram
    polynomial -> distinct-shingle cell counts -> ``cmap(url, fi, mp)``, the
    sparse 48x64 grid as a cell->value map (pixel (r, c) = mp[r*64 + c],
    missing = 0). The caller supplies CTEs ending in ``fchunks(url, fi,
    ctoks)`` and appends its own decode/hash stages — the pHash chain
    (_sketch_phash_prefix) and the block-mean chain (_blockmean_pairs_sql)
    share this front."""
    m64 = "18446744073709551616::HUGEINT"
    base = 0x9E3779B97F4A7C15  # minhash._SHINGLE_BASE
    b0, b1 = base & 0xFFFFFFFF, base >> 32
    fnv = f"""list_reduce(
      list_prepend(14695981039346656037::HUGEINT,
        list_transform(range(1, length(tk)+1),
          j -> CAST(ord(substr(tk, CAST(j AS INT), 1)) AS HUGEINT))),
      (acc, b) -> (CAST(xor(CAST(acc AS UBIGINT), CAST(b AS UBIGINT))
                        AS HUGEINT) * 1099511628211::HUGEINT) % {m64})"""
    shingle_fold = f"""list_reduce(
      list_prepend(0::HUGEINT, list_slice(hl, j0, j0 + kk - 1)),
      (acc, t) -> ( (acc % 4294967296::HUGEINT) * {b0}::HUGEINT
                  + (((acc // 4294967296::HUGEINT) * {b0}::HUGEINT
                     + (acc % 4294967296::HUGEINT) * {b1}::HUGEINT)
                     % 4294967296::HUGEINT) * 4294967296::HUGEINT
                  + t ) % {m64})"""
    return f"""
WITH d AS ({DOCS_SQL}),
tokd AS (
  SELECT url, string_split(text, ' ') AS toks,
         greatest(30, CAST(ceil(len(string_split(text, ' ')) / 5.0)
                           AS BIGINT)) AS per
  FROM d
),{chunks_sql},
tok AS (
  SELECT url, fi, i, ctoks[CAST(i AS INT)] AS tk
  FROM (
    SELECT c.url, c.fi, c.ctoks, unnest(range(1, len(c.ctoks) + 1)) AS i
    FROM fchunks c
  )
),
th AS (SELECT url, fi, i, {fnv} AS h FROM tok),
hlist AS (
  SELECT url, fi, list(h ORDER BY i) AS hl, count(*) AS n
  FROM th GROUP BY url, fi
),
shin AS (
  SELECT url, fi, {shingle_fold} AS sh
  FROM (
    SELECT url, fi, hl, least(5, n) AS kk,
           unnest(range(1, n - least(5, n) + 2)) AS j0
    FROM hlist
  )
),
shd AS (SELECT DISTINCT url, fi, sh FROM shin),
cellcnt AS (
  SELECT url, fi, CAST(sh % 3072::HUGEINT AS BIGINT) AS cell,
         least(32 * count(*), 255) AS v
  FROM shd GROUP BY url, fi, cell
),
cmap AS (SELECT url, fi, map(list(cell), list(v)) AS mp
         FROM cellcnt GROUP BY url, fi)"""


def _sketch_phash_prefix(chunks_sql: str) -> str:
    """Shared CTE chain for the FNV-sketch -> FAKE/FAKV decode -> area
    resize -> ordered-fold-DCT pHash replay. The caller supplies CTEs
    ending in ``fchunks(url, fi, ctoks)`` (token chunks per frame; see
    _video_sql for the exactness argument of every downstream stage) and
    appends its own matching stage over ``fr(url, fi, ph UBIGINT)``."""
    from europa_spark.multimodal import _dct_matrix

    m64 = "18446744073709551616::HUGEINT"
    cm = ", ".join(f"{float(v):.17e}" for v in _dct_matrix(32)[:8].reshape(256))
    row_edges = [(i * 48) // 32 for i in range(33)]  # 48 -> 32 area edges
    rowmap = ", ".join(
        f"({rr},{r},{row_edges[rr + 1] - row_edges[rr]})"
        for rr in range(32)
        for r in range(row_edges[rr], row_edges[rr + 1])
    )
    return _sketch_cells_prefix(chunks_sql) + f""",
cmat AS (SELECT [{cm}] AS cm),
g32 AS (
  SELECT url, fi, list(gv ORDER BY rr * 32 + cc) AS g
  FROM (
    SELECT cm2.url, cm2.fi, rm.rr, cc.c AS cc,
           sum(coalesce(mp[rm.r * 64 + 2 * cc.c][1], 0)
             + coalesce(mp[rm.r * 64 + 2 * cc.c + 1][1], 0))
             / CAST(max(rm.w) * 2 AS DOUBLE) AS gv
    FROM cmap cm2
    JOIN (VALUES {rowmap}) rm(rr, r, w) ON TRUE,
         range(0, 32) cc(c)
    GROUP BY cm2.url, cm2.fi, rm.rr, cc.c
  ) GROUP BY url, fi
),
tmp AS (
  SELECT url, fi, u, c,
         list_reduce(
           list_transform(range(0, 32),
                          k -> cm[u * 32 + k + 1] * g[k * 32 + c + 1]),
           (a, b) -> a + b) AS t
  FROM g32, cmat, range(0, 8) uu(u), range(0, 32) cc(c)
),
tl AS (SELECT url, fi, u, list(t ORDER BY c) AS tr
       FROM tmp GROUP BY url, fi, u),
d8 AS (
  SELECT tl.url, tl.fi, tl.u, vv.v,
         list_reduce(
           list_transform(range(0, 32),
                          c -> tr[c + 1] * cm[v * 32 + c + 1]),
           (a, b) -> a + b) AS coef
  FROM tl, cmat, range(0, 8) vv(v)
),
med AS (
  SELECT url, fi, quantile_disc(coef, 0.5) AS md
  FROM d8 WHERE NOT (u = 0 AND v = 0) GROUP BY url, fi
),
psig AS (
  SELECT d8.url, d8.fi,
         sum(CASE WHEN coef > md
             THEN (1::HUGEINT << (u * 8 + v)) ELSE 0::HUGEINT END) AS s
  FROM d8 JOIN med ON d8.url = med.url AND d8.fi = med.fi
  GROUP BY d8.url, d8.fi
),
fr AS (SELECT url, fi, CAST(s % {m64} AS UBIGINT) AS ph FROM psig)"""


def _blockmean_pairs_sql(hamming_d: int = 16) -> str:
    """DuckDB twin of media_blockmean_pairs over the FNV text_sketch_media
    payload — the block-mean radius search replayed end-to-end: FNV sketch
    (shared front, _sketch_cells_prefix) -> 48x64 integer grid -> 256x256
    nearest upscale -> 31x31 overlapping 16x16 block sums as an EXACT
    integer matrix product (the _blockmean_sql factorization, here with
    (48, 64) source overlap counts: bsum[bi,bj] = sum v[r,c] * rowov[bi,r]
    * colov[bj,c]) -> discrete median -> 961 bits -> Hamming pairs.

    Hamming is computed over 16 HUGEINT->UBIGINT words packed by bit index
    i//64 — a DIFFERENT packing than Spark's 4-byte hex words, which is
    fine because Hamming distance is packing-invariant (same bit multiset,
    bit_count(xor) sums over any partition of the bits). Brute-force pairs
    equal the Spark band join by pigeonhole (17 byte-aligned bands cover
    d <= 16) with no hot bucket at this scale. score = (961 - h) / 961.0:
    same int->double division both sides."""

    def overlap(n_src: int) -> list[tuple[int, int, int]]:
        out = []
        for b in range(31):
            cnt: dict[int, int] = {}
            for g in range(b * 8, b * 8 + 16):
                s = (g * n_src) // 256
                cnt[s] = cnt.get(s, 0) + 1
            out.extend((b, s, c) for s, c in cnt.items())
        return out

    rowov = ", ".join(f"({b},{s},{c})" for b, s, c in overlap(48))
    colov = ", ".join(f"({b},{s},{c})" for b, s, c in overlap(64))
    chunks = """
fchunks AS (SELECT url, 0 AS fi, toks AS ctoks FROM tokd)"""
    return _sketch_cells_prefix(chunks) + f""",
grid AS (
  SELECT cmap.url, rr.r, cc.c,
         coalesce(mp[rr.r * 64 + cc.c][1], 0) AS v
  FROM cmap, range(0, 48) rr(r), range(0, 64) cc(c)
),
rowov AS (SELECT * FROM (VALUES {rowov}) x(bi, r, w)),
colov AS (SELECT * FROM (VALUES {colov}) x(bj, c, w)),
m1 AS (
  SELECT url, bi, c, sum(v * w) AS s
  FROM grid JOIN rowov USING (r) GROUP BY url, bi, c
),
bs AS (
  SELECT url, bi, bj, sum(s * w) AS bsum
  FROM m1 JOIN colov USING (c) GROUP BY url, bi, bj
),
med AS (SELECT url, quantile_disc(bsum, 0.5) AS md FROM bs GROUP BY url),
bits AS (
  SELECT bs.url, (bi * 31 + bj) AS i, (bsum > md) AS bit
  FROM bs JOIN med ON bs.url = med.url
),
words AS (
  SELECT url, i // 64 AS wi,
         sum(CASE WHEN bit THEN (1::HUGEINT << CAST(i % 64 AS INT))
             ELSE 0::HUGEINT END) AS wv
  FROM bits GROUP BY url, wi
),
ham AS (
  SELECT a.url AS url_a, b.url AS url_b,
         sum(bit_count(xor(CAST(a.wv AS UBIGINT), CAST(b.wv AS UBIGINT)))) AS h
  FROM words a JOIN words b ON a.wi = b.wi AND a.url < b.url
  GROUP BY a.url, b.url
)
SELECT url_a, url_b, (961 - h) / 961.0 AS score
FROM ham WHERE h <= {hamming_d}
"""


def _media_signatures_sql() -> str:
    """Full media_signatures twin: the three per-hash twins joined on url —
    dHash (float-faithful prefix-sum replay), pHash (ordered-fold DCT
    replay), block-mean (exact integer matrix product). Promotes the last
    media rows-only signature query to a value oracle."""
    return f"""
SELECT d.url, d.width, d.height, d.dhash, p.phash, b.blockmean
FROM ({_dhash_sql()}) d
JOIN ({_phash_sql()}) p USING (url)
JOIN ({_blockmean_sql()}) b USING (url)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "exact_dedup_report": f"""
WITH d AS ({DOCS_SQL})
SELECT url, sha256(text) AS content_hash,
       count(*) OVER (PARTITION BY sha256(text)) AS group_size,
       min(url) OVER (PARTITION BY sha256(text)) AS exact_group_id
FROM d
""",
        "exact_dedup_clusters": f"""
WITH d AS ({DOCS_SQL})
SELECT sha256(text) AS content_hash, min(url) AS cluster_id,
       count(*) AS n_members
FROM d GROUP BY sha256(text) HAVING count(*) > 1
""",
        "quality_scores": quality_features_sql(DOCS_SQL),
        "language_id": language_id_sql(DOCS_SQL),
        "doc_fingerprints": doc_fingerprints_sql(DOCS_SQL),
        "lang_profile": f"""
WITH d AS ({DOCS_SQL})
SELECT lang, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       sum(length(text)) / CAST(count(*) AS DOUBLE) AS avg_chars
FROM d GROUP BY lang
""",
        "token_histogram": f"""
WITH d AS ({DOCS_SQL}),
tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM d)
SELECT token, count(*) AS freq FROM tok
GROUP BY token ORDER BY freq DESC, token ASC LIMIT 50
""",
        "shingle_jaccard_pairs": _SHINGLES_CTE
        + f"""
SELECT a.url AS url_a, b.url AS url_b,
       len(list_intersect(a.sh, b.sh))
         / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
FROM s a, s b
WHERE a.url < b.url
  AND len(list_intersect(a.sh, b.sh))
        / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= {JACCARD_T}
""",
        "unigram_jaccard_pairs": f"""
WITH d AS ({DOCS_SQL}),
t AS (SELECT url, list_distinct(string_split(text, ' ')) AS tk FROM d)
SELECT a.url AS url_a, b.url AS url_b,
       len(list_intersect(a.tk, b.tk))
         / CAST(len(list_distinct(list_concat(a.tk, b.tk))) AS DOUBLE) AS jaccard
FROM t a, t b
WHERE a.url < b.url
  AND len(list_intersect(a.tk, b.tk))
        / CAST(len(list_distinct(list_concat(a.tk, b.tk))) AS DOUBLE) >= 0.5
""",
        # LSH + exact verify == brute-force exact Jaccard when candidate
        # recall is 1.0 (verified at this scale; fixture tests gate recall)
        "minhash_lsh_pairs": _SHINGLES_CTE
        + f"""
SELECT a.url AS url_a, b.url AS url_b,
       len(list_intersect(a.sh, b.sh))
         / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
FROM s a, s b
WHERE a.url < b.url
  AND len(list_intersect(a.sh, b.sh))
        / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= {JACCARD_T}
""",
        # the accumulated incremental foreachBatch pair log must equal the
        # one-shot batch result — same brute-force exact-Jaccard twin
        "incremental_dedup": _SHINGLES_CTE
        + f"""
SELECT a.url AS url_a, b.url AS url_b,
       len(list_intersect(a.sh, b.sh))
         / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
FROM s a, s b
WHERE a.url < b.url
  AND len(list_intersect(a.sh, b.sh))
        / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= {JACCARD_T}
""",
        "quarantine": f"""
WITH d AS (SELECT {URL_SQL} AS url, text FROM documents)
SELECT url,
       CASE WHEN text IS NULL THEN 'no_content' ELSE 'empty' END AS reason
FROM d
WHERE text IS NULL OR regexp_matches(text, '^[ \t\n\r\f\x0B]*$')
""",
        # FNV-SimHash-64 twins: the signature chain replayed in HUGEINT SQL
        # (validated byte-equal to the pandas kernel), then brute-force
        # Hamming for the pairs — equal to the banded Spark plan because
        # pigeonhole recall is guaranteed and no sf0.01 bucket is hot
        "simhash_signatures": (
            f"WITH clean AS ({_CLEAN_BODY}),\nreps AS ({_REPS_BODY}),"
            + _simhash_ctes()
            + """
SELECT url, printf('%08X%08X', CAST(s // 4294967296 AS BIGINT),
                   CAST(s % 4294967296 AS BIGINT)) AS simhash_hex
FROM sig
"""
        ),
        "simhash_pairs": (
            f"WITH clean AS ({_CLEAN_BODY}),\nreps AS ({_REPS_BODY}),"
            + _simhash_ctes()
            + f"""
SELECT a.url AS url_a, b.url AS url_b,
       (64 - bit_count(xor(CAST(a.s AS UBIGINT), CAST(b.s AS UBIGINT))))
         / 64.0 AS score
FROM sig a, sig b
WHERE a.url < b.url
  AND bit_count(xor(CAST(a.s AS UBIGINT), CAST(b.s AS UBIGINT)))
      <= {CANONICAL.simhash_hamming_d}
"""
        ),
        # the exact winnowing twin: byte-identical fingerprints in HUGEINT
        # mod-2^64 arithmetic, then the same df-cap + vote-count join
        "substring_pairs": (
            f"WITH clean AS ({_CLEAN_BODY}),\nreps AS ({_REPS_BODY}),"
            + _winnow_ctes()
            + "\nSELECT url_a, url_b, CAST(votes AS DOUBLE) AS score FROM sub_pairs"
        ),
        # flagship: full 3-method pipeline (exact + minhash + substring) with
        # the union-find closure as a recursive CTE
        "dedup_report": _DEDUP_CTES + """
SELECT d.url, coalesce(c.cluster_id, d.url) AS cluster_id,
       (c.url IS NOT NULL AND c.cluster_id <> d.url) AS is_duplicate
FROM clean d LEFT JOIN comp c ON c.url = d.url
""",
        "dedup_clusters": _DEDUP_CTES + """
SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       string_agg(c.url, '|' ORDER BY c.url) AS member_urls
FROM comp c
GROUP BY c.cluster_id
HAVING count(*) >= 2
""",
        "nearest_duplicate": (
            f"WITH clean AS ({_CLEAN_BODY}),\nreps AS ({_REPS_BODY}),"
            + _MH_CTES
            + """,
symp AS (
  SELECT url_a AS url, url_b AS nbr, jaccard FROM mh_pairs
  UNION ALL SELECT url_b, url_a, jaccard FROM mh_pairs
),
rk AS (
  SELECT url, nbr, jaccard,
         row_number() OVER (PARTITION BY url
                            ORDER BY jaccard DESC, nbr ASC) AS rn
  FROM symp
)
SELECT url, nbr AS nearest_url, jaccard FROM rk WHERE rn = 1
"""
        ),
        # the training-corpus composition: dedup closure + lang-ID + token
        # threshold in one statement (nested-WITH subquery for the lang twin)
        "corpus_curation": _DEDUP_CTES + f""",
lid AS ({language_id_sql(DOCS_SQL)}),
qt AS (SELECT url, len(string_split(text, ' ')) AS n_tokens FROM clean)
SELECT d.url, CAST(qt.n_tokens AS BIGINT) AS n_tokens, lid.lang_pred,
       coalesce(c.cluster_id, d.url) AS cluster_id
FROM clean d
JOIN qt ON qt.url = d.url
JOIN lid ON lid.url = d.url
LEFT JOIN comp c ON c.url = d.url
WHERE lid.lang_pred = '{CURATION_LANG}'
  AND qt.n_tokens >= {CURATION_MIN_TOKENS}
  AND NOT (c.url IS NOT NULL AND c.cluster_id <> d.url)
""",
        "knn_quantized": knn_exact_quantized_sql(k=5),
        # rank-only twin (float scores can't hash-match across engines —
        # see _q_knn_cosine); zero-norm guard mirrors the numpy kernel
        "knn_cosine": """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
),
n AS (
  SELECT vec_id, ev,
         CASE WHEN sqrt(list_sum(list_transform(ev, x -> x * x))) = 0
              THEN 1.0
              ELSE sqrt(list_sum(list_transform(ev, x -> x * x))) END AS nrm
  FROM v
),
d AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, len(a.ev) + 1),
                  i -> a.ev[i] * b.ev[i])) / (a.nrm * b.nrm) AS cosine
  FROM n a, n b WHERE a.vec_id <> b.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM d
)
SELECT vec_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""",
        # full LSH replay: seeded hyperplanes as %.17e literals + ordered
        # folds (see _q_ann_lsh); leaves NO rows-only gates in the board
        "ann_lsh_topk": ann_lsh_sql(k=5, dim=64),
        # deep-probe IVF == exact kNN; fold-exact cosine twin (see _q_ann_ivf)
        "ann_ivf_topk": knn_cosine_fold_sql(k=5, dim=64),
        "embedding_dup_pairs": embedding_dup_pairs_sql(threshold=EMB_DUP_THRESHOLD),
        # brute-force integer pair predicate + recursive-CTE closure — the
        # dedup_clusters technique over the embeddings table
        "embedding_dup_clusters": _embedding_dup_clusters_sql(),
        # float-faithful dHash replay (decode -> resize -> gradient bits)
        "media_dhash": _dhash_sql(),
        # float-faithful pHash replay (ordered-fold DCT, see _phash_sql)
        "media_phash": _phash_sql(),
        # all three hashes: dhash + phash + integer-exact blockmean twins
        "media_signatures": _media_signatures_sql(),
        # full FNV-sketch -> FAKV -> pHash -> vote-match replay
        "video_dup_pairs": _video_sql(),
        # single-frame sketch pHash radius pairs, same chain
        "media_phash_pairs": _media_phash_pairs_sql(),
        # block-mean-961 radius pairs: exact integer replay (third mode)
        "media_blockmean_pairs": _blockmean_pairs_sql(),
        "media_metadata": _MEDIA_CTE
        + r"""
SELECT url,
       CASE WHEN substr(media, 1, 4) = 'FAKE' THEN 'fake'
            ELSE 'unknown' END AS media_type,
       CAST(octet_length(encode(media)) AS BIGINT) AS n_bytes
FROM m
""",
        "media_exact_dups": _MEDIA_CTE
        + r"""
, h AS (SELECT url, sha256(media) AS media_hash FROM m),
g AS (
  SELECT url, media_hash,
         count(*) OVER (PARTITION BY media_hash) AS group_size,
         min(url) OVER (PARTITION BY media_hash) AS group_id
  FROM h
)
SELECT url, media_hash, group_size, group_id FROM g WHERE group_size > 1
""",
    }
