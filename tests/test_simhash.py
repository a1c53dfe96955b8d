"""SimHash-64: bit math, dot-score equivalence, pigeonhole recall."""

from __future__ import annotations

from europa_spark.config import DedupConfig
from europa_spark.minhash import with_signatures
from europa_spark.simhash import _simhash_np, simhash_pairs


def test_simhash_deterministic_and_sensitive():
    cache: dict = {}
    base = " ".join(f"w{i}" for i in range(400))
    same = _simhash_np(base, cache)
    assert same == _simhash_np(base, {})
    # single-token change -> small Hamming distance; unrelated -> large
    one_off = " ".join(("zz" if i == 7 else f"w{i}") for i in range(400))
    other = " ".join(f"q{i}" for i in range(400))

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(same, _simhash_np(one_off, {})) <= 6
    assert ham(same, _simhash_np(other, {})) > 20


def test_dot_score_equivalence():
    """Reference ±1-vector Dot score == 64 - 2*hamming
    (QdrantRepository.cs:240-247, Vectorize)."""
    a = _simhash_np("alpha beta gamma " * 30, {})
    b = _simhash_np("alpha beta delta " * 30, {})
    bits_a = [(a >> i) & 1 for i in range(64)]
    bits_b = [(b >> i) & 1 for i in range(64)]
    dot = sum((2 * x - 1) * (2 * y - 1) for x, y in zip(bits_a, bits_b))
    hamming = sum(x != y for x, y in zip(bits_a, bits_b))
    assert dot == 64 - 2 * hamming


def test_pigeonhole_pairs(spark):
    """Pairs within Hamming d MUST be found (pigeonhole guarantee, not
    probabilistic): plant token-level mutants and check."""
    base_words = [f"w{i}" for i in range(500)]
    variants = {
        "v1": " ".join(("x0" if i == 3 else w) for i, w in enumerate(base_words)),
        "v2": " ".join(("x1" if i == 200 else w) for i, w in enumerate(base_words)),
        "far": " ".join(f"z{i}" for i in range(500)),
    }
    rows = [("base", " ".join(base_words))] + [(k, v) for k, v in variants.items()]
    df = spark.createDataFrame(rows, "url string, extracted string")
    cfg = DedupConfig(simhash_hamming_d=6, simhash_bands=8)
    got = {(r["url_a"], r["url_b"]): r["score"]
           for r in simhash_pairs(df, cfg).collect()}
    sigs = {
        r["url"]: r["simhash"]
        for r in with_signatures(df, kinds=("simhash",)).collect()
    }

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    for k in ("v1", "v2"):
        d = ham(sigs["base"], sigs[k])
        if d <= 6:
            key = tuple(sorted(["base", k]))
            assert key in got, (k, d, got)
            assert abs(got[key] - (64 - d) / 64) < 1e-9
    assert not any("far" in p for p in got), got


def test_fnv1a_kernel_reference_values():
    """FNV-1a-64 pinned to the published test vectors — the token hash the
    DuckDB oracle replays per byte in HUGEINT space."""
    from europa_spark.simhash import _fnv1a64

    assert _fnv1a64("", {}) == 0xCBF29CE484222325
    assert _fnv1a64("a", {}) == 0xAF63DC4C8601EC8C
    assert _fnv1a64("foobar", {}) == 0x85944171F73967E8


def test_fnv_simhash_banded_pairs_equal_bruteforce(spark, docs_df):
    """The gated FNV-SimHash config: the banded+capped Spark plan must emit
    EXACTLY the brute-force Hamming<=d pair set on the fixture corpus (the
    oracle-equality precondition: pigeonhole bands >= d+1 and no hot
    buckets at this scale)."""
    from europa_spark.extract import split_quarantine, with_extracted

    cfg = DedupConfig(simhash_token_hash="fnv1a")
    clean, _ = split_quarantine(with_extracted(docs_df))
    reps = clean.select("url", "extracted").limit(600)
    sigs = {
        r["url"]: r["simhash"]
        for r in with_signatures(reps, cfg, kinds=("simhash",)).collect()
    }

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    urls = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(urls)
        for b in urls[i + 1 :]
        if ham(sigs[a], sigs[b]) <= cfg.simhash_hamming_d
    }
    got = {
        (r["url_a"], r["url_b"])
        for r in simhash_pairs(reps, cfg).collect()
    }
    assert got == brute
