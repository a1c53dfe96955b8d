"""Seeded input corpora for the benchmark workloads.

Every corpus is a pure function of its arguments, so the same seed always
yields the same parquet. Corpora are cached per seed under the benchmark's
work directory; generation time is reported as ``setup.corpus_gen_s`` and
kept out of ``setup_s``.

The base corpus is ``fixtures.generate(n, seed)``: planted blocks A-F whose
block and key are readable from the url path ``/<block>/<key>`` (see
``checks.py``). Hot cliques are planted the way ``tools/skew_bench.py``
builds ``neardup_skew``: one boilerplate text per clique plus a unique
per-url token, under block ``h`` (``/h/h<clique>m<member>``).
"""

from __future__ import annotations

import json
import os

import numpy as np

CLIQUE_WORDS = 200
# appending one token changes exactly one of the 196 5-shingles of a
# 200-word text, so an 8-row LSH band keeps its hash with probability
# (196/197)**8: that share of a clique lands in one shared bucket per band
BAND_KEEP = (1 - 1 / (CLIQUE_WORDS - 3)) ** 8


def expected_bucket(size: int) -> float:
    return size * BAND_KEEP


def clique_rows(seed: int, sizes: tuple[int, ...], t0: int) -> list[dict]:
    import pandas as pd

    from europa_spark.fixtures import EPOCH, TS_STEP_S

    rng = np.random.default_rng([seed, 2])
    rows: list[dict] = []
    for c, size in enumerate(sizes):
        words = rng.permutation(100_000)[:CLIQUE_WORDS]
        boiler = " ".join(f"hw{c}x{int(w)}" for w in words)
        for m in range(size):
            rows.append({
                "url": f"https://site{m % 997:04d}.example/h/h{c:02d}m{m:06d}",
                "warc_ts": EPOCH + pd.Timedelta(seconds=(t0 + len(rows)) * TS_STEP_S),
                "html": None,
                "text": f"{boiler} tok{seed}q{c}q{m}",
                "lang": "en",
            })
    return rows


def corpus(seed: int, n_docs: int, out_dir: str,
           cliques: tuple[int, ...] = ()) -> dict:
    """Write ``fixtures.generate(n_docs, seed)`` plus the given cliques,
    shuffled, to ``out_dir/documents.parquet``; return its metadata."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    import pandas as pd

    from europa_spark.fixtures import Corpus, generate, write_corpus

    docs = generate(n_docs, seed=seed, truth=False).documents
    if cliques:
        hot = pd.DataFrame(clique_rows(seed, cliques, len(docs)))
        docs = pd.concat([docs, hot], ignore_index=True)
        order = np.random.default_rng([seed, 3]).permutation(len(docs))
        docs = docs.iloc[order].reset_index(drop=True)
    write_corpus(Corpus(documents=docs), out_dir)
    meta = {"docs": int(len(docs)), "base_docs": n_docs,
            "cliques": list(cliques),
            "expected_buckets": [round(expected_bucket(s), 1) for s in cliques]}
    with open(done, "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta
