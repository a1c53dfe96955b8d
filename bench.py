"""Bench harness — prints ONE JSON line per the driver contract.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], and additionally measures
dedup throughput (docs/sec) on the deterministic synthetic webtext corpus at
t-bench scale (FIXTURES.md §1), which is the corpus the scaling protocol in
tools/scaling_bench.py uses.

Noise protocol (r3 VERDICT #1): this sandbox is a shared-host VM where
identical runs have measured 39.8 s vs 83.6 s — sibling interference only
ever ADDS time, so each headline query runs EUROPA_BENCH_REPS times (default
3) and the recorded number is the per-query MIN, exactly the estimator
tools/scaling_bench.py already uses. The full-pipeline throughput pass runs
twice (release() between passes) and records the best wall. Per-query
spreads are emitted alongside so a genuinely quiet host is distinguishable
from a lucky one. Repeat runs re-execute the full plan: every gated pair
query runs inside one europa_spark.scope.Scope (its persists and checkpoints
are released before the query returns), so
there is no cross-repetition cache reuse beyond JVM/JIT warmth — which both
the first and last repetition share with the scaling protocol's discarded
warmup pair.

Output: {"metric": ..., "value": <total headline sec, best-of>, "unit":
         "sec", "queries": {name: sec}, "query_spreads": {name: [..]},
         "sf": ..., "throughput_docs_per_sec": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_ROWS = int(os.environ.get("EUROPA_BENCH_ROWS", "200000"))
BENCH_DIR = os.environ.get("EUROPA_BENCH_DIR", "/tmp/europa_bench_corpus")
BENCH_REPS = int(os.environ.get("EUROPA_BENCH_REPS", "3"))
THROUGHPUT_REPS = int(os.environ.get("EUROPA_THROUGHPUT_REPS", "2"))


def ensure_bench_corpus() -> str:
    """Deterministic t-bench corpus, generated once and reused (seed 42)."""
    out = os.path.join(BENCH_DIR, f"rows{BENCH_ROWS}")
    marker = os.path.join(out, "_DONE")
    if not os.path.exists(marker):
        from europa_spark.fixtures import generate, write_corpus

        corpus = generate(BENCH_ROWS, seed=42, truth=False)
        write_corpus(corpus, out)
        with open(marker, "w") as f:
            f.write("ok")
    return out


def run_bench(cpus: int, sf_dir: str, include_throughput: bool = True) -> dict:
    import __spark_entry__ as entrymod
    from europa_spark.pipeline import run as run_pipeline
    from europa_spark.session import build_session

    spark = build_session(
        app_name=f"europa-bench-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    headline = [
        "exact_dedup_report",
        "quality_scores",
        "minhash_lsh_pairs",
        "substring_pairs",
        "simhash_pairs",
        "dedup_report",
        "knn_quantized",
    ]
    qs = entrymod.queries()
    spreads: dict[str, list[float]] = {n: [] for n in headline}
    # interleave repetitions across queries (all of rep 1, then rep 2, ...):
    # host interference is time-correlated, so a bad window degrades one
    # repetition of every query instead of every repetition of one query
    for _ in range(BENCH_REPS):
        for name in headline:
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            spreads[name].append(round(time.time() - t0, 3))
    timings = {name: min(vals) for name, vals in spreads.items()}

    result = {
        "metric": "dedup_headline_queries",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "query_spreads": spreads,
        "reps": BENCH_REPS,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": cpus,
    }

    if include_throughput:
        corpus_dir = ensure_bench_corpus()
        docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
        n_docs = docs.count()
        walls = []
        for _ in range(THROUGHPUT_REPS):
            t0 = time.time()
            out = run_pipeline(docs)
            # materialize the full pipeline: report rows + cluster count
            out["report"].count()
            out["clusters"].count()
            walls.append(time.time() - t0)
            out["release"]()  # drop this pass's caches before the next
        wall = min(walls)
        result["throughput_docs_per_sec"] = round(n_docs / wall, 1)
        result["throughput_corpus_rows"] = n_docs
        result["throughput_wall_sec"] = round(wall, 2)
        result["throughput_walls_sec"] = [round(w, 2) for w in walls]

    spark.stop()
    return result


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    print(json.dumps(run_bench(cpus, sf_dir)))


if __name__ == "__main__":
    main()
