"""Process-boundary check: the sf-pipeline under ``local-cluster`` mode.

Everything else in this repo runs in ONE JVM (local[N]), where closure
serialization, --py-files shipping, and broadcast transport are structurally
untested — a worker-side import or an unserializable closure capture only
fails when tasks cross a real process boundary (r4 VERDICT next-round #5).
``local-cluster[2,4,4096]`` launches two REAL executor processes (4 cores /
4 GiB each): every task ships over RPC, every pandas-UDF worker is spawned
by an executor that never saw the driver's sys.path, and every broadcast
travels the block-transfer service.

The check: build dist/europa_spark.zip (tools/build_pyfiles.py), ship it
via addPyFile, run the FULL dedup pipeline + the LSH pair query on a
planted-truth fixture corpus (seed 11 — different from the pytest seed),
and assert cluster assignments and pair recall against the planted truth.
It also waits for both executors to register (failing after
EXECUTOR_WAIT_S if fewer do) and asserts that ``out["release"]()`` leaves
no persisted RDD of either pipeline run behind, across the real executor
processes. Prints one JSON line; exits nonzero on any mismatch.

Usage: python tools/local_cluster_check.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_EXECUTORS = 2  # the first field of the local-cluster master below
EXECUTOR_WAIT_S = 120


def wait_for_executors(sc, n: int, timeout: float) -> int:
    """Registered executors (the driver's own entry excluded), polled
    until ``n`` have registered or ``timeout`` seconds pass: executors
    register asynchronously after the session starts."""
    deadline = time.time() + timeout
    while True:
        seen = sc._jsc.sc().getExecutorMemoryStatus().size() - 1
        if seen >= n or time.time() >= deadline:
            return seen
        time.sleep(0.5)


def persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def main() -> None:
    # fresh py-files zip from HEAD (a stale zip silently tests old code —
    # the r3 ADVICE dist-zip lesson)
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "build_pyfiles.py")],
        check=True, stdout=sys.stderr,  # stdout holds only the JSON line
    )
    zip_path = os.path.join(REPO, "dist", "europa_spark.zip")

    from europa_spark.fixtures import generate, write_corpus
    from europa_spark.session import build_session

    corpus = generate(800, seed=11, truth=True)
    workdir = tempfile.mkdtemp(prefix="europa_lc_")
    try:
        write_corpus(corpus, workdir)
        spark = build_session(
            app_name="europa-local-cluster-check",
            master=f"local-cluster[{N_EXECUTORS},4,4096]",
            shuffle_partitions=8,
            # executors are separate JVMs here: keep the DRIVER small and
            # give executors the local-cluster arg's 4096 MiB each. No
            # console progress bar: stdout is the one JSON line
            extra_conf={
                "spark.driver.memory": "4g",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        # ship the package to the executors' Python workers; the driver
        # imports from the repo checkout, workers from the zip
        spark.sparkContext.addPyFile(zip_path)

        from pyspark.sql import functions as F  # noqa: F401

        from europa_spark.exact import representatives, with_content_hash
        from europa_spark.extract import split_quarantine, with_extracted
        from europa_spark.minhash import minhash_pairs
        from europa_spark.pipeline import run

        n_exec = wait_for_executors(
            spark.sparkContext, N_EXECUTORS, EXECUTOR_WAIT_S
        )
        if n_exec < N_EXECUTORS:
            print(
                f"only {n_exec} of {N_EXECUTORS} executors registered in "
                f"{EXECUTOR_WAIT_S} s", file=sys.stderr,
            )
            sys.exit(1)
        docs = spark.read.parquet(f"{workdir}/documents.parquet")

        t0 = time.time()
        before = persistent_rdds(spark)
        out = run(docs)
        got_clusters = {
            r["url"]: r["cluster_id"] for r in out["report"].collect()
        }
        out["release"]()
        leaked = persistent_rdds(spark) - before
        exp = dict(
            zip(
                corpus.expected_clusters["url"],
                corpus.expected_clusters["cluster_id"],
            )
        )
        cluster_mismatches = sorted(
            u for u, c in exp.items() if got_clusters.get(u, u) != c
        )

        clean, _ = split_quarantine(with_extracted(docs))
        reps = representatives(with_content_hash(clean)).select(
            "url", "extracted"
        )
        pairs = {
            (r["url_a"], r["url_b"]) for r in minhash_pairs(reps).collect()
        }
        planted = {
            (a, b)
            for a, b, m, _ in corpus.expected_pairs.itertuples(index=False)
            if m == "minhash"
        }
        recall = 1 - len(planted - pairs) / max(len(planted), 1)

        # the driver-gate surface too: sf0.01 pipeline + clusters across the
        # same process boundary (the corpus every CORRECTNESS gate runs on)
        from europa_spark.adapters import load_canonical

        sf_docs = load_canonical(spark, "/root/testdata/sf0.01")
        before = persistent_rdds(spark)
        sf_out = run(sf_docs)
        sf_report_rows = sf_out["report"].count()
        sf_dup_rows = sf_out["report"].filter("is_duplicate").count()
        sf_out["release"]()
        leaked |= persistent_rdds(spark) - before
        wall = time.time() - t0
        spark.stop()

        result = {
            "metric": "local_cluster_check",
            "master": f"local-cluster[{N_EXECUTORS},4,4096]",
            "executors_seen": n_exec,  # registered executors, driver excluded
            "rows": 800,
            "cluster_mismatches": len(cluster_mismatches),
            "expected_clustered": len(exp),
            "minhash_recall": round(recall, 4),
            "pairs": len(pairs),
            "sf001_report_rows": sf_report_rows,
            "sf001_duplicate_rows": sf_dup_rows,
            "leaked_rdds": len(leaked),
            "wall_sec": round(wall, 1),
            "ok": (
                not cluster_mismatches
                and recall >= 0.99
                and sf_report_rows > 0
                and sf_dup_rows > 0
                and not leaked
            ),
        }
        print(json.dumps(result))
        if not result["ok"]:
            print("MISMATCHES:", cluster_mismatches[:10],
                  "LEAKED RDDS:", sorted(leaked), file=sys.stderr)
            sys.exit(1)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
