"""Extra measurement harness for the optimization round (guide §1).

NOT the driver bench — bench.py is frozen. This script:
  * times individual headline queries (noop-isolated where the query returns
    a lazy frame; the checkpointing queries time the materialization as
    bench.py does),
  * captures .explain("formatted") for each query into plans/<tag>/,
  * optionally runs the full pipeline with a ProgressTracker for a
    stage-level breakdown.

Usage:
  python bench_extra.py plans <tag>          # explain dumps for all queries
  python bench_extra.py time  <q1> [q2 ...]  # time queries (reps via env)
  python bench_extra.py stages               # pipeline stage breakdown (sf dir)
  python bench_extra.py stages-corpus        # same on the throughput corpus
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("EUROPA_EXTRA_REPS", "3"))

HEADLINE = [
    "exact_dedup_report",
    "quality_scores",
    "minhash_lsh_pairs",
    "substring_pairs",
    "simhash_pairs",
    "dedup_report",
    "knn_quantized",
]


def _session():
    from europa_spark.session import build_session

    spark = build_session(
        app_name=f"europa-extra-{CPUS}",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(8, CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_plans(tag: str, names: list[str]) -> None:
    import __spark_entry__ as entrymod

    spark = _session()
    qs = entrymod.queries()
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names or HEADLINE:
        df = qs[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {outdir}/{name}.txt")
    spark.stop()


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def cmd_plans_detail(tag: str) -> None:
    """Plans of the INTERNAL frames the checkpointing queries hide (their
    top-level plan is just the checkpoint's Scan ExistingRDD): the
    representatives winner join, each confirmed-pair frame, and the
    pipeline's pairs/components/report frames."""
    from europa_spark.adapters import load_canonical
    from europa_spark.config import CANONICAL
    from europa_spark.exact import (
        exact_clusters,
        exact_membership,
        representatives,
        with_content_hash,
    )
    from europa_spark.extract import split_quarantine, with_extracted
    from europa_spark.minhash import minhash_pairs
    from europa_spark.pipeline import run
    from europa_spark.simhash import simhash_pairs
    from europa_spark.substring import substring_pairs

    spark = _session()
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    docs = load_canonical(spark, SF_DIR)
    clean, _ = split_quarantine(with_extracted(docs))
    hashed = with_content_hash(clean)
    frames = {
        "representatives": representatives(hashed),
        "exact_membership": exact_membership(clean),
        "exact_clusters": exact_clusters(exact_membership(clean)),
    }
    reps = representatives(hashed).select("url", "extracted")
    reg: list = []
    frames["minhash_confirmed"] = minhash_pairs(reps, registry=reg)
    frames["simhash_confirmed"] = simhash_pairs(reps, registry=reg)
    frames["substring_confirmed"] = substring_pairs(reps, registry=reg)
    out = run(docs)
    frames["pipeline_pairs"] = out["pairs"]
    frames["pipeline_components"] = out["components"]
    frames["pipeline_report"] = out["report"]
    frames["pipeline_clusters"] = out["clusters"]
    for name, df in frames.items():
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(_explain(df))
        print(f"wrote {outdir}/{name}.txt")
    out["release"]()
    for f in reg:
        f.unpersist()
    spark.stop()


def cmd_time(names: list[str]) -> None:
    import __spark_entry__ as entrymod

    spark = _session()
    qs = entrymod.queries()
    spreads: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(REPS):
        for name in names:
            spark.sparkContext.setJobDescription(f"extra:{name}")
            t0 = time.time()
            qs[name](spark, SF_DIR).count()
            spreads[name].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({
        "mins": {n: min(v) for n, v in spreads.items()},
        "spreads": spreads,
        "sf_dir": SF_DIR,
        "cpus": CPUS,
    }))
    spark.stop()


def _print_stage_end(ev) -> None:
    if ev.kind == "end":
        print(f"STAGE {ev.stage}: {ev.wall_ms / 1000:.2f}s",
              file=sys.stderr, flush=True)


def cmd_stages(corpus: bool) -> None:
    from europa_spark.pipeline import run
    from europa_spark.adapters import load_canonical
    from europa_spark.progress import ProgressTracker

    spark = _session()
    reps = int(os.environ.get("EUROPA_EXTRA_REPS", "2"))
    for i in range(reps):
        if corpus:
            from bench import ensure_bench_corpus

            docs = spark.read.parquet(
                f"{ensure_bench_corpus()}/documents.parquet"
            )
        else:
            docs = load_canonical(spark, SF_DIR)
        t0 = time.time()
        out = run(docs, tracker=ProgressTracker(on_event=_print_stage_end))
        out["report"].count()
        out["clusters"].count()
        print(f"WALL rep{i}: {time.time()-t0:.2f}s", file=sys.stderr, flush=True)
        out["release"]()
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "plans":
        cmd_plans(sys.argv[2], sys.argv[3:])
    elif cmd == "plans-detail":
        cmd_plans_detail(sys.argv[2])
    elif cmd == "time":
        cmd_time(sys.argv[2:] or HEADLINE)
    elif cmd == "stages":
        cmd_stages(False)
    elif cmd == "stages-corpus":
        cmd_stages(True)
    else:
        raise SystemExit(f"unknown command {cmd}")
