"""Per-layer measurement for the traced run, taken from outside the library.

* ``Tracer``: benchmark-side spans (name, start, end, parent, op id) around
  each public call, kept in memory and written out once at the end.
* ``stage_metrics``: per ``europa:<stage>`` job/CPU/GC/shuffle/spill sums
  for one operation, read from Spark's own event log through
  ``tools/stage_bytes.parse_eventlog`` on a copy of the log cut down to the
  operation's jobs.
* ``kernel_metrics``: the functions the signature and verify pandas UDFs
  call (the set ``tools/kernel_scaling.py`` names), timed in this process.
* ``band_metrics``: ``minhash.band_table`` / ``candidate_pairs`` /
  ``verify_pairs`` and ``substring`` counts on the workload's
  representatives.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

STAGES = (
    "extract_clean", "membership", "pairs_exact", "signatures_dual",
    "pairs_minhash", "pairs_substring", "pairs", "components", "clusters",
)
STAGE_FIELDS = {
    "wall_s": "s", "jobs": "count", "task_cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB",
}
KERNEL_MIN_S = 0.5      # each kernel is repeated until this much time passed


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = "setup"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "op": self.op_id, "start": time.time(),
               "end": None,
               "parent": self.spans[self._stack[-1]]["name"] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def newest_eventlog(log_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")]
    return max(logs, key=os.path.getmtime)


def _cut_eventlog(path: str, t0: float, t1: float, out_path: str) -> dict:
    """Copy the job-start and task-end events of jobs submitted in
    [t0, t1] (unix seconds) to ``out_path``; return {job id: (description,
    submit s, end s)}."""
    jobs: dict[int, list] = {}
    stages: set[int] = set()
    with open(path) as f, open(out_path, "w") as g:
        for line in f:
            if '"Event":"SparkListener' not in line[:40]:
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                t = ev["Submission Time"] / 1e3
                if t0 <= t <= t1:
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or "untagged"
                    jobs[ev["Job ID"]] = [desc, t, t]
                    stages.update(ev.get("Stage IDs", []))
                    g.write(line)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][2] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
                g.write(line)
    return jobs


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def stage_metrics(log_path: str, t0: float, t1: float, walls_ms: dict,
                  cut_path: str) -> dict[str, float]:
    from tools.stage_bytes import parse_eventlog

    jobs = _cut_eventlog(log_path, t0, t1, cut_path)
    agg = parse_eventlog(cut_path)
    out: dict[str, float] = {}
    for s in STAGES:
        row = agg.get(f"europa:{s}", {})
        out[f"stage.{s}.wall_s"] = walls_ms.get(s, 0) / 1e3
        out[f"stage.{s}.jobs"] = sum(1 for j in jobs.values() if j[0] == f"europa:{s}")
        out[f"stage.{s}.task_cpu_s"] = row.get("cpu_s", 0.0)
        out[f"stage.{s}.gc_s"] = row.get("gc_s", 0.0)
        out[f"stage.{s}.shuffle_write_mb"] = row.get("shuffle_write_mb", 0.0)
        out[f"stage.{s}.spill_mb"] = row.get("spill_mb", 0.0)
    out["op.jobs"] = len(jobs)
    out["op.tasks"] = sum(int(r["tasks"]) for r in agg.values())
    out["op.driver_gap_s"] = (t1 - t0) - _covered([(a, b) for _, a, b in jobs.values()])
    out["cluster.rounds"] = out["stage.components.jobs"]
    return out


def _rate(fn, n_items: int) -> float:
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        el = time.perf_counter() - t0
        if el >= KERNEL_MIN_S:
            return n_items * reps / el


def kernel_metrics(texts: list[str], cfg) -> dict:
    """Docs (or pairs) per second of each kernel over this workload's
    extracted texts; pairs use ``tools/kernel_scaling.py``'s star shape
    (every 5th text paired with its next three)."""
    from europa_spark.minhash import (
        _batch_pair_jaccard,
        _batch_shingle_hashes,
        _minhash_of,
        _perm_params,
    )
    from europa_spark.simhash import _TOKEN_HASHES, _batch_simhash
    from europa_spark.substring import _batch_winnow

    k, kw, w = cfg.shingle_k, cfg.winnow_kgram, cfg.winnow_window
    a, b = _perm_params(cfg)

    def dual():
        _minhash_of(_batch_shingle_hashes(texts, k), a, b, cfg.num_perm)
        _batch_winnow(texts, kw, w)

    anchors = range(0, len(texts) - 4, 5)
    ta = [texts[i] for i in anchors for _ in range(3)]
    tb = [texts[i + j] for i in anchors for j in range(1, 4)]
    token_hash = _TOKEN_HASHES[cfg.simhash_token_hash]
    return {
        "kernel.dual_signature.docs_per_s": _rate(dual, len(texts)),
        "kernel.winnow.docs_per_s": _rate(lambda: _batch_winnow(texts, kw, w), len(texts)),
        "kernel.pair_jaccard.pairs_per_s": _rate(
            lambda: _batch_pair_jaccard(ta, tb, k), len(ta)),
        "kernel.simhash.docs_per_s": _rate(
            lambda: _batch_simhash(texts, token_hash), len(texts)),
    }


def band_metrics(docs, cfg, tracer: Tracer) -> dict:
    """Counts from the minhash and substring layers on this corpus."""
    from pyspark.sql import functions as F

    from europa_spark.exact import representatives, with_content_hash
    from europa_spark.extract import split_quarantine, with_extracted
    from europa_spark.minhash import (
        band_table,
        candidate_pairs,
        verify_pairs,
        with_signatures,
    )
    from europa_spark.substring import substring_pairs, with_fingerprints

    reg: list = []
    try:
        clean, _ = split_quarantine(with_extracted(docs))
        reps = representatives(with_content_hash(clean, cfg), cfg).select(
            "url", "extracted").persist()
        reg.append(reps)
        sigs = with_signatures(reps, cfg, include_shingles=False).persist()
        reg.append(sigs)
        with tracer.span("minhash.band_table"):
            bands = band_table(sigs, cfg)
            sizes = bands.groupBy("band_idx", "band_hash").count()
            st = sizes.agg(
                F.max("count").alias("mx"),
                F.sum((F.col("count") > cfg.bucket_cap).cast("int")).alias("hot"),
                F.sum((F.col("count") > cfg.star_only_cap).cast("int")).alias("mega"),
            ).first()
        with tracer.span("minhash.candidate_pairs"):
            cands = candidate_pairs(bands, cfg, registry=reg).persist()
            reg.append(cands)
            n_cand = cands.count()
        with tracer.span("minhash.verify_pairs"):
            n_conf = verify_pairs(cands, reps, cfg, registry=reg).count()
        with tracer.span("substring.with_fingerprints"):
            n_fp = with_fingerprints(reps, cfg).select(
                F.sum(F.size("fps"))).first()[0]
        with tracer.span("substring.substring_pairs"):
            n_sub = substring_pairs(reps, cfg, registry=reg).count()
    finally:
        for f in reg:
            f.unpersist()
    return {
        "minhash.candidates": n_cand,
        "minhash.confirmed": n_conf,
        "minhash.verify_yield": n_conf / n_cand if n_cand else 0.0,
        "minhash.max_bucket": int(st["mx"]),
        "minhash.hot_buckets": int(st["hot"] or 0),
        "minhash.mega_buckets": int(st["mega"] or 0),
        "substring.fingerprints": int(n_fp or 0),
        "substring.confirmed": n_sub,
    }


PER_LAYER_UNITS = {
    "setup.session_s": "s", "setup.corpus_gen_s": "s",
    "trace.wall_s": "s", "op.jobs": "count", "op.tasks": "count",
    "op.driver_gap_s": "s",
    **{f"stage.{s}.{k}": u for s in STAGES for k, u in STAGE_FIELDS.items()},
    "kernel.dual_signature.docs_per_s": "docs/s",
    "kernel.winnow.docs_per_s": "docs/s",
    "kernel.pair_jaccard.pairs_per_s": "pairs/s",
    "kernel.simhash.docs_per_s": "docs/s",
    "minhash.candidates": "count", "minhash.confirmed": "count",
    "minhash.verify_yield": "ratio", "minhash.max_bucket": "count",
    "minhash.hot_buckets": "count", "minhash.mega_buckets": "count",
    "substring.fingerprints": "count", "substring.confirmed": "count",
    "cluster.edges": "count", "cluster.rounds": "count",
    "cluster.largest_component": "count", "release.leaked_rdds": "count",
}
