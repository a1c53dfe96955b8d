"""Standalone N-vs-4N-process scaling of the hot Python kernels.

The end-to-end ladder (tools/scaling_bench.py) attributes the aggregate
efficiency to stages; this tool isolates the KERNELS those stages run from
everything Spark adds (shuffle, Arrow transfer, scheduling), answering the
one question the stage table cannot: is the pair-verify kernel itself
memory-bandwidth-limited (scales like the numpy streaming ceiling, ~1.6x at
4x procs on this host) or CPU-limited (scales ~3-4x)?

Kernels measured (the exact functions the pandas UDFs call):
  * dual_signature — _batch_shingle_hashes + _minhash_of + _batch_winnow
    (the `signatures_dual` stage)
  * pair_verify    — _batch_pair_jaccard (the Python side of the
    `pairs` stage's verify map)
  * simhash        — _batch_simhash (the `pairs_simhash` signature kernel)
  * numpy_stream   — big-array copy, the DRAM bandwidth ceiling row

Protocol mirrors scaling_bench.py: identical deterministic input at both
levels, interleaved (N, 4N, N, 4N) so shared-host noise hits both alike,
best-of walls. N is a quarter of this host's CPUs (at least 1). Workers
are warmed (one tiny batch each) before timing.
The pool uses fork + copy-on-write globals and index-range tasks so the
parent process ships no data (a spawn pool funnels every task's text
through the parent's single-threaded pickle pipe and measures the parent,
not the kernel — Spark feeds workers per-task Arrow batches in parallel).

Appends a kernel_scaling_nv4n record to BENCH/runs.jsonl and prints it.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_N = max(1, len(os.sched_getaffinity(0)) // 4)
LEVELS = (_N, 4 * _N)  # N and 4N processes: (8, 32) on a 32-CPU host
RUNS = int(os.environ.get("EUROPA_KERNEL_RUNS", "2"))
N_DOCS = int(os.environ.get("EUROPA_KERNEL_DOCS", "100000"))
CHUNK = 2000  # rows per task ~ an Arrow batch; same granularity Spark uses


def _texts() -> list[str]:
    """Deterministic extracted texts — the same distribution the pipeline
    kernels see (fixtures corpus -> the byte-exact Python extract mirror)."""
    from europa_spark.extract import extract_text_py
    from europa_spark.fixtures import generate

    corpus = generate(N_DOCS, seed=11, truth=False)
    docs = corpus.documents
    return [
        extract_text_py(t, h)
        for t, h in zip(docs["text"], docs["html"])
    ]


# ---- worker-side globals (fork pool: inherited copy-on-write from the
# parent, so tasks carry only index ranges — a spawn pool shipping the text
# through the parent's pickle pipe measured the PARENT as the bottleneck,
# which is not how Spark feeds workers: Arrow batches arrive per-task, in
# parallel, from the JVM) ----
_TEXTS: list[str] = []
_PAIR_A: list[int] = []
_PAIR_B: list[int] = []


def _task_dual(rng: tuple[int, int]):
    from europa_spark.config import CANONICAL
    from europa_spark.minhash import _batch_shingle_hashes, _minhash_of, _perm_params
    from europa_spark.substring import _batch_winnow

    texts = _TEXTS[rng[0] : rng[1]]
    cfg = CANONICAL
    a, b = _perm_params(cfg)
    arrs = _batch_shingle_hashes(texts, cfg.shingle_k)
    mins = _minhash_of(arrs, a, b, cfg.num_perm)
    fps = _batch_winnow(texts, cfg.winnow_kgram, cfg.winnow_window)
    return len(mins) + len(fps)


def _task_pairs(rng: tuple[int, int]):
    from europa_spark.config import CANONICAL
    from europa_spark.minhash import _batch_pair_jaccard

    text_a = [_TEXTS[i] for i in _PAIR_A[rng[0] : rng[1]]]
    text_b = [_TEXTS[i] for i in _PAIR_B[rng[0] : rng[1]]]
    return float(_batch_pair_jaccard(text_a, text_b, CANONICAL.shingle_k).sum())


def _task_simhash(rng: tuple[int, int]):
    from europa_spark.simhash import _batch_simhash

    return int(_batch_simhash(_TEXTS[rng[0] : rng[1]]).size)


_STREAM_BUFS: list = []


def _task_stream(_):
    # 256 MB copy per task: far beyond LLC, pure DRAM read+write traffic.
    # Buffers are allocated once per worker and reused so the measurement is
    # streaming bandwidth, not first-touch page faults.
    if not _STREAM_BUFS:
        n = 32 * 1024 * 1024
        _STREAM_BUFS.append(np.ones(n, dtype=np.float64))
        _STREAM_BUFS.append(np.empty(n, dtype=np.float64))
    src, dst = _STREAM_BUFS
    np.copyto(dst, src)
    return float(dst[0])


def _ranges(n: int, size: int):
    return [(i, min(i + size, n)) for i in range(0, n, size)]


def _run_level(pool_size: int, fn, tasks, warm) -> float:
    # fork: workers inherit _TEXTS/_PAIR_* copy-on-write; tasks are ranges
    with mp.get_context("fork").Pool(pool_size) as pool:
        # warm every worker: imports + stream buffers + COW faults off clock
        pool.map(fn, [warm] * pool_size, chunksize=1)
        t0 = time.time()
        pool.map(fn, tasks, chunksize=1)
        return time.time() - t0


def main() -> None:
    global _TEXTS, _PAIR_A, _PAIR_B
    _TEXTS = _texts()
    n = len(_TEXTS)
    print(f"corpus: {n} extracted texts", flush=True)

    # pair workload with the real star shape: anchors repeat across pairs
    for i in range(0, n - 4, 5):
        for j in range(1, 4):  # 3 pairs per anchor ~ star edges
            _PAIR_A.append(i)
            _PAIR_B.append(i + j)

    workloads = {
        "dual_signature": (_task_dual, _ranges(n, CHUNK), (0, 8)),
        "pair_verify": (_task_pairs, _ranges(len(_PAIR_A), CHUNK), (0, 8)),
        "simhash": (_task_simhash, _ranges(n, CHUNK), (0, 8)),
        "numpy_stream": (_task_stream, list(range(96)), 0),
    }

    walls: dict[str, dict[int, list[float]]] = {
        k: {c: [] for c in LEVELS} for k in workloads
    }
    for rep in range(RUNS):
        for cpus in LEVELS:  # interleaved: noise hits both levels alike
            for name, (fn, tasks, warm) in workloads.items():
                w = _run_level(cpus, fn, tasks, warm)
                walls[name][cpus].append(w)
                print(f"  rep{rep} {name} x{cpus}: {w:.2f}s", flush=True)

    table = {}
    for name in workloads:
        b_n = min(walls[name][LEVELS[0]])
        b_4n = min(walls[name][LEVELS[1]])
        table[name] = {
            "best_n": round(b_n, 2),
            "best_4n": round(b_4n, 2),
            "speedup_4x": round(b_n / b_4n, 2),
            "efficiency": round((b_n / b_4n) / 4, 3),
        }
    record = {
        "metric": "kernel_scaling_nv4n",
        "levels": list(LEVELS),
        "value": table["pair_verify"]["efficiency"],
        "unit": "ratio",
        "kernels": table,
        "docs": n,
        "pairs": len(_PAIR_A),
        "protocol": (
            f"{RUNS} interleaved multiprocessing runs per level, chunk={CHUNK},"
            " fork pool with COW-inherited corpus + index-range tasks,"
            " warmed workers, best-of walls; no Spark involved"
        ),
    }
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH", "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record), flush=True)


if __name__ == "__main__":
    main()
