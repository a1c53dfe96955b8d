"""End-to-end benchmark of the europa_spark dedup pipeline.

    python3 perfbench/run.py --workload pipeline_uniform --seed 1 \
        --seconds 1 --trace 0

Workloads (closed loop, one client: each ``pipeline.run`` starts when the
previous one has finished):

* ``pipeline_uniform``: ``pipeline.run`` with default methods and config on
  a seeded ``fixtures.generate`` corpus, materializing ``report`` and
  ``clusters``. No LSH bucket exceeds ``bucket_cap``.
* ``pipeline_hotkey``: the same corpus plus planted near-dup cliques sized
  against the run's ``bucket_cap`` / ``star_only_cap`` so that both
  hot-bucket routes (salted sub-buckets and star-only) engage.

One run: build the session and load the input ``SETUP_REPS`` times (the
first launches the JVM; ``setup_s`` is the median of the others), then time
operations for ``--seconds`` (at least one; the first runs cold in the
fresh JVM). Output checks, the leak check and the layer measurements happen
outside the timed region. ``--trace 1`` makes a separate traced pass: Spark
event log on, a ``ProgressTracker`` passed to ``run``, spans around each
public call, and per-layer metrics instead of end-to-end ones.

The last stdout line is the result JSON: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value, unit). The exit code is 0 only
when every operation passed its checks. All scratch (corpora, Spark local
dirs, event logs, spans) stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

BASE_DOCS = 500
SETUP_REPS = 6         # one cold build (JVM launch) + five warm ones
DEADLINE_S = 170        # hard stop: a run must end within 180 s
# persisted RDDs one pipeline.run leaves after release() on the current
# tree (a localCheckpoint block, ROADMAP item 3); more than this fails
KNOWN_LEAK = 1
# Each run is one short-lived JVM. With the default tiered JIT, C2
# compilation took about half the CPU of the cold pipeline.run on 500
# docs (88 s of process-tree CPU with it, 45 s with C1 only), which made
# the timings follow the host's CPU contention. C1 code is slower in long
# JVM loops, but none runs long at this size: the run got faster overall.
JVM_OPTS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1"

WORKLOADS = ("pipeline_uniform", "pipeline_hotkey")


def hot_config():
    """Hot-bucket caps scaled down 80x from the defaults (2000 / 20000):
    the default star-only regime needs a >20k-member clique, one
    ``pipeline.run`` of which takes minutes on a 4-core host. Same routing
    code, same ``salt_sub_cap``."""
    from europa_spark.config import DedupConfig

    return DedupConfig(bucket_cap=25, star_only_cap=250)


def hot_cliques(cfg) -> tuple[int, ...]:
    """One clique whose shared bucket exceeds ``star_only_cap`` by 10% and
    three whose buckets sit between the caps and above ``salt_sub_cap``
    (so each splits into at least two salts); sizes are checked here so a
    cap change cannot silently move a clique to another route."""
    from inputs import BAND_KEEP, expected_bucket

    lo = max(cfg.bucket_cap, cfg.salt_sub_cap)
    mega = math.ceil(1.1 * cfg.star_only_cap / BAND_KEEP)
    mids = tuple(math.ceil(f * lo / BAND_KEEP) for f in (1.1, 1.35, 1.6))
    assert expected_bucket(mega) > cfg.star_only_cap
    assert all(lo < expected_bucket(s) <= cfg.star_only_cap for s in mids)
    return (mega, *mids)


def host_env() -> dict[str, str]:
    """Session sizing for this host, applied through the library's own
    environment knobs: driver heap = a quarter of RAM (at most 4 GB), Spark
    scratch and JVM/Python temp files under the work dir."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    env = {
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, mem_kb // 4096)}m",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # no hsperfdata files in the system temp dir from the launcher JVM
        "SPARK_LAUNCHER_OPTS": JVM_OPTS,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    for d in (env["SPARK_GRAFT_LOCAL_DIR"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


class ProcTree(threading.Thread):
    """This process and all its descendants (the JVM and its Python
    workers), read from /proc: peak resident memory, sampled in the
    background, and CPU seconds on demand."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_ev = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _pids() -> list[int]:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                kids.setdefault(ppid, []).append(int(name))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, ()))
        return out

    def rss(self) -> int:
        total = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def cpu_s(self) -> float:
        """User + system CPU of the tree, including reaped children (a
        worker that exits is counted in its parent's cutime/cstime)."""
        ticks = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
            except (OSError, IndexError, ValueError):
                pass
        return ticks / self._tick

    def run(self) -> None:
        while not self._stop_ev.wait(self.interval):
            self.peak = max(self.peak, self.rss())

    def stop(self) -> float:
        self._stop_ev.set()
        self.join()
        return self.peak / 2**20


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host since boot: the share of
    steal over an interval is the CPU the hypervisor withheld from this
    machine, which slows every timing here."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


def persistent_rdds(spark) -> set[int]:
    """Ids of the persisted RDDs alive after a garbage collection on both
    sides of py4j (Spark's ContextCleaner unpersists unreachable ones)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.3)
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed_ops = 0
        self.leaked = 0
        self.phases: dict[str, float] = {}
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        from layers import Tracer

        self.tracer = Tracer(self.trace)
        self.eventlog_dir = os.path.join(
            WORK, "trace", f"eventlog-{args.workload}-s{args.seed}-{os.getpid()}")

    # -- inputs ---------------------------------------------------------
    def inputs(self) -> None:
        from europa_spark.config import CANONICAL
        from inputs import corpus

        hot = self.args.workload == "pipeline_hotkey"
        self.cfg = hot_config() if hot else CANONICAL
        cliques = hot_cliques(self.cfg) if hot else ()
        base = os.path.join(WORK, "inputs", f"s{self.args.seed}")
        t0 = time.perf_counter()
        self.meta = corpus(self.args.seed, BASE_DOCS,
                           f"{base}-n{BASE_DOCS}-c{'-'.join(map(str, cliques))}",
                           cliques)
        self.meta["dir"] = f"{base}-n{BASE_DOCS}-c{'-'.join(map(str, cliques))}"
        self.layer["setup.corpus_gen_s"] = time.perf_counter() - t0
        self.urls = urls_of(self.meta["dir"])

    # -- session --------------------------------------------------------
    def session(self):
        from europa_spark.session import build_session

        cpus = len(os.sched_getaffinity(0))
        conf = {
            "spark.driver.extraJavaOptions":
                f"{JVM_OPTS} -Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.eventlog_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        # bench.py's sizing: local[cpus], max(8, cpus) shuffle partitions
        spark = build_session(app_name=f"perfbench-{self.args.workload}",
                              master=f"local[{cpus}]",
                              shuffle_partitions=max(8, cpus), extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self):
        walls = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            with self.tracer.span("session.build_session"):
                spark = self.session()
            with self.tracer.span("input.load"):
                docs = spark.read.parquet(f"{self.meta['dir']}/documents.parquet")
                self.n_docs = docs.count()
            walls.append(time.perf_counter() - t0)
            if i < SETUP_REPS - 1:
                spark.stop()
        self.layer["setup.session_s"] = walls[0]
        self.setup_s = statistics.median(walls[1:])
        self.setup_walls = walls
        keys = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                "spark.local.dir", "spark.eventLog.enabled",
                "spark.sql.adaptive.enabled", "spark.driver.extraJavaOptions")
        self.conf = {k: spark.conf.get(k, None) for k in keys}
        return spark, docs

    # -- one operation ----------------------------------------------------
    def operation(self, spark, docs, urls, tracker=None) -> tuple[float, dict]:
        """Time one pipeline run to materialized report + clusters; check
        its outputs and the release afterwards (both untimed). ``info``
        carries the run's unix start time for cutting the event log."""
        from europa_spark.pipeline import run

        from checks import check_pipeline

        self.attempted += 1
        info: dict = {}
        try:
            before = persistent_rdds(spark)
            h0, c0, t0 = host_ticks(), self.proc.cpu_s(), time.perf_counter()
            info["t0_unix"] = time.time()
            with self.tracer.span("pipeline.run"):
                out = run(docs, cfg=self.cfg, tracker=tracker)
                with self.tracer.span("report.count"):
                    out["report"].count()
                with self.tracer.span("clusters.count"):
                    out["clusters"].count()
            wall = time.perf_counter() - t0
            info["cpu_s"] = self.proc.cpu_s() - c0
            h1 = host_ticks()
            info["steal"] = (h1[0] - h0[0]) / max(1, h1[1] - h0[1])
            report = out["report"].toPandas()
            clusters = out["clusters"].select("cluster_id", "n_members").toPandas()
            if self.trace:
                info["edges"] = out["pairs"].count()
            info["largest"] = int(clusters["n_members"].max()) if len(clusters) else 0
            with self.tracer.span("release"):
                out["release"]()
            del out
            fails = check_pipeline(urls, report, clusters)
            # every pipeline.run leaks one localCheckpoint block past
            # release() (see LAYERS.md); only a leak beyond it fails
            leaked = len(persistent_rdds(spark) - before)
            self.leaked += leaked
            if leaked > KNOWN_LEAK:
                fails.append(f"{leaked} persisted RDDs left after release()")
        except Exception as e:  # noqa: BLE001 — a raising run is a failed op
            wall, fails = float("nan"), [f"{type(e).__name__}: {e}"]
        if fails:
            self.failed_ops += 1
            self.failures.append(f"op {self.attempted}: " + "; ".join(fails))
        return wall, info

    # -- whole run --------------------------------------------------------
    def main(self) -> dict[str, float]:
        from europa_spark.progress import ProgressTracker

        self.inputs()
        self.mark("inputs")
        self.proc = ProcTree()
        self.proc.start()
        spark, docs = self.setup()
        self.mark("setup")
        try:
            walls, cpus, steals = [], [], []
            t_begin = time.perf_counter()
            while True:
                self.tracer.op_id = f"op{self.attempted}"
                tracker = ProgressTracker() if self.trace else None
                wall, info = self.operation(spark, docs, self.urls, tracker)
                walls.append(wall)
                cpus.append(info.get("cpu_s", float("nan")))
                steals.append(info.get("steal", float("nan")))
                now = time.perf_counter()
                if (self.trace or math.isnan(wall) or now - t_begin >= self.args.seconds
                        or now - START + 1.5 * wall + 15 > DEADLINE_S):
                    break
            peak_mb = self.proc.stop()
            self.mark("measure")
            if self.trace and not self.failures:
                self.layers(docs, info, wall)
                self.mark("layers")
        finally:
            spark.stop()
            self.mark("stop")
        ok = [w for w in walls if not math.isnan(w)]
        if not ok:
            return {}
        if self.trace:
            from layers import newest_eventlog, stage_metrics

            if not self.failures:
                self.layer.update(stage_metrics(
                    newest_eventlog(self.eventlog_dir), info["t0_unix"],
                    info["t0_unix"] + wall,
                    tracker.stage_walls(),
                    os.path.join(WORK, "trace", f"op-events-{os.getpid()}.json")))
                self.check_routing()
            # the full logs run to ~50 MB each; the cut op-events copy stays
            shutil.rmtree(self.eventlog_dir, ignore_errors=True)
            self.tracer.write(os.path.join(
                WORK, "trace", f"spans-{self.args.workload}-s{self.args.seed}.json"))
            return self.layer
        wall_s = statistics.median(ok)
        # wall_s and docs_per_s are printed here, not gated: across runs
        # they follow the host's CPU steal, beyond any allowed bound
        # (see "Steadiness" in LAYERS.md)
        self.detail = {"wall_s": {"value": wall_s, "unit": "s"},
                       "docs_per_s": {"value": self.n_docs / wall_s, "unit": "docs/s"},
                       "walls_s": walls, "cpus_s": cpus, "host_steal": steals,
                       "docs": self.n_docs,
                       "setup_walls_s": self.setup_walls,
                       "corpus": self.meta,
                       "leaked_rdds": self.leaked, "phases_s": self.phases}
        return {
            "setup_s": self.setup_s,
            "cpu_s": statistics.median(c for c in cpus if not math.isnan(c)),
            "peak_rss_mb": peak_mb,
        }

    def mark(self, phase: str) -> None:
        self.phases[phase] = time.perf_counter() - START

    def layers(self, docs, info, wall) -> None:
        import pyarrow.parquet as pq

        from europa_spark.extract import extract_text_py
        from layers import band_metrics, kernel_metrics

        self.tracer.op_id = "layers"
        self.layer["trace.wall_s"] = wall
        self.layer["cluster.edges"] = info["edges"]
        self.layer["cluster.largest_component"] = info["largest"]
        self.layer["release.leaked_rdds"] = self.leaked
        self.layer.update(band_metrics(docs, self.cfg, self.tracer))
        tbl = pq.read_table(f"{self.meta['dir']}/documents.parquet",
                            columns=["text", "html"]).to_pydict()
        texts = sorted({t for t in (extract_text_py(a, b) for a, b in
                                    zip(tbl["text"], tbl["html"])) if t.strip()})
        with self.tracer.span("kernels"):
            self.layer.update(kernel_metrics(texts, self.cfg))

    def check_routing(self) -> None:
        """The routing regime each workload exists for must hold."""
        mx = self.layer["minhash.max_bucket"]
        if self.args.workload == "pipeline_hotkey":
            salted = self.layer["minhash.hot_buckets"] - self.layer["minhash.mega_buckets"]
            if not (mx > self.cfg.star_only_cap and salted > 0):
                self.failures.append(
                    f"hot routes idle: max_bucket {mx}, salted buckets {salted}")
        elif mx > self.cfg.bucket_cap:
            self.failures.append(f"uniform corpus has a hot bucket ({mx})")


def urls_of(corpus_dir: str) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(f"{corpus_dir}/documents.parquet",
                         columns=["url"]).column("url").to_pylist()


def stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM; its Python workers
    exit with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


START = time.perf_counter()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a run must end within 180 s whatever happens; the JVM exits when
    # this process's pipe to it closes
    watchdog = threading.Timer(DEADLINE_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()
    os.environ.update(host_env())
    sys.path[:0] = [HERE, ROOT]
    import europa_spark  # noqa: F401 — fail fast without the program

    from layers import PER_LAYER_UNITS

    bench = Bench(args)
    try:
        values = bench.main()
    finally:
        stop_jvm()
    units = PER_LAYER_UNITS if bench.trace else {
        "setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
    missing = sorted(set(units) - set(values))
    if missing:
        bench.failures.append(f"not measured: {missing}")
    # a run-level failure (routing regime, missing metric) counts as one
    # more failed operation
    failed = bench.failed_ops + (len(bench.failures) > bench.failed_ops)
    print(json.dumps({"conf": bench.conf, "failures": bench.failures,
                      **getattr(bench, "detail", {})}))
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": min(failed, bench.attempted),
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if not bench.failures else 1


if __name__ == "__main__":
    sys.exit(main())
