"""SparkSession factory tuned for the dedup workload.

Settings rationale (SURVEY.md §4): AQE on (skew-join splitting + shuffle
coalesce), shuffle partitions proportional to cores, Arrow enabled for the
pandas UDF signature kernels with a bounded batch size (the analog of the
reference's 128 KiB hashing buffer, HashGenerator.cs:12).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "europa-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    # local[N] -> N, local[*] -> cpu count; shuffle partitions ~ cores
    if shuffle_partitions is None:
        cores = os.cpu_count() or 8
        if master.startswith("local[") and master[6:-1].isdigit():
            cores = int(master[6:-1])
        shuffle_partitions = max(4, cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # scan parallelism: the CPU-heavy extract/signature chain runs on
        # scan-derived partitions, and the test corpora are single parquet
        # files — at the default 128 MB an 800 MB file yields ~6 tasks and
        # caps every core count at the same parallelism. 32 MB keeps ~1 task
        # per row group here; a multi-TB deployment with thousands of input
        # files should raise this back to 128m.
        .config("spark.sql.files.maxPartitionBytes", os.environ.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", "33554432"))
        .config("spark.sql.session.timeZone", "UTC")
        # shuffle/spill scratch on tmpfs when available: local-mode shuffles
        # write real files, and routing them through the root disk made the
        # shuffle-heavy phases disk-bound (identical wall at 8 and 32 cores).
        # On a real cluster this is the executors' local NVMe
        # (spark.local.dir is per-node there); env overrides for both cases.
        .config("spark.local.dir", os.environ.get(
            "SPARK_GRAFT_LOCAL_DIR",
            "/dev/shm/europa-spark-local"
            if os.path.isdir("/dev/shm") else "/tmp"))
        # free dead shuffle files DURING the run: the ContextCleaner only
        # deletes a stage's shuffle files when a driver GC collects the RDD
        # that owns them, and the default periodicGC interval (30 min) is
        # longer than most whole runs — so a multi-stage pipeline's scratch
        # dir accumulates every stage's shuffle output until the context
        # stops (measured: a 6M-row run held 66 GB of mostly-dead shuffle
        # files in tmpfs and OOM-killed the 125 GB box). 90 s keeps scratch
        # bounded by the LIVE working set; same knob applies on real
        # clusters with long lineages and bounded local disks.
        .config("spark.cleaner.periodicGC.interval", os.environ.get(
            "SPARK_GRAFT_PERIODIC_GC", "90s"))
        # shuffle/spill codec. lz4 default; zstd trades ~nothing in wall
        # (r3 conf sweep: inside noise) for a visibly smaller scratch
        # footprint — the knob that fits RAM/disk-bounded scratch at the
        # largest per-box corpus sizes
        .config("spark.io.compression.codec", os.environ.get(
            "SPARK_GRAFT_IO_CODEC", "lz4"))
        # decode(html,'UTF-8') must map invalid bytes to U+FFFD (FIXTURES.md §2
        # rule 2a); Spark 4 default is to raise MALFORMED_CHARACTER_CODING
        .config("spark.sql.legacy.codingErrorAction", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Tungsten page size, fixed instead of derived from the heap (32 MB
        # at 4g, 64 MB at 24g): every hash aggregate, hash join and sort of
        # every task allocates a zero-filled page, and a pipeline run is
        # ~240 mostly tiny tasks (500-doc run, 4 cores / 15 GB, 4g driver:
        # 4 MB pages cut peak RSS 17-29 % and process CPU 17-19 %). 4 MB is
        # the floor, not a tuning choice: TaskMemoryManager allows at most
        # 8192 pages per task, so a task can address 8192 x 4 MB = 32 GB,
        # more than the execution pool of any executor RUNBOOK §2 sizes.
        # Raise it only for executor heaps above ~53 GB; 1-2 MB pages
        # measured no better and cap a lone task at 8-16 GB, where it would
        # fail on the page limit instead of spilling.
        .config("spark.buffer.pageSize", "4m")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
