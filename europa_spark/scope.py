"""One owner for what a run caches: persisted frames, local checkpoints and
the ``europa:<stage>`` job tags. ``with Scope(spark) as scope:`` releases
them all on exit, also on an exception; a caller whose outputs outlive the
block (``pipeline.run``) hands ``scope.release`` to its own caller."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from .progress import ProgressTracker


class Scope:
    """``frames`` is the list the pair functions' ``registry`` argument
    appends their own persisted intermediates to."""

    def __init__(self, spark: SparkSession, tracker: ProgressTracker | None = None):
        self.spark, self.tracker = spark, tracker
        self.frames: list[DataFrame] = []
        self._ckpts: dict = {}  # rdd id -> the checkpoint's JVM RDD

    def persist(self, df: DataFrame) -> DataFrame:
        """LAZY persist: a multi-consumer frame computes once, and no
        barrier job is added (the first action that reads it fills it; the
        r01 design's eager per-stage barriers were ~10 serial jobs that
        dominated wall time as a corpus-independent floor)."""
        self.frames.append(df)
        return df.persist()

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Non-eager localCheckpoint: downstream actions plan against one
        leaf instead of re-analyzing the whole composed tree, and the first
        action that reads the frame stores its blocks (no job of its own)."""
        out = df.localCheckpoint(eager=False)
        rdd = _leaf_rdd(out)
        self._ckpts[rdd.id()] = rdd
        return out

    def free(self, df: DataFrame) -> None:
        """Unpersist one of this scope's checkpoints before the release."""
        rdd = self._ckpts.pop(_leaf_rdd(df).id(), None)
        if rdd is not None:
            rdd.unpersist(False)

    @contextmanager
    def stage(self, name: str):
        """Tags the body's jobs on this thread ``europa:<name>`` (the UI and
        event log attribute metrics by it) inside tracker begin/end events."""
        t0 = self.tracker.begin(name) if self.tracker is not None else None
        sc = self.spark.sparkContext
        sc.setJobDescription(f"europa:{name}")
        try:
            yield
        finally:
            sc.setJobDescription(None)
            if self.tracker is not None:
                self.tracker.end(name, t0)

    def release(self) -> None:
        for df in self.frames:
            df.unpersist()
        self.frames.clear()
        for rdd in self._ckpts.values():
            rdd.unpersist(False)
        self._ckpts.clear()

    def __enter__(self) -> "Scope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def _leaf_rdd(df: DataFrame):
    # a localCheckpoint's frame is a bare LogicalRDD over the one RDD it
    # registered as persistent
    return df._jdf.queryExecution().logical().rdd()
