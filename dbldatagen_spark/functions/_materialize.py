"""Checkpoints of the iterative operators (``duplicate_components``,
``pagerank``, ``bpe_train``): one scope for the session checkpoint dir,
and one way to take a round's checkpoint and to release it."""

from __future__ import annotations

import contextlib
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession


@contextlib.contextmanager
def checkpoint_dir(spark: SparkSession, path: Optional[str]) -> Iterator[bool]:
    """Set the session's checkpoint dir to ``path`` for the block and
    yield whether checkpoints taken in it are reliable.

    ``path=None`` is a no-op and yields ``False``: rounds are then
    ``localCheckpoint``s in executor block storage, fast but lost with
    their executor (a real risk on preemptible/spot fleets).  A
    ``path`` (HDFS/object store) buys restartable lineage for one file
    write per round.  On exit, exceptions included, the session's prior
    checkpoint dir is put back as it was: the saved JVM ``Option`` goes
    back through the field setter, so a session that had none has none
    again, and one that had a dir keeps that exact path (Spark's
    ``setCheckpointDir`` would nest a fresh UUID subdirectory under it
    on every call).  When the prior dir cannot be read, nothing is
    restored.  Files under ``path`` are reclaimed by the
    ``ContextCleaner`` only with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``; otherwise
    the caller deletes them."""
    if path is None:
        yield False
        return
    jsc = spark.sparkContext._jsc.sc()
    try:
        prev = jsc.getCheckpointDir()
    except Exception:
        prev = None
    jsc.setCheckpointDir(path)
    try:
        yield True
    finally:
        if prev is not None:
            with contextlib.suppress(Exception):
                getattr(jsc, "checkpointDir_$eq")(prev)


def checkpoint(df: DataFrame, reliable: bool) -> DataFrame:
    """An eager checkpoint of ``df``: reliable inside a
    :func:`checkpoint_dir` scope that set a path, local otherwise."""
    return df.checkpoint() if reliable else df.localCheckpoint()


def release(df: DataFrame) -> None:
    """Drop the blocks of an eager checkpoint ``df`` (a no-op for a
    reliable one, whose RDD is not persisted).  ``DataFrame.unpersist``
    cannot: the blocks belong to the RDD under the frame's
    ``LogicalRDD``, not to the cache manager."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)
