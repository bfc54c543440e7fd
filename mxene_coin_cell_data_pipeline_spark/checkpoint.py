"""Lineage truncation for the iterative families: local by default,
RELIABLE when configured.

The iterative operators (near-dup closure rounds, g01-g04 graph
rounds, the p06/p07 survivor materialization) truncate their growing
lineage with ``localCheckpoint`` — the right local default: it bounds
the per-round Catalyst/codegen blowup (measured 35s of recompiles on
the lazy form) at the cost of storing the truncated RDD on executor
LOCAL storage only. At 100 TB that trade flips: executor-local blocks
are non-reliable, so ONE lost executor makes the truncated lineage
unrecoverable and the whole job must restart — production runs on a
real cluster should truncate through a reliable (HDFS / object-store)
checkpoint directory instead.

``durable_checkpoint`` is the single switch: with
``$SPARK_GRAFT_CHECKPOINT_DIR`` (or the ``spark.graft.checkpointDir``
session conf) set to a reliable path, every call becomes a reliable
``DataFrame.checkpoint`` into that directory; unset, it is exactly the
``localCheckpoint`` the local bench measures. Semantics are identical
either way — both materialize the same rows and truncate the same
lineage; only the storage's failure domain changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def checkpoint_dir(df: DataFrame) -> str | None:
    """The configured reliable checkpoint directory, if any.

    The session conf ``spark.graft.checkpointDir`` wins over the
    ``SPARK_GRAFT_CHECKPOINT_DIR`` environment variable; empty strings
    mean unset.
    """
    env = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") or None
    try:
        return df.sparkSession.conf.get("spark.graft.checkpointDir", env) or None
    except Exception:
        return env


def durable_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``checkpoint`` when a
    checkpoint dir is configured (see module docstring), else
    ``localCheckpoint``. Both forms honor ``eager``.

    ``SparkContext.setCheckpointDir(d)`` checkpoints into a fresh
    ``d/<uuid>``; the context is pointed at the configured dir unless
    its current checkpoint dir already lies directly under it.
    """
    ckdir = checkpoint_dir(df)
    if ckdir:
        sc = df.sparkSession.sparkContext
        current = sc.getCheckpointDir()
        parent = current and current.rstrip("/").rsplit("/", 1)[0]
        if not parent or _qualified(sc, parent) != _qualified(sc, ckdir):
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _qualified(sc, path: str) -> str:
    """``path`` as a fully qualified Hadoop path string."""
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs.makeQualified(p).toString()
