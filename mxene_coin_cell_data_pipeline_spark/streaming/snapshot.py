"""Incremental snapshot maintenance over a stream (foreachBatch upsert).

The lakehouse "changelog → queryable snapshot" loop: each micro-batch
of an event/CDC feed is merged into a persisted latest-version-per-key
snapshot (the streaming form of the batch ``o07`` latest-by-key
compaction). ``foreachBatch`` is the right surface because the merge is
a BATCH join/window against existing state on storage — bigger than
executor memory is fine, no streaming-state store involvement, and the
sink stays queryable between batches. Three runners share the loop:
``run_stream_latest_snapshot`` (latest row per key),
``run_stream_agg_snapshot`` (additive count/sum per key) and
``run_stream_histogram_snapshot`` (additive per-(key, bin) counts).

Cost model (``_delta_merge``): a micro-batch whose optimizer size
estimate is under ``spark.sql.autoBroadcastJoinThreshold`` broadcasts
its keys; the state rows it touches (a null-safe broadcast semi-join)
are combined with it, and the untouched rows pass through a broadcast
anti-join with no shuffle. Shuffle and sort therefore grow with the
batch; only the parquet rewrite of the snapshot grows with the state.
A batch over the threshold runs the same combine over the whole state.

Publishing without an ACID table format (``_publish``): the merged
snapshot is written to ``<dir>.tmp``, the live directory is renamed to
``<dir>.old``, ``<dir>.tmp`` is renamed to the live name, and
``<dir>.old`` is deleted. A crash between the two renames leaves the
previous snapshot in ``<dir>.old``; every merge first restores it
(``_recover``), so the next batch merges into the previous snapshot,
not into nothing. Readers open ``<dir>`` as a plain parquet directory;
between the two renames it is briefly absent. On Delta/Iceberg the
merge becomes a single MERGE INTO and the rest is unchanged.

Determinism contract (what the oracle checks): latest-per-key under a
TOTAL version order (ts desc, event_id desc) is independent of how the
feed is chopped into micro-batches — merging per batch and merging all
at once give the same final snapshot.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from functools import reduce
from operator import and_
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

#: Marker file carrying the last-applied foreachBatch batch_id, stored
#: INSIDE the snapshot directory so the tmp-dir rename swaps data and
#: marker atomically (Spark's parquet reader ignores ``_``-prefixed
#: files, like ``_SUCCESS``). This closes the at-least-once replay
#: window of the non-idempotent additive merges: a crash after the
#: snapshot rename but before the checkpoint's offset commit replays
#: the batch with the SAME batch_id on restart, and the guard skips it
#: instead of double-counting. Only meaningful under a checkpoint —
#: batch_ids are a monotone sequence only within one checkpointed
#: query LINEAGE, so the marker records the checkpoint identity next
#: to the batch_id and is IGNORED on mismatch: a snapshot dir reused
#: against a fresh/reset checkpoint (batch_ids restart at 0) must
#: merge its first batches, not skip them. Checkpoint-less runs
#: (whose restart semantics are documented as at-least-once) never
#: write or consult the marker.
_META = "_LAST_BATCH"


def _last_applied(snapshot_dir: str, ckpt_id: str) -> int | None:
    """Last batch_id applied FROM THIS CHECKPOINT LINEAGE, else None
    (no marker, unreadable marker, or a different lineage's marker)."""
    meta = os.path.join(snapshot_dir, _META)
    if os.path.exists(meta):
        try:
            with open(meta) as f:
                rec = json.loads(f.read())
            if rec.get("ckpt") == ckpt_id:
                return int(rec["batch_id"])
        except (ValueError, KeyError):
            pass
    return None


def _atomic_swap(
    merged: DataFrame,
    snapshot_dir: str,
    batch_id: int | None = None,
    ckpt_id: str | None = None,
) -> None:
    """Write ``merged`` to ``<dir>.tmp`` (plus the batch marker when
    ``batch_id`` is given) and publish it as the live snapshot, so
    readers never see a partly written snapshot."""
    tmp = snapshot_dir + ".tmp"
    merged.write.mode("overwrite").parquet(tmp)
    if batch_id is not None:
        with open(os.path.join(tmp, _META), "w") as f:
            f.write(json.dumps({"ckpt": ckpt_id, "batch_id": batch_id}))
    _publish(tmp, snapshot_dir)


def _publish(tmp: str, snapshot_dir: str) -> None:
    """Replace the live snapshot with the complete directory ``tmp``:
    live → ``<dir>.old``, ``tmp`` → live, then delete ``<dir>.old``.
    At every instant one complete snapshot exists under the live name
    or under ``<dir>.old``; ``_recover`` (run before every merge) puts
    it back after a crash. Requires ``_recover`` to have run since the
    last crash, so that no ``<dir>.old`` is in the way."""
    old = snapshot_dir + ".old"
    if os.path.exists(snapshot_dir):
        os.rename(snapshot_dir, old)
    os.rename(tmp, snapshot_dir)
    shutil.rmtree(old, ignore_errors=True)


def _recover(snapshot_dir: str) -> None:
    """Undo an interrupted ``_publish``. Live missing with ``<dir>.old``
    present means the crash came between the two renames: the previous
    snapshot is restored. Both present means only the final delete was
    lost: the stale copy is removed."""
    old = snapshot_dir + ".old"
    if not os.path.exists(old):
        return
    if os.path.exists(snapshot_dir):
        shutil.rmtree(old)
    else:
        os.rename(old, snapshot_dir)


def _load_state(spark: SparkSession, snapshot_dir: str) -> DataFrame | None:
    """The live snapshot after crash recovery, or None before the first
    merge."""
    _recover(snapshot_dir)
    if not os.path.exists(snapshot_dir):
        return None
    return spark.read.parquet(snapshot_dir)


def _delta_merge(
    current: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    combine: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The snapshot after folding ``batch`` into ``current``:
    ``combine`` (a per-``keys`` reduction such as latest-by-key or an
    additive groupBy) applied to state ∪ batch.

    When the batch's optimizer size estimate is within
    ``spark.sql.autoBroadcastJoinThreshold``, only the state rows whose
    ``keys`` occur in the batch (null-safe, so a NULL key matches a
    NULL key as it does in ``combine``'s grouping) go through
    ``combine``; the other rows pass through a broadcast anti-join
    unshuffled. The result is coalesced to one partition per
    ``spark.sql.files.maxPartitionBytes`` of state, so the snapshot's
    file count follows its size and a small merge adds no file.
    Otherwise ``combine`` runs over the whole state."""
    if current is None:
        return combine(batch)
    conf = batch.sparkSession._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    if limit < 0 or _size_estimate(batch) > limit:
        return combine(current.unionByName(batch))
    probe = F.broadcast(batch.select(*[F.col(k).alias(f"_probe_{k}") for k in keys]))
    on = reduce(and_, [F.col(k).eqNullSafe(F.col(f"_probe_{k}")) for k in keys])
    touched = current.join(probe, on, "left_semi")
    untouched = current.join(probe, on, "left_anti")
    parts = math.ceil(_size_estimate(current) / conf.filesMaxPartitionBytes())
    return untouched.unionByName(combine(touched.unionByName(batch))).coalesce(max(1, parts))


def _size_estimate(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df`` in bytes (file bytes for
    a parquet scan; no job runs)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def merge_latest_by_key(
    current: DataFrame | None,
    batch: DataFrame,
    key: str,
    order_cols: list[str],
) -> DataFrame:
    """One merge step: union state with the new batch, keep the row
    with the largest ``order_cols`` per key (total order required —
    include a unique tie-break column last)."""
    allr = batch if current is None else batch.unionByName(current)
    w = Window.partitionBy(key).orderBy(*[F.desc(c) for c in order_cols])
    return (
        allr.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def run_stream_latest_snapshot(
    stream_df: DataFrame,
    snapshot_dir: str,
    key: str = "user_id",
    order_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
) -> None:
    """Run the stream to completion (availableNow), maintaining the
    parquet snapshot at ``snapshot_dir`` via per-batch merge + atomic
    directory swap. Each batch rewrites only the snapshot (keys × 1
    row), never the history.

    Cost per micro-batch: a batch under
    ``spark.sql.autoBroadcastJoinThreshold`` shuffles and sorts only
    itself plus the snapshot rows whose key it carries; the rest of the
    snapshot is copied through unshuffled, so the shuffle grows with
    the batch and only the parquet rewrite grows with the snapshot. A
    larger batch re-ranks the whole snapshot. The publish renames the
    live directory to ``<dir>.old`` before moving the new one in; if a
    crash lands between those renames, the next merge restores
    ``<dir>.old`` first and merges into the previous snapshot.

    ``checkpoint_dir`` makes the loop restartable: committed source
    offsets persist there, so a stopped run re-started with the same
    checkpoint resumes at the first unprocessed file. The latest-by-key
    merge is additionally IDEMPOTENT (re-merging an already-applied
    batch is a no-op), so this sink is exactly-once even under the
    at-least-once replay window of a mid-batch crash."""
    order_cols = order_cols or ["ts", "event_id"]

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        _merge_latest_batch(batch_df, batch_id, snapshot_dir, key, order_cols)

    w = (
        stream_df.writeStream.foreachBatch(_merge)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.awaitTermination()


def _merge_latest_batch(
    batch_df: DataFrame,
    batch_id: int,
    snapshot_dir: str,
    key: str,
    order_cols: list[str],
) -> None:
    """One latest-by-key merge step (module-level so the replay
    behavior is unit-testable outside a live query, parametrized with
    the additive runners in tests/test_streaming_recovery.py). Unlike
    the additive merges, this one needs NO ``_LAST_BATCH`` guard:
    re-merging an already-applied batch re-selects the same latest row
    per key — idempotent by construction, exactly-once under replay
    with or without a checkpoint."""
    merged = _delta_merge(
        _load_state(batch_df.sparkSession, snapshot_dir),
        batch_df,
        [key],
        lambda rows: merge_latest_by_key(None, rows, key, order_cols),
    )
    _atomic_swap(merged, snapshot_dir)


def run_stream_agg_snapshot(
    stream_df: DataFrame,
    snapshot_dir: str,
    key: str,
    agg_cols: dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
) -> None:
    """Incremental aggregate maintenance: each micro-batch computes its
    PARTIAL (count/sum per key) and merges it into the stored totals by
    addition — the mergeable-aggregate pattern behind every incremental
    rollup (and the reason avg must be carried as (sum, n), never as a
    stored average). State size is O(keys), independent of history.

    Additive merge is NOT idempotent on its own, so restartability
    REQUIRES ``checkpoint_dir``: committed source offsets persist
    there and a re-started run resumes at the first unprocessed file.
    Under a checkpoint the merge is ALSO made idempotent via the
    ``_LAST_BATCH`` marker swapped atomically with the snapshot —
    closing the crash window between the snapshot rename and the
    offset commit, where the checkpoint alone would replay (and
    double-count) the last batch. Pinned by
    tests/test_streaming_recovery.py, including the replayed-batch
    guard test and the negative control (no checkpoint → restart
    double-counts, the documented at-least-once shape)."""
    agg_cols = agg_cols or {"value": "sum"}
    spark = stream_df.sparkSession

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        _merge_agg_batch(
            batch_df, batch_id, snapshot_dir, key, agg_cols,
            ckpt_id=checkpoint_dir,
        )

    w = (
        stream_df.writeStream.foreachBatch(_merge)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.awaitTermination()


def _merge_agg_batch(
    batch_df: DataFrame,
    batch_id: int,
    snapshot_dir: str,
    key: str,
    agg_cols: dict[str, str],
    ckpt_id: str | None,
) -> None:
    """One additive-merge step (module-level so the replay guard is
    unit-testable outside a live query). A non-None ``ckpt_id``
    (the checkpoint location — the query-lineage identity) skips
    batches already recorded for THAT lineage in the snapshot's
    ``_LAST_BATCH`` marker; a marker from another lineage is
    ignored."""
    current = _load_state(batch_df.sparkSession, snapshot_dir)
    if ckpt_id is not None:
        last = _last_applied(snapshot_dir, ckpt_id)
        if last is not None and batch_id <= last:
            return
    # decimal partials: exact + associative, so the stored totals
    # are identical for ANY micro-batch split of the feed (a double
    # sum would drift by accumulation order as batches re-merge)
    partial = batch_df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.round(F.col(c), 6).cast("decimal(38,6)")).alias(f"sum_{c}")
            for c in agg_cols
        ],
    )
    merged = _delta_merge(
        current,
        partial,
        [key],
        lambda rows: rows.groupBy(key).agg(
            F.sum("n").alias("n"),
            *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in agg_cols],
        ),
    )
    _atomic_swap(
        merged, snapshot_dir,
        batch_id if ckpt_id is not None else None, ckpt_id,
    )


def run_stream_histogram_snapshot(
    stream_df: DataFrame,
    snapshot_dir: str,
    key: str,
    value_col: str = "value",
    bin_width: float = 10.0,
    checkpoint_dir: str | None = None,
) -> None:
    """Incremental histogram-sketch maintenance: each micro-batch bins
    its values (``bin = floor(value / bin_width)``) and merges the
    per-(key, bin) counts into the stored histogram BY ADDITION — the
    a27 mergeable-quantile sketch run live on a stream. State size is
    O(keys × occupied bins), independent of history; any quantile is
    answered from the stored counts without rescanning the feed.

    All-integer state (bins and counts), so the merged histogram is
    bit-identical to the single-pass batch histogram for ANY
    micro-batch split of the feed. Additive merge is not idempotent on
    its own; restartability requires ``checkpoint_dir``, under which
    the ``_LAST_BATCH`` marker (swapped atomically with the snapshot)
    additionally skips a replayed batch — exactly-once including the
    rename-before-offset-commit crash window, exactly as
    ``run_stream_agg_snapshot`` documents."""
    spark = stream_df.sparkSession

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        _merge_histogram_batch(
            batch_df, batch_id, snapshot_dir, key, value_col, bin_width,
            ckpt_id=checkpoint_dir,
        )

    w = (
        stream_df.writeStream.foreachBatch(_merge)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.awaitTermination()


def _merge_histogram_batch(
    batch_df: DataFrame,
    batch_id: int,
    snapshot_dir: str,
    key: str,
    value_col: str,
    bin_width: float,
    ckpt_id: str | None,
) -> None:
    """One histogram-merge step (module-level so the replay guard is
    unit-testable outside a live query); ``ckpt_id`` as in
    ``_merge_agg_batch``."""
    current = _load_state(batch_df.sparkSession, snapshot_dir)
    if ckpt_id is not None:
        last = _last_applied(snapshot_dir, ckpt_id)
        if last is not None and batch_id <= last:
            return
    partial = (
        batch_df.select(
            F.col(key),
            F.floor(F.col(value_col) / F.lit(bin_width)).cast("long").alias("bin"),
        )
        .groupBy(key, "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    merged = _delta_merge(
        current,
        partial,
        [key, "bin"],
        lambda rows: rows.groupBy(key, "bin").agg(F.sum("c").alias("c")),
    )
    _atomic_swap(
        merged, snapshot_dir,
        batch_id if ckpt_id is not None else None, ckpt_id,
    )
