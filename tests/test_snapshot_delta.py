"""The snapshot runners' delta merge against the full merge.

A micro-batch under ``spark.sql.autoBroadcastJoinThreshold`` is merged
by combining only the state rows it touches and passing the rest
through; with the threshold at -1 every batch takes the full merge
(combine over state ∪ batch). Both must leave identical snapshots after
every step, for all three runners, on the cases where a key-probe merge
can go wrong: NULL keys on both sides, duplicate keys within a batch,
keys the state does not have, a batch that touches every key, and a
replayed batch.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import types as T

from mxene_coin_cell_data_pipeline_spark.streaming import snapshot

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)
T0 = dt.datetime(2024, 1, 1)


def _batch(spark, tmp_path, keys, first_id, day):
    """One row per entry of ``keys`` (repeats allowed), unique event ids,
    all at ``day`` days after T0 so later batches win latest-by-key.
    Read back from parquet, so the optimizer knows its size as it does
    for a micro-batch (an RDD-backed frame has no size estimate and
    always takes the full merge)."""
    path = str(tmp_path / f"batch_{first_id}")
    spark.createDataFrame(
        [
            (k, T0 + dt.timedelta(days=day, seconds=i), first_id + i, 7.5 * i + 0.25)
            for i, k in enumerate(keys)
        ],
        SCHEMA,
    ).write.parquet(path)
    return spark.read.parquet(path)


def _merge(runner, batch_df, batch_id, snap):
    if runner == "agg":
        snapshot._merge_agg_batch(
            batch_df, batch_id, snap, "k", {"value": "sum"}, ckpt_id="ck"
        )
    elif runner == "histogram":
        snapshot._merge_histogram_batch(
            batch_df, batch_id, snap, "k", "value", 10.0, ckpt_id="ck"
        )
    else:
        snapshot._merge_latest_batch(batch_df, batch_id, snap, "k", ["ts", "event_id"])


def _rows(spark, snap):
    return sorted(map(tuple, spark.read.parquet(snap).collect()), key=repr)


@pytest.fixture
def plans(monkeypatch):
    """Record whether each merge built the delta plan (a broadcast
    anti-join passes the untouched rows through)."""
    seen = []
    real = snapshot._delta_merge

    def spy(*a, **kw):
        merged = real(*a, **kw)
        plan = merged._jdf.queryExecution().executedPlan().toString()
        seen.append("LeftAnti" in plan)
        return merged

    monkeypatch.setattr(snapshot, "_delta_merge", spy)
    return seen


@pytest.mark.parametrize("runner", ["agg", "histogram", "latest"])
def test_delta_merge_equals_full_merge(spark, tmp_path, plans, runner):
    state_keys = [None, None, *range(1, 21)]
    steps = [
        (0, _batch(spark, tmp_path, state_keys, 0, 0)),
        # NULL key on both sides, duplicate keys, keys not in the state
        (1, _batch(spark, tmp_path, [None, 3, 3, 3, 5, 5, 100, 101, None], 1000, 1)),
        # every key the state holds, plus one new one
        (2, _batch(spark, tmp_path, [*state_keys, 100, 101, 102], 2000, 2)),
    ]
    # a replay of batch 2 (the crash window between the snapshot
    # publish and the offset commit)
    steps.append(steps[-1])

    delta, full = str(tmp_path / "delta"), str(tmp_path / "full")
    conf = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(conf)
    history = []
    for batch_id, df in steps:
        _merge(runner, df, batch_id, delta)
        spark.conf.set(conf, "-1")
        try:
            _merge(runner, df, batch_id, full)
        finally:
            spark.conf.set(conf, saved)
        got = _rows(spark, delta)
        assert got == _rows(spark, full), (runner, batch_id)
        history.append(got)

    assert history[-1] == history[-2]  # the replay changed nothing
    assert history[1] != history[0] and history[2] != history[1]
    # the guarded runners skip the replay before building a plan; every
    # other merge into an existing snapshot took the delta path at the
    # default threshold and the full path at -1
    n = 2 if runner != "latest" else 3
    assert plans == [False, False] + [True, False] * n


def test_small_merges_do_not_add_files(spark, tmp_path):
    """The delta path unions the untouched rows with the combined ones;
    coalesced by the snapshot's size, eight small merges leave no more
    part files than the first."""
    snap = str(tmp_path / "snap")
    _batch(spark, tmp_path, list(range(2000)), 0, 0).repartition(3).write.parquet(snap)

    def parts():
        return len([f for f in os.listdir(snap) if f.startswith("part-")])

    counts = []
    for i in range(8):
        keys = [7 * i + j for j in range(0, 40, 3)] + [5000 + i]
        _merge("latest", _batch(spark, tmp_path, keys, 10_000 * (i + 1), i + 1), i, snap)
        counts.append(parts())
    assert max(counts[1:]) <= counts[0], counts
    assert spark.read.parquet(snap).count() == 2008


def test_streaming_exports_every_snapshot_runner():
    import mxene_coin_cell_data_pipeline_spark.streaming as streaming

    runners = [n for n in dir(snapshot) if n.startswith("run_stream_")]
    assert len(runners) == 3
    assert set(runners) <= set(streaming.__all__)
