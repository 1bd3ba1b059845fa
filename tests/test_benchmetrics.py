"""Weather-immune bench metrics (plans/benchmetrics.py): per-query
executor CPU / shuffle-byte attribution via incremental status-store
reads — the §C.13 comparison basis must attribute work to the right
query and never silently under-report."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csce438_distributed_password_cracker_spark.plans.benchmetrics import (
    StageMetricsTracker,
)


def test_attributes_work_to_the_right_window(spark):
    tracker = StageMetricsTracker(spark)
    base = tracker.delta()
    # idle: a second delta with no jobs in between reports nothing
    assert base["n_stages"] == 0 and base["cpu_sec"] == 0.0

    # window 1: a shuffle-heavy job
    (
        spark.range(2_000_000)
        .select((F.col("id") % 1000).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    d1 = tracker.delta()
    assert d1["n_stages"] >= 2  # map + reduce at minimum
    assert d1["cpu_sec"] > 0.0
    assert d1["shuffle_write_bytes"] > 0
    assert d1["shuffle_read_bytes"] > 0
    assert d1["n_unseen_evictions"] == 0

    # window 2: a narrow map-only job — no shuffle attributed
    spark.range(1_000_000).select((F.col("id") * 2).alias("x")).write.format(
        "noop"
    ).mode("overwrite").save()
    d2 = tracker.delta()
    assert d2["n_stages"] >= 1
    assert d2["shuffle_write_bytes"] == 0 and d2["shuffle_read_bytes"] == 0
    assert d2["n_unseen_evictions"] == 0

    # window 1's stages are never re-counted
    d3 = tracker.delta()
    assert d3["n_stages"] == 0 and d3["cpu_sec"] == 0.0


def test_skipped_stages_are_terminal_not_pending(spark):
    """SKIPPED stages (shuffle-reuse: the second job over the same
    shuffle lineage lists its map stages as SKIPPED) are
    terminal-with-zero-metrics.  They must land in _seen, not sit in
    _pending forever — a store eviction of a forever-pending SKIPPED
    attempt would count as n_unseen_evictions and falsely invalidate
    the CPU numbers (ADVICE r9)."""
    from pyspark.sql import functions as F2

    tracker = StageMetricsTracker(spark)
    df = (
        spark.range(1_000_000)
        .select((F2.col("id") % 64).alias("k"))
        .groupBy("k")
        .count()
    )
    df.count()
    tracker.delta()
    df.count()  # re-submission lists the reused map stages as SKIPPED
    d = tracker.delta()
    assert d["n_unseen_evictions"] == 0

    store = spark.sparkContext._jsc.sc().statusStore()
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    skipped = {
        (stages.apply(i).stageId(), stages.apply(i).attemptId())
        for i in range(stages.size())
        if stages.apply(i).status().toString() == "SKIPPED"
    }
    assert skipped, "workload failed to produce a SKIPPED stage"
    # every skipped attempt is accounted terminal (seen), none pending
    assert skipped & tracker._seen == skipped
    assert not (skipped & tracker._pending)


def test_shuffle_bytes_deterministic_across_repeats(spark):
    """Shuffle volume is a property of the PLAN, not the host: two runs
    of the same job must attribute (near-)identical shuffle bytes —
    that's what makes queries_shuffle_mb a regression signal."""
    tracker = StageMetricsTracker(spark)

    def run():
        (
            spark.range(500_000)
            .select((F.col("id") % 64).alias("k"))
            .groupBy("k")
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return tracker.delta()

    a, b = run(), run()
    assert a["shuffle_write_bytes"] == b["shuffle_write_bytes"]
    assert a["shuffle_read_bytes"] == b["shuffle_read_bytes"]


def test_failed_listener_drain_raises():
    """A drain that fails must fail delta(): carrying on would read the
    store before the finished query's stage events land, and report
    too little work."""

    class _Bus:
        def waitUntilEmpty(self):
            raise RuntimeError("listener bus unavailable")

    class _Sc:
        def listenerBus(self):
            return _Bus()

    class _Jsc:
        def sc(self):
            return _Sc()

    class _Context:
        _jsc = _Jsc()

    tracker = object.__new__(StageMetricsTracker)
    tracker._sc = _Context()
    with pytest.raises(RuntimeError, match="listener bus unavailable"):
        tracker.delta()
