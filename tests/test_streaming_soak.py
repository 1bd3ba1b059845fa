"""Continuous-mode streaming soak (reference analog: the always-on server
loop, server.c:477-505, with its 10 s failure detector).

Unlike tests/test_streaming_chaos.py (which drains a fixed directory with
``trigger(availableNow=True)``), this runs `start_request_stream` with
``available_now=False`` — a LIVE stream tailing a directory that GROWS
while the query runs — and asserts:

1. steady-state multi-batch progress (≥2 micro-batches with input rows,
   sink grows as new request files land);
2. chaos recovery on the live stream: every keyspace scan fails its
   first attempt of partition 0, so EVERY micro-batch exercises task
   retry mid-stream and must still produce correct verdicts;
3. restart-from-checkpoint: the query is stopped mid-run and restarted
   against the same checkpoint + sink, new requests keep flowing, and
   the sink holds EXACTLY one verdict per request — no reprocessing
   duplicates, no losses (exactly-once file-source accounting).

Needs task retries (`local[N, maxFailures]`), so it runs in a subprocess
with its own session, like tests/test_divergence.py.
"""

from __future__ import annotations

import subprocess
import sys
import textwrap

SOAK_SCRIPT = textwrap.dedent(
    """
    import hashlib
    import json
    import shutil
    import sys
    import tempfile
    import time

    sys.path.insert(0, "/root/repo")
    from pyspark import TaskContext
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4, 2]")
        .appName("streaming-soak")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # VERDICT r9 #6: run the bench CPU tracker through the whole chaos
    # run — micro-batch churn + task retries + a checkpoint restart is
    # the one environment where stage eviction/attempt retries could
    # corrupt the incremental accounting.  Constructed BEFORE any job,
    # so the priming delta absorbs nothing; folded at the phase
    # boundaries a bench would poll at; reconciled at the end against
    # a direct snapshot re-read of the status store.
    from csce438_distributed_password_cracker_spark.plans.benchmetrics import (
        StageMetricsTracker,
    )

    tracker = StageMetricsTracker(spark)
    tracker_acc = {"cpu_sec": 0.0, "n_stages": 0, "evictions": 0}

    def fold_tracker():
        d = tracker.delta()
        tracker_acc["cpu_sec"] += d["cpu_sec"]
        tracker_acc["n_stages"] += d["n_stages"]
        # cumulative within the tracker: keep the max ever reported
        tracker_acc["evictions"] = max(
            tracker_acc["evictions"], d["n_unseen_evictions"]
        )

    import csce438_distributed_password_cracker_spark.operators.crack as C
    import csce438_distributed_password_cracker_spark.streaming.requests as R

    retries = spark.sparkContext.accumulator(0)
    orig_keyspace = C.keyspace

    def chaos_keyspace(spark, width, *a, **k):
        ks = orig_keyspace(spark, width, *a, **k)

        def flaky(batches):
            ctx = TaskContext.get()
            if ctx.partitionId() == 0:
                if ctx.attemptNumber() == 0:
                    raise RuntimeError("simulated worker death mid-stream")
                retries.add(1)
            for b in batches:
                yield b

        return ks.mapInPandas(flaky, ks.schema)

    C.keyspace = chaos_keyspace  # every micro-batch pays one task retry

    def req(rid, word=None):
        h = (hashlib.sha256(word.encode()).hexdigest() if word
             else hashlib.sha256(b"NO SUCH").hexdigest())
        return json.dumps({"request_id": rid, "hash": h, "width": 3})

    src = tempfile.mkdtemp(prefix="soak_src_")
    ckpt = tempfile.mkdtemp(prefix="soak_ckpt_")
    spark.sql("DROP TABLE IF EXISTS soak_verdicts")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(wh + "/soak_verdicts", ignore_errors=True)

    def sink_ids():
        try:
            # the driver-side poll caches the table's file index; refresh so
            # appends from the stream's foreachBatch become visible
            spark.catalog.refreshTable("soak_verdicts")
            return sorted(
                r["request_id"] for r in spark.table("soak_verdicts").collect()
            )
        except Exception:   # table not created yet / transient file listing
            return []

    def await_ids(expect, q, deadline_s=120):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            got = sink_ids()
            if got == expect:
                return got
            if q.exception() is not None:
                raise AssertionError("query died: %s" % q.exception())
            time.sleep(0.5)
        raise AssertionError("timeout waiting for %s, have %s" % (expect, sink_ids()))

    # ---- phase 1: live stream over a growing directory -------------------
    with open(src + "/b1.json", "w") as f:
        f.write(req(1, "qed") + "\\n")
        f.write(req(2) + "\\n")
    q = R.start_request_stream(
        spark, src, ckpt, sink_table="soak_verdicts",
        hash_func="sha256", available_now=False,
    )
    await_ids([1, 2], q)

    with open(src + "/b2.json", "w") as f:
        f.write(req(3, "abc") + "\\n")
    await_ids([1, 2, 3], q)

    with open(src + "/b3.json", "w") as f:
        f.write(req(4) + "\\n")
        f.write(req(5, "zz") + "\\n")   # width mismatch -> honest miss
    await_ids([1, 2, 3, 4, 5], q)

    assert q.isActive, "stream should still be tailing the directory"
    live_batches = {
        p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0
    }
    assert len(live_batches) >= 3, (
        "expected >=3 distinct data batches, saw %s" % sorted(live_batches))
    q.stop()
    q.awaitTermination()
    fold_tracker()  # bench-style poll at the phase boundary

    # ---- phase 2: restart from checkpoint, keep flowing ------------------
    with open(src + "/b4.json", "w") as f:
        f.write(req(6, "xyz") + "\\n")
    q2 = R.start_request_stream(
        spark, src, ckpt, sink_table="soak_verdicts",
        hash_func="sha256", available_now=False,
    )
    await_ids([1, 2, 3, 4, 5, 6], q2)
    q2.stop()
    q2.awaitTermination()

    rows = {r["request_id"]: (r["found"], r["password"], r["reply"])
            for r in spark.table("soak_verdicts").collect()}
    n_rows = spark.table("soak_verdicts").count()
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    # exactly-once: one verdict per request, none reprocessed after restart
    assert n_rows == 6, "duplicate/lost verdicts: %d rows" % n_rows
    assert rows[1] == (True, "qed", "f qed"), rows
    assert rows[2] == (False, None, "x"), rows
    assert rows[3] == (True, "abc", "f abc"), rows
    assert rows[4] == (False, None, "x"), rows
    assert rows[5] == (False, None, "x"), rows   # "zz" is width 2, space is 3
    assert rows[6] == (True, "xyz", "f xyz"), rows  # answered post-restart
    assert retries.value >= 3, "chaos injection fired %d times" % retries.value

    # ---- CPU-accounting reconciliation (VERDICT r9 #6) -------------------
    fold_tracker()  # absorb phase 2 + the verification collects above
    assert tracker_acc["evictions"] == 0, (
        "stage evictions under chaos+restart: %d — the bench CPU basis "
        "would be untrustworthy here" % tracker_acc["evictions"])
    assert tracker_acc["cpu_sec"] > 0 and tracker_acc["n_stages"] > 0
    # snapshot re-read: sum executorCpuTime over every terminal stage
    # still in the store.  With zero evictions the incremental deltas
    # must account for EXACTLY this set — equality means no stage was
    # double-counted (retried attempts) or missed (restart churn).
    store = spark.sparkContext._jsc.sc().statusStore()
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    snap_cpu, snap_n = 0.0, 0
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.status().toString() in ("COMPLETE", "FAILED"):
            snap_cpu += s.executorCpuTime() / 1e9
            snap_n += 1
    assert snap_n == tracker_acc["n_stages"], (
        "stage-count mismatch: snapshot %d vs incremental %d"
        % (snap_n, tracker_acc["n_stages"]))
    assert abs(snap_cpu - tracker_acc["cpu_sec"]) < 0.01, (
        "CPU mismatch: snapshot %.3f vs incremental %.3f"
        % (snap_cpu, tracker_acc["cpu_sec"]))

    print("SOAK_OK batches=%d retried_tasks=%d tracked_stages=%d cpu=%.2f"
          % (len(live_batches), retries.value, snap_n, snap_cpu))
    """
)


def test_live_stream_soak_growing_dir_chaos_and_restart():
    out = subprocess.run(
        [sys.executable, "-c", SOAK_SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "SOAK_OK" in out.stdout, out.stdout + out.stderr


# ---- soak variant (round 9, VERDICT r8 next #7): T4 message faults ------
# composed WITH the task-failure chaos and the checkpoint restart — the
# reference's full adversity stack (lossy transport + dying workers +
# server restart) on one live stream.  The injector rides the new
# `transform` hook of start_request_stream, exactly where the lossy
# channel sits in the reference (between client send and server recv).
# Expected sink contents are derived by replaying the DETERMINISTIC
# fault pattern batch-side (stream ≡ batch for stateless narrow
# transforms — pinned in tests/test_faults.py), so the assertions are
# exact multisets: a dropped request must NEVER be answered, a
# duplicated one answered exactly twice, and the restart must change
# nothing (exactly-once file-source accounting per surviving copy).
FAULT_SOAK_SCRIPT = textwrap.dedent(
    """
    import hashlib
    import json
    import shutil
    import sys
    import tempfile
    import time
    from collections import Counter

    sys.path.insert(0, "/root/repo")
    from pyspark import TaskContext
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4, 2]")
        .appName("streaming-soak-faults")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import csce438_distributed_password_cracker_spark.operators.crack as C
    import csce438_distributed_password_cracker_spark.streaming.requests as R
    from csce438_distributed_password_cracker_spark.streaming.faults import inject_faults

    retries = spark.sparkContext.accumulator(0)
    orig_keyspace = C.keyspace

    def chaos_keyspace(spark, width, *a, **k):
        ks = orig_keyspace(spark, width, *a, **k)

        def flaky(batches):
            ctx = TaskContext.get()
            if ctx.partitionId() == 0:
                if ctx.attemptNumber() == 0:
                    raise RuntimeError("simulated worker death mid-stream")
                retries.add(1)
            for b in batches:
                yield b

        return ks.mapInPandas(flaky, ks.schema)

    C.keyspace = chaos_keyspace

    FAULTS = dict(
        key_cols=["request_id"], drop_frac=0.25, dup_frac=0.25,
        seed="soakf", hash_mode="production",
    )

    def req(rid, word=None):
        h = (hashlib.sha256(word.encode()).hexdigest() if word
             else hashlib.sha256(b"NO SUCH").hexdigest())
        return json.dumps({"request_id": rid, "hash": h, "width": 3})

    words = {1: "qed", 2: None, 3: "abc", 4: None, 5: "zz", 6: "xyz",
             7: "dog", 8: None, 9: "cat", 10: "ab", 11: "sun", 12: None}

    src = tempfile.mkdtemp(prefix="fsoak_src_")
    ckpt = tempfile.mkdtemp(prefix="fsoak_ckpt_")
    spark.sql("DROP TABLE IF EXISTS fsoak_verdicts")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(wh + "/fsoak_verdicts", ignore_errors=True)

    def write_batch(name, rids):
        with open(src + "/" + name, "w") as f:
            for rid in rids:
                f.write(req(rid, words[rid]) + "\\n")

    def expected_counts():
        # authoritative replay: the injector is a pure function of
        # (request_id, seed), so batch application over the same rows
        # IS the stream's fault pattern
        batch = spark.read.schema(R.REQUEST_SCHEMA).json(src)
        return Counter(
            r["request_id"] for r in inject_faults(batch, **FAULTS).collect()
        )

    def sink_counts():
        try:
            spark.catalog.refreshTable("fsoak_verdicts")
            return Counter(
                r["request_id"] for r in spark.table("fsoak_verdicts").collect()
            )
        except Exception:
            return Counter()

    def await_counts(expect, q, deadline_s=120):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            if sink_counts() == expect:
                return
            if q.exception() is not None:
                raise AssertionError("query died: %s" % q.exception())
            time.sleep(0.5)
        raise AssertionError(
            "timeout: want %s have %s" % (expect, sink_counts()))

    transform = lambda df: inject_faults(df, **FAULTS)

    # ---- phase 1: live faulted stream over a growing directory ----------
    write_batch("b1.json", [1, 2, 3, 4])
    q = R.start_request_stream(
        spark, src, ckpt, sink_table="fsoak_verdicts",
        hash_func="sha256", available_now=False, transform=transform,
    )
    await_counts(expected_counts(), q)
    write_batch("b2.json", [5, 6, 7, 8])
    await_counts(expected_counts(), q)
    q.stop()
    q.awaitTermination()

    # ---- phase 2: restart from checkpoint with more faulted traffic -----
    write_batch("b3.json", [9, 10, 11, 12])
    q2 = R.start_request_stream(
        spark, src, ckpt, sink_table="fsoak_verdicts",
        hash_func="sha256", available_now=False, transform=transform,
    )
    final = expected_counts()
    await_counts(final, q2)
    q2.stop()
    q2.awaitTermination()

    n_drop = len(words) - len(final)
    n_dup = sum(1 for c in final.values() if c == 2)
    assert n_drop >= 1, "fault pattern drew no drops - change the seed"
    assert n_dup >= 1, "fault pattern drew no duplicates - change the seed"
    assert set(final.values()) <= {1, 2}

    # verify EVERY copy, not just the last row per id: a duplicated
    # request must yield byte-identical verdicts in all copies
    row_counts = Counter(
        (r["request_id"], r["found"], r["password"], r["reply"])
        for r in spark.table("fsoak_verdicts").collect()
    )
    for rid, cnt in final.items():
        w = words[rid]
        want = ((True, w, "f " + w) if w and len(w) == 3
                else (False, None, "x"))
        assert row_counts[(rid,) + want] == cnt, (rid, cnt, dict(row_counts))
    assert sum(row_counts.values()) == sum(final.values())
    assert retries.value >= 2, retries.value
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    print("FSOAK_OK drops=%d dups=%d retried=%d"
          % (n_drop, n_dup, retries.value))
    """
)


def test_live_stream_soak_with_injected_message_faults():
    out = subprocess.run(
        [sys.executable, "-c", FAULT_SOAK_SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "FSOAK_OK" in out.stdout, out.stdout + out.stderr
