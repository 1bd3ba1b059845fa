"""Chaos / loss-injection analog over the LIVE streaming path (SURVEY.md
§5.1: the reference's only transport test is `drop_rate=0.5` loss
injection, lsp_common.c:6-95).

The Spark analog of a dropped/dead worker mid-request is a task failure
inside a streaming micro-batch: we kill the first attempt of one keyspace
scan partition during the foreachBatch crack kernel and assert Spark's
task retry masks it — the sink holds exactly the verdicts an undisturbed
batch run produces (the reference, by contrast, can reply a false 'x'
when a worker dies, server.c:257-267 + the empty sched_thread_run).

Needs task retries (`local[N, maxFailures]`), so it runs in a subprocess
with its own session, like tests/test_divergence.py.
"""

from __future__ import annotations

import subprocess
import sys
import textwrap

CHAOS_SCRIPT = textwrap.dedent(
    """
    import hashlib
    import json
    import shutil
    import sys
    import tempfile

    sys.path.insert(0, "/root/repo")
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4, 2]")
        .appName("streaming-chaos")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

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
                    # accumulator updates of FAILED tasks are discarded
                    # (exactly-once), so the marker is recorded by the
                    # retry attempt below, which only exists because this
                    # attempt died
                    raise RuntimeError("simulated worker death mid-batch")
                retries.add(1)
            for b in batches:
                yield b

        return ks.mapInPandas(flaky, ks.schema)

    C.keyspace = chaos_keyspace  # inject into the foreachBatch kernel

    hit = hashlib.sha256(b"qed").hexdigest()
    miss = hashlib.sha256(b"NOPE!").hexdigest()
    src = tempfile.mkdtemp(prefix="chaos_src_")
    ckpt = tempfile.mkdtemp(prefix="chaos_ckpt_")
    with open(src + "/reqs.json", "w") as f:
        f.write(json.dumps({"request_id": 1, "hash": hit, "width": 3}) + "\\n")
        f.write(json.dumps({"request_id": 2, "hash": miss, "width": 3}) + "\\n")

    spark.sql("DROP TABLE IF EXISTS chaos_verdicts")
    # a previous run's managed-table directory outlives its catalog entry
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(wh + "/chaos_verdicts", ignore_errors=True)
    q = R.start_request_stream(
        spark, src, ckpt, sink_table="chaos_verdicts",
        hash_func="sha256", available_now=True,
    )
    q.awaitTermination()
    rows = {
        r["request_id"]: (r["found"], r["password"], r["reply"])
        for r in spark.table("chaos_verdicts").collect()
    }
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    assert retries.value >= 1, "chaos injection never fired"
    assert rows[1] == (True, "qed", "f qed"), rows
    assert rows[2] == (False, None, "x"), rows
    print("CHAOS_OK retried_tasks=%d" % retries.value)
    """
)


def test_stream_survives_injected_task_failure():
    out = subprocess.run(
        [sys.executable, "-c", CHAOS_SCRIPT],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "CHAOS_OK" in out.stdout, out.stdout + out.stderr


INGEST_CHAOS_SCRIPT = textwrap.dedent(
    """
    import json
    import shutil
    import sys
    import tempfile

    sys.path.insert(0, "/root/repo")
    from pyspark import TaskContext
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4, 2]")
        .appName("ingest-chaos")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import csce438_distributed_password_cracker_spark.streaming.dedup_ingest as DI

    retries = spark.sparkContext.accumulator(0)
    orig_sig = DI.minhash_signature

    def flaky_sig(*a, **k):
        sigs = orig_sig(*a, **k)

        def flaky(batches):
            ctx = TaskContext.get()
            if ctx.partitionId() == 0:
                if ctx.attemptNumber() == 0:
                    raise RuntimeError("simulated worker death in signature")
                retries.add(1)
            for b in batches:
                yield b

        return sigs.mapInPandas(flaky, sigs.schema)

    DI.minhash_signature = flaky_sig  # every batch's sig pass fails once

    DOC_A = ("the quick brown fox jumps over the lazy dog while the river "
             "runs cold and slow under the old stone bridge at dawn")
    DOC_B = ("completely different content about distributed query engines "
             "and columnar execution with vectorized operators at scale")
    DOC_C = "a third unrelated text on sampling hyperplanes for similarity"

    src = tempfile.mkdtemp(prefix="ichaos_src_")
    ckpt = tempfile.mkdtemp(prefix="ichaos_ckpt_")
    idx = tempfile.mkdtemp(prefix="ichaos_idx_") + "/index"
    corpus = spark.createDataFrame([(1, DOC_A)], "doc_id LONG, text STRING")
    DI.build_dedup_index(corpus, idx)

    with open(src + "/b0.json", "w") as f:
        f.write(json.dumps({"doc_id": 10, "text": DOC_A}) + "\\n")
    with open(src + "/b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 11, "text": DOC_B}) + "\\n")
    with open(src + "/b2.json", "w") as f:
        f.write(json.dumps({"doc_id": 12, "text": DOC_C}) + "\\n")

    spark.sql("DROP TABLE IF EXISTS ichaos_verdicts")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(wh + "/ichaos_verdicts", ignore_errors=True)
    q = DI.start_dedup_ingest(
        spark, src, checkpoint_dir=ckpt, index_path=idx,
        sink_table="ichaos_verdicts", max_files_per_trigger=1,
    )
    q.awaitTermination()
    rows = [
        (r["id"], r["is_dup"], r["dup_of"])
        for r in spark.table("ichaos_verdicts").collect()
    ]
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    assert retries.value >= 3, "chaos never fired: %d" % retries.value
    assert len(rows) == 3, "exactly one verdict per doc: %s" % rows
    got = {i: (d, o) for i, d, o in rows}
    assert got[10] == (True, 1), got    # corpus dup found despite retries
    assert got[11] == (False, None), got
    assert got[12] == (False, None), got
    print("INGEST_CHAOS_OK retried=%d" % retries.value)
    """
)


def test_dedup_ingest_survives_injected_task_failure():
    """The index-mutating stream under task-level chaos: every batch's
    signature pass kills its first attempt of partition 0; Spark's task
    retry must mask it BEFORE any index/sink write happens, so verdicts
    stay exactly-once and the admitted index still serves later batches
    (doc 10 must match corpus doc 1 across the failure)."""
    out = subprocess.run(
        [sys.executable, "-c", INGEST_CHAOS_SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "INGEST_CHAOS_OK" in out.stdout, out.stdout + out.stderr
