"""Q-CORE golden tests against the pinned FIXTURES.md preimages."""

from __future__ import annotations

import hashlib

import pytest

from csce438_distributed_password_cracker_spark.functions import codec
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


def _job_partitions(spark, group: str) -> list[list[int]]:
    """The partition ids each job of job group ``group`` ran, one sorted
    list per job, in submission order (read from the status store after
    the listener bus has drained)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    st = sc.statusTracker()
    jobs = []
    for jid in sorted(st.getJobIdsForGroup(group)):
        ran = []
        for sid in st.getJobInfo(jid).stageIds:
            attempt = store.lastStageAttempt(sid).attemptId()
            tasks = store.taskList(sid, attempt, 1 << 20)
            ran += [tasks.apply(i).partitionId() for i in range(tasks.size())]
        jobs.append(sorted(ran))
    return jobs


def _run_in_group(spark, group: str, fn, *args, **kwargs):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn(spark, *args, **kwargs)
    finally:
        sc.setJobGroup(None, None)


def _window_edges(lo: int, count: int, parts: int, cores: int) -> list[tuple[int, int]]:
    """[first, last] ordinal of each window of a scan over ``count``
    ordinals from ``lo`` in ``parts`` partitions (spark.range puts
    partition i at ``lo + i * count // parts``), empty windows left out."""
    edges = []
    for w in range(parts // cores):
        first = lo + w * cores * count // parts
        last = lo + (w + 1) * cores * count // parts - 1
        if first <= last:
            edges.append((first, last))
    return edges


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
    # 'code' sits mid-space (ordinal 2*26^3+14*26^2+3*26+4): the windowed
    # scan must still land on the deterministic min.
    res = crack_mod.crack(spark, GOLDEN_SHA1["code"], 4)
    assert res.found and res.password == "code"
    # the probe row must equal the full-aggregation min — the A2 contract
    full = crack_mod.crack_verdict_df(spark, GOLDEN_SHA1["code"], 4).first()
    assert full["password"] == res.password


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
    keyspace unlaunched (windows are submitted one job at a time and the
    scan stops at the first window with a match).  Pinned from the
    status store so a change that scans the whole space shows up as a
    test failure, not as silent extra work."""
    from csce438_distributed_password_cracker_spark.sources.keyspace import (
        keyspace,
    )

    sc = spark.sparkContext
    total_parts = keyspace(spark, 6).rdd.getNumPartitions()
    assert total_parts >= 20, "width-6 space should span many partitions"

    target = hashlib.sha1(b"aaaaab").hexdigest()  # ordinal 1: first window
    res = _run_in_group(spark, "earlystop_probe", crack_mod.crack, target, 6)
    assert res.reply == "f aaaaab"

    jobs = _job_partitions(spark, "earlystop_probe")
    launched = sum(map(len, jobs))
    # exactly one window: one task per core, the rest never launched
    assert launched == sc.defaultParallelism, (
        f"expected one window, launched {launched} of {total_parts}"
    )


def test_width7_crack_past_reference_uint32_ceiling(spark):
    """Width-7 viability: the reference's base-26 ordinal is uint32 and
    overflows at width >= 7 (26^7 = 8.03e9 > 2^32; pass_char2num,
    server.c:199-209) — its keyspace math silently wraps there.  The
    engine's int64 ordinals are exact through width 13, so a width-7
    crack must (a) decode ordinals beyond 2^32 correctly and (b) find a
    preimage in a targeted high-ordinal window — the overflow divergence
    proven as behavior, not just documented."""
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
    at 26^7 (~2000 tasks of ~4M ordinals) must combine with the windowed
    scan so the hit costs ONE window, not an 8-billion-candidate scan —
    the scale knob (CANDIDATES_PER_TASK) and the early-stop property
    working together past the reference's ceiling."""
    from csce438_distributed_password_cracker_spark.sources.keyspace import (
        keyspace,
    )

    sc = spark.sparkContext
    total_parts = keyspace(spark, 7).rdd.getNumPartitions()
    assert total_parts >= 1000, "width-7 space should span ~2k partitions"

    target = hashlib.sha1(b"aaaaaab").hexdigest()  # ordinal 1: first window
    res = _run_in_group(spark, "earlystop_w7", crack_mod.crack, target, 7)
    assert res.reply == "f aaaaaab"

    launched = sum(map(len, _job_partitions(spark, "earlystop_w7")))
    assert launched == sc.defaultParallelism, (
        f"expected one window, launched {launched} of {total_parts}"
    )


def test_width8_envelope_chunked_loop_early_stop(spark):
    """The §4.4 recipe proven at the width-8 envelope edge
    (sources/keyspace.py: ~2.1e11 ordinals, the last width where
    partition sizing holds the ~4M/task target): a targeted-range
    crack_chunked over a 5M-ordinal window deep in the space — every
    ordinal past 2^32, i.e. past the reference's uint32 ceiling —
    must (a) answer the reference's 'f <pass>' verdict
    (server.c:251-262), (b) stop SUBMITTING chunks after the hit
    chunk, and (c) launch one window inside the hit chunk."""
    from csce438_distributed_password_cracker_spark.operators.crack import (
        crack_chunked,
    )

    n = codec.keyspace_size(8)
    assert n == 26**8 > 2 * 10**11  # the envelope being exercised

    chunk = 1_000_000
    lo = n - 5 * chunk  # 5-chunk envelope at the very top of the space
    assert lo > 2**32
    # preimage early in the SECOND chunk: chunk 1 must exhaust (full
    # scan), chunk 2 must hit in its first window, chunks 3-5 must
    # never be submitted
    target_ord = lo + chunk + 10_000
    preimage = codec.py_decode(target_ord, 8)
    assert codec.py_encode(preimage) == target_ord  # int64-exact codec
    digest = hashlib.sha1(preimage.encode()).hexdigest()

    cores = spark.sparkContext.defaultParallelism
    per_chunk_parts = crack_mod._scan_partitions(spark, chunk)
    res = _run_in_group(
        spark, "w8_chunked", crack_chunked, digest, 8,
        lower_ord=lo, upper_ord=n - 1, chunk_ordinals=chunk,
    )
    assert res.reply == f"f {preimage}"  # server.c:251-256 hit reply

    launched = sum(map(len, _job_partitions(spark, "w8_chunked")))
    # chunk 1 exhausts all its partitions; chunk 2's hit sits in its
    # first window, so one window (one task per core) runs there; the 3
    # unsubmitted chunks would have added 3×per_chunk_parts more
    assert launched == per_chunk_parts + cores, (
        f"expected one exhausted chunk + one window, launched "
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
    chunk of ordinals past the hit), (c) launch one window inside the
    hit chunk."""
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

    cores = spark.sparkContext.defaultParallelism
    per_chunk_parts = crack_mod._scan_partitions(spark, chunk)
    res = _run_in_group(
        spark, "w9_chunked", crack_chunked, digest, 9,
        lower_ord=lo, upper_ord=n - 1, chunk_ordinals=chunk,
    )
    assert res.reply == f"f {preimage}"

    launched = sum(map(len, _job_partitions(spark, "w9_chunked")))
    # waste profile: chunk 1 exhausts (per_chunk_parts tasks), chunk 2
    # runs one window, chunks 3-5 (3×per_chunk_parts tasks) are never
    # submitted
    assert launched == per_chunk_parts + cores, (
        f"expected one exhausted chunk + one window, launched "
        f"{launched} tasks ({per_chunk_parts} per chunk, 5 chunks)"
    )


def test_window_shape_hit_in_window_k_runs_k_jobs(spark):
    """The scan shape: a hit in window k runs exactly k jobs, job w
    running window w's ``defaultParallelism`` partitions, and a miss
    runs every partition exactly once, window by window in ascending
    order."""
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    n = codec.keyspace_size(5)
    parts = crack_mod._scan_partitions(spark, n)
    assert parts % cores == 0 and parts // cores >= crack_mod.MIN_WINDOWS
    windows = [list(range(w, w + cores)) for w in range(0, parts, cores)]

    # the last ordinal of window k: every earlier window comes back empty
    for k, (_, last) in enumerate(_window_edges(0, n, parts, cores), start=1):
        plain = codec.py_decode(last, 5)
        digest = hashlib.sha1(plain.encode()).hexdigest()
        group = f"window_hit_{k}"
        res = _run_in_group(spark, group, crack_mod.crack, digest, 5)
        assert res.password == plain
        assert _job_partitions(spark, group) == windows[:k]

    res = _run_in_group(spark, "window_miss", crack_mod.crack, MISS_SHA1, 5)
    assert res.reply == "x"
    assert _job_partitions(spark, "window_miss") == windows


@pytest.mark.parametrize("width", [1, 2, 3, 4, 5])
def test_crack_equals_verdict_min_at_window_edges(spark, width):
    """crack() answers crack_verdict_df's min (A2) at the first and last
    ordinal of every window and of the space.  Width 1 has more
    partitions than ordinals on a wide host, so some partitions are
    empty."""
    n = codec.keyspace_size(width)
    parts = crack_mod._scan_partitions(spark, n)
    cores = spark.sparkContext.defaultParallelism
    edges = {0, n - 1}
    for first, last in _window_edges(0, n, parts, cores):
        edges |= {first, last}
    for ordinal in sorted(edges):
        plain = codec.py_decode(ordinal, width)
        digest = hashlib.sha1(plain.encode()).hexdigest()
        verdict = crack_mod.crack_verdict_df(spark, digest, width).first()
        assert verdict["password"] == plain
        assert crack_mod.crack(spark, digest, width).password == verdict["password"]


def test_collect_partitions_reads_only_the_given_partitions(spark):
    """The private job route under _first_match (PythonRDD.runJob over
    javaToPython(), rows read back with _load_from_socket) returns the
    rows of exactly the partitions asked for, in partition order — so a
    PySpark upgrade that moves or changes it fails here, loudly."""
    df = spark.range(0, 100, 1, 10).selectExpr("id AS ordinal", "id * 2 AS twice")
    rows = crack_mod._collect_partitions(spark, df._jdf.javaToPython(), [2, 7])
    assert [r["ordinal"] for r in rows] == [*range(20, 30), *range(70, 80)]
    assert all(r["twice"] == 2 * r["ordinal"] for r in rows)
    assert crack_mod._collect_partitions(spark, df._jdf.javaToPython(), []) == []
