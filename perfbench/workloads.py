"""The three workloads.  Each makes its inputs from the seed, checks every
op's answer, and calls only public functions of the engine.

An op is one crack request (crack_request), one stream request
(request_stream) or one dedup job (dedup_batch).  RATIONALE.md says
why each workload exists and which layers it loads.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from csce438_distributed_password_cracker_spark.catalog import load_table
from csce438_distributed_password_cracker_spark.functions import codec
from csce438_distributed_password_cracker_spark.operators.crack import (
    candidates_matching,
    crack,
)
from csce438_distributed_password_cracker_spark.operators.dedup import (
    connected_components,
    ngram_jaccard_pairs,
)
from csce438_distributed_password_cracker_spark.oracle import compare_query
from csce438_distributed_password_cracker_spark.sources.keyspace import (
    keyspace,
    num_partitions_for,
)
from csce438_distributed_password_cracker_spark.streaming.requests import (
    answer_request_batch,
)

from . import corpus
from .tracing import StageTotals, Tracer

UNTRACED = Tracer(None)
TINY_DOCS = 400  # dedup corpus size in the self-test's tiny mode


def sha1_hex(s: str) -> str:
    return hashlib.sha1(s.encode()).hexdigest()


def miss_digest(*salt) -> str:
    """A digest no lowercase candidate has: its preimage holds ':'."""
    return sha1_hex("miss:" + ":".join(map(str, salt)))


@dataclass
class Run:
    """What one timed window produced."""

    latencies: list[float] = field(default_factory=list)
    failed: int = 0
    wall_s: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def attempted(self) -> int:
        return len(self.latencies)


def p90(values: list[float]) -> float:
    """90th percentile, inclusive method; a single value is its own."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} raised:\n{traceback.format_exc()}", file=sys.stderr)


def until_steady(op, min_ops: int, max_ops: int, tolerance: float = 0.1) -> tuple[int, bool]:
    """Repeat ``op`` (which returns whether it answered correctly) until two
    consecutive latencies agree within ``tolerance`` and at least
    ``min_ops`` ran.  Returns (ops run, every answer correct)."""
    prev, all_ok = None, True
    for k in range(1, max_ops + 1):
        t = time.perf_counter()
        all_ok &= op()
        lat = time.perf_counter() - t
        print(f"perfbench: warm-up op {k}: {lat:.3f} s", file=sys.stderr)
        if k >= min_ops and prev is not None and abs(lat - prev) <= tolerance * prev:
            return k, all_ok
        prev = lat
    return max_ops, all_ok


class ClosedLoop:
    """One client: the next op is sent when the previous one has answered.

    Subclasses define ``execute(k, tracer) -> bool`` for op ``k`` of the
    seeded op sequence.
    """

    #: the timed window closes only on a multiple of this many ops, so a
    #: run never ends part-way through a group whose mix is fixed
    GROUP = 1

    def __init__(self, spark, seed: int, plant_wrong: bool = False) -> None:
        self.spark = spark
        self.seed = seed
        self.plant_wrong = plant_wrong  # self-test: op 0's expected answer is wrong
        self.tiny = False  # self-test: one warm-up op, short probes
        self.layer: dict[str, list[float]] = {}

    def record(self, **values: float) -> None:
        for k, v in values.items():
            self.layer.setdefault(k, []).append(v)

    def _timed(self, k: int, tracer: Tracer) -> tuple[float, bool]:
        t = time.perf_counter()
        try:
            with tracer.span(self.OP_SPAN, k):
                ok = self.execute(k, tracer)
        except Exception:  # an op that raises counts as failed, the run goes on
            _log_failure(f"{self.name} op {k}")
            ok = False
        return time.perf_counter() - t, ok

    def run(self, seconds: float, tracer: Tracer = UNTRACED) -> Run:
        out = Run()
        t0 = time.perf_counter()
        k = 0
        while time.perf_counter() - t0 < seconds or k % self.GROUP:
            lat, ok = self._timed(k, tracer)
            out.latencies.append(lat)
            out.failed += not ok
            k += 1
        out.wall_s = time.perf_counter() - t0
        return out

    def run_paired(self, seconds: float, tracer: Tracer) -> tuple[Run, Run]:
        """Each op twice, untraced and traced, alternating which goes
        first; the paired latency differences give the tracing overhead."""
        plain, traced = Run(), Run()
        t0 = time.perf_counter()
        k = 0
        while time.perf_counter() - t0 < seconds:
            order = ((plain, UNTRACED), (traced, tracer))
            for run, tr in order if k % 2 == 0 else order[::-1]:
                lat, ok = self._timed(k, tr)
                run.latencies.append(lat)
                run.failed += not ok
            k += 1
        for run in (plain, traced):
            run.wall_s = sum(run.latencies)
        return plain, traced


class CrackRequest(ClosedLoop):
    """Sequential ``crack(spark, digest, 5)`` calls.

    Ops come in blocks of eight, one per eighth of the keyspace: seven
    hits, each drawn uniformly from its eighth, and a miss in place of the
    last eighth (a miss and a hit there both run every take wave to the
    end).  Eighths line up with the 4 or 8 keyspace partitions of a 4- or
    8-core session, so the share of ops answered by the first take wave
    does not depend on the seed.  The order inside a block is a
    bit-reversal: each half-block of four holds one first-wave hit and
    three ops that run both waves, and the timed window closes on a
    half-block, so the mix does not depend on how many ops fit in it.
    """

    name = "crack_request"
    OP_SPAN = "crack_request.op"
    GROUP = 4
    WIDTH = 5
    SLOTS = (0, 4, 2, 6, 1, 5, 3, 7)  # slot 7 is the miss

    def __init__(self, spark, seed: int, plant_wrong: bool = False) -> None:
        super().__init__(spark, seed, plant_wrong)
        self.n = codec.keyspace_size(self.WIDTH)
        self.parts = num_partitions_for(self.n, spark)

    def request(self, k: int) -> tuple[str, str, int | None]:
        """(digest, expected reply, hit ordinal or None) of op ``k``."""
        slot = self.SLOTS[k % 8]
        if slot == 7:
            return miss_digest(self.seed, k), "x", None
        rng = random.Random(f"crack:{self.seed}:{k}")
        lo, hi = slot * self.n // 8, (slot + 1) * self.n // 8
        ordinal = rng.randrange(lo, hi)
        plain = codec.py_decode(ordinal, self.WIDTH)
        return sha1_hex(plain), f"f {plain}", ordinal

    def setup(self) -> tuple[int, bool]:
        """Warm the op until its latency is steady.  The warm op's hit
        sits in the first partition at a seed-independent ordinal."""
        plain = codec.py_decode(self.n // self.parts // 2, self.WIDTH)
        digest = sha1_hex(plain)
        return until_steady(
            lambda: crack(self.spark, digest, self.WIDTH).reply == f"f {plain}",
            *((1, 1) if self.tiny else (2, 5)),
        )

    def execute(self, k: int, tracer: Tracer) -> bool:
        digest, expected, ordinal = self.request(k)
        if self.plant_wrong and k == 0:
            expected = "f wrong"
        with tracer.span("operators.crack.crack", k) as tag:
            reply = crack(self.spark, digest, self.WIDTH).reply
        if tag is not None:
            t = tracer.store.totals(tag)
            launched = t.tasks * self.n // self.parts  # take waves scan a prefix
            proven = self.n if ordinal is None else ordinal + 1
            self.record(jobs=t.jobs, tasks=t.tasks, useful=proven / max(launched, 1))
        return reply == expected

    def layer_metrics(self, traced: Run, tracer: Tracer) -> dict[str, float]:
        mean = statistics.fmean
        return {
            "crack.jobs_per_op": mean(self.layer["jobs"]),
            "crack.tasks_per_op": mean(self.layer["tasks"]),
            "crack.useful_ratio": mean(self.layer["useful"]),
        }


class DedupBatch(ClosedLoop):
    """Each op: ``ngram_jaccard_pairs(n=3, threshold=0.8)`` then
    ``connected_components`` over the seeded documents table, reduced to
    a checksum that is compared with the Python reference."""

    name = "dedup_batch"
    OP_SPAN = "dedup_batch.op"

    def __init__(self, spark, seed: int, run_dir: str, plant_wrong: bool = False,
                 n_docs: int = corpus.N_DOCS) -> None:
        super().__init__(spark, seed, plant_wrong)
        self.run_dir = run_dir
        self.n_docs = n_docs

    def setup(self) -> tuple[int, bool]:
        rows, roots = corpus.documents(self.seed, self.n_docs)
        full = os.path.join(self.run_dir, "docs_full")
        subset = os.path.join(self.run_dir, "docs_subset")
        corpus.write_table(rows, full)
        corpus.write_table(corpus.oracle_subset(rows, roots), subset)
        self.expected = corpus.checksum(corpus.reference_components(rows))
        res = compare_query(self.spark, "q_dedup_components", subset)
        if not res.ok:
            print(f"perfbench: q_dedup_components oracle: {res.detail}", file=sys.stderr)
        self.docs = load_table(self.spark, full, "documents")
        self.ids = self.docs.select(F.col("doc_id").alias("id"))
        ops, ok = until_steady(
            lambda: self.execute(-1, UNTRACED), *((1, 1) if self.tiny else (2, 4))
        )
        return ops, ok and res.ok

    def _edges(self):
        return ngram_jaccard_pairs(
            self.docs, "doc_id", "text", n=3, threshold=0.8
        ).select("id_a", "id_b")

    def _checksum(self, edges) -> tuple:
        row = connected_components(self.ids, edges).agg(
            *corpus.checksum_columns(F)
        ).first()
        return tuple(row)

    def execute(self, k: int, tracer: Tracer) -> bool:
        expected = self.expected
        if self.plant_wrong and k == 0:
            expected = (expected[0] + 1,) + expected[1:]
        if not tracer.enabled:
            return self._checksum(self._edges()) == expected
        t = time.perf_counter()
        with tracer.span("operators.dedup.ngram_jaccard_pairs", k) as jtag:
            edges = self._edges().localCheckpoint(eager=True)
        t_j = time.perf_counter()
        with tracer.span("operators.dedup.connected_components", k) as ctag:
            got = self._checksum(edges)
        t_c = time.perf_counter()
        jt, ct = tracer.store.totals(jtag), tracer.store.totals(ctag)
        self.record(
            jaccard_s=t_j - t, cc_s=t_c - t_j, cc_jobs=ct.jobs,
            shuffle_mb=jt.shuffle_write_mb + ct.shuffle_write_mb,
            spill_mb=jt.spill_mb + ct.spill_mb,
        )
        self.last_edges = edges  # counted after the timed window
        return got == expected

    def layer_metrics(self, traced: Run, tracer: Tracer) -> dict[str, float]:
        med = statistics.median
        return {
            "dedup.jaccard_s": med(self.layer["jaccard_s"]),
            "dedup.cc_s": med(self.layer["cc_s"]),
            "dedup.cc_jobs": med(self.layer["cc_jobs"]),
            "dedup.pairs": self.last_edges.count(),
            "dedup.shuffle_mb": med(self.layer["shuffle_mb"]),
            "dedup.spill_mb": med(self.layer["spill_mb"]),
        }


@dataclass(frozen=True)
class Request:
    due: float  # seconds after the window opens
    rid: int
    digest: str
    width: int
    expected: str


class RequestStream:
    """Open loop: requests arrive on a seeded schedule whether or not the
    engine keeps up, and each is timed from when it was due.

    A single loop plays generator and batcher: at each batch start it
    takes every request already due and answers them with one
    ``answer_request_batch`` call over a JVM-side VALUES frame.
    """

    name = "request_stream"
    OP_SPAN = "request_stream.batch"
    RATE_RPS = 3.0
    SWEEP_RPS = (3.0, 12.0, 48.0)  # the traced run's fixed rates
    P90_LIMIT_S = 2.5  # the latency limit max_rate_rps is judged against
    WIDTHS = (3, 4)

    def __init__(self, spark, seed: int, plant_wrong: bool = False) -> None:
        self.spark = spark
        self.seed = seed
        self.plant_wrong = plant_wrong
        self.tiny = False
        self.batches: list[dict] = []

    def schedule(self, rate: float, seconds: float, salt: str = "") -> list[Request]:
        """``rate * seconds`` requests at sorted uniform times: a Poisson
        process conditioned on its count, so every seed offers the same
        load.  About 1 in 5 repeats one of the last 8 hashes and 1 in 10
        is a miss."""
        rng = random.Random(f"stream:{self.seed}:{salt}")
        n = max(1, round(rate * seconds))
        dues = sorted(rng.uniform(0, seconds) for _ in range(n))
        out: list[Request] = []
        for i, due in enumerate(dues):
            if out and rng.random() < 0.2:
                prev = rng.choice(out[-8:])
                out.append(Request(due, i, prev.digest, prev.width, prev.expected))
                continue
            width = rng.choice(self.WIDTHS)
            if rng.random() < 0.125:
                out.append(Request(due, i, miss_digest(self.seed, salt, i), width, "x"))
                continue
            plain = codec.py_decode(rng.randrange(codec.keyspace_size(width)), width)
            out.append(Request(due, i, sha1_hex(plain), width, f"f {plain}"))
        return out

    def answer(self, batch: list[Request], tracer: Tracer) -> dict[int, str]:
        values = ", ".join(f"({r.rid}, '{r.digest}', {r.width})" for r in batch)
        reqs = self.spark.sql(
            "SELECT CAST(request_id AS BIGINT) AS request_id, hash, "
            "CAST(width AS INT) AS width, CAST(NULL AS TIMESTAMP) AS submitted_at "
            f"FROM VALUES {values} AS t(request_id, hash, width)"
        )
        with tracer.span("streaming.requests.answer_request_batch", batch[0].rid):
            rows = answer_request_batch(self.spark, reqs).select(
                "request_id", "reply"
            ).collect()
        return {r["request_id"]: r["reply"] for r in rows}

    def setup(self) -> tuple[int, bool]:
        """Warm a fixed mixed-width batch until its latency is steady.
        Planning code keeps getting faster for about ten batches (10 s,
        then 2.8, 2.6, 1.8 ... 1.2 s), so ten run before the check."""
        warm = self.schedule(8.0, 1.0, salt="warm")

        def op() -> bool:
            got = self.answer(warm, UNTRACED)
            return all(got.get(r.rid) == r.expected for r in warm)

        return until_steady(op, *((1, 1) if self.tiny else (10, 16)))

    def run(self, seconds: float, tracer: Tracer = UNTRACED, rate: float | None = None,
            salt: str = "") -> Run:
        sched = self.schedule(rate or self.RATE_RPS, seconds, salt)
        if self.plant_wrong:
            r = sched[0]
            sched[0] = Request(r.due, r.rid, r.digest, r.width, "f wrong")
        out = Run(latencies=[0.0] * len(sched))
        lags, busy, batches = [], 0.0, []
        t0 = time.perf_counter()
        i = 0
        while i < len(sched):
            now = time.perf_counter() - t0
            if sched[i].due > now:
                time.sleep(sched[i].due - now)
                lags.append(time.perf_counter() - t0 - sched[i].due)
                continue
            j = i
            while j < len(sched) and sched[j].due <= now:
                j += 1
            batch = sched[i:j]
            with tracer.span(self.OP_SPAN, i) as tag:
                try:
                    got = self.answer(batch, tracer)
                except Exception:  # a failed batch fails its requests, the run goes on
                    _log_failure(f"{self.name} batch at request {i}")
                    got = {}
            end = time.perf_counter() - t0
            busy += end - now
            for r in batch:
                out.latencies[r.rid] = end - r.due
                out.failed += got.get(r.rid) != r.expected
            rec = {"size": len(batch), "batch_s": end - now,
                   "queue_wait_s": statistics.median(now - r.due for r in batch),
                   "widths": len({r.width for r in batch})}
            if tag is not None:
                rec["jobs"] = tracer.store.totals(tag).jobs
            batches.append(rec)
            i = j
        out.wall_s = time.perf_counter() - t0
        out.info = {"requests": len(sched), "batches": len(batches),
                    "busy_ratio": busy / out.wall_s,
                    "generator_lag_s": statistics.median(lags) if lags else 0.0}
        self.batches = batches
        return out

    def run_paired(self, seconds: float, tracer: Tracer) -> tuple[Run, Run]:
        """One schedule played four times, untraced, traced, traced,
        untraced, so a drift over the window cancels out of the paired
        latency differences."""
        plain, traced = Run(), Run()
        batches = []
        for into, tr in ((plain, UNTRACED), (traced, tracer), (traced, tracer), (plain, UNTRACED)):
            part = self.run(seconds / 4, tr, salt="paired")
            into.latencies += part.latencies
            into.failed += part.failed
            into.wall_s += part.wall_s
            if tr.enabled:
                batches += self.batches
                into.info = part.info
        self.batches = batches
        return plain, traced

    def layer_metrics(self, traced: Run, tracer: Tracer) -> dict[str, float]:
        b = self.batches
        med = statistics.median
        out = {
            "requests.batch_size": med(r["size"] for r in b),
            "requests.batch_s": med(r["batch_s"] for r in b),
            "requests.queue_wait_s": med(r["queue_wait_s"] for r in b),
            "requests.jobs_per_batch": med(r["jobs"] for r in b),
            "requests.scans_per_request": sum(r["widths"] for r in b) / sum(r["size"] for r in b),
            "requests.backlog_max": max(r["size"] for r in b),
            "requests.generator_lag_s": traced.info["generator_lag_s"],
        }
        out["requests.max_rate_rps"] = self.max_rate(tracer, 1.0 if self.tiny else 3.0)
        return out

    def max_rate(self, tracer: Tracer, seconds: float) -> float:
        """Highest of SWEEP_RPS whose p90 meets P90_LIMIT_S with no growing
        backlog (the last third of batches waits no longer than 1.5x the
        first third plus one batch time); 0 if none does."""
        best = 0.0
        for rate in self.SWEEP_RPS:
            run = self.run(seconds, tracer, rate=rate, salt=f"sweep{rate}")
            b = self.batches
            third = max(1, len(b) // 3)
            head = statistics.fmean(r["queue_wait_s"] for r in b[:third])
            tail = statistics.fmean(r["queue_wait_s"] for r in b[-third:])
            growing = tail > 1.5 * head + statistics.median(r["batch_s"] for r in b)
            if p90(run.latencies) <= self.P90_LIMIT_S and not growing and not run.failed:
                best = rate
        return best


def stream_probe(spark, seed: int, tracer: Tracer,
                 tiny: bool = False) -> tuple[dict[str, float], Run, bool]:
    """The streaming.requests layer, measured inside another workload's
    traced run because request_stream is not in BENCHMARK.json
    (RATIONALE.md says why).  Returns its layer metrics, its traced
    requests, and whether the warm-up answered correctly."""
    rs = RequestStream(spark, seed)
    rs.tiny = tiny
    _, ok = rs.setup()
    run = rs.run(1.0 if tiny else 6.0, tracer, salt="probe")
    return rs.layer_metrics(run, tracer), run, ok


def ladder(spark, tracer: Tracer, width: int = 5, reps: int = 2) -> dict[str, float]:
    """The keyspace scan layer by layer (ROADMAP D2): each step adds one
    expression to the previous one and is materialized through ``noop``.
    Reports the best of ``reps`` in wall and executor-CPU ns per candidate."""
    n = codec.keyspace_size(width)
    miss = miss_digest("ladder")
    steps = {
        "range": lambda: spark.range(0, n, 1, num_partitions_for(n, spark)),
        "decode": lambda: keyspace(spark, width),
        "hash": lambda: keyspace(spark, width).select(F.sha1("candidate")),
        "filter": lambda: candidates_matching(spark, miss, width),
    }
    out: dict[str, float] = {}
    for _ in range(reps):
        for name, make in steps.items():
            t = time.perf_counter()
            with tracer.span(f"ladder.{name}") as tag:
                make().write.format("noop").mode("overwrite").save()
            wall_ns = (time.perf_counter() - t) * 1e9 / n
            cpu_ns = tracer.store.totals(tag).cpu_s * 1e9 / n
            for key, v in ((f"ladder.{name}_ns", wall_ns), (f"ladder.{name}_cpu_ns", cpu_ns)):
                out[key] = min(out.get(key, v), v)
    return out


def spark_runtime(tracer: Tracer, op_span: str, ops: int, wall_s: float,
                  cores: int) -> dict[str, float]:
    """Status-store totals over every traced op's jobs."""
    t = StageTotals()
    for s in tracer.spans:
        if s.name == op_span:
            t.add(tracer.store.totals(s.tag))
    return {
        "spark.executor_cpu_s_per_op": t.cpu_s / ops,
        "spark.gc_s_per_op": t.gc_s / ops,
        "spark.jobs_per_op": t.jobs / ops,
        "spark.tasks_per_op": t.tasks / ops,
        "spark.shuffle_mb_per_op": t.shuffle_write_mb / ops,
        "spark.spill_mb_per_op": t.spill_mb / ops,
        "spark.peak_exec_mem_mb": t.peak_exec_mem_mb,
        "spark.core_busy_ratio": t.run_s / (cores * wall_s),
    }
