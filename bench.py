#!/usr/bin/env python
"""Benchmark harness: runs every declared corpus query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
    {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the noop sink (full execution, no
driver-side collect cost) and timed BEST-OF-N (default 3, interleaved):
the first execution of a plan pays one-off whole-stage-codegen JIT
(1-9s for the big multi-join pipelines) plus this box's multi-second
slow windows (BASELINE.md §C.2/§C.3 noise notes), so single-shot
timings attribute compiler warmup and host weather to whichever query
runs first with a given plan shape — r1's q_dedup_jaccard "regression"
(10.1s cold vs 2.5-3.4s warm) was exactly that.  Steady-state per-plan
cost is what a resident 100 TB engine pays.
Set SPARK_GRAFT_BENCH_RUNS=1 to reproduce the single-shot numbers.

The JSON carries per-query MIN (the headline `queries` map — best-case,
sheds host-noise windows) and MEDIAN (`queries_median` — wall-clock,
kept for the 2×-of-baseline gate; BASELINE.md §C.3 documents ±3× noise
windows on this box).  Round 9 adds the WEATHER-IMMUNE basis
(BASELINE.md §C.13): `queries_cpu_median` / `total_cpu_median` carry
per-query executor CPU seconds and `queries_shuffle_mb` the shuffle
read+write volume, both read from the status store per query
(plans/benchmetrics.py) — CPU-seconds is the round-over-round
comparison headline from r9 on, because task CPU doesn't inflate when
the shared host deschedules us.  `evictions` must be 0 for the CPU
numbers to be trusted (it counts stages evicted unread).  Round 10
adds the PYTHON side (BASELINE.md §C.18): `queries_pycpu_median` /
`total_pycpu_median` measure driver + pyspark-worker process CPU
(plans/pycpu.py, /proc-based) — the JVM column misses Arrow kernels
and driver-side folds entirely, so the round-over-round basis is the
SUM of the two columns.  The
`operators` / `operators_median` maps time the production-operator
battery (every entry of plans/opbench.py:OPERATOR_BENCH — the registry
is the source of truth; see its module docstring for the current
roster) under the same protocol, reported SEPARATELY from the corpus
total so round-over-round query comparisons stay apples-to-apples.

`q_dedup_sketch` is timed in its PRODUCTION hash mode (xxhash64 — the
operators' default and what a deployment pays) via
q_dedup_sketch_production; the driver's correctness gate keeps the
portable md5-60 twin, which costs ~2× more and exists only to give the
pipeline a DuckDB oracle.  Set SPARK_GRAFT_BENCH_SKETCH=portable to
time the gate configuration instead (reproduces the r1/r2 numbers).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: E402
from pyspark.sql.functions import pandas_udf  # noqa: E402

from csce438_distributed_password_cracker_spark.plans import corpus  # noqa: E402
from csce438_distributed_password_cracker_spark.plans import pipeline_queries  # noqa: E402
from csce438_distributed_password_cracker_spark.session import get_spark  # noqa: E402


BENCH_LAST = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_last.json"
)


def write_last(line: str, path: str = BENCH_LAST) -> None:
    """Persist the one-line payload.  By now the timed run has finished
    and its line is on stdout, so a failed write (read-only checkout,
    full disk) is a warning on stderr, never a failed bench."""
    try:
        with open(path, "w") as f:
            f.write(line + "\n")
    except OSError as e:
        print(f"bench.py: warning: could not write {path}: {e}", file=sys.stderr)


def write_detail(payload: dict, path: str) -> None:
    """Persist the detail payload; a failed write warns, as in
    :func:`write_last`."""
    write_last(json.dumps(payload, indent=1, sort_keys=True), path)


def _warm_daemons_udf():
    """Identity Arrow kernel: forces the pyspark worker daemons up (fork
    + pandas import) before the timed passes, so that one-off cost never
    attributes to the first Arrow query's py-CPU window (§C.18).  Built
    lazily — the decorator parses its return type against the active
    session, which doesn't exist at import time."""

    @pandas_udf("long")
    def _warm(v: pd.Series) -> pd.Series:
        return v

    return _warm


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # SPARK_GRAFT_BENCH_ONLY: comma-separated entry names (corpus queries
    # and/or operator-battery entries) — run just those, e.g. the heavy
    # documents/embeddings families at a scaled corpus (BASELINE.md
    # §C.10).  Unknown names fail loudly: a typo must not silently bench
    # an empty set and report a vacuous total.
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    only = {s.strip() for s in only_env.split(",") if s.strip()} or None

    sketch_mode = os.environ.get("SPARK_GRAFT_BENCH_SKETCH", "production")
    if sketch_mode not in ("production", "portable"):
        # a typo must not silently bench the ~2x-slower portable mode
        # under a mislabeled sketch_mode in the emitted JSON
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_SKETCH={sketch_mode!r}: "
            "expected 'production' or 'portable'"
        )
    overrides = (
        {"q_dedup_sketch": pipeline_queries.q_dedup_sketch_production}
        if sketch_mode == "production"
        else {}
    )

    # retainedStages must exceed the whole run's stage count (3 passes ×
    # 70 entries ≈ a few thousand stages): the default 1000 evicts
    # stages between polls and the CPU accounting reports them as
    # n_unseen_evictions (observed: 115 in the first r9 anchor attempt)
    spark = get_spark(
        app_name="pwdcrack-bench",
        extra_conf={"spark.ui.retainedStages": "100000"},
    )
    samples: dict[str, list[float]] = {}

    # Warm the JVM/session on a trivial job so q1 doesn't absorb startup.
    spark.range(1000).count()

    # Weather-immune metrics: executor CPU + shuffle bytes per query
    # (BASELINE.md §C.13).  Construction primes away startup stages.
    from csce438_distributed_password_cracker_spark.plans.benchmetrics import (  # noqa: E402
        StageMetricsTracker,
    )

    tracker = StageMetricsTracker(spark)

    # §C.18 second column: Python-side CPU (driver + pyspark workers)
    # — executorCpuTime is JVM task threads only, so Arrow-kernel and
    # driver-loop queries under-report in the §C.13 basis; this column
    # closes the one hole through which moving work JVM→Python would
    # read as a CPU improvement.  Warm the worker daemons first so the
    # fork + numpy/pandas import cost doesn't attribute to whichever
    # Arrow query happens to run first.
    from csce438_distributed_password_cracker_spark.plans.pycpu import (  # noqa: E402
        PythonCpuTracker,
    )

    spark.range(1000).select(_warm_daemons_udf()("id")).write.format(
        "noop"
    ).mode("overwrite").save()
    tracker.delta()  # warmup stages belong to no query
    py_tracker = PythonCpuTracker()
    metric_samples: dict[str, list[dict]] = {}

    # Ingest-time builds run BEFORE the timed passes and are reported
    # separately: q_join_bucketed's bucketed tables are a pay-once shuffle
    # at ingest (the zero-exchange probe is what the bench entry tracks).
    from csce438_distributed_password_cracker_spark.plans import relational  # noqa: E402

    setup = {}
    if only is None or "q_join_bucketed" in only:
        t0 = time.perf_counter()
        relational.ensure_bucketed_tables(spark, sf_dir)
        setup["bucketed_build"] = round(time.perf_counter() - t0, 3)
        tracker.delta()  # don't attribute the setup's stages to query 1
        py_tracker.delta()

    # Interleave the passes (run the whole corpus, then run it again) rather
    # than timing each query back-to-back: this box's slowdowns come in
    # multi-second windows (shared host), and back-to-back repeats put BOTH
    # runs of a query inside the same window — an interleaved second pass
    # lands ~minutes later, so per-query minima decorrelate from any single
    # window.  Pass 1 doubles as the per-plan codegen-JIT warmup.
    # Three interleaved passes (≈7 min wall at sf0.1): this box's slow
    # windows can span a whole pass, and per-query minima over three
    # passes minutes apart shed one bad window entirely (BASELINE.md §C.3).
    # Production-operator battery (round 5): the heavy operators whose
    # full-scale shape lives outside the gate corpus (paragraph dedup,
    # SemDeDup, global shuffle, packing, BM25 build) get their own timed
    # entries under `operators` — same interleaved protocol, reported
    # separately so the corpus total stays comparable round-over-round.
    from csce438_distributed_password_cracker_spark.plans import opbench  # noqa: E402

    op_samples: dict[str, list[float]] = {}
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    corpus_names = sorted(corpus.REGISTRY)
    op_names = sorted(opbench.OPERATOR_BENCH)
    if only is not None:
        unknown = only - set(corpus_names) - set(op_names)
        if unknown:
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_ONLY names unknown entries: {sorted(unknown)}"
            )
        corpus_names = [n for n in corpus_names if n in only]
        op_names = [n for n in op_names if n in only]
    for _ in range(max(1, runs)):
        for name in corpus_names:
            fn = overrides.get(name, corpus.REGISTRY[name].fn)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.setdefault(name, []).append(time.perf_counter() - t0)
            m = tracker.delta()
            pyd = py_tracker.delta_detail()
            m["py_cpu_sec"] = round(pyd["driver"] + pyd["workers"], 3)
            m["py_cpu_driver_sec"] = pyd["driver"]
            m["py_cpu_workers_sec"] = pyd["workers"]
            metric_samples.setdefault(name, []).append(m)
        for name in op_names:
            t0 = time.perf_counter()
            opbench.OPERATOR_BENCH[name](spark, sf_dir)
            op_samples.setdefault(name, []).append(time.perf_counter() - t0)
            m = tracker.delta()
            pyd = py_tracker.delta_detail()
            m["py_cpu_sec"] = round(pyd["driver"] + pyd["workers"], 3)
            m["py_cpu_driver_sec"] = pyd["driver"]
            m["py_cpu_workers_sec"] = pyd["workers"]
            metric_samples.setdefault(name, []).append(m)

    timings = {name: round(min(s), 3) for name, s in samples.items()}
    medians = {
        name: round(statistics.median(s), 3) for name, s in samples.items()
    }
    op_timings = {name: round(min(s), 3) for name, s in op_samples.items()}
    op_medians = {
        name: round(statistics.median(s), 3)
        for name, s in op_samples.items()
    }
    total = round(sum(timings.values()), 3)

    def _med(name: str, key: str) -> float:
        return statistics.median(m[key] for m in metric_samples[name])

    cpu_medians = {
        n: round(_med(n, "cpu_sec"), 3)
        for n in metric_samples
        if n in samples
    }
    op_cpu_medians = {
        n: round(_med(n, "cpu_sec"), 3)
        for n in metric_samples
        if n in op_samples
    }
    pycpu_medians = {
        n: round(_med(n, "py_cpu_sec"), 3)
        for n in metric_samples
        if n in samples
    }
    op_pycpu_medians = {
        n: round(_med(n, "py_cpu_sec"), 3)
        for n in metric_samples
        if n in op_samples
    }
    # §C.19 split of the Python column: driver-process CPU (greedy
    # folds, manifest collects, driver-side hash pruning) vs pyspark
    # WORKER CPU (Arrow kernels) — lets a driver-loop floor be tracked
    # separately from distributed kernel compute.  Medians are taken
    # per component, so driver+workers may differ from the total's
    # median by a rounding tick on noisy entries.
    pycpu_driver = {
        n: round(_med(n, "py_cpu_driver_sec"), 3)
        for n in metric_samples
        if n in samples
    }
    pycpu_workers = {
        n: round(_med(n, "py_cpu_workers_sec"), 3)
        for n in metric_samples
        if n in samples
    }
    op_pycpu_driver = {
        n: round(_med(n, "py_cpu_driver_sec"), 3)
        for n in metric_samples
        if n in op_samples
    }
    op_pycpu_workers = {
        n: round(_med(n, "py_cpu_workers_sec"), 3)
        for n in metric_samples
        if n in op_samples
    }
    def _shuffle_mb(n: str) -> float:
        return round(
            (_med(n, "shuffle_read_bytes") + _med(n, "shuffle_write_bytes"))
            / 1e6,
            2,
        )

    # split by origin, like the CPU maps: queries_shuffle_mb is the
    # per-QUERY plan-regression signal and must not carry operator-
    # battery entries
    shuffle_mb = {n: _shuffle_mb(n) for n in metric_samples if n in samples}
    op_shuffle_mb = {
        n: _shuffle_mb(n) for n in metric_samples if n in op_samples
    }
    # n_unseen_evictions is cumulative within the tracker, so the run's
    # total is the max ever reported
    evictions = max(
        (
            m["n_unseen_evictions"]
            for ms in metric_samples.values()
            for m in ms
        ),
        default=0,
    )
    payload = {
        "metric": "corpus_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "total_median": round(sum(medians.values()), 3),
        "operators": op_timings,
        "operators_median": op_medians,
        # §C.13 weather-immune basis: executor CPU seconds (JVM task
        # threads; Python-worker CPU excluded — see benchmetrics.py) and
        # shuffle read+write MB, medians over the interleaved passes.
        "queries_cpu_median": cpu_medians,
        "total_cpu_median": round(sum(cpu_medians.values()), 3),
        "operators_cpu_median": op_cpu_medians,
        # §C.18: Python-side CPU (driver + pyspark worker process tree,
        # plans/pycpu.py) — the JVM column's blind spot.  Combined
        # basis = queries_cpu_median + queries_pycpu_median.
        "queries_pycpu_median": pycpu_medians,
        "total_pycpu_median": round(sum(pycpu_medians.values()), 3),
        "operators_pycpu_median": op_pycpu_medians,
        # §C.19 driver/workers split of the Python column
        "queries_pycpu_driver": pycpu_driver,
        "queries_pycpu_workers": pycpu_workers,
        "total_pycpu_driver": round(sum(pycpu_driver.values()), 3),
        "total_pycpu_workers": round(sum(pycpu_workers.values()), 3),
        "operators_pycpu_driver": op_pycpu_driver,
        "operators_pycpu_workers": op_pycpu_workers,
        "queries_shuffle_mb": shuffle_mb,
        "operators_shuffle_mb": op_shuffle_mb,
        "evictions": evictions,
        "runs": max(1, runs),
        "only": sorted(only) if only else None,
        "setup": setup,
        "sketch_mode": sketch_mode,
        "sf": sf,
    }
    line = json.dumps(payload)
    print(line)
    # Redundancy for the one-line-JSON handoff (round 12, VERDICT r11
    # next #2): the round-10 driver capture parsed nothing (`parsed:
    # null`, only a 2000-char stdout tail survived) and the whole
    # round-over-round table was lost.  Write the IDENTICAL payload to
    # BENCH_last.json next to this file so the comparison can always be
    # reconstructed from the repo.  Unconditional and tiny; the detail
    # file below stays the opt-out-able heavyweight.
    write_last(line)
    # The driver truncates the stdout line into BENCH_r{N}.json's `tail`,
    # losing the per-query min dict — also write the full payload to a
    # repo file so round-over-round diffs stay machine-readable without
    # BASELINE.md prose.  SPARK_GRAFT_BENCH_DETAIL overrides the path;
    # set it to empty to skip the write (ad-hoc sf0.01 runs).
    detail = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_detail_latest.json",
        ),
    )
    if detail:
        # raw per-pass samples (detail file only — the stdout line the
        # driver truncates stays compact): lets a regression be
        # attributed to WITHIN-RUN drift (pass 3 systematically slower
        # than pass 1 ⇒ session/GC state accumulating across the
        # 50-query run) vs host weather (isolated multi-second spikes)
        # without rerunning.
        detail_payload = {
            **payload,
            "samples": {
                n: [round(x, 3) for x in s] for n, s in samples.items()
            },
            "operator_samples": {
                n: [round(x, 3) for x in s] for n, s in op_samples.items()
            },
            # full per-pass stage-metric dicts (cpu/run sec, shuffle/io
            # bytes, stage counts) — the raw material behind
            # queries_cpu_median, for attributing any CPU delta to a pass
            "metric_samples": metric_samples,
        }
        write_detail(detail_payload, detail)


if __name__ == "__main__":
    main()
