#!/usr/bin/env python
"""Benchmark harness: times every declared corpus query and every
production-operator battery entry (plans/opbench.py) on the corpus
directory $SPARK_GRAFT_SF_DIR (default: the sf0.1 corpus) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line, also written to
BENCH_last.json.

Why the protocol holds:

- **Interleaved best-of-N.**  One pass runs every entry once, and the
  N passes (SPARK_GRAFT_BENCH_RUNS, default 3) run one after another,
  so the runs of one entry land minutes apart.  The first run of a plan
  pays one-off whole-stage-codegen JIT, and the shared host slows down
  in windows of seconds up to a whole pass.  Back-to-back repeats would
  put every run of an entry inside the same window; per-entry minima
  and medians over interleaved passes shed it.
- **JVM + Python CPU basis.**  CPU seconds do not inflate when the host
  deschedules us, so they are the comparison basis; wall time stays in
  the payload.  Executor CPU (plans/benchmetrics.py) counts JVM task
  threads only, so driver and pyspark-worker CPU (plans/pycpu.py) is
  recorded beside it and comparisons use the sum: work moved from the
  JVM into Python cannot read as a saving.
- **Evictions.**  A stage that leaves the status store unread takes
  its CPU with it.  ``evictions`` counts such stages; it must be 0 for
  the CPU numbers to be trusted.

Each (entry, pass) yields one record (:func:`sample`), and
:func:`summarize` derives every payload map and total from the records.
Corpus queries are materialized through the noop sink; ``q_dedup_sketch``
is timed in its production hash mode (xxhash64), not the portable
md5-60 twin that exists only to give the gate a DuckDB oracle.

SPARK_GRAFT_BENCH_ONLY=a,b runs just the named entries.  The detail
file (SPARK_GRAFT_BENCH_DETAIL, default BENCH_detail_latest.json; empty
skips it) adds the raw records to the payload.
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

from csce438_distributed_password_cracker_spark.plans import (  # noqa: E402
    corpus,
    opbench,
    pipeline_queries,
    relational,
)
from csce438_distributed_password_cracker_spark.plans.benchmetrics import (  # noqa: E402
    StageMetricsTracker,
)
from csce438_distributed_password_cracker_spark.plans.pycpu import (  # noqa: E402
    PythonCpuTracker,
)
from csce438_distributed_password_cracker_spark.session import get_spark  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_LAST = os.path.join(HERE, "BENCH_last.json")

#: corpus entries timed through another plan than the gate's
TIMED_AS = {"q_dedup_sketch": pipeline_queries.q_dedup_sketch_production}

#: payload map suffix -> (record field, per-entry reducer over passes);
#: each map is emitted once per origin, ``queries`` and ``operators``
MAPS = {
    "": ("wall_sec", min),
    "_median": ("wall_sec", statistics.median),
    "_cpu_median": ("cpu_sec", statistics.median),
    "_pycpu_median": ("py_cpu_sec", statistics.median),
    "_pycpu_driver": ("py_cpu_driver_sec", statistics.median),
    "_pycpu_workers": ("py_cpu_workers_sec", statistics.median),
}


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
    lands in the first Arrow query's Python CPU.  Built lazily — the
    decorator parses its return type against the active session, which
    doesn't exist at import time."""

    @pandas_udf("long")
    def _warm(v: pd.Series) -> pd.Series:
        return v

    return _warm


def run_entry(spark, sf_dir: str, name: str) -> None:
    """One timed unit: an operator-battery call, or a corpus query
    materialized through the noop sink."""
    if name not in corpus.REGISTRY:
        opbench.OPERATOR_BENCH[name](spark, sf_dir)
        return
    fn = TIMED_AS.get(name, corpus.REGISTRY[name].fn)
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def sample(
    tracker: StageMetricsTracker, py_tracker: PythonCpuTracker, wall_sec: float
) -> dict:
    """The record of one (entry, pass): the stage-metric delta since the
    previous call (:meth:`StageMetricsTracker.delta`), the wall time, and
    the Python driver/worker CPU since the previous call."""
    rec = tracker.delta()
    py = py_tracker.delta_detail()
    rec.update(
        wall_sec=wall_sec,
        py_cpu_sec=round(py["driver"] + py["workers"], 3),
        py_cpu_driver_sec=py["driver"],
        py_cpu_workers_sec=py["workers"],
    )
    return rec


def summarize(records: dict[str, list[dict]], corpus_names) -> dict:
    """Every payload map and total, from the per-pass records by entry.

    Entries in ``corpus_names`` go to the ``queries*`` maps, the rest to
    ``operators*``.  Each :data:`MAPS` value is the reducer over the
    entry's passes, rounded to 3 places.  Shuffle MB is median(read
    bytes) + median(write bytes), over 1e6, rounded to 2 places.  The
    corpus maps have totals: the rounded sum of the rounded values
    (``value`` for the min wall map).  ``evictions`` is the largest
    ``n_unseen_evictions``, which the tracker reports cumulatively."""

    def med(rs: list[dict], field: str) -> float:
        return statistics.median(r[field] for r in rs)

    groups: dict[str, dict] = {"queries": {}, "operators": {}}
    for n, rs in records.items():
        groups["queries" if n in corpus_names else "operators"][n] = rs
    out: dict = {}
    for origin, group in groups.items():
        for suffix, (field, reduce) in MAPS.items():
            out[origin + suffix] = {
                n: round(reduce([r[field] for r in rs]), 3)
                for n, rs in group.items()
            }
        out[origin + "_shuffle_mb"] = {
            n: round(
                (med(rs, "shuffle_read_bytes") + med(rs, "shuffle_write_bytes"))
                / 1e6,
                2,
            )
            for n, rs in group.items()
        }
    for suffix in MAPS:
        out["total" + suffix if suffix else "value"] = round(
            sum(out["queries" + suffix].values()), 3
        )
    out["evictions"] = max(
        (r["n_unseen_evictions"] for rs in records.values() for r in rs),
        default=0,
    )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    only = {s.strip() for s in only_env.split(",") if s.strip()} or None
    names = sorted(corpus.REGISTRY) + sorted(opbench.OPERATOR_BENCH)
    if only is not None:
        # a typo must fail loudly, not bench an empty set to a vacuous total
        unknown = only - set(names)
        if unknown:
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_ONLY names unknown entries: {sorted(unknown)}"
            )
        names = [n for n in names if n in only]

    # retainedStages must exceed the whole run's stage count (a few
    # thousand over 3 passes): the default 1000 evicts stages between
    # polls, and they surface as evictions
    spark = get_spark(
        app_name="pwdcrack-bench",
        extra_conf={"spark.ui.retainedStages": "100000"},
    )
    spark.range(1000).count()  # JVM/session warmup, in no entry's window
    tracker = StageMetricsTracker(spark)
    spark.range(1000).select(_warm_daemons_udf()("id")).write.format(
        "noop"
    ).mode("overwrite").save()
    tracker.delta()  # warmup stages belong to no entry
    py_tracker = PythonCpuTracker()

    # ingest-time builds are paid once, before the passes, and reported
    # apart: q_join_bucketed times the zero-exchange probe only
    setup = {}
    if only is None or "q_join_bucketed" in only:
        t0 = time.perf_counter()
        relational.ensure_bucketed_tables(spark, sf_dir)
        setup["bucketed_build"] = round(time.perf_counter() - t0, 3)
        sample(tracker, py_tracker, 0.0)  # absorbs the build's stages and CPU

    records: dict[str, list[dict]] = {}
    for _ in range(runs):
        for name in names:
            t0 = time.perf_counter()
            run_entry(spark, sf_dir, name)
            wall = time.perf_counter() - t0
            records.setdefault(name, []).append(
                sample(tracker, py_tracker, wall)
            )

    payload = {
        "metric": "corpus_total_wall_clock",
        "unit": "sec",
        **summarize(records, corpus.REGISTRY),
        "runs": runs,
        "only": sorted(only) if only else None,
        "setup": setup,
        "sf": float(m.group(1)) if m else None,
    }
    line = json.dumps(payload)
    print(line)
    # the same line on disk: a stdout capture that keeps only a tail
    # loses the per-entry maps
    write_last(line)
    detail = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL", os.path.join(HERE, "BENCH_detail_latest.json")
    )
    if detail:
        # per-pass raw material: tells within-run drift (later passes
        # slower) from isolated host spikes without a rerun
        walls = {
            n: [round(r["wall_sec"], 3) for r in rs] for n, rs in records.items()
        }
        write_detail(
            {
                **payload,
                "samples": {n: w for n, w in walls.items() if n in corpus.REGISTRY},
                "operator_samples": {
                    n: w for n, w in walls.items() if n not in corpus.REGISTRY
                },
                "metric_samples": records,
            },
            detail,
        )


if __name__ == "__main__":
    main()
