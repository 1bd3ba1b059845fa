"""Weather-immune bench metrics: per-query executor CPU time and
shuffle/input/output bytes, read from the driver's AppStatusStore.

Why this exists: the bench's wall-clock numbers ride a shared box whose
multi-second slow windows (BASELINE.md §C.3) inflate whole rounds
uniformly — round 8's 59 s → 93 s headline decomposed into a 1.43×
host-weather factor plus ~4 s of real new work, and defending that took
a 44-query sample-level analysis.  Executor CPU time doesn't care how
long a descheduled task WAITED, only how long it computed, so
CPU-seconds is the round-over-round comparison basis from round 9 on
(BASELINE.md §C.13); wall-clock stays in the payload for the 2×-of-
baseline gate, which is defined on it.

Mechanics: after each timed query, :meth:`StageMetricsTracker.delta`
lists the status store's stages and folds in every TERMINAL stage
attempt it has not seen before.  Accounting is per (stageId, attemptId)
— NOT a snapshot subtraction over store totals — so the store evicting
old stages (``spark.ui.retainedStages``, default 1000) between queries
cannot corrupt later deltas: a stage is either read while still
retained (always, for per-query polling — no gate query runs anywhere
near 1000 stages) or missed entirely and loudly counted in
``n_unseen_evictions``.  The listener bus is drained first so the
just-finished query's stage-completed events are flushed.

Scope caveats, documented where the numbers land (BASELINE.md §C.13):

- ``executorCpuTime`` measures JVM task-thread CPU.  Python-worker CPU
  (pandas_udf / applyInPandas stages) is NOT included — those queries
  under-report absolute cost but stay comparable round-over-round
  (the Python fraction only moves when the plan moves).
- Driver-side compute (collect-based greedy loops like MMR, oracle
  folds) is invisible here; wall-clock still carries it.
- Metrics attribute by COMPLETION time: a stage spanning two queries'
  windows (impossible under the bench's serial protocol, possible if a
  background stream is left running) lands in whichever delta() call
  follows its completion.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: StageData statuses with final task metrics.  ACTIVE/PENDING stages are
#: left for a later delta() call.  SKIPPED is ALSO terminal — the stage
#: reused an earlier stage's shuffle output and will never run tasks —
#: but carries zero metrics, so it is accounted as seen WITHOUT folding
#: (folding would double nothing, counting would inflate n_stages, and
#: leaving it pending forever would surface as a spurious
#: n_unseen_evictions when the store eventually drops it — ADVICE r9).
_TERMINAL = frozenset({"COMPLETE", "FAILED"})
_TERMINAL_ZERO = frozenset({"SKIPPED"})


class StageMetricsTracker:
    """Incremental reader of completed-stage task metrics.

    One instance per bench process.  Call :meth:`delta` after each timed
    unit of work; it returns the metrics of stages that completed since
    the previous call (first call: since tracker construction — call once
    right after construction to absorb warmup/setup stages).
    """

    def __init__(self, spark: SparkSession) -> None:
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._store = self._sc._jsc.sc().statusStore()
        self._gateway = self._sc._gateway
        self._seen: set[tuple[int, int]] = set()
        # every stageId ever listed (NOT pruned on eviction): stage ids are
        # allocated sequentially, so an id ≤ max(listed) that was never
        # listed must have been evicted before any delta() saw it
        self._ids_observed: set[int] = set()
        self._max_id = -1
        # attempts listed while still ACTIVE/PENDING whose terminal
        # metrics we have not folded yet: if one vanishes from the store
        # without ever being listed terminal, its CPU was lost — count it
        # (the id-gap heuristic alone cannot see this case, since the id
        # WAS observed)
        self._pending: set[tuple[int, int]] = set()
        self._evicted_pending = 0
        # prime: account (and discard) everything already in the store so
        # the first real delta doesn't inherit session-startup stages
        self.delta()

    def _drain_listener_bus(self) -> None:
        """Block until queued listener events are processed, so the stages
        of the query that just returned are visible in the store.  A
        failed drain raises: skipping it would under-report the stages
        whose completion events are still queued."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def delta(self) -> dict[str, float]:
        """Metrics of terminal stage attempts not yet accounted.

        Returns a dict with ``cpu_sec`` (executor CPU, seconds),
        ``run_sec`` (executor task run time, seconds — wall-flavored,
        kept for cross-checking the CPU number), ``shuffle_read_bytes``,
        ``shuffle_write_bytes``, ``input_bytes``, ``output_bytes``,
        ``n_stages`` and ``n_unseen_evictions`` (stages that left the
        store unread — always 0 under the bench's per-query polling;
        nonzero means the accounting missed work and the caller should
        say so rather than report a silently-low number).
        """
        self._drain_listener_bus()
        empty_status = self._jvm.java.util.ArrayList()
        empty_task = self._jvm.java.util.ArrayList()
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        stages = self._store.stageList(
            empty_status, False, False, no_quantiles, empty_task
        )
        out = {
            "cpu_sec": 0.0,
            "run_sec": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "input_bytes": 0,
            "output_bytes": 0,
            "n_stages": 0,
            "n_unseen_evictions": 0,
        }
        live = set()
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            live.add(key)
            self._ids_observed.add(key[0])
            self._max_id = max(self._max_id, key[0])
            if key in self._seen:
                continue
            status = s.status().toString()
            if status in _TERMINAL_ZERO:
                # terminal-with-zero-metrics: account as seen so a later
                # store eviction of this attempt is not miscounted as
                # lost work (it has none to lose)
                self._seen.add(key)
                self._pending.discard(key)
                continue
            if status not in _TERMINAL:
                self._pending.add(key)
                continue
            self._seen.add(key)
            self._pending.discard(key)
            out["cpu_sec"] += s.executorCpuTime() / 1e9
            out["run_sec"] += s.executorRunTime() / 1e3
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["input_bytes"] += s.inputBytes()
            out["output_bytes"] += s.outputBytes()
            out["n_stages"] += 1
        # a pending (non-terminal) attempt that left the store without
        # ever being listed terminal lost its metrics — count it
        vanished = self._pending - live
        self._evicted_pending += len(vanished)
        self._pending -= vanished
        # sequential-id gap ⇒ a stage was evicted before any delta() listed
        # it; surface the count instead of silently under-reporting
        if self._max_id >= 0:
            missing = (self._max_id + 1) - len(self._ids_observed)
            out["n_unseen_evictions"] = missing + self._evicted_pending
        # keep _seen bounded to the store's retention: anything we saw that
        # the store has dropped can never be re-listed
        self._seen &= live
        out["cpu_sec"] = round(out["cpu_sec"], 3)
        out["run_sec"] = round(out["run_sec"], 3)
        return out
