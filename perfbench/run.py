"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crack_request --seed 1 --seconds 12 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(name -> value and unit).  ``--trace 0`` reports the end-to-end metrics
of BENCHMARK.json, ``--trace 1`` its per-layer metrics from a separate
traced run.  The line before it is an information record: provenance,
error rate, sample counts and, when traced, self time per layer.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402  (stdlib only; the engine is imported later)
from perfbench.tracing import Tracer  # noqa: E402

PACKAGE = "csce438_distributed_password_cracker_spark"
WORKLOADS = ("crack_request", "request_stream", "dedup_batch")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only (perfbench/selftest.py): shrink set-up and probes to a
    # few ops, and make op 0's expected answer wrong
    p.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--plant-wrong", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def declared_metrics(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def end_to_end(run, cpu_s: float, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    from perfbench.workloads import p90

    return {
        "setup_s": setup_s,
        "ops_per_s": (run.attempted - run.failed) / run.wall_s,
        "latency_p50_s": statistics.median(run.latencies),
        "latency_p90_s": p90(run.latencies),
        "cpu_s_per_op": cpu_s / run.attempted,
        "peak_rss_mb": peak_rss_mb,
    }


class Engine:
    """The Spark session and the processes behind it, from start to a
    stop that waits for the JVM and every worker to end."""

    def __init__(self, run_dir: str) -> None:
        from csce438_distributed_password_cracker_spark.plans.pycpu import PythonCpuTracker
        from csce438_distributed_password_cracker_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        })
        self.spark.range(1).collect()
        self.start_s = time.perf_counter() - t
        self.jvm = self.spark.sparkContext._gateway.proc
        self.py_cpu = PythonCpuTracker()

    def cpu_s(self) -> float:
        """CPU seconds so far of the JVM, this process and pyspark workers."""
        return host.own_cpu_s(self.jvm.pid) + self.py_cpu.snapshot()

    def stop(self) -> None:
        children = host.descendants(os.getpid())
        gateway = self.spark.sparkContext._gateway
        try:
            self.spark.stop()
            gateway.shutdown()
        finally:
            self.jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
            deadline = time.monotonic() + 30
            for pid in children:
                while _alive(pid):
                    if time.monotonic() > deadline:
                        with contextlib.suppress(ProcessLookupError):
                            os.kill(pid, signal.SIGKILL)
                    time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def make_workload(args: argparse.Namespace, spark, run_dir: str):
    from perfbench import workloads as w

    if args.workload == "crack_request":
        wl = w.CrackRequest(spark, args.seed, args.plant_wrong)
    elif args.workload == "request_stream":
        wl = w.RequestStream(spark, args.seed, args.plant_wrong)
    else:
        wl = w.DedupBatch(spark, args.seed, run_dir, args.plant_wrong,
                          n_docs=w.TINY_DOCS if args.tiny else w.corpus.N_DOCS)
    if args.tiny:
        wl.tiny = True
    return wl


def traced_metrics(engine: Engine, wl, seconds: float, warm_ops: int,
                   run_dir: str) -> tuple[dict, object, dict, bool]:
    """The traced run: the workload's ops paired untraced/traced, then the
    layer probes.  crack_request's traced run also measures the keyspace
    ladder and the stream layer.  Layers a run does not call report 0."""
    from perfbench.workloads import Run, ladder, spark_runtime, stream_probe

    spark = engine.spark
    tracer = Tracer(spark)
    engine.py_cpu.delta_detail()
    plain, traced = wl.run_paired(seconds, tracer)
    py = engine.py_cpu.delta_detail()
    ops = plain.attempted + traced.attempted
    layer: dict[str, float] = {
        "session.start_s": engine.start_s,
        "session.warmup_ops": warm_ops,
        "py.driver_cpu_s_per_op": py["driver"] / ops,
        "py.workers_cpu_s_per_op": py["workers"] / ops,
        "trace.overhead_p50_s": statistics.median(
            t - p for p, t in zip(plain.latencies, traced.latencies)
        ),
    }
    layer.update(spark_runtime(
        tracer, wl.OP_SPAN, traced.attempted, traced.wall_s, int(os.environ["SPARK_GRAFT_CPUS"])
    ))
    layer.update(wl.layer_metrics(traced, tracer))
    probes = Run()
    probes_ok = True
    if wl.name == "crack_request":
        layer.update(ladder(spark, tracer, reps=1 if wl.tiny else 2))
        stream, probes, probes_ok = stream_probe(spark, wl.seed, tracer, wl.tiny)
        layer.update(stream)
    summary = {
        "traced_ops": traced.attempted,
        "untraced_latency_p50_s": statistics.median(plain.latencies),
        "traced_latency_p50_s": statistics.median(traced.latencies),
        "self_time_s": tracer.self_times(),
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace-{wl.name}-seed{wl.seed}.json"), "w") as f:
        json.dump({"summary": summary, "spans": tracer.dump()}, f)
    every = Run(latencies=plain.latencies + traced.latencies + probes.latencies,
                failed=plain.failed + traced.failed + probes.failed)
    return layer, every, summary, probes_ok


def run(args: argparse.Namespace, run_dir: str, env: dict[str, str]) -> tuple[dict, dict]:
    before = {"loadavg_1m": host.loadavg_1m(), "sha1_probe_ns": host.sha1_probe_ns()}
    steal0, total0 = host.cpu_ticks()
    engine = Engine(run_dir)
    try:
        wl = make_workload(args, engine.spark, run_dir)
        t = time.perf_counter()
        warm_ops, setup_ok = wl.setup()
        setup_s = host.seconds_since_start()
        info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "session_start_s": engine.start_s,
                "workload_setup_s": time.perf_counter() - t,
                "warmup_ops": warm_ops, "setup_correct": setup_ok}
        if args.trace:
            metrics, run_, summary, probes_ok = traced_metrics(
                engine, wl, args.seconds, warm_ops, run_dir)
            setup_ok &= probes_ok
            info["trace"] = summary
        else:
            cpu0 = engine.cpu_s()
            run_ = wl.run(args.seconds)
            cpu = engine.cpu_s() - cpu0
            rss = host.peak_rss_mb(engine.jvm.pid)
            metrics = end_to_end(run_, cpu, setup_s, sum(rss.values()))
            info["run"] = {**run_.info, "peak_rss_mb": rss}
        info["provenance"] = host.provenance(ROOT, PACKAGE, env, engine.spark)
    finally:
        engine.stop()
    steal1, total1 = host.cpu_ticks()
    after = {"loadavg_1m": host.loadavg_1m(), "sha1_probe_ns": host.sha1_probe_ns()}
    steal_ratio = (steal1 - steal0) / max(1, total1 - total0)
    info["provenance"].update(before=before, after=after, steal_ratio=steal_ratio)
    if args.trace:
        metrics["host.sha1_probe_ns"] = (before["sha1_probe_ns"] + after["sha1_probe_ns"]) / 2
        metrics["host.loadavg_1m"] = (before["loadavg_1m"] + after["loadavg_1m"]) / 2
        metrics["host.steal_ratio"] = steal_ratio
    info["ops"] = run_.attempted
    info["latencies_s"] = [round(x, 4) for x in run_.latencies]
    info["error_rate"] = run_.failed / run_.attempted
    units = declared_metrics(bool(args.trace))
    missing = sorted(set(units) - set(metrics))
    metrics = {**dict.fromkeys(units, 0.0), **metrics}
    extra = sorted(set(metrics) - set(units))
    if extra:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {extra}")
    info["not_exercised"] = missing
    result = {
        "correct": bool(setup_ok and run_.failed == 0),
        "attempted": run_.attempted,
        "failed": run_.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    return info, result


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ is not in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    env = host.pinned_env(run_dir)
    os.environ.update(env)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    try:
        info, result = run(args, run_dir, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
