"""Session factory defaults."""

from __future__ import annotations

import os

from csce438_distributed_password_cracker_spark import session


def test_cpu_count_defaults_to_visible_cores(monkeypatch):
    # unset: the affinity mask, not a fixed thread count that would
    # oversubscribe a small host
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.cpu_count() == len(os.sched_getaffinity(0))
    # set but empty behaves as unset
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert session.cpu_count() == len(os.sched_getaffinity(0))


def test_cpu_count_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.cpu_count() == 3


def test_gc_ratio_flag_survives_caller_extra_java_options(tmp_path):
    """The driver JVM runs with -XX:GCTimeRatio=6 even when the caller
    sets spark.driver.extraJavaOptions (perfbench does): the flag rides
    spark.driver.defaultJavaOptions, which that key does not replace.
    Needs its own JVM, so it runs in a subprocess."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "from csce438_distributed_password_cracker_spark.session import get_spark\n"
        "spark = get_spark(app_name='gc-flag', extra_conf={\n"
        "    'spark.driver.extraJavaOptions': '-Dpwdcrack.caller=1'})\n"
        "jvm = spark.sparkContext._jvm\n"
        "args = jvm.java.lang.management.ManagementFactory"
        ".getRuntimeMXBean().getInputArguments()\n"
        "print('ARGS=' + '\\t'.join(args))\n"
        "spark.stop()\n"
    )
    env = {
        **os.environ,
        "PYTHONPATH": repo,
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_DRIVER_MEMORY": "512m",
    }
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300, env=env, cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("ARGS=")][-1]
    args = line.removeprefix("ARGS=").split("\t")
    assert session.GC_JAVA_OPTIONS in args
    assert "-Dpwdcrack.caller=1" in args
