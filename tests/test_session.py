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
