"""Session-factory defaults that do not need a running Spark."""

from __future__ import annotations

import os


def test_default_parallelism_follows_cpu_affinity_when_unset(monkeypatch):
    """Without $SPARK_GRAFT_CPUS the factory sizes local[N] (and its 2N
    shuffle partitions) from the CPUs this process may use, not from a
    fixed core count."""
    from extract_permits_spark.session import default_parallelism

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
