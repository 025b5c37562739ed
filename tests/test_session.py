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


def test_driver_memory_default_follows_the_smaller_memory_limit(tmp_path):
    """The heap default is three quarters of the smaller of the cgroup
    limit and MemTotal; an unset cgroup limit ("max", or v1's huge
    number) leaves MemTotal in charge."""
    from extract_permits_spark.session import (
        default_driver_memory,
        machine_memory_bytes,
    )

    gib = 1 << 30
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {16 * gib // 1024} kB\nMemFree: 1 kB\n")
    v2, v1 = tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes"
    v2.write_text("max\n")
    v1.write_text("9223372036854771712\n")
    limits = (str(v2), str(v1), str(tmp_path / "absent"))
    assert machine_memory_bytes(limits, str(meminfo)) == 16 * gib
    assert default_driver_memory(16 * gib) == "12g"
    v2.write_text(f"{6 * gib}\n")
    assert machine_memory_bytes(limits, str(meminfo)) == 6 * gib
    assert default_driver_memory(6 * gib) == "4g"
    assert default_driver_memory(gib) == "1g"
