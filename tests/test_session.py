"""Session defaults come from the machine the engine runs on."""

import os


def test_default_cpus_from_affinity(monkeypatch):
    from libosmtools_spark.session import default_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))


def test_default_cpus_env_override(monkeypatch):
    from libosmtools_spark.session import default_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
