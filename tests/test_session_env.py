"""SPARK_GRAFT_CPUS is parsed in one place (session.default_parallelism):
a malformed value fails loudly, naming the variable, and bench.py's host
probe reads the same function instead of parsing the variable itself."""

from __future__ import annotations

import pytest

import bench
from hh_rumors_presto_spark.session import default_parallelism


@pytest.mark.parametrize("raw", ["", "abc", "4.0", "0", "-3"])
def test_malformed_cpus_raise_naming_the_variable(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        default_parallelism()
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        bench._host_probe()


def test_cpus_value_and_default(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_parallelism() == 32


def test_host_probe_emits_null_parallel32_below_32_lanes(monkeypatch):
    monkeypatch.setattr(bench, "_PROBE_N", 1000)  # tiny burn: shape only
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    out = bench._host_probe()
    assert out["probe_parallelism"] == 2
    assert "parallel32_sec" in out and out["parallel32_sec"] is None
