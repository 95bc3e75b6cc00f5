"""Host-fit session defaults: without the overriding environment
variables, the CPU count and driver heap come from this host."""

from __future__ import annotations

import os

from cesium_spark.session import _host_defaults


def _meminfo(tmp_path, kib):
    p = tmp_path / "meminfo"
    p.write_text(f"MemFree:  1000 kB\nMemTotal: {kib} kB\n")
    return str(p)


def test_host_defaults_fall_back_to_host(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("CESIUM_SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5},
                        raising=False)
    gib = 1 << 20
    assert _host_defaults(_meminfo(tmp_path, 15 * gib)) == ("3", "7g")
    assert _host_defaults(_meminfo(tmp_path, 512 * gib))[1] == "48g"
    assert _host_defaults(_meminfo(tmp_path, gib))[1] == "1g"
    assert _host_defaults(str(tmp_path / "missing"))[1] == "48g"


def test_host_defaults_environment_wins(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("CESIUM_SPARK_DRIVER_MEM", "1g")
    assert _host_defaults(_meminfo(tmp_path, 15 << 20)) == ("2", "1g")
