"""bench.py host telemetry: the /proc/stat probes degrade to "unavailable"
on a host without procfs instead of crashing the run."""

import os

import pytest

import bench


def test_probes_without_proc_stat(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "PROC_STAT", str(tmp_path / "no-proc-stat"))

    def no_wait(_s):
        raise AssertionError("waited for a window it cannot probe")

    monkeypatch.setattr(bench.time, "sleep", no_wait)
    assert bench._cpu_ticks() is None
    assert bench.host_busy_probe() is None
    assert bench.clean_window(4) == {"window_probe": "unavailable",
                                     "window_clean_at_start": None}


def test_probes_read_proc_stat():
    if not os.path.exists(bench.PROC_STAT):
        pytest.skip("no /proc/stat on this host")
    user, system, steal = bench._cpu_ticks()
    assert user > 0 and system >= 0 and steal >= 0
    probe = bench.host_busy_probe(0.05)
    assert set(probe) == {"busy_cores", "steal_cores"}
