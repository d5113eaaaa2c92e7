"""`bench.py --scaling` defaults follow the host, not a 32-core box."""

from __future__ import annotations

import os

import bench


def test_scaling_defaults_fit_small_host():
    d = bench.scaling_defaults(cpus=4, mem_available_kb=15 * 1024 * 1024)
    assert d == {"cpus_lo": 1, "cpus_hi": 4, "driver_mem": "7g"}


def test_scaling_defaults_on_large_host_keep_8_to_32():
    d = bench.scaling_defaults(cpus=32, mem_available_kb=128 * 1024 * 1024)
    assert d == {"cpus_lo": 8, "cpus_hi": 32, "driver_mem": "48g"}


def test_scaling_defaults_floors():
    d = bench.scaling_defaults(cpus=1, mem_available_kb=512 * 1024)
    assert d == {"cpus_lo": 1, "cpus_hi": 1, "driver_mem": "1g"}


def test_scaling_defaults_read_this_host():
    d = bench.scaling_defaults()
    assert d["cpus_hi"] == len(os.sched_getaffinity(0))
    assert 1 <= d["cpus_lo"] <= d["cpus_hi"]
    assert 1 <= int(d["driver_mem"].rstrip("g")) <= 48
