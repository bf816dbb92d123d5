"""``bench.host_factor``: the range probe splits its rows over every core, so
its anchor (taken at ``local[CAL_ANCHOR_CPUS]``) is scaled to the session's
core count before the ratio is taken. No JVM is started."""

from __future__ import annotations

import pytest

import bench


@pytest.mark.parametrize("cpus", [1, 4, 8, 32])
def test_anchor_speed_cores_read_one(cpus):
    rng = bench.CAL_RANGE_ANCHOR_SEC * bench.CAL_ANCHOR_CPUS / cpus
    assert bench.host_factor(rng, bench.CAL_SCAN_ANCHOR_SEC, cpus) == 1.0


def test_factor_is_the_geomean_of_the_probe_ratios():
    rng4 = bench.CAL_RANGE_ANCHOR_SEC * bench.CAL_ANCHOR_CPUS / 4
    scan = bench.CAL_SCAN_ANCHOR_SEC
    assert bench.host_factor(2 * rng4, 0.5 * scan, 4) == 1.0
    assert bench.host_factor(2 * rng4, 2 * scan, 4) == 2.0


def test_four_core_host_is_not_read_as_slow():
    # a 4-core range probe of 3.16 s (0.527 of its scaled anchor) next to a
    # scan probe at 0.55 of its anchor: the host is fast, not 1.5x slow
    scan = 0.55 * bench.CAL_SCAN_ANCHOR_SEC
    assert bench.host_factor(3.16, scan, 4) == pytest.approx(0.54, abs=0.01)
    assert bench.host_factor(3.16, scan, bench.CAL_ANCHOR_CPUS) > 1.5
