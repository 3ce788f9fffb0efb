"""bench.py's regression-bar rule and the measurement tools' helpers."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "sf, cpus, n_bars, total, q_triangles",
    [
        # the committed BASELINE_KEYS.json blesses 32 and 8 cores at sf0.1
        pytest.param(0.1, 32, 203, 37.157, 0.05, id="sf0.1-cpus32"),
        pytest.param(0.1, 8, 203, 39.7804, 0.0526, id="sf0.1-cpus8"),
        # no section for 4 cores: only the 12 BASELINE.md rows
        pytest.param(0.1, 4, 12, 13.28, None, id="sf0.1-cpus4"),
        # BASELINE.md rows and blessed medians are sf0.1 figures
        pytest.param(0.01, 32, 0, 0, None, id="sf0.01-cpus32"),
        pytest.param(0.01, 8, 0, 0, None, id="sf0.01-cpus8"),
        pytest.param(0.01, 4, 0, 0, None, id="sf0.01-cpus4"),
    ],
)
def test_regression_bars_from_committed_baseline(
    sf, cpus, n_bars, total, q_triangles
):
    import __spark_entry__ as entrymod
    import bench

    bars = bench.regression_bars(REPO, sf, cpus, entrymod.queries())
    assert len(bars) == n_bars
    assert round(sum(bars.values()), 4) == total
    assert bars.get("q_triangles") == q_triangles
    if sf == bench.BASELINE_MD_SF:
        # BASELINE.md rows take precedence over blessed medians
        assert all(
            bars[k] == max(2.0 * v, 0.05)
            for k, v in bench.BASELINE_MD_SECONDS.items()
        )


def test_recall_ppm_rounds_once():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from scale_probe import _ppm

    # the ADVICE r10 example: 0.9955 must be 995500, not 995499
    assert _ppm(1991, 2000) == 995500
    assert _ppm(0, 0) == 0
    assert _ppm(5, 5) == 1_000_000
    # truncation-prone fractions across the range
    for found, expected in [(1, 3), (2, 3), (999, 1000), (333, 10007)]:
        exact = found / expected * 1_000_000
        assert abs(_ppm(found, expected) - exact) <= 0.5
