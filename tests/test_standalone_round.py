"""Standalone-cluster scaling round: the cache math.

The cluster spin-up itself (tools/standalone_round.py main) is exercised
out-of-band — it boots real master/worker JVMs and takes minutes; its
measured rounds land in data/standalone_cache.json. These tests pin the
pure parts: best-per-size selection and the N→4N efficiency formula.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from standalone_round import fold  # noqa: E402


def _r(size, tps, **kw):
    return {"size": size, "turns_per_sec": tps, "rows": 2_000_000, **kw}


def test_fold_picks_best_round_per_size():
    rounds = [_r("N", 20000.0), _r("4N", 70000.0), _r("N", 25000.0), _r("4N", 65000.0)]
    out = fold(rounds)
    assert out["N"]["turns_per_sec"] == 25000.0
    assert out["4N"]["turns_per_sec"] == 70000.0
    # cross-window view = (70000/25000)/4 = 0.7; only 2 same-window
    # pairs (0.875, 0.65), so the headline stays best-per-size
    assert out["efficiency_best_per_size"] == 0.7
    assert out["efficiency"] == 0.7
    assert out["efficiency_basis"] == "best_per_size"
    assert out["rounds"] == rounds  # full ledger preserved


def test_fold_headline_is_same_window_median_at_three_pairs():
    rounds = [
        _r("N", 20000.0), _r("4N", 68000.0),   # 0.85
        _r("N", 20000.0), _r("4N", 64000.0),   # 0.8
        _r("N", 10000.0), _r("4N", 36000.0),   # 0.9 (slow window, clean pair)
        _r("N", 46000.0),                      # lone quiet-window N catch
    ]
    out = fold(rounds)
    # cross-window floor is wrecked by the unpaired quiet N (68k/46k/4)
    assert out["efficiency_best_per_size"] == round(68000.0 / 46000.0 / 4, 3)
    # headline is immune: median of (0.85, 0.8, 0.9)
    assert out["efficiency"] == 0.85
    assert out["efficiency_basis"] == "same_window_median"


def test_fold_without_both_sizes_has_null_efficiency():
    out = fold([_r("N", 20000.0)])
    assert out["efficiency"] is None
    assert "4N" not in out


def test_fold_same_window_pairs_skip_midpoints():
    rounds = [
        _r("N", 20000.0), _r("4N", 64000.0),          # pair: 0.8
        _r("N", 25000.0), _r("2N", 40000.0), _r("4N", 91000.0),  # pair: 0.91
        _r("N", 30000.0),                              # dangling: no pair
    ]
    sw = fold(rounds)["same_window"]
    assert sw["pairs"] == 2
    assert sw["best"] == 0.91
    assert sw["n_ge_0.8"] == 2


def test_fold_reports_ratio_of_medians():
    """Round 5: the pair-ratio median is biased downward when host noise
    lands asymmetrically on the all-cores 4N leg (a noise hit can only
    shrink a pair, never grow it). fold also reports the ratio of each
    leg's throughput MEDIAN — robust to the 4N left tail — alongside
    the conservative pair median, never instead of it."""
    rounds = [
        _r("N", 20000.0), _r("4N", 72000.0),   # 0.9
        _r("N", 20000.0), _r("4N", 20000.0),   # 0.25: 4N-leg host event
        _r("N", 20000.0), _r("4N", 76000.0),   # 0.95
    ]
    out = fold(rounds)
    # pair view keeps the poisoned pair
    assert out["same_window"]["median"] == 0.9
    # leg-median view discards the single 4N outlier:
    # median(4N)=72000, median(N)=20000 -> 0.9
    assert out["efficiency_median_throughput"] == 0.9
    # headline (same_window median) unchanged by the new stat
    assert out["efficiency_basis"] == "same_window_median"
