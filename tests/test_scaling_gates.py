"""Pure unit tests for the scaling check's stability gate (no Spark, no
subprocesses): a run whose host-capacity probes swing, or whose N->4N
pair ratios are physically implausible, must be rejected.
"""

from __future__ import annotations

import importlib.util
import pathlib

_spec = importlib.util.spec_from_file_location(
    "scaling_check",
    pathlib.Path(__file__).resolve().parent.parent
    / "scripts"
    / "scaling_check.py",
)
_sc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_sc)

stability_reasons = _sc.stability_reasons


# -- rc=3 stability gate ----------------------------------------------------


def test_flat_clean_run_passes_stability():
    assert stability_reasons([5.0e8, 5.1e8, 4.9e8], [3.2, 3.5, 3.4]) == []


def test_calibration_swing_trips():
    reasons = stability_reasons([5.0e8, 1.9e8, 4.8e8], [3.2, 3.5, 3.4])
    assert len(reasons) == 1 and "calibration swing" in reasons[0]


def test_subunit_ratio_trips():
    # 4N cores slower than N is impossible without interference
    reasons = stability_reasons([5.0e8, 5.0e8], [0.9, 3.2])
    assert any("physical gate" in r for r in reasons)


def test_supralinear_ratio_trips():
    # the 08:54 round-5 HEAD run: one 4.66 pair ratio, flat calibs
    reasons = stability_reasons(
        [5.29e8, 4.91e8, 4.75e8], [2.756, 3.247, 4.655]
    )
    assert len(reasons) == 1 and "physical gate" in reasons[0]


def test_ratio_spread_trips():
    reasons = stability_reasons([5.0e8, 5.0e8], [1.9, 3.9])
    assert any("physical gate" in r for r in reasons)
