"""The bundled fixtures are byte copies of the suite's sf0.01 fixtures.

A run reads only its checkout, so it reads the copies under
``perfbench/fixtures/sf0.01``. ``scripts/driver_sim.py`` reads the originals
from ``$DRIVER_SIM_SF_DIR``; when that is set, this checks the two agree.
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest

BUNDLED = Path(__file__).resolve().parents[1] / "fixtures" / "sf0.01"


def test_bundled_fixtures_match_the_originals():
    source = os.environ.get("DRIVER_SIM_SF_DIR")
    if not source or not Path(source).is_dir():
        pytest.skip("DRIVER_SIM_SF_DIR names no fixture directory")
    bundled = sorted(p.name for p in BUNDLED.glob("*.parquet"))
    assert bundled, "no bundled fixtures"
    for name in bundled:
        assert (BUNDLED / name).read_bytes() == (Path(source) / name).read_bytes(), name
