"""Unit checks for the helpers in tools/ that need no Spark session."""

from __future__ import annotations

import pytest

from tools.stage_profile import _epoch


def test_stage_profile_epoch_reads_any_fraction():
    whole = _epoch("2026-01-01T12:34:56GMT")
    assert _epoch("2026-01-01T12:34:56.7GMT") - whole == pytest.approx(0.7)
    assert _epoch("2026-01-01T12:34:56.789GMT") - whole == pytest.approx(0.789)
    assert _epoch("2026-01-01T12:34:57.000GMT") - whole == pytest.approx(1.0)
