"""Every CLI in tools/ still imports and parses its arguments."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(f for f in os.listdir(os.path.join(ROOT, "tools"))
               if f.endswith(".py"))


@pytest.mark.parametrize("tool", TOOLS)
def test_tool_help_exits_zero(tool):
    r = subprocess.run([sys.executable, os.path.join("tools", tool), "--help"],
                       cwd=ROOT, capture_output=True, text=True, timeout=30)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "usage:" in r.stdout
