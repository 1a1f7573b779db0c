"""``tools/check_oracle.py`` rejects gate names that are not registered
instead of skipping them and reporting ``0/0 matched``."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unknown_gate_names_exit_2_before_spark_starts():
    out = subprocess.run(
        [sys.executable, os.path.join("tools", "check_oracle.py"),
         os.path.join(REPO, "no_such_sf_dir"), "fetch_join", "no_such_gate",
         "fetchjoin"],
        capture_output=True, text=True, timeout=120, cwd=REPO,
    )
    assert out.returncode == 2, out.stderr
    assert "unknown gate names: fetchjoin no_such_gate" in out.stderr
    assert "fetch_join" not in out.stderr
    assert "matched" not in out.stdout
