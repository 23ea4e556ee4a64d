"""CLI smoke tests for repo scripts — run in a subprocess so argparse
edge cases (e.g. parse_intermixed_args + -h) are exercised exactly as a
user would hit them.

Round-7 verdict flagged that `scripts/gate_sim.py --help` crashed with
KeyError: 'default' (parse_intermixed_args temporarily sets positional
defaults to SUPPRESS, breaking %(default)s in help strings) and that the
claimed round-6 fix shipped without a test. This file is that test.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *argv], capture_output=True, text=True, cwd=ROOT,
        timeout=120,
    )


def test_gate_sim_help_exits_zero():
    proc = _run(os.path.join(ROOT, "scripts", "gate_sim.py"), "--help")
    assert proc.returncode == 0, proc.stderr
    assert "usage:" in proc.stdout
    assert "KeyError" not in proc.stderr
    # the literal default must survive into the rendered help
    assert "/root/testdata/sf0.01" in proc.stdout


def test_gate_sim_help_after_positional_exits_zero():
    # -h firing mid-intermixed-parse was the original crash site
    proc = _run(
        os.path.join(ROOT, "scripts", "gate_sim.py"),
        "/root/testdata/sf0.01", "--help",
    )
    assert proc.returncode == 0, proc.stderr
    assert "usage:" in proc.stdout


def test_plan_audit_help_exits_zero():
    path = os.path.join(ROOT, "scripts", "plan_audit.py")
    assert os.path.exists(path), path
    proc = _run(path, "--help")
    assert proc.returncode == 0, proc.stderr


def test_tier_crossover_help_exits_zero():
    path = os.path.join(ROOT, "scripts", "tier_crossover.py")
    assert os.path.exists(path), path
    proc = _run(path, "--help")
    assert proc.returncode == 0, proc.stderr
