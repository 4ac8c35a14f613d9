"""bench.py's flag for an inherited scaling artifact."""

from __future__ import annotations

import subprocess
from pathlib import Path

import bench


def test_scaling_stale_unless_measured_at_head_with_the_run_cores():
    repo = Path(bench.__file__).resolve().parent
    head = subprocess.run(
        ["git", "-C", str(repo), "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip()
    art = {"n": 2, "local2": {"cpus": 2}, "local8": {"cpus": 8}, "commit": head}
    if head:
        assert not bench.scaling_stale(art, 8)
    assert bench.scaling_stale(art, 4)  # another core count
    assert bench.scaling_stale({**art, "commit": "0000000"}, 8)  # another commit
    assert bench.scaling_stale({"n": 2, "commit": head}, 8)  # no core count
    assert bench.scaling_stale({}, 8)
