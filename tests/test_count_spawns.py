"""tools/count_spawns.py counts the coreutils a command forks, by
command and first argument, and passes the command's exit code on."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_count_spawns_counts_by_command_and_first_argument(tmp_path):
    (tmp_path / "f").write_text("x")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "count_spawns.py"),
         "sh", "-c", "chmod 0644 f; readlink f; chmod 0644 f; exit 3"],
        cwd=tmp_path, capture_output=True, text=True, check=False,
    )
    assert out.returncode == 3
    counts = {" ".join(line.split()[1:]): int(line.split()[0])
              for line in out.stdout.splitlines()}
    assert counts == {"chmod 0644": 2, "readlink f": 1, "total": 3}
