"""A cold process's helpers must not outlive it."""

import os
import sys

import procmon
from run import spawn


def test_spawn_ends_processes_that_leave_the_process_group(tmp_path):
    procmon.become_subreaper()  # as run.py does, so orphans are reaped here
    # The way PySpark's worker daemon leaves its parent's process group.
    script = (
        "import os, subprocess\n"
        "p = subprocess.Popen(['sleep', '300'], preexec_fn=lambda: os.setpgid(0, 0))\n"
        "print(p.pid, flush=True)\n"
    )
    _t, rc, _mon, log = spawn([sys.executable, "-c", script], str(tmp_path / "run"), 1, 30)
    with open(log) as f:
        pid = int(f.read().split()[0])
    assert rc == 0
    assert not os.path.exists(f"/proc/{pid}")  # ended and reaped
    assert os.path.exists(tmp_path / "run" / "process.log")
