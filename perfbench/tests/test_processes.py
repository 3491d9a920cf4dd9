"""``harness.stop_descendants`` ends every process a run started, its
orphans included. Runs in a child interpreter, since ``adopt_orphans``
changes the process that calls it."""

import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = f"""
import os, subprocess, sys
sys.path.insert(0, {BENCH!r})
import harness

harness.adopt_orphans()
# a process whose parent exits first, as the JVM's Python daemon does
orphan = int(subprocess.run(
    ["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"],
    capture_output=True, text=True, check=True,
).stdout)
# a child that ignores SIGTERM, so only SIGKILL ends it
child = subprocess.Popen(["sh", "-c", "trap '' TERM; sleep 60 & wait"])
harness.stop_descendants(grace=0.5)
left = [p for p in (orphan, child.pid) if os.path.exists(f"/proc/{{p}}")]
print("left", left)
"""


def test_stop_descendants_ends_children_and_orphans():
    p = subprocess.run(
        [sys.executable, "-c", SCRIPT], capture_output=True, text=True, timeout=60
    )
    assert p.returncode == 0, p.stderr
    assert p.stdout.strip() == "left []"
