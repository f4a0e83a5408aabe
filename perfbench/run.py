"""sbse benchmark entry point.

    python3 perfbench/run.py --workload rollup_hotkey --seed 1 --seconds 10 --trace 0

Run from the repository root; the arguments are measure.py's (see there).
This process only supervises: it makes itself the reaper of every process
its descendants leave behind, runs measure.py in a child process, and once
that child has ended waits for every remaining descendant (the Spark JVM,
which exits when the child's end closes its stdin, and the Python workers
it forked) to end, ending any still alive after a grace period. The exit
code is the child's, or 1 if the child did not end in time.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys

import host

CHILD_TIMEOUT_S = 870        # the first run in a checkout also builds inputs
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def _become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _exit_on_term(signum, frame) -> None:
    raise SystemExit(128 + signum)


def main() -> int:
    _become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_term)
    measure = os.path.join(os.path.dirname(os.path.abspath(__file__)), "measure.py")
    try:
        child = subprocess.Popen([sys.executable, measure, *sys.argv[1:]])
        try:
            return child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"measure.py did not end within {CHILD_TIMEOUT_S} s", file=sys.stderr)
            return 1
    finally:
        host.end_descendants()


if __name__ == "__main__":
    sys.exit(main())
