"""sbse.session housekeeping: the shipped package zip does not outlive the
driver process."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_zip_removed_at_exit(tmp_path):
    """``ensure_shipped`` writes the package zip under the temporary
    directory (``TMPDIR``), where it exists while the session runs, and
    nothing of it is left once the interpreter exits after
    ``get_spark(...)`` and ``stop()``."""
    code = (f"import glob, os, sys, tempfile; sys.path.insert(0, {REPO!r})\n"
            "from sbse.session import get_spark\n"
            "s = get_spark(master='local[1]', shuffle_partitions=1)\n"
            "print('ZIPS', glob.glob(os.path.join(tempfile.gettempdir(), "
            "'**', 'sbse_pkg*.zip'), recursive=True))\n"
            "s.stop()\n")
    env = {**os.environ, "TMPDIR": str(tmp_path), "SBSE_DRIVER_MEM": "1g"}
    r = subprocess.run([sys.executable, "-c", code], env=env, cwd=str(tmp_path),
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    [line] = [ln for ln in r.stdout.splitlines() if ln.startswith("ZIPS ")]
    assert "sbse_pkg" in line, line
    assert not list(tmp_path.rglob("sbse_pkg*"))
