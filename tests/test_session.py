"""Session factory hygiene: what a process that starts a session leaves
behind on the machine."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_shipped_package_zip_removed_at_exit(tmp_path):
    """`ship_package` zips the package once per process; the zip must be
    gone once that process exits, not pile up one per run."""
    code = (
        "import os, sys, tempfile\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from honas_spark.session import get_spark\n"
        "s = get_spark(app='zip_cleanup', cpus=1)\n"
        "z = os.path.join(tempfile.gettempdir(),"
        " f'honas_spark_pyfiles_{os.getpid()}.zip')\n"
        "print(os.getpid(), os.path.exists(z))\n"
        "s.stop()\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True,
        text=True, timeout=600, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    pid, existed = proc.stdout.split()[-2:]
    assert existed == "True"  # shipped while the session ran
    assert not os.path.exists(
        tmp_path / f"honas_spark_pyfiles_{pid}.zip"
    )
