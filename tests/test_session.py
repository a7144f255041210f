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


def test_session_defaults_fit_the_machine():
    """Without SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM a session takes the
    CPUs this process may use and a quarter of physical memory (1 GB
    floor), not a fixed size; set, they win.  Read in a subprocess so the
    environment is controlled and no session starts."""
    code = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n"
        "from honas_spark.session import machine_defaults\n"
        "print(*machine_defaults())\n"
    )

    def defaults(**env):
        base = {
            k: v for k, v in os.environ.items()
            if k not in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")
        }
        proc = subprocess.run(
            [sys.executable, "-c", code], env={**base, **env},
            capture_output=True, text=True, timeout=120,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        cores, mem = proc.stdout.split()
        return int(cores), mem

    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    assert defaults() == (
        len(os.sched_getaffinity(0)), f"{max(1024, kb // 1024 // 4)}m"
    )
    assert defaults(SPARK_GRAFT_CPUS="3", SPARK_DRIVER_MEM="2g") == (3, "2g")
