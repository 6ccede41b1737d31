"""Kill a benchmark run mid-workload, then check that nothing it started
is left: no Spark JVM, no Python worker, no work directory.

    python3 -m pytest perfbench/test_teardown.py -q
"""

from __future__ import annotations

import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import ROOT, tagged_pids  # noqa: E402


def cmdline(pid: int) -> str:
    try:
        return (Path("/proc") / str(pid) / "cmdline").read_bytes().decode(
            errors="replace").replace("\0", " ")
    except OSError:
        return ""


def test_sigterm_mid_workload_leaves_no_process():
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "run.py"), "--workload", "serve_mixed",
         "--seed", "7", "--seconds", "60", "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    try:
        # wait until the Spark JVM and at least one pyspark worker run
        deadline = time.monotonic() + 150
        while time.monotonic() < deadline:
            tagged = tagged_pids(f"{proc.pid}-")
            cmds = [cmdline(p) for p in tagged]
            if (any("SparkSubmit" in c for c in cmds)
                    and any("pyspark.daemon" in c for c in cmds)):
                break
            assert proc.poll() is None, "run ended before it was killed"
            time.sleep(0.5)
        else:
            raise AssertionError("no Spark JVM and worker appeared")
        tag = next(iter(tagged.values()))
        time.sleep(5)
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    assert proc.returncode == 128 + signal.SIGTERM
    assert '"correct"' not in out
    assert tagged_pids(f"{proc.pid}-") == {}
    ps = subprocess.run(["ps", "-eo", "pid,pgid,args"], capture_output=True,
                        text=True, check=True).stdout
    assert tag not in ps
    assert not (ROOT / ".perfbench" / tag).exists()
