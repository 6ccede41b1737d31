"""perfbench entry point: run one workload and print its result line.

    python3 perfbench/run.py --workload search_batch --seed 1 --seconds 10 --trace 0

Workloads: search_batch, serve_mixed (see perfbench/README.md).
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
The last stdout line is one JSON object: correct, attempted, failed and
metrics. The exit code is 0 only when every output matched the oracle.

Process hygiene: the workload runs in a child process group of its own,
tagged through its environment (PERFBENCH_TAG), which the Spark JVM and
its Python workers inherit. This supervisor is a child subreaper, so
orphaned descendants are re-parented to it and reaped here. On timeout,
SIGTERM, SIGINT or SIGHUP it kills the group and every tagged process and
removes the run's work directory. Before it returns it checks that no
process the run started is left.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import secrets
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

from probes import membw_gbps

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("search_batch", "serve_mixed")
CHILD_TIMEOUT_S = 150   # the whole invocation, teardown included, ends in 180 s
EXIT_GRACE_S = 15       # for the JVM and Python workers after a clean exit
PR_SET_CHILD_SUBREAPER = 36


class Interrupted(Exception):
    pass


def _on_signal(signum, frame):
    raise Interrupted(signum)


def tagged_pids(prefix: str) -> dict[int, str]:
    """pid -> tag of every live process whose PERFBENCH_TAG starts with
    `prefix` (a whole tag matches only its own run)."""
    needle = f"PERFBENCH_TAG={prefix}".encode()
    pids = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit() or int(d.name) == os.getpid():
            continue
        try:
            env = (d / "environ").read_bytes()
        except OSError:
            continue
        for kv in env.split(b"\0"):
            if kv.startswith(needle):
                pids[int(d.name)] = kv.split(b"=", 1)[1].decode()
    return pids


def reap() -> bool:
    """Collect every exited child, adopted orphans included. Returns
    whether a child is still running."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def kill_all(pgid: int | None, tag: str) -> None:
    if pgid is not None:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in tagged_pids(tag):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def wait_gone(tag: str, seconds: float) -> bool:
    """True once no tagged process and no child (not even a zombie) is
    left; False if `seconds` pass first."""
    deadline = time.monotonic() + seconds
    while True:
        left = tagged_pids(tag)
        if not reap() and not left:
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "jvector_spark" / "__init__.py").is_file():
        print(f"perfbench: no jvector_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"perfbench: prctl(PR_SET_CHILD_SUBREAPER) failed: errno "
              f"{ctypes.get_errno()}", file=sys.stderr)

    tag = f"{os.getpid()}-{secrets.token_hex(4)}"
    work = ROOT / ".perfbench" / tag
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    out = work / "result.json"
    # keep every file Spark, py4j and the workers write inside the work
    # dir; a 2 GB driver heap keeps the run small on a shared host
    env = dict(
        os.environ, PERFBENCH_TAG=tag, TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_DRIVER_MEM="2g",
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_SUBMIT_ARGS=(f"--driver-java-options -Djava.io.tmpdir={tmp} "
                             "--conf spark.ui.showConsoleProgress=false "
                             "pyspark-shell"))
    cmd = [sys.executable, str(HERE / "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--out", str(out)]
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)
    # the memcpy probe runs here, outside the workload process, so its
    # buffers never count toward the driver's RSS
    membw_before = membw_gbps()
    child = None
    status = 1
    try:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env,
                                 start_new_session=True)
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
        if rc != 0:
            print(f"perfbench: workload exited with {rc}", file=sys.stderr)
        elif not wait_gone(tag, EXIT_GRACE_S):
            print("perfbench: processes outlived the workload; killed",
                  file=sys.stderr)
        else:
            status = 0
    except subprocess.TimeoutExpired:
        print(f"perfbench: workload exceeded {CHILD_TIMEOUT_S} s; killed",
              file=sys.stderr)
    except Interrupted as e:
        status = 128 + e.args[0]
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        kill_all(child.pid if child is not None else None, tag)
        clean = wait_gone(tag, 10.0)
        result = out.read_text() if status == 0 and out.is_file() else None
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench").rmdir()   # only when no other run uses it
        except OSError:
            pass
    if not clean:
        print(f"perfbench: processes {list(tagged_pids(tag))} or an "
              "untagged child survived teardown", file=sys.stderr)
        return 3
    if status != 0 or result is None:
        return status or 1
    print(f"perfbench: probes membw_gbps_before={membw_before:.3f} "
          f"membw_gbps_after={membw_gbps():.3f}")
    print(result)
    return 0 if json.loads(result)["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
