"""Benchmark entry point: runs one workload and prints its result.

    python3 benchmark/run.py --workload serve_zipf --seed 1 --seconds 10 --trace 0

Run it from the root of a source checkout. The workload runs in its own
process (benchmark/workload.py) with a fresh SPARK_LOCAL_DIRS, on
local[nproc] with the driver memory sized to the host. This process
becomes the child subreaper, so the Spark JVM and the pyspark.daemon
workers are re-parented here when their parents exit; it waits for all
of them, kills them on timeout, removes the run directory and exits
non-zero if any survives. The last line of stdout is the result JSON:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. A failed correctness gate exits non-zero, no numbers.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve_zipf", "refresh_zipf")
CHILD_TIMEOUT_S = 150
REAP_TIMEOUT_S = 20
PR_SET_CHILD_SUBREAPER = 36


def _descendants(zombies: bool = False) -> list[int]:
    """Descendants of this process, from /proc; exited but unreaped
    ones only when ``zombies``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if zombies or fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _reap(cpu: list[float]) -> None:
    """Collect every exited child (re-parented orphans included)."""
    while True:
        try:
            pid, _, ru = os.wait4(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
        cpu[0] += ru.ru_utime + ru.ru_stime


def _log(msg: str) -> None:
    """Report to stderr; a closed stderr must not stop the clean-up."""
    try:
        print(msg, file=sys.stderr, flush=True)
    except OSError:
        pass


def _kill_all() -> None:
    for pid in _descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class _Interrupted(Exception):
    pass


def _interrupt(signum, frame):
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, signal.SIG_IGN)
    raise _Interrupted(signum)


def _environment(args, root: str) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    try:
        java = subprocess.run(
            ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=30,
            # a checkout that is not a repository must not report an enclosing one
            env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root)),
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "commit": commit,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # self-test only: a tiny corpus, and a deliberately wrong oracle
    p.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "posik_engine_spark", "__init__.py")):
        print(f"benchmark: no posik_engine_spark package under {root}", file=sys.stderr)
        return 2
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("benchmark: cannot become child subreaper", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // 2**20
    run_dir = os.path.join(root, ".benchmark-run", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(root, ".benchmark-out")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEM=f"{max(1, min(4, mem_gb // 4))}g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # the launcher JVM would otherwise write /tmp/hsperfdata_<user>
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    result_path = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", result_path,
        "--spans", os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"),
    ] + ["--tiny"] * args.tiny + ["--corrupt"] * args.corrupt

    cpu = [0.0]
    status = None
    # a signal to this process must not orphan the workload: kill, reap, clean up
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _interrupt)
    try:
        child = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True
        )
        deadline = time.monotonic() + CHILD_TIMEOUT_S
        while status is None:
            pid, st, ru = os.wait4(child.pid, os.WNOHANG)
            if pid:
                status = os.waitstatus_to_exitcode(st)
                child.returncode = status
                cpu[0] += ru.ru_utime + ru.ru_stime
            elif time.monotonic() > deadline:
                _kill_all()
                _log(f"benchmark: workload exceeded {CHILD_TIMEOUT_S}s, killed it")
            else:
                time.sleep(0.1)
    except _Interrupted as e:
        _kill_all()
        status = 128 + e.args[0]
        _log(f"benchmark: signal {e.args[0]}, killed the workload")
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, signal.SIG_IGN)  # finish the clean-up below

    deadline = time.monotonic() + REAP_TIMEOUT_S
    while True:
        _reap(cpu)
        if not _descendants(zombies=True):
            break
        if time.monotonic() > deadline:
            _kill_all()
            time.sleep(1.0)
            _reap(cpu)
            break
        time.sleep(0.1)
    survivors = _descendants()
    result = None
    if status == 0 and os.path.exists(result_path):
        with open(result_path) as f:
            result = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(run_dir))
    except OSError:
        pass  # another run still uses it
    if survivors:
        _log(f"benchmark: processes {survivors} outlived the workload")
        return 3
    if status != 0 or result is None:
        _log(f"benchmark: workload exited with {status}")
        return 1

    metrics = result["metrics"]
    if args.trace:
        metrics["process.cpu_s"] = {"value": cpu[0], "unit": "s"}
    print(json.dumps({"environment": _environment(args, root), "samples": result["info"]}))
    print(
        json.dumps(
            {
                "correct": True,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
