"""Benchmark command.

    python3 perfbench/run.py --workload etl_reference --seed 1 --seconds 20 --trace 0

Runs one workload for ``--seconds`` in a fresh temp root inside the
checkout (``.perfbench_runs/``), which becomes the run's ``TMPDIR``,
``SPARK_LOCAL_DIRS``, warehouse and event log, and is removed at the
end. Spark runs at ``local[<cpus>]``. The work happens in a child
process (``worker.py``); every process it leaves behind is stopped
before this command exits.

Standard output ends with two JSON lines: the run's environment record
(cpus, parallelism, driver memory, seed, source digest, sample counts),
then the result ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones. The exit code is non-zero when any operation
failed or the run could not complete.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "stock_bars_data_engineering_project_spark"
# the worker runs past --seconds until its fixed count of steady units is done
WORKER_GRACE_S = 120
DRIVER_MEM_CAP_GB = 2


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """Below physical RAM: a quarter of it, at most DRIVER_MEM_CAP_GB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(DRIVER_MEM_CAP_GB, phys // 4 // 2**30))}g"


def source_digest() -> str:
    """The checkout is not a git repository, so the commit is identified
    by a digest of the package sources."""
    h = hashlib.sha1()
    for dirpath, dirs, names in os.walk(os.path.join(REPO, PACKAGE)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(dirpath, n)
                h.update(os.path.relpath(p, REPO).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def group_alive(pgid: int) -> list[int]:
    alive = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(d))
    return alive


def stop_group(pgid: int) -> None:
    """Wait for the worker's process group (the Spark JVM and its Python
    workers) to exit on its own, then terminate and kill what is left."""
    for sig, grace in ((None, 15.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not group_alive(pgid):
            return
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        t_end = time.time() + grace
        while time.time() < t_end and group_alive(pgid):
            time.sleep(0.1)
    left = group_alive(pgid)
    if left:
        raise RuntimeError(f"processes {left} did not stop")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--toy",
        action="store_true",
        help="self-test size (3 tickers, sf0.001 tables); needs --trace 1 "
        "and reports both metric sets",
    )
    args = ap.parse_args()
    if args.toy and not args.trace:
        ap.error("--toy needs --trace 1")

    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"package {PACKAGE} not found next to perfbench/", file=sys.stderr)
        return 2

    runs = os.path.join(REPO, ".perfbench_runs")
    root = os.path.join(runs, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    tmp = os.path.join(root, "tmp")
    local = os.path.join(root, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        PYTHONPATH=os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p),
        PYTHONDONTWRITEBYTECODE="1",
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--root", root,
        "--spawned", repr(time.time()),
    ]  # fmt: skip
    if args.toy:
        cmd.append("--toy")
    timeout = args.seconds + WORKER_GRACE_S
    result = None
    try:
        proc = subprocess.Popen(
            cmd, env=env, cwd=root, stdout=sys.stderr, start_new_session=True
        )
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {timeout:.0f} s", file=sys.stderr)
            code = -1
        stop_group(proc.pid)
        proc.wait()
        path = os.path.join(root, "result.json")
        if code == 0 and os.path.exists(path):
            with open(path) as f:
                result = json.load(f)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass  # another run is using it
    if result is None:
        print("worker did not produce a result", file=sys.stderr)
        return 1
    record = dict(result.pop("env"))
    record.update(commit=source_digest(), samples=result.pop("samples"))
    print(json.dumps({"env": record}))
    print(json.dumps(result))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
