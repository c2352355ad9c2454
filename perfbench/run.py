"""Engine benchmark: one seeded workload of the public ``varint_simd_spark``
API on ``local[nproc]``, end-to-end metrics (``--trace 0``) or per-layer
metrics (``--trace 1``).

    python3 perfbench/run.py --workload web --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  The workload itself runs in a child
process (``perfbench/child.py``) in its own session; this supervisor bounds
its time, stops every process of that session (the Spark JVM and the
Python workers included) and waits for them to end.  Everything the run
writes goes under ``.perfbench_work/`` in the checkout and is removed at
the end.  Detail lines (per-op medians, path record, canary) go to stdout
first; the last stdout line is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("web", "int_roundtrip")
CHILD_TIMEOUT_S = 160  # leaves room to stop the session within 180 s


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid`` (from /proc)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        # fields[0] is the state; zombies have ended and only await reaping
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(name))
    return pids


def stop_session(sid: int, grace_s: float = 5.0) -> None:
    """TERM, then KILL, every process of session ``sid``; wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)
    if session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "varint_simd_spark", "__init__.py")):
        print(f"perfbench: no varint_simd_spark package under {ROOT}; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result_path = os.path.join(work, "result.json")
    env = dict(os.environ)
    # the package and the benchmark's own modules must import in the
    # Python workers too, whatever the caller's working directory is
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    # keep every file the run writes inside the checkout: Python and JVM
    # temporary files, Spark's scratch space, and no JVM perf-data files
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={env['TMPDIR']}", "-XX:-UsePerfData"]))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["PYTHONUNBUFFERED"] = "1"
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--result", result_path]

    def terminated(signum, _frame):
        raise SystemExit(128 + signum)  # unwinds through the finally blocks below

    signal.signal(signal.SIGTERM, terminated)
    try:
        proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True,
                                stdin=subprocess.DEVNULL, stdout=sys.stderr)
        rc = None
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: workload exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        finally:
            # the child's session holds the Spark JVM and the Python workers
            stop_session(proc.pid)
            proc.wait()
        if rc != 0:
            print(f"perfbench: workload process failed (exit {rc})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            out = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    for line in out["detail"]:
        print(json.dumps(line, sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
