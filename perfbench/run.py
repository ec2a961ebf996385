"""Component benchmark: one workload, one seed, one run.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload extract_timetravel --seed 1 \\
        --seconds 15 --trace 0

Workloads: ``extract_timetravel``, ``ingest_mutate``, ``llm_curate``
(see ``perfbench/README.md``). Each run starts a fresh child process
(``child.py``) with its own scratch directory under
``.perfbench_scratch/`` in the checkout, waits for it and deletes the
scratch. The full record (metrics, stamps, per-operation detail in a
traced run) is printed as a ``record:`` line and written under
``.perfbench_out/``; the last stdout line is the summary JSON::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics. The exit code is non-zero when any operation or
output check failed, or when the engine is not in the checkout.
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
WORKLOADS = ("extract_timetravel", "ingest_mutate", "llm_curate")
# The seed kept out of tuning: a claimed gain must also hold on it.
HELD_OUT_SEED = 9_173
# the child's set-up, output checks and calibration probe, on top of its
# loop (cut at twice --seconds)
CHILD_SETUP_ALLOWANCE_S = 130


def _git(*args: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", *args], cwd=ROOT, capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def stop_session(sid: int, timeout_s: float = 30.0) -> None:
    """Kill every process of the child's session and wait until all have
    ended. The session, not the process group: PySpark's worker daemon
    moves itself into a process group of its own."""
    deadline = time.monotonic() + timeout_s
    while (pids := _session_pids(sid)) and time.monotonic() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def stamp(args) -> dict:
    import duckdb
    import pyspark

    sha = _git("rev-parse", "HEAD")
    status = _git("status", "--porcelain") if sha else None
    return {
        "git_sha": sha,
        "git_dirty": bool(status) if sha else None,
        "seed": args.seed,
        "held_out_seed": HELD_OUT_SEED,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "component_iceberg_spark", "component.py")):
        print("component_iceberg_spark is not in this checkout; nothing to measure",
              file=sys.stderr)
        return 2

    scratch = os.path.join(
        ROOT, ".perfbench_scratch", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(scratch, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    env = dict(
        os.environ,
        TMPDIR=os.path.join(scratch, "tmp"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # no JVM perf files outside the checkout
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_SQL_WAREHOUSE=os.path.join(scratch, "sql-warehouse"),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", scratch, "--out", out, "--spawn-time", repr(time.time()),
    ]
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=2 * args.seconds + CHILD_SETUP_ALLOWANCE_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        proc.kill()
        proc.wait()
        stop_session(proc.pid)
        shutil.rmtree(scratch, ignore_errors=True)
        if not os.listdir(os.path.dirname(scratch)):
            os.rmdir(os.path.dirname(scratch))
    if code != 0 or not os.path.exists(out):
        print(f"benchmark child failed (exit {code})", file=sys.stderr)
        return 1
    with open(out) as f:
        record = json.load(f)
    record["stamp"] = stamp(args)
    with open(out, "w") as f:
        json.dump(record, f, default=str)
    correct = record["failed"] == 0
    print("record: " + json.dumps({k: v for k, v in record.items() if k != "ops"}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
