"""One benchmark run of one workload, in a fresh process.

``run.py`` starts this file with its own scratch directory and deletes
that directory afterwards. Set-up (session start and input staging) is
timed first; then the closed loop runs for ``--seconds``; then the
result record is written to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import spans  # noqa: E402
from spans import median, tail_percentile, warehouse_walk  # noqa: E402

YOUNG_GEN = "512m"  # a quarter of the 2 GB driver heap


def start_session(scratch: str, cores: int):
    from component_iceberg_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    # the heap is sized at start and the young generation fixed, so the
    # JVM's resident memory does not depend on when the collector chose
    # to grow either; pages are not touched until used, so the old
    # generation's share follows the memory the engine retains
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return get_spark(
        "perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{heap} -Xmn{YOUNG_GEN} -XX:-UsePerfData",
        },
    )


def peak_rss_mb() -> dict:
    """Peak resident memory (VmHWM) of this process and of its JVM."""
    me = os.getpid()
    pids = [me]
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if comm == "java" and ppid == me:
            pids.append(int(d))
    out = {}
    for name, pid in zip(("python", "jvm"), pids):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    out[name] = int(line.split()[1]) / 1024.0
    return out


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def calibration_sec(spark) -> float:
    """Fixed-work JVM aggregate (the ``jvm_agg_2e8_sec`` probe): a
    machine-speed token stored with the record, never a metric."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(200_000_000).select(
        F.avg(F.col("id") * 1.5), F.sum(F.col("id") % 97)
    ).collect()
    return time.perf_counter() - t0


def per_layer(run, rec, n_ops: int, cores: int, session_s: float) -> dict:
    ops = run.ops
    # spans outside an operation (output checks) are not workload time
    self_s = spans.layer_self_seconds([s for s in rec.spans if s["op"] is not None])

    def per_op(v: float) -> float:
        return v / n_ops

    def ssum(key: str) -> float:
        return sum(o["spark"][key] for o in ops)

    def wsum(key: str) -> float:
        return sum(o["walk"][key] for o in ops)

    wall = sum(o["wall_s"] for o in ops)
    job_wall = ssum("spark.job_wall_s")
    readbacks = [o["live_data_files"] for o in ops if "live_data_files" in o]
    m = {"session.start_s": (session_s, "s")}
    m["component.self_s"] = (per_op(self_s.get("component", 0.0)), "s/op")
    for layer in ("read", "commit", "mutate", "maintain"):
        m[f"io.snaptable.{layer}_s"] = (per_op(self_s.get(f"io.snaptable.{layer}", 0.0)), "s/op")
    m["io.snaptable.data_files_written"] = (per_op(wsum("data_files")), "count/op")
    m["io.snaptable.data_bytes_written"] = (per_op(wsum("data_bytes")), "B/op")
    m["io.snaptable.delete_bytes_written"] = (per_op(wsum("delete_bytes")), "B/op")
    m["io.snaptable.meta_bytes_written"] = (per_op(wsum("meta_bytes")), "B/op")
    m["io.snaptable.live_data_files"] = (
        sum(readbacks) / len(readbacks) if readbacks else 0.0, "count")
    m["io.snaptable.commit_conflicts"] = (sum(o["conflicts"] for o in ops), "count")
    m["io.csv_io.read_s"] = (per_op(self_s.get("io.csv_io.read", 0.0)), "s/op")
    m["io.csv_io.write_s"] = (per_op(self_s.get("io.csv_io.write", 0.0)), "s/op")
    m["io.csv_io.bytes"] = (per_op(sum(o.get("bytes_csv", 0) for o in ops)), "B/op")
    for layer in ("scan", "text", "dedup", "similarity"):
        m[f"operators.{layer}.s"] = (per_op(self_s.get(f"operators.{layer}", 0.0)), "s/op")
    m["streaming.events.screen_s"] = (per_op(self_s.get("streaming.events.screen", 0.0)), "s/op")
    for key in ("spark.jobs", "spark.stages", "spark.tasks"):
        m[key] = (per_op(ssum(key)), "count/op")
    m["spark.job_wall_s"] = (per_op(job_wall), "s/op")
    m["spark.driver_gap_s"] = (per_op(wall - job_wall), "s/op")
    m["spark.task_busy_s"] = (per_op(ssum("spark.task_busy_s")), "s/op")
    m["spark.core_util"] = (
        ssum("spark.task_busy_s") / (job_wall * cores) if job_wall else 0.0, "ratio")
    for key in ("spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes"):
        m[key] = (per_op(ssum(key)), "B/op")
    m["spark.gc_s"] = (per_op(ssum("spark.gc_s")), "s/op")
    m["spark.failed_tasks"] = (ssum("spark.failed_tasks"), "count")
    m["python.worker_s"] = (per_op(ssum("python.worker_s")), "s/op")
    m["python.boot_s"] = (per_op(ssum("python.boot_s")), "s/op")
    m["python.bytes_sent"] = (per_op(ssum("python.bytes_sent")), "B/op")
    m["python.bytes_received"] = (per_op(ssum("python.bytes_received")), "B/op")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    import oracle
    from instrument import install
    from sparkstats import SparkCounters
    from workloads import WORKLOADS, OpFailed, Run

    cores = len(os.sched_getaffinity(0))
    spark = start_session(args.scratch, cores)
    session_s = time.time() - args.spawn_time
    con = oracle.connect(os.path.join(args.scratch, "tmp"))
    wl = WORKLOADS[args.workload](spark, args.scratch, args.seed, con)
    # the run's work is fixed by --seconds: as many units as fit at the
    # workload's nominal unit wall; only their inputs are staged
    n_units = max(1, int(args.seconds // wl.UNIT_S))
    t0 = time.perf_counter()
    wl.stage(n_units)
    stage_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + stage_s + warm_s

    rec = spans.Recorder(bool(args.trace))
    counters = SparkCounters(spark) if args.trace else None
    undo = install(rec) if args.trace else None
    run = Run(spark, rec, counters, wl.warehouse)
    steal0 = steal_s()
    t0 = time.perf_counter()
    try:  # twice --seconds cuts a far slower run
        wl.loop(run, n_units, t0 + 2 * args.seconds)
        wl.finish(run)
    except OpFailed:
        pass  # the failing operation is already marked in run.ops
    loop_s = time.perf_counter() - t0
    loop_steal_s = steal_s() - steal0
    if undo:
        undo()

    rss = peak_rss_mb()
    ops = run.ops
    failed = sum(1 for o in ops if not o["ok"])
    walls = [o["wall_s"] for o in ops]
    tail_p, tail_v, n = tail_percentile(walls)
    wh = warehouse_walk(wl.warehouse)
    wh_bytes = sum(v for k, v in wh.items() if k.endswith("bytes"))
    rows_per_s = sum(o["rows"] for o in ops) / sum(walls)
    record = {
        "workload": args.workload,
        "attempted": len(ops),
        "failed": failed,
        "fail_ratio": failed / max(1, len(ops)),
        "errors": [o["error"] for o in ops if not o["ok"]][:3],
        "loop_s": loop_s,
        "units": n_units,
        "setup": {"session_s": session_s, "warm_up_s": warm_s, "stage_s": stage_s},
        # not bounded metrics: at these sample counts they do not repeat
        "op_p50_s": median(walls),
        "op_tail": {"value_s": tail_v, "percentile": tail_p, "samples": n},
        "ops_by_kind": {
            k: {"n": len(w), "p50_s": median(w)}
            for k in sorted({o["kind"] for o in ops})
            for w in [[o["wall_s"] for o in ops if o["kind"] == k]]
        },
        "check_s": sum(o.get("check_s", 0.0) for o in ops),
        # a count fixed by the seed, taken from the engine's outputs
        "checks": {"operators.dedup.dropped": getattr(wl, "dropped", None)},
        "warehouse": wh,
        "peak_rss_mb": rss,
    }
    if args.trace:
        metrics = per_layer(run, rec, len(ops), cores, session_s)
        metrics["trace.rows_per_s"] = (rows_per_s, "rows/s")
        rec.write(args.out.replace(".json", ".spans.json"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (rows_per_s, "rows/s"),
            "peak_rss_mb": (sum(rss.values()), "MB"),
            "bytes_per_user_byte": (wh_bytes / wl.user_bytes(), "ratio"),
        }
    record["ops"] = ops
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    record["calibration"] = {"jvm_agg_2e8_sec": calibration_sec(spark),
                             "loadavg": list(os.getloadavg()), "nproc": cores,
                             "loop_steal_s": loop_steal_s}
    with open(args.out, "w") as f:
        json.dump(record, f, default=str)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
