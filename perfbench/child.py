"""One benchmark run inside this process; ``run.py`` starts it.

Starts the engine's Spark session, generates the workload's inputs from
the seed, sets the workload up (untimed), runs its cycles of operations in
a closed loop, checks the outputs and writes the raw samples as JSON to
``--out``.

Usage: python3 child.py --workload NAME --seed N --seconds S --trace 0|1
       --work-dir DIR --out FILE [--spans FILE]
"""

from __future__ import annotations

import argparse
import json
import resource
import subprocess
import time


#: The /proc/stat fields that partition CPU time; guest time is already
#: counted in user time.
CPU_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def host_share(before, after) -> dict[str, float]:
    """Steal and busy time over an interval, as percentages of all CPU time,
    from two ``bench._cpu_stat()`` readings."""
    if before is None or after is None:  # no /proc/stat
        return {"steal_pct": 0.0, "busy_pct": 0.0}
    delta = {k: after[k] - before[k] for k in CPU_FIELDS}
    jiffies = sum(delta.values()) or 1
    busy = jiffies - delta["idle"] - delta["iowait"]
    return {
        "steal_pct": 100.0 * delta["steal"] / jiffies,
        "busy_pct": 100.0 * busy / jiffies,
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--work-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--spans")
    a = p.parse_args()

    import bench
    from iceberg_loader_spark import get_spark

    import tracing
    import workloads

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    session_start_s = time.perf_counter() - t0
    try:
        tracer = tracing.Tracer()
        run = workloads.Run(spark, a.seed, a.work_dir, tracer, counting=bool(a.trace))
        wl = workloads.WORKLOADS[a.workload](run)
        if a.trace:
            tracing.install(tracer)
        wl.setup()
        run.reset_samples()

        if a.trace:
            run.jobs = tracing.SparkJobs(spark)
            tracer.enabled = True
        stat0 = bench._cpu_stat()
        window_start = time.monotonic()
        for _ in range(workloads.cycles(wl, a.seconds)):
            for fn in wl.cycle():
                run.op(fn)
        window_s = time.monotonic() - window_start
        host = host_share(stat0, bench._cpu_stat())
        tracer.enabled = False

        wl.verify()
        out = {
            "workload": a.workload,
            "session_start_s": session_start_s,
            "window_start": window_start,
            "window_s": window_s,
            "op_latencies": run.op_latencies,
            "steps": run.steps,
            "attempted": run.attempted,
            "failed": run.failed,
            "problems": run.problems,
            "host": host,
            "peak_rss_mb": vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }
        if hasattr(wl, "storage_bytes_per_live_byte"):
            out["storage_bytes_per_live_byte"] = wl.storage_bytes_per_live_byte()
        if a.trace:
            out["self_s"] = dict(tracer.self_s)
            out["total_s"] = dict(tracer.total_s)
            out["calls"] = dict(tracer.calls)
            out["counts"] = dict(tracer.counts)
            jobs = run.jobs.totals()
            out["spark"] = [
                [op_type, jobs[gid]] for gid, op_type in run.jobs.groups
            ]
            if a.spans:
                tracer.dump(a.spans)
    finally:
        stop_session(spark)
    with open(a.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
