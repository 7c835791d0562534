"""The repository's benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: microbatch_ingest, cdc_read_mix, operator_mix (see workloads.py
for what each does and why it was chosen).

Each call generates the workload's inputs from ``--seed``, runs the
workload in a fresh Python process with its own Spark session on
``local[<cpus>]``, checks the outputs, and prints as its last stdout line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``. The line
before it reports the host's CPU steal and busy shares over the timed
window, so run-to-run spread can be told apart from host noise.

``--trace 0`` runs the workload's cycles (as many as fill ``--seconds`` on
a 4-core machine; see workloads.py) and reports the end-to-end metrics.
``--trace 1`` runs the same operations twice, in two fresh processes,
first untraced and then traced, and reports the per-layer metrics: self
time per layer, counts (exact for a given seed) and the tracing overhead,
the traced total minus the untraced total.

The run environment is pinned here: the repository root on ``PYTHONPATH``
(Spark's Python workers import the engine from it), ``local[<cpus>]``, a
JVM heap sized to the machine, and a scratch directory under the
repository root as working, Spark-local and temp directory, deleted after
the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid
from collections import Counter

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")

#: Budget for the workload processes of one call; reaping them may take up
#: to 20 s more, and a call must end within 180 s.
TIMEOUT_S = 150


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_heap_mb() -> int:
    """A quarter of physical memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1024, min(4096, total_kb // 1024 // 4))


def child_env(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYTHONHASHSEED": "0",
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEMORY": f"{spark_heap_mb()}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata files: the JVM would write them under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def run_pids(work: str) -> list[int]:
    """Processes whose working directory is the run's work directory: the
    workload process, its JVM and Spark's Python workers (whose daemon
    leaves the process group, so a group signal misses it)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            cwd = os.readlink(f"/proc/{entry}/cwd")
        except OSError:
            continue
        if cwd == work or cwd.startswith(work + os.sep):
            pids.append(int(entry))
    return pids


def reap(proc: subprocess.Popen, work: str) -> None:
    """Stop every process the run started and wait until all are gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = run_pids(work)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            proc.poll()  # an exited workload process stays listed until reaped
            if not run_pids(work):
                return
            time.sleep(0.1)


def run_child(args, trace: int, timeout: float) -> dict:
    """Run one workload pass in a fresh process; return its raw samples."""
    work = os.path.join(RUNS_DIR, uuid.uuid4().hex)
    os.makedirs(work)
    try:
        out = os.path.join(work, "result.json")
        cmd = [
            sys.executable, os.path.join(HERE, "child.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--work-dir", work, "--out", out,
        ]
        if trace:
            cmd += ["--spans", os.path.join(
                RUNS_DIR, f"spans-{args.workload}-seed{args.seed}.json"
            )]
        spawned = time.monotonic()
        proc = subprocess.Popen(
            cmd, cwd=work, env=child_env(work), stdout=sys.stderr,
        )
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        reap(proc, work)
        proc.wait()
        if code != 0:
            raise RuntimeError(f"workload process failed (exit {code})")
        with open(out) as f:
            result = json.load(f)
        # set-up: interpreter and Spark start, input generation, warm-up
        result["setup_s"] = result["window_start"] - spawned
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def end_to_end(r: dict) -> dict:
    lat = r["op_latencies"]
    return {
        "setup_s": (r["setup_s"], "s"),
        "op_p50_ms": (1000.0 * median(lat), "ms"),
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
    }


def per_layer(u: dict, t: dict) -> dict:
    """Per-layer metrics from the traced pass ``t``; ``ops.*`` latencies
    from the untraced pass ``u`` of the same operation sequence."""
    s, tot, calls = t["self_s"], t["total_s"], t["calls"]
    c = t["counts"]
    n_ops = max(1, len(t["steps"]))

    def ratio(a, b):
        return a / b if b else 0.0

    m = {
        "session.start_s": (t["session_start_s"], "s"),
        "normalize.dict_to_arrow_s": (s.get("normalize.dict_to_arrow", 0.0), "s"),
        "normalize.cast_s": (s.get("normalize.cast", 0.0), "s"),
        "loader.self_s": (s.get("loader", 0.0), "s"),
        "loader.calls": (calls.get("loader", 0), "count"),
        "table.append_s": (s.get("table.append", 0.0), "s"),
        "table.merge_s": (s.get("table.merge", 0.0), "s"),
        "table.delete_where_s": (s.get("table.delete_where", 0.0), "s"),
        "table.scan_plan_s": (s.get("table.scan_plan", 0.0), "s"),
        "table.files_added_per_commit": (
            ratio(c.get("files_added", 0), c.get("commits", 0)), "count"),
        "table.files_rewritten": (c.get("files_rewritten", 0), "count"),
        "table.write_amplification": (
            ratio(c.get("bytes_added", 0), c.get("arrow_bytes_in", 0)), "ratio"),
        "table.storage_bytes_per_live_byte": (
            t.get("storage_bytes_per_live_byte", 0.0), "ratio"),
        "format.commit_s": (s.get("format.commit", 0.0), "s"),
        "format.load_snapshot_s": (s.get("format.load_snapshot", 0.0), "s"),
        "format.load_snapshot_calls_per_op": (
            calls.get("format.load_snapshot", 0) / n_ops, "count"),
        "format.manifest_reads_per_op": (c.get("manifest_reads", 0) / n_ops, "count"),
        "format.manifest_bytes_read_per_op": (
            c.get("manifest_bytes_read", 0) / n_ops, "B"),
        "format.manifest_bytes_written_per_commit": (
            ratio(c.get("manifest_bytes_written", 0), c.get("commits", 0)), "B"),
        "format.commit_retries": (c.get("commit_retries", 0), "count"),
        "filters.prune_s": (s.get("filters.prune", 0.0), "s"),
        "scan.exec_s": (s.get("op.read", 0.0), "s"),
        "scan.pending_delete_files": (
            ratio(c.get("pending_delete_files", 0), c.get("reads", 0)), "count"),
        "maintenance.rewrite_s": (s.get("maintenance.rewrite", 0.0), "s"),
        "maintenance.expire_s": (s.get("maintenance.expire", 0.0), "s"),
    }
    n_compact = c.get("compaction_commits", 0)
    for k in ("files_before", "files_after", "bytes_rewritten"):
        unit = "B" if k.startswith("bytes") else "count"
        m[f"maintenance.{k}"] = (ratio(c.get(f"maintenance_{k}", 0), n_compact), unit)
    for kind in workloads.READ_KINDS:
        m[f"filters.files_planned_ratio.{kind}"] = (
            ratio(c.get(f"files_planned.read.{kind}", 0),
                  c.get(f"files_total.read.{kind}", 0)), "ratio")

    by_type: dict[str, list] = {k: [0, 0, 0, 0] for k in workloads.STEP_TYPES}
    jobs_by_key: Counter = Counter()
    for op_type, j in t["spark"]:
        acc = by_type[op_type.split(".")[0]]
        acc[0] += 1
        acc[1] += j["jobs"]
        acc[2] += j["stages"]
        acc[3] += j["tasks"]
        if op_type.startswith("query."):
            jobs_by_key[op_type[len("query."):]] += j["jobs"]
    for k, (n, jobs, stages, tasks) in by_type.items():
        m[f"spark.jobs_per_op.{k}"] = (ratio(jobs, n), "count")
        m[f"spark.stages_per_op.{k}"] = (ratio(stages, n), "count")
        m[f"spark.tasks_per_op.{k}"] = (ratio(tasks, n), "count")

    # per pass of operator_mix
    for key in workloads.OPERATOR_KEYS:
        runs = calls.get(f"operators.{key}", 0)
        m[f"operators.{key}_s"] = (ratio(tot.get(f"operators.{key}", 0.0), runs), "s")
        m[f"operators.{key}.spark_jobs"] = (ratio(jobs_by_key[key], runs), "count")

    step_s: dict[str, list[float]] = {k: [] for k in workloads.STEP_TYPES}
    for op_type, sec in u["steps"]:
        step_s[op_type.split(".")[0]].append(sec)
    for k in ("commit", "merge", "replace", "read", "compaction"):
        m[f"ops.{k}_p50_ms"] = (1000.0 * median(step_s[k]), "ms")
    passes = len(step_s["query"]) / len(workloads.OPERATOR_KEYS)
    m["ops.query_total_s"] = (ratio(sum(step_s["query"]), passes), "s")

    traced, untraced = sum(t["op_latencies"]), sum(u["op_latencies"])
    m["trace.traced_total_s"] = (traced, "s")
    m["trace.untraced_total_s"] = (untraced, "s")
    m["trace.overhead_s"] = (traced - untraced, "s")
    m["host.peak_rss_mb"] = (t["peak_rss_mb"], "MB")
    m["host.steal_pct"] = (t["host"]["steal_pct"], "%")
    m["host.busy_pct"] = (t["host"]["busy_pct"], "%")
    return m


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "iceberg_loader_spark", "__init__.py")):
        print(f"no engine source under {ROOT}; nothing to benchmark", file=sys.stderr)
        return 2
    os.makedirs(RUNS_DIR, exist_ok=True)
    try:
        deadline = time.monotonic() + TIMEOUT_S
        if args.trace:
            runs = [run_child(args, 0, TIMEOUT_S / 2)]
            runs.append(run_child(args, 1, deadline - time.monotonic()))
            metrics = per_layer(*runs)
        else:
            runs = [run_child(args, 0, TIMEOUT_S)]
            metrics = end_to_end(runs[0])
    except RuntimeError as e:
        print(f"benchmark run failed: {e}", file=sys.stderr)
        return 1
    for r in runs:
        for problem in r["problems"]:
            print(f"check failed: {problem}", file=sys.stderr)
    last = runs[-1]
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "window_s": last["window_s"],
        "host": last["host"],
    }))
    print(json.dumps({
        "correct": all(not r["problems"] and r["failed"] == 0 for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
