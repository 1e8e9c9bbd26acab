#!/usr/bin/env python3
"""dsq_spark benchmark: one run of one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload cli_files --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``cli_files``, ``repl_dialect``, ``operators``.
A run writes its seeded inputs under ``.perfbench/`` in the checkout, spawns
one fresh driver process (child.py: new Python, new JVM) on
``local[<cpus>]`` with its own ingest-cache and Spark scratch directories,
runs the workload as a closed loop with one client, checks every output,
removes its directories and prints, as the last stdout line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones of a separate traced run (layers.py).  The line before it is
the run's environment disclosure (steal, load, cpus, memory, versions).
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import workloads  # noqa: E402

DRIVER_MEM = "2g"   # SPARK_GRAFT_DRIVER_MEM for every run
RUN_LIMIT_S = 170   # a run must end within 180 s
LOOP_LIMIT_S = 100  # hard cap on the measured loop inside that


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def proc_stat() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def child_env(root: str, workdir: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("DSQ_", "SPARK_GRAFT_"))}
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "DSQ_SPARK_CACHE_DIR": os.path.join(workdir, "cache"),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    return env


def stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """Wait for every process left in the child's session (the JVM that
    PySpark launched, finishing its shutdown hooks) to end; after
    ``grace_s`` terminate them, and kill what still remains."""
    deadline = time.monotonic() + grace_s
    sig = 0
    while True:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        now = time.monotonic()
        if now > deadline + 5:
            sig = signal.SIGKILL
        elif now > deadline:
            sig = signal.SIGTERM
        time.sleep(0.1)


def spawn(spec_path: str, workdir: str, env: dict, timeout: float) -> float:
    """Run child.py to completion; returns the monotonic spawn time."""
    log = open(os.path.join(workdir, "child.log"), "wb")
    with log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec_path],
            cwd=workdir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            raise
        finally:
            stop_group(proc.pid)
            proc.wait()
    return t_spawn


def end_to_end(res: dict, t_spawn: float) -> dict[str, tuple]:
    """Set-up wall time, and driver CPU seconds (JVM and Python, so time the
    hypervisor steals is not in them) of set-up, of the first query and per
    measured query (geometric mean, so no one query shape dominates); the
    wall-clock loop latency is in the traced run."""
    recs = res["records"]
    loop = [r for r in recs if r.get("measured")]
    return {
        "setup_s": (res["ready"] - t_spawn, "s"),
        "setup_cpu_s": (res["setup_cpu_s"], "s"),
        "first_query_cpu_s": (recs[0]["cpu"], "s"),
        "query_cpu_s": (statistics.geometric_mean(r["cpu"] for r in loop), "s"),
        "ok_frac": (sum(r["ok"] for r in recs) / len(recs), "ratio"),
    }


def run(workload: str, seed: int, seconds: int, trace: bool,
        size: str = "bench", mutate_spec=None) -> tuple[dict, dict]:
    """One run; returns (result line, environment disclosure).
    ``mutate_spec`` (tests only) may edit the spec before the child starts."""
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dsq_spark", "cli.py")):
        raise SystemExit("perfbench: run from the root of a dsq_spark checkout "
                         "(dsq_spark/cli.py not found)")
    t_start = time.monotonic()
    base = os.path.join(root, ".perfbench")
    workdir = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    steal0, total0 = proc_stat()
    load = os.getloadavg()
    try:
        spec = workloads.PREPARE[workload](seed, workdir, size)
        spec.update(workload=workload, seed=seed, seconds=seconds,
                    trace=trace, root=root, workdir=workdir,
                    max_seconds=LOOP_LIMIT_S)
        if mutate_spec is not None:
            mutate_spec(spec)
        spec_path = os.path.join(workdir, "spec.json")
        with open(spec_path, "w", encoding="utf-8") as fh:
            json.dump(spec, fh)
        budget = RUN_LIMIT_S - (time.monotonic() - t_start)
        try:
            t_spawn = spawn(spec_path, workdir, child_env(root, workdir), budget)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: run exceeded {RUN_LIMIT_S} s")
        res_path = os.path.join(workdir, "result.json")
        if not os.path.exists(res_path):
            with open(os.path.join(workdir, "child.log"), "rb") as fh:
                tail = fh.read()[-4000:].decode(errors="replace")
            raise SystemExit(f"perfbench: driver process failed:\n{tail}")
        with open(res_path, encoding="utf-8") as fh:
            res = json.load(fh)
        if trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            shutil.copy(os.path.join(workdir, "spans.jsonl"), os.path.join(
                base, "traces", f"{workload}-seed{seed}.jsonl"))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    steal1, total1 = proc_stat()
    env = {
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "loadavg_1m": load[0], "cpus": cpu_count(),
        "driver_mem": DRIVER_MEM, "java": res["java"], "pyspark": res["pyspark"],
    }
    recs = res["records"]
    failed = [r for r in recs if not r["ok"]]
    for r in failed[:5]:
        print(f"perfbench: FAILED {r['shape']}: {r['err']} :: {r['sql']}",
              file=sys.stderr)
    if trace:
        values = dict(res["layers"],
                      **{"session.jvm_peak_rss_mb": res["peak_rss_mb"]})
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in layers.METRICS.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in
                   end_to_end(res, t_spawn).items()}
    line = {"correct": not failed, "attempted": len(recs),
            "failed": len(failed), "metrics": metrics}
    return line, env


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.PREPARE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    line, env = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps({"env": env}))
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
