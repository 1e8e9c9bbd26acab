"""The measured driver process of one benchmark run.

Started by run.py as a fresh Python process (so a fresh JVM) with the run's
spec file.  It builds the session the way the CLI does (``get_spark`` +
``register_all``), runs the workload's closed loop, and writes
``result.json`` (and, when tracing, ``spans.jsonl``) into the run's work
directory.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_clock(jvm_pid: int):
    """CPU seconds used so far by the driver: the JVM (all its threads) plus
    this Python process.  Time stolen by the hypervisor is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    stat = f"/proc/{jvm_pid}/stat"

    def cpu_s() -> float:
        with open(stat, encoding="ascii") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        t = os.times()
        return (int(fields[11]) + int(fields[12])) / tick + t.user + t.system

    return cpu_s


def main() -> None:
    spec_path = sys.argv[1]
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    sys.path.insert(0, spec["root"])
    tracer = Tracer(spec["trace"])
    from dsq_spark.session import get_spark

    with tracer.span("session.get_spark") as s_session:
        spark = get_spark("dsq-spark-bench")
    from dsq_spark import functions

    with tracer.span("functions.register_all") as s_register:
        functions.register_all(spark)
    tracer.install(spark)
    ready = time.monotonic()
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    cpu_s = cpu_clock(jvm_pid)
    setup_cpu = cpu_s()
    deadline = ready + spec["max_seconds"]
    runner = workloads.RUNNERS[spec["workload"]](spark, spec, tracer)
    records = workloads.run_stream(runner, spec, tracer, deadline, cpu_s)
    result = {
        "records": records,
        "ready": ready,
        "setup_cpu_s": setup_cpu,
        "peak_rss_mb": jvm_peak_rss_mb(jvm_pid),
        "java": spark._jvm.System.getProperty("java.version"),
        "pyspark": spark.version,
    }
    if spec["trace"]:
        tracer.uninstall()
        result["layers"] = layers.summarize(
            tracer, records, s_session, s_register)
        tracer.dump(os.path.join(spec["workdir"], "spans.jsonl"))
    with open(os.path.join(spec["workdir"], "result.json"), "w",
              encoding="utf-8") as fh:
        json.dump(result, fh)
    spark.stop()


if __name__ == "__main__":
    main()
