"""Per-layer metrics of a traced run, from its spans and Spark counters.

Times named ``<layer>.<call>_s`` are the inclusive span time of that call,
summed over the run's traced loop queries (after the first query and any
warm-up round) and divided by their number, so each is "seconds this layer
costs per query".
Counts are per query the same way; ratios are totals over the loop.
``session``/``functions`` are paid once per run and reported as such.
``cli_sql.*_ms`` are the Catalyst phase times of the ``cli._sql`` query
(0 on operators, which does not call it); ``spark_exec.*`` sum the jobs of
every job group the query's spans set.
``trace.overhead_ms`` is the traced loop's geometric-mean query time minus
that of the same queries run with tracing off in the same process;
``trace.unattributed_frac`` is the median share of a query's traced time
that no layer span covers.
"""

from __future__ import annotations

import json
import os
import statistics

with open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json"), encoding="utf-8") as _fh:
    # metric name -> unit, as BENCHMARK.json's per_layer list declares them
    METRICS = {m["name"]: m["unit"] for m in json.load(_fh)["per_layer"]}

# measured by child.py for the whole run, not from spans
RUN_LEVEL = ("session.jvm_peak_rss_mb",)

# span name -> metric of its per-query inclusive time
SPAN_TIMES = {
    "sources.read_file": "sources.read_file_s",
    "sources.flatten": "sources.flatten_s",
    "cache.content_hash": "cache.content_hash_s",
    "cache.get": "cache.get_s",
    "cache.put": "cache.put_s",
    "rewrite.extract_table_refs": "rewrite.extract_table_refs_s",
    "rewrite.rewrite": "rewrite.rewrite_s",
    "sqlexpr.rewrite_semantics": "sqlexpr.rewrite_semantics_s",
    "cli_sql.call": "cli_sql.call_s",
    "io_out.sink": "io_out.sink_s",
    "queries.build": "queries.build_s",
    "queries.eval": "queries.eval_s",
}

# tracer per-query counter -> (metric, scale)
COUNTERS = {
    "analysis_ms": ("cli_sql.analysis_ms", 1.0),
    "optimization_ms": ("cli_sql.optimization_ms", 1.0),
    "planning_ms": ("cli_sql.planning_ms", 1.0),
    "jobs": ("spark_exec.jobs", 1.0),
    "stages": ("spark_exec.stages", 1.0),
    "tasks": ("spark_exec.tasks", 1.0),
    "job_wall_s": ("spark_exec.job_wall_s", 1.0),
    "executor_run_s": ("spark_exec.executor_run_s", 1.0),
    "gc_s": ("spark_exec.gc_s", 1.0),
    "shuffle_read_b": ("spark_exec.shuffle_read_mb", 1e-6),
    "shuffle_write_b": ("spark_exec.shuffle_write_mb", 1e-6),
    "out_rows": ("io_out.rows", 1.0),
    "out_bytes": ("io_out.mb", 1e-6),
}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def summarize(tracer, records: list[dict], s_session: dict,
              s_register: dict) -> dict[str, float]:
    loop = [q for q, r in enumerate(records) if r.get("traced")]
    n = max(1, len(loop))
    out = {k: 0.0 for k in METRICS if k not in RUN_LEVEL}
    out["session.get_spark_s"] = s_session["end"] - s_session["start"]
    out["functions.register_all_s"] = s_register["end"] - s_register["start"]
    measured = set(loop)
    spans = [s for s in tracer.spans if s["qid"] in measured]
    gets = hits = in_bytes = sql_in = sql_out = stored = put_in = 0
    last_read: dict[int, int] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        if s["name"] in SPAN_TIMES:
            out[SPAN_TIMES[s["name"]]] += dur / n
        if s["name"] == "io_out.sink":
            out["io_out.self_s"] += (dur - s.get("job_wall_s", 0.0)) / n
        if s["name"] == "sources.read_file":
            in_bytes += s["in_bytes"]
            last_read[s["qid"]] = s["in_bytes"]
        if "hit" in s:
            gets += 1
            hits += s["hit"]
        if "dir" in s:
            stored += _dir_bytes(s["dir"])
            put_in += last_read.get(s["qid"], 0)
        if s["name"] == "rewrite.rewrite":
            sql_in += s["sql_in"]
            sql_out += s["sql_out"]
    out["sources.input_mb"] = in_bytes / 1e6 / n
    out["cache.hit_ratio"] = hits / gets if gets else 0.0
    out["cache.stored_bytes_per_input_byte"] = stored / put_in if put_in else 0.0
    out["rewrite.sql_growth"] = sql_out / sql_in if sql_in else 0.0
    for qid in loop:
        for key, value in tracer.queries[qid].items():
            if key in COUNTERS:
                name, scale = COUNTERS[key]
                out[name] += value * scale / n
    geo = statistics.geometric_mean
    out["trace.query_geomean_s"] = geo(records[q]["wall"] for q in loop)
    out["trace.overhead_ms"] = 1e3 * (out["trace.query_geomean_s"] - geo(
        r["wall"] for r in records if r.get("measured") and not r["traced"]))
    unattributed = []
    for qid in loop:
        root = next(s for s in spans if s["qid"] == qid and s["name"] == "query")
        unattributed.append(
            tracer.self_times(qid)["query"] / (root["end"] - root["start"]))
    out["trace.unattributed_frac"] = statistics.median(unattributed)
    return out
