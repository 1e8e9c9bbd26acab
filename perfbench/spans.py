"""Span recorder for the traced run (the Tracer used by child.py).

Spans are recorded from outside the program: ``Tracer.install`` swaps the
public callees the CLI uses (readers, cache, rewriter, ``cli._sql``, the
output sinks, function registration) for wrappers that open a span around
the original call, and ``uninstall`` puts the originals back.  No program
source changes.  Each span has a name, start, end, parent span and the id
of the query it belongs to; spans stay in memory until ``dump``.

Spark counters come from a job group set per span that can launch jobs:
after a query the jobs of each group are read from the status tracker and
the status store (jobs, stages, tasks, executor run time, GC, shuffle
bytes) and the Catalyst phase times from ``queryExecution().tracker()``:
analysis from the DataFrame ``cli._sql`` returned, optimization and
planning from the Dataset the output sink iterated (``pretty_table``
re-projects), each only as far as the program ran it.

With ``enabled=False`` every method is a no-op and nothing is installed.
``set_on`` switches recording (and the wrappers) off and on between
queries, so a traced run can time the same queries both ways.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

# Spans whose callee can launch Spark jobs get their own job group, so each
# job is charged to the innermost such span.
JOB_SPANS = frozenset({
    "query", "functions.register_all", "sources.read_file", "sources.flatten",
    "cache.get", "cache.put", "cli_sql.call", "io_out.sink",
    "queries.build", "queries.eval",
})

# (module, class or None, attribute, span name) that Tracer.install wraps.
WRAPPED = (
    ("dsq_spark.functions", None, "register_all", "functions.register_all"),
    ("dsq_spark.cli", None, "read_file", "sources.read_file"),
    ("dsq_spark.cli", None, "flatten", "sources.flatten"),
    ("dsq_spark.cache", None, "content_hash", "cache.content_hash"),
    ("dsq_spark.cache", "ParquetCache", "get", "cache.get"),
    ("dsq_spark.cache", "ParquetCache", "put", "cache.put"),
    ("dsq_spark.cli", None, "extract_table_refs", "rewrite.extract_table_refs"),
    ("dsq_spark.cli", None, "rewrite_query_tracked", "rewrite.rewrite"),
    ("dsq_spark.sqlexpr", None, "rewrite_semantics", "sqlexpr.rewrite_semantics"),
    ("dsq_spark.cli", None, "_sql", "cli_sql.call"),
    ("dsq_spark.cli", None, "dump_json", "io_out.sink"),
    ("dsq_spark.cli", None, "pretty_table", "io_out.sink"),
    # no span: records the Dataset a sink executes, for its plan phases
    ("pyspark.sql.classic.dataframe", "DataFrame", "toLocalIterator", None),
)


def _opt_ms(opt) -> float | None:
    """A Scala Option[PhaseSummary] → its duration in ms, or None.  The
    Option must be unwrapped with isDefined/get: calling durationMs() on
    the Option itself is not a py4j method."""
    return float(opt.get().durationMs()) if opt.isDefined() else None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = self.on = enabled
        self.spans: list[dict] = []
        self.queries: dict[int, dict] = {}
        self.qid: int | None = None
        self._stack: list[int] = []
        self._groups: list[str | None] = []
        self._saved: list[tuple] = []
        self._sc = None
        self._df = None
        self._sink_df = None

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "qid": self.qid,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        grouped = name in JOB_SPANS and self._sc is not None
        if grouped:
            group = f"pb{self.qid}.{rec['id']}"
            rec["group"] = group
            self._groups.append(group)
            self._sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if grouped:
                self._groups.pop()
                prev = next((g for g in reversed(self._groups) if g), None)
                if prev is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self._sc.setJobGroup(prev, "")
            self._stack.pop()

    def _wrap(self, fn, name: str | None):
        if name is None:
            @functools.wraps(fn)
            def note_sink(df, *args, **kwargs):
                self._sink_df = df
                return fn(df, *args, **kwargs)

            return note_sink

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                self._note(name, rec, args, out)
                return out

        return wrapper

    def _note(self, name: str, rec: dict, args: tuple, out) -> None:
        """Counts recorded at the layer boundary, kept on the span."""
        if name == "sources.read_file":
            rec["in_bytes"] = os.path.getsize(args[1])
        elif name == "cache.get" and args[0].enabled:
            rec["hit"] = out is not None
        elif name == "cache.put" and args[0].enabled:
            rec["dir"] = os.path.join(args[0].dir, f"t_{args[2]}")
        elif name == "rewrite.rewrite":
            rec["sql_in"] = len(args[0].encode())
            rec["sql_out"] = len(out[0].encode())
        elif name == "cli_sql.call":
            self._df = out

    def install(self, spark) -> None:
        """Wrap the callees and remember the SparkContext (for job groups
        and counters).  Spans recorded before this have neither."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        self._wrap_all()

    def _wrap_all(self) -> None:
        for mod, cls, attr, name in WRAPPED:
            owner = importlib.import_module(mod)
            if cls is not None:
                owner = getattr(owner, cls)
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def set_on(self, on: bool) -> None:
        """Switch recording, and the wrappers with it, off or back on."""
        if not self.enabled or on == self.on:
            return
        self.on = on
        if on:
            self._wrap_all()
        else:
            self.uninstall()

    # ---------------------------------------------------------- queries
    def begin_query(self, qid: int) -> None:
        self.qid = qid
        self._df = self._sink_df = None

    def end_query(self) -> dict:
        """Right after the timed region, before the output check runs any
        Spark action of its own: read the Spark counters of this query's job
        groups and its Catalyst phase times.  Returns the query's record
        (the caller may add counts to it), or {} when not recording."""
        qid, self.qid = self.qid, None
        if not self.enabled:
            return {}
        # Let the listener bus deliver the query's events whether or not
        # this query was recorded, so that in a traced run the untimed gap
        # before the next query is alike with tracing on and off.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        if not self.on:
            return {}
        spans = [s for s in self.spans if s["qid"] == qid]
        rec = self._spark_counters(spans)
        rec.update(self._phases())
        self.queries[qid] = rec
        self._df = self._sink_df = None
        return rec

    def _phases(self) -> dict:
        """Phase times the program itself ran; a phase it never reached
        (a failed query, or a plan the sink did not execute) counts 0."""
        out = {"analysis_ms": 0.0, "optimization_ms": 0.0, "planning_ms": 0.0}
        for df, keys in ((self._df, ("analysis",)),
                         (self._sink_df or self._df,
                          ("optimization", "planning"))):
            if df is None:
                continue
            phases = df._jdf.queryExecution().tracker().phases()
            for k in keys:
                ms = _opt_ms(phases.get(k))
                if ms is not None:
                    out[f"{k}_ms"] = ms
        return out

    def _spark_counters(self, spans: list[dict]) -> dict:
        sc = self._sc
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        tot = {"jobs": 0, "stages": 0, "tasks": 0, "job_wall_s": 0.0,
               "executor_run_s": 0.0, "gc_s": 0.0, "shuffle_read_b": 0,
               "shuffle_write_b": 0}
        for s in spans:
            if "group" not in s:
                continue
            s["job_wall_s"] = 0.0
            for jid in tracker.getJobIdsForGroup(s["group"]):
                job = self._finished_job(store, jid)
                if job is None:
                    continue
                wall = (job.completionTime().get().getTime()
                        - job.submissionTime().get().getTime()) / 1e3
                s["job_wall_s"] += wall
                tot["jobs"] += 1
                tot["job_wall_s"] += wall
                it = job.stageIds().iterator()
                while it.hasNext():
                    sd = self._stage(store, tracker, it.next())
                    if sd is None or str(sd.status()) != "COMPLETE":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += sd.numCompleteTasks()
                    tot["executor_run_s"] += sd.executorRunTime() / 1e3
                    tot["gc_s"] += sd.jvmGcTime() / 1e3
                    tot["shuffle_read_b"] += sd.shuffleReadBytes()
                    tot["shuffle_write_b"] += sd.shuffleWriteBytes()
        return tot

    @staticmethod
    def _finished_job(store, jid: int, wait_s: float = 3.0):
        """The status store is fed by the asynchronous listener bus, so a
        job can finish before its end event is recorded: poll briefly."""
        deadline = time.monotonic() + wait_s
        while True:
            try:
                job = store.job(jid)
                if job.completionTime().isDefined():
                    return job
            except Py4JError:  # not yet in the store (NoSuchElementException)
                pass
            if time.monotonic() > deadline:
                return None
            time.sleep(0.01)

    @staticmethod
    def _stage(store, tracker, sid: int):
        info = tracker.getStageInfo(sid)
        attempt = info.currentAttemptId if info is not None else 0
        try:
            return store.stageAttempt(
                sid, attempt, False, getattr(store, "stageAttempt$default$4")(),
                False, getattr(store, "stageAttempt$default$6")())._1()
        except Py4JError:  # stage evicted from the store or never ran
            return None

    # ----------------------------------------------------------- output
    def self_times(self, qid: int) -> dict[str, float]:
        """Self time per span name for one query: duration minus the time
        covered by child spans (children never overlap: one thread)."""
        spans = [s for s in self.spans if s["qid"] == qid]
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
