"""The three benchmark workloads.

Each workload has a parent side, ``prepare_<name>(seed, workdir, size)``,
which writes the inputs and returns a spec holding the query stream with
the expected answer of every query, and a child side, a ``Runner`` that
executes one query at a time inside the measured driver process.

* ``cli_files``: one ``cli.run(argv, spark)`` invocation per query over
  CSV / JSONL / JSON-array files, in rounds of seven query shapes; four
  pass ``-C``, and before one of them an input is rewritten to new bytes
  (same rows), so that query misses the ingest cache and writes Parquet
  while the other three read it.  One unmeasured warm-up round precedes
  the measured rounds.  Expected answers come from Python's sqlite3
  loaded with the same rows.
* ``repl_dialect``: the REPL's per-line path (``cli._ingest`` once, then
  ``rewrite_query_tracked`` -> ``cli._sql`` -> ``pretty_table`` per line)
  over SQLite-dialect queries drawn from the generator of
  ``scripts/probe_constants.py``; expected answers from sqlite3, compared
  with that probe's ``canon``/``classify`` rules.
* ``operators``: registered ``dsq_spark.queries`` operators in a fresh
  session, an unmeasured cold pass and then measured warm passes, with
  bench.py's protocol (untimed GC and ``clearCache``, noop sink), checked
  against the registry's DuckDB oracle SQL exactly as
  ``tests/test_queries_oracle.py`` compares them.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import random
import re
import sqlite3
import sys
import time

# --------------------------------------------------------------------------
# sizes
# --------------------------------------------------------------------------

# Per size: the table scales (lineitem rows = 6e6 * scale), the measured
# cli_files rounds and the REPL lines a run must reach.
SIZES = {
    "bench": {"cli_scale": 0.002, "op_scale": 0.01, "cli_rounds": 2,
              "repl_min": 10},
    "tiny": {"cli_scale": 0.0005, "op_scale": 0.0005, "cli_rounds": 1,
             "repl_min": 3},
}

# TPC-H joins, the shingle/tf-idf family, byte-light ANN, the job-heavy
# iterative loop and a window query.  dedup_minhash_lsh (~11 s cold on 4
# cores) is left out so a run fits the benchmark's time budget.
OPERATORS = ["q1_pricing_summary", "q9_product_profit", "q18_large_orders",
             "doc_tfidf_keywords", "sim_ivf_topk", "sim_neardup_components",
             "window_running_sum"]


# The prepare_* functions run in run.py's process and import the input
# generator (numpy, pyarrow) there; the measured driver process imports only
# the runners, so the benchmark adds no heavy import to its set-up time.

# --------------------------------------------------------------------------
# value encoding between parent and child (JSON has no bytes type)
# --------------------------------------------------------------------------

def enc(v):
    if isinstance(v, (bytes, bytearray)):
        return {"blob": bytes(v).hex()}
    return v


def dec(v):
    if isinstance(v, dict) and "blob" in v:
        return bytes.fromhex(v["blob"])
    return v


def num_key(v):
    """Canonical comparison key of one output value: numbers by value
    (ints and floats alike, 10 significant digits), text verbatim."""
    if v is None:
        return ("n", "")
    if isinstance(v, bool):
        v = int(v)
    if isinstance(v, (int, float)):
        f = float(v)
        return ("f", "nan" if math.isnan(f) else f"{f:.10g}")
    return ("s", str(v))


def same_rows(got: list[list], want: list[list], ordered: bool) -> str | None:
    """None when the rows match by position; else a one-line reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    g = [tuple(num_key(v) for v in r) for r in got]
    w = [tuple(num_key(v) for v in r) for r in want]
    if not ordered:
        g, w = sorted(g), sorted(w)
    for a, b in zip(g, w):
        if a != b:
            return f"row {a} != expected {b}"
    return None


# --------------------------------------------------------------------------
# cli_files
# --------------------------------------------------------------------------

LI_INT = {"l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"}
LI_REAL = {"l_extendedprice", "l_discount", "l_tax"}


def _sqlite_table(con, name: str, cols: list[str], types: dict, rows) -> None:
    decl = ", ".join(f"{c} {types.get(c, 'TEXT')}" for c in cols)
    con.execute(f"CREATE TABLE {name} ({decl})")
    con.executemany(f"INSERT INTO {name} VALUES ({','.join('?' * len(cols))})",
                    rows)


def _cli_shapes(r: random.Random) -> list[dict]:
    """One round of query shapes with seeded parameters; ``files`` names
    the inputs, ``tables`` the sqlite tables the oracle reads for them.
    Four shapes pass -C: ``join_part`` rewrites part.json first, so it
    misses every round, while the other three hit from the second round
    on; three shapes re-parse their text inputs every time."""
    g = r.choice(["l_returnflag", "l_linestatus", "l_linenumber"])
    m = r.choice(["l_extendedprice", "l_quantity", "l_discount"])
    q, k, f = r.choice([10, 25, 40]), r.choice([5, 10, 20]), r.choice("ANR")
    st, d, z = r.choice("FO"), r.choice([0.02, 0.05, 0.08]), r.choice([10, 25, 40])
    join_orders = {
        "shape": "join_orders", "files": ["lineitem.csv", "orders.jsonl"],
        "tables": ["li_t", "ord"], "ordered": False, "cache": False,
        "sql": "SELECT o.o_orderpriority AS pri, COUNT(*) AS n, "
               "SUM(l.l_quantity) AS qty FROM {0} l JOIN {1} o "
               f"ON l.l_orderkey = o.o_orderkey WHERE o.o_orderstatus = '{st}' "
               "GROUP BY o.o_orderpriority"}
    join_part = {
        "shape": "join_part", "files": ["lineitem.csv", "part.json"],
        "tables": ["li_t", "part"], "ordered": False, "cache": True,
        "rewrite": True,
        "sql": "SELECT p.p_type AS ptype, COUNT(*) AS n, "
               "AVG(l.l_extendedprice) AS avg_price FROM {0} l JOIN {1} p "
               f"ON l.l_partkey = p.p_partkey WHERE p.p_size < {z} "
               "GROUP BY p.p_type"}
    return [
        {"shape": "groupby", "files": ["lineitem.csv"], "tables": ["li_t"],
         "ordered": False, "cache": True,
         "sql": f"SELECT {g}, COUNT(*), AVG({m}) FROM {{}} GROUP BY {g}"},
        {"shape": "filter_order_limit", "files": ["lineitem.csv"],
         "tables": ["li_n"], "flags": ["-n"], "ordered": True, "cache": False,
         "sql": "SELECT l_orderkey, l_partkey, l_extendedprice FROM {} "
                f"WHERE l_quantity > {q} AND l_returnflag = '{f}' "
                "ORDER BY l_extendedprice DESC, l_orderkey, l_partkey "
                f"LIMIT {k}"},
        join_orders,
        join_part,
        {"shape": "numeric_agg", "files": ["lineitem.csv"], "tables": ["li_n"],
         "flags": ["-n"], "ordered": False, "cache": True,
         "sql": "SELECT l_linestatus AS st, SUM(l_quantity) AS q, "
                "MAX(l_extendedprice) AS mx, MIN(l_discount) AS md, "
                f"COUNT(*) AS n FROM {{}} WHERE l_discount >= {d} "
                "GROUP BY l_linestatus"},
        {"shape": "dump", "files": [r.choice(["orders.jsonl", "part.json"])],
         "ordered": False, "cache": False, "sql": None},
        {"shape": "pretty", "files": ["lineitem.csv"], "tables": ["li_t"],
         "flags": ["--pretty"], "ordered": False, "cache": True,
         "sql": "SELECT l_returnflag AS flag, l_linenumber AS line, "
                "COUNT(*) AS n, AVG(l_tax) AS avg_tax FROM {} "
                f"WHERE l_linestatus = '{st}' "
                "GROUP BY l_returnflag, l_linenumber"},
    ]


def prepare_cli_files(seed: int, workdir: str, size: str) -> dict:
    import pyarrow as pa

    import datagen

    cfg = SIZES[size]
    tabs = datagen.tables(seed, cfg["cli_scale"])
    li, orders, part = tabs["lineitem"], tabs["orders"], tabs["part"]
    data = os.path.join(workdir, "data")
    os.makedirs(data)
    li_text = datagen.text_columns(li)
    datagen.write_text(os.path.join(data, "lineitem.csv"), [
        ",".join(li.column_names)] + [",".join(r) for r in zip(*li_text)])
    datagen.write_text(os.path.join(data, "orders.jsonl"),
                       datagen.jsonl_lines(orders))
    with open(os.path.join(data, "part.json"), "w", encoding="utf-8") as fh:
        json.dump(part.to_pylist(), fh)

    con = sqlite3.connect(":memory:")
    _sqlite_table(con, "li_t", li.column_names, {}, zip(*li_text))
    typed = {**{c: "INTEGER" for c in LI_INT}, **{c: "REAL" for c in LI_REAL}}
    _sqlite_table(con, "li_n", li.column_names, typed, zip(*(
        li.column(c).cast(pa.int64()).to_pylist() if c in LI_INT
        else li.column(c).to_pylist() if c in LI_REAL else li_text[i]
        for i, c in enumerate(li.column_names))))
    orders_rows = [json.loads(ln) for ln in datagen.jsonl_lines(orders)]
    _sqlite_table(con, "ord", orders.column_names,
                  {"o_orderkey": "INTEGER", "o_custkey": "INTEGER",
                   "o_totalprice": "REAL"},
                  [list(r.values()) for r in orders_rows])
    _sqlite_table(con, "part", part.column_names,
                  {"p_partkey": "INTEGER", "p_size": "INTEGER",
                   "p_retailprice": "REAL"},
                  [list(r.values()) for r in part.to_pylist()])
    dumps = {"orders.jsonl": orders_rows, "part.json": part.to_pylist()}

    r = random.Random(seed)
    memo: dict = {}

    def expect(item: dict):
        if item["sql"] is None:
            return dumps[item["files"][0]]
        sql = item["sql"].replace("{}", "{0}")
        for i, t in enumerate(item["tables"]):
            sql = sql.replace("{%d}" % i, t)
        if sql not in memo:
            cur = con.execute(sql)
            memo[sql] = {"cols": [d[0] for d in cur.description],
                         "rows": [list(row) for row in cur.fetchall()]}
        return memo[sql]

    first = dict(_cli_shapes(r)[0], cache=False)
    stream = []
    while len(stream) < 28:
        shapes = _cli_shapes(r)
        r.shuffle(shapes)
        stream += shapes
    for item in [first] + stream:
        item["expect"] = expect(item)
    return {"data": data, "first": first, "stream": stream,
            "warmup": 7, "min_queries": 7 * cfg["cli_rounds"], "pass_len": 7}


class CliFiles:
    """Child side of cli_files."""

    def __init__(self, spark, spec: dict, tracer):
        self.spark, self.spec, self.tracer = spark, spec, tracer
        self.data = spec["data"]
        self.out_path = os.path.join(spec["workdir"], "out.txt")
        self._text: str | None = None
        self._variant = 0

    def before(self, item: dict) -> None:
        if item.get("rewrite"):
            self._rewrite()

    def _rewrite(self) -> None:
        """Rewrite part.json with new bytes and the same rows (one more
        trailing newline each time), so the next -C query reading it
        misses the ingest cache."""
        path = os.path.join(self.data, "part.json")
        if self._text is None:
            with open(path, encoding="utf-8") as fh:
                self._text = fh.read()
        self._variant += 1
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(self._text + "\n" * self._variant)

    def argv(self, item: dict) -> list[str]:
        args = list(item.get("flags", []))
        if item["cache"]:
            args.append("-C")
        args += [os.path.join(self.data, f) for f in item["files"]]
        if item["sql"] is not None:
            args.append(item["sql"])
        return args

    def timed(self, item: dict):
        from dsq_spark import cli

        with open(self.out_path, "w", encoding="utf-8") as fh, \
                contextlib.redirect_stdout(fh):
            rc = cli.run(self.argv(item), self.spark)
        if rc != 0:
            raise RuntimeError(f"cli.run exited {rc}")

    def check(self, item: dict, _out) -> tuple[str | None, dict]:
        with open(self.out_path, encoding="utf-8") as fh:
            text = fh.read()
        counts = {"out_bytes": len(text.encode())}
        want = item["expect"]
        if "--pretty" in item.get("flags", []):
            cols, rows = parse_pretty(text)
            counts["out_rows"] = len(rows)
            order = sorted(range(len(want["cols"])), key=lambda i: want["cols"][i])
            if cols != [want["cols"][i] for i in order]:
                return f"columns {cols}", counts
            exp = [[pretty_value(row[i]) for i in order] for row in want["rows"]]
            return same_rows([[pretty_value(v) for v in r] for r in rows], exp,
                             False), counts
        got = json.loads(text)
        counts["out_rows"] = len(got)
        if item["sql"] is None:  # conversion dump: compare by column name
            keys = sorted(want[0]) if want else []
            return same_rows([[r.get(k) for k in keys] for r in got],
                             [[r[k] for k in keys] for r in want], False), counts
        return same_rows([list(r.values()) for r in got], want["rows"],
                         item["ordered"]), counts


def parse_pretty(text: str) -> tuple[list[str], list[list[str]]]:
    """(column names, rows of cell text) from a --pretty ASCII table."""
    body = [ln for ln in text.splitlines() if ln.startswith("|")]
    cells = [[c.strip() for c in ln[1:-1].split("|")] for ln in body]
    return (cells[0], cells[1:]) if cells else ([], [])


def pretty_value(v):
    """A value as the pretty table shows it, read back: NULL and '' are
    blank, numbers (and number-looking text) compare by value."""
    if v is None or v == "":
        return None
    if isinstance(v, (int, float)):
        return v
    try:
        return float(v)
    except ValueError:
        return v


# --------------------------------------------------------------------------
# repl_dialect
# --------------------------------------------------------------------------

def _probe_modules(root: str):
    sys.path.insert(0, os.path.join(root, "scripts"))
    import probe_columns
    import probe_constants

    return probe_constants, probe_columns


# the probes' test for an aggregate call inside a generated expression
AGG_RE = re.compile(r"(?<![\w.])(total|sum|avg|count|group_concat)\s*\(")


def _repl_query(r: random.Random, pc, pcol) -> str:
    """One SQLite-dialect query over table td from the probes' expression
    generator; every form has a defined row order."""
    if r.random() < 0.4:
        return f"SELECT {pc.gen(r, r.randint(2, 3))} AS r"
    with pcol._with_cols():
        expr = pc.gen(r, r.randint(2, 3))
        if AGG_RE.search(expr):  # an aggregate query: one row
            return f"SELECT ({expr}) AS r FROM td"
        form = r.random()
        if form < 0.5:
            return f"SELECT id, ({expr}) AS r FROM td ORDER BY id"
        if form < 0.75:
            return f"SELECT id FROM td WHERE ({expr}) ORDER BY id"
        if form < 0.85:
            return f"SELECT id FROM td ORDER BY ({expr}), id"
        agg = r.choice([a for a in pcol.AGGS if a != "group_concat"])
        return f"SELECT {agg}(({expr})) AS r FROM td"


def prepare_repl_dialect(seed: int, workdir: str, size: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pc, pcol = _probe_modules(os.getcwd())
    rows = [(i,) + row for i, row in enumerate(pcol.ROWS)]
    data = os.path.join(workdir, "data")
    os.makedirs(data)
    path = os.path.join(data, "td.parquet")
    pq.write_table(pa.table({
        "id": pa.array([x[0] for x in rows], pa.int64()),
        "a": pa.array([x[1] for x in rows], pa.int64()),
        "b": pa.array([x[2] for x in rows], pa.float64()),
        "c": pa.array([x[3] for x in rows], pa.string())}), path)
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE td(id INTEGER, a INTEGER, b REAL, c TEXT)")
    con.executemany("INSERT INTO td VALUES (?,?,?,?)", rows)
    r = random.Random(seed)
    stream = []
    while len(stream) < 4 * SIZES[size]["repl_min"]:
        sql = _repl_query(r, pc, pcol)
        try:  # the probes keep only statements SQLite accepts
            want = con.execute(sql).fetchall()
        except sqlite3.Error:
            continue
        stream.append({"shape": "constant" if " FROM td" not in sql else
                       "column", "sql": sql.replace(" FROM td", " FROM {0}"),
                       "expect": [[enc(v) for v in row] for row in want]})
    return {"data": data, "input": path, "first": stream[0],
            "stream": stream[1:], "warmup": 0,
            "min_queries": SIZES[size]["repl_min"]}


class ReplDialect:
    """Child side of repl_dialect: the per-line path of ``cli._repl``."""

    def __init__(self, spark, spec: dict, tracer):
        self.spark, self.spec, self.tracer = spark, spec, tracer
        self.out_path = os.path.join(spec["workdir"], "out.txt")
        self.kinds = None
        self.pc, _ = _probe_modules(spec["root"])

    def before(self, item: dict) -> None:
        pass

    def timed(self, item: dict):
        from dsq_spark import cli

        if self.kinds is None:  # the REPL ingests once, before line one
            a = cli.Args(files=[self.spec["input"]], interactive=True,
                         pretty=True, cache=True)
            _, self.kinds = cli._ingest(self.spark, a, [cli.TableRef(0, None)])
        rewritten, dquoted = cli.rewrite_query_tracked(item["sql"], self.kinds)
        df = cli._sql(self.spark, rewritten, dquoted)
        with open(self.out_path, "w", encoding="utf-8") as fh:
            cli.pretty_table(df, fh)
        return df

    def check(self, item: dict, df) -> tuple[str | None, dict]:
        counts = {"out_bytes": os.path.getsize(self.out_path)}
        got = [tuple(row) for row in df.collect()]
        counts["out_rows"] = len(got)
        want = [[dec(v) for v in row] for row in item["expect"]]
        if len(got) != len(want):
            return f"{len(got)} rows, expected {len(want)}", counts
        canon, classify = self.pc.canon, self.pc.classify
        for grow, wrow in zip(got, want):
            for gv, wv in zip(grow, wrow):
                if canon(gv) != canon(wv) and classify(gv, wv) is None:
                    return f"VALUE {canon(gv)} != sqlite {canon(wv)}", counts
        return None, counts


# --------------------------------------------------------------------------
# operators
# --------------------------------------------------------------------------

def oracle_rows(rows: list[dict], cols: list[str]) -> list[list[str]]:
    """Order-insensitive canonical rows, as tests/test_queries_oracle.py
    compares a registry query with its DuckDB oracle."""
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if v is None:
                vals.append("∅")
            elif isinstance(v, float):
                vals.append("nan" if math.isnan(v) else f"{v:.12g}")
            else:
                vals.append(str(v))
        out.append(vals)
    return sorted(out)


def prepare_operators(seed: int, workdir: str, size: str) -> dict:
    import duckdb

    import datagen

    sys.path.insert(0, os.getcwd())
    import dsq_spark.queries as Q

    cfg = SIZES[size]
    sf_dir = os.path.join(workdir, "sf")
    datagen.write_parquet_dir(datagen.tables(seed, cfg["op_scale"]), sf_dir)
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, f)}'")
    expect = {}
    for name in OPERATORS:
        cur = con.sql(Q.REGISTRY[name].oracle)
        cols = [d[0] for d in cur.description]
        expect[name] = {"cols": sorted(cols), "rows": oracle_rows(
            [dict(zip(cols, row)) for row in cur.fetchall()], sorted(cols))}
    con.close()
    # Fixed order: an operator's cold cost depends on what ran before it
    # (shared class loading and JIT), so the seed varies the data only.
    # The first pass is unmeasured warm-up, so the measured passes are warm.
    # The first query opens that pass, so the stream resumes after it.
    first, *stream = [{"shape": n, "name": n} for n in OPERATORS * 5]
    return {"sf_dir": sf_dir, "first": first, "stream": stream,
            "expect": expect, "warmup": len(OPERATORS) - 1,
            "min_queries": len(OPERATORS), "pass_len": len(OPERATORS)}


class Operators:
    """Child side of operators: bench.py's per-query protocol."""

    def __init__(self, spark, spec: dict, tracer):
        self.spark, self.spec, self.tracer = spark, spec, tracer
        import dsq_spark.queries as Q

        self.registry = Q.REGISTRY
        self.checked: set[str] = set()

    def before(self, item: dict) -> None:
        self.spark._jvm.System.gc()
        self.spark.catalog.clearCache()

    def timed(self, item: dict):
        fn = self.registry[item["name"]].fn
        with self.tracer.span("queries.build"):
            df = fn(self.spark, self.spec["sf_dir"])
        with self.tracer.span("queries.eval"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, item: dict, df) -> tuple[str | None, dict]:
        """Each operator's output is collected and compared once per run
        (the timed noop sink returns nothing to compare)."""
        if item["name"] in self.checked:
            return None, {}
        self.checked.add(item["name"])
        want = self.spec["expect"][item["name"]]
        cols = sorted(df.columns)
        if cols != want["cols"]:
            return f"columns {cols}", {}
        got = oracle_rows([r.asDict() for r in df.collect()], cols)
        if len(got) != len(want["rows"]):
            return f"{len(got)} rows, expected {len(want['rows'])}", {}
        for g, w in zip(got, want["rows"]):
            if g != w:
                return f"row {g} != expected {w}", {}
        return None, {}


PREPARE = {"cli_files": prepare_cli_files, "repl_dialect": prepare_repl_dialect,
           "operators": prepare_operators}
RUNNERS = {"cli_files": CliFiles, "repl_dialect": ReplDialect,
           "operators": Operators}


def run_stream(runner, spec: dict, tracer, deadline: float,
               cpu_s) -> list[dict]:
    """Closed loop, one client: the first query, then ``warmup`` stream
    queries (checked, not timed into the loop metrics), then the measured
    loop in whole rounds of ``pass_len`` queries, until the run's seconds
    are spent and its minimum sample count is reached, or until the hard
    deadline.  In a traced run each query runs twice in a row, once with
    tracing off and once on, alternating from query to query which goes
    first, so the tracing overhead is measured on the same queries and
    neither side gains from the JVM still warming up."""
    stream = spec["stream"]
    records = [execute(runner, spec["first"], 0, tracer, cpu_s)]
    for item in stream[:spec["warmup"]]:
        records.append(execute(runner, item, len(records), tracer, cpu_s))
    t0 = time.monotonic()
    n, rounds, pass_len = spec["warmup"], 0, spec.get("pass_len", 1)
    while time.monotonic() < deadline and not (
            time.monotonic() - t0 >= spec["seconds"]
            and rounds * pass_len >= spec["min_queries"]):
        for i in range(pass_len):
            item = stream[(n + i) % len(stream)]
            modes = [False] if not spec["trace"] else \
                [False, True] if (n + i) % 2 else [True, False]
            for traced in modes:
                tracer.set_on(traced)
                rec = execute(runner, item, len(records), tracer, cpu_s)
                rec.update(measured=True, traced=traced)
                records.append(rec)
        n += pass_len
        rounds += 1
    tracer.set_on(False)
    return records


def execute(runner, item: dict, qid: int, tracer, cpu_s) -> dict:
    """One query: untimed preparation, the timed call (wall and driver CPU
    seconds), the trace counters, then the untimed output check."""
    runner.before(item)
    tracer.begin_query(qid)
    err, out = None, None
    c0 = cpu_s()
    t0 = time.perf_counter()
    try:
        with tracer.span("query"):
            out = runner.timed(item)
    except (Exception, SystemExit) as e:  # a failed query is counted, not fatal
        err = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:200]}" \
            if str(e).strip() else type(e).__name__
    wall = time.perf_counter() - t0
    cpu = cpu_s() - c0
    trace_rec = tracer.end_query()
    if err is None:
        try:
            err, counts = runner.check(item, out)
            trace_rec.update(counts)
        except Exception as e:  # noqa: BLE001 — a check crash is a failure
            err = f"check {type(e).__name__}: {str(e)[:200]}"
    return {"shape": item["shape"], "wall": wall, "cpu": cpu, "ok": err is None,
            "err": err, "sql": item.get("sql") or item.get("name")}
