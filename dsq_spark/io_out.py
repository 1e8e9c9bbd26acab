"""Output sinks (SURVEY.md §2.1 K1-K5).

K1 compact JSON array (default), K2 pretty ASCII table with alphabetical
columns and an `(N rows)` footer, K3 schema dump in the reference's exact
pretty/JSON grammar (reference main.go:90-182; goldens pinned at
scripts/test.py:207-266).

Both sinks stream via toLocalIterator() — one partition in driver memory
at a time, so a 100 TB result spools without materializing — and both
evaluate the query exactly once.  The pretty table needs global column
widths before the first output byte, so its single pass spools the
rendered cells to a driver-local temp file and writes the padded rows
from there, rather than collect()ing or re-running the query.
"""

from __future__ import annotations

import json
import math
import sys
import tempfile
from decimal import Decimal as _Decimal
from typing import IO, Optional

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _cell_value(v):
    """JSON-model rendering of one value (dsq's interchange is JSON)."""
    if v is None:
        return None
    if isinstance(v, bool):
        # SQLite has no boolean type — the reference stores JSON/YAML
        # booleans as INTEGER 0/1 and outputs them that way
        # (scripts/test.py mode(Activated) expects 1, not true).
        return int(v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return None
        if v.is_integer() and abs(v) < 1e15:
            return int(v)
        return v
    if isinstance(v, _Decimal):
        # SQLite has no decimal type — Spark decimal results (literal
        # arithmetic, least/greatest coercion) surface as JSON numbers
        f = float(v)
        if f.is_integer() and abs(f) < 1e15:
            return int(f)
        return f
    if isinstance(v, (list, dict)):
        return v
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v


def dump_json(df: DataFrame, fh: Optional[IO[str]] = None) -> None:
    """Compact JSON array of objects — the reference's default output
    (main.go:119-128). Streams partition-by-partition."""
    fh = fh if fh is not None else sys.stdout
    fh.write("[")
    first = True
    for row in df.toLocalIterator():
        if not first:
            fh.write(",\n")
        fh.write(json.dumps(
            {k: _cell_value(v) for k, v in row.asDict(recursive=True).items()},
            default=str))
        first = False
    fh.write("]\n")


def _render_cell(v) -> str:
    v = _cell_value(v)
    if v is None:
        return ""
    if isinstance(v, (list, dict)):
        return json.dumps(v, separators=(",", ":"), default=str)
    if isinstance(v, float):
        return repr(v)
    return str(v)


def pretty_table(df: DataFrame, fh: Optional[IO[str]] = None) -> None:
    """ASCII table, columns alphabetical, numbers right-aligned, header
    centered, `(N rows)` footer — matching the reference's tablewriter
    output (goldens scripts/test.py:207-225).

    One toLocalIterator() pass, never collect(): each row's cells are
    rendered once, folded into the column widths and spooled to a
    driver-local temp file; the header and the padded rows are then
    written from the spool.  Driver memory stays one-partition-bounded, so
    an un-LIMITed `--pretty` at cluster scale cannot OOM the driver, and
    the query is evaluated once, so the footer always counts the rows
    printed even for a nondeterministic result (random(), un-ORDERed
    LIMIT).  Columns are reordered by position, so flattened names with
    dots (`meta.k`) need no quoting."""
    fh = fh if fh is not None else sys.stdout
    fields = df.schema.fields
    order = sorted(range(len(fields)), key=lambda i: fields[i].name)
    cols = [fields[i].name for i in order]
    numeric = [isinstance(fields[i].dataType, T.NumericType) for i in order]
    widths = [len(c) for c in cols]
    n = 0
    with tempfile.TemporaryFile("w+", encoding="utf-8") as spool:
        for r in df.toLocalIterator():
            cells = [_render_cell(r[i]) for i in order]
            for i, cell in enumerate(cells):
                if len(cell) > widths[i]:
                    widths[i] = len(cell)
            # one JSON line per row: cells may hold newlines
            spool.write(json.dumps(cells) + "\n")
            n += 1
        border = "+" + "+".join("-" * (w + 2) for w in widths) + "+"

        def center(s: str, w: int) -> str:
            pad = w - len(s)
            left = pad // 2
            return " " * left + s + " " * (pad - left)

        fh.write(border + "\n")
        fh.write("|" + "|".join(" " + center(c, w + 1) for c, w in zip(cols, widths)) + "|\n")
        fh.write(border + "\n")
        spool.seek(0)
        for line in spool:
            out = [" " + (cell.rjust(w) if num else cell.ljust(w)) + " "
                   for cell, w, num in zip(json.loads(line), widths, numeric)]
            fh.write("|" + "|".join(out) + "|\n")
    fh.write(border + "\n")
    fh.write(f"({n} row{'s' if n != 1 else ''})\n")


# --------------------------------------------------------------------------
# Schema dump: Spark types collapsed to the reference's JSON "Shape" kinds
# (number/string/boolean/null; array/object/varied/unknown — SURVEY §1.2;
# grammar pinned at scripts/test.py:228-266).
# --------------------------------------------------------------------------

def _shape(dtype: T.DataType) -> dict:
    if isinstance(dtype, T.StructType):
        return {
            "kind": "object",
            "object": {f.name: _shape(f.dataType) for f in dtype.fields},
        }
    if isinstance(dtype, T.ArrayType):
        return {"kind": "array", "array": _shape(dtype.elementType)}
    if isinstance(dtype, T.MapType):
        return {"kind": "object", "object": {}}
    if isinstance(dtype, (T.NumericType,)):
        return {"kind": "scalar", "scalar": "number"}
    if isinstance(dtype, T.BooleanType):
        return {"kind": "scalar", "scalar": "boolean"}
    if isinstance(dtype, T.NullType):
        return {"kind": "scalar", "scalar": "null"}
    if isinstance(dtype, (T.StringType, T.TimestampType, T.DateType)):
        return {"kind": "scalar", "scalar": "string"}
    return {"kind": "unknown"}


def _field_shape(f: T.StructField) -> dict:
    """Column shape; union-typed inputs (Avro) carry their branch shapes as
    `dsq_varied` field metadata (set by the reader), surfacing the `varied`
    kind the reference shows for unions (README.md:453-490)."""
    md = f.metadata or {}
    if "dsq_varied" in md:
        return {"kind": "varied", "varied": md["dsq_varied"]}
    return _shape(f.dataType)


def table_shape(df: DataFrame) -> dict:
    """A table is an Array of Object of columns (the reference's universal
    data model, SURVEY §1.1)."""
    return {
        "kind": "array",
        "array": {
            "kind": "object",
            "object": {f.name: _field_shape(f) for f in df.schema.fields},
        },
    }


def schema_json(df: DataFrame, fh: Optional[IO[str]] = None) -> None:
    fh = fh if fh is not None else sys.stdout
    fh.write(json.dumps(table_shape(df), indent=2) + "\n")


def _shape_pretty(shape: dict, indent: int, fh: IO[str]) -> None:
    pad = "  " * indent
    kind = shape["kind"]
    if kind == "array":
        fh.write(pad + "Array of\n")
        _shape_pretty(shape["array"], indent + 1, fh)
    elif kind == "object":
        fh.write(pad + "Object of\n")
        for name, sub in shape["object"].items():
            fh.write("  " * (indent + 1) + name + " of\n")
            _shape_pretty(sub, indent + 2, fh)
    elif kind == "scalar":
        fh.write(pad + shape["scalar"] + "\n")
    elif kind == "varied":
        fh.write(pad + "Varied of " + " or ".join(
            s["scalar"] if s.get("kind") == "scalar" else s.get("kind", "unknown").title()
            for s in shape["varied"]) + "\n")
    else:
        fh.write(pad + "Unknown\n")


def schema_pretty(df: DataFrame, fh: Optional[IO[str]] = None) -> None:
    fh = fh if fh is not None else sys.stdout
    _shape_pretty(table_shape(df), 0, fh)


def write_parquet_dataset(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    max_records_per_file: int = 1_000_000,
    mode: str = "error",
) -> None:
    """Training-pipeline sink (extension beyond the reference's JSON/table
    outputs): a partitioned parquet dataset laid out for downstream
    consumption at scale.

    * `partition_by` gives directory-level partition pruning to every later
      reader (e.g. lang=en/ shards for per-language training mixes);
    * `maxRecordsPerFile` bounds individual file size so a skewed partition
      (one dominant language) still splits into parallel-readable files;
    * parquet + snappy keeps scans columnar and splittable — the same
      properties our own readers rely on.
    """
    w = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def compact_dataset(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Compact a small-file parquet dataset in place (write-new-then-swap):
    long-running ingest jobs accumulate many small files, and at scale the
    per-file open/footer cost dominates scans. Sizes the output file count
    from the actual input bytes, preserves partition columns, and returns
    the number of files after compaction.

    All filesystem operations go through the Hadoop FileSystem API resolved
    from the path's own scheme, so the same code compacts local directories
    (file:/), HDFS, and object stores (s3a:/ etc.) — no driver-local
    os.walk/shutil assumptions. On object stores the final rename is a copy
    under the hood but remains the correct single-writer swap."""
    import math

    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)

    def _scan(p):
        """(total_bytes, file_count) over *.parquet, recursively."""
        total = count = 0
        it = fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(".parquet"):
                total += st.getLen()
                count += 1
        return total, count

    total, _ = _scan(jpath)
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compact.tmp"
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
    w = df.repartition(n_files).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    if not fs.delete(jpath, True):
        raise IOError(f"could not delete {path} for compaction swap")
    if not fs.rename(jtmp, jpath):
        raise IOError(f"could not rename {tmp} back to {path}")
    _, count = _scan(jpath)
    return count


def write_clustered_dataset(
    df: DataFrame,
    path: str,
    cluster_by: tuple[str, ...],
    num_files: int | None = None,
    mode: str = "error",
) -> None:
    """Range-clustered parquet write: the write-side half of data skipping.

    `partitionBy` (write_parquet_dataset) prunes on low-cardinality
    directory keys; for HIGH-cardinality range predicates (timestamps, ids)
    the lever is clustering: repartitionByRange assigns disjoint key ranges
    to files and sortWithinPartitions orders rows inside each, so every
    parquet file/row-group carries tight min-max stats and a later
    `WHERE ts BETWEEN ...` scan skips all but the overlapping files. At
    100 TB this turns full-corpus scans into touched-range scans without
    any directory explosion."""
    from pyspark.sql import functions as F

    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(parts, *[F.col(c) for c in cluster_by])
        .sortWithinPartitions(*cluster_by)
        .write.mode(mode)
        .parquet(path)
    )


def write_zordered_dataset(
    df: DataFrame,
    path: str,
    zorder_by: tuple[str, ...],
    num_files: int | None = None,
    bits: int = 16,
    mode: str = "error",
) -> None:
    """Z-order-clustered parquet write: multi-column data skipping.

    `write_clustered_dataset` gives tight per-file min/max on ONE range key;
    a second predicate column still touches every file. Interleaving the
    bits of 2-4 normalized keys into one Morton (Z) value and range-
    clustering on THAT gives every file a bounding box that is small in
    EVERY z-ordered dimension, so predicates on any of the columns skip
    most files — the layout trick behind Delta/Iceberg OPTIMIZE ZORDER,
    built here from Spark primitives only:

      1. one aggregate computes per-column min/max (two driver scalars per
         column — no collect of data);
      2. each key maps to a `bits`-wide integer: numerics/timestamps/dates
         min-max-normalize (monotone, so per-file z-ranges translate back
         to value ranges); strings hash (xxhash64 & mask) — equality
         skipping only, documented;
      3. the Morton value is a pure Catalyst bit-interleave (HOF over
         sequence(0, bits-1) of shift/mask terms — whole-stage codegen,
         no UDF);
      4. repartitionByRange + sortWithinPartitions on z, drop z, write —
         identical write path to the range-clustered sink.

    Min-max normalization is deliberate: it keeps the prepass to one tiny
    aggregate. Heavily skewed keys compress into few buckets and weaken
    skipping on that column; the production extension is rank-based
    bucketing from an approx-quantile sketch, same interleave after.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark = df.sparkSession
    mask = (1 << bits) - 1

    def numeric_expr(c: str):
        dt = df.schema[c].dataType
        if isinstance(dt, T.TimestampType) or isinstance(dt, T.TimestampNTZType):
            return F.expr(f"CAST(unix_micros(CAST({c} AS TIMESTAMP)) AS DOUBLE)")
        if isinstance(dt, T.DateType):
            return F.expr(f"CAST(datediff({c}, DATE '1970-01-01') AS DOUBLE)")
        if isinstance(dt, T.StringType):
            return None  # hash path
        return F.col(c).cast("double")

    nums = {c: numeric_expr(c) for c in zorder_by}
    bounds_cols = []
    for c, e in nums.items():
        if e is not None:
            bounds_cols += [F.min(e).alias(f"mn_{c}"), F.max(e).alias(f"mx_{c}")]
    bounds = df.agg(*bounds_cols).first().asDict() if bounds_cols else {}

    def numeric_sql(c: str) -> str:
        dt = df.schema[c].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return f"CAST(unix_micros(CAST({c} AS TIMESTAMP)) AS DOUBLE)"
        if isinstance(dt, T.DateType):
            return f"CAST(datediff({c}, DATE '1970-01-01') AS DOUBLE)"
        return f"CAST({c} AS DOUBLE)"

    terms = []
    n = len(zorder_by)
    for i, c in enumerate(zorder_by):
        if nums[c] is None:
            nv = f"(xxhash64({c}) & {mask})"
        else:
            mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
            span = (mx - mn) or 1.0
            scaled = (f"CAST(round(({numeric_sql(c)} - CAST({mn!r} AS DOUBLE)) "
                      f"* {mask}.0d / CAST({span!r} AS DOUBLE)) AS BIGINT)")
            nv = (f"greatest(CAST(0 AS BIGINT), "
                  f"least(CAST({mask} AS BIGINT), {scaled}))")
        # bit j of column i lands at position j*n + i (MSB-significant
        # columns alternate, the textbook Morton layout)
        terms.append(
            f"aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT), "
            f"(acc, j) -> acc + shiftleft(shiftright({nv}, j) & 1, j * {n} + {i}))")
    z = "(" + " + ".join(terms) + ")"

    parts = num_files or spark.sparkContext.defaultParallelism
    (
        df.withColumn("__z", F.expr(z))
        .repartitionByRange(parts, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
