"""Ingest cache (SURVEY.md §2.10 U1).

The reference caches ingested inputs in an on-disk SQLite db keyed by the
SHA1 of all input file contents (reference main.go:184-206, 526-568,
README.md:495-530) — warm-cache queries skip re-import entirely, which is
its headline 13× speedup (README.md:663-669).

Spark analogue: materialize each ingested input as Parquet under a cache
directory keyed by the same content hash. A warm hit re-reads columnar
Parquet (vectorized scan, pushdown) instead of re-parsing CSV/JSON — the
moral equivalent, with the same invalidation rule (any input byte change →
new hash → re-ingest).

Each entry directory ``t_<index>`` holds the Parquet files plus
``_dsq_schema.json``, the ingested DataFrame's ``schema.json()`` (field
metadata such as ``dsq_varied`` included).  ``put`` writes it last and
atomically, so it is the entry's only validity marker: an entry without
it (an interrupted import, or one written before the file existed) is
invalid and re-imported.  Both ``put`` and ``get`` read the Parquet back
with ``spark.read.schema(...)``, so neither launches a schema-inference
job.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# The entry's validity marker and stored schema (module docstring).  A
# leading underscore keeps Spark's file listing from reading it as data.
SCHEMA_FILE = "_dsq_schema.json"


def content_hash(paths: list[str], key_extra: tuple = ()) -> str:
    """SHA1 over all input file contents, in argument order (main.go:526-542
    hashes every input to form the project id). ``key_extra`` folds in any
    flag that changes ingest OUTPUT (-n/--convert-numbers, -s mimetype) so a
    warm cache can never serve a schema produced under different flags."""
    h = hashlib.sha1()
    for p in paths:
        with open(p, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    if key_extra:
        h.update(repr(key_extra).encode())
    return h.hexdigest()


def cache_root() -> str:
    base = os.environ.get("DSQ_SPARK_CACHE_DIR") or os.path.join(
        tempfile.gettempdir(), "dsq-spark-cache")
    os.makedirs(base, exist_ok=True)
    return base


def cache_dir_for(paths: list[str], key_extra: tuple = ()) -> str:
    return os.path.join(cache_root(), "dsq-cache-" + content_hash(paths, key_extra))


class ParquetCache:
    def __init__(self, paths: list[str], enabled: bool, key_extra: tuple = ()):
        self.enabled = enabled
        self.dir = cache_dir_for(paths, key_extra) if enabled else None
        self._announced = False

    def get(self, spark: SparkSession, index: int) -> DataFrame | None:
        if not self.enabled:
            return None
        part = os.path.join(self.dir, f"t_{index}")
        marker = os.path.join(part, SCHEMA_FILE)
        if os.path.exists(marker):
            with open(marker, encoding="utf-8") as fh:
                schema = T.StructType.fromJson(json.load(fh))
            return spark.read.schema(schema).parquet(part)
        if not self._announced:
            # exact reference stderr on a cold/invalidated cache
            # (main.go cache path; pinned by scripts/test.py:289-311)
            import sys

            print("Cache invalid, re-import required.", file=sys.stderr)
            self._announced = True
        return None

    def put(self, df: DataFrame, index: int) -> DataFrame:
        if not self.enabled:
            return df
        part = os.path.join(self.dir, f"t_{index}")
        df.write.mode("overwrite").parquet(part)
        # last step, atomic: the schema file is what marks the entry valid
        tmp = os.path.join(part, SCHEMA_FILE + ".tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(df.schema.json())
        os.replace(tmp, os.path.join(part, SCHEMA_FILE))
        return df.sparkSession.read.schema(df.schema).parquet(part)
