"""Long-tail source readers: Avro OCF (pure-Python decoder), ODS, Apache/
Nginx logs, ingest cache, REPL, stdin spooling."""

from __future__ import annotations

import io
import json
import os
import struct
import zipfile
import zlib

import pytest

from dsq_spark.cache import ParquetCache, content_hash
from dsq_spark.sources import read_file

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


# --- Avro: hand-encode an object container file (null + deflate codecs) ---

def _zz(n: int) -> bytes:
    """zigzag varint encode"""
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _avro_str(s: str) -> bytes:
    b = s.encode()
    return _zz(len(b)) + b


def _write_avro(path: str, codec: str) -> None:
    schema = {
        "type": "record", "name": "U", "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "maybe", "type": ["null", "double"]},
        ],
    }
    rows = [(1, "Alice", None), (2, "Bob", 2.5)]
    body = b""
    for rid, name, maybe in rows:
        body += _zz(rid) + _avro_str(name)
        body += _zz(0) if maybe is None else _zz(1) + struct.pack("<d", maybe)
    if codec == "deflate":
        comp = zlib.compressobj(wbits=-15)
        body = comp.compress(body) + comp.flush()
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    sync = b"S" * 16
    with open(path, "wb") as fh:
        fh.write(b"Obj\x01")
        fh.write(_zz(len(meta)))
        for k, v in meta.items():
            fh.write(_avro_str(k) + _zz(len(v)) + v)
        fh.write(_zz(0))
        fh.write(sync)
        fh.write(_zz(len(rows)) + _zz(len(body)) + body + sync)


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_ocf(spark, tmp_path, codec):
    p = str(tmp_path / f"u_{codec}.avro")
    _write_avro(p, codec)
    df = read_file(spark, p)
    rows = {r["id"]: (r["name"], r["maybe"]) for r in df.collect()}
    assert rows == {1: ("Alice", None), 2: ("Bob", 2.5)}


def test_avro_union_varied_schema(spark, tmp_path):
    # ["null","double"] union → `varied` shape kind, pretty-rendered as
    # `Varied of number or Unknown` (reference README.md:453-490)
    import io as _io

    from dsq_spark.io_out import schema_pretty, table_shape

    p = str(tmp_path / "varied.avro")
    _write_avro(p, "null")
    df = read_file(spark, p)
    cols = table_shape(df)["array"]["object"]
    assert cols["maybe"] == {"kind": "varied", "varied": [
        {"kind": "scalar", "scalar": "number"}, {"kind": "unknown"}]}
    assert cols["id"] == {"kind": "scalar", "scalar": "number"}
    buf = _io.StringIO()
    schema_pretty(df, buf)
    assert "Varied of number or Unknown" in buf.getvalue()


# --- ODS ---

def test_ods(spark, tmp_path):
    cells_hdr = "".join(
        f'<table:table-cell><text:p>{v}</text:p></table:table-cell>'
        for v in ("id", "name"))
    row1 = "".join(
        f'<table:table-cell><text:p>{v}</text:p></table:table-cell>'
        for v in ("1", "Ann"))
    content = (
        '<office:document-content '
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        '<office:body><office:spreadsheet>'
        f'<table:table table:name="S1"><table:table-row>{cells_hdr}</table:table-row>'
        f'<table:table-row>{row1}</table:table-row></table:table>'
        '</office:spreadsheet></office:body></office:document-content>'
    )
    p = str(tmp_path / "u.ods")
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("content.xml", content)
    df = read_file(spark, p)
    # spreadsheet cells are untyped text — values stay strings, matching the
    # reference's excelize/openoffice readers
    assert [r.asDict() for r in df.collect()] == [{"id": "1", "name": "Ann"}]


# --- Apache / Nginx logs ---

APACHE_LINE = ('93.180.71.3 - - [17/May/2015:08:05:32 +0000] '
               '"GET /downloads/product_1 HTTP/1.1" 304 0 '
               '"-" "Debian APT-HTTP/1.3 (0.8.16~exp12ubuntu10.21)"')


def test_apache_access(spark, tmp_path):
    p = tmp_path / "a.log"
    p.write_text(APACHE_LINE + "\n")
    df = read_file(spark, str(p), mimetype="text/apache2access")
    r = df.collect()[0]
    assert r["remote_host"] == "93.180.71.3"
    assert r["method"] == "GET"
    assert r["path"] == "/downloads/product_1"
    assert r["status"] == "304"
    assert r["agent"].startswith("Debian APT")


def test_apache_error(spark, tmp_path):
    p = tmp_path / "e.log"
    p.write_text("[Fri Sep 09 10:42:29.902022 2011] [core:error] [pid 35708] "
                 "[client 72.15.99.187] File does not exist: /usr/local/apache2/htdocs/favicon.ico\n")
    df = read_file(spark, str(p), mimetype="text/apache2error")
    r = df.collect()[0]
    assert r["module"] == "core"
    assert r["level"] == "error"
    assert r["pid"] == "35708"
    assert "favicon" in r["message"]


# --- cache ---

def test_parquet_cache_roundtrip(spark, tmp_path, monkeypatch, capsys):
    from dsq_spark import cli
    from dsq_spark.cache import SCHEMA_FILE
    from dsq_spark.sources.flatten import flatten

    monkeypatch.setenv("DSQ_SPARK_CACHE_DIR", str(tmp_path / "cache"))
    src = tmp_path / "c.csv"
    src.write_text("a,b\n1,x\n2,y\n")
    paths = [str(src)]
    cache = ParquetCache(paths, enabled=True)
    assert cache.get(spark, 0) is None  # cold
    df = read_file(spark, str(src))
    cached = cache.put(df, 0)
    assert cached.count() == 2
    warm = ParquetCache(paths, enabled=True).get(spark, 0)
    assert warm is not None and warm.count() == 2
    # invalidation: content change → different hash → different dir
    h1 = content_hash(paths)
    src.write_text("a,b\n1,x\n2,y\n3,z\n")
    assert content_hash(paths) != h1
    assert ParquetCache(paths, enabled=True).get(spark, 0) is None

    # the stored schema round-trips exactly (field metadata and dotted
    # flattened names included), and a hit launches no Spark job
    (tmp_path / "n.jsonl").write_text(
        '{"id": 1, "meta": {"k": "a", "n": 2}}\n'
        '{"id": 2, "meta": {"k": null, "n": 3}}\n')
    (tmp_path / "v.json").write_text(
        '[{"id": 1, "v": 1}, {"id": 2, "v": "two"}, {"id": 3, "v": 4.5}]')
    sc = spark.sparkContext
    for name, convert, expect in (("c.csv", False, "a"), ("c.csv", True, "a"),
                                  ("n.jsonl", False, "meta.k"),
                                  ("v.json", False, "v")):
        p = [str(tmp_path / name)]
        key = (convert, None)
        miss = ParquetCache(p, enabled=True, key_extra=key)
        assert miss.get(spark, 0) is None
        ingested = flatten(read_file(spark, p[0], convert_numbers=convert))
        stored = miss.put(ingested, 0)
        sc.setJobGroup("cache-hit", "cache-hit")
        try:
            hit = ParquetCache(p, enabled=True, key_extra=key).get(spark, 0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert hit is not None
        assert list(sc.statusTracker().getJobIdsForGroup("cache-hit")) == []
        plain = spark.read.parquet(os.path.join(miss.dir, "t_0"))
        assert hit.schema == stored.schema == plain.schema, name
        assert expect in hit.columns, (name, hit.columns)
        assert sorted(hit.collect()) == sorted(ingested.collect()), name
    assert hit.schema["v"].metadata.get("dsq_varied")

    # an entry without the schema file is invalid and gets re-imported
    capsys.readouterr()
    args = ["-C", str(src), "SELECT a FROM {} ORDER BY a"]
    assert cli.run(args, spark) == 0
    first = capsys.readouterr().out
    marker = os.path.join(ParquetCache(paths, enabled=True,
                                       key_extra=(False, None)).dir,
                          "t_0", SCHEMA_FILE)
    os.remove(marker)
    assert cli.run(args, spark) == 0
    again = capsys.readouterr()
    assert "Cache invalid, re-import required." in again.err
    assert again.out == first
    assert os.path.exists(marker)


def test_cache_key_includes_ingest_flags(tmp_path, monkeypatch):
    # -n/--convert-numbers and -s mimetype change ingest OUTPUT, so they
    # must be part of the cache key: a warm cache written without -n must
    # not be served to a run with -n (stale all-string schema).
    monkeypatch.setenv("DSQ_SPARK_CACHE_DIR", str(tmp_path / "cache"))
    src = tmp_path / "k.csv"
    src.write_text("a,b\n1,x\n")
    paths = [str(src)]
    plain = ParquetCache(paths, enabled=True, key_extra=(False, None))
    numeric = ParquetCache(paths, enabled=True, key_extra=(True, None))
    stdin_csv = ParquetCache(paths, enabled=True, key_extra=(False, "csv"))
    assert plain.dir != numeric.dir != stdin_csv.dir
    assert plain.dir != stdin_csv.dir


# --- REPL + stdin ---

def test_repl_loop(spark, tmp_path, monkeypatch, capsys):
    from dsq_spark import cli

    src = tmp_path / "r.csv"
    src.write_text("id,v\n1,a\n2,b\n")
    lines = iter(["SELECT COUNT(1) AS n FROM {0}", "exit"])
    monkeypatch.setattr("builtins.input", lambda prompt="": next(lines))
    rc = cli.run(["-i", str(src)], spark)
    out = capsys.readouterr().out
    assert rc == 0
    assert "| 2 |" in out and "(1 row)" in out


def test_repl_history_roundtrip(spark, tmp_path, monkeypatch, capsys):
    # ~/dsq_history persistence (reference main.go:268-326): pre-existing
    # history is loaded and survives the session's save-on-exit.
    from dsq_spark import cli

    pytest.importorskip("readline")
    hist = tmp_path / "dsq_history"
    hist.write_text("SELECT 'from-history'\n")
    monkeypatch.setenv("DSQ_HISTORY_FILE", str(hist))
    src = tmp_path / "h.csv"
    src.write_text("id\n1\n")
    lines = iter(["exit"])
    monkeypatch.setattr("builtins.input", lambda prompt="": next(lines))
    assert cli.run(["-i", str(src)], spark) == 0
    assert "from-history" in hist.read_text()


def test_repl_completer(spark, tmp_path):
    # SQL keywords and view/column names complete, case-insensitively
    from dsq_spark import cli

    spark.sql("SELECT 1 AS some_col").createOrReplaceTempView("t_compl")
    complete = cli._make_completer(spark)
    assert complete("sel", 0) == "SELECT"
    assert complete("GROUP_", 0) == "GROUP_CONCAT"
    assert complete("t_comp", 0) == "t_compl"
    assert complete("some_c", 0) == "some_col"
    assert complete("zzzz_nope", 0) is None
    spark.catalog.dropTempView("t_compl")


def test_stdin_spool(spark, monkeypatch, capsys):
    from dsq_spark import cli

    monkeypatch.setattr("sys.stdin", type("S", (), {
        "buffer": io.BytesIO(b"id,v\n1,a\n2,b\n")})())
    rc = cli.run(["-s", "csv", "SELECT COUNT(1) AS n FROM {}"], spark)
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == [{"n": 2}]


# --- ORC round-trip (S7: native reader) ---

def test_orc_roundtrip(spark, tmp_path):
    p = str(tmp_path / "u_orc")
    spark.createDataFrame(
        [(1, "Alice"), (2, "Bob")], "id long, name string"
    ).write.orc(p)
    df = read_file(spark, p, mimetype="orc")
    assert sorted((r["id"], r["name"]) for r in df.collect()) == [(1, "Alice"), (2, "Bob")]


# --- avro snappy codec (pure-Python decompressor) ---

def _snappy_literals(data: bytes) -> bytes:
    """Minimal valid snappy encoding using only literal elements."""
    out = bytearray()
    n = len(data)
    while n:
        out.append(n & 0x7F | (0x80 if n > 0x7F else 0))
        n >>= 7
    if not out:
        out.append(0)
    i = 0
    while i < len(data):
        chunk = data[i:i + 60]
        out.append((len(chunk) - 1) << 2)
        out += chunk
        i += len(chunk)
    return bytes(out)


def test_snappy_decompress_literals_and_copies():
    from dsq_spark.sources.readers import _snappy_decompress

    assert _snappy_decompress(_snappy_literals(b"hello world")) == b"hello world"
    assert _snappy_decompress(_snappy_literals(b"x" * 500)) == b"x" * 500
    # hand-crafted copy element: literal 'abcd' then copy1 (len 4, off 4)
    # tag: typ=1, len-4=0 in bits 2-4, off>>8=0 in bits 5-7 → 0x01; off byte 4
    stream = bytes([8]) + bytes([(4 - 1) << 2]) + b"abcd" + bytes([0x01, 4])
    assert _snappy_decompress(stream) == b"abcdabcd"
    # overlapping copy: 'ab' then copy len 6 off 2 → 'ab'+'ababab'
    stream = bytes([8]) + bytes([(2 - 1) << 2]) + b"ab" + bytes([0x01 | (2 << 2), 2])
    assert _snappy_decompress(stream) == b"abababab"
    with pytest.raises(ValueError, match="bad copy offset"):
        _snappy_decompress(bytes([4, 0x01, 9]))


def test_avro_snappy_codec(spark, tmp_path):
    import zlib as _zlib

    schema = {"type": "record", "name": "S", "fields": [
        {"name": "id", "type": "long"}, {"name": "name", "type": "string"}]}
    body = _zz(7) + _avro_str("Greta") + _zz(9) + _avro_str("Sven")
    framed = _snappy_literals(body) + (_zlib.crc32(body) & 0xFFFFFFFF).to_bytes(4, "big")
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": b"snappy"}
    p = tmp_path / "s.avro"
    with open(p, "wb") as fh:
        fh.write(b"Obj\x01")
        fh.write(_zz(len(meta)))
        for k, v in meta.items():
            fh.write(_avro_str(k) + _zz(len(v)) + v)
        fh.write(_zz(0))
        fh.write(b"S" * 16)
        fh.write(_zz(2) + _zz(len(framed)) + framed + b"S" * 16)
    df = read_file(spark, str(p))
    assert {(r["id"], r["name"]) for r in df.collect()} == {(7, "Greta"), (9, "Sven")}


# --- parity against the reference's own fixtures (read-only) ---

REF_TD = "/root/reference/testdata"


@pytest.mark.skipif(not os.path.isdir(REF_TD), reason="reference testdata absent")
def test_reference_fixture_parity(spark, capsys):
    """The reference suite's own fixture cases (scripts/test.py): snappy
    Avro, multi-sheet xlsx with style-only trailing rows, single-quoted
    path macros."""
    from dsq_spark import cli

    cases = [
        ([f"{REF_TD}/avro/test_data.avro",
          'SELECT COUNT(*) AS c FROM {} WHERE country="Sweden"'], [{"c": 25}]),
        ([f"{REF_TD}/excel/multiple-sheets.xlsx",
          'SELECT COUNT(1) AS n FROM {0, "Sheet2"}'], [{"n": 682}]),
        ([f"{REF_TD}/path/path.json",
          "SELECT * FROM {0, 'data.data2'} ORDER BY id DESC"],
         [{"id": 4, "name": "Minh2"}, {"id": 2, "name": "Corah2"}]),
        ([f"{REF_TD}/path/path.json",
          "SELECT * FROM {'data.data'} ORDER BY id DESC"],
         [{"id": 3, "name": "Minh"}, {"id": 1, "name": "Corah"}]),
        # lexical compare + case-insensitive resolution + double-quote
        # string fallback, all in one (scripts/test.py:379)
        ([f"{REF_TD}/csv/numberconvert.csv",
          'select * from {} where score > "90"'],
         [{"Name": "Rainer", "Score": "95"}]),
        # nested array serialized to JSON text (issue #36)
        ([f"{REF_TD}/regr/36.json", "SELECT * FROM {}"],
         [{"a": 1, "b": 2, "c": "[1,2]"}]),
    ]
    for args, want in cases:
        assert cli.run(args, spark) == 0
        assert json.loads(capsys.readouterr().out) == want, args


@pytest.mark.skipif(not os.path.isdir(REF_TD), reason="reference testdata absent")
def test_reference_suite_parity(spark, capsys):
    """The remaining scripts/test.py cases, with the reference's EXACT
    expected payloads (including SQLite's verbatim-text naming of unaliased
    expression columns and integer booleans)."""
    from dsq_spark import cli

    cases = [
        # joins / nested / regexp / aliases (scripts/test.py:131-160)
        ([f"{REF_TD}/join/users.csv", f"{REF_TD}/join/ages.json",
          'select {0}.name, {1}.age from {0} join {1} on {0}.id = {1}.id'],
         [{"age": 88, "name": "Ted"}, {"age": 56, "name": "Marjory"},
          {"age": 33, "name": "Micah"}]),
        ([f"{REF_TD}/nested/nested.json",
          'select name, "location.city" city, "location.address.number" '
          'address_number from {}'],
         [{"address_number": 1002, "city": "Toronto", "name": "Agarrah"},
          {"address_number": 19, "city": "Mexico City", "name": "Minoara"},
          {"address_number": 12, "city": "New London", "name": "Fontoon"}]),
        ([f"{REF_TD}/nested/nested.json",
          "SELECT * FROM {} WHERE name REGEXP 'A.*'"],
         [{"location.address.number": 1002, "location.city": "Toronto",
           "name": "Agarrah"}]),
        ([f"{REF_TD}/nested/nested.json",
          "SELECT * FROM {} u WHERE u.name REGEXP 'A.*'"],
         [{"location.address.number": 1002, "location.city": "Toronto",
           "name": "Agarrah"}]),
        # formats (scripts/test.py:176-199) — SQLite names the unaliased
        # aggregate by its typed text
        ([f"{REF_TD}/orc/test_data.orc",
          'SELECT COUNT(*) FROM {} WHERE _col8="China"'],
         [{"COUNT(*)": 189}]),
        ([f"{REF_TD}/yaml/userdata.yaml",
          'SELECT COUNT(*) FROM {} WHERE activated=false'],
         [{"COUNT(*)": 3}]),
        ([f"{REF_TD}/logfmt/log.logfmt", "SELECT level FROM {}"],
         [{"level": "debug"}, {"level": "info"}, {"level": "warning"},
          {"level": "debug"}, {"level": "panic"}]),
        # stdlib functions (scripts/test.py:330-350); JSON booleans are
        # SQLite INTEGERs on output
        ([f"{REF_TD}/userdata.json",
          "SELECT mode(Activated) mostly_activated FROM {}"],
         [{"mostly_activated": 1}]),
        ([f"{REF_TD}/basic_logs.csv",
          "SELECT url_host(request) host, count(1) count FROM {} group by host"],
         [{"host": "age.com", "count": 2}]),
        ([f"{REF_TD}/basic_logs.csv",
          'SELECT split_part(url_host(request), ".", -1) host, count(1) count '
          "FROM {} group by host"],
         [{"host": "com", "count": 2}]),
        # sql file with a space-padded quoted column (testdata/sql/simple.sql)
        ([f"{REF_TD}/userdata.json", "--file", f"{REF_TD}/sql/simple.sql"],
         [{" Name ": "Michelle Yost"}, {" Name ": "Guadalupe Schimmel II"},
          {" Name ": "Corey Beier"}]),
        # taxi group-by, truncated fixture (scripts/test.py:311-317)
        ([f"{REF_TD}/taxi_trunc.csv",
          "SELECT passenger_count, COUNT(*), AVG(total_amount) FROM {} "
          "GROUP BY passenger_count ORDER BY COUNT(*) DESC"],
         [{"COUNT(*)": 9, "AVG(total_amount)": 20.571111111111115,
           "passenger_count": "1"},
          {"passenger_count": "0", "COUNT(*)": 1, "AVG(total_amount)": 43.67}]),
        # number conversion flag (scripts/test.py:352-380)
        ([f"{REF_TD}/convert.csv", "SELECT * FROM {}"],
         [{"test": "1"}, {"test": "1.1"}, {"test": "+1"}, {"test": "01"},
          {"test": "001"}, {"test": "0001.1"}]),
        (["--convert-numbers", f"{REF_TD}/convert.csv", "SELECT * FROM {}"],
         [{"test": 1}, {"test": 1.1}, {"test": 1}, {"test": 1}, {"test": 1},
          {"test": 1.1}]),
        (["--convert-numbers", f"{REF_TD}/csv/numberconvert.csv",
          'select * from {} where score > "90"'],
         [{"Name": "Rainer", "Score": 95}, {"Name": "Fountainer", "Score": 100}]),
        # regressions (scripts/test.py:385-410)
        ([f"{REF_TD}/regr/36.json", "SELECT c->1 AS secondc FROM {}"],
         [{"secondc": "2"}]),
        ([f"{REF_TD}/regr/67.jsonl", "SELECT COUNT(1) AS count FROM {}"],
         [{"count": 1}]),
        ([f"{REF_TD}/regr/74.csv", "SELECT * FROM {}"],
         [{"a": "1", "a b": "2"}]),
    ]
    for args, want in cases:
        assert cli.run(args, spark) == 0
        got = json.loads(capsys.readouterr().out)
        key = lambda r: json.dumps(r, sort_keys=True)
        assert sorted(got, key=key) == sorted(want, key=key), args


@pytest.mark.skipif(not os.path.isdir(REF_TD), reason="reference testdata absent")
@pytest.mark.parametrize("ext", ["csv", "tsv", "parquet", "json", "jsonl",
                                 "xlsx", "ods"])
def test_reference_userdata_format_matrix(spark, capsys, ext):
    """COUNT over the reference's own 1000-row userdata fixtures, per format
    (scripts/test.py:118-125)."""
    from dsq_spark import cli

    assert cli.run([f"{REF_TD}/userdata.{ext}",
                    "SELECT COUNT(1) AS c FROM {}"], spark) == 0
    assert json.loads(capsys.readouterr().out) == [{"c": 1000}]


@pytest.mark.skipif(not os.path.isdir(REF_TD), reason="reference testdata absent")
@pytest.mark.parametrize("ext", ["csv", "tsv", "parquet", "json", "jsonl",
                                 "xlsx", "ods"])
def test_reference_userdata_pipe_matrix(spark, capsys, monkeypatch, ext):
    """Same COUNT=1000 matrix via the stdin pipe path (`cat f | dsq -s ext`,
    scripts/test.py:120-121)."""
    import io as _io

    from dsq_spark import cli

    payload = open(f"{REF_TD}/userdata.{ext}", "rb").read()

    class _Stdin:
        buffer = _io.BytesIO(payload)

    monkeypatch.setattr(cli.sys, "stdin", _Stdin)
    assert cli.run(["-s", ext, "SELECT COUNT(1) AS c FROM {}"], spark) == 0
    assert json.loads(capsys.readouterr().out) == [{"c": 1000}]
