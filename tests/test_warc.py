"""WARC ingestion gate (sources/warc.py).

No SQL form — DuckDB cannot gunzip WARC containers — so the gate is the
reference-twin pattern: ``parse_warc_stream`` is both the Spark kernel and
the single-threaded oracle, and the round-trip
``pages -> build_warc_gz -> read_warc -> warc_pages -> extract`` must be
byte-identical to ``pages -> extract`` per url.
"""

from __future__ import annotations

import datetime as dt
import gzip

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_module_spark import corpus, pipeline
from ocr_module_spark.sources import warc as W

N = 24


def _records(n=N, **extra):
    recs = []
    for r in corpus.rows(n):
        recs.append({"url": r["url"], "warc_ts": r["warc_ts"],
                     "html": r["html"], **extra})
    return recs


def test_roundtrip_pure_python():
    recs = _records()
    blob, cdx = W.build_warc_gz(recs)
    rows = W.parse_warc_stream(blob, "mem.warc.gz")
    assert len(rows) == N and len(cdx) == N
    by_url = {r["url"]: r for r in rows}
    for rec in recs:
        got = by_url[rec["url"]]
        assert got["error"] is None
        assert got["html"] == rec["html"]          # byte identity
        assert got["warc_ts"] == rec["warc_ts"]
        assert got["http_status"] == 200 and got["mime"] == "text/html"


def test_chunked_and_gzip_payload_decode():
    for extra in ({"chunked": True}, {"content_encoding": "gzip"},
                  {"chunked": True, "content_encoding": "gzip"}):
        recs = _records(8, **extra)
        blob, _ = W.build_warc_gz(recs)
        rows = W.parse_warc_stream(blob, "m")
        assert [r["error"] for r in rows] == [None] * 8
        assert [r["html"] for r in rows] == [r2["html"] for r2 in recs]


def test_uncompressed_container():
    recs = _records(8)
    gz, _ = W.build_warc_gz(recs)
    plain, _ = W.build_warc_gz(recs, compress=False)
    a = W.parse_warc_stream(gz, "m")
    b = W.parse_warc_stream(plain, "m")
    assert [r["html"] for r in a] == [r["html"] for r in b]
    assert [r["url"] for r in a] == [r["url"] for r in b]


def test_non_response_records_skipped():
    recs = _records(4)
    blob, _ = W.build_warc_gz(recs)
    req = W._warc_record("request", "https://x.example/a", None,
                         b"GET / HTTP/1.1\r\n\r\n",
                         ctype="application/http; msgtype=request")
    meta = W._warc_record("metadata", "https://x.example/a", None,
                          b"via: crawler\r\n",
                          ctype="application/warc-fields")
    blob += gzip.compress(req, mtime=0) + gzip.compress(meta, mtime=0)
    rows = W.parse_warc_stream(blob, "m")
    assert len(rows) == 4  # warcinfo + request + metadata all skipped


def test_truncated_tail_isolated():
    recs = _records(6)
    blob, cdx = W.build_warc_gz(recs)
    cut = cdx[-1]["warc_offset"] + 10  # mid-final-member
    rows = W.parse_warc_stream(blob[:cut], "m")
    ok = [r for r in rows if r["error"] is None]
    bad = [r for r in rows if r["error"] is not None]
    assert len(ok) == 5 and len(bad) == 1
    assert "container" in bad[0]["error"]


def test_malformed_response_is_error_row_not_crash():
    good = _records(2)
    blob, _ = W.build_warc_gz(good)
    junk = W._warc_record("response", "https://x.example/bad", None,
                          b"NOT-HTTP garbage here")
    blob += gzip.compress(junk, mtime=0)
    rows = W.parse_warc_stream(blob, "m")
    assert len(rows) == 3
    bad = [r for r in rows if r["error"] is not None]
    assert len(bad) == 1 and bad[0]["html"] is not None  # capture preserved


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=2048))
def test_fuzz_never_raises(data):
    rows = W.parse_warc_stream(data, "fuzz")
    for r in rows:  # every emitted row is either parsed or flagged
        assert r["error"] is None or isinstance(r["error"], str)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=1024))
def test_fuzz_gz_prefix_never_raises(data):
    W.parse_warc_stream(b"\x1f\x8b" + data, "fuzz")
    # valid container + random tail: prior members still parse
    blob, _ = W.build_warc_gz(_records(2))
    rows = W.parse_warc_stream(blob + b"\x1f\x8b" + data, "fuzz")
    assert sum(1 for r in rows if r["error"] is None) == 2


def test_multi_member_gzip_payload_full_decode():
    """Flushed streaming responses emit CONCATENATED gzip members in one
    body; the decode must return all members, not silently truncate."""
    part1, part2 = b"<html>first half ", b"and second half</html>"
    body = gzip.compress(part1, mtime=0) + gzip.compress(part2, mtime=0)
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: gzip\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode() + body)
    rec = W._warc_record("response", "https://x.example/m", None, http)
    rows = W.parse_warc_stream(gzip.compress(rec, mtime=0), "m")
    assert len(rows) == 1 and rows[0]["error"] is None
    assert rows[0]["html"] == part1 + part2


def test_gzip_payload_trailing_padding_tolerated():
    """CRLF padding counted into Content-Length after a gzip body must
    not turn the capture into an error row (and multi-member + padding
    must still decode every member)."""
    part1, part2 = b"<html>alpha ", b"omega</html>"
    for body, want in (
            (gzip.compress(part1, mtime=0) + b"\r\n", part1),
            (gzip.compress(part1, mtime=0) + gzip.compress(part2, mtime=0)
             + b"\r\n\r\n", part1 + part2)):
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Content-Encoding: gzip\r\n"
                + f"Content-Length: {len(body)}\r\n\r\n".encode() + body)
        rec = W._warc_record("response", "https://x.example/p", None, http)
        rows = W.parse_warc_stream(gzip.compress(rec, mtime=0), "m")
        assert rows[0]["error"] is None and rows[0]["html"] == want


def test_fs_path_hash_and_query_chars(tmp_path):
    """_fs_path must not truncate at unencoded '#' or '?' in hand-built
    CDX paths."""
    d = tmp_path / "crawl#1"
    d.mkdir()
    p = d / "f?x.warc.gz"
    p.write_bytes(b"data")
    assert open(W._fs_path(f"file:{p}"), "rb").read() == b"data"
    assert W._fs_path(f"file://{p}") == str(p)
    assert W._fs_path(str(p)) == str(p)


def test_warc_date_fractional_seconds():
    ts = W._warc_date("2024-03-05T06:07:08.123456Z")
    assert ts is not None and ts.second == 8 and ts.microsecond == 123456
    assert W._warc_date("2024-03-05T06:07:08Z").minute == 7
    assert W._warc_date("not a date") is None


def test_large_member_chunked_inflate():
    """Members larger than the 1 MiB decompressor feed chunk must still
    inflate completely (the linear-memcpy rework)."""
    big = (b"x" * (3 * 1024 * 1024))
    recs = [{"url": "https://x.example/big", "warc_ts": None, "html": big}]
    blob, _ = W.build_warc_gz(recs)
    rows = W.parse_warc_stream(blob, "m")
    assert rows[0]["error"] is None and rows[0]["html"] == big


# -- Spark side ---------------------------------------------------------------

@pytest.fixture(scope="module")
def container(tmp_path_factory):
    d = tmp_path_factory.mktemp("warc")
    recs = _records()
    blob, cdx = W.build_warc_gz(recs)
    p = d / "part-00000.warc.gz"
    p.write_bytes(blob)
    return str(p), cdx, recs


def test_spark_reader_matches_twin(spark, container):
    path, _, _ = container
    got = {r["url"]: r for r in W.read_warc(spark, path).collect()}
    twin = W.parse_warc_stream(open(path, "rb").read(), path)
    assert len(got) == len(twin) == N
    for t in twin:
        g = got[t["url"]]
        assert bytes(g["html"]) == t["html"]
        assert g["payload_sha256"] == t["payload_sha256"]
        assert g["warc_ts"].replace(tzinfo=dt.timezone.utc) == t["warc_ts"]
        assert g["error"] is None


def test_offsets_reader_subset(spark, container):
    path, cdx, recs = container
    subset = cdx[::3]
    df = W.read_warc_offsets(
        spark, W.build_cdx(spark, path, subset))
    got = {r["url"]: bytes(r["html"]) for r in df.collect()}
    want = {r["url"]: r["html"] for r in recs[::3]}
    assert got == want


def test_offsets_from_scan_output_uris(spark, container):
    """The documented scan -> CDX -> random-access flow: a CDX built
    from read_warc's own rows (warc_file is a Hadoop file:/ URI) must
    open and re-read the members."""
    path, _, recs = container
    scan = W.read_warc(spark, path) \
        .select("url", "warc_file", "warc_offset", "warc_length")
    cdx = scan.limit(0).sparkSession.createDataFrame(
        scan.collect()[::4], W.CDX_SCHEMA)
    assert cdx.first()["warc_file"].startswith("file:")
    got = {r["url"]: bytes(r["html"])
           for r in W.read_warc_offsets(spark, cdx).collect()}
    want = {r["url"]: r["html"] for r in recs}
    assert len(got) > 0
    for u, h in got.items():
        assert h == want[u]


def test_offsets_truncated_member_error_row(spark, container):
    """A CDX length that undershoots the member yields an error row,
    never a task failure (per-record isolation contract)."""
    path, cdx, _ = container
    bad = [dict(cdx[0], warc_length=10)]
    rows = W.read_warc_offsets(
        spark, W.build_cdx(spark, path, bad)).collect()
    assert len(rows) == 1
    assert rows[0]["error"] is not None


def test_wet_timestamps_are_timezone_proof(spark, tmp_path):
    """WARC-Date must be the UTC instant regardless of the session
    timezone (epoch-seconds crossing, not wall-time formatting)."""
    import pyspark.sql.functions as F
    ex = pipeline.extract(corpus.pages_df(spark, 4)) \
        .join(corpus.pages_df(spark, 4).select("url", "warc_ts"), "url") \
        .select("url", "warc_ts", "text")
    want = {r["url"]: r["warc_ts"] for r in ex.collect()}
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        d = str(tmp_path / "wtz")
        W.write_wet(ex, d, n_files=1)
        back = {r["url"]: r["warc_ts"]
                for r in W.read_wet(spark, d + "/*.warc.wet.gz")
                .withColumn("warc_ts", F.unix_timestamp("warc_ts"))
                .collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    for u, ts in want.items():
        assert back[u] == int(ts.timestamp()), u


def test_warc_pages_extraction_identity(spark, container):
    """The ingest seam end-to-end: extraction over WARC-ingested pages is
    byte-identical to extraction over the native pages table."""
    path, _, _ = container
    via_warc = pipeline.extract(
        W.warc_pages(W.read_warc(spark, path))).select("url", "text")
    native = pipeline.extract(
        corpus.pages_df(spark, N)).select("url", "text")
    a = {r["url"]: r["text"] for r in via_warc.collect()}
    b = {r["url"]: r["text"] for r in native.collect()}
    assert a == b and len(a) == N


MANIFEST_TYPE = "struct<wet_file:string,n_records:bigint,n_bytes:bigint>"


def test_wet_roundtrip_and_determinism(spark, tmp_path):
    """extract -> write_wet -> read_wet returns the text byte-identical;
    a second write over the same frame emits identical container bytes
    (the resume-by-rerun property). An export is ONE Spark job: the
    manifest is written on the driver from the collected rows."""
    ex = pipeline.extract(corpus.pages_df(spark, 16)) \
        .select("url", "text").localCheckpoint(eager=True)
    d1, d2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    acc1 = W.write_wet(ex, d1, n_files=2)
    acc2 = W.write_wet(ex, d2, n_files=2)
    assert acc1["records"] == 16 and acc1["wet_files"] == 2
    assert acc1["bytes"] == acc2["bytes"]
    import pathlib
    for p1 in sorted(pathlib.Path(d1).glob("*.warc.wet.gz")):
        p2 = pathlib.Path(d2) / p1.name
        assert p1.read_bytes() == p2.read_bytes()
    back = {r["url"]: r["text"]
            for r in W.read_wet(spark, d1 + "/*.warc.wet.gz").collect()}
    want = {r["url"]: r["text"] for r in ex.collect()}
    assert back == want
    man = spark.read.parquet(d1 + "/manifest")
    assert man.schema.simpleString() == MANIFEST_TYPE
    assert sum(r["n_records"] for r in man.collect()) == 16

    sc = spark.sparkContext
    sc.setJobGroup("write_wet-jobs", "jobs of one WET export")
    try:
        acc0 = W.write_wet(ex, str(tmp_path / "w0"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert acc0["records"] == 16
    assert len(sc.statusTracker().getJobIdsForGroup("write_wet-jobs")) == 1


def test_wet_reexport_replaces_containers_and_manifest(spark, tmp_path):
    """Re-exporting into one directory with fewer containers leaves only
    the containers the new manifest lists (no stale part file doubles
    records on read), the manifest is replaced, not appended to, and an
    empty frame leaves an empty manifest with the same schema."""
    import os
    rows = [(f"https://re.example/{i}", f"text {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "url string, text string")
    d = str(tmp_path / "wre")

    def manifest():
        man = spark.read.parquet(d + "/manifest")
        assert man.schema.simpleString() == MANIFEST_TYPE
        man = man.collect()
        on_disk = sorted(f for f in os.listdir(d)
                         if f.endswith(".warc.wet.gz"))
        assert sorted(os.path.basename(r["wet_file"])
                      for r in man) == on_disk
        return man

    assert W.write_wet(df, d, n_files=4)["wet_files"] == 4
    assert len(manifest()) == 4
    W.write_wet(df, d, n_files=2)
    man = manifest()
    assert len(man) == 2 and sum(r["n_records"] for r in man) == 40
    back = [(r["url"], r["text"])
            for r in W.read_wet(spark, d + "/*.warc.wet.gz").collect()]
    assert sorted(back) == sorted(rows)

    acc = W.write_wet(df.limit(0), d)
    assert acc == {"wet_files": 0, "records": 0, "bytes": 0}
    assert manifest() == []


def test_wet_roundtrip_hostile_strings(spark, tmp_path):
    """Text with control chars, CRLF, CJK/emoji, NULs-adjacent bytes,
    empty and very long strings must round-trip the WET container
    byte-for-byte (utf-8 both ways; payload is the record block)."""
    texts = ["", "   ", "line one\r\nline two\r", "日本語 テキスト 🚀",
             "tab\tand\x0bvertical", "WARC/1.0 looks like a header",
             "Content-Length: 99", "x" * 100_000,
             "naïve — déjà vu", "a\nb\nc\n"]
    rows = [(f"https://h.example/{i}", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "url string, text string")
    d = str(tmp_path / "whost")
    W.write_wet(df, d, n_files=1)
    back = {r["url"]: r["text"]
            for r in W.read_wet(spark, d + "/*.warc.wet.gz").collect()}
    assert back == dict(rows)


def test_wet_reader_ignores_response_records(spark, container):
    path, _, _ = container
    # a WARC of responses contains zero conversion records
    assert W.read_wet(spark, path).count() == 0


def test_read_warc_plan_zero_exchanges(spark, container):
    path, _, _ = container
    plan = W.read_warc(
        spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # Arrow stage, not row-UDF


# -- in-engine CDX indexer (index_warc) ---------------------------------------

def test_index_warc_matches_writer_cdx(spark, container):
    """The in-engine index of a foreign container equals the index the
    writer produced while writing it (url, offset, length per member)."""
    path, cdx, _ = container
    got = sorted((r["url"], r["warc_offset"], r["warc_length"])
                 for r in W.index_warc(spark, path).collect())
    want = sorted((r["url"], r["warc_offset"], r["warc_length"])
                  for r in cdx)
    assert got == want


def test_index_then_offsets_equals_full_scan(spark, container):
    """The closed loop VERDICT r4 asked for:
    ``read_warc_offsets(index_warc(p))`` row-matches ``read_warc(p)``
    — an archive with no cdx.gz is fully servable."""
    path, _, _ = container
    idx = W.index_warc(spark, path)
    via_index = {r["url"]: r for r in
                 W.read_warc_offsets(spark, idx).collect()}
    full = {r["url"]: r for r in W.read_warc(spark, path).collect()}
    assert sorted(via_index) == sorted(full)
    for u, r in full.items():
        g = via_index[u]
        assert bytes(g["html"]) == bytes(r["html"])
        assert g["payload_sha256"] == r["payload_sha256"]
        assert (g["warc_offset"], g["warc_length"]) \
            == (r["warc_offset"], r["warc_length"])
        assert g["error"] is None


def test_index_kernel_membership_mirrors_stream():
    """iter_warc_index emits exactly one row per iter_warc_stream row —
    same (url, offset, length) — on mixed-record containers (responses
    + skipped warcinfo/request records) and on an uncompressed .warc."""
    recs = _records(6)
    blob, _ = W.build_warc_gz(recs)                      # + warcinfo
    for data in (blob, gzip.decompress(blob)):
        stream = [(r["url"], r["warc_offset"], r["warc_length"])
                  for r in W.parse_warc_stream(data, "m")]
        index = [(r["url"], r["warc_offset"], r["warc_length"])
                 for r in W.iter_warc_index(data, "m")]
        assert index == stream and len(index) == 6


def test_index_truncated_tail_marker(spark, tmp_path):
    """A container with a corrupt gzip tail indexes its intact members
    and one (-1, -1) marker; the offsets reader turns the marker into
    an error row, never a crash."""
    recs = _records(4)
    blob, cdx = W.build_warc_gz(recs)
    cut = cdx[-1]["warc_offset"] + 7     # mid-member truncation
    p = tmp_path / "trunc.warc.gz"
    p.write_bytes(blob[:cut])
    rows = list(W.iter_warc_index(p.read_bytes(), str(p)))
    assert rows[-1]["warc_offset"] == -1
    assert [r["url"] for r in rows[:-1]] == [r["url"] for r in recs[:3]]
    cdx_rows = [(r["url"], r["warc_file"], r["warc_offset"],
                 r["warc_length"]) for r in rows]
    # a hand-built bad row WITH a known url: the error row must carry
    # it (ingest-audit attribution, code-review r5 finding)
    cdx_rows.append(("http://known.example/x", str(p), -5, 100))
    out = W.read_warc_offsets(
        spark, spark.createDataFrame(cdx_rows, W.CDX_SCHEMA)).collect()
    errs = {r["warc_offset"]: r for r in out if r["error"] is not None}
    assert sorted(errs) == [-5, -1]
    assert errs[-1]["url"] is None
    assert errs[-5]["url"] == "http://known.example/x"
    assert len(out) == 5


def test_index_warc_plan_zero_exchanges(spark, container):
    path, _, _ = container
    plan = W.index_warc(
        spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=2048))
def test_fuzz_index_membership_invariant(data):
    """Parser-fuzz reuse: on ARBITRARY bytes the index kernel never
    raises and its (url, offset, length) stream equals the projection
    of the full parser's rows — the two walks cannot drift."""
    stream = [(r["url"], r["warc_offset"], r["warc_length"])
              for r in W.parse_warc_stream(data, "fuzz")]
    index = [(r["url"], r["warc_offset"], r["warc_length"])
             for r in W.iter_warc_index(data, "fuzz")]
    assert index == stream


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=1024))
def test_fuzz_index_gz_prefix_invariant(data):
    data = b"\x1f\x8b" + data
    stream = [(r["url"], r["warc_offset"], r["warc_length"])
              for r in W.parse_warc_stream(data, "fuzz")]
    index = [(r["url"], r["warc_offset"], r["warc_length"])
             for r in W.iter_warc_index(data, "fuzz")]
    assert index == stream
