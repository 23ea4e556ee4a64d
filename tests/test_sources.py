import pytest
from pyspark.sql import types as T




def test_read_parquet_resilient_skips_and_quarantines(spark, tmp_path):
    from elevate_data_pipeline_spark.sources.files import read_parquet_resilient

    d = tmp_path / "ds"
    spark.range(10).coalesce(1).write.parquet(str(d))
    # drop a truncated/garbage file into the dataset
    bad = d / "part-corrupt.parquet"
    bad.write_bytes(b"PAR1 this is not a parquet file")

    # without quarantine: scan-level skip
    got = read_parquet_resilient(spark, str(d))
    assert got.count() == 10

    # with quarantine: the bad file is moved aside, preserved
    q = tmp_path / "quarantine"
    got2 = read_parquet_resilient(spark, str(d), quarantine=str(q))
    assert got2.count() == 10
    assert not bad.exists()
    assert (q / "part-corrupt.parquet").exists()


def test_quarantine_preserves_relative_paths(spark, tmp_path):
    """Two corrupt files with the SAME basename under different
    partition dirs must both survive quarantine (no overwrite)."""
    from elevate_data_pipeline_spark.sources.files import read_parquet_resilient

    d = tmp_path / "ds2"
    base = spark.range(10)
    base.withColumn("p", (base["id"] % 2).cast("int")) \
        .write.partitionBy("p").parquet(str(d))
    (d / "p=0" / "part-corrupt.parquet").write_bytes(b"PAR1 garbage A")
    (d / "p=1" / "part-corrupt.parquet").write_bytes(b"PAR1 garbage BB")

    q = tmp_path / "quarantine2"
    got = read_parquet_resilient(spark, str(d), quarantine=str(q))
    assert got.count() == 10
    assert (q / "p=0" / "part-corrupt.parquet").read_bytes() == b"PAR1 garbage A"
    assert (q / "p=1" / "part-corrupt.parquet").read_bytes() == b"PAR1 garbage BB"


def test_warc_roundtrip_and_reader(spark, tmp_path):
    """encode_warc -> decode_warc is exact for both the per-member-gzip
    (.warc.gz) and uncompressed layouts, and the distributed binaryFile
    reader explodes one row per record with the parsed fields."""
    from elevate_data_pipeline_spark.sources.warc import (
        decode_warc,
        encode_warc,
        read_warc,
    )

    recs = [
        {
            "rec_type": "warcinfo",
            "record_id": "<urn:uuid:0>",
            "date": "2026-01-01T00:00:00Z",
            "payload": b"software: edp\r\n",
        },
        {
            "rec_type": "request",
            "record_id": "<urn:uuid:1>",
            "date": "2026-01-01T00:00:00Z",
            "uri": "http://crawl.test/a",
            "headers": {"Content-Type": "application/http"},
            "payload": b"GET /a HTTP/1.1\r\nHost: crawl.test\r\n\r\n",
        },
        {
            "rec_type": "response",
            "record_id": "<urn:uuid:2>",
            "date": "2026-01-01T00:00:00Z",
            "uri": "http://crawl.test/a",
            "payload": "unicode body — héllo\r\nbinary \x00\x01".encode(),
        },
    ]
    for gz in (True, False):
        back = decode_warc(encode_warc(recs, gzip_members=gz))
        assert [r["rec_type"] for r in back] == ["warcinfo", "request", "response"]
        assert [r["uri"] for r in back] == [None] + ["http://crawl.test/a"] * 2
        assert [r["payload"] for r in back] == [r["payload"] for r in recs]
        assert back[1]["headers"]["Content-Type"] == "application/http"

    (tmp_path / "a.warc.gz").write_bytes(encode_warc(recs))
    (tmp_path / "b.warc").write_bytes(encode_warc(recs[:1], gzip_members=False))
    out = read_warc(spark, str(tmp_path)).collect()
    assert len(out) == 4
    by_file = {}
    for row in out:
        by_file.setdefault(row.path.rsplit("/", 1)[-1], []).append(row)
    assert [r.rec_type for r in sorted(by_file["a.warc.gz"], key=lambda r: r.rec_idx)] == [
        "warcinfo", "request", "response"
    ]
    resp = [r for r in by_file["a.warc.gz"] if r.rec_type == "response"][0]
    assert bytes(resp.payload) == recs[2]["payload"]
    assert resp.content_length == len(recs[2]["payload"])
    assert by_file["b.warc"][0].rec_type == "warcinfo"


def test_warc_malformed_rejection():
    """Structural damage fails loud: bad version line, missing mandatory
    header, short content block, missing trailer, truncated/garbage gzip
    members, CR/LF header injection on encode."""
    import pytest

    from elevate_data_pipeline_spark.sources.warc import decode_warc, encode_warc

    rec = {
        "rec_type": "response",
        "record_id": "<urn:uuid:9>",
        "date": "2026-01-01T00:00:00Z",
        "uri": "http://x/",
        "payload": b"body",
    }
    plain = encode_warc([rec], gzip_members=False)
    with pytest.raises(ValueError):
        decode_warc(b"WARC/0.9\r\n" + plain.split(b"\r\n", 1)[1])
    with pytest.raises(ValueError):  # drop the WARC-Date header line
        decode_warc(b"".join(
            ln + b"\r\n" for ln in plain.split(b"\r\n") if not ln.startswith(b"WARC-Date")
        ))
    with pytest.raises(ValueError):  # content shorter than Content-Length
        decode_warc(plain[:-5])
    with pytest.raises(ValueError):  # trailer CRLFCRLF corrupted
        decode_warc(plain[:-4] + b"XXXX")
    gz = encode_warc([rec])
    with pytest.raises(ValueError):
        decode_warc(gz[:-3])                         # truncated gzip member
    with pytest.raises(ValueError):
        decode_warc(gz + b"JUNK")                    # garbage between members
    with pytest.raises(ValueError):
        encode_warc([dict(rec, uri="http://x/\r\nWARC-Type: smuggled")])
    with pytest.raises(ValueError):  # header NAME injection
        encode_warc([dict(rec, headers={"X-A\r\nWARC-Type": "smuggled"})])
    with pytest.raises(ValueError):
        encode_warc([dict(rec, payload="not-bytes")])
    # duplicated mandatory header is a framing conflict: fail loud
    dup = plain.replace(
        b"Content-Length: 4\r\n", b"Content-Length: 4\r\nContent-Length: 4\r\n")
    with pytest.raises(ValueError):
        decode_warc(dup)
    # legitimately repeatable headers comma-join, never silently drop
    multi = encode_warc(
        [dict(rec, headers={"WARC-Concurrent-To": "<urn:uuid:1>"})],
        gzip_members=False,
    ).replace(
        b"WARC-Concurrent-To: <urn:uuid:1>\r\n",
        b"WARC-Concurrent-To: <urn:uuid:1>\r\nWARC-Concurrent-To: <urn:uuid:2>\r\n",
    )
    assert decode_warc(multi)[0]["headers"]["WARC-Concurrent-To"] == (
        "<urn:uuid:1>, <urn:uuid:2>")


def test_warc_cdx_spans():
    """cdx_records reports exact byte spans: slicing any entry out of
    the stream yields a standalone decodable record, spans tile the
    whole stream, and the .warc.gz variant addresses compressed member
    boundaries (the CommonCrawl CDX semantic)."""
    from elevate_data_pipeline_spark.sources.warc import (
        cdx_records,
        decode_warc,
        encode_warc,
    )

    recs = [
        {
            "rec_type": "warcinfo", "record_id": "<urn:uuid:0>",
            "date": "2026-01-01T00:00:00Z", "payload": b"soft\r\n",
        },
        {
            "rec_type": "response", "record_id": "<urn:uuid:1>",
            "date": "2026-01-01T00:00:00Z", "uri": "http://a/b",
            "payload": b"BODY" * 50,
        },
        {
            "rec_type": "response", "record_id": "<urn:uuid:2>",
            "date": "2026-01-01T00:00:00Z", "uri": "http://a/c",
            "payload": b"x",
        },
    ]
    for gz in (False, True):
        stream = encode_warc(recs, gzip_members=gz)
        cdx = cdx_records(stream)
        assert [c["rec_idx"] for c in cdx] == [0, 1, 2]
        assert cdx[0]["offset"] == 0
        for prev, cur in zip(cdx, cdx[1:]):
            assert cur["offset"] == prev["offset"] + prev["length"]
        assert cdx[-1]["offset"] + cdx[-1]["length"] == len(stream)
        for c, rec in zip(cdx, recs):
            member = stream[c["offset"] : c["offset"] + c["length"]]
            got = decode_warc(member)
            assert len(got) == 1 and got[0]["payload"] == rec["payload"]
            assert c["rec_type"] == rec["rec_type"]
            assert c["uri"] == rec.get("uri")


def test_http_response_parse():
    """Status/header/body walk plus the fail-loud contract: missing
    terminator, Content-Length mismatch, bad status code; repeated
    header names comma-join (RFC 7230 §3.2.2), obs-fold continuations
    unfold to one SP (§3.2.4 recovery), an unattributable leading fold
    raises."""
    import pytest

    from elevate_data_pipeline_spark.sources.warc import parse_http_response

    msg = (b"HTTP/1.1 301 Moved Permanently\r\n"
           b"Location: http://x/\r\nCONTENT-type: text/plain\r\n"
           b"Content-Type: extra\r\n\r\n")
    r = parse_http_response(msg)
    assert (r["status"], r["reason"]) == (301, "Moved Permanently")
    assert r["headers"]["content-type"] == "text/plain, extra"  # comma-join
    assert r["headers"]["location"] == "http://x/"
    assert r["body"] == b""
    assert (r["chunked"], r["content_encoding"]) == (False, None)
    with pytest.raises(ValueError):
        parse_http_response(b"HTTP/1.1 200 OK\r\nX: y\r\n")  # no terminator
    with pytest.raises(ValueError):
        parse_http_response(b"HTTP/1.1 200 OK\r\nContent-Length: 9\r\n\r\nhi")
    with pytest.raises(ValueError):
        parse_http_response(b"ICY 200 OK\r\n\r\n")
    # obs-fold unfolds to a single SP, folded repeats still comma-join
    fold = parse_http_response(
        b"HTTP/1.1 200 OK\r\nX: a\r\n \t b\r\nX: c\r\n\r\n"
    )
    assert fold["headers"]["x"] == "a b, c"
    fold2 = parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html;\r\n"
        b"\tcharset=gbk\r\n\r\n"
    )
    assert fold2["headers"]["content-type"] == "text/html; charset=gbk"
    with pytest.raises(ValueError):  # fold before any field
        parse_http_response(b"HTTP/1.1 200 OK\r\n a\r\nX: b\r\n\r\n")


def test_http_body_framing():
    """REAL crawl framing: chunked reassembly (extensions, trailers),
    gzip/deflate content decoding, chunked+gzip composition; loud gates
    for non-chunked TE, unsupported/stacked codings, bad chunk frames."""
    import zlib

    import pytest

    from elevate_data_pipeline_spark.sources.warc import parse_http_response

    content = b"Hello, chunked crawl world! " * 20

    def chunked(body, sizes, ext=b"", trailers=b""):
        out, pos = bytearray(), 0
        for s in sizes:
            piece = body[pos:pos + s]
            if not piece:
                break
            out += b"%x%s\r\n%s\r\n" % (len(piece), ext, piece)
            pos += len(piece)
        out += b"0\r\n" + trailers + b"\r\n"
        return bytes(out)

    # chunked, with a chunk extension and a trailer field
    frame = chunked(content, [7, 100, 1000], ext=b";ext=1",
                    trailers=b"X-Trailer: t\r\n")
    r = parse_http_response(
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + frame)
    assert r["body"] == content and r["chunked"] is True
    # Content-Length ignored when chunked (RFC 7230 §3.3.3)
    r = parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Length: 3\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n" + chunked(content, [64] * 20))
    assert r["body"] == content
    # gzip content-coding with Content-Length over the COMPRESSED bytes
    co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    gz = co.compress(content) + co.flush()
    r = parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(gz) + gz)
    assert r["body"] == content and r["content_encoding"] == "gzip"
    # deflate: zlib-wrapped and raw forms both accepted
    for blob in (zlib.compress(content), zlib.compress(content)[2:-4]):
        r = parse_http_response(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + blob)
        assert r["body"] == content
    # chunked + gzip composed (the dominant real CommonCrawl layout)
    r = parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n" + chunked(gz, [11, 64, 4096]))
    assert r["body"] == content and r["chunked"] is True
    with pytest.raises(NotImplementedError):  # non-chunked TE
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip, chunked\r\n\r\nx")
    with pytest.raises(NotImplementedError):  # unsupported coding
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\nx")
    with pytest.raises(NotImplementedError):  # stacked codings
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip, deflate\r\n\r\nx")
    base = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
    with pytest.raises(ValueError):  # bad chunk size
        parse_http_response(base + b"zz\r\nhi\r\n0\r\n\r\n")
    with pytest.raises(ValueError):  # chunk data overruns body
        parse_http_response(base + b"ff\r\nshort\r\n0\r\n\r\n")
    with pytest.raises(ValueError):  # missing chunk CRLF
        parse_http_response(base + b"2\r\nhiX\r\n0\r\n\r\n")
    with pytest.raises(ValueError):  # garbage after terminator
        parse_http_response(base + b"2\r\nhi\r\n0\r\n\r\nJUNK")
    with pytest.raises(ValueError):  # truncated gzip body
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + gz[:-4])


def test_http_request_parse():
    """Request-line walk for WARC ``request`` records; shares the
    header/framing path with the response parser."""
    import pytest

    from elevate_data_pipeline_spark.sources.warc import parse_http_request

    r = parse_http_request(
        b"GET /doc/7?q=1 HTTP/1.1\r\nHost: crawl.test\r\n"
        b"User-Agent: spark-graft\r\n\r\n")
    assert (r["method"], r["target"], r["version"]) == (
        "GET", "/doc/7?q=1", "HTTP/1.1")
    assert r["headers"]["host"] == "crawl.test"
    assert r["body"] == b""
    r = parse_http_request(
        b"POST /s HTTP/1.1\r\nContent-Length: 4\r\n\r\nwxyz")
    assert r["body"] == b"wxyz"
    with pytest.raises(ValueError):
        parse_http_request(b"GET /x\r\n\r\n")  # 2-token request line
    with pytest.raises(ValueError):
        parse_http_request(b"POST /s HTTP/1.1\r\nContent-Length: 9\r\n\r\nhi")


def test_robots_rules():
    """RFC 9309 semantics: group merge for the same agent, exact-agent
    beats *, longest match, Allow wins ties, empty Disallow is a no-op,
    rules before any group ignored, wildcards refuse loudly."""
    import pytest

    from elevate_data_pipeline_spark.functions.crawl import robots_allowed

    txt = (
        "Disallow: /ignored-before-any-group\n"
        "User-agent: a\nUser-agent: b\nDisallow: /x/\n"
        "User-agent: *\nDisallow: /y/\nAllow: /y/ok\nDisallow:\n"
        "User-agent: a\nAllow: /x/ok/\n"  # same-agent group merges
    )
    assert robots_allowed(txt, "A", "/x/ok/z") == (True, "allow", "/x/ok/")
    assert robots_allowed(txt, "b", "/x/z") == (False, "disallow", "/x/")
    assert robots_allowed(txt, "other", "/y/z") == (False, "disallow", "/y/")
    assert robots_allowed(txt, "other", "/y/ok") == (True, "allow", "/y/ok")
    assert robots_allowed(txt, "other", "/free") == (True, None, None)
    assert robots_allowed(txt, "a", "/y/z") == (True, None, None)  # exact group only
    # Allow wins an exact length tie
    tie = "User-agent: *\nDisallow: /p\nAllow: /p\n"
    assert robots_allowed(tie, "x", "/page") == (True, "allow", "/p")


def test_robots_wildcards():
    """RFC 9309 §2.2.3 wildcard rule paths: ``*`` spans octets, a
    trailing ``$`` anchors end-of-path, precedence counts pattern
    octets, and a longer wildcard pattern beats a shorter literal."""
    from elevate_data_pipeline_spark.functions.crawl import (
        robots_allowed,
        rule_matches,
    )

    txt = (
        "User-agent: *\n"
        "Disallow: /*?\n"          # any path with a query string
        "Disallow: /*.pdf$\n"      # .pdf at end of path only
        "Allow: /shop/*?page=\n"
        "Disallow: /tmp\n"
    )
    assert robots_allowed(txt, "x", "/a/b") == (True, None, None)
    assert robots_allowed(txt, "x", "/a/b?x=1") == (False, "disallow", "/*?")
    assert robots_allowed(txt, "x", "/doc/a.pdf") == (
        False, "disallow", "/*.pdf$")
    assert robots_allowed(txt, "x", "/doc/a.pdfx") == (True, None, None)
    # longer wildcard Allow outranks the shorter Disallow patterns
    assert robots_allowed(txt, "x", "/shop/x?page=2") == (
        True, "allow", "/shop/*?page=")
    assert robots_allowed(txt, "x", "/tmp/f") == (False, "disallow", "/tmp")
    # matcher edge shapes
    assert rule_matches("/a*b*c", "/aXbYc-tail")
    assert not rule_matches("/a*b*c", "/aXc")
    assert rule_matches("/a$", "/a") and not rule_matches("/a$", "/ab")
    assert rule_matches("/*$", "/anything")
    assert rule_matches("/**x", "/zzx")
    assert rule_matches("/a$b", "/a$bq")  # inner $ is a literal octet


def test_robots_matcher_vs_regex_reference():
    """Differential check of the greedy matcher against a regex
    reference over an exhaustive small-alphabet pattern/path grid."""
    import itertools
    import re

    from elevate_data_pipeline_spark.functions.crawl import rule_matches

    def ref(pattern: str, path: str) -> bool:
        anchored = pattern.endswith("$")
        core = pattern[:-1] if anchored else pattern
        rx = ".*".join(re.escape(seg) for seg in core.split("*"))
        return re.match(rx + (r"\Z" if anchored else ""), path) is not None

    alpha = "a/*"
    pats = [
        "".join(p) + tail
        for n in range(4)
        for p in itertools.product(alpha, repeat=n)
        for tail in ("", "$")
    ]
    paths = ["".join(p) for n in range(5) for p in itertools.product("a/?", repeat=n)]
    for pat in pats:
        for path in paths:
            assert rule_matches(pat, path) == ref(pat, path), (pat, path)


def test_fix_mojibake_rule():
    """The strict-decode fixpoint rule: single and double mojibake
    repair to the original, ASCII and already-clean text are untouched,
    and text beyond latin-1 is never 'repaired'."""
    from elevate_data_pipeline_spark.functions.crawl import fix_mojibake

    orig = "café — naïve ünïcode"
    m1 = orig.encode("utf-8").decode("latin-1")
    m2 = m1.encode("utf-8").decode("latin-1")
    assert fix_mojibake(m1) == (orig, 1)
    assert fix_mojibake(m2) == (orig, 2)
    assert fix_mojibake("plain") == ("plain", 0)
    assert fix_mojibake(orig) == (orig, 0)      # em-dash > U+00FF: stops
    assert fix_mojibake("caf\xe9") == ("caf\xe9", 0)  # latin-1 but not UTF-8


def test_canonical_url_rules():
    """RFC 3986 normalization subset: case, default ports, fragment,
    empty path, query sort with duplicate keys and valueless params;
    dot segments resolve per §5.2.4; root-escaping paths and relative
    URLs refuse loudly."""
    import pytest

    from elevate_data_pipeline_spark.functions.crawl import canonical_url

    c = canonical_url("HTTP://WWW.Ex.COM:80/A/b?z=9&a=2&a=10&flag#frag")
    assert c["url"] == "http://www.ex.com/A/b?a=10&a=2&flag&z=9"
    assert (c["host"], c["port"], c["n_params"]) == ("www.ex.com", None, 4)
    assert canonical_url("https://H:443/x")["url"] == "https://h/x"
    assert canonical_url("https://h:8443")["url"] == "https://h:8443/"
    assert canonical_url("http://h/p?")["url"] == "http://h/p"
    # IPv6 literals re-bracket on recomposition (host field unbracketed)
    c6 = canonical_url("http://[2001:DB8::1]:8080/x")
    assert c6["url"] == "http://[2001:db8::1]:8080/x"
    assert (c6["host"], c6["port"]) == ("2001:db8::1", 8080)
    assert canonical_url("https://[2001:db8::1]:443/x")["url"] == (
        "https://[2001:db8::1]/x")
    with pytest.raises(ValueError):
        canonical_url("/relative/only")
    # dot segments resolve (RFC 3986 §5.2.4); root escape stays loud
    assert canonical_url("http://h/a/../b")["url"] == "http://h/b"
    assert canonical_url("http://h/a/./b/..")["url"] == "http://h/a/"
    assert canonical_url("http://h/a//../b")["url"] == "http://h/a/b"
    assert canonical_url("http://h/.")["url"] == "http://h/"
    with pytest.raises(ValueError, match="escape"):
        canonical_url("http://h/../etc/passwd")
    with pytest.raises(ValueError, match="escape"):
        canonical_url("http://h/a/../../x")
    # §6.2.2.2 percent-encoding normalization: unreserved decodes,
    # reserved stays encoded with UPPERCASE hex (%2F is not a slash),
    # %2E resolves like the '.' it is (decode happens first)
    assert canonical_url("http://h/%41b%7e/x")["url"] == "http://h/Ab~/x"
    assert canonical_url("http://h/a%2fb")["url"] == "http://h/a%2Fb"
    assert canonical_url("http://h/a/%2e%2e/b")["url"] == "http://h/b"
    assert canonical_url("http://h/p?%61=%2f")["url"] == "http://h/p?a=%2F"
    with pytest.raises(ValueError, match="percent"):
        canonical_url("http://h/a%2")
    with pytest.raises(ValueError, match="percent"):
        canonical_url("http://h/a%zz")
    # IDN hosts punycode via the stdlib IDNA codec
    c_idn = canonical_url("http://MÜNCHEN.example/x")
    assert c_idn["host"] == "xn--mnchen-3ya.example"
    assert c_idn["url"] == "http://xn--mnchen-3ya.example/x"


def test_try_canonical_url_confines_refusal_to_the_record():
    """try_canonical_url: same canonical dict plus error=None on valid
    input; every loud canonical_url gate (malformed percent, root
    escape, relative URL, bad IDNA) comes back as an all-None dict
    with the gate's message in ``error`` — the Arrow-batch caller
    keeps the batch alive and flags the record."""
    from elevate_data_pipeline_spark.functions.crawl import (
        canonical_url,
        try_canonical_url,
    )

    ok = try_canonical_url("HTTP://Ex.COM:80/a/../b?z=1#f")
    assert ok["error"] is None
    assert {k: v for k, v in ok.items() if k != "error"} == canonical_url(
        "HTTP://Ex.COM:80/a/../b?z=1#f"
    )
    for bad, frag in [
        ("http://h/a%zz", "percent"),
        ("http://h/../etc/passwd", "escape"),
        ("/relative/only", "absolute"),
    ]:
        r = try_canonical_url(bad)
        assert r["url"] is None and r["host"] is None
        assert r["n_params"] is None
        assert frag in r["error"]


def test_remove_dot_segments_vs_urljoin_property():
    """Property: for any non-root-escaping absolute path built from
    normal / '.' / '..' segments, remove_dot_segments agrees with the
    stdlib's RFC 3986 resolution (urljoin against a bare authority);
    escaping paths raise where urljoin silently clamps."""
    from urllib.parse import urljoin

    import pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from elevate_data_pipeline_spark.functions.crawl import (
        remove_dot_segments,
    )

    seg = st.sampled_from(["a", "b", "cc", "d0", ".", "..", ""])

    @given(
        segs=st.lists(seg, min_size=0, max_size=8),
        trail=st.booleans(),
    )
    @settings(max_examples=300, deadline=None)
    def check(segs, trail):
        path = "/" + "/".join(segs) + ("/" if trail and segs else "")
        # depth walk to classify root escape (empty segments count:
        # they are poppable per the RFC algorithm)
        depth, escapes = 0, False
        parts = path.split("/")[1:]
        for i, s in enumerate(parts):
            last = i == len(parts) - 1
            if s == ".":
                continue
            if s == "..":
                if depth == 0:
                    escapes = True
                    break
                depth -= 1
            elif not (last and s == ""):
                depth += 1
        if escapes:
            with pytest.raises(ValueError, match="escape"):
                remove_dot_segments(path)
            return
        if path.startswith("//"):
            # a leading "//" reference is a NETWORK-PATH reference to
            # urljoin (authority), not a path — outside the comparison
            return
        expect = urljoin("http://h", path)
        assert "http://h" + remove_dot_segments(path) == expect

    check()


def test_crawl_delay_selection_and_leniency():
    """Crawl-delay extension: exact-agent group beats *, same-agent
    groups merge to the MAX delay, missing/garbage values ignored,
    float values parse, no applicable group -> None."""
    from elevate_data_pipeline_spark.functions.crawl import crawl_delay

    txt = (
        "User-agent: *\nCrawl-delay: 3\nDisallow: /x\n"
        "User-agent: bot\nCrawl-delay: 7\n"
        "User-agent: bot\nCrawl-delay: 2\n"  # merges with the group above
    )
    assert crawl_delay(txt, "BOT") == 7.0  # max across merged groups
    assert crawl_delay(txt, "other") == 3.0  # * fallback
    assert crawl_delay("User-agent: *\nDisallow: /", "x") is None
    assert crawl_delay("User-agent: *\nCrawl-delay: nope\n", "x") is None
    assert crawl_delay("User-agent: *\nCrawl-delay: -1\n", "x") is None
    assert crawl_delay("User-agent: *\nCrawl-delay: 2.5\n", "x") == 2.5
    assert crawl_delay("Crawl-delay: 9\n", "x") is None  # before any group
    # float() parses 'inf'/'infinity'/'nan' — all must be rejected, or
    # politeness budgets downstream divide by floor(86400/inf) == 0
    assert crawl_delay("User-agent: *\nCrawl-delay: inf\n", "x") is None
    assert crawl_delay("User-agent: *\nCrawl-delay: Infinity\n", "x") is None
    assert crawl_delay("User-agent: *\nCrawl-delay: nan\n", "x") is None


def test_warc_fields_reject_bare_lf():
    """warc-fields payloads are CRLF-delimited (ISO 28500 §6); an
    LF-delimited payload must raise, not silently parse as one field
    with embedded newlines in the value."""
    import pytest

    from elevate_data_pipeline_spark.sources.warc import parse_warc_fields

    ok = parse_warc_fields(b"software: x\r\noutlink: http://a/\r\n")
    assert ok == [("software", "x"), ("outlink", "http://a/")]
    with pytest.raises(ValueError, match="CRLF"):
        parse_warc_fields(b"software: x\noutlink: http://a/\n")
    with pytest.raises(ValueError, match="CRLF"):
        parse_warc_fields(b"software: x\r\noutlink: a\nhostname: h\r\n")


# Every schema an engine call site hands to local_frame, with rows that
# exercise its edge values.
_INF = float("inf")
_LOCAL_FRAME_CASES = [
    ("_w int", [(1,), (2,)]),
    (
        T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("value", T.LongType(), True),
        ]),
        [(7, 0)],
    ),
    (
        "doc_id long, lang string, quality double, n_tokens long",
        [(1, "en", 0.5, 3), (2, None, float("nan"), 0), (2**62, "de", -0.0, -1)],
    ),
    (
        "doc_id long, lang string, quality double, n_tokens long,"
        " pos long, shard long",
        [(5, "en", _INF, 4, 1, 0), (6, "fr", -_INF, 2, 2, 0)],
    ),
    (
        "script_type string, input_data_schema string,"
        " data_mapping string, output_data_schema string",
        [("decoy", "[]", None, None), ("mentoring", '[{"a": 1}]', None, None)],
    ),
    ("rank long, doc_id long, off int", [(1, 10, 0), (2, 10, 2**31 - 1)]),
    (
        T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("component", T.LongType(), False),
        ]),
        [(3, 1), (4, 1)],
    ),
    ("_cl int, _c array<double>", [(0, [0.1, -0.0, float("nan")]), (1, [])]),
    ("id_a long, id_b long, jaccard double", [(1, 2, 1.0), (1, 3, 1 / 3)]),
    (
        T.StructType([
            T.StructField("_id", T.LongType()),
            T.StructField("_sig", T.ArrayType(T.LongType())),
        ]),
        [(1, [2**63 - 1, -(2**63), 0]), (2, [])],
    ),
    (
        "doc_id long, n_chars int, n_dup_spans long, dup_chars long,"
        " dup_frac double",
        [(1, 0, 0, 0, float("nan")), (2, 10, 1, 5, 0.5)],
    ),
    (
        "doc_id long, n_grams bigint, n_bloom bigint, n_exact bigint,"
        " bloom_fp bigint",
        [(1, 4, 3, 2, 1)],
    ),
    ("node bigint, rank_scaled bigint", [(1, 10**15), (2, 0)]),
    ("_s int, _cl int, _c array<double>", [(0, 0, [_INF, -_INF, 5e-324])]),
    ("_id bigint, _s int, _code int", [(9, 0, 3)]),
    ("query_id bigint, _s int, _code int, _d double", [(0, 1, 2, 1e308)]),
    ("_cl int, _c array<double>", []),
]


def _bits(v):
    """Values compared bit for bit: NaN == NaN, -0.0 != 0.0."""
    import struct

    if isinstance(v, float):
        return ("f", struct.pack("<d", v))
    if isinstance(v, (list, tuple)):
        return tuple(_bits(x) for x in v)
    return v


@pytest.mark.parametrize("schema,rows", _LOCAL_FRAME_CASES)
def test_local_frame_round_trip(spark, schema, rows):
    from elevate_data_pipeline_spark.sources.local import local_frame

    df = local_frame(spark, rows, schema)
    want = T.DataType.fromDDL(schema) if isinstance(schema, str) else schema
    assert df.schema == want
    got = [_bits(tuple(r)) for r in df.collect()]
    assert got == [_bits(r) for r in rows]


def test_local_frame_columns_mapping(spark):
    import numpy as np

    from elevate_data_pipeline_spark.sources.local import local_frame

    df = local_frame(
        spark,
        {"rank": np.array([2, 1], dtype=np.int64), "off": np.array([0, 7], dtype=np.int32)},
        "rank long, off int",
    )
    assert [tuple(r) for r in df.collect()] == [(2, 0), (1, 7)]


def test_local_frame_is_a_local_table_scan(spark):
    import io
    from contextlib import redirect_stdout

    from elevate_data_pipeline_spark.sources.local import local_frame

    df = local_frame(spark, [(i, float(i)) for i in range(500)], "k long, v double")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
