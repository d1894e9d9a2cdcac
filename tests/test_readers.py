"""Source readers: JSONL and WARC -> span-doc table -> real extraction."""

import json

from parse_html_spark.sources.readers import (
    parse_warc_records,
    read_span_docs_jsonl,
    read_span_docs_warc,
    write_warc,
)

PAGES = [
    (
        "http://ex.com/a",
        b'<html><body><div id="main"><p>Alpha page body text here</p>'
        b"</div></body></html>",
    ),
    (
        "http://ex.com/b",
        b'<html><body><nav><a href="/x">x</a></nav><div id="main">'
        b"<p>Beta body</p></div></body></html>",
    ),
]


def test_parse_warc_records_roundtrip(tmp_path):
    p = str(tmp_path / "t.warc")
    write_warc(p, PAGES)
    recs = list(parse_warc_records(open(p, "rb").read()))
    assert len(recs) == 2
    assert recs[0][0]["warc-target-uri"] == "http://ex.com/a"
    assert b"Alpha page body" in recs[0][1]


def test_warc_reader_plain_and_gzip(spark, tmp_path):
    from parse_html_spark.pipeline import extract_spans

    plain = str(tmp_path / "a.warc")
    gz = str(tmp_path / "b.warc.gz")
    write_warc(plain, PAGES)
    write_warc(gz, PAGES, gzip_members=True)
    for path in (plain, gz):
        docs = read_span_docs_warc(spark, path)
        rows = {r["doc_id"].split("#")[0]: r for r in docs.collect()}
        assert set(rows) == {"http://ex.com/a", "http://ex.com/b"}
        assert all(r["n_chars"] > 0 for r in rows.values())
        # the real extraction pipeline runs unchanged on WARC input
        spans = extract_spans(docs).collect()
        texts = " ".join(s["text"] for s in spans)
        assert "Alpha page body text here" in texts
        assert "Beta body" in texts


def test_wet_reader_conversion_records(spark, tmp_path):
    """Common Crawl WET layout: 'conversion' records of bare plain text
    (no HTTP envelope). The WET reader picks exactly those; the default
    WARC reader ignores them."""
    from parse_html_spark.sources.readers import read_span_docs_wet

    wet = str(tmp_path / "c.warc.wet.gz")
    texts = [("http://ex.com/a", b"alpha plain text"), ("http://ex.com/b", b"beta text")]
    write_warc(wet, texts, gzip_members=True, record_type="conversion")
    got = {
        r["doc_id"].split("#")[0]: r["spans"][0]["text"]
        for r in read_span_docs_wet(spark, wet).collect()
    }
    assert got == {
        "http://ex.com/a": "alpha plain text",
        "http://ex.com/b": "beta text",
    }
    # default WARC reader skips conversion records entirely
    assert read_span_docs_warc(spark, wet).count() == 0

    # WET text that LOOKS like an HTTP response must not get its
    # "envelope" stripped (only response records carry one), and a
    # plain-string record_types must not explode into characters
    tricky = str(tmp_path / "d.warc.wet")
    text = b"HTTP/1.1 200 OK\r\nlooks-like: a header\r\n\r\nreal body"
    write_warc(tricky, [("http://ex.com/t", text)], record_type="conversion")
    got2 = read_span_docs_wet(spark, tricky).collect()
    assert got2[0]["spans"][0]["text"] == text.decode()
    assert got2[0]["n_chars"] == len(text)
    from parse_html_spark.sources.readers import read_span_docs_warc as rw

    assert rw(spark, tricky, record_types="conversion").count() == 1


def test_jsonl_reader(spark, tmp_path):
    from parse_html_spark.pipeline import extract_spans

    p = str(tmp_path / "docs.jsonl")
    with open(p, "w") as fh:
        for i in range(3):
            fh.write(
                json.dumps(
                    {
                        "doc_id": f"j-{i}",
                        "spans": [
                            {
                                "kind": "text",
                                "text": f"<div id='main'><p>doc {i}</p></div>",
                                "media_ref": None,
                                "offset": 0,
                            }
                        ],
                        "n_chars": 30,
                    }
                )
                + "\n"
            )
    docs = read_span_docs_jsonl(spark, p)
    assert docs.count() == 3
    out = extract_spans(docs).collect()
    assert {r["doc_id"] for r in out} == {"j-0", "j-1", "j-2"}


def test_gunzip_members_tolerates_corruption():
    """VERDICT r4 #2: truncated/corrupt gzip members yield the bytes
    decompressed so far + an error string, never an exception."""
    import gzip
    import random

    from parse_html_spark.sources.readers import _gunzip_members

    m1 = gzip.compress(b"first member payload ")
    m2 = gzip.compress(b"second member payload")
    # clean: both members, no error
    out, err = _gunzip_members(m1 + m2)
    assert out == b"first member payload second member payload" and err is None
    # truncated second member: first member survives, flagged
    out, err = _gunzip_members(m1 + m2[: len(m2) // 2])
    assert out.startswith(b"first member payload") and err is not None
    # trailing garbage after the last member
    out, err = _gunzip_members(m1 + b"\x00garbage\xff")
    assert out == b"first member payload " and "trailing garbage" in err
    # pure driver-side mutation fuzz (fast; mirrors test_jpeg's
    # contract): any single-byte flip or truncation -> (bytes, str|None)
    rng = random.Random(42)
    blob = m1 + m2
    for _ in range(2000):
        b = bytearray(blob)
        if rng.random() < 0.5:
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            data = bytes(b)
        else:
            data = bytes(b[: rng.randrange(len(b) + 1)])
        out, err = _gunzip_members(data)  # must never raise
        assert isinstance(out, bytes)


def test_parse_warc_records_never_raises_on_garbage():
    import random

    rng = random.Random(7)
    for _ in range(500):
        n = rng.randrange(0, 400)
        data = bytes(rng.randrange(256) for _ in range(n))
        list(parse_warc_records(data))  # must never raise
    # adversarial shapes: header without terminator, huge content-length
    list(parse_warc_records(b"WARC/1.0\r\nWARC-Type: response"))
    recs = list(
        parse_warc_records(
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"Content-Length: 999999999\r\n\r\nshort"
        )
    )
    assert len(recs) == 1 and recs[0][1] == b"short"  # parsed-so-far


def test_warc_reader_flag_mode_mixed_archives(spark, tmp_path):
    """VERDICT r4 #2 end-to-end: a crawl directory where some archives
    are truncated/corrupt must yield every record parsed before the
    corruption point plus a census, not a dead task."""
    from parse_html_spark.sources.readers import warc_decode_census

    d = tmp_path / "crawl"
    d.mkdir()
    # archive 0: clean
    write_warc(str(d / "ok.warc.gz"), PAGES, gzip_members=True)
    # archive 1: second gzip member truncated -> page a survives
    write_warc(str(d / "trunc.warc.gz"), PAGES, gzip_members=True)
    blob = open(d / "trunc.warc.gz", "rb").read()
    # cut 10 bytes into the second gzip member (found by its magic)
    second = blob.find(b"\x1f\x8b", 2)
    assert second > 0
    open(d / "trunc.warc.gz", "wb").write(blob[: second + 10])
    # archive 2: plain WARC cut mid-record -> truncated_record status
    write_warc(str(d / "cut.warc"), PAGES)
    raw = open(d / "cut.warc", "rb").read()
    open(d / "cut.warc", "wb").write(raw[: len(raw) - 30])
    # archive 3: corrupt Content-Length header
    open(d / "badlen.warc", "wb").write(
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://ex.com/bad\r\n"
        b"Content-Length: NaN\r\n\r\n"
        b"HTTP/1.1 200 OK\r\n\r\nbody text"
    )
    # archive 4: pure garbage with .gz name
    open(d / "junk.warc.gz", "wb").write(b"\x00\x01\x02 not gzip at all")

    docs = read_span_docs_warc(spark, str(d), on_error="flag")
    rows = docs.collect()
    classes = {r["status"].split(":")[0] for r in rows}
    assert classes == {"ok", "truncated_record", "bad_content_length",
                       "archive_error"}
    by_status = {}
    for r in rows:
        by_status.setdefault(r["status"].split(":")[0], []).append(r)
    # clean archive contributes both pages; truncated gz keeps page a
    ok_uris = {r["doc_id"].split("#")[0] for r in by_status["ok"]}
    assert "http://ex.com/a" in ok_uris and "http://ex.com/b" in ok_uris
    # archive-error census rows carry zero spans (nothing leaks into
    # extraction) and name the archive
    for r in by_status["archive_error"]:
        assert r["spans"] == [] and r["n_chars"] == 0
        assert "ARCHIVE_ERROR" in r["doc_id"]
    # the one-call census rolls up by failure mode
    census = {r["status"]: r["n_docs"] for r in warc_decode_census(docs).collect()}
    assert census["ok"] >= 3 and census["archive_error"] >= 1

    # raise mode (the default) fails fast on the same directory
    import pytest
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        read_span_docs_warc(spark, str(d)).collect()
    assert "ValueError" in str(ei.value) or isinstance(ei.value, ValueError)


def test_warc_flag_mode_clean_archive_all_ok(spark, tmp_path):
    """Flag mode on a clean archive: every status 'ok', and dropping the
    status column reproduces the default-mode table exactly."""
    gz = str(tmp_path / "clean.warc.gz")
    write_warc(gz, PAGES, gzip_members=True)
    flagged = read_span_docs_warc(spark, gz, on_error="flag")
    assert {r["status"] for r in flagged.collect()} == {"ok"}
    plain = sorted(repr(r) for r in read_span_docs_warc(spark, gz).collect())
    assert (
        sorted(
            repr(r)
            for r in flagged.drop(
                "status", "charset", "content_encoding", "http_status"
            ).collect()
        )
        == plain
    )


def test_negative_content_length_and_truncated_header(spark, tmp_path):
    """Review r5: (1) a negative Content-Length must flag as
    bad_content_length and must NOT move the parser backward into
    phantom-record territory; (2) an archive cut mid-WARC-header must
    surface in the census (the partial record vanishes from the record
    stream, so only the splitter can report it)."""
    from parse_html_spark.sources.readers import read_span_docs_warc

    neg = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://ex.com/neg\r\n"
        b"Content-Length: -7\r\n\r\n"
        b"WARC/1.0 looks like a header start inside payload"
    )
    st = {}
    recs = list(parse_warc_records(neg, st))
    # parser moves FORWARD: the payload's fake start is scanned once,
    # found header-terminator-less, and reported -- not looped over
    assert len(recs) >= 1 and recs[0][1] == b""
    assert "truncated_header" in st

    d = tmp_path / "neg"
    d.mkdir()
    open(d / "neg.warc", "wb").write(neg)
    rows = read_span_docs_warc(spark, str(d), on_error="flag").collect()
    classes = {r["status"].split(":")[0] for r in rows}
    assert "bad_content_length" in classes
    assert "archive_error" in classes  # the mid-header truncation

    # archive cut mid-header of the LAST record: previously invisible
    d2 = tmp_path / "cut"
    d2.mkdir()
    write_warc(str(d2 / "c.warc"), PAGES)
    raw = open(d2 / "c.warc", "rb").read()
    second = raw.find(b"WARC/1.0", 5)
    open(d2 / "c.warc", "wb").write(raw[: second + 20])  # inside header 2
    flagged = read_span_docs_warc(spark, str(d2), on_error="flag").collect()
    stats = {r["status"].split(":")[0] for r in flagged}
    assert "archive_error" in stats  # census shows the data loss
    ok_uris = {
        r["doc_id"].split("#")[0] for r in flagged if r["status"] == "ok"
    }
    assert ok_uris == {"http://ex.com/a"}  # record 1 still parsed
    # raise mode stays TOLERANT here (review r5 pass 2): an
    # unterminated-header start is indistinguishable from trailing
    # junk containing the magic, which this reader has always parsed
    # past -- so the default mode must not start killing such archives
    assert read_span_docs_warc(spark, str(d2)).count() == 1

    # archive cut INSIDE the magic itself (ends with b'WAR'): the
    # prefix heuristic surfaces it in the flag-mode census under its
    # OWN class (ADVICE r5: this pattern can also be legitimate
    # trailing junk, so it must not read as confirmed corruption)
    d3 = tmp_path / "magic"
    d3.mkdir()
    write_warc(str(d3 / "m.warc"), PAGES)
    raw3 = open(d3 / "m.warc", "rb").read()
    second3 = raw3.find(b"WARC/1.0", 5)
    open(d3 / "m.warc", "wb").write(raw3[: second3 + 3])  # ends b'WAR'
    flagged3 = read_span_docs_warc(spark, str(d3), on_error="flag").collect()
    classes3 = {r["status"].split(":")[0] for r in flagged3}
    assert "suspected_truncation" in classes3
    assert "archive_error" not in classes3


# ---------------------------------------------------------------------------
# Round 6: HTTP message decoding in the response path (VERDICT r5 #1)
# ---------------------------------------------------------------------------

def test_http_decode_units():
    """The three HTTP layers in isolation: chunked, content-encoding,
    charset (BOM > declaration > utf-8-replace fallback)."""
    from parse_html_spark.sources.readers import (
        _dechunk,
        _decode_charset,
        _decode_http_response,
        _decompress_http,
    )
    import gzip as _gzip
    import zlib as _zlib

    # chunked: sizes in hex, extensions tolerated, trailers ignored
    body = b"4;ext=1\r\nWiki\r\n5\r\npedia\r\n0\r\nX-T: t\r\n\r\n"
    assert _dechunk(body) == (b"Wikipedia", None)
    # truncated mid-chunk degrades to the bytes so far
    out, err = _dechunk(b"a\r\nhello")
    assert out == b"hello" and "truncated chunk" in err
    out, err = _dechunk(b"zz\r\nhello")
    assert out == b"" and "bad chunk size" in err

    payload = b"some latin-1 text: caf\xe9!"
    assert _decompress_http(_gzip.compress(payload), "gzip") == (payload, None)
    assert _decompress_http(_gzip.compress(payload), "x-GZIP") == (payload, None)
    assert _decompress_http(_zlib.compress(payload), "deflate") == (payload, None)
    # raw deflate (wild-web deviation, still labeled 'deflate')
    raw = _zlib.compress(payload)[2:-4]
    assert _decompress_http(raw, "deflate") == (payload, None)
    out, err = _decompress_http(b"not compressed", "br")
    assert out is None and "unsupported content-encoding" in err
    out, err = _decompress_http(_gzip.compress(payload)[:10], "gzip")
    assert "truncated" in err

    # charset: declaration honored, BOM outranks it, unknown falls back
    assert _decode_charset(payload, "latin-1")[0].endswith("café!")
    import codecs
    t, cs, err = _decode_charset(codecs.BOM_UTF16_LE + "héllo".encode("utf-16-le"), "latin-1")
    assert (t, cs, err) == ("héllo", "utf-16", None)
    t, cs, err = _decode_charset(b"plain", "x-no-such-charset")
    assert t == "plain" and cs == "utf-8" and "unknown charset" in err

    # full stack: gzip under chunked under an envelope with charset
    from parse_html_spark.sources.readers import _http_wrap

    msg = _http_wrap(
        "résumé".encode("latin-1"),
        charset="ISO-8859-1",
        content_encoding="gzip",
        chunked=True,
        chunk_size=3,
    )
    text, cs, ce, err = _decode_http_response(msg)
    assert (text, cs, ce, err) == ("résumé", "iso8859-1", "gzip", None)
    # no envelope at all: bare payload, utf-8 fallback
    text, cs, ce, err = _decode_http_response("naked ü".encode())
    assert (text, ce, err) == ("naked ü", "identity", None)


def test_warc_http_bodies_decoded(spark, tmp_path):
    """gzip'd, deflated, chunked, and latin-1 response bodies come out
    as proper text (not mojibake); undecodable bodies flag instead of
    leaking compressed bytes as text; charset census shows the mix."""
    from parse_html_spark.sources.readers import warc_charset_census

    d = tmp_path / "http"
    d.mkdir()
    pages = [
        ("http://e/plain", b"plain utf-8 body", {}),
        ("http://e/gz", b"gzip body text", {"content_encoding": "gzip"}),
        (
            "http://e/defl",
            b"deflate body",
            {"content_encoding": "deflate-raw"},
        ),
        ("http://e/chunk", b"chunked body text", {"chunked": True, "chunk_size": 5}),
        (
            "http://e/both",
            b"gzip then chunked",
            {"content_encoding": "gzip", "chunked": True, "chunk_size": 4},
        ),
        (
            "http://e/latin",
            "caf\xe9 cr\xe8me".encode("latin-1"),
            {"charset": "ISO-8859-1"},
        ),
        (
            "http://e/badcs",
            b"mystery label body",
            {"charset": "x-martian"},
        ),
    ]
    write_warc(str(d / "h.warc.gz"), pages, gzip_members=True)
    rows = {
        r["doc_id"].split("#")[0]: r
        for r in read_span_docs_warc(spark, str(d), on_error="flag").collect()
    }
    texts = {k: v["spans"][0]["text"] for k, v in rows.items()}
    assert texts == {
        "http://e/plain": "plain utf-8 body",
        "http://e/gz": "gzip body text",
        "http://e/defl": "deflate body",
        "http://e/chunk": "chunked body text",
        "http://e/both": "gzip then chunked",
        "http://e/latin": "caf\xe9 cr\xe8me",
        "http://e/badcs": "mystery label body",
    }
    assert rows["http://e/latin"]["charset"] == "iso8859-1"
    assert rows["http://e/gz"]["content_encoding"] == "gzip"
    assert rows["http://e/badcs"]["status"].startswith("unknown_charset:")
    assert all(
        r["status"] == "ok"
        for k, r in rows.items()
        if k != "http://e/badcs"
    )
    # raise mode: clean decodes pass, unknown charset stays tolerant
    assert read_span_docs_warc(spark, str(d)).count() == 7

    # undecodable bodies: corrupt gzip + unsupported br -- hand-built
    # messages (write_warc validates its own opts)
    d2 = tmp_path / "bad"
    d2.mkdir()
    from parse_html_spark.sources.readers import _http_wrap

    raw_pages = [
        ("http://e/ok", _http_wrap(b"fine")),
        (
            "http://e/br",
            b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n\x0b\x02\x80x",
        ),
        (
            "http://e/corrupt",
            b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot gzip",
        ),
    ]
    out = bytearray()
    for uri, body in raw_pages:
        hdr = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + uri.encode() + b"\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        )
        out += hdr + body + b"\r\n\r\n"
    open(d2 / "b.warc", "wb").write(bytes(out))
    flagged = {
        r["doc_id"].split("#")[0]: r
        for r in read_span_docs_warc(spark, str(d2), on_error="flag").collect()
    }
    assert flagged["http://e/ok"]["status"] == "ok"
    assert flagged["http://e/br"]["status"].startswith("http_decode_error:")
    assert flagged["http://e/br"]["spans"] == []  # no mojibake text
    assert flagged["http://e/corrupt"]["status"].startswith("http_decode_error:")
    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)content-encoding"):
        read_span_docs_warc(spark, str(d2)).count()

    census = {
        (r["charset"], r["content_encoding"], r["status_class"]): r["n_docs"]
        for r in warc_charset_census(
            read_span_docs_warc(spark, str(d), on_error="flag")
        ).collect()
    }
    assert census[("iso8859-1", "identity", "ok")] == 1
    assert census[("utf-8", "gzip", "ok")] == 2
    assert census[("utf-8", "identity", "ok")] == 2  # plain + chunked
    assert census[("utf-8", "deflate", "ok")] == 1
    assert census[("utf-8", "identity", "unknown_charset")] == 1


def test_http_decode_never_raises_fuzz():
    """Mutation fuzz over the HTTP layer (VERDICT r5 #1 'done'
    criterion): byte flips, truncations, and junk splices over
    chunked/gzip/deflate/charset messages must always come back as a
    (text|None, charset, encoding, err|None) tuple -- decode errors
    are data, never exceptions (an exception here would kill a task
    per bad record at crawl scale)."""
    import random

    from parse_html_spark.sources.readers import (
        _decode_http_response,
        _http_wrap,
    )

    rng = random.Random(99)
    bases = [
        _http_wrap(b"plain body text " * 4),
        _http_wrap(b"gzip body " * 8, content_encoding="gzip"),
        _http_wrap(b"deflate body " * 8, content_encoding="deflate"),
        _http_wrap(b"raw deflate " * 8, content_encoding="deflate-raw"),
        _http_wrap(b"chunked " * 10, chunked=True, chunk_size=7),
        _http_wrap(
            b"both layers " * 10,
            content_encoding="gzip",
            chunked=True,
            chunk_size=5,
        ),
        _http_wrap("caf\xe9 " .encode("latin-1") * 10, charset="ISO-8859-1"),
    ]
    for _ in range(2500):
        blob = bytearray(bases[rng.randrange(len(bases))])
        mode = rng.random()
        if mode < 0.4:
            blob[rng.randrange(len(blob))] ^= 1 << rng.randrange(8)
        elif mode < 0.7:
            blob = blob[: rng.randrange(len(blob) + 1)]
        else:
            at = rng.randrange(len(blob) + 1)
            junk = bytes(rng.randrange(256) for _ in range(rng.randrange(9)))
            blob = blob[:at] + junk + blob[at:]
        text, charset, enc, err = _decode_http_response(bytes(blob))
        assert text is None or isinstance(text, str)
        assert isinstance(charset, str) and isinstance(enc, str)
        assert err is None or isinstance(err, str)


def test_http_decode_review_r6_fixes():
    """Round-6 review findings, pinned: (1) non-text/garbage charset
    labels fall back instead of raising; (2) truncated-chunked +
    compressed bodies never emit raw compressed bytes as text;
    (3) 'Transfer-Encoding: gzip, chunked' is fully undone;
    (4) unknown transfer codings flag, not silently mojibake;
    (5) raw deflate with a coincidental zlib-valid header still
    decodes fully; (6) charset census buckets are label-normalized
    for failed rows too."""
    import gzip as _gzip
    import zlib as _zlib

    from parse_html_spark.sources.readers import (
        _decode_http_response,
        _norm_charset,
    )

    # (1) 'hex' passes codecs.lookup but is not a text encoding;
    # NUL in the label raises ValueError at lookup
    for label in ("hex", "base64", "zlib", "ut\x00f8", "rot13"):
        msg = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset={label}"
            "\r\n\r\nplain body"
        ).encode("latin-1")
        text, cs, ce, err = _decode_http_response(msg)
        assert text == "plain body" and cs == "utf-8"
        assert err is not None and "unknown charset" in err

    # (2) chunked+gzip cut mid-chunk: partial DECOMPRESSED text only.
    # Body is incompressible-ish so the gzip stream spans many chunks,
    # and the cut lands INSIDE the chunk data (not the HTTP header)
    import random as _random

    rng = _random.Random(0)
    body_text = "clean body text " + "".join(
        rng.choice("abcdefghij") for _ in range(4000)
    )
    payload = _gzip.compress(body_text.encode())
    chunks = bytearray()
    for i in range(0, len(payload), 64):
        p = payload[i : i + 64]
        chunks += f"{len(p):x}".encode() + b"\r\n" + p + b"\r\n"
    head = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
    )
    cut = head + bytes(chunks[: len(chunks) // 2])
    text, cs, ce, err = _decode_http_response(cut)
    assert err is not None
    assert text is None or "\x1f" not in text  # no gzip magic as 'text'
    if text:
        assert text.startswith("clean body text ")

    # (3) RFC-legal 'Transfer-Encoding: gzip, chunked'
    body = _gzip.compress(b"te-gzip body")
    chunks = f"{len(body):x}".encode() + b"\r\n" + body + b"\r\n0\r\n\r\n"
    msg = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip, chunked\r\n\r\n"
        + chunks
    )
    assert _decode_http_response(msg)[0] == "te-gzip body"
    assert _decode_http_response(msg)[3] is None

    # (4) unknown transfer coding: no text, flagged
    msg = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: frobnicate\r\n\r\nxx"
    text, _cs, _ce, err = _decode_http_response(msg)
    assert text is None and "unsupported transfer-encoding" in err

    # (5) a raw-deflate stream whose first two bytes pass the zlib
    # header check must still decode fully. Handcrafted: stored block
    # with byte0=0x08 (BFINAL=0, BTYPE=00, the set bit lands in the
    # ignored pad bits) and LEN low byte 0x1D -- (0x08<<8|0x1D) % 31
    # == 0, a valid CM=8 zlib header. The zlib attempt mis-parses and
    # errors; the raw attempt decodes completely.
    want = b"x" * 0x1D
    raw = (
        b"\x08\x1d\x00\xe2\xff" + want  # LEN=0x001D, NLEN=~LEN
        + b"\x01\x00\x00\xff\xff"  # final empty stored block
    )
    assert _zlib.decompress(raw, wbits=-_zlib.MAX_WBITS) == want + b""
    msg = b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + raw
    text, _cs, _ce, err = _decode_http_response(msg)
    assert err is None and text == want.decode()
    # zlib-wrapped stream cut before its adler trailer: full text out,
    # flagged truncated. The zlib-framed parse is authoritative when it
    # does not error -- a raw reparse that coincidentally 'completes'
    # must never override it (r6 pass 2; trade-off documented in
    # _decompress_http)
    z = _zlib.compress(b"wrapped deflate payload")
    msg = b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + z[:-2]
    text, _cs, _ce, err = _decode_http_response(msg)
    assert text == "wrapped deflate payload" and "truncated" in err

    # (6) failed rows report the normalized charset name
    msg = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=ISO-8859-1\r\n"
        b"Content-Encoding: br\r\n\r\n\x0b\x02junk"
    )
    text, cs, _ce, err = _decode_http_response(msg)
    assert text is None and cs == "iso8859-1"
    assert _norm_charset("x-martian") == "utf-8"


def test_http_decode_review_r6_pass2():
    """Second review wave over the fixes themselves (the fix wave
    always has bugs -- round-4/5 lesson): census-stable non-text
    charset labels, wild-web 'chunked, identity' tolerance, and
    transfer-vs-content layer attribution."""
    import gzip as _gzip

    from parse_html_spark.sources.readers import (
        _decode_http_response,
        _norm_charset,
    )

    # non-text codec label: ok row and failed row bucket IDENTICALLY
    ok_msg = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=hex\r\n\r\nbody"
    )
    bad_msg = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=hex\r\n"
        b"Content-Encoding: br\r\n\r\n\x0bjunk"
    )
    _t1, cs_ok, _e1, _r1 = _decode_http_response(ok_msg)
    t2, cs_bad, _e2, _r2 = _decode_http_response(bad_msg)
    assert t2 is None and cs_ok == cs_bad == "utf-8"
    assert _norm_charset("hex") == "utf-8"

    # 'Transfer-Encoding: chunked, identity' kept decoding pre-round-6;
    # it must keep decoding now
    msg = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked, identity\r\n\r\n"
        b"5\r\nhello\r\n0\r\n\r\n"
    )
    text, _cs, _ce, err = _decode_http_response(msg)
    assert text == "hello" and err is None

    # a transfer-coding failure is attributed to Transfer-Encoding,
    # not Content-Encoding
    body = _gzip.compress(b"x" * 50)[:10]
    chunks = f"{len(body):x}".encode() + b"\r\n" + body + b"\r\n0\r\n\r\n"
    msg = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip, chunked\r\n\r\n" + chunks
    )
    _t, _cs, _ce, err = _decode_http_response(msg)
    assert err is not None and err.startswith("transfer-encoding gzip:")


def test_image_bomb_caps_all_codecs():
    """The decompression-bomb ceiling is shared: crafted JPEG/PNG/PPM
    headers declaring 65535x65535 raise ValueError before allocation,
    same as GIF (review r6 pass 2)."""
    import struct as _s
    import zlib as _zlib

    import pytest as _pytest

    from parse_html_spark.functions.codecs import (
        PNG_SIG,
        decode_png,
        decode_ppm,
    )
    from parse_html_spark.functions.jpeg import decode_jpeg

    # JPEG: SOF0 with giant dims (baseline and progressive markers)
    for sof_marker in (b"\xc0", b"\xc2"):
        sof = (
            b"\xff\xd8\xff" + sof_marker
            + _s.pack(">H", 11)  # seg len: 8 + 3*1
            + bytes([8]) + _s.pack(">HH", 65535, 65535)
            + bytes([1, 0x11, 0, 0x11])
        )
        with _pytest.raises(ValueError, match="MAX_IMAGE_PIXELS"):
            decode_jpeg(sof + b"\xff\xd9")
    # PNG
    ihdr = _s.pack(">IIBBBBB", 65535, 65535, 8, 2, 0, 0, 0)
    crc = _s.pack(">I", _zlib.crc32(b"IHDR" + ihdr))
    png = PNG_SIG + _s.pack(">I", 13) + b"IHDR" + ihdr + crc
    with _pytest.raises(ValueError, match="MAX_IMAGE_PIXELS"):
        decode_png(png)
    # PPM
    with _pytest.raises(ValueError, match="MAX_IMAGE_PIXELS"):
        decode_ppm(b"P6\n65535 65535\n255\n\x00")


def test_meta_charset_prescan(spark, tmp_path):
    """HTML5 encoding prescan: when the Content-Type header carries no
    charset, the first 1024 bytes' <meta charset=...> / http-equiv /
    XML declaration decide the decode -- the single most common real
    mojibake source after compressed bodies. Precedence pinned:
    BOM > header > meta > UTF-8; WET plain text never sniffs."""
    import codecs as _codecs

    from parse_html_spark.sources.readers import (
        _decode_http_response,
        read_span_docs_wet,
    )

    html = '<html><head><meta charset="ISO-8859-1"></head>caf\xe9</html>'
    msg = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        + html.encode("latin-1")
    )
    text, cs, _ce, err = _decode_http_response(msg)
    assert "caf\xe9" in text and cs == "iso8859-1" and err is None

    # http-equiv form
    html2 = (
        '<head><meta http-equiv="Content-Type" '
        'content="text/html; charset=iso-8859-1"></head>cr\xe8me'
    )
    msg2 = b"HTTP/1.1 200 OK\r\n\r\n" + html2.encode("latin-1")
    text, cs, _ce, _err = _decode_http_response(msg2)
    assert "cr\xe8me" in text and cs == "iso8859-1"

    # XML declaration
    xml = "<?xml version='1.0' encoding='ISO-8859-1'?><r>d\xe9j\xe0</r>"
    msg3 = b"HTTP/1.1 200 OK\r\n\r\n" + xml.encode("latin-1")
    text, cs, _ce, _err = _decode_http_response(msg3)
    assert "d\xe9j\xe0" in text and cs == "iso8859-1"

    # header charset WINS over a conflicting meta
    msg4 = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
        b'<meta charset="ISO-8859-1">plain'
    )
    assert _decode_http_response(msg4)[1] == "utf-8"

    # BOM wins over meta
    msg5 = (
        b"HTTP/1.1 200 OK\r\n\r\n"
        + _codecs.BOM_UTF8
        + b'<meta charset="ISO-8859-1">b\xc3\xa9'
    )
    text, cs, _ce, _err = _decode_http_response(msg5)
    assert "b\xe9" in text and cs == "utf-8"

    # sniffed AFTER decompression (markup only visible decompressed)
    import gzip as _gzip

    msg6 = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
        + _gzip.compress(html.encode("latin-1"))
    )
    text, cs, _ce, _err = _decode_http_response(msg6)
    assert "caf\xe9" in text and cs == "iso8859-1"

    # unresolvable meta label: the spec prescan CONTINUES (and finds
    # nothing here), so the page decodes utf-8 with no annotation --
    # only a bogus HEADER label earns the unknown_charset status
    msg7 = b"HTTP/1.1 200 OK\r\n\r\n<meta charset=x-martian>body"
    text, cs, _ce, err = _decode_http_response(msg7)
    assert text.endswith("body") and cs == "utf-8" and err is None

    # WET conversion text mentioning a meta tag stays UTF-8 verbatim
    d = tmp_path / "wet"
    d.mkdir()
    wet_text = 'the page said <meta charset="shift_jis"> literally'
    write_warc(
        str(d / "w.warc.wet"),
        [("http://w/1", wet_text.encode("utf-8"))],
        record_type="conversion",
    )
    rows = read_span_docs_wet(spark, str(d), on_error="flag").collect()
    assert rows[0]["spans"][0]["text"] == wet_text
    assert rows[0]["charset"] == "utf-8"


def test_meta_charset_prescan_spec_edges():
    """Review r6 pass 4: the prescan must follow the HTML5 rules, not
    a bare regex -- utf-16 labels map to UTF-8, charset= inside
    unrelated attribute values and comments is NOT a declaration,
    non-markup media types never sniff, and an invalid header label
    falls through to the prescan instead of suppressing it."""
    from parse_html_spark.sources.readers import _decode_http_response

    # authoring-error '<meta charset=utf-16>' on ASCII bytes -> UTF-8
    msg = b"HTTP/1.1 200 OK\r\n\r\n<meta charset=\"utf-16\">hello"
    text, cs, _ce, err = _decode_http_response(msg)
    assert "hello" in text and cs == "utf-8" and err is None

    # charset= inside a description content is NOT a declaration
    body = (
        '<meta name="description" content="set charset=iso-8859-1 in php">'
        "café"
    ).encode("utf-8")
    msg = b"HTTP/1.1 200 OK\r\n\r\n" + body
    text, cs, _ce, _err = _decode_http_response(msg)
    assert "café" in text and cs == "utf-8"

    # commented-out meta is skipped
    body = b'<!-- <meta charset="iso-8859-1"> -->caf\xc3\xa9'
    text, cs, _ce, _err = _decode_http_response(
        b"HTTP/1.1 200 OK\r\n\r\n" + body
    )
    assert "café" in text and cs == "utf-8"

    # the http-equiv form still works through the attribute parser
    body = (
        b'<META HTTP-EQUIV="Content-Type" '
        b'CONTENT="text/html; charset=ISO-8859-1">d\xe9j\xe0'
    )
    text, cs, _ce, _err = _decode_http_response(
        b"HTTP/1.1 200 OK\r\n\r\n" + body
    )
    assert "déjà" in text and cs == "iso8859-1"

    # text/plain bodies that merely CONTAIN the markup never sniff
    msg = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
        b"example: <meta charset=iso-8859-2> caf\xc3\xa9"
    )
    text, cs, _ce, _err = _decode_http_response(msg)
    assert "café" in text and cs == "utf-8"

    # invalid header label (utf8mb4) + valid meta -> meta wins
    msg = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=utf8mb4\r\n\r\n"
        b'<meta charset="ISO-8859-1">cr\xe8me'
    )
    text, cs, _ce, _err = _decode_http_response(msg)
    assert "crème" in text and cs == "iso8859-1"


def test_meta_charset_prescan_byte_walker():
    """Review r6 pass 5: the prescan is the WHATWG byte walker, not a
    regex -- quoted values consume '>' and markup-looking text, the
    <!--> short comment closes, unresolvable declarations continue to
    later metas, spaced '=' works, and content-without-pragma is not
    a declaration."""
    from parse_html_spark.sources.readers import (
        _decode_http_response,
        _sniff_html_charset,
    )

    # '>' inside a quoted content value does not truncate the tag, and
    # the charset-looking TEXT inside it is not a declaration
    body = (
        b'<meta name=desc content="see <meta charset=iso-8859-1> ex">'
        b"caf\xc3\xa9"
    )
    text, cs, _ce, _err = _decode_http_response(
        b"HTTP/1.1 200 OK\r\n\r\n" + body
    )
    assert "café" in text and cs == "utf-8"

    # a real charset attribute AFTER a quoted value containing '>'
    body = b'<meta name=desc content="a > b" charset="iso-8859-1">cr\xe8me'
    text, cs, _ce, _err = _decode_http_response(
        b"HTTP/1.1 200 OK\r\n\r\n" + body
    )
    assert "crème" in text and cs == "iso8859-1"

    # <!--> is a COMPLETE comment: the following meta is honored
    body = b'<!--> <meta charset="iso-8859-1">d\xe9j\xe0'
    text, cs, _ce, _err = _decode_http_response(
        b"HTTP/1.1 200 OK\r\n\r\n" + body
    )
    assert "déjà" in text and cs == "iso8859-1"

    # unresolvable first declaration: scan continues to the next meta
    body = b'<meta charset="x-bogus"><meta charset="iso-8859-1">caf\xe9'
    text, cs, _ce, err = _decode_http_response(
        b"HTTP/1.1 200 OK\r\n\r\n" + body
    )
    assert "café" in text and cs == "iso8859-1" and err is None

    # attribute names with digits keep their quoted values opaque
    assert (
        _sniff_html_charset(b'<meta data-x1="charset=iso-8859-5" name=d>')
        is None
    )

    # spaced '=' (real-world authoring)
    assert _sniff_html_charset(b'<meta charset = "iso-8859-1">') == (
        "iso-8859-1"
    )

    # content charset WITHOUT the http-equiv pragma is not honored
    assert (
        _sniff_html_charset(
            b'<meta content="text/html; charset=iso-8859-1">'
        )
        is None
    )

    # charset text hiding in an UNRELATED tag's quoted attribute
    assert (
        _sniff_html_charset(
            b'<a title="use <meta charset=koi8-r> kids">x</a>'
        )
        is None
    )


def test_prescan_never_raises_fuzz():
    """The prescan byte walker returns (str | None) on arbitrary bytes
    -- grammar-fragment soup and pure noise alike."""
    import random

    from parse_html_spark.sources.readers import _sniff_html_charset

    rng = random.Random(3)
    frags = [
        b"<meta ", b"charset", b'="', b"='", b">", b"<!--", b"-->",
        b"<a ", b"</", b"<?", b"content-type", b"http-equiv", b" ",
        b"=", b'"', b"'", b"iso-8859-1", b"\x00\xff", b"utf-16",
    ]
    for i in range(5000):
        if i % 3 == 0:
            blob = b"".join(
                rng.choice(frags) for _ in range(rng.randrange(0, 40))
            )
        else:
            blob = bytes(
                rng.randrange(256) for _ in range(rng.randrange(0, 200))
            )
        r = _sniff_html_charset(blob)
        assert r is None or isinstance(r, str)


def test_prescan_pass6_edges():
    """Review r6 pass 6: bogus XML-declaration encodings fall through
    to the meta prescan; comments may precede the XML declaration;
    a head cut mid-quoted-attribute aborts the prescan (spec/browser
    behavior -- the attribute reader ran off the input)."""
    from parse_html_spark.sources.readers import _sniff_html_charset

    assert _sniff_html_charset(
        b'<?xml version="1.0" encoding="x-bogus"?>'
        b'<meta charset="iso-8859-1">'
    ) == "iso-8859-1"
    assert _sniff_html_charset(
        b'<!--c--> <?xml version="1.0" encoding="iso-8859-1"?>'
    ) == "iso-8859-1"
    assert _sniff_html_charset(
        b'\xef\xbb\xbf<?xml version="1.0" encoding="iso-8859-1"?>'
    ) == "iso-8859-1"
    assert _sniff_html_charset(b'<meta charset=iso-8859-5 x="unclosed') is None
    assert (
        _sniff_html_charset(b'<div class="unclosed <meta charset=koi8-r>')
        is None
    )


def test_http_status_column(spark, tmp_path):
    """flag mode exposes the response status-line code: 404/301 error
    bodies become filterable instead of polluting the content set;
    non-response records and unparsable status lines yield NULL."""
    from parse_html_spark.sources.readers import read_span_docs_warc

    d = tmp_path / "codes"
    d.mkdir()
    pages = [
        ("http://c/ok", b"content page", {}),
        ("http://c/nf", b"not found page", {"status": 404, "reason": "Not Found"}),
        ("http://c/mv", b"moved", {"status": 301, "reason": "Moved"}),
    ]
    write_warc(str(d / "c.warc"), pages)
    # a response whose status line is garbage
    body = b"HTTP/1.1 banana\r\n\r\nweird but text"
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://c/weird\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        + body + b"\r\n\r\n"
    )
    with open(d / "c.warc", "ab") as fh:
        fh.write(rec)
    rows = {
        r["doc_id"].split("#")[0]: r
        for r in read_span_docs_warc(spark, str(d), on_error="flag").collect()
    }
    assert rows["http://c/ok"]["http_status"] == 200
    assert rows["http://c/nf"]["http_status"] == 404
    assert rows["http://c/mv"]["http_status"] == 301
    assert rows["http://c/weird"]["http_status"] is None
    assert rows["http://c/weird"]["spans"][0]["text"] == "weird but text"
    # all bodies still ingest (the reader is faithful; the FILTER is
    # the operator's choice)
    assert rows["http://c/nf"]["spans"][0]["text"] == "not found page"
    # WET conversion records: NULL status
    from parse_html_spark.sources.readers import read_span_docs_wet

    d2 = tmp_path / "wet"
    d2.mkdir()
    write_warc(
        str(d2 / "w.warc.wet"),
        [("http://w/1", b"plain")],
        record_type="conversion",
    )
    wr = read_span_docs_wet(spark, str(d2), on_error="flag").collect()
    assert wr[0]["http_status"] is None


def test_dechunk_rejects_nonstrict_hex():
    """ADVICE r6 (high): int(tok, 16) also parses '-2db', '+5', '0x2',
    '1_0' -- a NEGATIVE size walked pos backward and bytes.find wrapped
    it to 0, re-parsing the same chunk-size line forever (verified
    infinite loop). Strict HEXDIG-only tokens now; everything else is
    the existing 'bad chunk size' degrade."""
    from parse_html_spark.sources.readers import _dechunk

    # the exact fuzz repro from the advisory -- must terminate
    out, err = _dechunk(b"-2db\r\n5+\nff+x+;-d9ee76\n\r6418")
    assert "bad chunk size" in err
    for bad in (b"-5\r\nhello\r\n0\r\n\r\n", b"+5\r\nhello\r\n0\r\n\r\n",
                b"0x5\r\nhello\r\n0\r\n\r\n", b"1_0\r\nhello\r\n0\r\n\r\n",
                b"\r\nhello\r\n0\r\n\r\n"):
        out, err = _dechunk(bad)
        assert out == b"" and "bad chunk size" in err, bad
    # strict hex still fine, upper/lower
    assert _dechunk(b"A\r\n0123456789\r\n0\r\n\r\n") == (b"0123456789", None)


def test_http_decompression_bomb_capped():
    """ADVICE r6 (medium): a 255 KB gzip body expanding to 256 MB must
    census as undecodable, never MemoryError an executor -- same
    contract as the PNG/JPEG/GIF pixel ceilings."""
    import gzip as _gzip
    import zlib as _zlib

    from parse_html_spark.sources.readers import (
        _MAX_HTTP_DECODED,
        _decode_http_response,
        _decompress_http,
    )

    bomb_plain = b"\x00" * (_MAX_HTTP_DECODED + (1 << 20))
    gz_bomb = _gzip.compress(bomb_plain)
    assert len(gz_bomb) < 1 << 20  # it IS a bomb
    out, err = _decompress_http(gz_bomb, "gzip")
    assert out is None and "exceeds cap" in err
    out, err = _decompress_http(_zlib.compress(bomb_plain), "deflate")
    assert out is None and "exceeds cap" in err
    # raw-deflate bomb (the zlib parse errors, raw path must also cap)
    out, err = _decompress_http(
        _zlib.compress(bomb_plain)[2:-4], "deflate"
    )
    assert out is None and "exceeds cap" in err
    # under-cap payloads are untouched
    ok = _gzip.compress(b"small body")
    assert _decompress_http(ok, "gzip") == (b"small body", None)
    # through the full response path: censuses as http_decode_error
    msg = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + gz_bomb
    )
    text, cs, ce, herr = _decode_http_response(msg)
    assert text is None and "exceeds cap" in herr


def test_gzip_cap_spans_members():
    """The cap bounds the whole body, not each member: two gzip members
    that are each under _MAX_HTTP_DECODED but cross it together census
    as over-cap, not as the first member's bytes."""
    import gzip as _gzip

    from parse_html_spark.sources.readers import (
        _MAX_HTTP_DECODED,
        _decompress_http,
    )

    m1 = _gzip.compress(b"\x00" * (_MAX_HTTP_DECODED - 10))
    m2 = _gzip.compress(b"\x00" * 20)
    out, err = _decompress_http(m1, "gzip")
    assert err is None and len(out) == _MAX_HTTP_DECODED - 10
    del out
    out, err = _decompress_http(m1 + m2, "gzip")
    assert out is None
    assert err == (
        f"content-encoding gzip: decompressed size exceeds cap "
        f"({_MAX_HTTP_DECODED} bytes)"
    )


def test_content_encoding_comma_list():
    """ADVICE r6 (low): 'gzip, identity' / 'identity, gzip' are
    RFC-legal coding lists -- split and applied in reverse, mirroring
    the transfer-coding loop, instead of dropping a decodable body."""
    import gzip as _gzip

    from parse_html_spark.sources.readers import _decode_http_response

    payload = b"listed coding body"
    for ce in (b"gzip, identity", b"identity, gzip", b" Gzip , Identity "):
        # identity is a no-op wherever it sits in the list: the wire
        # bytes are gzip for all three labelings
        wire = _gzip.compress(payload)
        msg = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
            b"Content-Encoding: " + ce + b"\r\n\r\n" + wire
        )
        text, cs, cenc, err = _decode_http_response(msg)
        assert (text, err) == ("listed coding body", None), ce
    # census column keeps the raw normalized list string
    msg = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        b"Content-Encoding: gzip, identity\r\n\r\n" + _gzip.compress(payload)
    )
    _t, _c, cenc, _e = _decode_http_response(msg)
    assert cenc == "gzip, identity"
    # an unsupported member of the list still flags
    msg = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        b"Content-Encoding: br, gzip\r\n\r\n" + _gzip.compress(payload)
    )
    text, _c, _ce, err = _decode_http_response(msg)
    assert text is None and "unsupported content-encoding 'br'" in err


def test_external_decoder_hook():
    """VERDICT r6 #3: decoders={'br': fn} plugs an external
    decompressor in (brotli is not in the stdlib); a raising hook or
    non-bytes return degrades to census buckets; the hookless path is
    byte-identical to before (still http_decode_error)."""
    import zlib as _zlib

    from parse_html_spark.sources.readers import _decode_http_response

    payload = "brotli-ish body caf\xe9".encode("utf-8")
    wire = _zlib.compress(payload)  # stand-in wire format for the test
    msg = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: br\r\n\r\n" + wire
    )
    # no hook: unchanged behavior
    text, _c, ce, err = _decode_http_response(msg)
    assert text is None and "unsupported content-encoding 'br'" in err
    assert ce == "br"
    # hook provided: body recovered, charset layer still runs
    text, cs, ce, err = _decode_http_response(
        msg, decoders={"br": _zlib.decompress}
    )
    assert (text, cs, ce, err) == ("brotli-ish body café", "utf-8", "br", None)

    def boom(_b):
        raise RuntimeError("wheel exploded")

    text, _c, _ce, err = _decode_http_response(msg, decoders={"br": boom})
    assert text is None and "external decoder: wheel exploded" in err
    text, _c, _ce, err = _decode_http_response(
        msg, decoders={"br": lambda b: "not bytes"}
    )
    assert text is None and "not bytes" in err
    # over-cap hook output is still bomb-capped
    from parse_html_spark.sources.readers import _MAX_HTTP_DECODED

    text, _c, _ce, err = _decode_http_response(
        msg, decoders={"br": lambda b: b"\x00" * (_MAX_HTTP_DECODED + 1)}
    )
    assert text is None and "exceeds cap" in err


def test_external_decoder_hook_in_reader(spark, tmp_path):
    """End-to-end: a WARC with a br record decodes via the hook and
    censuses as http_decode_error without it (VERDICT r6 #3 done
    criteria)."""
    import zlib as _zlib

    from parse_html_spark.sources.readers import read_span_docs_warc

    d = tmp_path / "br"
    d.mkdir()
    payload = b"the br page body"
    body = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: br\r\n\r\n" + _zlib.compress(payload)
    )
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://b/1\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        + body + b"\r\n\r\n"
    )
    (d / "b.warc").write_bytes(rec)
    hooked = read_span_docs_warc(
        spark, str(d), on_error="flag", decoders={"br": _zlib.decompress}
    ).collect()
    assert hooked[0]["status"] == "ok"
    assert hooked[0]["spans"][0]["text"] == "the br page body"
    bare = read_span_docs_warc(spark, str(d), on_error="flag").collect()
    assert bare[0]["status"].startswith(
        "http_decode_error:unsupported content-encoding 'br'"
    )
    assert bare[0]["spans"] == []


def test_undeclared_nonutf8_annotation(spark, tmp_path):
    """VERDICT r6 #2: no BOM, no declared charset anywhere, bytes not
    UTF-8, and the statistical sniffer finds no strong candidate ->
    the replace decode still succeeds but the record is annotated
    'undeclared_nonutf8:<n_replaced>' instead of 'ok', so the census
    exposes the residual mojibake surface."""
    from parse_html_spark.sources.readers import (
        _decode_charset,
        read_span_docs_warc,
        write_warc,
    )

    # unit: a lone latin-1 byte -- too little evidence for the sniffer
    # (below _SNIFF_MIN_NONASCII), so it stays in the annotated bucket
    und = b"menu: caf\xe9 special"
    text, cs, err = _decode_charset(und, None)
    assert cs == "utf-8" and err is not None
    assert err.startswith("undeclared_nonutf8:")
    assert int(err.split(":")[1]) >= 1
    # clean UTF-8 (incl. literal U+FFFD!) stays unannotated
    assert _decode_charset("ok � text".encode(), None)[2] is None
    assert _decode_charset(b"plain ascii", None)[2] is None
    # declared charsets are NOT this bucket (they decode per label)
    sj = "日本語のページ".encode("shift-jis")
    assert _decode_charset(sj, "shift-jis")[2] is None

    d = tmp_path / "undecl"
    d.mkdir()
    pages = [
        ("http://u/ok", "clean utf-8 é".encode("utf-8"), {}),
        ("http://u/und", und, {}),
        # declared legacy page: decodes per declaration, stays ok
        (
            "http://u/decl",
            "déclaré".encode("latin-1"),
            {"charset": "ISO-8859-1"},
        ),
    ]
    write_warc(str(d / "u.warc.gz"), pages, gzip_members=True)
    rows = {
        r["doc_id"].split("#")[0]: r
        for r in read_span_docs_warc(spark, str(d), on_error="flag").collect()
    }
    assert rows["http://u/ok"]["status"] == "ok"
    assert rows["http://u/decl"]["status"] == "ok"
    assert rows["http://u/und"]["status"].startswith("undeclared_nonutf8:")
    # the text still ingested (replace decode), with the U+FFFD scar
    assert "�" in rows["http://u/und"]["spans"][0]["text"]
    # raise mode stays tolerant: it's an annotation, not a failure
    assert read_span_docs_warc(spark, str(d)).count() == 3


def test_sniffed_charset_detection(spark, tmp_path):
    """Round 7 (VERDICT r6 'missing' #2 second half): undeclared
    legacy-charset pages with ENOUGH byte evidence are statistically
    detected (stdlib codecs only), decoded via the detected codec, and
    annotated 'sniffed_charset:<codec>' -- recovered text instead of
    U+FFFD soup, and the census still shows the detection call."""
    from parse_html_spark.sources.readers import (
        _decode_charset,
        _sniff_legacy_charset,
        read_span_docs_warc,
        write_warc,
    )

    matrix = [
        ("吾輩は猫である。名前はまだ無い。どこで生れたか見当がつかぬ。",
         "shift_jis", "shift_jis"),
        ("国境の長いトンネルを抜けると雪国であった。夜の底が白くなった。",
         "euc_jp", "euc_jp"),
        ("人人生而自由，在尊严和权利上一律平等。他们赋有理性和良心。",
         "gb18030", "gb18030"),
        ("人人生而自由，在尊嚴和權利上一律平等。他們賦有理性和良心。",
         "big5", "big5"),
        ("모든 인간은 태어날 때부터 자유로우며 그 존엄과 권리에 있어 "
         "동등하다.", "euc_kr", "euc_kr"),
        ("Все люди рождаются свободными и равными в своём достоинстве "
         "и правах.", "cp1251", "cp1251"),
        ("Все люди рождаются свободными и равными в своём достоинстве "
         "и правах.", "koi8-r", "koi8-r"),
        ("L'été dernier, à Montréal, le cœur de la cité était déjà "
         "très animé — crêpes.", "cp1252", "cp1252"),
        ("Όλοι οι άνθρωποι γεννιούνται ελεύθεροι και ίσοι στην "
         "αξιοπρέπεια.", "cp1253", "cp1253"),
    ]
    for s, enc, want in matrix:
        raw = s.encode(enc)
        assert _sniff_legacy_charset(raw) == want, (enc, want)
        text, cs, err = _decode_charset(raw, None)
        assert cs == want and err == f"sniffed_charset:{want}"
        assert text == s  # fully recovered, zero U+FFFD
    # refusals: valid UTF-8 / ASCII / noise never get re-attributed
    assert _sniff_legacy_charset("日本語テキスト".encode()) is None
    assert _sniff_legacy_charset(b"plain ascii only") is None
    assert _sniff_legacy_charset(bytes(range(128, 256)) * 4) is None

    # an unusable DECLARED label also gets the sniff (declaration
    # recorded in the annotation detail, class still sniffed_charset)
    ru = matrix[5][0].encode("cp1251")
    text, cs, err = _decode_charset(ru, "x-legacy-mystery")
    assert cs == "cp1251"
    assert err == "sniffed_charset:cp1251:declared=x-legacy-mystery"

    # end-to-end through the WARC response path, both modes
    d = tmp_path / "sniff"
    d.mkdir()
    sj_doc = "<html><body>" + "これは宣言のない古い日本語のページです。" * 2 \
        + "</body></html>"
    pages = [
        ("http://s/ja", sj_doc.encode("shift_jis"), {}),
        ("http://s/ok", "plain utf-8 page".encode(), {}),
    ]
    write_warc(str(d / "s.warc.gz"), pages, gzip_members=True)
    rows = {
        r["doc_id"].split("#")[0]: r
        for r in read_span_docs_warc(spark, str(d), on_error="flag").collect()
    }
    assert rows["http://s/ja"]["status"] == "sniffed_charset:shift_jis"
    assert rows["http://s/ja"]["charset"] == "shift_jis"
    assert "古い日本語のページ" in rows["http://s/ja"]["spans"][0]["text"]
    assert "�" not in rows["http://s/ja"]["spans"][0]["text"]
    assert rows["http://s/ok"]["status"] == "ok"
    # raise mode: detection is an annotation, not a failure
    assert read_span_docs_warc(spark, str(d)).count() == 2


def test_gz_chunk_stream_matches_batch_gunzip():
    """Chunk-size invariance: _gunzip_members collects _iter_gz_chunks at
    its default chunk sizes, and the same archive streamed in 333-byte
    output and 17-byte input chunks must give the same bytes AND error
    string for every corruption mode (census buckets move otherwise)."""
    import gzip as _gzip

    from parse_html_spark.sources.readers import (
        _gunzip_members,
        _iter_gz_chunks,
    )

    m1 = _gzip.compress(b"alpha " * 1000)
    m2 = _gzip.compress(b"beta " * 2000)
    cases = [
        m1 + m2,
        m1 + m2[: len(m2) // 2],          # truncated final member
        m1 + b"\x00garbage\xff",           # trailing garbage
        m1[: len(m1) // 2],                 # truncated only member
        b"",                                 # empty archive
        m1 + b"\x1f\x8b\xff\xff\xff",     # corrupt second member
    ]
    for data in cases:
        want_bytes, want_err = _gunzip_members(data)
        got = bytearray()
        got_err = None
        for chunk, err in _iter_gz_chunks(data, out_chunk=333, in_chunk=17):
            if chunk is None:
                got_err = err
                break
            got.extend(chunk)
        assert bytes(got) == want_bytes, data[:20]
        assert got_err == want_err, (got_err, want_err)


def test_warc_stream_memory_envelope():
    """VERDICT r6 #1 done-criterion: peak memory while iterating a
    big .warc.gz is bounded by the largest record + inflate chunk, NOT
    the decompressed archive size."""
    import gzip as _gzip
    import tracemalloc

    from parse_html_spark.sources.readers import (
        _iter_gz_chunks,
        _iter_warc_stream,
    )

    # 160 records x ~512 KiB body = ~80 MiB decompressed; compresses
    # tiny (repetitive), so the resident compressed input is small too
    body = (b"lorem ipsum dolor sit amet " * 19418)[: 512 * 1024]
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://m/x\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        + body + b"\r\n\r\n"
    )
    gz = _gzip.compress(rec * 160)
    total_decompressed = len(rec) * 160
    assert total_decompressed > 80 * 1024 * 1024
    tracemalloc.start()
    tracemalloc.reset_peak()
    n = 0
    for headers, rbody, off in _iter_warc_stream(_iter_gz_chunks(gz)):
        assert len(rbody) == len(body)
        n += 1
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert n == 160
    # envelope: largest record (~512 KiB) + out_chunk (4 MiB) + input
    # chunk (1 MiB) + compressed data (~small) -- assert far below the
    # 80 MiB a whole-archive bytearray would show, with slack for the
    # allocator
    assert peak < 24 * 1024 * 1024, f"peak RSS {peak/1e6:.1f} MB"


def test_warc_stream_oversized_declared_length(monkeypatch):
    """A corrupt/crafted multi-GB Content-Length must not re-accumulate
    the archive in the splitter's buffer (review r7): the body buffers
    only to _MAX_RECORD_BODY, the rest is skip-discarded, and the NEXT
    record still parses. Downstream this censuses as truncated_record."""
    import gzip as _gzip
    import tracemalloc

    import parse_html_spark.sources.readers as rd

    monkeypatch.setattr(rd, "_MAX_RECORD_BODY", 4096)
    filler = b"x" * (2 * 1024 * 1024)  # actual bytes behind the lie
    liar = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://liar/\r\n"
        b"Content-Length: 999999999999\r\n\r\n" + filler
    )
    good_body = b"real record after the liar"
    good = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://good/\r\n"
        b"Content-Length: " + str(len(good_body)).encode() + b"\r\n\r\n"
        + good_body + b"\r\n\r\n"
    )
    # the liar's declared length swallows everything after it, so the
    # good record must come FIRST to prove per-record recovery, and a
    # second archive-shape puts the liar last to prove bounded memory
    for raw in (good + liar, liar):
        gz = _gzip.compress(raw)
        tracemalloc.start()
        tracemalloc.reset_peak()
        recs = list(rd._iter_warc_stream(
            rd._iter_gz_chunks(gz, out_chunk=64 * 1024, in_chunk=64 * 1024)
        ))
        _cur, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        lr = recs[-1]
        assert lr[0]["content-length"] == "999999999999"
        assert len(lr[1]) == 4096  # buffered only to the cap
        assert int(lr[0]["content-length"]) > len(lr[1])  # -> truncated_record
        if raw.startswith(b"WARC/1.0\r\nWARC-Type: response\r\n"
                          b"WARC-Target-URI: http://good/"):
            assert recs[0][1] == good_body
        # envelope: cap + chunk sizes, never the 2 MiB filler
        assert peak < 1200 * 1024, f"peak {peak/1e3:.0f} KB"


def test_warc_stream_splitter_parity_random():
    """Cross-path pin: the streaming splitter over tiny gzip chunks
    must yield byte-identical (headers, body, offset) and status dicts
    vs the single-chunk batch path, over randomized corrupt archives."""
    import gzip as _gzip
    import random

    from parse_html_spark.sources.readers import (
        _iter_gz_chunks,
        _iter_warc_stream,
        parse_warc_records,
    )

    rng = random.Random(77)
    for trial in range(40):
        nrec = rng.randrange(0, 5)
        raw = bytearray()
        for i in range(nrec):
            blen = rng.randrange(0, 2000)
            body = bytes(rng.randrange(256) for _ in range(min(blen, 64))) * (
                blen // max(min(blen, 64), 1) + 1
            )
            body = body[:blen]
            declared = blen if rng.random() < 0.8 else rng.randrange(-5, 3000)
            raw += (
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: http://r/" + str(i).encode() + b"\r\n"
                b"Content-Length: " + str(declared).encode() + b"\r\n\r\n"
                + body + b"\r\n\r\n"
            )
        # random junk injections and truncation
        if rng.random() < 0.4 and raw:
            cut = rng.randrange(len(raw))
            raw = raw[:cut]
        if rng.random() < 0.4:
            raw += b"JUNK" * rng.randrange(0, 9) + b"WARC/1."[: rng.randrange(0, 7)]
        data = bytes(raw)
        st_batch: dict = {}
        want = list(parse_warc_records(data, st_batch))
        st_stream: dict = {}
        got = list(
            _iter_warc_stream(
                _iter_gz_chunks(_gzip.compress(data), out_chunk=97, in_chunk=13),
                st_stream,
            )
        )
        assert got == want, trial
        assert st_stream == st_batch, trial
