"""Round-11 media tests: advisor fixes (ID3v2 header flags, SVG attr
units) plus the round's new decoders as they land."""
from __future__ import annotations

import struct

import pytest


def _syncsafe(n: int) -> bytes:
    return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                  (n >> 7) & 0x7F, n & 0x7F])


def _id3(ver: int, flags: int, body: bytes) -> bytes:
    return b"ID3" + bytes([ver, 0, flags]) + _syncsafe(len(body)) + body


def _frame(ver: int, fid: bytes, body: bytes, fflags: int = 0) -> bytes:
    sz = _syncsafe(len(body)) if ver == 4 else struct.pack(">I", len(body))
    return fid + sz + bytes([0, fflags]) + body


def test_id3_extended_header_skipped(spark):
    """An ID3v2 tag with the extended-header flag (0x40) must skip the
    ext header before the frame walk — v2.4 syncsafe-includes-itself
    vs v2.3 BE32-excluding-own-size (pre-r11 the ext header bytes were
    misread as a frame id, yielding n_frames=0)."""
    from lwetl_spark.operators.media import id3_tags

    tit = _frame(4, b"TIT2", b"\x03Ext Title")
    ext4 = _syncsafe(6) + b"\x01\x00"  # v2.4: size incl. itself = 6
    t4 = _id3(4, 0x40, ext4 + tit)
    tit3 = _frame(3, b"TIT2", b"\x00Ext Title")
    ext3 = struct.pack(">I", 6) + b"\x00\x00" + struct.pack(">I", 0)
    t3 = _id3(3, 0x40, ext3 + tit3)  # v2.3: 6 excl. the 4 size bytes
    # a lying ext header size (past the tag) must fail loudly
    bad = _id3(4, 0x40, _syncsafe(5000) + b"\x01\x00" + tit)
    df = spark.createDataFrame(
        [(1, t4), (2, t3), (3, bad)], "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in id3_tags(df).collect()}
    for i in (1, 2):
        assert out[i]["title"] == "Ext Title", out[i]
        assert out[i]["n_frames"] == 1 and out[i]["valid"]
    assert out[3]["valid"] is False and out[3]["n_frames"] == 0


def test_id3_unsynchronisation(spark):
    """Header unsync flag 0x80: v2.3 de-unsyncs the WHOLE tag body
    before the walk; v2.4 de-unsyncs per frame body (stored sizes walk
    the file), both via the header flag and the per-frame format flag
    0x02."""
    from lwetl_spark.operators.media import id3_tags

    # v2.3 whole-tag: text contains 0xff (latin-1 'ÿ'); unsync is
    # applied to the rendered tag, so sizes refer to restored bytes.
    body3 = _frame(3, b"TIT2", b"\x00a\xffb")
    t3 = _id3(3, 0x80, body3.replace(b"\xff", b"\xff\x00"))
    # v2.4 header flag: frame body STORED unsynced, size = stored size
    stored = b"\x00a\xff\x00b"
    t4h = _id3(4, 0x80, _frame(4, b"TIT2", stored))
    # v2.4 per-frame format flag only (header flags clear)
    t4f = _id3(4, 0, _frame(4, b"TIT2", stored, fflags=0x02))
    df = spark.createDataFrame(
        [(1, t3), (2, t4h), (3, t4f)], "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in id3_tags(df).collect()}
    for i in (1, 2, 3):
        assert out[i]["title"] == "a\xffb", out[i]
        assert out[i]["n_frames"] == 1 and out[i]["valid"]


def test_svg_attr_quotes_and_units(spark):
    """svg_meta width/height: single quotes accepted; '%'/'em' report
    -2 (present, non-px) instead of conflating with -1 (absent)."""
    from lwetl_spark.operators.media import svg_meta

    rows = [
        (1, "<svg width='64' height='48px' viewBox='0 0 1 1'>"
            "<path d='M0 0'/></svg>"),
        (2, '<svg width="100%" height="5em"><path d="M0 0"/></svg>'),
        (3, '<svg viewBox="0 0 9 9"><path d="M0 0"/></svg>'),
        (4, '<svg width = "32" height= "16"><path d="M0 0"/></svg>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, svg string")
    out = {r["doc_id"]: r for r in svg_meta(df).collect()}
    assert (out[1]["width"], out[1]["height"]) == (64, 48)
    assert (out[2]["width"], out[2]["height"]) == (-2, -2)
    assert (out[3]["width"], out[3]["height"]) == (-1, -1)
    assert (out[4]["width"], out[4]["height"]) == (32, 16)
    assert all(out[i]["valid"] for i in (1, 2, 3, 4))


def _pdf_mod(texts, **kw):
    from lwetl_spark.operators.media import pdf_bytes
    return pdf_bytes(texts, **kw)


def test_pdf_xref_stream_and_objstm_census():
    """Modern (≥1.5) PDFs: dict objects inside a FlateDecode /ObjStm,
    cross-reference as a /Type /XRef stream — census counts packed
    objects and pages, follows startxref into the stream, and text
    extraction is unchanged; the PNG-Up predictor leg decodes."""
    from lwetl_spark.operators.media import extract_pdf_text, parse_pdf

    texts = ["Pg %d words" % p for p in range(3)]
    for pred in (False, True):
        b = _pdf_mod(texts, deflate=True, version="1.5",
                     modern=True, predictor=pred)
        c = parse_pdf(b)
        assert c["n_pages"] == 3 and c["n_objects"] == 10, c
        assert c["valid"] and c["version"] == "1.5"
        assert extract_pdf_text(b) == texts
    # classic counts unchanged: 2 + 2*np
    c = parse_pdf(_pdf_mod(texts))
    assert c["n_objects"] == 8 and c["valid"]


def test_pdf_lying_xref_stream():
    """A /Type /XRef stream whose grid lies — corrupt Flate payload,
    wrong /W row width vs data, bad /Size — must fail the startxref
    gate (valid=false) while object/page counts survive."""
    from lwetl_spark.operators.media import parse_pdf

    b = _pdf_mod(["One page"], modern=True, predictor=True)
    # corrupt a byte inside the xref stream blob
    pos = b.rfind(b"/Type /XRef")
    ks = b.find(b"stream", pos)
    bb = bytearray(b)
    bb[ks + 10] ^= 0xFF
    c = parse_pdf(bytes(bb))
    assert c["valid"] is False and c["n_pages"] == 1
    # lie the /Size so the row count mismatches
    b2 = b.replace(b"/Type /XRef /Size 7", b"/Type /XRef /Size 9")
    c2 = parse_pdf(b2)
    assert c2["valid"] is False and c2["n_objects"] == 6
    # truncation before startxref: counts survive, valid=false
    c3 = parse_pdf(b[: b.rfind(b"startxref")])
    assert c3["valid"] is False and c3["n_objects"] == 6


def test_pdf_hybrid_classic_plus_xref_stream_update():
    """An incremental update appending a /Type /XRef stream with
    /Prev → the original classic table (the hybrid vintage): the
    census validates the TOP section and keeps full counts."""
    import re
    import zlib

    from lwetl_spark.operators.media import parse_pdf

    base = _pdf_mod(["Hybrid page"])
    xref_off = int(re.search(rb"startxref\s+(\d+)", base).group(1))
    body = base[: base.rfind(b"startxref")]
    new_off = len(body)
    # one type-1 entry for the xref stream object itself (obj 5)
    data = bytes([1]) + new_off.to_bytes(2, "big") + bytes([0])
    blob = zlib.compress(data)
    upd = (b"5 0 obj\n<< /Type /XRef /Size 6 /Index [5 1] /W [1 2 1]"
           b" /Root 1 0 R /Prev %d /Filter /FlateDecode"
           b" /Length %d >>\nstream\n" % (xref_off, len(blob))
           ) + blob + (b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF\n"
                       % new_off)
    c = parse_pdf(body + upd)
    assert c["valid"] and c["n_pages"] == 1 and c["n_objects"] == 5


def test_ccitt_g4_codec_roundtrip_and_corruption():
    """T.6 MMR codec: encode→decode identity over structured, random,
    all-white and all-black bitmaps; spec-exact bitstream on a
    hand-computed row; truncation and geometry lies return None."""
    import random

    from lwetl_spark.operators.media import (
        ccitt_g4_decode,
        ccitt_g4_encode,
    )

    random.seed(11)
    for trial in range(40):
        w = random.randint(1, 60)
        h = random.randint(1, 30)
        bits = (bytes(random.randint(0, 1) for _ in range(w * h))
                if trial % 2 else
                bytes(1 if (3 * r + c) % 23 < 11 else 0
                      for r in range(h) for c in range(w)))
        assert ccitt_g4_decode(ccitt_g4_encode(bits, w), w, h) == bits
    # hand-computed: row 00110000 -> H(w2,b2) V0 = 001 0111 11 1
    enc = ccitt_g4_encode(bytes([0, 0, 1, 1, 0, 0, 0, 0]), 8)
    got = "".join(format(x, "08b") for x in enc)
    assert got.startswith("0010111111" + "000000000001" * 2)
    # truncation mid-stream and a wrong row count must fail cleanly
    bits = bytes(1 if (3 * r + c) % 23 < 11 else 0
                 for r in range(20) for c in range(40))
    enc = ccitt_g4_encode(bits, 40)
    assert ccitt_g4_decode(enc[: len(enc) // 3], 40, 20) is None
    assert ccitt_g4_decode(enc, 40, 50) is None  # rows past the data


def test_tiff_g4_strips_tiles_and_pdf_ccitt(spark):
    """G4 end-to-end: 1-bit compression-4 TIFF pages (strip and tile
    framing, both byte orders) decode to exact bit stats through
    tiff_pixel_stats; a /CCITTFaxDecode /K -1 PDF image decodes
    through pdf_image_stats with /BlackIs1 honored both ways."""
    from lwetl_spark.operators.media import (
        ccitt_g4_encode,
        pdf_bytes,
        pdf_image_stats,
        tiff_bytes,
        tiff_pixel_stats,
    )

    rows_pdf = []
    for i, little in ((3, True), (8, False)):
        pages = [(20, 15, 1, 4, 4, 1, None), (17, 9, 1, 4, 9, 1, (6, 4))]
        rows_pdf.append((i, tiff_bytes(pages, little=little, seed=i)))
    df = spark.createDataFrame(rows_pdf, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in tiff_pixel_stats(df).collect()}
    for i in (3, 8):
        exp = sum(1 for p, (w, h) in enumerate(((20, 15), (17, 9)))
                  for r in range(h) for c in range(w)
                  if (i + 3 * r + c + 19 * p) % 23 < 11)
        r = out[i]
        assert r["sum_px"] == exp and r["n_px"] == 20 * 15 + 17 * 9
        assert (r["min_px"], r["max_px"]) == (0, 1)
    # PDF: BlackIs1 true -> stats over 1=black; default inverts
    w, h = 11, 7
    bits = bytes(1 if (3 * r + c) % 5 < 2 else 0
                 for r in range(h) for c in range(w))
    blob = ccitt_g4_encode(bits, w)
    b = pdf_bytes(["cap"], images=[("CCITTFaxDecode", w, h, blob)])
    dfp = spark.createDataFrame([(1, b)], "doc_id long, payload binary")
    r = pdf_image_stats(dfp).collect()[0]
    assert r["decoded"] and r["n_px"] == w * h
    assert r["sum_px"] == sum(bits)
    b0 = b.replace(b"/BlackIs1 true ", b"")  # spec default: 0 = black
    r0 = pdf_image_stats(spark.createDataFrame(
        [(1, b0)], "doc_id long, payload binary")).collect()[0]
    assert r0["decoded"] and r0["sum_px"] == w * h - sum(bits)


def test_charset_sniffer_resolution_order_and_mojibake():
    """sniff_charset: BOM > Content-Type > <meta> (both forms) >
    strict-UTF-8 probe > latin-1; a hard-UTF-8 reader mojibakes the
    cp1252 page this decodes char-exact; lying declarations fall
    through to the probe."""
    from lwetl_spark.operators.media import sniff_charset as s

    # BOM wins over everything
    t, cs = s(b"\xef\xbb\xbf<meta charset=\"gbk\">ok")
    assert cs == "utf-8" and t.startswith("<meta")
    # http Content-Type wins over meta
    body = '<meta charset="utf-8">€'.encode("cp1252")
    t, cs = s(body, "text/html; charset=windows-1252")
    assert cs == "cp1252" and "€" in t
    # legacy http-equiv form resolves
    page = ('<html><head><meta http-equiv="Content-Type" content='
            '"text/html; charset=windows-1252"></head>'
            "<body>€ price \xff</body></html>")
    raw = page.encode("cp1252")
    t, cs = s(raw)
    assert cs == "cp1252" and "€ price \xff" in t
    # the mojibake check: hard-UTF-8 'replace' CANNOT recover it
    assert "€" not in raw.decode("utf-8", "replace")
    # gbk meta with CJK
    g = '<meta charset="gbk">页 page'.encode("gbk")
    t, cs = s(g)
    assert cs == "gbk" and "页" in t
    # undeclared valid utf-8 -> strict probe
    t, cs = s("plain Ω".encode("utf-8"))
    assert cs == "utf-8" and "Ω" in t
    # undeclared cp1252/latin-1 bytes -> latin-1 never fails
    t, cs = s(b"caf\xe9")
    assert cs == "latin-1" and t == "caf\xe9"
    # lying declaration whose decode fails falls through
    t, cs = s('<meta charset="gbk">ok €'.encode("utf-8"))
    assert cs == "utf-8" and t.endswith("€")
    # unknown charset name ignored
    t, cs = s(b'<meta charset="klingon-1">ok')
    assert cs == "utf-8"


def test_aac_adts_walk_truncation_and_sniff(spark):
    """ADTS census: CRC vs no-CRC framing, MPEG-2 id bit, exact
    duration; truncation keeps frames before the cut (valid=false);
    a mid-stream samplerate switch is a structural lie; the sniffer
    routes ADTS (not MP3) bytes to 'aac'."""
    from lwetl_spark.operators.media import (
        aac_bytes,
        aac_meta,
        sniff_format,
    )

    good = aac_bytes(1, 4, 2, [20, 25, 30])           # LC 44100 stereo
    crc = aac_bytes(2, 11, 1, [10] * 4, crc=True)     # SSR 8000 mono
    m2 = aac_bytes(0, 0, 3, [15] * 2, mpeg2=True)     # Main 96000
    trunc = aac_bytes(1, 4, 2, [20, 25, 30])[:-5]
    switch = bytearray(aac_bytes(1, 4, 2, [20, 20]))
    switch[27 + 2] ^= 0x04  # second frame's sr_idx flips a bit
    rows = [(1, good), (2, crc), (3, m2), (4, trunc),
            (5, bytes(switch)), (6, b"OggSnot")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in aac_meta(df).collect()}
    r = out[1]
    assert (r["profile"], r["sample_rate"], r["channels"]) == (1, 44100, 2)
    assert r["n_frames"] == 3 and r["valid"] and not r["crc"]
    assert r["duration_ms"] == 1000 * 1024 * 3 // 44100
    assert out[2]["crc"] and out[2]["n_frames"] == 4 \
        and out[2]["sample_rate"] == 8000 and out[2]["valid"]
    assert out[3]["mpeg2"] and out[3]["valid"]
    assert out[4]["valid"] is False and out[4]["n_frames"] == 2
    assert out[5]["valid"] is False and out[5]["n_frames"] == 1
    assert out[6]["profile"] is None and out[6]["valid"] is False
    sn = {r["doc_id"]: r["fmt"] for r in df.select(
        "doc_id", sniff_format("payload").alias("fmt")).collect()}
    assert sn[1] == "aac" and sn[2] == "aac" and sn[3] == "aac"
    assert sn[6] == "ogg"


def test_zstd_decode_zip_and_warc(spark):
    """zstd decodes since r11 via Arrow's bundled libzstd (SCALE.md
    r11 addendum 5): the sniffer routes the frame magic, a method-93
    ZIP member extracts CRC-verified, and .warc.zst (per-record
    frames behind a skippable dictionary-slot frame) walks
    identically to the plain shard.  Corruption keeps the
    partial-census contract: a corrupt member is ok=false, a corrupt
    tail frame keeps the intact leading records, a frame that DEMANDS
    a dictionary fails cleanly — never a crash, never a mis-decode."""
    from lwetl_spark.operators.media import (
        parse_warc,
        parse_zip,
        extract_zip_member,
        sniff_format,
        unzstd_members,
        warc_bytes,
        zip_bytes,
        zip_member_contents,
        zstd_bytes,
        zstd_frame_end,
    )

    df = spark.createDataFrame(
        [(1, b"\x28\xb5\x2f\xfd\x00\x00junk")],
        "doc_id long, payload binary")
    assert df.select(sniff_format("payload").alias("f")) \
        .collect()[0]["f"] == "zstd"

    # real method-93 member: extracts, CRC-verified, through the op
    data = bytes((7 * k) % 256 for k in range(300))
    z = zip_bytes([("a.bin", data, "zstd"), ("b.bin", b"plain", "stored")])
    out = {r["name"]: r for r in zip_member_contents(
        spark.createDataFrame([(1, z)], "doc_id long, payload binary"))
        .collect()}
    assert out["a.bin"]["method"] == "zstd" and out["a.bin"]["ok"]
    assert out["a.bin"]["byte_sum"] == sum(data)
    # corrupt the member's frame payload: ok=false, not a crash
    zb = bytearray(z)
    zb[z.index(b"\x28\xb5\x2f\xfd") + 9] ^= 0xFF
    assert extract_zip_member(
        bytes(zb), parse_zip(bytes(zb))["members"][0]) is None

    # .warc.zst: frame-per-record + skippable prefix == plain walk
    recs = [("response", "http://a/p", b"hello" * 9),
            ("request", "http://b/q", b"world" * 5)]
    plain, zstw = warc_bytes(recs), warc_bytes(recs, zst=True)
    skip = (b"\x50\x2a\x4d\x18" + (8).to_bytes(4, "little") + b"CCDICT00")
    assert parse_warc(skip + zstw) == parse_warc(plain)
    # truncated tail frame: record 0 survives, shard flagged
    e0 = zstd_frame_end(zstw, 0)
    assert e0 is not None
    r = parse_warc(zstw[: e0 + 10])
    assert len(r["records"]) == 1 and r["valid"] is False
    # a frame demanding a dictionary (DID flag set) fails cleanly:
    # descriptor 0x21 = single-segment + 1-byte dict id, FCS 1 byte
    dict_frame = (b"\x28\xb5\x2f\xfd\x21\x07\x05"
                  + b"\x09\x00\x00" + b"\x00")
    got, ok = unzstd_members(dict_frame)
    assert ok is False and got == b""
    # non-zstd input passes through unchanged
    assert unzstd_members(b"not zstd at all") == (b"not zstd at all", True)
    # multi-frame round-trip through the member inflater
    two = zstd_bytes(b"A" * 100) + zstd_bytes(b"B" * 50)
    assert unzstd_members(two) == (b"A" * 100 + b"B" * 50, True)


def test_ccitt_mh_g3_codec_and_tiff_legs(spark):
    """1-D Modified Huffman codec: round-trip in all three framings
    (plain / EOL-prefixed G3 / byte-aligned), spec-exact codes on a
    hand-computed row, zero-run loop guard; TIFF compressions 2 and 3
    decode through tiff_pixel_stats with exact bit stats."""
    import random

    from lwetl_spark.operators.media import (
        ccitt_mh_decode,
        ccitt_mh_encode,
        tiff_bytes,
        tiff_pixel_stats,
    )

    random.seed(5)
    for trial in range(20):
        w, h = random.randint(1, 50), random.randint(1, 20)
        bits = bytes(random.randint(0, 1) for _ in range(w * h))
        for eol, ba in ((False, False), (True, False), (False, True)):
            enc = ccitt_mh_encode(bits, w, eol=eol, byte_align=ba)
            assert ccitt_mh_decode(enc, w, h, eol=eol,
                                   byte_align=ba) == bits
    # white2 black3 white3 -> 0111 10 1000 (T.4 tables)
    enc = ccitt_mh_encode(bytes([0, 0, 1, 1, 1, 0, 0, 0]), 8)
    assert "".join(format(x, "08b") for x in enc).startswith(
        "0111" + "10" + "1000")
    # truncation fails cleanly
    full = ccitt_mh_encode(bytes(64), 8)
    assert ccitt_mh_decode(full[:1], 8, 8) is None
    # TIFF comps 2 and 3, strip-split, both byte orders
    rows = []
    for i, little in ((5, True), (6, False)):
        pages = [(21, 13, 1, 2, 5, 1, None), (15, 11, 1, 3, 11, 1, None)]
        rows.append((i, tiff_bytes(pages, little=little, seed=i)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in tiff_pixel_stats(df).collect()}
    for i in (5, 6):
        exp = sum(1 for p, (w, h) in enumerate(((21, 13), (15, 11)))
                  for r in range(h) for c in range(w)
                  if (i + 3 * r + c + 19 * p) % 23 < 11)
        assert out[i]["sum_px"] == exp, (i, out[i])
        assert out[i]["n_px"] == 21 * 13 + 15 * 11


def test_pdf_ccitt_k0_mh_leg(spark):
    """/CCITTFaxDecode /K 0 (pure 1-D MH rows) decodes through
    pdf_image_stats; /K 1 (mixed 2-D G3) stays honestly undecoded."""
    from lwetl_spark.operators.media import (
        ccitt_mh_encode,
        pdf_bytes,
        pdf_image_stats,
    )

    w, h = 13, 6
    bits = bytes(1 if (3 * r + c) % 7 < 3 else 0
                 for r in range(h) for c in range(w))
    blob = ccitt_mh_encode(bits, w)
    b = pdf_bytes(["cap"], images=[("CCITTFaxDecode", w, h, blob, 0),
                                   ("CCITTFaxDecode", w, h, blob, 1)])
    out = pdf_image_stats(spark.createDataFrame(
        [(1, b)], "doc_id long, payload binary")).collect()
    r0 = next(r for r in out if r["img_idx"] == 0)
    r1 = next(r for r in out if r["img_idx"] == 1)
    assert r0["decoded"] and r0["sum_px"] == sum(bits) \
        and r0["n_px"] == w * h
    assert r1["decoded"] is False and r1["filter"] == "CCITTFaxDecode"


def test_http_response_parts(spark):
    """HTTP message split: CRLF and bare-LF header framings, status
    parse, case-insensitive Content-Type, non-HTTP passthrough, and
    a headers-only message with no body separator."""
    from lwetl_spark.operators.media import http_response_parts

    rows = [
        (1, 0, b"HTTP/1.1 200 OK\r\nContent-Type: text/html;"
               b" charset=utf-8\r\n\r\n<p>a</p>"),
        (2, 1, b"HTTP/1.0 404 Not Found\ncontent-type: text/plain\n\n"
               b"gone"),
        (3, 2, b"<p>bare</p>"),
        (4, 3, b"HTTP/1.1 200 OK\r\nX-No-Body-Separator: 1"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, rec_idx long, payload binary")
    out = {r["doc_id"]: r for r in http_response_parts(df).collect()}
    assert out[1]["status"] == 200 and bytes(out[1]["body"]) == b"<p>a</p>"
    assert out[1]["content_type"] == "text/html; charset=utf-8"
    assert out[2]["status"] == 404 \
        and out[2]["content_type"] == "text/plain"
    assert bytes(out[2]["body"]) == b"gone"
    assert out[3]["status"] is None \
        and bytes(out[3]["body"]) == b"<p>bare</p>"
    # no separator: treated as non-HTTP passthrough (whole payload)
    assert out[4]["status"] is None
    assert bytes(out[4]["body"]).startswith(b"HTTP/1.1")


def test_warc_html_fixture_encodes_text_outside_the_page_codec(spark):
    """Text with '€' (not in gbk) and '页' (not in cp1252) yields one
    response per id on every codec leg; the character falls back to an
    HTML character reference that decodes to the original text."""
    import html

    from pyspark.sql import functions as F

    from lwetl_spark.operators.media import (
        http_response_parts,
        sniff_decode_html,
        synth_warc_html_demo,
        warc_payloads,
    )

    text = "price 5€ 页面"
    docs = spark.createDataFrame(
        [(i, text) for i in range(6)], "doc_id long, text string")
    resp = warc_payloads(synth_warc_html_demo(docs)).filter(
        F.col("rec_type") == "response")
    parts = http_response_parts(resp.select("doc_id", "rec_idx", "payload"))
    got = sniff_decode_html(
        parts.select("doc_id", "body", "content_type"),
        payload_col="body", content_type_col="content_type").collect()
    assert sorted(r["doc_id"] for r in got) == list(range(6))
    for r in got:
        assert text in html.unescape(r["html"]), (r["doc_id"], r["charset"])


def test_r11_decoder_fuzz_sweep(spark):
    """Seeded mutation fuzz over every r11 decode path (modern PDF,
    CCITT G4/MH/G3, ADTS, HTTP split + charset sniff, fax TIFF):
    flipped bytes, truncations, and injections must yield NULL /
    valid=false rows — never a failed task (the r10 sweep's contract,
    which caught a real JPEG task-killer)."""
    import random

    from lwetl_spark.operators.media import (
        aac_bytes,
        aac_meta,
        ccitt_g3mx_encode,
        ccitt_g4_encode,
        http_response_parts,
        pdf_bytes,
        pdf_image_stats,
        pdf_text,
        sniff_decode_html,
        tiff_bytes,
        tiff_pixel_stats,
        warc_bytes,
        warc_records,
        zip_bytes,
        zip_member_contents,
    )

    random.seed(1101)

    def mutate(b):
        bb = bytearray(b)
        op = random.randrange(3)
        if op == 0 and bb:
            for _ in range(random.randint(1, 5)):
                bb[random.randrange(len(bb))] ^= 1 << random.randrange(8)
        elif op == 1:
            bb = bb[: random.randrange(len(bb) + 1)]
        else:
            pos = random.randrange(len(bb) + 1)
            bb[pos:pos] = bytes(random.randint(0, 255)
                                for _ in range(random.randint(1, 8)))
        return bytes(bb)

    bits = bytes(1 if (3 * r + c) % 23 < 11 else 0
                 for r in range(12) for c in range(17))
    seeds = [
        pdf_bytes(["a", "b"], modern=True, predictor=True),
        pdf_bytes(["a"], images=[("CCITTFaxDecode", 17, 12,
                                  ccitt_g4_encode(bits, 17))]),
        tiff_bytes([(17, 12, 1, 2, 6, 1, None),
                    (17, 12, 1, 3, 12, 1, None)], seed=3),
        aac_bytes(1, 4, 2, [20] * 5, crc=True),
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html;"
        b" charset=gbk\r\n\r\n<p>\xd2\xb3</p>",
        # late-r11 paths: mixed 2-D G3 TIFF, /K 2 PDF image, zstd
        # WARC shard, zstd ZIP member
        tiff_bytes([(17, 12, 1, 3, 6, 1, None, 5)], seed=9),
        pdf_bytes(["k2"], images=[(
            "CCITTFaxDecode", 17, 12,
            ccitt_g3mx_encode(bits, 17, k=2), 2)]),
        warc_bytes([("response", "http://x/y", b"pay" * 9)], zst=True),
        zip_bytes([("a.bin", bytes(range(64)), "zstd")]),
    ]
    rows = [(i, mutate(seeds[i % len(seeds)])) for i in range(180)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    assert pdf_text(df).count() == 180
    assert pdf_image_stats(df).count() >= 180
    assert tiff_pixel_stats(df).count() == 180
    assert aac_meta(df).count() == 180
    assert warc_records(df).count() >= 180
    assert zip_member_contents(df).count() >= 180
    parts = http_response_parts(
        df.selectExpr("doc_id", "doc_id as rec_idx", "payload"))
    assert sniff_decode_html(
        parts.select("doc_id", "body", "content_type"),
        payload_col="body", content_type_col="content_type",
    ).count() == 180


def test_ccitt_g3_mixed_2d(spark):
    """Mixed 2-D G3 (T.4 §4.2.1 — TIFF compression 3 + T4Options
    bit 0, PDF CCITTFaxDecode /K > 0; late r11): EOL+tag rows mixing
    1-D MH rows with 2-D rows coded against the previous row.
    Round-trips at every k / byte-alignment, decodes bit-exactly
    through BOTH container paths, and fails cleanly on truncation."""
    import random

    from lwetl_spark.operators.media import (
        ccitt_g3mx_decode,
        ccitt_g3mx_encode,
        pdf_bytes,
        pdf_image_stats,
        tiff_bytes,
        tiff_pixel_stats,
    )

    random.seed(11)
    for _ in range(25):
        w, h = random.randint(1, 45), random.randint(1, 18)
        bits = bytes(random.randint(0, 1) for _ in range(w * h))
        for k in (1, 2, 4):
            for ba in (False, True):
                enc = ccitt_g3mx_encode(bits, w, k=k, byte_align=ba)
                assert ccitt_g3mx_decode(enc, w, h) == bits
    # hand-checked stream: row0 = EOL+tag1 then 1-D white2 black3
    # white3; row1 all-same -> EOL+tag0 then V0 codes
    bits2 = bytes([0, 0, 1, 1, 1, 0, 0, 0] * 2)
    enc = ccitt_g3mx_encode(bits2, 8, k=2)
    s = "".join(format(x, "08b") for x in enc)
    assert s.startswith("000000000001" + "1" + "0111" + "10" + "1000"
                        + "000000000001" + "0" + "111")
    # truncation / garbage fail cleanly
    full = ccitt_g3mx_encode(bytes([1, 0] * 32), 8, k=2)
    assert ccitt_g3mx_decode(full[: len(full) // 2], 8, 8) is None
    assert ccitt_g3mx_decode(b"\xff\xff", 8, 4) is None

    # TIFF: comp-3 pages with T4Options 1 and 5, strip- and
    # tile-framed, both byte orders — exact bit stats
    exp = {}
    rows = []
    for i, little in ((9, True), (10, False)):
        pages = [(19, 12, 1, 3, 6, 1, None, 1),
                 (14, 9, 1, 3, 9, 1, (6, 4), 5)]
        rows.append((i, tiff_bytes(pages, little=little, seed=i)))
        n = s_ = 0
        for p, (w, h) in enumerate(((19, 12), (14, 9))):
            for r in range(h):
                for c in range(w):
                    v = 1 if (i + 3 * r + c + 19 * p) % 23 < 11 else 0
                    n += 1
                    s_ += v
        exp[i] = (n, s_)
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in tiff_pixel_stats(df).collect()}
    for i in (9, 10):
        assert (out[i]["n_px"], out[i]["sum_px"]) == exp[i], i

    # PDF: /K 2 image decodes through pdf_image_stats (BlackIs1)
    w, h = 11, 7
    pbits = bytes(1 if (3 * r + c) % 5 < 2 else 0
                  for r in range(h) for c in range(w))
    pdf = pdf_bytes(["cap"], images=[(
        "CCITTFaxDecode", w, h,
        ccitt_g3mx_encode(pbits, w, k=2, byte_align=True), 2)])
    row = pdf_image_stats(spark.createDataFrame(
        [(1, pdf)], "doc_id long, payload binary")).collect()[0]
    assert row["decoded"] and row["n_px"] == w * h
    assert row["sum_px"] == sum(pbits)


def test_http_wire_decodings(spark):
    """Transfer-Encoding: chunked de-chunks (extensions tolerated,
    trailers ignored, malformed framing keeps the chunks before the
    lie with ok=false); Content-Encoding gzip / raw-deflate / br
    inflate; unknown codings leave the body raw flagged; stacked
    chunked+gzip applies in wire order."""
    import zlib

    import pyarrow as pa

    from lwetl_spark.operators.media import http_response_parts

    gz = zlib.compressobj(6, zlib.DEFLATED, 31)
    gz_body = gz.compress(b"<p>zipped</p>") + gz.flush()
    raw_def = zlib.compressobj(6, zlib.DEFLATED, -15)
    rd_body = raw_def.compress(b"<p>raw-deflate</p>") + raw_def.flush()
    br_body = pa.Codec("brotli").compress(b"<p>brotli</p>",
                                          asbytes=True)

    def chunked(b: bytes) -> bytes:
        out = b""
        for p in range(0, len(b), 5):
            out += b"%x\r\n" % len(b[p:p + 5]) + b[p:p + 5] + b"\r\n"
        return out + b"0\r\nX-Trailer: t\r\n\r\n"

    rows = [
        (1, b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            + chunked(b"<p>in chunks</p>")),
        (2, b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
            + gz_body),
        (3, b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
            + rd_body),
        (4, b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n"
            + br_body),
        (5, b"HTTP/1.1 200 OK\r\nContent-Encoding: zstd9\r\n\r\n"
            b"mystery-bytes"),
        # malformed chunk size after one good chunk
        (6, b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"4\r\ngood\r\nZZ\r\nbad"),
        # chunked THEN gzip (wire order: un-chunk first, then inflate)
        (7, b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
            b"Content-Encoding: gzip\r\n\r\n" + chunked(gz_body)),
    ]
    df = spark.createDataFrame(
        [(i, i, b) for i, b in rows],
        "doc_id long, rec_idx long, payload binary")
    out = {r["doc_id"]: r for r in http_response_parts(df).collect()}
    assert bytes(out[1]["body"]) == b"<p>in chunks</p>"
    assert out[1]["encoding"] == "chunked" and out[1]["body_ok"]
    assert bytes(out[2]["body"]) == b"<p>zipped</p>"
    assert out[2]["encoding"] == "gzip" and out[2]["body_ok"]
    assert bytes(out[3]["body"]) == b"<p>raw-deflate</p>"
    assert out[3]["body_ok"]
    assert bytes(out[4]["body"]) == b"<p>brotli</p>"
    assert out[4]["encoding"] == "br" and out[4]["body_ok"]
    assert bytes(out[5]["body"]) == b"mystery-bytes"
    assert out[5]["body_ok"] is False
    assert bytes(out[6]["body"]) == b"good"      # partial, flagged
    assert out[6]["body_ok"] is False
    assert bytes(out[7]["body"]) == b"<p>zipped</p>"
    assert out[7]["encoding"] == "chunked,gzip" and out[7]["body_ok"]


# ------------------------------------------------------------------ #
# r11 optimization round: focused tests for changed internals         #
# ------------------------------------------------------------------ #

def test_tiff_lzw_bytes_table_rewrite_roundtrips():
    """The r11-optimized LZW decoder (bytes-valued table, masked
    accumulator) must stay bit-faithful: encode→decode round-trips
    across sizes/alphabets in both the TIFF (n given) and PDF
    (decode-to-EOI) modes, table-reset streams included, and the
    structural guards (shortfall, truncation, early EOI) still refuse."""
    import random

    from lwetl_spark.operators.media import _make_tiff_lzw

    dec, enc = _make_tiff_lzw()
    rng = random.Random(11)
    for trial in range(60):
        n = rng.randint(0, 6000)  # >4094 codes forces a mid-stream Clear
        alphabet = range(4) if trial % 2 else range(256)
        data = bytes(rng.choices(alphabet, k=n))
        e = enc(data)
        assert dec(e, n) == data
        # None (PDF) mode: round-trips except on the pre-existing r10
        # encoder edge where the FINAL data code lands exactly on the
        # width-bump boundary (encoder bumps at next_code == 2^w, the
        # decoder one code earlier), so the trailing EOI is written one
        # bit narrower than it is read and the decoder refuses — the
        # r11 rewrite reproduces that refusal bit-exactly (differential
        # fuzz vs the r10 decoder: 0 mismatches over 6,400 vectors)
        assert dec(e, None) in (data, None)
        assert dec(e, n + 1) is None  # shortfall guard
        if n:
            # inherited r10 semantics, preserved bit-exactly by the
            # rewrite: asking for n-1 stops the decode at the entry
            # boundary — either the exact prefix (boundary hit) or
            # None (a multi-byte entry crossed it mid-entry)
            short = dec(e, n - 1)
            assert short is None or short == data[: n - 1]
    # truncated stream: never returns bytes of the wrong length
    data = bytes(rng.choices(range(8), k=512))
    e = enc(data)
    assert dec(e[: len(e) // 2], 512) is None


def test_spread_helper_is_conditional(spark):
    """operators/_parallel.spread: widens a single-partition frame to
    the session parallelism and leaves an already-wide frame untouched
    (no extra exchange at real scale), without changing rows."""
    from lwetl_spark.operators._parallel import spread

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    wide = spread(narrow)
    assert wide.rdd.getNumPartitions() == max(target, 1)
    assert sorted(r["id"] for r in wide.collect()) == list(range(1000))

    already = spark.range(1000).repartition(target + 4)
    assert spread(already) is already


def test_jpeg_huffman_lut_decoder_paths():
    """r11 fast-path rewrite of the JPEG entropy decoder (buffered bit
    reader + 2-level Huffman LUT): pixel decode stays bit-exact on
    every encoder shape, a corrupt DHT whose code counter overflows
    2^len yields None (not an IndexError from the LUT expansion), and
    restart-marker streams decode through the buffered reader."""
    from lwetl_spark.operators.media import (
        _make_jpeg_decoder,
        jpeg_baseline_bytes as enc,
    )

    dec = _make_jpeg_decoder()

    def coeffs(nb, i, top=13):
        return [((i + 17 * b) % 112 - 56, (i + 5 * b) % top)
                for b in range(nb)]

    w, h = 40, 24
    nb = ((w + 7) // 8) * ((h + 7) // 8)
    # oracle pixels from the fixture's closed form: block b carries
    # dc=(i+17b)%112-56 via qdc=8 -> every pixel of an AC-free block
    # is 128 + dc*... -- instead of replaying IDCT math, pin against a
    # restart-interval re-encode of the SAME coefficients: identical
    # coefficients must decode to identical pixels whichever framing
    # carried them (exercises _BR.restart on the buffered reader).
    import numpy as np

    for i in (0, 3, 11):
        plain = dec(enc(w, h, coeffs(nb, i)))
        rst = dec(enc(w, h, coeffs(nb, i), restart_interval=2))
        assert plain is not None and rst is not None
        assert np.array_equal(plain, rst)

    # >8-bit Huffman codes take the longd fallback: the fixture AC
    # table carries 16-bit codes for rare symbols -- progressive color
    # scans hit them; a decode returning an array proves the path
    prog = dec(enc.progressive(w, h, coeffs(nb, 5)))
    assert prog is not None and prog.shape == (h, w)

    # corrupt DHT: inflate a BITS entry so the canonical code counter
    # overflows 2^len mid-table -- the decoder must return None
    b = bytearray(enc(w, h, coeffs(nb, 1)))
    at = b.find(bytes([0xFF, 0xC4]))
    assert at > 0
    # DHT payload: [tc/th][BITS x16][vals...]; set BITS[1] (2-bit codes)
    # to 255 declared symbols -- far past the 4 codes 2 bits can hold
    b[at + 5] = 255
    assert dec(bytes(b)) is None
