"""Real media-container operators (operators/media): generator
validity (independent byte checks incl. zlib IDAT round-trip), JVM
sniff/dims == Arrow walker parity, corruption detection, and the
one-bad-file-never-kills-a-batch contract."""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import functions as F


def test_png_generator_is_a_real_png():
    """Independent byte-level check: signature, IHDR fields, CRCs, and
    a zlib-decompressible IDAT whose raw size matches the dims."""
    from lwetl_spark.operators.media import png_bytes

    b = png_bytes(7, 3)
    assert b[:8] == b"\x89PNG\r\n\x1a\n"
    ihdr_len = struct.unpack(">I", b[8:12])[0]
    assert ihdr_len == 13 and b[12:16] == b"IHDR"
    w, h = struct.unpack(">II", b[16:24])
    assert (w, h) == (7, 3)
    # IHDR CRC checks out
    assert struct.unpack(">I", b[29:33])[0] == zlib.crc32(b[12:29]) & 0xFFFFFFFF
    # IDAT decompresses to h scanlines of (1 filter byte + w pixels)
    idat_len = struct.unpack(">I", b[33:37])[0]
    assert b[37:41] == b"IDAT"
    raw = zlib.decompress(b[41 : 41 + idat_len])
    assert len(raw) == 3 * (1 + 7)
    assert b.endswith(b"IEND\xaeB`\x82")


def test_wav_generator_is_a_real_wav():
    from lwetl_spark.operators.media import wav_bytes

    b = wav_bytes(16000, 2, 100)
    assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
    assert struct.unpack("<I", b[4:8])[0] == len(b) - 8
    fmt = struct.unpack("<HHIIHH", b[20:36])
    assert fmt[0] == 1 and fmt[1] == 2 and fmt[2] == 16000 and fmt[5] == 16
    assert b[36:40] == b"data"
    assert struct.unpack("<I", b[40:44])[0] == 100 * 2 * 2


def test_sniff_and_jvm_dims_match_arrow_walker(spark):
    """The JVM sniffer and pure-expression PNG dims must agree with the
    Arrow container walker on every payload of the demo fixture."""
    from lwetl_spark.operators.media import (
        media_meta,
        png_dims,
        sniff_format,
        synth_media_demo,
    )

    ids = spark.range(200).select(F.col("id").alias("doc_id"))
    media = synth_media_demo(ids).localCheckpoint(eager=True)
    meta = {r["doc_id"]: r for r in media_meta(media).collect()}
    sniffed = {
        r["doc_id"]: r["fmt"]
        for r in media.select("doc_id", sniff_format("payload").alias("fmt")).collect()
    }
    assert all(sniffed[i] == meta[i]["fmt"] for i in sniffed)
    w, h = png_dims("payload")
    jvm = {
        r["doc_id"]: (r["w"], r["h"])
        for r in media.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", w.alias("w"), h.alias("h"))
        .collect()
    }
    for i, (wv, hv) in jvm.items():
        assert (wv, hv) == (meta[i]["width"], meta[i]["height"])
        assert (wv, hv) == (1 + i % 64, 1 + i % 32)
    # WAV geometry: exact-integer duration
    for i, r in meta.items():
        if i % 5 == 2:
            rate = 8000 + 1000 * (i % 8)
            n = 64 + i % 50
            assert r["sample_rate"] == rate and r["n_samples"] == n
            assert r["duration_ms"] == 1000 * n // rate
            assert r["valid"]
        if i % 5 == 3:  # the r8 video leg routes through the same pass
            assert r["fmt"] == "mp4" and r["valid"]
            assert (r["width"], r["height"]) == (
                160 + 16 * (i % 28), 90 + 9 * (i % 20)
            )
            assert r["duration_ms"] == 500 + i % 4000
            if i % 7 != 0:
                assert r["sample_rate"] == 8000 + 1000 * (i % 8)
                assert r["n_samples"] == 400 + i % 600
            else:  # video-only files carry no audio geometry
                assert r["sample_rate"] is None and r["n_samples"] is None
        if i % 5 == 4:
            assert r["fmt"] == "unknown" and r["valid"] is False


def test_corrupt_payloads_detected_not_fatal(spark):
    """Truncated PNG (no IEND), mangled JPEG (no EOI), and RIFF with a
    wrong size all come back valid=false with their fmt still sniffed;
    an empty payload is unknown — nothing raises."""
    from lwetl_spark.operators.media import (
        jpeg_bytes,
        media_meta,
        png_bytes,
        wav_bytes,
    )

    png_trunc = png_bytes(5, 5)[:-12]          # IEND gone
    jpeg_noeoi = jpeg_bytes(8, 8)[:-2]         # EOI gone
    wav_bad = bytearray(wav_bytes(8000, 1, 10))
    wav_bad[4:8] = struct.pack("<I", 999)      # RIFF size lies
    rows = [
        (1, bytes(png_trunc)), (2, bytes(jpeg_noeoi)),
        (3, bytes(wav_bad)), (4, b""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in media_meta(df).collect()}
    assert out[1]["fmt"] == "png" and out[1]["valid"] is False
    assert (out[1]["width"], out[1]["height"]) == (5, 5)  # dims still parse
    assert out[2]["fmt"] == "jpeg" and out[2]["valid"] is False
    assert out[3]["fmt"] == "wav" and out[3]["valid"] is False
    assert out[3]["sample_rate"] == 8000
    assert out[4]["fmt"] == "unknown" and out[4]["valid"] is False


def test_sub_byte_wav_bits_never_kills_batch(spark):
    """ADVICE r8: a WAV advertising a sub-byte sample width (real-world
    IMA/ADPCM files say bits_per_sample=4) used to ZeroDivisionError in
    media_meta's geometry math and kill the whole Arrow batch.  It must
    come back fmt='wav', valid=false, geometry NULL — and not disturb
    its batch neighbors."""
    from lwetl_spark.operators.media import media_meta, wav_bytes

    adpcm = bytearray(wav_bytes(8000, 1, 10))
    # fmt chunk payload starts at offset 20; bits_per_sample at +14
    adpcm[34:36] = struct.pack("<H", 4)
    rows = [(1, bytes(adpcm)), (2, wav_bytes(16000, 2, 5))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in media_meta(df).collect()}
    assert out[1]["fmt"] == "wav" and out[1]["valid"] is False
    assert out[1]["n_samples"] is None and out[1]["duration_ms"] is None
    assert out[1]["sample_rate"] == 8000 and out[1]["channels"] == 1
    assert out[2]["valid"] is True and out[2]["n_samples"] == 5


def _png_with_filters(pixels, filters):
    """Test-side PNG encoder applying a chosen filter per row — exercises
    the decoder's full reconstruction (None/Sub/Up/Average/Paeth)."""
    h = len(pixels)
    w = len(pixels[0])

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    lines = []
    prev = [0] * w
    for r in range(h):
        raw = pixels[r]
        f = filters[r % len(filters)]
        if f == 0:
            filt = list(raw)
        elif f == 1:
            filt = [(raw[c] - (raw[c - 1] if c else 0)) & 0xFF for c in range(w)]
        elif f == 2:
            filt = [(raw[c] - prev[c]) & 0xFF for c in range(w)]
        elif f == 3:
            filt = [
                (raw[c] - (((raw[c - 1] if c else 0) + prev[c]) // 2)) & 0xFF
                for c in range(w)
            ]
        else:  # paeth
            filt = []
            for c in range(w):
                a = raw[c - 1] if c else 0
                b = prev[c]
                cc = prev[c - 1] if c else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                filt.append((raw[c] - pred) & 0xFF)
        lines.append(bytes([f]) + bytes(filt))
        prev = raw
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


def test_png_pixel_decode_all_filters(spark):
    """The decoder must reconstruct the SAME pixels no matter which
    scanline filters the encoder chose — pinned by encoding one image
    five ways (None/Sub/Up/Average/Paeth per-row mixes) and comparing
    exact stats."""
    from lwetl_spark.operators.media import png_pixel_stats

    pixels = [
        [(11 + 7 * r + 13 * c) % 256 for c in range(9)] for r in range(6)
    ]
    want = (
        9, 6, 54, sum(sum(row) for row in pixels),
        min(min(r) for r in pixels), max(max(r) for r in pixels),
    )
    variants = [
        _png_with_filters(pixels, [0]),
        _png_with_filters(pixels, [1]),
        _png_with_filters(pixels, [2]),
        _png_with_filters(pixels, [3]),
        _png_with_filters(pixels, [4]),
        _png_with_filters(pixels, [0, 1, 2, 3, 4]),
    ]
    df = spark.createDataFrame(
        list(enumerate(variants)), "doc_id long, payload binary"
    )
    rows = png_pixel_stats(df).collect()
    assert len(rows) == 6
    for r in rows:
        got = (r["width"], r["height"], r["n_px"], r["sum_px"],
               r["min_px"], r["max_px"])
        assert got == want, (r["doc_id"], got, want)


def test_wav_pcm_stats_hand_checked(spark):
    from lwetl_spark.operators.media import wav_pcm_bytes, wav_pcm_stats

    samples = [0, 100, -200, 32767, -32768, 5]
    df = spark.createDataFrame(
        [(1, wav_pcm_bytes(8000, samples))], "doc_id long, payload binary"
    )
    r = wav_pcm_stats(df).collect()[0]
    assert r["n_samples"] == 6
    assert r["peak"] == 32768          # |−32768|
    assert r["sum_abs"] == sum(abs(s) for s in samples)
    assert r["n_clipped"] == 2         # 32767 and −32768


def test_mp4_generator_is_a_real_isobmff():
    """Independent byte-level check of the MP4 generator: box sizes
    tile the file exactly, ftyp leads, moov carries mvhd + traks, and
    the 16.16 fixed-point fields hold the requested values at the
    spec's offsets."""
    from lwetl_spark.operators.media import mp4_bytes

    b = mp4_bytes(1500, width=320, height=240, sample_rate=44100,
                  channels=2, n_samples=999, brand=b"mp42")
    # top-level boxes tile the buffer exactly
    pos, tags = 0, []
    while pos < len(b):
        size = struct.unpack(">I", b[pos : pos + 4])[0]
        tags.append(b[pos + 4 : pos + 8])
        assert size >= 8 and pos + size <= len(b)
        pos += size
    assert pos == len(b)
    assert tags == [b"ftyp", b"moov", b"mdat"]
    assert b[8:12] == b"mp42"  # major brand
    # mvhd: timescale 1000 at payload offset 8, duration at 12
    i = b.index(b"mvhd")
    assert struct.unpack(">II", b[i + 16 : i + 24]) == (1000, 1500)
    # the audio sample entry carries rate as 16.16 fixed
    j = b.index(b"mp4a")
    rate = struct.unpack(">I", b[j + 28 : j + 32])[0] >> 16
    assert rate == 44100


def test_mp4_corruption_detected_not_fatal(spark):
    """Truncated moov, a box whose size overruns its parent, and a
    largesize lie all come back fmt='mp4' valid=false (partial census
    kept) — and never raise inside the Arrow batch."""
    from lwetl_spark.operators.media import media_meta, mp4_bytes, mp4_meta

    good = mp4_bytes(2000, width=64, height=48, sample_rate=8000,
                     n_samples=80)
    trunc = good[:-40]                      # cuts into moov/mdat
    size_lie = bytearray(good)
    size_lie[0:4] = struct.pack(">I", 2 ** 31)  # ftyp claims 2 GiB
    rows = [(1, bytes(good)), (2, bytes(trunc)), (3, bytes(size_lie)),
            (4, b"\x00\x00\x00\x08ftyp")]   # ftyp with empty payload
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in media_meta(df).collect()}
    assert out[1]["fmt"] == "mp4" and out[1]["valid"] is True
    assert out[1]["duration_ms"] == 2000
    assert out[2]["fmt"] == "mp4" and out[2]["valid"] is False
    assert out[3]["valid"] is False
    assert out[4]["fmt"] == "mp4" and out[4]["valid"] is False

    full = {r["doc_id"]: r for r in mp4_meta(df).collect()}
    assert full[1]["brand"] == "isom" and full[1]["n_tracks"] == 2
    assert full[1]["v_codec"] == "avc1" and full[1]["a_codec"] == "mp4a"
    assert full[2]["valid"] is False


def test_mp4_video_only_and_audio_only(spark):
    """Single-medium MP4s parse with the absent medium's fields NULL —
    the n_tracks census distinguishes them."""
    from lwetl_spark.operators.media import mp4_bytes, mp4_meta

    rows = [
        (1, mp4_bytes(1000, width=160, height=90, v_codec=b"hev1")),
        (2, mp4_bytes(3000, sample_rate=16000, channels=1,
                      n_samples=48000, a_codec=b"opus")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in mp4_meta(df).collect()}
    v, a = out[1], out[2]
    assert v["n_tracks"] == 1 and v["v_codec"] == "hev1"
    assert (v["width"], v["height"]) == (160, 90)
    assert v["a_codec"] is None and v["sample_rate"] is None
    assert a["n_tracks"] == 1 and a["a_codec"] == "opus"
    assert (a["sample_rate"], a["n_samples"]) == (16000, 48000)
    assert a["v_codec"] is None and a["width"] is None
    assert v["valid"] and a["valid"]


def test_jpeg_baseline_encoder_emits_real_entropy_stream():
    """Independent byte check: the r8 JPEG generator writes DQT, SOF0,
    DHT (both table classes), SOS and a non-empty entropy segment —
    a real T.81 baseline stream, not a header shell."""
    from lwetl_spark.operators.media import jpeg_baseline_bytes

    b = jpeg_baseline_bytes(16, 8, [(5, 3), (-40, 0)])
    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in b
    # DHT carries a class-0 (DC) and a class-1 (AC) table
    i = b.index(b"\xff\xc4")
    seg = b[i + 4 : i + 2 + struct.unpack(">H", b[i + 2 : i + 4])[0]]
    assert seg[0] == 0x00
    assert 0x10 in seg[17:]
    # entropy data exists between SOS header and EOI
    j = b.index(b"\xff\xda")
    sos_len = struct.unpack(">H", b[j + 2 : j + 4])[0]
    assert len(b) - (j + 2 + sos_len) - 2 > 0


def test_jpeg_pixel_decode_hand_checked_blocks():
    """Decode a hand-built two-block image: block 0 (dc=5, ac=3) must
    reconstruct rows 128+5±3 with the spec's cos((2y+1)4π/16) sign
    pattern; block 1 (dc=-40) is flat 88 — and the DC PREDICTION chain
    (diff = -45 across the block boundary) must carry."""
    import numpy as np

    from lwetl_spark.operators.media import decode_jpeg, jpeg_baseline_bytes

    px = decode_jpeg(jpeg_baseline_bytes(16, 8, [(5, 3), (-40, 0)]))
    assert px.shape == (8, 16)
    sign = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    assert (px[:, :8] == (133 + 3 * sign)[:, None]).all()
    assert (px[:, 8:] == 88).all()


def test_jpeg_pixel_stats_crop_corruption_and_scope(spark):
    """jpeg_pixel_stats crops to the SOF dims (21×12 with 8×8 blocks),
    NULLs truncated entropy data and progressive frames, and never
    kills the batch."""
    from lwetl_spark.operators.media import (
        jpeg_fixture_bytes,
        jpeg_pixel_stats,
    )

    good = jpeg_fixture_bytes(21, 12, 37)
    trunc = good[:-6]
    prog = bytearray(jpeg_fixture_bytes(8, 8, 1))
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2  # claim progressive
    rows = [(1, bytes(good)), (2, bytes(trunc)), (3, bytes(prog))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in jpeg_pixel_stats(df).collect()}
    g = out[1]
    assert (g["width"], g["height"], g["n_px"]) == (21, 12, 252)
    # recompute the fixture arithmetic independently
    bxn = (21 + 7) // 8
    total = 0
    mn, mx = 10**9, -(10**9)
    for y in range(12):
        for x in range(21):
            b = (y // 8) * bxn + (x // 8)
            d = (37 + 17 * b) % 112 - 56
            a = (37 + 5 * b) % 13
            v = 128 + d + (a if y % 8 in (0, 3, 4, 7) else -a)
            total += v
            mn, mx = min(mn, v), max(mx, v)
    assert (g["sum_px"], g["min_px"], g["max_px"]) == (total, mn, mx)
    assert out[2]["n_px"] is None and out[3]["n_px"] is None


def test_exif_meta_both_endiannesses_and_corruption(spark):
    """exif_meta parses II and MM TIFF structures, normalizes dims for
    orientations >= 5, and treats a mangled APP1 (bad magic, truncated
    IFD) or a missing APP1 as valid=false with SOF dims kept."""
    from lwetl_spark.operators.media import (
        exif_app1_bytes,
        exif_meta,
        jpeg_baseline_bytes,
    )

    base = jpeg_baseline_bytes(24, 16, [(0, 0)] * 6)

    def with_app1(seg):
        return base[:2] + seg + base[2:]

    ok_le = with_app1(exif_app1_bytes(1, "2021:02:03 04:05:06", little=True))
    ok_be = with_app1(exif_app1_bytes(6, "2019:12:31 23:59:58", little=False))
    bad_magic = bytearray(
        with_app1(exif_app1_bytes(3, "2020:01:01 00:00:00")))
    bad_magic[bad_magic.index(b"Exif\x00\x00") + 8] = 99  # magic != 42
    # APP1 whose TIFF body ends after the header — IFD0 offset points
    # past the data (honest truncation, consistent length field)
    full = exif_app1_bytes(3, "2020:01:01 00:00:00")
    cut_payload = full[4:18]  # "Exif\x00\x00" + 8-byte TIFF header only
    trunc_ifd = with_app1(
        b"\xff\xe1" + struct.pack(">H", 2 + len(cut_payload)) + cut_payload)
    rows = [(1, ok_le), (2, ok_be), (3, bytes(bad_magic)),
            (4, bytes(trunc_ifd)), (5, base)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in exif_meta(df).collect()}
    le, be = out[1], out[2]
    assert le["byte_order"] == "II" and le["orientation"] == 1
    assert le["taken_at"] == "2021:02:03 04:05:06"
    assert (le["norm_width"], le["norm_height"]) == (24, 16)  # no swap
    assert be["byte_order"] == "MM" and be["orientation"] == 6
    assert (be["norm_width"], be["norm_height"]) == (16, 24)  # transposed
    for k in (3, 4, 5):
        assert out[k]["valid"] is False
        assert (out[k]["width"], out[k]["height"]) == (24, 16)  # SOF kept
        assert out[k]["orientation"] is None


def test_mp4_frame_index_exact_ranges_and_fallbacks(spark):
    """mp4_frame_index recovers each frame's exact byte range from the
    sample table (slice == generated frame, byte sums prove it), maps
    stss to keyframe flags and stts to integer pts; payloads without a
    video sample table or with a lying stco yield no rows — never a
    task failure."""
    from lwetl_spark.operators.media import (
        mp4_bytes,
        mp4_frame_index,
        mp4_sample_index,
    )

    frames = [bytes((7 * k + 31 * j) % 256 for k in range(20 + 3 * j))
              for j in range(5)]
    good = mp4_bytes(1500, width=64, height=48, frames=frames, key_every=2)
    no_table = mp4_bytes(1000, width=8, height=8)
    lying = bytearray(good)
    i = lying.index(b"stco")
    lying[i + 8 : i + 12] = struct.pack(">I", len(good))  # offset past EOF
    rows = [(1, bytes(good)), (2, bytes(no_table)), (3, bytes(lying))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = mp4_frame_index(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1}
    got = sorted(by_doc[1], key=lambda r: r["frame_idx"])
    assert len(got) == 5
    delta = 1500 // 5
    rel = 0
    for j, r in enumerate(got):
        assert r["pts_ms"] == j * delta
        assert r["size"] == len(frames[j])
        assert r["rel_offset"] == rel
        assert r["is_key"] == (j % 2 == 0)
        assert r["byte_sum"] == sum(frames[j])
        rel += len(frames[j])
    # the sample walker agrees byte-for-byte with the generator
    idx = mp4_sample_index(good)
    for j, (off, sz) in enumerate(zip(idx["offsets"], idx["sizes"])):
        assert good[off : off + sz] == frames[j]


def test_webp_all_variants_and_corruption(spark):
    """media_meta parses all three WebP bitstream variants (VP8 lossy
    keyframe header, VP8L packed dims, VP8X canvas) and flags a lying
    RIFF size while keeping the parsed dims; the JVM sniffer agrees."""
    from lwetl_spark.operators.media import media_meta, sniff_format, webp_bytes

    lossy = webp_bytes(320, 240, "vp8")
    lossless = webp_bytes(17, 31, "vp8l")
    extended = webp_bytes(4000, 3000, "vp8x")
    lying = bytearray(webp_bytes(64, 64, "vp8"))
    lying[4:8] = struct.pack("<I", 9999)
    rows = [(1, lossy), (2, lossless), (3, extended), (4, bytes(lying))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in media_meta(df).collect()}
    assert all(out[k]["fmt"] == "webp" for k in (1, 2, 3, 4))
    assert (out[1]["width"], out[1]["height"]) == (320, 240)
    assert (out[2]["width"], out[2]["height"]) == (17, 31)
    assert (out[3]["width"], out[3]["height"]) == (4000, 3000)
    assert out[1]["valid"] and out[2]["valid"] and out[3]["valid"]
    assert out[4]["valid"] is False and out[4]["width"] == 64
    sniffed = {
        r["doc_id"]: r["fmt"]
        for r in df.select("doc_id", sniff_format("payload").alias("fmt")).collect()
    }
    assert all(v == "webp" for v in sniffed.values())


def test_video_fingerprint_ignores_container_catches_content(spark):
    """Frame-level video dedup: two payloads with identical frames but
    different containers (dims, brand, duration) share a fingerprint;
    one changed frame byte splits it."""
    from lwetl_spark.operators.media import mp4_bytes, video_fingerprint

    frames = [bytes((7 * k + 3 * j) % 256 for k in range(30 + j))
              for j in range(4)]
    remuxed = mp4_bytes(9000, width=1280, height=720, brand=b"mp42",
                        frames=frames)
    original = mp4_bytes(1000, width=640, height=360, frames=frames)
    tweaked_frames = [bytearray(f) for f in frames]
    tweaked_frames[2][5] ^= 1
    tweaked = mp4_bytes(1000, width=640, height=360,
                        frames=[bytes(f) for f in tweaked_frames])
    df = spark.createDataFrame(
        [(1, original), (2, remuxed), (3, tweaked)],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in video_fingerprint(df).collect()}
    assert out[1]["fingerprint"] == out[2]["fingerprint"]
    assert out[1]["fingerprint"] != out[3]["fingerprint"]
    assert out[1]["n_frames"] == 4


def test_png_thumbnails_real_roundtrip(spark):
    """png_thumbnails: decode → NN resample → re-encode produces a REAL
    PNG whose pixels are exactly the sampled source pixels (verified by
    an independent stdlib decode of the emitted thumbnail); undecodable
    payloads come back ok=false."""
    import zlib as _zlib

    from lwetl_spark.operators.media import png_bytes_pattern, png_thumbnails

    src = png_bytes_pattern(10, 6, seed=5)  # pixel(r,c) = (5+7r+13c)%256
    rows = [(1, src), (2, b"not a png")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in png_thumbnails(df, 4, 4).collect()}
    assert out[2]["ok"] is False and out[2]["thumb"] is None
    t = bytes(out[1]["thumb"])
    # independent decode: signature, dims, filter-0 scanlines
    assert t[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", t[16:24])
    assert (w, h) == (4, 4)
    idat_len = struct.unpack(">I", t[33:37])[0]
    raw = _zlib.decompress(t[41 : 41 + idat_len])
    for r in range(4):
        line = raw[r * 5 : (r + 1) * 5]
        assert line[0] == 0
        for c in range(4):
            sr, sc = (r * 6) // 4, (c * 10) // 4
            assert line[1 + c] == (5 + 7 * sr + 13 * sc) % 256


def test_wav_downsample_real_roundtrip(spark):
    """wav_downsample (raw fir=False leg) keeps every k-th FRAME
    (stereo frames stay aligned) and re-encodes a spec-valid WAV; an
    independent stdlib decode of the output verifies both; undecodable
    payloads flag ok=false."""
    from lwetl_spark.operators.media import wav_downsample, wav_pcm_bytes

    # stereo: interleave L=j*10, R=-(j*10) for 12 frames
    inter = []
    for j in range(12):
        inter += [j * 10, -(j * 10)]
    src = wav_pcm_bytes(8000, inter, channels=2)
    rows = [(1, src), (2, b"nope")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r
           for r in wav_downsample(df, factor=3, fir=False).collect()}
    assert out[2]["ok"] is False
    r = out[1]
    assert r["ok"] and r["sample_rate"] == 8000 // 3 and r["n_samples"] == 4
    b = bytes(r["resampled"])
    assert b[:4] == b"RIFF" and struct.unpack("<I", b[4:8])[0] == len(b) - 8
    ch, rate = struct.unpack("<HI", b[22:28])
    assert (ch, rate) == (2, 8000 // 3)
    data = b[44:]
    got = struct.unpack(f"<{len(data)//2}h", data)
    # frames 0, 3, 6, 9 survive with L/R intact
    assert list(got) == [0, 0, 30, -30, 60, -60, 90, -90]


def test_mp3_census_id3_skip_and_corruption(spark):
    """mp3_meta skips ID3v2 via the syncsafe size, walks CBR frames to
    EOF, censuses a truncated stream with valid=false, and rejects
    non-MP3 bytes."""
    from lwetl_spark.operators.media import mp3_bytes, mp3_meta

    tagged = mp3_bytes(14, 0, 10, id3_payload=bytes(100))  # 320kbps 44.1k
    bare = mp3_bytes(9, 1, 3)                              # 128kbps 48k
    trunc = mp3_bytes(9, 1, 3)[:-5]
    rows = [(1, tagged), (2, bare), (3, trunc), (4, b"RIFFxxxxWAVE")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in mp3_meta(df).collect()}
    t = out[1]
    assert (t["bitrate_kbps"], t["sample_rate"], t["n_frames"]) == (320, 44100, 10)
    assert t["duration_ms"] == 1000 * 1152 * 10 // 44100
    assert t["has_id3"] and t["valid"]
    b = out[2]
    assert (b["bitrate_kbps"], b["n_frames"], b["has_id3"]) == (128, 3, False)
    assert b["valid"]
    c = out[3]
    assert c["n_frames"] == 2 and c["valid"] is False  # last frame cut
    assert out[4]["valid"] is False and out[4]["bitrate_kbps"] is None


def test_tar_walker_checksum_and_stdlib_parity(spark):
    """tar_member_index agrees with Python's own tarfile on names,
    sizes, and content ranges; a flipped header byte is caught by the
    CHECKSUM (the size field still parses — only the checksum knows);
    truncated content is flagged."""
    import io
    import tarfile

    from lwetl_spark.operators.media import tar_bytes, tar_member_index

    members = [("a.txt", b"hello"), ("b/c.bin", bytes(range(200))),
               ("d.cls", b"9")]
    good = tar_bytes(members)
    flipped = bytearray(good)
    flipped[3] ^= 0x55  # name byte: size still parses, checksum breaks
    trunc = good[: 512 + 2]  # header promises 5 bytes, only 2 remain
    rows = [(1, good), (2, bytes(flipped)), (3, trunc)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {}
    for r in tar_member_index(df).collect():
        out.setdefault(r["doc_id"], []).append(r)
    got = sorted(out[1], key=lambda r: r["member_idx"])
    tf = tarfile.open(fileobj=io.BytesIO(good))
    for r, info in zip(got, tf.getmembers()):
        assert r["name"] == info.name and r["size"] == info.size
        assert r["offset"] == info.offset_data
        assert r["byte_sum"] == sum(
            good[info.offset_data : info.offset_data + info.size])
        assert r["valid"]
    assert len(out[2]) == 1 and out[2][0]["valid"] is False
    assert out[2][0]["member_idx"] == -1
    assert out[3][-1]["valid"] is False


def test_webdataset_sample_grouping(spark):
    """webdataset_samples groups tar members by stem into trainer
    samples with sorted extension lists."""
    from lwetl_spark.operators.media import (
        tar_bytes,
        tar_member_index,
        webdataset_samples,
    )

    shard = tar_bytes([
        ("0001.jpg", bytes(10)), ("0001.cls", b"3"), ("0001.json", b"{}"),
        ("0002.jpg", bytes(20)), ("0002.cls", b"7"),
    ])
    df = spark.createDataFrame([(1, shard)], "doc_id long, payload binary")
    out = {r["stem"]: r
           for r in webdataset_samples(tar_member_index(df)).collect()}
    assert out["0001"]["n_fields"] == 3
    assert list(out["0001"]["exts"]) == ["cls", "jpg", "json"]
    assert out["0001"]["total_bytes"] == 13
    assert out["0002"]["n_fields"] == 2 and out["0002"]["total_bytes"] == 21


def test_jpeg_color_decode_hand_checked(spark):
    """Color decode: neutral-chroma YCbCr 4:4:4 reconstructs R=G=B=Y
    with per-component DC predictors intact across MCUs; a SOF
    claiming 2x2 Y sampling over a 4:4:4 entropy stream starves the
    bit reader (too few blocks) and yields None, not garbage."""
    import numpy as np

    from lwetl_spark.operators.media import decode_jpeg, jpeg_baseline_bytes

    rgb = decode_jpeg(jpeg_baseline_bytes.color(16, 8, [(5, 3), (-40, 0)]))
    assert rgb.shape == (8, 16, 3)
    sign = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    for c in range(3):
        assert (rgb[:, :8, c] == (133 + 3 * sign)[:, None]).all()
        assert (rgb[:, 8:, c] == 88).all()
    # r9: 2x2 sampling is now IN scope, but this stream only carries
    # 3 blocks where the claimed geometry needs 6 -> entropy underrun
    b = bytearray(jpeg_baseline_bytes.color(8, 8, [(0, 0)]))
    i = b.index(b"\xff\xc0")
    b[i + 11] = 0x22  # Y sampling factor 2x2
    assert decode_jpeg(bytes(b)) is None


def test_jpeg_420_decode_hand_checked():
    """4:2:0 decode (r9): one 16x16 MCU = four Y blocks + one Cb + one
    Cr.  Hand-check the full reconstruction: per-block Y DC/AC, the
    2x2 nearest-neighbor chroma upsample (chroma row yc = y//2 drives
    the AC sign), and the BT.601 transform."""
    import numpy as np

    from lwetl_spark.operators.media import decode_jpeg, jpeg_baseline_bytes

    # Y blocks (raster): dc 10/20/30/40, ac 0; chroma: Cb dc=5 ac=5,
    # Cr dc=-10 ac=0
    rgb = decode_jpeg(jpeg_baseline_bytes.color420(
        16, 16, [(10, 0), (20, 0), (30, 0), (40, 0)],
        [(5, 5)], [(-10, 0)],
    ))
    assert rgb.shape == (16, 16, 3)
    sign = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    y_plane = np.zeros((16, 16))
    y_plane[:8, :8], y_plane[:8, 8:] = 138, 148
    y_plane[8:, :8], y_plane[8:, 8:] = 158, 168
    cb = (5 + 5 * sign)[np.repeat(np.arange(8), 2)][:, None]  # row-driven
    cr = -10.0
    exp = np.stack([
        np.round(y_plane + 1.402 * cr),
        np.round(y_plane - 0.344136 * cb - 0.714136 * cr),
        np.round(y_plane + 1.772 * cb),
    ], axis=2)
    assert (rgb == exp.astype(np.int64)).all()

    # MCU-edge crop: 24x24 image sits on a padded 32x32 (2x2 MCU) grid;
    # the visible region must index blocks by PADDED raster position
    yc = [(b, 0) for b in range(16)]  # dc = padded raster index
    rgb = decode_jpeg(jpeg_baseline_bytes.color420(
        24, 24, yc, [(0, 0)] * 4, [(0, 0)] * 4,
    ))
    assert rgb.shape == (24, 24, 3)
    assert rgb[0, 0, 0] == 128 + 0        # block 0
    assert rgb[0, 16, 0] == 128 + 2       # block 2 (bx=2 on 4-wide grid)
    assert rgb[16, 0, 0] == 128 + 8       # block (by=2, bx=0)
    assert rgb[23, 23, 0] == 128 + 10     # block (by=2, bx=2)


def test_jpeg_decoder_corrupt_segment_guards():
    """ADVICE r8: truncated SOF declaring 3 components and a 63-entry
    DQT slice must yield NULL (None), never an IndexError that kills
    the Arrow task."""
    import struct

    from lwetl_spark.operators.media import decode_jpeg

    trunc_sof = (b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", 11)
                 + b"\x08\x00\x10\x00\x10\x03\x01\x22\x00")
    assert decode_jpeg(trunc_sof) is None
    dqt63 = (b"\xff\xd8" + b"\xff\xdb" + struct.pack(">H", 66)
             + bytes(64) + b"\xff\xd9")
    assert decode_jpeg(dqt63) is None


def test_mp4_missing_stss_means_all_keyframes():
    """ISO 14496-12 §8.6.2 (ADVICE r8): when SyncSampleBox is absent
    every sample is a sync sample — all-intra videos must not lose
    every frame to filter('is_key'); a present-but-sparse stss keeps
    its filtering semantics."""
    from lwetl_spark.operators.media import mp4_bytes, mp4_sample_index

    frames = [bytes(10 + j) for j in range(4)]
    no_stss = mp4_bytes(1000, width=32, height=32, frames=frames,
                        key_every=0)
    assert b"stss" not in no_stss
    idx = mp4_sample_index(no_stss)
    assert idx["keys"] == {1, 2, 3, 4}
    sparse = mp4_bytes(1000, width=32, height=32, frames=frames,
                       key_every=2)
    assert mp4_sample_index(sparse)["keys"] == {1, 3}


def test_mkv_walker_census_and_corruption():
    """EBML walk: doctype, duration (float × TimestampScale), per-track
    codec/geometry; unknown-size Segment extends to end-of-parent; a
    size varint lying past its parent yields a PARTIAL census with
    valid=False — never an exception."""
    from lwetl_spark.operators.media import mkv_bytes, parse_mkv

    b = mkv_bytes(2500, 320, 240, v_codec=b"V_AV1", a_codec=b"A_OPUS",
                  channels=2, sample_rate=48000, doctype=b"webm")
    r = parse_mkv(b)
    assert r["valid"] and r["doctype"] == "webm"
    assert r["duration_ms"] == 2500 and r["n_tracks"] == 2
    assert (r["v_codec"], r["width"], r["height"]) == ("V_AV1", 320, 240)
    assert (r["a_codec"], r["channels"], r["sample_rate"]) == (
        "A_OPUS", 2, 48000)

    # unknown-size Segment (live-mux form): rewrite the Segment's size
    # varint to all-ones (8-byte form 0x01FFFFFFFFFFFFFF)
    seg_at = b.index(b"\x18\x53\x80\x67")
    size_ln = 9 - b[seg_at + 4].bit_length()
    body = b[seg_at + 4 + size_ln:]
    live = (b[:seg_at] + b"\x18\x53\x80\x67"
            + b"\x01" + b"\xff" * 7 + body)
    r2 = parse_mkv(live)
    assert r2["valid"] and r2["duration_ms"] == 2500

    # lying Void size: partial census, valid=False, fields intact
    bad = bytearray(b)
    bad[-17] = 0x9F
    r3 = parse_mkv(bytes(bad))
    assert not r3["valid"]
    assert r3["v_codec"] == "V_AV1" and r3["duration_ms"] == 2500
    # non-EBML and truncated magic
    assert parse_mkv(b"plainly not a video") is None
    assert parse_mkv(b"\x1aE\xdf\xa3")["valid"] is False


def test_media_meta_routes_mkv(spark):
    """media_meta routes EBML payloads: fmt follows DocType (webm vs
    mkv), geometry and duration populated, n_samples honestly NULL."""
    from lwetl_spark.operators.media import media_meta, mkv_bytes

    rows = [
        (1, mkv_bytes(1200, 100, 80, doctype=b"webm")),
        (2, mkv_bytes(900, 64, 48, a_codec=b"A_OPUS", channels=1,
                      sample_rate=16000, doctype=b"matroska")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in media_meta(df).collect()}
    assert got[1]["fmt"] == "webm" and got[1]["width"] == 100
    assert got[1]["duration_ms"] == 1200 and got[1]["valid"]
    assert got[2]["fmt"] == "mkv" and got[2]["channels"] == 1
    assert got[2]["sample_rate"] == 16000 and got[2]["n_samples"] is None


def test_sniff_format_detects_ebml(spark):
    """The JVM sniffer routes the EBML magic to 'mkv'."""
    from lwetl_spark.operators.media import mkv_bytes, sniff_format

    df = spark.createDataFrame(
        [(1, mkv_bytes(100, 16, 16)), (2, b"\x00\x00\x00\x00")],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r["fmt"] for r in
           df.select("doc_id", sniff_format("payload").alias("fmt"))
           .collect()}
    assert got == {1: "mkv", 2: "unknown"}


def test_wav_downsample_fir_hand_checked_and_antialias(spark):
    """The r9 FIR leg: hand-check the binomial [1,4,6,4,1]/16 kernel
    with edge replication on a tiny signal, then prove the
    anti-aliasing property — a tone above the target Nyquist must come
    out of the filtered decimator far quieter than out of the raw
    one."""
    import math

    from lwetl_spark.operators.media import wav_downsample, wav_pcm_bytes

    # hand-check: x = [0, 16, 0, -16, 0, 16] mono; edge-replicated FIR
    sig = [0, 16, 0, -16, 0, 16]

    def fir_ref(x, j):
        n = len(x)
        c = lambda i: x[max(0, min(n - 1, i))]
        s = c(j-2) + 4*c(j-1) + 6*x[j] + 4*c(j+1) + c(j+2)
        return (s + 524288) // 16 - 32768

    src = wav_pcm_bytes(8000, sig, channels=1)
    df = spark.createDataFrame([(1, src)], "doc_id long, payload binary")
    r = wav_downsample(df, factor=2).collect()[0]
    assert r["ok"] and r["sample_rate"] == 4000 and r["n_samples"] == 3
    data = bytes(r["resampled"])[44:]
    got = list(struct.unpack(f"<{len(data)//2}h", data))
    assert got == [fir_ref(sig, j) for j in (0, 2, 4)]

    # alias tone: 3.4 kHz at 8 kHz, factor 4 -> target Nyquist 1 kHz.
    # H(w) = (6 + 8cos(w) + 2cos(2w))/16 at w = 2*pi*3400/8000 ~ 0.003,
    # so the folded tone must collapse vs the raw decimator.
    n = 400
    tone = [int(20000 * math.sin(2 * math.pi * 3400 * j / 8000))
            for j in range(n)]
    src = wav_pcm_bytes(8000, tone, channels=1)
    df = spark.createDataFrame([(1, src)], "doc_id long, payload binary")

    def rms(wav_row):
        d = bytes(wav_row["resampled"])[44:]
        xs = struct.unpack(f"<{len(d)//2}h", d)
        return (sum(v * v for v in xs) / len(xs)) ** 0.5

    raw = rms(wav_downsample(df, factor=4, fir=False).collect()[0])
    flt = rms(wav_downsample(df, factor=4).collect()[0])
    assert raw > 10_000          # the raw decimator folds the tone in
    assert flt < raw / 20        # the FIR attenuates it >26 dB


def test_webdataset_campaign_composition(spark, tmp_path):
    """The multimodal ingest loop (r9): shard walk -> payload extract ->
    media_meta admission gate (corrupt shard / min-res drop) ->
    ingest_increment; re-ingesting the same shard content admits
    nothing, and a caption duplicated across shards admits once."""
    from lwetl_spark.operators.incremental import ingest_increment
    from lwetl_spark.operators.media import (
        media_meta,
        png_bytes,
        tar_bytes,
        tar_member_payloads,
    )

    def shard(pairs):
        return tar_bytes([m for stem, png, cap in pairs for m in
                          (("%s.png" % stem, png), ("%s.txt" % stem, cap))])

    good_png = png_bytes(8, 8)
    small_png = png_bytes(4, 4)     # below the min-res gate
    s1 = shard([("0000", good_png, b"alpha beta"),
                ("0001", small_png, b"tiny dropped")])
    s2 = shard([("0000", good_png, b"alpha beta"),     # duplicate caption
                ("0001", good_png, b"gamma delta")])
    s3 = bytearray(shard([("0000", good_png, b"never seen")]))
    s3[1] ^= 0xFF                   # corrupt header: contributes nothing
    df = spark.createDataFrame(
        [(1, s1), (2, s2), (3, bytes(s3))], "doc_id long, payload binary"
    )
    members = tar_member_payloads(df)
    got = {(r["doc_id"], r["name"]) for r in members.collect()}
    assert (3, "0000.png") not in got and len(got) == 8

    parts = members.select(
        (F.col("doc_id") * 16
         + F.regexp_extract("name", r"^(\d+)\.", 1).cast("long")
         ).alias("sample_id"),
        F.regexp_extract("name", r"\.([^.]+)$", 1).alias("ext"),
        "payload",
    )
    gate = media_meta(
        parts.filter("ext = 'png'")
        .select(F.col("sample_id").alias("doc_id"), "payload")
    ).filter(F.col("valid") & (F.col("width") >= 6)).select("doc_id")
    samples = (
        parts.filter("ext = 'txt'")
        .select(F.col("sample_id").alias("doc_id"),
                F.decode("payload", "UTF-8").alias("text"))
        .join(gate, "doc_id", "left_semi")
        .localCheckpoint(eager=True)
    )
    man, state, idx = (str(tmp_path / p) for p in ("m", "s", "i"))
    r1 = ingest_increment(spark, samples, man, state, idx)
    # candidates: shard1/0000 (alpha), shard2/0000 (dup alpha),
    # shard2/0001 (gamma); min-res and corrupt legs never reach ingest
    assert r1["n_admitted"] == 2
    texts = {r["doc_id"] for r in spark.read.parquet(state).collect()}
    assert texts <= {16, 32, 33} and len(texts) == 2
    # re-shard the same content: nothing readmits
    r2 = ingest_increment(spark, samples, man, state, idx)
    assert r2["n_admitted"] == 0


def test_jpeg_restart_markers_hand_checked():
    """DRI/RSTn decode (r9): restart every 2 MCUs — byte-aligned marker
    consumption + DC predictor reset reproduce the exact pixels of the
    unrestarted stream; a DRI that promises restarts the stream doesn't
    contain yields None."""
    import struct as _struct

    from lwetl_spark.operators.media import decode_jpeg, jpeg_baseline_bytes

    coeffs = [(10, 0), (-20, 3), (35, 1), (5, 0), (-56, 12), (0, 7)]
    plain = decode_jpeg(jpeg_baseline_bytes(48, 8, coeffs))
    rst = decode_jpeg(jpeg_baseline_bytes(48, 8, coeffs,
                                          restart_interval=2))
    assert rst is not None and (rst == plain).all()
    # the restarted stream really carries RST markers
    b = jpeg_baseline_bytes(48, 8, coeffs, restart_interval=2)
    assert b"\xff\xdd" in b and b.count(b"\xff\xd0") >= 1
    # lying DRI: declared interval but no markers in the stream
    p = jpeg_baseline_bytes(48, 8, coeffs)
    i = p.index(b"\xff\xda")
    lying = (p[:i] + b"\xff\xdd" + _struct.pack(">H", 4)
             + _struct.pack(">H", 2) + p[i:])
    assert decode_jpeg(lying) is None


def test_mkv_frame_index_exact_ranges(spark):
    """mkv_frame_index recovers each SimpleBlock frame's exact byte
    range (slice == generated frame, byte sums prove it), scales pts
    by TimestampScale, maps the keyframe flag; payloads without video
    blocks yield no rows; a corrupt cluster never fails the batch."""
    from lwetl_spark.operators.media import (
        mkv_block_index,
        mkv_bytes,
        mkv_frame_index,
    )

    frames = [bytes((7 * k + 31 * j) % 256 for k in range(20 + 3 * j))
              for j in range(5)]
    good = mkv_bytes(1500, 64, 48, frames=frames, key_every=2)
    no_blocks = mkv_bytes(1000, 8, 8)
    bad = bytearray(good)
    a3 = bad.index(b"\xa3")
    bad[a3 + 1] = 0xFF  # SimpleBlock size varint lies (overruns parent)
    df = spark.createDataFrame(
        [(1, bytes(good)), (2, no_blocks), (3, bytes(bad))],
        "doc_id long, payload binary",
    )
    out = {}
    for r in mkv_frame_index(df).collect():
        out.setdefault(r["doc_id"], []).append(r)
    assert set(out) == {1}
    got = sorted(out[1], key=lambda r: r["frame_idx"])
    assert len(got) == 5
    delta = 1500 // 5
    rel = 0
    for j, r in enumerate(got):
        assert r["pts_ms"] == j * delta
        assert r["size"] == len(frames[j])
        assert r["rel_offset"] == rel
        assert r["is_key"] == (j % 2 == 0)
        assert r["byte_sum"] == sum(frames[j])
        rel += len(frames[j]) + 6
    # the standalone walker slices the exact bytes
    idx = mkv_block_index(good)
    for j, (pts, off, size, key) in enumerate(idx["frames"]):
        assert good[off : off + size] == frames[j]


def test_jpeg_422_decode_hand_checked():
    """4:2:2 decode (r9 generic MCU loop): each 16x8 MCU holds two Y
    blocks + Cb + Cr; chroma upsamples horizontally only — chroma
    sample x = x//2, full-resolution rows."""
    import numpy as np

    from lwetl_spark.operators.media import decode_jpeg, jpeg_baseline_bytes

    # 16x8: Y blocks dc 10 / 30; Cb dc=5 ac=5 (row-varying); Cr dc=-10
    rgb = decode_jpeg(jpeg_baseline_bytes.color422(
        16, 8, [(10, 0), (30, 0)], [(5, 5)], [(-10, 0)],
    ))
    assert rgb.shape == (8, 16, 3)
    sign = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    y_plane = np.zeros((8, 16))
    y_plane[:, :8], y_plane[:, 8:] = 138, 158
    cb = (5 + 5 * sign)[:, None]      # full-res rows (V=1)
    cr = -10.0
    exp = np.stack([
        np.round(y_plane + 1.402 * cr),
        np.round(y_plane - 0.344136 * cb - 0.714136 * cr),
        np.round(y_plane + 1.772 * cb),
    ], axis=2)
    assert (rgb == exp.astype(np.int64)).all()


def test_image_dhash_collision_and_routes(spark):
    """image_dhash: identical content collides (the dedup property),
    different content splits, the JPEG leg routes through the baseline
    decoder with integer Rec.601 luma, and a corrupt payload yields
    ok=false without failing the batch."""
    from lwetl_spark.operators.media import (
        image_dhash,
        jpeg_fixture_bytes,
        png_bytes_pattern,
    )

    same1 = png_bytes_pattern(16, 12, 5)
    same2 = png_bytes_pattern(16, 12, 5)
    other = png_bytes_pattern(16, 12, 99)
    jpg = jpeg_fixture_bytes(24, 16, 3)
    rows = [(1, same1), (2, same2), (3, other), (4, jpg), (5, b"junk")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in image_dhash(df).collect()}
    assert out[1]["ok"] and out[2]["ok"]
    assert out[1]["dhash"] == out[2]["dhash"]        # duplicates collide
    assert out[3]["ok"] and out[3]["dhash"] != out[1]["dhash"]
    assert out[4]["ok"] and len(out[4]["dhash"]) == 16
    assert (out[4]["width"], out[4]["height"]) == (24, 16)
    assert out[5]["ok"] is False and out[5]["dhash"] is None


def test_decoders_never_raise_on_arbitrary_bytes():
    """One-bad-file-never-kills-a-task, fuzz form: every byte-level
    walker/decoder must return None/partial-census on ARBITRARY input,
    never raise — including inputs that start with each format's magic
    and then go wrong."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lwetl_spark.operators.media import (
        decode_jpeg,
        mkv_block_index,
        mp4_sample_index,
        parse_mkv,
        parse_mp4,
    )

    magics = [b"", b"\xff\xd8\xff\xe0", b"\x1aE\xdf\xa3",
              b"\x00\x00\x00\x18ftyp", b"\x89PNG\r\n\x1a\n", b"RIFF",
              b"GIF89a", b"BM", b"WARC/1.0\r\n",
              # r9 format sweep: zip EOCD magic, FLAC, Ogg, TIFF both
              # orders, PDF header, AVI RIFF body
              b"PK\x03\x04", b"fLaC", b"OggS", b"II\x2a\x00",
              b"MM\x00\x2a", b"%PDF-1.4\n", b"RIFF\x10\x00\x00\x00AVI "]

    @settings(max_examples=200, deadline=None)
    @given(prefix=st.sampled_from(magics),
           body=st.binary(min_size=0, max_size=400))
    def run(prefix: bytes, body: bytes) -> None:
        b = prefix + body
        from lwetl_spark.operators.media import (
            extract_pdf_text,
            gif_decode_pixels,
            parse_avi,
            parse_flac,
            parse_gif,
            parse_ogg,
            parse_pdf,
            parse_tiff,
            parse_warc,
            parse_zip,
        )
        png_dec, _ = __import__(
            "lwetl_spark.operators.media", fromlist=["_make_png_codec"]
        )._make_png_codec()
        for fn in (decode_jpeg, parse_mkv, mkv_block_index,
                   mp4_sample_index, parse_mp4, parse_gif, parse_warc,
                   parse_zip, parse_flac, parse_ogg, parse_tiff,
                   parse_avi, parse_pdf, extract_pdf_text,
                   gif_decode_pixels, png_dec):
            fn(b)  # must not raise; return value unconstrained
        r = parse_zip(b)
        if r is not None:  # extraction must also never raise
            from lwetl_spark.operators.media import extract_zip_member
            for m in r["members"]:
                extract_zip_member(b, m)

    run()


def test_jpeg_progressive_decode_hand_checked():
    """Progressive (SOF2) decode: four-scan successive approximation —
    DC first at Al=1, DC raw-bit refinement, AC band first, AC
    refinement (newly-significant insertions for ac==1, correction
    bits for ac>=2, EOB-only for ac==0) — reconstructs pixels
    identical to the sequential stream for every coefficient class,
    including negative DC values; a truncated scan yields None."""
    from lwetl_spark.operators.media import decode_jpeg, jpeg_baseline_bytes

    # one block per class: ac==0, ac==1 (newly significant in refine),
    # ac>=2 even (correction bit 0), ac>=2 odd (correction bit 1);
    # dc covers negative-odd / negative-even / positive
    coeffs = [(-55, 0), (-56, 1), (10, 6), (35, 7), (0, 12), (5, 2)]
    prog = jpeg_baseline_bytes.progressive(48, 8, coeffs)
    assert prog[2:4] == b"\xff\xdb" and b"\xff\xc2" in prog
    assert prog.count(b"\xff\xda") == 4  # four scans
    p = decode_jpeg(prog)
    base = decode_jpeg(jpeg_baseline_bytes(48, 8, coeffs))
    assert p is not None and (p == base).all()
    # truncation mid-scan: NULL, never an exception
    assert decode_jpeg(prog[: len(prog) // 2]) is None


def test_jpeg_progressive_color_and_subsampled():
    """Progressive color decode: interleaved DC scans (three
    predictors, MCU order at both 4:4:4 and 4:2:0) + per-component
    non-interleaved AC scans — which for 4:2:0 Y exclude the MCU
    padding blocks (coded grid ceil(w/8) inside the padded array).
    Pixels must equal the sequential encodings of the same
    coefficients."""
    from lwetl_spark.operators.media import decode_jpeg, jpeg_baseline_bytes

    J = jpeg_baseline_bytes
    # 4:4:4 neutral chroma == the sequential color stream
    yc = [(5, 3), (-40, 0)]
    zeros = [(0, 0)] * 2
    p = decode_jpeg(J.progressive_color(16, 8, yc, zeros, zeros, "444"))
    assert p is not None and (p == decode_jpeg(J.color(16, 8, yc))).all()
    # 4:2:0 at 24x24: 2x2 MCU grid, visible 3x3 Y blocks (cw=3 < 4),
    # non-neutral row-varying chroma
    i = 7
    mxn = myn = 2
    yc = [((i + 17 * b) % 80 - 40, (i + 5 * b) % 13) for b in range(16)]
    cb = [(5 * ((i + 3 * m) % 11 - 5), 5 * ((i + m) % 3))
          for m in range(4)]
    cr = [(5 * ((i + 7 * m) % 11 - 5), 5 * ((i + 2 * m) % 3))
          for m in range(4)]
    p = decode_jpeg(J.progressive_color(24, 24, yc, cb, cr, "420"))
    base = decode_jpeg(J.color420(24, 24, yc, cb, cr))
    assert p is not None and (p == base).all()


def test_png_color_codec_roundtrip_and_filters():
    """Truecolor PNG decode (r9): all five filters at the 3-byte pixel
    offset reconstruct exactly; encode round-trips RGB, RGBA, and
    gray+alpha arrays; Adam7 interlace is honestly rejected."""
    import struct
    import zlib

    import numpy as np

    from lwetl_spark.operators.media import _make_png_codec, png_color_bytes

    dec, enc = _make_png_codec()
    px = dec(png_color_bytes(11, 7, 42))
    assert px.shape == (7, 11, 3)
    for r in range(7):
        for c in range(11):
            for k in range(3):
                assert px[r, c, k] == (42 + 7 * r + 13 * c + 89 * k) % 256
    assert (dec(enc(px)) == px).all()
    rgba = (np.arange(80, dtype=np.uint8).reshape(4, 5, 4) * 3) % 256
    assert (dec(enc(rgba)) == rgba).all()
    ga = (np.arange(30, dtype=np.uint8).reshape(5, 3, 2) * 7) % 256
    assert (dec(enc(ga)) == ga).all()
    # a SEQUENTIAL layout with the interlace flag flipped is a
    # structural lie (pass sizes don't add up) -> None, not garbage
    b = bytearray(png_color_bytes(8, 8, 1))
    b[28] = 1
    b[29:33] = struct.pack(">I", zlib.crc32(bytes(b[12:29])) & 0xFFFFFFFF)
    assert dec(bytes(b)) is None
    # REAL Adam7 decodes to the same pixels as the sequential stream,
    # including odd dims where some passes are empty
    from lwetl_spark.operators.media import png_adam7_bytes

    for (w2, h2) in [(11, 7), (1, 9), (8, 8)]:
        a = dec(png_adam7_bytes(w2, h2, 42))
        assert a is not None and (a == dec(png_color_bytes(w2, h2, 42))).all()


def test_image_dhash_and_thumbnails_handle_color(spark):
    """image_dhash reduces color PNGs to integer Rec.601 luma;
    png_thumbnails resamples color arrays and re-encodes truecolor
    thumbnails that decode back."""
    from lwetl_spark.operators.media import (
        _make_png_codec,
        image_dhash,
        png_color_bytes,
        png_thumbnails,
    )

    b = png_color_bytes(16, 12, 9)
    df = spark.createDataFrame([(1, b)], "doc_id long, payload binary")
    r = image_dhash(df).collect()[0]
    assert r["ok"] and len(r["dhash"]) == 16
    t = png_thumbnails(df, width=4, height=4).collect()[0]
    assert t["ok"]
    dec, _ = _make_png_codec()
    tpx = dec(bytes(t["thumb"]))
    assert tpx.shape == (4, 4, 3)
    # nearest-neighbor source indices replayed exactly
    for r2 in range(4):
        for c2 in range(4):
            sr, sc = (r2 * 12) // 4, (c2 * 16) // 4
            for k in range(3):
                assert tpx[r2, c2, k] == (9 + 7 * sr + 13 * sc + 89 * k) % 256


def test_gif_census_and_media_meta_route(spark):
    """parse_gif: frame counting, GCE delay accumulation, sub-block
    skipping, trailer requirement; media_meta routes gif with frames
    in the n_samples slot; corruption yields a partial census."""
    from lwetl_spark.operators.media import gif_bytes, media_meta, parse_gif

    b = gif_bytes(20, 10, 3, delay_cs=7)
    r = parse_gif(b)
    assert r["valid"] and (r["width"], r["height"]) == (20, 10)
    assert r["n_frames"] == 3 and r["duration_ms"] == 210
    assert r["animated"]
    still = parse_gif(gif_bytes(5, 5, 1))
    assert still["valid"] and not still["animated"]
    assert still["duration_ms"] == 0
    # truncated mid-sub-block: frames before the cut survive
    t = parse_gif(b[:-3])
    assert not t["valid"] and t["n_frames"] == 2
    assert parse_gif(b"NOTGIF") is None
    df = spark.createDataFrame(
        [(1, b), (2, b"\x00" * 20)], "doc_id long, payload binary"
    )
    out = {r2["doc_id"]: r2 for r2 in media_meta(df).collect()}
    assert out[1]["fmt"] == "gif" and out[1]["n_samples"] == 3
    assert out[1]["duration_ms"] == 210 and out[1]["valid"]
    assert out[2]["fmt"] == "unknown"


def test_bmp_dims_jvm_and_media_meta_route(spark):
    """bmp_dims parses LE fields with sign extension inside codegen
    (no UDF); media_meta routes BMP with a declared-size validity
    check; top-down (negative height) reports absolute dims."""
    from lwetl_spark.operators.media import bmp_bytes, bmp_dims, media_meta

    up = bmp_bytes(33, 21)
    down = bytearray(bmp_bytes(10, 8))
    down[22:26] = (-8).to_bytes(4, "little", signed=True)
    lying = bytearray(bmp_bytes(5, 5))
    lying[2:6] = (999).to_bytes(4, "little")
    rows = [(1, up), (2, bytes(down)), (3, bytes(lying))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    w, h, bpp = bmp_dims("payload")
    got = {r["doc_id"]: r for r in df.select(
        "doc_id", w.alias("w"), h.alias("h"), bpp.alias("bpp")
    ).collect()}
    assert (got[1]["w"], got[1]["h"], got[1]["bpp"]) == (33, 21, 24)
    assert got[2]["h"] == -8  # sign-extended; callers take abs
    meta = {r["doc_id"]: r for r in media_meta(df).collect()}
    assert meta[1]["fmt"] == "bmp" and meta[1]["valid"]
    assert (meta[2]["width"], meta[2]["height"]) == (10, 8)
    assert meta[2]["valid"]
    assert meta[3]["fmt"] == "bmp" and meta[3]["valid"] is False


def test_png_palette_decode_and_short_plte():
    """Type-3 PNG: the index plane reconstructs at bpp=1 and maps
    through PLTE to RGB; an index past the palette end is a structural
    lie (None, never IndexError)."""
    import struct
    import zlib

    from lwetl_spark.operators.media import _make_png_codec, png_palette_bytes

    dec, _ = _make_png_codec()
    px = dec(png_palette_bytes(9, 6, 5, 20))
    assert px.shape == (6, 9, 3)
    for r in range(6):
        for c in range(9):
            p = (5 + 7 * r + 13 * c) % 20
            assert tuple(int(v) for v in px[r, c]) == (
                (3 * p + 11) % 256, (5 * p + 29) % 256, (7 * p + 47) % 256)
    # shrink PLTE to 2 entries: indices overrun the palette -> None
    b = png_palette_bytes(4, 4, 0, 16)
    i0 = b.index(b"PLTE") - 4
    ln = struct.unpack(">I", b[i0 : i0 + 4])[0]
    pl = b[i0 + 8 : i0 + 14]
    short = (b[:i0] + struct.pack(">I", 6) + b"PLTE" + pl
             + struct.pack(">I", zlib.crc32(b"PLTE" + pl) & 0xFFFFFFFF)
             + b[i0 + 12 + ln :])
    assert dec(short) is None


def test_warc_walker_and_census(spark):
    """parse_warc: header parse, exact Content-Length body skip (byte
    sums prove the range), terminator check; corruption keeps the
    records before the lie; warc_records emits per-record rows and a
    single sentinel row for non-WARC payloads."""
    from lwetl_spark.operators.media import parse_warc, warc_bytes, warc_records

    recs = [("warcinfo", None, b"software: test"),
            ("response", "http://a.example/x", bytes(range(50)))]
    b = warc_bytes(recs)
    got = parse_warc(b)
    assert got["valid"] and len(got["records"]) == 2
    r1 = got["records"][1]
    assert (r1["rec_type"], r1["target_uri"]) == (
        "response", "http://a.example/x")
    assert r1["content_length"] == 50 and r1["byte_sum"] == sum(range(50))
    # truncated body: record 0 survives, shard flagged
    cut = b[: b.index(b"WARC/1.0", 1) + 40]
    g2 = parse_warc(cut)
    assert not g2["valid"] and len(g2["records"]) == 1
    df = spark.createDataFrame(
        [(1, b), (2, b"plainly not warc")], "doc_id long, payload binary"
    )
    out = {}
    for r in warc_records(df).collect():
        out.setdefault(r["doc_id"], []).append(r)
    assert len(out[1]) == 2 and all(r["valid"] for r in out[1])
    assert out[2][0]["rec_idx"] == -1 and out[2][0]["valid"] is False


def test_png_16bit_decode_byte_filter_then_pair_combine():
    """Depth-16 PNG (r9, closes the PNG ledger): filters run on BYTES
    with the left neighbor ch*2 back, THEN big-endian pairs combine —
    a sample-space filter or LE combine fails every pixel below.
    Covers gray + RGB, encode round-trip, hand-built Adam7 at 16-bit,
    and the spec rejection of 16-bit palette."""
    import struct
    import zlib

    import numpy as np

    from lwetl_spark.operators.media import _make_png_codec, png16_bytes

    dec, enc = _make_png_codec()
    for ch in (1, 3):
        px = dec(png16_bytes(7, 6, 42, ch))
        assert px is not None and px.dtype == np.uint16
        got = px if px.ndim == 3 else px[:, :, None]
        for r in range(6):
            for c in range(7):
                for k in range(ch):
                    assert int(got[r, c, k]) == (
                        42 * 257 + 131 * r + 241 * c + 7919 * k) % 65536
    # encode round-trip keeps 16-bit depth exactly
    arr = (np.arange(5 * 4, dtype=np.uint16).reshape(5, 4) * 4111) % 65536
    arr = arr.astype(np.uint16)
    again = dec(enc(arr))
    assert again.dtype == np.uint16 and (again == arr).all()

    # hand-built Adam7 16-bit gray 4x4: value = 256*r + c (hi byte is
    # the row, lo byte the column -- any pass-scatter mistake shows)
    w = h = 4

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    raw = bytearray()
    for x0, y0, xs, ys in passes:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        for pr in range(ph):
            raw.append(0)  # filter None
            for pc in range(pw):
                r, c = y0 + pr * ys, x0 + pc * xs
                raw += struct.pack(">H", 256 * r + c)
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 1)
    b = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
         + chunk(b"IDAT", zlib.compress(bytes(raw)))
         + chunk(b"IEND", b""))
    px = dec(b)
    assert px is not None and px.dtype == np.uint16
    for r in range(h):
        for c in range(w):
            assert int(px[r, c]) == 256 * r + c

    # 16-bit palette is a spec violation -> None, not a decode attempt
    pal_ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", pal_ihdr)
           + chunk(b"PLTE", bytes(6))
           + chunk(b"IDAT", zlib.compress(bytes(10)))
           + chunk(b"IEND", b""))
    assert dec(bad) is None


def test_gif_lzw_pixel_decode():
    """GIF-LZW (r9, closes the GIF ledger): encoder/decoder width-bump
    lag (encoder at 2^w+1, decoder at 2^w), KwKwK case, interlace
    reorder, local-color-table precedence, and the truncation/early-END
    None contract."""
    import struct

    import numpy as np

    from lwetl_spark.operators.media import (
        gif_decode_pixels,
        gif_lzw_bytes,
        parse_gif,
    )

    # value-exact round trip incl. interlace and animation
    for (w, h, s, npal, nf, il) in [(5, 6, 3, 7, 2, False),
                                    (11, 9, 250, 16, 3, True)]:
        r = gif_decode_pixels(gif_lzw_bytes(w, h, s, npal, nf,
                                            interlaced=il))
        assert r is not None and r["n_frames"] == nf
        for f in range(nf):
            for rr in range(h):
                for cc in range(w):
                    p = (s + 7 * rr + 13 * cc + 17 * f) % npal
                    assert tuple(
                        int(v) for v in r["frames"][f][rr, cc]) == (
                        (3 * p + 11) % 256, (5 * p + 29) % 256,
                        (7 * p + 47) % 256)
    # uniform image: the code stream is pure KwKwK chains
    r = gif_decode_pixels(gif_lzw_bytes(16, 16, 0, 1, 1))
    assert r is not None and (r["frames"][0][:, :, 0] == 11).all()
    # many width bumps (1200 px, 4-bit palette)
    big = gif_lzw_bytes(40, 30, 77, 16, 1)
    assert parse_gif(big)["valid"]
    r = gif_decode_pixels(big)
    p = (77 + 7 * 29 + 13 * 39) % 16
    assert tuple(int(v) for v in r["frames"][0][29, 39]) == (
        (3 * p + 11) % 256, (5 * p + 29) % 256, (7 * p + 47) % 256)
    # truncated code stream -> None (pixel shortfall)
    assert gif_decode_pixels(
        gif_lzw_bytes(6, 6, 9, 7, 2, trunc_last=True)) is None
    # local color table wins over global: rebuild one frame with an
    # LCT that permutes channels; decoder must use it
    b = bytearray(gif_lzw_bytes(4, 4, 2, 4, 1))
    i = 13 + 3 * 4  # header + 4-entry global table -> image descriptor
    assert b[i] == 0x2C
    lct = bytes(v for pp in range(4)
                for v in ((7 * pp + 47) % 256, (3 * pp + 11) % 256,
                          (5 * pp + 29) % 256))
    b2 = bytes(b[:i + 9]) + bytes([0x80 | 1]) + lct + bytes(b[i + 10:])
    r2 = gif_decode_pixels(b2)
    p = (2 + 0 + 0) % 4
    assert tuple(int(v) for v in r2["frames"][0][0, 0]) == (
        (7 * p + 47) % 256, (3 * p + 11) % 256, (5 * p + 29) % 256)
    # garbage and no-frames forms
    assert gif_decode_pixels(b"GIF89a" + bytes(20)) is None
    assert gif_decode_pixels(b"not gif") is None


def test_zip_walker_stdlib_cross_check(spark):
    """ZIP (r9): our generator must be readable by the stdlib zipfile
    module AND our walker must read stdlib-written archives — both
    directions prove the format is real, not a private dialect.
    Corruption keeps the members catalogued before the lie; bzip2
    members and CRC lies mark ok=False."""
    import io
    import struct
    import zipfile

    from lwetl_spark.operators.media import (
        extract_zip_member,
        parse_zip,
        zip_bytes,
        zip_member_contents,
    )

    members = [("a.bin", bytes(range(100)), "stored"),
               ("b/c.txt", b"hello world" * 20, "deflate"),
               ("empty", b"", "stored")]
    b = zip_bytes(members)
    zf = zipfile.ZipFile(io.BytesIO(b))
    assert zf.namelist() == ["a.bin", "b/c.txt", "empty"]
    assert zf.read("b/c.txt") == b"hello world" * 20
    r = parse_zip(b)
    assert r["valid"] and len(r["members"]) == 3
    for m, (nm, data, _) in zip(r["members"], members):
        assert m["name"] == nm and extract_zip_member(b, m) == data
    # stdlib-written archive through our walker
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("x.txt", b"payload bytes here" * 50)
    r2 = parse_zip(buf.getvalue())
    assert r2["valid"]
    assert extract_zip_member(
        buf.getvalue(), r2["members"][0]) == b"payload bytes here" * 50
    # CRC lie -> ok=False at extract
    bad = bytearray(b)
    e = bad.rfind(b"PK\x05\x06")
    c = bad.rfind(b"PK\x01\x02", 0, e)  # last central entry ('empty')
    c0 = bad.find(b"PK\x01\x02")        # first ('a.bin'): flip its CRC
    bad[c0 + 16] ^= 0xFF
    r3 = parse_zip(bytes(bad))
    assert r3["valid"]
    assert extract_zip_member(bytes(bad), r3["members"][0]) is None
    # corrupted central signature: partial census
    bad2 = bytearray(b)
    bad2[c + 1] ^= 0xFF
    r4 = parse_zip(bytes(bad2))
    assert not r4["valid"] and len(r4["members"]) == 2
    # unsupported method (12 = bzip2) -> None from extract
    m0 = dict(r["members"][0], method=12)
    assert extract_zip_member(b, m0) is None
    # spark surface: sentinel row for a non-zip payload
    df = spark.createDataFrame(
        [(1, b), (2, b"PK\x03\x04 but truncated")],
        "doc_id long, payload binary")
    got = {}
    for row in zip_member_contents(df).collect():
        got.setdefault(row["doc_id"], []).append(row)
    assert len(got[1]) == 3 and all(r_["ok"] for r_ in got[1])
    assert got[1][1]["byte_sum"] == sum(b"hello world" * 20)
    assert got[2][0]["member_idx"] == -1 and got[2][0]["valid"] is False


def test_flac_ogg_census_and_media_meta_route(spark):
    """FLAC STREAMINFO bit unpack + Ogg page walk with the real
    unreflected 0x04C11DB7 CRC; media_meta routes both formats."""
    import zlib

    from lwetl_spark.operators.media import (
        flac_bytes,
        media_meta,
        ogg_bytes,
        ogg_crc,
        parse_flac,
        parse_ogg,
    )

    r = parse_flac(flac_bytes(44100, 2, 16, 123456, 2, 8))
    assert (r["sample_rate"], r["channels"], r["bps"],
            r["total_samples"]) == (44100, 2, 16, 123456)
    assert r["duration_ms"] == 123456 * 1000 // 44100
    assert r["n_blocks"] == 3 and r["valid"]
    # zero-extra-blocks form: STREAMINFO itself carries the last flag
    assert parse_flac(flac_bytes(8000, 1, 8, 1000, 0, 0))["n_blocks"] == 1
    assert parse_flac(flac_bytes(44100, 2, 16, 5, 2, 8)[:20]) is None

    # the Ogg CRC is NOT zlib's (reflected) crc32
    assert ogg_crc(b"OggS") != (zlib.crc32(b"OggS") & 0xFFFFFFFF)
    for codec, tick in (("opus", 48000), ("vorbis", 15000)):
        b = ogg_bytes(codec, 2, 15000, 49999, 6, 777)
        r = parse_ogg(b)
        assert (r["codec"], r["channels"], r["sample_rate"],
                r["n_pages"]) == (codec, 2, 15000, 6)
        assert r["valid"] and r["duration_ms"] == 49999 * 1000 // tick
    # flipped payload byte: that page's CRC fails, census is partial
    b = bytearray(ogg_bytes("opus", 1, 8000, 10000, 4, 5))
    b[-1] ^= 0xFF
    r = parse_ogg(bytes(b))
    assert not r["valid"] and r["n_pages"] == 3
    assert r["duration_ms"] == (10000 * 2 // 3) * 1000 // 48000

    df = spark.createDataFrame(
        [(1, flac_bytes(22050, 1, 16, 44100, 1, 4)),
         (2, ogg_bytes("vorbis", 2, 44100, 88200, 3, 9))],
        "doc_id long, payload binary")
    got = {row["doc_id"]: row for row in media_meta(df).collect()}
    assert got[1]["fmt"] == "flac" and got[1]["sample_rate"] == 22050
    assert got[1]["n_samples"] == 44100 and got[1]["duration_ms"] == 2000
    assert got[2]["fmt"] == "ogg" and got[2]["channels"] == 2
    assert got[2]["duration_ms"] == 2000 and got[2]["valid"]


def test_tiff_walker_and_media_meta_route(spark):
    """TIFF (r9): IFD chain walk in both byte orders, SHORT inline
    cells honoring endianness, broken-pointer and cycle guards;
    media_meta routes first-page geometry."""
    import struct

    from lwetl_spark.operators.media import (
        media_meta,
        parse_tiff,
        tiff_bytes,
        tiff_pages,
    )

    for little in (True, False):
        pages = [(100, 80, 8, 1), (64, 48, 16, 5)]
        r = parse_tiff(tiff_bytes(pages, little))
        assert r["valid"] and r["byte_order"] == ("II" if little else "MM")
        for got, (w, h, bits, c) in zip(r["pages"], pages):
            assert (got["width"], got["height"], got["bits"],
                    got["compression"]) == (w, h, bits, c)
    bb = bytearray(tiff_bytes([(10, 10, 8, 1)], True))
    first = struct.unpack("<I", bb[4:8])[0]
    bb[-4:] = struct.pack("<I", first)  # cycle
    r = parse_tiff(bytes(bb))
    assert not r["valid"] and len(r["pages"]) == 1
    assert parse_tiff(b"II\x2b\x00" + bytes(8)) is None  # BigTIFF: no

    df = spark.createDataFrame(
        [(1, tiff_bytes([(33, 21, 8, 1)], False)),
         (2, b"II\x2a\x00" + bytes(2))],
        "doc_id long, payload binary")
    got = {row["doc_id"]: row for row in media_meta(df).collect()}
    assert got[1]["fmt"] == "tiff" and (got[1]["width"],
                                        got[1]["height"]) == (33, 21)
    assert got[1]["valid"]
    assert got[2]["fmt"] == "tiff" and got[2]["valid"] is False
    out = {}
    for row in tiff_pages(df).collect():
        out.setdefault(row["doc_id"], []).append(row)
    assert len(out[1]) == 1 and out[1][0]["byte_order"] == "MM"
    assert out[2][0]["page_idx"] == -1


def test_pdf_census_and_text_extraction(spark):
    """PDF (r9): census (version/objects/pages/xref/%%EOF), raw and
    FlateDecode content streams, Tj + TJ-array text operators, PDF
    string escapes, foreign-filter and corrupt-stream skips."""
    import zlib

    from lwetl_spark.operators.media import (
        extract_pdf_text,
        parse_pdf,
        pdf_bytes,
        pdf_text,
    )

    b = pdf_bytes(["Hello world 42", "Second page"], deflate=False)
    c = parse_pdf(b)
    assert (c["version"], c["n_pages"], c["n_objects"],
            c["encrypted"], c["valid"]) == ("1.7", 2, 6, False, True)
    assert extract_pdf_text(b) == ["Hello world 42", "Second page"]
    assert extract_pdf_text(
        pdf_bytes(["Deflated body"], deflate=True)) == ["Deflated body"]

    # hand-built stream: TJ array with kerning numbers + escapes
    content = (rb"BT [ (Hel) -20 (lo\(esc\)) 5 (\134end) ] TJ "
               rb"(line\n2) Tj ET")
    raw = (b"%PDF-1.4\n1 0 obj << /Type /Page >> endobj\n"
           + (b"2 0 obj << /Length %d >>\nstream\n" % len(content))
           + content + b"\nendstream endobj\n"
           b"xref\ntrailer\nstartxref\n0\n%%EOF\n")
    got = extract_pdf_text(raw)
    assert got == ["Hello(esc)\\end", "line\n2"], got

    # foreign filter skipped; corrupt Flate skipped; both keep going
    okpart = (b"%PDF-1.5\n"
              b"1 0 obj << /Length 4 /Filter /DCTDecode >>\n"
              b"stream\nabcd\nendstream endobj\n"
              b"2 0 obj << /Length 9 /Filter /FlateDecode >>\n"
              b"stream\nbadzlib!!\nendstream endobj\n"
              b"3 0 obj << /Length 20 >>\nstream\n(still here) Tj\n"
              b"endstream endobj\n%%EOF\n")
    assert extract_pdf_text(okpart) == ["still here"]
    assert parse_pdf(b"not a pdf") is None
    # encrypted flag
    enc = b + b"\n%% /Encrypt in a comment counts structurally\n"
    assert parse_pdf(enc)["encrypted"]

    df = spark.createDataFrame(
        [(1, pdf_bytes(["Spark row"], deflate=True)), (2, b"nope")],
        "doc_id long, payload binary")
    got2 = {r["doc_id"]: r for r in pdf_text(df).collect()}
    assert got2[1]["text"] == "Spark row" and got2[1]["valid"]
    assert got2[2]["version"] is None and got2[2]["valid"] is False


def test_avi_census_and_srt_cues(spark):
    """AVI RIFF walk (avih geometry/timing, audio-stream flag) and
    the pure-JVM SRT cue parser (timestamp math, multi-line text,
    per-cue failure contract)."""
    from lwetl_spark.operators.media import (
        avi_bytes,
        media_meta,
        parse_avi,
        srt_cues,
        synth_srt_demo,
    )

    r = parse_avi(avi_bytes(320, 240, 100, 33333, True))
    assert (r["width"], r["height"], r["n_frames"], r["n_streams"],
            r["has_audio"]) == (320, 240, 100, 2, True)
    assert r["duration_ms"] == 3333 and r["valid"]
    assert parse_avi(avi_bytes(160, 120, 10, 40000, False))[
        "has_audio"] is False
    assert parse_avi(avi_bytes(320, 240, 9, 1, True)[:60]) is None
    assert parse_avi(b"RIFF\x04\x00\x00\x00WAVE") is None

    df = spark.createDataFrame(
        [(1, avi_bytes(640, 480, 30, 33333, True))],
        "doc_id long, payload binary")
    m = media_meta(df).collect()[0]
    assert m["fmt"] == "avi" and (m["width"], m["height"]) == (640, 480)
    assert m["duration_ms"] == 999 and m["valid"]

    docs = spark.range(40).select(F.col("id").alias("doc_id"))
    out = srt_cues(synth_srt_demo(docs))
    rows = {(r["doc_id"], r["cue_idx"]): r for r in out.collect()}
    r7 = rows[(7, 1)]
    assert r7["start_ms"] == 61007 and r7["end_ms"] == 61514
    assert r7["text"] == "Cue 1 of doc 7\nline two 8" and r7["valid"]
    bad = rows[(17, 0)]
    assert bad["valid"] is False and bad["start_ms"] is None
    assert bad["text"] == "Cue 0 of doc 17"
    # hand-written SRT with CRLF line endings and an hour-scale stamp
    hand = ("5\r\n01:02:03,456 --> 01:02:04,000\r\nHello\r\nWorld\r\n"
            "\r\n6\r\nbroken line\r\nX")
    df2 = spark.createDataFrame([(9, hand)], "doc_id long, srt string")
    got = {r["cue_idx"]: r for r in srt_cues(df2).collect()}
    assert got[0]["start_ms"] == 3723456 and got[0]["end_ms"] == 3724000
    assert got[0]["text"] == "Hello\nWorld" and got[0]["valid"]
    assert got[1]["valid"] is False and got[1]["text"] == "X"


def test_tiff_pixel_strip_decode(spark):
    """TIFF strip decode (r9): uncompressed gray strips value-check in
    both byte orders; compressed/overrun/short strips are honest
    NULLs."""
    import struct

    from lwetl_spark.operators.media import (
        synth_tiff_px_demo,
        tiff_bytes,
        tiff_pixel_stats,
    )

    for little in (True, False):
        b = tiff_bytes([(10, 8, 8, 1), (12, 9, 8, 1)], little, seed=33)
        df = spark.createDataFrame([(1, b)], "doc_id long, payload binary")
        r = tiff_pixel_stats(df).collect()[0]
        exp = []
        for p, (w, h) in enumerate([(10, 8), (12, 9)]):
            exp += [(33 + 7 * rr + 13 * cc + 19 * p) % 256
                    for rr in range(h) for cc in range(w)]
        assert (r["n_px"], r["sum_px"], r["min_px"], r["max_px"]) == (
            len(exp), sum(exp), min(exp), max(exp))
        assert (r["width"], r["height"], r["n_pages"]) == (10, 8, 2)
    # LZW and PackBits pages decode for real (r10 — retires the r9
    # 'out of scope' caveat); a foreign compression (7, TIFF-JPEG)
    # stays an honest NULL
    exp2 = [(3 + 7 * rr + 13 * cc) % 256
            for rr in range(8) for cc in range(10)]
    for comp in (5, 32773):
        b2 = tiff_bytes([(10, 8, 8, comp)], True, seed=3)
        df2 = spark.createDataFrame([(1, b2)],
                                    "doc_id long, payload binary")
        r2 = tiff_pixel_stats(df2).collect()[0]
        assert (r2["n_px"], r2["sum_px"], r2["min_px"],
                r2["max_px"]) == (len(exp2), sum(exp2), min(exp2),
                                  max(exp2)), comp
    b2j = tiff_bytes([(10, 8, 8, 7)], True, seed=3)
    df2j = spark.createDataFrame([(1, b2j)], "doc_id long, payload binary")
    assert tiff_pixel_stats(df2j).collect()[0]["n_px"] is None
    # strip overruns the payload -> NULL, not IndexError
    b3 = bytearray(tiff_bytes([(10, 8, 8, 1)], True, seed=3))
    # first IFD entry 273 (strip offset) -> point past the end
    r3 = spark.createDataFrame(
        [(1, bytes(b3[:40]))], "doc_id long, payload binary")
    assert tiff_pixel_stats(r3).collect()[0]["n_px"] is None
    # the fixture's corrupt leg really NULLs
    docs = spark.range(26).select(F.col("id").alias("doc_id"))
    got = {r["doc_id"]: r for r in
           tiff_pixel_stats(synth_tiff_px_demo(docs)).collect()}
    assert got[0]["n_px"] is None and got[25]["n_px"] is None
    assert got[1]["n_px"] is not None


def test_image_dhash_routes_gif_and_tiff(spark):
    """Perceptual dedup spans formats (r9): the SAME pixel content
    encoded as PNG and as an uncompressed-strip TIFF produces the
    SAME dhash; GIF frames hash too; corrupt routes stay ok=false."""
    import numpy as np

    from lwetl_spark.operators.media import (
        _make_png_codec,
        gif_lzw_bytes,
        image_dhash,
        tiff_bytes,
    )

    _, png_encode = _make_png_codec()
    # reproduce tiff_bytes' seeded pixel model as a PNG
    w, h, seed = 24, 16, 9
    px = np.array([[(seed + 7 * r + 13 * c) % 256 for c in range(w)]
                   for r in range(h)], dtype=np.uint8)
    png = png_encode(px)
    tif = tiff_bytes([(w, h, 8, 1)], True, seed=seed)
    gif = gif_lzw_bytes(12, 10, 5, 7, 1)
    df = spark.createDataFrame(
        [(1, png), (2, tif), (3, gif), (4, b"II\x2a\x00" + bytes(4))],
        "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in image_dhash(df).collect()}
    assert got[1]["ok"] and got[2]["ok"]
    assert got[1]["dhash"] == got[2]["dhash"]  # format-independent
    assert (got[2]["width"], got[2]["height"]) == (w, h)
    assert got[3]["ok"] and got[3]["width"] == 12
    assert got[4]["ok"] is False


def test_vtt_cues_dialect(spark):
    """WebVTT (r9): header strip, optional hours, optional identifier
    line, align metadata after the end stamp, per-cue failure."""
    from lwetl_spark.operators.media import vtt_cues

    doc = ("WEBVTT - demo\n\n"
           "intro-cue\n00:01.500 --> 00:04.000\nHello world\n\n"
           "01:02:03.456 --> 01:02:04.000 align:start\n"
           "No id line\nsecond line\n\n"
           "badcue\nnot a timestamp\nX")
    df = spark.createDataFrame([(1, doc)], "doc_id long, vtt string")
    rows = vtt_cues(df).orderBy("cue_idx").collect()
    assert rows[0]["start_ms"] == 1500 and rows[0]["end_ms"] == 4000
    assert rows[0]["text"] == "Hello world" and rows[0]["valid"]
    assert rows[1]["start_ms"] == 3723456
    assert rows[1]["text"] == "No id line\nsecond line"
    assert rows[2]["valid"] is False and rows[2]["text"] == "X"


def test_epub_chapters_contract(spark):
    """EPUB (r9): mimetype spec contract (first member, stored, exact
    content), chapter extraction, corrupt-shard and non-zip legs."""
    from lwetl_spark.operators.media import (
        epub_chapters,
        synth_epub_demo,
        zip_bytes,
    )

    docs = spark.range(24).select(F.col("id").alias("doc_id"))
    out = epub_chapters(synth_epub_demo(docs))
    rows = {}
    for r in out.collect():
        rows.setdefault(r["doc_id"], []).append(r)
    # doc 1: 3 chapters (1%3=1 -> 2+1), all valid
    assert len(rows[1]) == 3 and all(r["valid"] for r in rows[1])
    assert "Chapter 2" in [r["xhtml"] for r in rows[1]
                           if r["chapter_idx"] == 2][0]
    # doc 0: corrupt leg (0%23==0): last chapter gone, valid=false
    assert len(rows[0]) == 1 and rows[0][0]["valid"] is False
    # wrong mimetype -> valid False on every row
    bad = zip_bytes([
        ("mimetype", b"text/plain", "stored"),
        ("OEBPS/ch0.xhtml", b"<p>x</p>", "deflate"),
    ])
    df = spark.createDataFrame(
        [(9, bad), (10, b"not zip")], "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in epub_chapters(df).collect()}
    assert got[9]["ok"] and got[9]["valid"] is False
    assert got[10]["chapter_idx"] == -1 and got[10]["valid"] is False
    # deflated (non-stored) mimetype also violates the spec
    bad2 = zip_bytes([
        ("mimetype", b"application/epub+zip", "deflate"),
        ("OEBPS/ch0.xhtml", b"<p>x</p>", "deflate"),
    ])
    df2 = spark.createDataFrame([(1, bad2)], "doc_id long, payload binary")
    assert epub_chapters(df2).collect()[0]["valid"] is False


def test_gif_truncated_color_table_returns_none():
    """Heavy-fuzz regression (r9): a GIF cut mid-color-table must
    return None from the pixel decoder (the truncation check runs
    BEFORE the (-1,3) reshape), and a mid-LCT cut likewise."""
    from lwetl_spark.operators.media import gif_decode_pixels, gif_lzw_bytes

    b = gif_lzw_bytes(8, 7, 9, 7, 1)
    assert gif_decode_pixels(b[:15]) is None      # inside the GCT
    assert gif_decode_pixels(b[:13]) is None      # GCT fully absent


def test_null_payload_never_kills_any_media_op(spark):
    """A NULL payload cell (real tables have them) must behave like an
    unparseable payload in EVERY media operator — r9 sweep: before
    this pin, 27 of 28 ops died with TypeError('bytes(None)').  The
    full output of every op is pinned: NULL, junk and empty payloads
    each get the op's own sentinel row, or no row at all."""
    from lwetl_spark.operators import media as M

    df = spark.createDataFrame(
        [(1, None), (2, b"GIF89a junk"), (3, b"")],
        "doc_id long, payload binary")
    n = (None,)
    # the fields after doc_id of each payload's one sentinel row
    sentinel = {
        "media_meta": ("unknown",) + n * 6 + (False,),
        "gif_pixel_stats": n * 7,
        "png_pixel_stats": n * 6,
        "jpeg_pixel_stats": n * 6,
        "zip_member_contents": (-1,) + n * 4 + (False, False),
        "flac_meta": n * 6 + (False,),
        "ogg_meta": n * 5 + (False,),
        "tiff_pages": (-1,) + n * 5 + (False,),
        "tiff_pixel_stats": n * 7,
        "avi_meta": n * 4 + (False, None, False),
        "pdf_text": n * 3 + (False, None, False),
        "image_dhash": n * 3 + (False,),
        "gif_meta": n * 5 + (False, False),
        "mp3_meta": n * 7 + (False,),
        "epub_chapters": (-1, None, False, False),
        "warc_records": (-1,) + n * 4 + (False,),
        "png_thumbnails": (16, 16, None, False),
        "exif_meta": n * 7 + (False,),
        "mp4_meta": (None, 0) + n * 8 + (False,),
        "mkv_meta": n * 9 + (False,),
        "gunzip_text": n * 2 + (False,),
        "wav_pcm_stats": n * 4,
        # r10 additions join the roster
        "pdf_image_stats": (-1,) + n * 7 + (False,),
        "image_captions": (-1, "none", "none", "none"),
        "id3_tags": n * 6 + (False,),
        # r11 and later ops
        "aac_meta": n * 7 + (False,),
        "heif_meta": n * 4 + (False,),
        "ico_meta": (-1,) + n * 4 + (False,),
        "wav_downsample": n * 3 + (False,),
    }
    for name, sent in sentinel.items():
        got = sorted(tuple(r) for r in getattr(M, name)(df).collect())
        assert got == [(i,) + sent for i in (1, 2, 3)], name
    # frame/member/record extractors emit nothing for such payloads
    for name in ("tar_member_index", "video_fingerprint",
                 "mp4_frame_index", "mkv_frame_index", "warc_payloads",
                 "tar_member_payloads"):
        assert getattr(M, name)(df).collect() == [], name
    # the charset sniffer decodes whatever bytes there are (NULL as "")
    got = sorted(tuple(r) for r in M.sniff_decode_html(df).collect())
    assert got == [(1, "", "utf-8"), (2, "GIF89a junk", "utf-8"),
                   (3, "", "utf-8")]


def test_media_worker_closures_pickle_by_value(spark, monkeypatch,
                                              tmp_path):
    """Every function a media op ships to Python workers must pickle BY
    VALUE: the workers of a session started outside the repo cannot
    import lwetl_spark, so a closure that refers to a module-level
    media function dies there with ModuleNotFoundError.  Spy on
    mapInPandas while building every op's plan, then load all shipped
    functions in a fresh interpreter that cannot see the repo."""
    import inspect
    import os
    import pickle
    import subprocess
    import sys

    from pyspark import cloudpickle

    from lwetl_spark.operators import media as M

    cls = type(spark.range(1))
    real = cls.mapInPandas
    shipped = []

    def spy(self, func, *args, **kwargs):
        shipped.append(func)
        return real(self, func, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInPandas", spy)
    frame = spark.createDataFrame(
        [], "doc_id long, payload binary, rec_idx long, text string,"
            " dhash string, srt string, svg string, vtt string")
    for name, fn in sorted(vars(M).items()):
        if (name.startswith("_") or not inspect.isfunction(fn)
                or fn.__module__ != M.__name__):
            continue
        params = list(inspect.signature(fn).parameters)
        if params[:1] in (["df"], ["docs"]):
            fn(frame)
    assert len(shipped) >= 80

    blobs = tmp_path / "closures.pkl"
    blobs.write_bytes(pickle.dumps(
        [(f.__qualname__, cloudpickle.dumps(f)) for f in shipped]))
    loader = (
        "import importlib.util, pickle, sys\n"
        "assert importlib.util.find_spec('lwetl_spark') is None\n"
        "bad = []\n"
        "for name, blob in pickle.load(open(sys.argv[1], 'rb')):\n"
        "    try:\n"
        "        pickle.loads(blob)\n"
        "    except Exception as e:\n"
        "        bad.append(f'{name}: {e!r}')\n"
        "print('\\n'.join(bad))\n"
        "sys.exit(1 if bad else 0)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    got = subprocess.run([sys.executable, "-c", loader, str(blobs)],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True)
    assert got.returncode == 0, got.stdout + got.stderr


def test_thumbnails_route_all_decodable_formats(spark):
    """Thumbnailing (r9): JPEG/GIF/TIFF sources resize through the
    same resample and re-encode as PNG, so downstream sees one
    format; identical pixel content thumbnails identically whatever
    the container."""
    import numpy as np

    from lwetl_spark.operators.media import (
        _make_png_codec,
        gif_lzw_bytes,
        jpeg_baseline_bytes,
        png_thumbnails,
        tiff_bytes,
    )

    dec, enc = _make_png_codec()
    w, h, seed = 24, 16, 9
    px = np.array([[(seed + 7 * r + 13 * c) % 256 for c in range(w)]
                   for r in range(h)], dtype=np.uint8)
    rows = [
        (1, enc(px)),
        (2, tiff_bytes([(w, h, 8, 1)], True, seed=seed)),
        (3, gif_lzw_bytes(12, 10, 5, 7, 1)),
        (4, jpeg_baseline_bytes(16, 8, [(10, 3), (-5, 2)])),
        (5, b"not an image"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in
           png_thumbnails(df, width=4, height=4).collect()}
    assert got[1]["ok"] and got[2]["ok"] and got[3]["ok"] and got[4]["ok"]
    assert got[5]["ok"] is False and got[5]["thumb"] is None
    # same pixels, different container -> byte-identical PNG thumbs
    assert bytes(got[1]["thumb"]) == bytes(got[2]["thumb"])
    # every thumb decodes back as a real 4x4 PNG
    for d in (1, 2, 3, 4):
        t = dec(bytes(got[d]["thumb"]))
        assert t is not None and t.shape[:2] == (4, 4)


def test_png_subbyte_decode():
    """Depth-1/2/4 PNG (r9, the LAST PNG form): byte-level filters at
    the 1-byte offset, MSB-first unpack, pad-bit discard at off-
    boundary widths, 4-bit palette mapping, and a hand-built Adam7
    1-bit image."""
    import struct
    import zlib

    from lwetl_spark.operators.media import _make_png_codec, png_sub_bytes

    dec, _ = _make_png_codec()
    for d in (1, 2, 4):
        px = dec(png_sub_bytes(13, 7, 200, d))
        for r in range(7):
            for c in range(13):
                assert int(px[r, c]) == (200 + 7 * r + 13 * c) % (1 << d)
    px = dec(png_sub_bytes(9, 5, 4, 4, n_pal=7))
    p = (4 + 7 * 2 + 13 * 3) % 7
    assert tuple(int(v) for v in px[2, 3]) == (
        (3 * p + 11) % 256, (5 * p + 29) % 256, (7 * p + 47) % 256)
    # sub-byte RGB is a spec violation -> None
    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))
    bad = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(8)))
           + chunk(b"IEND", b""))
    assert dec(bad) is None
    # hand-built Adam7 1-bit 4x4: pixel = (r+c) % 2 (checkerboard)
    passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    raw = bytearray()
    for x0, y0, xs, ys in passes:
        pw = (4 - x0 + xs - 1) // xs
        ph = (4 - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        for pr in range(ph):
            raw.append(0)
            byte = 0
            for pc in range(pw):
                r, c = y0 + pr * ys, x0 + pc * xs
                byte |= ((r + c) % 2) << (7 - pc)
            raw.append(byte)
    b7 = (b"\x89PNG\r\n\x1a\n"
          + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 1, 0, 0, 0, 1))
          + chunk(b"IDAT", zlib.compress(bytes(raw)))
          + chunk(b"IEND", b""))
    px = dec(b7)
    for r in range(4):
        for c in range(4):
            assert int(px[r, c]) == (r + c) % 2


def test_ico_census(spark):
    """ICO (r9): directory walk with the 0->256 dim rule, inner PNG
    vs DIB sniff, and the lying-offset leg keeping the catalog."""
    import struct

    from lwetl_spark.operators.media import ico_bytes, ico_meta, parse_ico

    b = ico_bytes([(16, 16, "png"), (256, 256, "png"), (32, 32, "dib")])
    r = parse_ico(b)
    assert r["valid"] and [i["width"] for i in r["icons"]] == [16, 256, 32]
    assert [i["inner"] for i in r["icons"]] == ["png", "png", "dib"]
    bb = bytearray(b)
    bb[6 + 16 * 2 + 12 : 6 + 16 * 2 + 16] = struct.pack("<I", len(b) + 9)
    r2 = parse_ico(bytes(bb))
    assert not r2["valid"] and r2["icons"][2]["inner"] == "unknown"
    assert parse_ico(b"xx") is None
    df = spark.createDataFrame(
        [(1, b), (2, b"not ico at all!!")], "doc_id long, payload binary")
    got = {}
    for row in ico_meta(df).collect():
        got.setdefault(row["doc_id"], []).append(row)
    assert len(got[1]) == 3 and got[1][1]["width"] == 256
    assert got[2][0]["icon_idx"] == -1 and got[2][0]["valid"] is False
