"""Byte pins for the media fixture encoders.

Every PNG and WAV the media module writes goes through one container
writer, one scanline filter and one WAV writer.  These digests pin the
exact bytes of every public generator built on them, called directly
and through the ``synth_*`` fixtures over ids 0-15, plus the two ops
that re-encode (``png_thumbnails``, ``wav_downsample``).  A refactor of
the shared writers must leave every digest unchanged."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from lwetl_spark.operators import media as M


def _digest(parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(len(p).to_bytes(8, "little"))
        h.update(p)
    return h.hexdigest()


def _cell(v) -> bytes:
    if isinstance(v, (bytes, bytearray)):
        return b"B" + bytes(v)
    return b"V" + repr(v).encode()


def _frame_digest(df) -> str:
    rows = [b"\x1f".join(_cell(v) for v in r) for r in df.collect()]
    return _digest(sorted(rows))


def _codec_encode():
    return M._make_png_codec()[1]


def _helper_payloads():
    enc = _codec_encode()
    wav_enc = M._make_wav_codec()[1]
    return {
        "png_bytes": [M.png_bytes(1 + i % 9, 1 + i % 5) for i in range(16)],
        "png_bytes_pattern": [
            M.png_bytes_pattern(2 + i % 16, 1 + i % 8, 31 * i % 256)
            for i in range(16)],
        "png_color_bytes": [
            M.png_color_bytes(1 + i % 12, 1 + i % 6, 17 * i % 256)
            for i in range(16)],
        "png_palette_bytes": [
            M.png_palette_bytes(1 + i % 10, 1 + i % 8, i, 1 + i % 17)
            for i in range(16)],
        "png_adam7_bytes": [
            M.png_adam7_bytes(1 + i % 13, 1 + i % 7, 5 * i)
            for i in range(16)],
        "png16_bytes": [
            M.png16_bytes(1 + i % 11, 1 + i % 6, i, 1 if i % 2 else 3)
            for i in range(16)],
        "png_sub_bytes": [
            M.png_sub_bytes(1 + i % 12, 1 + i % 7, 3 * i, d,
                            (1 + i % (1 << d)) if i % 2 else 0)
            for i in range(16) for d in (1, 2, 4)],
        "ico_bytes": [
            M.ico_bytes([(16 + 16 * (i % 3), 16, "png"),
                         (8 + i, 8, "dib" if i % 2 else "png")])
            for i in range(16)],
        "wav_bytes": [M.wav_bytes(8000 + 100 * i, 1 + i % 2, 3 * i)
                      for i in range(16)],
        "wav_pcm_bytes": [
            M.wav_pcm_bytes(8000 + i, [(97 * i + 13 * j) % 65536 - 32768
                                       for j in range(2 * i + 2)],
                            1 + i % 2)
            for i in range(16)],
        "png_codec_encode": [
            enc(np.fromfunction(
                lambda *ix: (i + 7 * ix[0] + 13 * ix[1]
                             + (89 * ix[2] if len(ix) > 2 else 0)) % 256,
                shape, dtype=np.int64).astype(np.uint8))
            for i in range(16)
            for shape in [(1 + i % 5, 2 + i % 7)]
            + [(1 + i % 4, 1 + i % 6, ch) for ch in (2, 3, 4)]
        ] + [
            enc(np.fromfunction(
                lambda r, c: (257 * i + 131 * r + 241 * c) % 65536,
                (1 + i % 5, 1 + i % 4), dtype=np.int64).astype(np.uint16))
            for i in range(16)],
        "wav_codec_encode": [
            wav_enc(8000 + i, 1 + i % 2,
                    [(31 * i + 17 * j) % 65536 - 32768
                     for j in range(2 * (i + 1))])
            for i in range(16)],
    }


HELPER_DIGESTS = {
    "png_bytes":
        "1a9749b9086c5f52a6c207e955d45f8687172f3ae2d5fd96276992e9404c5a9c",
    "png_bytes_pattern":
        "f0c0563fdb3ff8279fbfb30bb2092cd339a87d7ea8961bfa89887e578b58e2e9",
    "png_color_bytes":
        "a1b86e41c6668ea44397f18a063136f058e904504e7ae46b8eabecf932859fc3",
    "png_palette_bytes":
        "966dfc23d10420d4ae2cfb5f6c5a3aaead7fb9b31c60c1051cd2fce1f35842d9",
    "png_adam7_bytes":
        "81e689d6084c7867bd0e6b755647782ee282bd2441dc2eacede61776515bb5af",
    "png16_bytes":
        "90f57cd7913df5833adaed4a397b048b6d18a29c4b0b676a5d1069f22a3d578a",
    "png_sub_bytes":
        "3ef30c82102a12a686608885d05eb78f05c3a6d38dce74b139267f386d9acf82",
    "ico_bytes":
        "b4008b5eeeee07891841ab7705a89f40c478a5c63280260988a9aeefeffd192d",
    "wav_bytes":
        "404b4f04d9636bff6a8235996d2a79ab946e5d3e39d3fb2196f50aa95536cc88",
    "wav_pcm_bytes":
        "32c60cfc552d0ffc3b7866228c5e8c482fb1c6614610f6d1206c7bfa830c75f3",
    "png_codec_encode":
        "bf8670bd12a5a3f75f665625b99c13cff8d358b2920e358d95b309b7c04a4117",
    "wav_codec_encode":
        "c16770522f0caffc6347e03b2d502569dfb6a675ee914da2e8c38134c9e8db1f",
}


def test_helper_bytes_are_pinned():
    got = {k: _digest(v) for k, v in _helper_payloads().items()}
    assert got == HELPER_DIGESTS


SYNTH = [
    "synth_media_demo", "synth_pixel_media_demo", "synth_wav_depth_demo",
    "synth_png_color_demo", "synth_png_palette_demo",
    "synth_png_adam7_demo", "synth_png16_demo", "synth_png_sub_demo",
    "synth_ico_demo", "synth_image_caption_demo", "synth_image_dup_demo",
    "synth_dhash_neardup_demo", "synth_wds_shards",
    "synth_warc_imgtext_demo",
]

SYNTH_DIGESTS = {
    "synth_media_demo":
        "fe5d38f2087724b06a2268778a5dd1db534f868d295e21ed6d321969c07540e8",
    "synth_pixel_media_demo":
        "9dcf70b055afcb4f2dd85b83419e321887736941dc13bebf0ca92ede22d7929e",
    "synth_wav_depth_demo":
        "4fdbc0763bfb38afda99e3d5b5e6b319853bbb9445d715678fc0735e37376fd9",
    "synth_png_color_demo":
        "fac3d208bf7cc4ea044fd99e294e637f6c63dd99b536633648ff602337217a22",
    "synth_png_palette_demo":
        "360b8db4be85a5c2c369337275ad8d2d92d1d4d9b092d7d5471333264eaa270c",
    "synth_png_adam7_demo":
        "da322aed12d2b6b605b02279abcfe25a57a8d98b77817b60f15ef9904f7728f4",
    "synth_png16_demo":
        "2f3c422d3fcc9b66497d2ba7b36ac5e5b4fcf4ea6ab8b6ba39e740e9ae189b9b",
    "synth_png_sub_demo":
        "967c3b7c092907eb78cb256330583b6c808da076e074f5bb69daef77525dd50f",
    "synth_ico_demo":
        "0103cb030cde90669e8e276da147a4ae42f0d1c75a6f47c665748d128cce0763",
    "synth_image_caption_demo":
        "e0afd4b70219c547fcd37dd0d6869efcb5c84c6cea9a4c1e579c9f6b4e7abd26",
    "synth_image_dup_demo":
        "7ccb27247286c5f0d3a4e6da18eb881cb91856ecdcf7ebfefbe1737c277163b5",
    "synth_dhash_neardup_demo":
        "7c148cced576b38e1c4e67c010c367fab4fb8914653596fcd45e2f19bef35b46",
    "synth_wds_shards":
        "324854ae5237512ded9d003fceda3973abe99723542b65a87e9b811e0eb687cf",
    "synth_warc_imgtext_demo":
        "98f539caf34543c4a06ba2053d5a2ad0aaf89590bfee57d03bb1708aa8274f81",
    "png_thumbnails":
        "162dd2511b88f8c2f3cc96451afa655bfc48aa062ba6f140510d17193477061c",
    "wav_downsample":
        "b93ef03a656ec61a7da49a6db452cffa0fe5150b53afd1e7caaa2a6d5c3de2d5",
}


@pytest.fixture(scope="module")
def synth_digests(spark):
    ids = spark.range(16)
    got = {name: _frame_digest(getattr(M, name)(ids, id_col="id"))
           for name in SYNTH}
    pixels = M.synth_pixel_media_demo(ids, id_col="id")
    got["png_thumbnails"] = _frame_digest(M.png_thumbnails(pixels, 5, 3))
    got["wav_downsample"] = _frame_digest(M.wav_downsample(pixels, 3))
    return got


@pytest.mark.parametrize("name", sorted(SYNTH_DIGESTS))
def test_synth_bytes_are_pinned(synth_digests, name):
    assert synth_digests[name] == SYNTH_DIGESTS[name]
