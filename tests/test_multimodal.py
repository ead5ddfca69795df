"""Multimodal plumbing tests: decode UDF shape, determinism,
real-codec stub behavior."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from clara_ocr_spark.sources.multimodal import (
    _decode_one,
    decode,
    encode_fake,
    make_media,
)


def test_decode_shapes_and_determinism(spark):
    media = make_media(spark, n=48)
    d1 = decode(media)
    rows = {r.media_id: r for r in d1.collect()}
    assert len(rows) == 48
    for r in rows.values():
        assert r.width >= 32 and r.height >= 32
        assert len(r.features) == 8
        assert abs(sum(r.features) - 1.0) < 1e-5  # normalized histogram
    rows2 = {r.media_id: r for r in decode(media).collect()}
    assert all(rows[k].features == rows2[k].features for k in rows)


def test_kind_distribution_and_frames(spark):
    media = make_media(spark, n=30)
    d = decode(media)
    kinds = {r.kind for r in d.collect()}
    assert kinds == {"image", "audio", "video"}
    assert d.filter((F.col("kind") == "image") & (F.col("frames") != 1)).count() == 0


def test_real_codec_stub_raises():
    # baseline JPEG now decodes natively (sources/jpeg.py); a
    # malformed JPEG is corrupt media (ValueError), while formats
    # with no native path (e.g. WebP) stay Pillow-gated
    with pytest.raises(ValueError):
        _decode_one(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
    with pytest.raises(NotImplementedError, match="Pillow"):
        _decode_one(b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"\x00" * 16)


# -- real PNG decode (stdlib zlib + numpy filter reconstruction) --------


def _gradient(h, w, ch):
    import numpy as np

    y, x, c = np.meshgrid(
        np.arange(h), np.arange(w), np.arange(ch), indexing="ij"
    )
    return ((x * 7 + y * 13 + c * 29) % 256).astype(np.uint8)


def test_png_roundtrip_golden():
    """Real image bytes → decode → exact pixel recovery (VERDICT r2
    item 5): encode a deterministic gradient as PNG, decode with the
    stdlib path, require byte-identical pixels and a pinned feature
    histogram."""
    import numpy as np

    from clara_ocr_spark.sources.multimodal import (
        _feature_hist,
        encode_png,
    )

    for color_type, ch in ((0, 1), (2, 3), (6, 4)):
        px = _gradient(40, 24, ch)
        if ch == 1:
            px = px[:, :, 0]
        blob = encode_png(px, color_type)
        w, h, frames, body = _decode_one(blob)
        assert (w, h, frames) == (24, 40, 1)
        assert body == np.asarray(px, dtype=np.uint8).tobytes()
    # pinned golden: 8-bin histogram of the RGB gradient is uniform to
    # within one step (the mod-256 ramp covers byte space evenly)
    hist = _feature_hist(_decode_one(encode_png(_gradient(40, 24, 3)))[3])
    assert len(hist) == 8 and abs(sum(hist) - 1.0) < 1e-6
    assert max(hist) - min(hist) < 0.02


def test_png_filtered_scanlines_decode():
    """Filters 1-4 (Sub/Up/Average/Paeth) reconstruct exactly: build a
    PNG whose scanlines use each filter, via a reference filterer."""
    import struct as st
    import zlib

    import numpy as np

    from clara_ocr_spark.sources.multimodal import _PNG_SIG

    px = _gradient(5, 6, 3)
    h, w, ch = px.shape
    stride = w * ch
    flat = px.reshape(h, stride).astype(np.int32)
    raws = []
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = y % 5
        cur = flat[y]
        if f == 0:
            enc = cur.copy()
        elif f == 1:
            enc = cur.copy()
            enc[ch:] = (cur[ch:] - cur[:-ch]) % 256
        elif f == 2:
            enc = (cur - prev) % 256
        elif f == 3:
            enc = cur.copy()
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                enc[x] = (cur[x] - ((a + prev[x]) >> 1)) % 256
        else:
            enc = cur.copy()
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (cur[x] - pr) % 256
        raws.append(bytes([f]) + enc.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype, data):
        return (
            st.pack(">I", len(data)) + ctype + data
            + st.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    blob = (
        _PNG_SIG
        + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(raws)))
        + chunk(b"IEND", b"")
    )
    dw, dh, _, body = _decode_one(blob)
    assert (dw, dh) == (w, h)
    assert body == px.tobytes()


def test_corrupt_media_maps_to_empty_row(spark):
    """Corrupt PNG in the media table: the decode stage emits an empty
    row for it (zero dims, empty features) instead of failing the job."""
    from clara_ocr_spark.sources.multimodal import MEDIA_SCHEMA, encode_png

    good = encode_png(_gradient(8, 8, 3))
    bad = good[:40]  # truncated mid-IHDR/IDAT
    media = spark.createDataFrame(
        [(0, "image", good), (1, "image", bad)], MEDIA_SCHEMA
    )
    rows = {r.media_id: r for r in decode(media).collect()}
    assert rows[0].width == 8 and rows[0].n_bytes == 8 * 8 * 3
    assert rows[1].width == 0 and rows[1].n_bytes == 0


def test_fake_codec_roundtrip():
    blob = encode_fake(7, 2, 100, 50, 24)
    w, h, frames, body = _decode_one(blob)
    assert (w, h, frames) == (100, 50, 24)
    assert len(body) == min(100 * 50, 4096)


def test_png_roundtrip_property():
    """Property: encode→decode is the identity for arbitrary small
    images across all supported color types (hypothesis-driven)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clara_ocr_spark.sources.multimodal import encode_png

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 12),
        st.integers(1, 12),
        st.sampled_from([(0, 1), (2, 3), (4, 2), (6, 4)]),
        st.integers(0, 2**31 - 1),
    )
    def check(h, w, ct_ch, seed):
        color_type, ch = ct_ch
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        arg = px[:, :, 0] if ch == 1 else px
        dw, dh, frames, body = _decode_one(encode_png(arg, color_type))
        assert (dw, dh, frames) == (w, h, 1)
        assert body == px.tobytes()

    check()


def test_png_hostile_headers_raise_valueerror():
    """ADVICE r3: truncated IHDR raised struct.error (escapes the
    corrupt-media handlers) and zero-dim PNGs later divided callers by
    zero. Both must surface as ValueError from the decoder itself."""
    import struct as st
    import zlib

    import pytest

    from clara_ocr_spark.sources.multimodal import _PNG_SIG, _decode_png

    def chunk(ctype, data):
        return (
            st.pack(">I", len(data)) + ctype + data
            + st.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    # signature + IHDR header + only 4 bytes of IHDR data
    truncated = _PNG_SIG + st.pack(">I", 13) + b"IHDR" + b"\x00" * 4
    with pytest.raises(ValueError, match="truncated PNG IHDR"):
        _decode_png(truncated)

    for w, h in ((0, 8), (8, 0), (0, 0)):
        blob = (
            _PNG_SIG
            + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b""))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="zero-dimension"):
            _decode_png(blob)

    # hostile header claiming huge dims with a tiny payload: the
    # pixel-budget bail fires before any allocation
    huge = (
        _PNG_SIG
        + chunk(b"IHDR", st.pack(">IIBBBBB", 1 << 16, 1 << 16, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 64))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="pixel budget"):
        _decode_png(huge)


def test_barcode_scan_survives_hostile_pngs(spark):
    """One malformed crawl payload must yield a NULL barcode, never
    fail the media-scan job (ADVICE r3, both findings end-to-end)."""
    import struct as st
    import zlib

    from clara_ocr_spark.functions.barcode import scan_barcodes
    from clara_ocr_spark.sources.multimodal import _PNG_SIG

    def chunk(ctype, data):
        return (
            st.pack(">I", len(data)) + ctype + data
            + st.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    truncated = _PNG_SIG + st.pack(">I", 13) + b"IHDR" + b"\x00" * 4
    zerodim = (
        _PNG_SIG
        + chunk(b"IHDR", st.pack(">IIBBBBB", 0, 0, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b""))
        + chunk(b"IEND", b"")
    )
    media = spark.createDataFrame(
        [(0, "image", truncated), (1, "image", zerodim)],
        "media_id bigint, kind string, payload binary",
    )
    rows = {r.media_id: r.barcode for r in scan_barcodes(media).collect()}
    assert rows == {0: None, 1: None}


def test_png_wide_image_decode_budget():
    """VERDICT r3 item 3: the filter-reconstruction loop must be
    vectorized — decode of a 2048x2048 RGBA PNG (Sub first row, Up
    runs for the body, a band of Average/Paeth rows for the sequential
    path) completes within a generous-for-VM-noise budget.  The r3
    per-row numpy-scalar loop took minutes on this shape."""
    import struct as st
    import time
    import zlib

    import numpy as np

    from clara_ocr_spark.sources.multimodal import _PNG_SIG

    h = w = 2048
    ch = 4
    stride = w * ch
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(h, stride), dtype=np.uint8)
    raws = []
    prev = np.zeros(stride, dtype=np.int64)
    flat = px.astype(np.int64)
    for y in range(h):
        cur = flat[y]
        if y == 0:
            enc = cur.copy()
            enc[ch:] = (cur[ch:] - cur[:-ch]) % 256
            f = 1
        elif 1000 <= y < 1016:  # Average band
            enc = cur.copy()
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                enc[x] = (cur[x] - ((a + prev[x]) >> 1)) % 256
            f = 3
        elif 1016 <= y < 1032:  # Paeth band
            enc = cur.copy()
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (cur[x] - pr) % 256
            f = 4
        else:
            enc = (cur - prev) % 256
            f = 2
        raws.append(bytes([f]) + enc.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype, data):
        return (
            st.pack(">I", len(data)) + ctype + data
            + st.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    blob = (
        _PNG_SIG
        + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(raws), 1))
        + chunk(b"IEND", b"")
    )
    t0 = time.monotonic()
    dw, dh, _, body = _decode_one(blob)
    dt = time.monotonic() - t0
    assert (dw, dh) == (w, h)
    assert body == px.tobytes()
    assert dt < 10.0, f"wide-image decode took {dt:.1f}s"


def test_wav_roundtrip_mono_and_stereo():
    """Native RIFF/PCM audio decode (stdlib-only, like the PNG/JPEG
    codecs): encode → decode is byte-exact, dims map to the media
    contract as (rate, channels, frames)."""
    import numpy as np

    from clara_ocr_spark.sources.multimodal import _decode_wav, encode_wav

    rng = np.random.default_rng(11)
    mono = rng.integers(-(2**15), 2**15, size=480, dtype=np.int16)
    rate, ch, frames, pcm = _decode_wav(encode_wav(mono, 8000))
    assert (rate, ch, frames) == (8000, 1, 480)
    assert pcm == mono.astype("<i2").tobytes()

    stereo = rng.integers(-(2**15), 2**15, size=(240, 2), dtype=np.int16)
    rate, ch, frames, pcm = _decode_wav(encode_wav(stereo, 44100))
    assert (rate, ch, frames) == (44100, 2, 240)
    assert pcm == stereo.astype("<i2").tobytes()


def test_wav_decodes_through_spark_media_stage(spark):
    """A WAV payload rides the same mapInPandas decode stage as
    images: (width,height,frames) carry (rate,channels,samples)."""
    import numpy as np

    from clara_ocr_spark.sources.multimodal import encode_wav

    t = np.arange(1600)
    tone = (10000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)
    rows = [
        (1, "audio", bytearray(encode_wav(tone, 16000))),
        (2, "audio", bytearray(b"RIFF\x00\x00\x00\x00WAVEjunk")),  # corrupt
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    )
    out = {r.media_id: r for r in decode(media).collect()}
    assert (out[1].width, out[1].height, out[1].frames) == (16000, 1, 1600)
    assert out[1].n_bytes == 3200
    assert out[2].width == 0 and out[2].n_bytes == 0  # corrupt → empty row


def test_wav_codec_gates():
    """Compressed/float WAVE raises NotImplementedError (optional-codec
    gate, same contract as progressive JPEG); malformed raises
    ValueError (corrupt-media policy)."""
    import struct as st

    import numpy as np
    import pytest as pt

    from clara_ocr_spark.sources.multimodal import _decode_wav, encode_wav

    good = bytearray(encode_wav(np.zeros(16, dtype=np.int16), 8000))
    ieee_float = bytearray(good)
    ieee_float[20:22] = st.pack("<H", 3)  # wFormatTag = IEEE float
    with pt.raises(NotImplementedError):
        _decode_wav(bytes(ieee_float))
    bits24 = bytearray(good)
    bits24[34:36] = st.pack("<H", 24)
    with pt.raises(NotImplementedError):
        _decode_wav(bytes(bits24))
    zero_ch = bytearray(good)
    zero_ch[22:24] = st.pack("<H", 0)
    with pt.raises(ValueError):
        _decode_wav(bytes(zero_ch))
    with pt.raises(ValueError):
        _decode_wav(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data


def test_wav_fuzz_only_sanctioned_exceptions_escape():
    """Same hostile-input contract the PNG/JPEG fuzz pins (the ADVICE
    r3 bug class): truncations, bit flips, and garbage after a valid
    RIFF magic raise only ValueError/NotImplementedError."""
    import numpy as np

    from clara_ocr_spark.sources.multimodal import _decode_wav, encode_wav

    rng = np.random.default_rng(23)
    blob = encode_wav(
        rng.integers(-(2**15), 2**15, size=(64, 2), dtype=np.int16), 22050
    )
    n = len(blob)

    def attempt(b):
        try:
            _decode_wav(bytes(b))
        except (ValueError, NotImplementedError):
            pass

    for cut in range(n):
        attempt(blob[:cut])
    for _ in range(400):
        m = bytearray(blob)
        i = int(rng.integers(0, n))
        m[i] ^= int(rng.integers(1, 256))
        attempt(m)
    for _ in range(200):
        garbage = bytes(rng.integers(0, 256, size=64, dtype=np.uint8))
        attempt(b"RIFF" + garbage[:4] + b"WAVE" + garbage[8:])


def test_avi_mjpeg_roundtrip():
    """Real video decode: MJPEG-in-AVI container walk + per-frame
    decode through the from-scratch JPEG codec.  Gray ramp frames at
    quality 100 survive DCT round-trip closely; dims/frame-count are
    exact."""
    import numpy as np

    from clara_ocr_spark.sources.multimodal import _decode_avi, encode_avi_mjpeg

    base = np.tile(np.arange(48, dtype=np.uint8) * 5, (32, 1))
    frames = [(base + 20 * i).astype(np.uint8) for i in range(5)]
    blob = encode_avi_mjpeg(frames, fps=10, quality=100)
    w, h, n, body = _decode_avi(blob)
    assert (w, h, n) == (48, 32, 5)
    got = np.frombuffer(body, dtype=np.uint8).reshape(5, 32, 48)
    for i in range(5):
        err = np.abs(got[i].astype(int) - frames[i].astype(int))
        assert err.max() <= 12, f"frame {i} max err {err.max()}"


def test_avi_decodes_through_spark_media_stage(spark):
    """AVI rides the same mapInPandas decode stage as images: frame
    count and dims come from the RIFF walk; a corrupt container maps
    to an empty row."""
    import numpy as np

    from clara_ocr_spark.sources.multimodal import decode, encode_avi_mjpeg

    rng = np.random.default_rng(5)
    frames = [
        np.full((16, 24), 60 + 10 * i, dtype=np.uint8) for i in range(8)
    ]
    rows = [
        (1, "video", bytearray(encode_avi_mjpeg(frames, fps=5))),
        (2, "video", bytearray(b"RIFF\x00\x00\x00\x00AVI junk")),  # corrupt
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    )
    d = decode(media)
    out = {r.media_id: r for r in d.collect()}
    assert (out[1].width, out[1].height, out[1].frames) == (24, 16, 8)
    assert out[1].n_bytes == 24 * 16 * 8
    assert out[2].width == 0 and out[2].n_bytes == 0


def test_avi_codec_and_hostility_gates():
    """Non-MJPEG fourcc → NotImplementedError (optional-codec gate);
    varying frame dims / no frames / truncations → ValueError only."""
    import numpy as np
    import pytest as pt

    from clara_ocr_spark.sources.multimodal import _decode_avi, encode_avi_mjpeg

    frames = [np.full((8, 8), 100, dtype=np.uint8)] * 2
    blob = bytearray(encode_avi_mjpeg(frames))
    i = blob.find(b"vidsMJPG")
    assert i > 0
    other = bytearray(blob)
    other[i + 4 : i + 8] = b"H264"
    with pt.raises(NotImplementedError):
        _decode_avi(bytes(other))
    with pt.raises(ValueError):
        _decode_avi(b"RIFF\x04\x00\x00\x00AVI ")  # no frames

    rng = np.random.default_rng(31)
    n = len(blob)
    for cut in range(n):
        try:
            _decode_avi(bytes(blob[:cut]))
        except (ValueError, NotImplementedError):
            pass
    for _ in range(300):
        m = bytearray(blob)
        j = int(rng.integers(0, n))
        m[j] ^= int(rng.integers(1, 256))
        try:
            _decode_avi(bytes(m))
        except (ValueError, NotImplementedError):
            pass


def test_media_corpus_generator_deterministic(tmp_path):
    """Bench media corpus: deterministic, mixed kinds, ~1% corrupt
    blobs that decode to ValueError (never anything else)."""
    import collections

    import pyarrow.parquet as pq

    from clara_ocr_spark.sources.multimodal import (
        _decode_one,
        ensure_media_corpus,
        gen_media_blob,
    )

    assert gen_media_blob(7) == gen_media_blob(7)
    kinds = collections.Counter(gen_media_blob(i)[1] for i in range(200))
    # i%5 cycle: PNG/JPEG/GIF are "image", one audio, one video slot
    assert kinds["image"] == 120 and kinds["audio"] == 40
    ok = corrupt = 0
    for i in range(200):
        _, _, payload = gen_media_blob(i)
        try:
            w, h, frames, body = _decode_one(payload)
            assert w > 0 and len(body) > 0
            ok += 1
        except ValueError:
            corrupt += 1
    assert corrupt == 3  # i in {0, 97, 194}
    assert ok == 197
    p = str(tmp_path / "media.parquet")
    assert ensure_media_corpus(p, 50) == p
    t = pq.read_table(p)
    assert t.num_rows == 50
    assert t.column_names == ["media_id", "kind", "payload"]
    # cached: second call must not regenerate (mtime unchanged)
    import os

    m1 = os.path.getmtime(p)
    ensure_media_corpus(p, 50)
    assert os.path.getmtime(p) == m1
