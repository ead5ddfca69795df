"""GIF codec (sources/gif.py): lossless round-trip, LZW exactness,
interlace, multi-frame, corrupt/unsupported-input policy, and the
Spark decode-stage integration."""

from __future__ import annotations

import numpy as np
import pytest

from clara_ocr_spark.sources.gif import (
    _deinterlace,
    _lzw_decode,
    decode_gif,
    encode_gif,
)


def _gray(seed: int, h: int = 48, w: int = 64) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w), dtype=np.uint8)


def test_roundtrip_exact():
    """GIF is lossless: every decoded channel must equal the encoded
    gray frame bit-for-bit (the gray palette maps index i -> (i,i,i))."""
    f = _gray(3)
    w, h, n, body = decode_gif(encode_gif([f]))
    assert (w, h, n) == (64, 48, 1)
    arr = np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3)
    for c in range(3):
        assert np.array_equal(arr[:, :, c], f)


def test_multiframe():
    """Multi-frame streams decode every frame in order (the animated-
    GIF case, like AVI video)."""
    frames = [_gray(5), _gray(6), _gray(7)]
    w, h, n, body = decode_gif(encode_gif(frames))
    assert n == 3
    arr = np.frombuffer(body, dtype=np.uint8).reshape(n, h, w, 3)
    for i, f in enumerate(frames):
        assert np.array_equal(arr[i, :, :, 0], f)


def test_interlace_roundtrip():
    """4-pass interlaced pixel data reassembles to the original rows."""
    f = _gray(9, h=37, w=23)  # deliberately not multiples of 8
    w, h, n, body = decode_gif(encode_gif([f], interlace=True))
    arr = np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3)
    assert np.array_equal(arr[:, :, 0], f)


def test_deinterlace_permutation():
    """_deinterlace is exactly the inverse row permutation of the
    spec's 4 passes for every height 1..40."""
    for h in range(1, 41):
        rows = np.arange(h, dtype=np.uint8).reshape(h, 1)
        shuffled = np.concatenate(
            [rows[s::t] for s, t in ((0, 8), (4, 8), (2, 4), (1, 2))], axis=0
        )
        assert np.array_equal(_deinterlace(shuffled), rows)


def test_lzw_real_compression_decodes():
    """The decoder must handle REAL LZW (dictionary growth through
    width increases), not just our clear-heavy fixture encoder: build
    a reference-compressed stream with a textbook encoder and check
    the decode, across several min code sizes."""

    def lzw_encode(data: bytes, min_code_size: int) -> bytes:
        clear, end = 1 << min_code_size, (1 << min_code_size) + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code, width = end + 1, min_code_size + 1
        acc = acc_n = 0
        out = bytearray()

        def put(code: int) -> None:
            nonlocal acc, acc_n
            acc |= code << acc_n
            acc_n += width
            while acc_n >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                acc_n -= 8

        put(clear)
        s = b""
        for b in data:
            nxt = s + bytes([b])
            if nxt in table:
                s = nxt
                continue
            put(table[s])
            if next_code < 4096:
                table[nxt] = next_code
                next_code += 1
                if next_code - 1 == (1 << width) - 1 and width < 12:
                    width += 1
            s = bytes([b])
        if s:
            put(table[s])
        put(end)
        if acc_n:
            out.append(acc & 0xFF)
        return bytes(out)

    rng = np.random.default_rng(13)
    for mcs in (2, 4, 8):
        # repetitive data exercises dictionary growth hard
        base = rng.integers(0, 1 << mcs, size=200, dtype=np.uint8).tobytes()
        data = base * 30
        enc = lzw_encode(data, mcs)
        assert _lzw_decode(enc, mcs, len(data)) == data


def test_corrupt_gif_raises_valueerror():
    cases = [
        b"GIF89a",  # truncated header
        b"GIF89a" + b"\x00" * 7,  # zero dimensions
        b"NOTGIF" + b"\x00" * 20,
        encode_gif([_gray(1)])[:-10],  # truncated stream
        encode_gif([_gray(1)])[:40],  # truncated mid-palette
    ]
    for blob in cases:
        with pytest.raises(ValueError):
            decode_gif(blob)


def test_partial_canvas_frame_gates_notimplemented():
    """A frame smaller than the logical screen needs disposal-method
    compositing — the optional-codec gate, not a crash."""
    blob = bytearray(encode_gif([_gray(2, h=16, w=16)]))
    # grow the logical screen so the (full-size) frame becomes partial
    blob[6:8] = (32).to_bytes(2, "little")
    with pytest.raises(NotImplementedError):
        decode_gif(bytes(blob))


def test_pixel_budget():
    with pytest.raises(ValueError):
        decode_gif(encode_gif([_gray(4)]), max_pixels_total=100)


def test_fuzz_only_sanctioned_exceptions_escape():
    """Hostile input policy: anything with a GIF magic must decode or
    raise ValueError/NotImplementedError — never IndexError,
    struct.error, or a numpy shape error (ADVICE r3 discipline)."""
    rng = np.random.default_rng(29)
    blob = encode_gif([_gray(8)], interlace=True)
    for cut in range(1, len(blob), 3):
        try:
            decode_gif(blob[:cut])
        except (ValueError, NotImplementedError):
            pass
    for _ in range(1500):
        garb = b"GIF89a" + rng.integers(
            0, 256, size=int(rng.integers(0, 160)), dtype=np.uint8
        ).tobytes()
        try:
            decode_gif(garb)
        except (ValueError, NotImplementedError):
            pass
    # bit-flips inside a valid stream
    for _ in range(400):
        b = bytearray(blob)
        b[int(rng.integers(6, len(b)))] ^= 1 << int(rng.integers(0, 8))
        try:
            decode_gif(bytes(b))
        except (ValueError, NotImplementedError):
            pass


def test_real_decode_dispatch():
    from clara_ocr_spark.sources.multimodal import _real_decode

    f = _gray(21)
    w, h, n, body = _real_decode(encode_gif([f]))
    assert (w, h, n) == (64, 48, 1) and len(body) == 64 * 48 * 3


def test_decode_stage_handles_gif_and_corrupt(spark):
    """GIF blobs ride the media decode stage like every other
    container; a corrupt GIF maps to an empty row, never a crash."""
    import pyspark.sql.functions as F

    from clara_ocr_spark.sources.multimodal import decode

    rows = [
        (1, "image", encode_gif([_gray(31)])),
        (2, "image", encode_gif([_gray(32), _gray(33)])),
        (3, "image", b"GIF89a" + b"\x12\x34" * 30),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    )
    out = {r.media_id: r for r in decode(df).collect()}
    assert out[1].width == 64 and out[1].frames == 1
    assert out[2].frames == 2
    assert out[3].width == 0 or out[3].frames == 0
