"""Real media codec tests: PNG (filters 0-4, gray/RGB/RGBA) and
WAV/PCM (8/16-bit) — pure stdlib+numpy codecs in
operators/media_codecs.py, plus the Spark-side real-decode operators
(synth_media_real / media_decode_stats) and the
decode_media sniffing upgrade.

Beyond-reference multimodal brief: Fluent Bit never decodes media;
this family exists for the training-data pipeline surface.
"""

import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.operators import media_codecs as mc
from fluent_bit_spark.operators import multimodal as MM


def _rng(seed):
    return np.random.default_rng(seed)


# --- PNG roundtrip (our encoder emits filter 0) -----------------------------

@pytest.mark.parametrize("shape", [(7, 5), (7, 5, 3), (7, 5, 4), (1, 1), (3, 1, 3)])
def test_png_roundtrip(shape):
    arr = _rng(1).integers(0, 256, size=shape, dtype=np.uint8)
    out = mc.decode_png(mc.encode_png(arr))
    want = arr if arr.ndim == 3 else arr[:, :, None]
    assert out.shape == want.shape
    assert np.array_equal(out, want)


# --- PNG filters 1-4: apply the RFC 2083 filter transforms by hand, then
# check the decoder inverts them exactly --------------------------------------

def _png_with_filters(arr: np.ndarray, ftype: int) -> bytes:
    """Build a PNG whose every scanline uses filter `ftype`."""
    h, w, c = arr.shape
    stride = w * c
    flat = arr.reshape(h, stride).astype(np.int16)
    lines = []
    prior = np.zeros(stride, dtype=np.int16)
    for y in range(h):
        cur = flat[y]
        left = np.concatenate([np.zeros(c, np.int16), cur[:-c]]) if stride > c else np.zeros(stride, np.int16)
        upleft = np.concatenate([np.zeros(c, np.int16), prior[:-c]]) if stride > c else np.zeros(stride, np.int16)
        if ftype == 0:
            enc = cur
        elif ftype == 1:
            enc = cur - left
        elif ftype == 2:
            enc = cur - prior
        elif ftype == 3:
            enc = cur - (left + prior) // 2
        elif ftype == 4:
            pred = mc._paeth(
                left.astype(np.uint8), prior.astype(np.uint8), upleft.astype(np.uint8)
            ).astype(np.int16)
            enc = cur - pred
        lines.append(bytes([ftype]) + (enc % 256).astype(np.uint8).tobytes())
        prior = cur
    raw = b"".join(lines)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    color_type = {1: 0, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("channels", [1, 3, 4])
def test_png_filter_types_decode(ftype, channels):
    arr = _rng(10 * ftype + channels).integers(
        0, 256, size=(6, 4, channels), dtype=np.uint8
    )
    out = mc.decode_png(_png_with_filters(arr, ftype))
    assert np.array_equal(out, arr), f"filter {ftype} c={channels} mismatch"


def test_png_gates():
    with pytest.raises(ValueError):
        mc.decode_png(b"not a png at all")
    # 16-bit depth -> honest NotImplementedError, not silent garbage
    arr = _rng(3).integers(0, 256, size=(2, 2), dtype=np.uint8)
    good = mc.encode_png(arr)
    # patch IHDR depth byte (offset: 8 sig + 8 len/tag + 8 w/h = 24)
    bad = bytearray(good)
    bad[24] = 16
    body = bytes(bad[16:29])
    bad[29:33] = struct.pack(">I", zlib.crc32(b"IHDR" + body[:13])& 0xFFFFFFFF)
    with pytest.raises(NotImplementedError):
        mc.decode_png(bytes(bad[:16]) + body[:13] + bytes(bad[29:]))


# --- WAV ---------------------------------------------------------------------

@pytest.mark.parametrize("channels,rate", [(1, 16000), (2, 44100)])
def test_wav_roundtrip(channels, rate):
    samples = _rng(7).integers(-32768, 32768, size=256 * channels).astype(np.int16)
    samples_back, rate_back, ch_back = mc.decode_wav(
        mc.encode_wav(samples, rate, channels)
    )
    assert rate_back == rate and ch_back == channels
    assert np.array_equal(samples_back, samples)


def test_wav_8bit_widens():
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([0, 128, 255]))
    samples, rate, ch = mc.decode_wav(buf.getvalue())
    assert rate == 8000 and ch == 1
    assert samples.tolist() == [(-128) << 8, 0, 127 << 8]


# --- decode_media sniffing ----------------------------------------------------

def test_decode_media_sniffs_real_formats():
    arr = _rng(2).integers(0, 256, size=(4, 3), dtype=np.uint8)
    png = mc.encode_png(arr)
    # real decode regardless of the fake flag
    for fake in (False, True):
        got = MM.decode_media(png, "image", fake=fake)
        assert np.allclose(got, arr.reshape(-1) / 255.0)
    s = np.array([-32768, 0, 32767], dtype=np.int16)
    wav = mc.encode_wav(s, 16000, 1)
    got = MM.decode_media(wav, "audio", fake=False)
    assert np.allclose(got, (s.astype(np.float32) + 32768) / 65535)
    # opaque bytes still gate honestly
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"\xff\xd8\xff jpeg-ish", "image", fake=False)


# --- Spark-side operators ------------------------------------------------------

def test_synth_media_real_decode_stats(spark):
    ids = spark.range(12).select(F.col("id").alias("media_id"))
    media = MM.synth_media_real(ids)
    stats = {r.media_id: r for r in MM.media_decode_stats(media).collect()}
    assert len(stats) == 12
    for d in range(12):
        r = stats[d]
        if d % 2 == 0:
            w, h = 16 + d % 8, 12 + d % 5
            assert (r.kind, r.width, r.height, r.channels) == ("image", w, h, 1)
            want = sum(
                (d * 31 + x * 7 + y * 13) % 256
                for x in range(w)
                for y in range(h)
            )
            assert r.n_samples == w * h and r.sample_sum == want
        else:
            n = 64 + d % 32
            want = sum((d * 7 + 3 * i) % 65536 - 32768 for i in range(n))
            assert (r.kind, r.channels, r.sample_rate) == ("audio", 1, 16000)
            assert r.n_samples == n and r.sample_sum == want


