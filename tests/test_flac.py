"""FLAC codec tests: encoder/decoder round-trips plus hand-built bitstreams
for the decoder paths the encoder doesn't emit (LPC, stereo decorrelation,
multi-partition Rice, wasted bits)."""

import struct

import numpy as np
import pytest

from bears_spark.functions.flac import (
    _BitWriter,
    _crc8,
    _crc16,
    _pcm_md5,
    _utf8_encode_num,
    decode_flac,
    encode_flac,
)


def _rt(sig, rate=44100, bps=16, **kw):
    enc = encode_flac(sig, rate, bps, **kw)
    dec, r, b = decode_flac(enc)
    assert (r, b) == (rate, bps)
    want = sig[:, None] if sig.ndim == 1 else sig
    assert np.array_equal(dec, want.astype(np.int32))
    return enc


def test_roundtrip_fixed_stereo():
    rng = np.random.default_rng(7)
    t = np.arange(5000)
    sig = np.stack(
        [
            (12000 * np.sin(2 * np.pi * 440 * t / 44100)).astype(np.int64),
            (8000 * np.sin(2 * np.pi * 660 * t / 44100) + rng.integers(-50, 50, len(t))).astype(np.int64),
        ],
        axis=1,
    )
    enc = _rt(sig, block_size=1024, method="fixed")
    # the fixed predictor must actually compress a smooth signal
    assert len(enc) < sig.size * 2 * 0.6


def test_roundtrip_verbatim_and_constant():
    rng = np.random.default_rng(3)
    _rt(rng.integers(-30000, 30000, size=(2048, 2)).astype(np.int64), method="verbatim")
    _rt(np.full((3000, 1), -123, dtype=np.int64), rate=8000, method="fixed")


def test_roundtrip_mono_8bit_and_odd_tail():
    rng = np.random.default_rng(5)
    _rt(rng.integers(-120, 120, size=(777,)).astype(np.int64), rate=16000, bps=8, block_size=256)


def test_roundtrip_24bit():
    rng = np.random.default_rng(11)
    _rt(rng.integers(-(1 << 22), 1 << 22, size=(1500, 2)).astype(np.int64), bps=24, block_size=512)


def test_crc_corruption_detected():
    sig = (1000 * np.sin(np.arange(1024) / 10)).astype(np.int64)
    good = bytearray(encode_flac(sig, 44100, 16))
    bad = good.copy()
    bad[-3] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(bad))


def test_md5_mismatch_detected():
    sig = (np.arange(500) % 97 - 48).astype(np.int64)
    enc = bytearray(encode_flac(sig, 8000, 16))
    # STREAMINFO md5 lives at bytes 8+18 .. 8+34 of the stream
    enc[8 + 18] ^= 0xFF
    with pytest.raises(ValueError, match="MD5"):
        decode_flac(bytes(enc))
    decode_flac(bytes(enc), verify_md5=False)  # opt-out still decodes


def test_not_flac_rejected():
    with pytest.raises(ValueError, match="not a FLAC"):
        decode_flac(b"RIFF....WAVE")


# --------------------------------------------------------------------------
# Hand-built bitstreams for decoder-only paths


def _stream(frames: bytes, rate: int, channels: int, bps: int, n: int, samples: np.ndarray) -> bytes:
    si = _BitWriter()
    si.write(4096, 16)
    si.write(4096, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(rate, 20)
    si.write(channels - 1, 3)
    si.write(bps - 1, 5)
    si.write(n, 36)
    si.align()
    streaminfo = si.bytes() + _pcm_md5(samples, bps)
    return b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo + frames


def _frame_header(channels_code: int, bps: int, block_size: int, frame_no: int = 0) -> bytes:
    w = _BitWriter()
    w.write(0x3FFE, 14)
    w.write(0, 2)
    w.write(7, 4)  # 16-bit block size follows
    w.write(0, 4)  # rate from streaminfo
    w.write(channels_code, 4)
    w.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bps], 3)
    w.write(0, 1)
    for b in _utf8_encode_num(frame_no):
        w.write(b, 8)
    w.write(block_size - 1, 16)
    w.align()
    hdr = w.bytes()
    return hdr + bytes([_crc8(hdr)])


def _finish_frame(hdr: bytes, body: _BitWriter) -> bytes:
    body.align()
    frame = hdr + body.bytes()
    return frame + struct.pack(">H", _crc16(frame))


def _write_rice(w: _BitWriter, resid, k: int):
    for v in resid:
        u = (v << 1) if v >= 0 else ((-v) << 1) - 1
        w.write_unary(u >> k)
        if k:
            w.write(u & ((1 << k) - 1), k)


def test_decode_lpc_subframe():
    # x[i] = resid[i] + (2*x[i-1] - x[i-2] afterscale) with coeffs [2,-1],
    # shift 0, precision 5 — an order-2 LPC identical to FIXED order 2
    n = 64
    rng = np.random.default_rng(2)
    resid = rng.integers(-10, 10, n - 2)
    x = [100, 101]
    for e in resid:
        x.append(int(e) + 2 * x[-1] - x[-2])
    samples = np.asarray(x, dtype=np.int64)[:, None]
    hdr = _frame_header(0, 16, n)
    w = _BitWriter()
    w.write(0, 1)
    w.write(32 + 1, 6)  # LPC, order 2 encoded as 32 + (order-1)
    w.write(0, 1)  # no wasted bits
    w.write_signed(x[0], 16)
    w.write_signed(x[1], 16)
    w.write(5 - 1, 4)  # precision 5
    w.write_signed(0, 5)  # shift 0
    w.write_signed(2, 5)
    w.write_signed(-1, 5)
    w.write(0, 2)  # rice method 0
    w.write(0, 4)  # partition order 0
    w.write(5, 4)  # rice param
    _write_rice(w, [int(e) for e in resid], 5)
    data = _stream(_finish_frame(hdr, w), 8000, 1, 16, n, samples)
    dec, rate, bps = decode_flac(data)
    assert np.array_equal(dec, samples.astype(np.int32))


def test_decode_left_side_stereo():
    n = 32
    left = np.arange(100, 100 + n, dtype=np.int64)
    right = left - 7  # side = left - right = 7 (constant)
    hdr = _frame_header(8, 16, n)  # left/side
    w = _BitWriter()
    # left subframe: FIXED order 1 over arange -> residual all 1
    w.write(0, 1)
    w.write(8 + 1, 6)
    w.write(0, 1)
    w.write_signed(int(left[0]), 16)
    w.write(0, 2)
    w.write(0, 4)
    w.write(1, 4)
    _write_rice(w, [1] * (n - 1), 1)
    # side subframe: CONSTANT 7 at bps+1 = 17 bits
    w.write(0, 1)
    w.write(0, 6)
    w.write(0, 1)
    w.write_signed(7, 17)
    samples = np.stack([left, right], axis=1)
    data = _stream(_finish_frame(hdr, w), 8000, 2, 16, n, samples)
    dec, _, _ = decode_flac(data)
    assert np.array_equal(dec, samples.astype(np.int32))


def test_decode_mid_side_stereo():
    n = 16
    left = np.asarray([10, 12, 14, 16] * 4, dtype=np.int64)
    right = left - 5
    mid = (left + right) >> 1
    side = left - right
    hdr = _frame_header(10, 16, n)  # mid/side
    w = _BitWriter()
    # mid: VERBATIM at 16 bits
    w.write(0, 1)
    w.write(1, 6)
    w.write(0, 1)
    for v in mid:
        w.write_signed(int(v), 16)
    # side: CONSTANT 5 at 17 bits
    w.write(0, 1)
    w.write(0, 6)
    w.write(0, 1)
    w.write_signed(5, 17)
    samples = np.stack([left, right], axis=1)
    data = _stream(_finish_frame(hdr, w), 8000, 2, 16, n, samples)
    dec, _, _ = decode_flac(data)
    assert np.array_equal(dec, samples.astype(np.int32))


def test_decode_multi_partition_rice_and_escape():
    n = 64
    resid = [((i * 37) % 23) - 11 for i in range(n)]
    samples = np.asarray(resid, dtype=np.int64)[:, None]
    hdr = _frame_header(0, 16, n)
    w = _BitWriter()
    w.write(0, 1)
    w.write(8 + 0, 6)  # FIXED order 0: residual == samples
    w.write(0, 1)
    w.write(0, 2)  # method 0
    w.write(2, 4)  # partition order 2 -> 4 partitions of 16
    for p in range(4):
        part = resid[p * 16 : (p + 1) * 16]
        if p == 1:  # escape partition: raw 6-bit
            w.write(0xF, 4)
            w.write(6, 5)
            for v in part:
                w.write_signed(v, 6)
        else:
            w.write(4, 4)
            _write_rice(w, part, 4)
    data = _stream(_finish_frame(hdr, w), 8000, 1, 16, n, samples)
    dec, _, _ = decode_flac(data)
    assert np.array_equal(dec, samples.astype(np.int32))


def test_decode_wasted_bits():
    n = 16
    samples = (np.arange(n, dtype=np.int64) * 4)[:, None]  # all divisible by 4
    hdr = _frame_header(0, 16, n)
    w = _BitWriter()
    w.write(0, 1)
    w.write(1, 6)  # VERBATIM
    w.write(1, 1)  # wasted bits flag
    w.write_unary(1)  # unary 1 -> wasted = 2
    for v in samples[:, 0]:
        w.write_signed(int(v) >> 2, 14)  # stored at bps - wasted
    data = _stream(_finish_frame(hdr, w), 8000, 1, 16, n, samples)
    dec, _, _ = decode_flac(data)
    assert np.array_equal(dec, samples.astype(np.int32))


# --------------------------------------------------------------------------
# Spark integration: FLAC assets through the audio-features operator


def test_audio_features_flac_and_wav(spark, tmp_path):
    import io
    import wave

    from bears_spark.functions.multimodal import extract_audio_features, load_assets

    rng = np.random.default_rng(9)
    pcm = (2000 * np.sin(np.arange(4000) / 20)).astype(np.int64)[:, None]
    (tmp_path / "a.flac").write_bytes(encode_flac(pcm, 8000, 16))
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(pcm.astype("<i2").tobytes())
    (tmp_path / "b.wav").write_bytes(buf.getvalue())

    feats = extract_audio_features(load_assets(spark, str(tmp_path))).collect()
    by_name = {r["path"].rsplit("/", 1)[-1]: r for r in feats}
    assert set(by_name) == {"a.flac", "b.wav"}
    fl, wv_ = by_name["a.flac"], by_name["b.wav"]
    assert fl["sample_rate"] == wv_["sample_rate"] == 8000
    assert fl["n_frames"] == wv_["n_frames"] == 4000
    # identical PCM -> identical loudness features
    assert abs(fl["rms"] - wv_["rms"]) < 1e-9
    assert abs(fl["peak"] - wv_["peak"]) < 1e-9


def test_native_soundfile_preferred_and_fallback(monkeypatch):
    """decode_audio prefers soundfile when importable, falls back to the
    stdlib codecs when it fails or is absent — injected fake, so the test
    runs identically with and without libsndfile installed."""
    import sys
    import types

    from bears_spark.functions import multimodal as mm

    pcm = (1000 * np.sin(np.arange(256) / 9)).astype(np.int64)[:, None]
    flac_bytes = encode_flac(pcm, 8000, 16)
    sentinel = np.full((5, 1), 0.25)

    fake_sf = types.ModuleType("soundfile")
    fake_sf.read = lambda buf, dtype, always_2d: (sentinel, 999)
    monkeypatch.setattr(mm, "_SOUNDFILE", False)
    monkeypatch.setitem(sys.modules, "soundfile", fake_sf)
    arr, rate = mm.decode_audio(flac_bytes)
    assert rate == 999 and (arr == sentinel).all()

    # native present but failing on this payload -> stdlib FLAC decode
    def _boom(buf, dtype, always_2d):
        raise RuntimeError("unsupported")

    fake_sf.read = _boom
    monkeypatch.setattr(mm, "_SOUNDFILE", False)
    arr2, rate2 = mm.decode_audio(flac_bytes)
    assert rate2 == 8000 and arr2.shape == (256, 1)
    assert np.allclose(arr2[:, 0] * (1 << 15), pcm[:, 0])

    # an error that is not libsndfile rejecting the payload propagates
    def _bug(buf, dtype, always_2d):
        raise TypeError("read() got an unexpected keyword")

    fake_sf.read = _bug
    monkeypatch.setattr(mm, "_SOUNDFILE", False)
    with pytest.raises(TypeError, match="unexpected keyword"):
        mm.decode_audio(flac_bytes)

    # native absent entirely -> stdlib decode
    monkeypatch.setattr(mm, "_SOUNDFILE", None)
    arr3, rate3 = mm.decode_audio(flac_bytes)
    assert rate3 == 8000 and np.array_equal(arr2, arr3)


def test_mp3_ogg_sniff_and_gate(monkeypatch):
    """mp3/ogg route through the native decoder when present; absent, they
    hit an honest NotImplementedError naming the dependency — never the
    confusing WAV-parse failure (r4 VERDICT #8)."""
    import sys
    import types

    import pytest

    from bears_spark.functions import multimodal as mm

    ogg = b"OggS" + b"\x00" * 32
    id3 = b"ID3\x04\x00" + b"\x00" * 32
    bare_mp3 = b"\xff\xfb\x90\x64" + b"\x00" * 32  # MPEG1 Layer III sync
    assert mm.is_mp3_or_ogg(ogg) and mm.is_mp3_or_ogg(id3) and mm.is_mp3_or_ogg(bare_mp3)
    # reserved version/layer bits exclude arbitrary 0xFF-prefixed binary
    assert not mm.is_mp3_or_ogg(b"\xff\xe8\x00\x00")  # version=reserved
    assert not mm.is_mp3_or_ogg(b"\xff\xf9\x00\x00")  # layer=reserved
    assert not mm.is_mp3_or_ogg(b"RIFF....WAVE")

    # native present: payload goes to soundfile
    sentinel = np.full((7, 2), 0.5)
    fake_sf = types.ModuleType("soundfile")
    fake_sf.read = lambda buf, dtype, always_2d: (sentinel, 44100)
    monkeypatch.setattr(mm, "_SOUNDFILE", False)
    monkeypatch.setitem(sys.modules, "soundfile", fake_sf)
    arr, rate = mm.decode_audio(ogg)
    assert rate == 44100 and (arr == sentinel).all()

    # native absent: clear gate, not a WAV parse error
    monkeypatch.setattr(mm, "_SOUNDFILE", None)
    for payload in (ogg, id3, bare_mp3):
        with pytest.raises(NotImplementedError, match="soundfile"):
            mm.decode_audio(payload)


def test_mp3_ogg_roundtrip_with_native_soundfile(tmp_path):
    """Real ogg round-trip through the native decoder — runs only where
    soundfile/libsndfile is installed (skipped cleanly otherwise)."""
    import pytest

    from bears_spark.functions import multimodal as mm

    sf = mm._soundfile()
    if sf is None:
        pytest.skip("soundfile/libsndfile not installed")
    import io as _io

    pcm = (0.4 * np.sin(np.arange(4000) / 7.0))[:, None]
    buf = _io.BytesIO()
    sf.write(buf, pcm, 8000, format="OGG", subtype="VORBIS")
    payload = buf.getvalue()
    assert mm.is_mp3_or_ogg(payload)
    arr, rate = mm.decode_audio(payload)
    assert rate == 8000 and arr.shape[1] == 1
    # lossy codec: correlation, not equality
    n = min(len(arr), len(pcm))
    corr = np.corrcoef(arr[:n, 0], pcm[:n, 0])[0, 1]
    assert corr > 0.9


def test_detect_format_expression_sees_ogg_and_mp3(spark):
    rows = [
        (b"OggS" + b"\x00" * 8,),
        (b"ID3\x04\x00" + b"\x00" * 8,),
        (b"fLaC" + b"\x00" * 8,),
    ]
    df = spark.createDataFrame(rows, "content: binary")
    from bears_spark.functions import multimodal as mm

    got = [r[0] for r in df.select(mm.detect_format("content")).collect()]
    assert got == ["ogg", "mp3", "flac"]
