"""Multimodal plumbing tests: binaryFile source -> mapInPandas feature
extraction with the deterministic fake decoder."""

import pytest
from pyspark.sql import functions as F

from bears_spark.functions.multimodal import (
    decode_image_batch,
    detect_format,
    extract_image_features,
    load_assets,
    sample_frames,
)

_FAKE_PNG = b"\x89PNG\r\n\x1a\n" + b"fakepixeldata" * 10
_FAKE_JPG = b"\xff\xd8\xff\xe0" + b"jpegbytes" * 10


@pytest.fixture(scope="module")
def asset_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("assets")
    (d / "a.png").write_bytes(_FAKE_PNG)
    (d / "b.jpg").write_bytes(_FAKE_JPG)
    return str(d)


def test_load_assets(spark, asset_dir):
    df = load_assets(spark, asset_dir)
    assert df.count() == 2
    assert {"path", "content", "length"} <= set(df.columns)


def test_detect_format(spark, asset_dir):
    df = load_assets(spark, asset_dir).select("path", detect_format("content").alias("fmt"))
    fmts = {r["path"].rsplit("/", 1)[-1]: r["fmt"] for r in df.collect()}
    assert fmts["a.png"] == "png"
    assert fmts["b.jpg"] == "jpeg"


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image_batch(b"xx", fake=False)


def test_decode_fake_deterministic():
    a = decode_image_batch(_FAKE_PNG, fake=True)
    b = decode_image_batch(_FAKE_PNG, fake=True)
    assert a.shape == (8, 8, 3) and (a == b).all()


def test_extract_image_features(spark, asset_dir):
    feats = extract_image_features(load_assets(spark, asset_dir), fake=True)
    rows = {r["fmt"]: r for r in feats.collect()}
    assert set(rows) == {"png", "jpeg"}
    for r in rows.values():
        assert 0 <= r["mean_r"] <= 255 and r["h"] == 8 and r["w"] == 8
    # deterministic across runs
    again = {r["fmt"]: r for r in extract_image_features(load_assets(spark, asset_dir), fake=True).collect()}
    assert again["png"]["mean_r"] == rows["png"]["mean_r"]


def _make_ppm(arr):
    h, w, _ = arr.shape
    return b"P6\n# comment\n%d %d\n255\n" % (w, h) + arr.tobytes()


def _make_bmp(arr):
    import struct

    h, w, _ = arr.shape
    row_bytes = (w * 3 + 3) & ~3
    img = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = arr[y, :, ::-1].tobytes()  # RGB -> BGR
        img += row + b"\x00" * (row_bytes - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(img), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0)
    return header + info + bytes(img)


def test_decode_ppm_roundtrip():
    import numpy as np

    from bears_spark.functions.multimodal import decode_ppm

    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, size=(5, 3, 3), dtype=np.uint8)
    out = decode_ppm(_make_ppm(arr))
    assert (out == arr).all()
    # the generic entrypoint routes P6 to the real decoder without fake=
    assert (decode_image_batch(_make_ppm(arr)) == arr).all()


def test_decode_bmp_roundtrip():
    import numpy as np

    from bears_spark.functions.multimodal import decode_bmp

    rng = np.random.RandomState(8)
    arr = rng.randint(0, 256, size=(4, 5, 3), dtype=np.uint8)  # w=5 forces row padding
    out = decode_bmp(_make_bmp(arr))
    assert (out == arr).all()
    assert (decode_image_batch(_make_bmp(arr)) == arr).all()


def _png_chunk(ctype, data):
    import struct
    import zlib

    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", zlib.crc32(ctype + data))


def _make_png(arr, color_type=2, filters=None, palette=None):
    """Minimal PNG encoder (8-bit, non-interlaced) with per-row filter choice
    — lets the test exercise every unfilter branch of the decoder."""
    import struct
    import zlib

    import numpy as np

    h, w = arr.shape[:2]
    ch = arr.shape[2] if arr.ndim == 3 else 1
    px = arr.reshape(h, w * ch).astype(np.int64)
    filters = filters or [0] * h
    out = bytearray()
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        raw, f = px[y], filters[y]
        if f == 0:
            filt = raw
        elif f == 1:  # Sub
            left = np.concatenate([np.zeros(ch, dtype=np.int64), raw[:-ch]])
            filt = raw - left
        elif f == 2:  # Up
            filt = raw - prev
        elif f == 3:  # Average
            left = np.concatenate([np.zeros(ch, dtype=np.int64), raw[:-ch]])
            filt = raw - (left + prev) // 2
        else:  # Paeth
            filt = np.zeros(w * ch, dtype=np.int64)
            for x in range(w * ch):
                a = int(raw[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[x] = raw[x] - pred
        out += bytes([f]) + (filt % 256).astype(np.uint8).tobytes()
        prev = raw
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    png = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        png += _png_chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    png += _png_chunk(b"IDAT", zlib.compress(bytes(out))) + _png_chunk(b"IEND", b"")
    return png


def test_decode_png_rgb_all_filters():
    import numpy as np

    from bears_spark.functions.multimodal import decode_png

    rng = np.random.RandomState(9)
    arr = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    out = decode_png(_make_png(arr, color_type=2, filters=[0, 1, 2, 3, 4]))
    assert (out == arr).all()
    assert (decode_image_batch(_make_png(arr, color_type=2)) == arr).all()


def test_decode_png_rgba_gray_palette():
    import numpy as np

    from bears_spark.functions.multimodal import decode_png

    rng = np.random.RandomState(10)
    rgba = rng.randint(0, 256, size=(3, 4, 4), dtype=np.uint8)
    assert (decode_png(_make_png(rgba, color_type=6, filters=[4, 1, 3])) == rgba[..., :3]).all()
    gray = rng.randint(0, 256, size=(4, 3), dtype=np.uint8)
    out = decode_png(_make_png(gray, color_type=0, filters=[0, 2, 1, 4]))
    assert (out == np.repeat(gray[..., None], 3, axis=2)).all()
    pal = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, size=(3, 5), dtype=np.uint8)
    assert (decode_png(_make_png(idx, color_type=3, palette=pal)) == pal[idx]).all()


def test_decode_png_rejects_16bit_and_interlace():
    import struct
    import zlib

    import numpy as np

    from bears_spark.functions.multimodal import decode_png

    arr = np.zeros((2, 2, 3), dtype=np.uint8)
    good = _make_png(arr)
    # flip depth byte to 16 in IHDR (offset: 8 sig + 8 chunk hdr + 8 w/h)
    bad_depth = bytearray(good)
    bad_depth[24] = 16
    with pytest.raises(ValueError, match="only 8-bit"):
        decode_png(bytes(bad_depth))
    bad_il = bytearray(good)
    bad_il[28] = 1  # interlace byte
    with pytest.raises(ValueError, match="only 8-bit"):
        decode_png(bytes(bad_il))


def test_extract_image_features_real_decode(spark, tmp_path):
    import numpy as np

    arr = np.zeros((6, 4, 3), dtype=np.uint8)
    arr[..., 0] = 200  # pure-red image: mean_r=200, mean_g=mean_b=0
    (tmp_path / "red.ppm").write_bytes(_make_ppm(arr))
    (tmp_path / "red.bmp").write_bytes(_make_bmp(arr))
    (tmp_path / "red.png").write_bytes(_make_png(arr, filters=[1, 4, 2, 3, 0, 4]))
    feats = extract_image_features(load_assets(spark, str(tmp_path)), fake=False)
    rows = {r["fmt"]: r for r in feats.collect()}
    assert set(rows) == {"ppm", "bmp", "png"}
    for r in rows.values():
        assert r["mean_r"] == 200.0 and r["mean_g"] == 0.0 and r["mean_b"] == 0.0
        assert r["h"] == 6 and r["w"] == 4


def test_sample_frames(spark, asset_dir):
    frames = sample_frames(load_assets(spark, asset_dir), every_n=10, fake=True)
    pdf = frames.toPandas()
    assert len(pdf) > 2  # multiple frames per asset
    assert (pdf.groupby("path")["frame_idx"].min() == 0).all()


def _make_wav(freq=440.0, rate=8000, dur=0.25, channels=1):
    import io as _io
    import math
    import struct
    import wave

    buf = _io.BytesIO()
    n = int(rate * dur)
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = b"".join(
            struct.pack("<" + "h" * channels, *([int(20000 * math.sin(2 * math.pi * freq * i / rate))] * channels))
            for i in range(n)
        )
        w.writeframes(frames)
    return buf.getvalue()


def test_decode_wav_roundtrip():
    from bears_spark.functions.multimodal import decode_wav

    arr, rate = decode_wav(_make_wav(rate=8000, dur=0.25, channels=2))
    assert rate == 8000
    assert arr.shape == (2000, 2)
    assert abs(arr).max() <= 1.0
    # a full-scale-ish sine has rms near 1/sqrt(2) of its peak
    import numpy as np

    assert 0.5 < np.sqrt((arr**2).mean()) / abs(arr).max() < 0.9


def test_extract_audio_features(spark, tmp_path):
    from bears_spark.functions.multimodal import extract_audio_features

    (tmp_path / "tone.wav").write_bytes(_make_wav(rate=8000, dur=0.5))
    (tmp_path / "hi.wav").write_bytes(_make_wav(rate=16000, dur=0.25, channels=2))
    feats = {r["sample_rate"]: r for r in extract_audio_features(load_assets(spark, str(tmp_path))).collect()}
    assert feats[8000]["n_frames"] == 4000 and feats[8000]["n_channels"] == 1
    assert feats[16000]["n_frames"] == 4000 and feats[16000]["n_channels"] == 2
    assert abs(feats[8000]["duration_sec"] - 0.5) < 1e-9
    assert 0 < feats[8000]["rms"] < 1 and 0 < feats[8000]["peak"] <= 1


def _make_pdf(text, compress=True):
    import zlib

    content = f"BT /F1 12 Tf 72 720 Td ({text}) Tj ET".encode("latin-1")
    if compress:
        stream = zlib.compress(content)
        filt = b"/Filter /FlateDecode "
    else:
        stream, filt = content, b""
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj",
        b"4 0 obj << " + filt + b"/Length " + str(len(stream)).encode() + b" >> stream\n" + stream + b"endstream endobj",
    ]
    return b"%PDF-1.4\n" + b"\n".join(objs) + b"\ntrailer << /Root 1 0 R >>\n%%EOF"


def test_extract_pdf_text():
    from bears_spark.functions.multimodal import extract_pdf_text

    assert extract_pdf_text(_make_pdf("Hello PDF world")) == "Hello PDF world"
    assert extract_pdf_text(_make_pdf("raw stream", compress=False)) == "raw stream"
    # escaped parens inside the literal
    assert extract_pdf_text(_make_pdf(r"a \(b\) c")) == "a (b) c"


def test_extract_pdf_features(spark, tmp_path):
    from bears_spark.functions.multimodal import extract_pdf_features

    (tmp_path / "a.pdf").write_bytes(_make_pdf("first document"))
    (tmp_path / "b.pdf").write_bytes(_make_pdf("second one"))
    rows = {r["text"]: r for r in extract_pdf_features(load_assets(spark, str(tmp_path))).collect()}
    assert set(rows) == {"first document", "second one"}
    assert rows["first document"]["n_chars"] == 14 and rows["first document"]["n_streams"] == 1


def test_shard_reverse_complement(spark):
    from bears_spark.stream import shard

    df = spark.range(100)
    fold = shard(df, 1, 4, id_col="id")
    rest = shard(df, 1, 4, id_col="id", reverse=True)
    assert fold.count() == 25 and rest.count() == 75
    assert fold.intersect(rest).count() == 0


# --------------------------------------------------------------------------
# baseline JPEG codec (functions/jpeg.py) — real decode, no Pillow


def test_jpeg_roundtrip_flat_and_gradient():
    import numpy as np

    from bears_spark.functions.jpeg import decode_jpeg, encode_jpeg

    flat = np.full((24, 24, 3), 120, dtype=np.uint8)
    assert (decode_jpeg(encode_jpeg(flat, quality=90)) == flat).all()

    yy, xx = np.mgrid[0:37, 0:53]  # non-multiple-of-8 dims
    grad = np.stack([(yy * 3) % 256, (xx * 2) % 256, (yy + xx) % 256], axis=-1).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(grad, quality=95))
    assert dec.shape == grad.shape
    err = np.abs(dec.astype(int) - grad.astype(int))
    assert err.mean() < 2.0 and err.max() <= 12


def test_jpeg_roundtrip_noise_and_gray():
    import numpy as np

    from bears_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(11)
    noise = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(noise, quality=95))
    # DCT quantization loss on pure noise: bounded, not exact
    assert np.abs(dec.astype(int) - noise.astype(int)).mean() < 8.0

    gray = (rng.randint(0, 256, size=(19, 21))).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(gray, quality=95))
    assert dec.shape == (19, 21, 3)
    assert np.abs(dec[..., 0].astype(int) - gray.astype(int)).mean() < 8.0
    # all three channels identical for grayscale input
    assert (dec[..., 0] == dec[..., 1]).all() and (dec[..., 1] == dec[..., 2]).all()


def test_jpeg_rejects_progressive():
    import pytest as _pytest

    from bears_spark.functions.jpeg import decode_jpeg

    # minimal stream with an SOF2 (progressive) marker
    sof2 = b"\xff\xd8" + b"\xff\xc2" + (17).to_bytes(2, "big") + bytes(15) + b"\xff\xd9"
    with _pytest.raises(NotImplementedError):
        decode_jpeg(sof2)


def test_extract_image_features_real_jpeg(spark, tmp_path):
    import numpy as np

    from bears_spark.functions.jpeg import encode_jpeg
    from bears_spark.functions.multimodal import extract_image_features

    red = np.zeros((16, 16, 3), dtype=np.uint8)
    red[..., 0] = 200
    (tmp_path / "red.jpg").write_bytes(encode_jpeg(red, quality=90))
    feats = extract_image_features(load_assets(spark, str(tmp_path)), fake=False)
    row = feats.collect()[0]
    assert row["fmt"] == "jpeg" and row["h"] == 16 and row["w"] == 16
    assert abs(row["mean_r"] - 200) < 3 and row["mean_g"] < 6 and row["mean_b"] < 6


# --------------------------------------------------------------------------
# GIF decoder (functions/gif.py) — LZW, pure stdlib


def test_gif_roundtrip_exact():
    import numpy as np

    from bears_spark.functions.gif import decode_gif, encode_gif

    rng = np.random.RandomState(3)
    # <=256 distinct colors: palette round-trip is lossless
    palette = rng.randint(0, 256, size=(64, 3), dtype=np.uint8)
    idx = rng.randint(0, 64, size=(23, 31))
    img = palette[idx]
    assert (decode_gif(encode_gif(img)) == img).all()


def test_gif_dictionary_reset_path():
    import numpy as np

    from bears_spark.functions.gif import decode_gif, encode_gif

    rng = np.random.RandomState(9)
    # large noisy image forces the LZW dictionary past 4096 -> clear/reset
    palette = rng.randint(0, 256, size=(256, 3), dtype=np.uint8)
    palette = np.unique(palette, axis=0)
    idx = rng.randint(0, len(palette), size=(128, 128))
    img = palette[idx]
    assert (decode_gif(encode_gif(img)) == img).all()


def test_gif_via_decode_image_batch():
    import numpy as np

    from bears_spark.functions.gif import encode_gif

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[..., 1] = 255
    out = decode_image_batch(encode_gif(img), fake=False)
    assert (out == img).all()


def test_extract_pdf_pages(spark, tmp_path):
    from bears_spark.functions.multimodal import extract_pdf_pages

    (tmp_path / "two.pdf").write_bytes(_make_pdf("page one here") + _make_pdf("page two", compress=False)[9:])
    rows = extract_pdf_pages(load_assets(spark, str(tmp_path))).orderBy("page_idx").collect()
    assert [r["page_idx"] for r in rows] == [0, 1]
    assert rows[0]["text"] == "page one here" and rows[1]["text"] == "page two"
    assert rows[0]["n_chars"] == 13


# --------------------------------------------------------------------------
# progressive JPEG (Annex G multi-scan)


def test_progressive_jpeg_matches_baseline_decode():
    import numpy as np

    from bears_spark.functions.jpeg import decode_jpeg, encode_jpeg, encode_jpeg_progressive

    rng = np.random.RandomState(21)
    for shape, q in [((24, 24, 3), 90), ((37, 53, 3), 95), ((19, 21), 70), ((16, 16, 3), 50)]:
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        prog = decode_jpeg(encode_jpeg_progressive(img, q))
        base = decode_jpeg(encode_jpeg(img, q))
        # same quantized coefficients -> bit-identical reconstruction
        assert (prog == base).all(), (shape, q)


def test_progressive_jpeg_via_decode_image_batch(spark, tmp_path):
    import numpy as np

    from bears_spark.functions.jpeg import encode_jpeg_progressive
    from bears_spark.functions.multimodal import extract_image_features

    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[..., 0] = 180
    (tmp_path / "p.jpg").write_bytes(encode_jpeg_progressive(img, quality=92))
    row = extract_image_features(load_assets(spark, str(tmp_path)), fake=False).collect()[0]
    assert row["fmt"] == "jpeg" and row["h"] == 16 and row["w"] == 16
    assert abs(row["mean_r"] - 180) < 3 and row["mean_g"] < 6


def test_jpeg_420_subsampled_roundtrip():
    import numpy as np

    from bears_spark.functions.jpeg import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:35, 0:49]
    img = np.stack([(yy * 4) % 256, (xx * 3) % 256, ((yy + xx) * 2) % 256], axis=-1).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=95, subsampling="420"))
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.mean() < 3.0  # includes 2x2 chroma box-mean loss

    flat = np.full((20, 28, 3), 99, dtype=np.uint8)
    assert (decode_jpeg(encode_jpeg(flat, quality=90, subsampling="420")) == flat).all()


def test_jpeg_restart_markers_roundtrip():
    import numpy as np

    from bears_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(8)
    img = rng.randint(0, 256, size=(24, 40, 3), dtype=np.uint8)
    plain = decode_jpeg(encode_jpeg(img, 92))
    for ri in (1, 2, 5):
        assert (decode_jpeg(encode_jpeg(img, 92, restart_interval=ri)) == plain).all()


def test_progressive_jpeg_restart_markers():
    import numpy as np

    from bears_spark.functions.jpeg import decode_jpeg, encode_jpeg, encode_jpeg_progressive

    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, size=(20, 26, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, 90))
    for ri in (1, 3):
        assert (decode_jpeg(encode_jpeg_progressive(img, 90, restart_interval=ri)) == base).all()


def test_jpeg_422_subsampled_roundtrip():
    import numpy as np

    from bears_spark.functions.jpeg import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:35, 0:49]
    img = np.stack([(yy * 4) % 256, (xx * 3) % 256, ((yy + xx) * 2) % 256], axis=-1).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=95, subsampling="422"))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 2.0
    flat = np.full((20, 28, 3), 99, dtype=np.uint8)
    assert (decode_jpeg(encode_jpeg(flat, quality=90, subsampling="422")) == flat).all()


def test_jpeg_multiscan_baseline_gated():
    """A baseline JPEG whose first SOS covers fewer components than the frame
    declares (legal non-interleaved multi-scan) must raise, not decode a
    tinted image (ADVICE r3)."""
    import struct

    import numpy as np
    import pytest

    from bears_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    data = bytearray(encode_jpeg(img))
    sos_at = data.find(b"\xff\xda")
    assert sos_at > 0
    # rewrite the SOS header to declare a single-component scan (Y only)
    patched = bytes(data[:sos_at]) + b"\xff\xda" + struct.pack(">H", 2 + 1 + 2 + 3) + bytes(
        [1, 1, 0x00, 0, 63, 0]
    )
    with pytest.raises(NotImplementedError, match="multi-scan"):
        decode_jpeg(patched)


def test_decode_image_batch_prefers_native_decoder(monkeypatch):
    """When Pillow is importable it is preferred for standard JPEG/GIF
    (VERDICT r3 #3); stdlib codecs remain the fallback when it is absent or
    fails on a payload. Simulated with an injected fake PIL so the test runs
    identically with and without Pillow installed."""
    import sys
    import types

    import numpy as np

    from bears_spark.functions import multimodal as mm
    from bears_spark.functions.jpeg import encode_jpeg

    jpeg_bytes = encode_jpeg(np.full((8, 8, 3), 64, dtype=np.uint8))
    sentinel = np.full((4, 4, 3), 7, dtype=np.uint8)

    class _FakeImg:
        def convert(self, mode):
            assert mode == "RGB"
            return sentinel

    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = types.SimpleNamespace(open=lambda buf: _FakeImg())
    monkeypatch.setattr(mm, "_PIL_PROBED", False)
    monkeypatch.setattr(mm, "_PIL_IMAGE", None)
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    assert (mm.decode_image_batch(jpeg_bytes) == 7).all()

    # PIL present but failing on this payload -> stdlib decode still works
    def _boom(buf):
        raise OSError("truncated")

    fake_pil.Image = types.SimpleNamespace(open=_boom)
    monkeypatch.setattr(mm, "_PIL_PROBED", False)
    monkeypatch.setattr(mm, "_PIL_IMAGE", None)
    out = mm.decode_image_batch(jpeg_bytes)
    assert out.shape == (8, 8, 3) and abs(int(out.mean()) - 64) <= 2

    # an error outside (OSError, ValueError) — Pillow's DecompressionBombError
    # is a plain Exception — propagates instead of reaching the stdlib codec
    class DecompressionBombError(Exception):
        pass

    def _bomb(buf):
        raise DecompressionBombError("too many pixels")

    fake_pil.Image = types.SimpleNamespace(open=_bomb)
    monkeypatch.setattr(mm, "_PIL_PROBED", False)
    monkeypatch.setattr(mm, "_PIL_IMAGE", None)
    with pytest.raises(DecompressionBombError):
        mm.decode_image_batch(jpeg_bytes)

    # PIL absent entirely -> stdlib decode
    monkeypatch.setattr(mm, "_PIL_PROBED", True)
    monkeypatch.setattr(mm, "_PIL_IMAGE", None)
    out2 = mm.decode_image_batch(jpeg_bytes)
    assert (out2 == out).all()


def test_resize_bilinear_math():
    """Hand-checkable bilinear cases: constant images stay constant, a 2x
    upscale of a step edge lands the half-pixel-center weights, downscale
    averages."""
    import numpy as np

    from bears_spark.functions.multimodal import resize_bilinear

    # constant stays constant at any size
    const = np.full((5, 7, 3), 119, np.uint8)
    out = resize_bilinear(const, 3, 11)
    assert out.shape == (3, 11, 3) and (out == 119).all()

    # 1-D step edge [0, 100] upscaled 2x with half-pixel centers:
    # xs = [-0.25, 0.25, 0.75, 1.25] -> clipped lerp = [0, 25, 75, 100]
    step = np.zeros((1, 2, 1), np.uint8)
    step[0, 1, 0] = 100
    up = resize_bilinear(step, 1, 4)
    assert up[0, :, 0].tolist() == [0, 25, 75, 100]

    # 2x2 -> 1x1 is the exact 4-pixel average
    sq = np.array([[[10], [20]], [[30], [40]]], np.uint8)
    down = resize_bilinear(sq, 1, 1)
    assert down[0, 0, 0] == 25

    # identity size copies
    same = resize_bilinear(sq, 2, 2)
    assert (same == sq).all()


def test_resize_images_mapinpandas(spark, tmp_path):
    """End-to-end over real PPM payloads: fixed output dims, reconstructable
    pixel bytes, constant colors preserved."""
    import numpy as np

    from bears_spark.functions.multimodal import resize_images

    def ppm(h, w, rgb):
        header = f"P6\n{w} {h}\n255\n".encode()
        body = bytes(rgb) * (h * w)
        return header + body

    rows = [
        ("a.ppm", ppm(6, 4, (255, 0, 0))),
        ("b.ppm", ppm(3, 5, (0, 128, 255))),
    ]
    df = spark.createDataFrame(rows, "path: string, content: binary")
    got = {r["path"]: r for r in resize_images(df, 8, 8).collect()}
    assert set(got) == {"a.ppm", "b.ppm"}
    a = got["a.ppm"]
    assert (a["src_h"], a["src_w"], a["h"], a["w"], a["channels"]) == (6, 4, 8, 8, 3)
    arr = np.frombuffer(a["pixels"], np.uint8).reshape(8, 8, 3)
    assert (arr[..., 0] == 255).all() and (arr[..., 1] == 0).all()
    b = np.frombuffer(got["b.ppm"]["pixels"], np.uint8).reshape(8, 8, 3)
    assert (b[..., 2] == 255).all() and (b[..., 1] == 128).all()
