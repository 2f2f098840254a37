"""Multimodal (image/audio/video) columns: binary payloads + typed metadata.

Reference parity: asset MLTypes IMAGE/AUDIO/VIDEO/PDF
(src/bears/constants/_MLTypeConstants.py:20-25) and the asset readers
(src/bears/reader/asset/ — ImageIOReader.py:17, TorchAudioReader,
FitzPdfReader.py:17). The engine treats assets as opaque ``binary`` columns
with a struct metadata column; decode / resize / frame-sample run as
Arrow-batched pandas functions over mapInPandas.

Decode paths: PPM(P6), uncompressed 24-bit BMP, 8-bit PNG (all color
types, stdlib zlib inflate + spec §9 unfiltering), baseline + progressive
JPEG (functions/jpeg.py) and GIF (functions/gif.py) all decode natively —
no external libraries; only arithmetic-coded/12-bit JPEG and video remain
gated on Pillow/ffmpeg. ``fake=True`` substitutes a deterministic
content-hash-seeded decode so the Spark-side plumbing — schema, batching,
partitioning — stays testable for every format.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def load_assets(spark, path_glob: str, partition_target_bytes: int = 128 << 20) -> DataFrame:
    """Read a directory/glob of binary assets -> (path, modificationTime,
    length, content). binaryFile source parallelizes per file; for millions of
    small files at 100 TB, prefer packing into parquet/sequence containers
    upstream — this source is for moderate file counts."""
    return spark.read.format("binaryFile").load(path_glob)


_MAGIC = {
    b"\xff\xd8\xff": "jpeg",
    b"\x89PNG": "png",
    b"GIF8": "gif",
    b"RIFF": "riff",  # wav/webp — disambiguated at decode
    b"fLaC": "flac",
    b"OggS": "ogg",
    b"ID3": "mp3",  # ID3v2-tagged; bare MPEG sync (0xFFEx) sniffed at decode
    b"%PDF": "pdf",
    b"P6": "ppm",
    b"BM": "bmp",
}


def detect_format(content_col) -> "F.Column":
    """Magic-byte sniffing as a pure expression over the binary column."""
    c = content_col if not isinstance(content_col, str) else F.col(content_col)
    out = F.lit("unknown")
    for magic, name in _MAGIC.items():
        hexs = magic.hex()
        out = F.when(F.startswith(F.hex(c), F.lit(hexs.upper())), F.lit(name)).otherwise(out)
    return out


def decode_ppm(content: bytes) -> np.ndarray:
    """Pure-numpy decode of binary PPM (P6, maxval<=255) -> HxWx3 uint8.

    Header: 'P6' <ws> width <ws> height <ws> maxval <single ws> raw RGB.
    '#' comments allowed between tokens (PPM spec)."""
    if not content.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":  # comment to end of line
            pos = content.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # exactly one whitespace byte after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    pix = np.frombuffer(content, dtype=np.uint8, count=w * h * 3, offset=pos)
    return pix.reshape(h, w, 3).copy()


def decode_bmp(content: bytes) -> np.ndarray:
    """Pure-numpy decode of uncompressed 24-bit BMP -> HxWx3 uint8 (RGB).

    Handles the standard BITMAPINFOHEADER layout: bottom-up row order,
    rows padded to 4 bytes, BGR channel order."""
    if not content.startswith(b"BM"):
        raise ValueError("not a BMP payload")
    data_offset = int.from_bytes(content[10:14], "little")
    header_size = int.from_bytes(content[14:18], "little")
    if header_size < 40:
        raise ValueError("BITMAPCOREHEADER not supported")
    w = int.from_bytes(content[18:22], "little", signed=True)
    h = int.from_bytes(content[22:26], "little", signed=True)
    bpp = int.from_bytes(content[28:30], "little")
    compression = int.from_bytes(content[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp}, compression={compression})")
    top_down = h < 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3  # rows padded to 4-byte boundary
    raw = np.frombuffer(content, dtype=np.uint8, count=row_bytes * h, offset=data_offset)
    rows = raw.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[..., ::-1].copy()  # BGR -> RGB


def _png_unfilter(filt: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Reverse one PNG scanline filter (spec §9): 0 None, 1 Sub, 2 Up,
    3 Average, 4 Paeth. ``row`` is the filtered bytes, ``prev`` the
    reconstructed prior scanline (zeros for the first)."""
    if filt == 0:
        return row
    if filt == 2:  # Up — fully vectorized
        return (row + prev).astype(np.uint8)
    if filt == 1:  # Sub — cumulative sum per byte position within pixel
        cols = row.reshape(-1, bpp).astype(np.int64)
        return (np.cumsum(cols, axis=0) % 256).astype(np.uint8).reshape(-1)
    out = np.zeros_like(row)
    for x in range(len(row)):
        a = int(out[x - bpp]) if x >= bpp else 0  # left
        b = int(prev[x])  # up
        if filt == 3:  # Average
            out[x] = (int(row[x]) + (a + b) // 2) & 0xFF
        else:  # Paeth
            c = int(prev[x - bpp]) if x >= bpp else 0  # upper-left
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (int(row[x]) + pred) & 0xFF
    return out


def decode_png(content: bytes) -> np.ndarray:
    """Pure-stdlib PNG decode -> HxWx3 uint8 RGB (no Pillow).

    zlib (stdlib) inflates the concatenated IDAT stream; scanline filters
    None/Sub/Up/Average/Paeth are reversed per spec §9. Supports bit depth 8
    with color types 0 (gray), 2 (RGB), 3 (palette via PLTE), 4 (gray+alpha),
    6 (RGBA) and non-interlaced layout — the shape every standard encoder
    emits by default. Alpha is dropped (decoders here feed RGB feature
    extraction); Adam7 interlace and 16-bit depth raise.
    """
    import zlib

    if not content.startswith(b"\x89PNG\r\n\x1a\n"):
        raise ValueError("not a PNG payload")
    pos = 8
    idat = bytearray()
    plte: np.ndarray | None = None
    w = h = depth = color = interlace = None
    while pos + 8 <= len(content):
        length = int.from_bytes(content[pos : pos + 4], "big")
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        pos += 12 + length  # skip CRC
        if ctype == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            depth, color, interlace = data[8], data[9], data[12]
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    if depth != 8 or interlace != 0:
        raise ValueError(f"only 8-bit non-interlaced PNG supported (depth={depth}, interlace={interlace})")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"unknown PNG color type {color}")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = w * channels
    raw = raw.reshape(h, stride + 1)  # each scanline: 1 filter byte + pixels
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        prev = _png_unfilter(int(raw[y, 0]), raw[y, 1:].copy(), prev, channels)
        out[y] = prev
    px = out.reshape(h, w, channels)
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        return plte[px[..., 0]].copy()
    if color == 0:
        return np.repeat(px, 3, axis=2).copy()
    if color == 4:
        return np.repeat(px[..., :1], 3, axis=2).copy()
    return px[..., :3].copy()  # RGB / RGBA (alpha dropped)


_PIL_IMAGE = None
_PIL_PROBED = False


def _pil_image():
    """Probe for Pillow ONCE per process; None when absent. Native libjpeg /
    giflib decode is ~2 orders of magnitude faster than the pure-stdlib
    codecs — on a 100 TB image corpus the decode stage is the whole job, so
    when Pillow is importable it is preferred for JPEG/GIF and the stdlib
    codecs (bit-compat fuzz-tested in test_multimodal) stay the
    zero-dependency fallback."""
    global _PIL_IMAGE, _PIL_PROBED
    if not _PIL_PROBED:
        _PIL_PROBED = True
        try:
            from PIL import Image  # type: ignore[import-not-found]

            _PIL_IMAGE = Image
        except ImportError:
            _PIL_IMAGE = None
    return _PIL_IMAGE


def _pil_decode(content: bytes) -> "np.ndarray | None":
    pil = _pil_image()
    if pil is None:
        return None
    try:
        import io

        return np.asarray(pil.open(io.BytesIO(content)).convert("RGB")).copy()
    except (OSError, ValueError):
        return None  # unidentified/truncated payload: the stdlib codec tries; a decompression bomb raises


def decode_image_batch(content: bytes, fake: bool = False) -> np.ndarray:
    """Decode one image payload -> HxWx3 uint8 array.

    Standard JPEG/GIF prefer Pillow when importable (native decode speed —
    see _pil_image); PPM(P6), 24-bit BMP, 8-bit PNG, baseline AND progressive
    JPEG (functions/jpeg.py — huffman + IDCT + Annex G multi-scan), and GIF
    (functions/gif.py — LZW) decode pure numpy/stdlib with no dependency at
    all. Exotica (arithmetic-coded/12-bit JPEG, video) REQUIRE Pillow/ffmpeg,
    else raise. ``fake=True`` produces a deterministic 8x8x3 array seeded by
    the content hash — stable across runs/engines, so the Spark plumbing
    stays testable for every format."""
    if not fake:
        if content.startswith(b"P6"):
            return decode_ppm(content)
        if content.startswith(b"BM"):
            return decode_bmp(content)
        if content.startswith(b"\x89PNG"):
            return decode_png(content)
        if content.startswith(b"\xff\xd8"):
            native = _pil_decode(content)
            if native is not None:
                return native
            from bears_spark.functions.jpeg import decode_jpeg

            try:
                return decode_jpeg(content)
            except NotImplementedError as exc:
                raise NotImplementedError(
                    f"{exc} — install Pillow for non-baseline/progressive JPEG codings"
                ) from None
        if content[:6] in (b"GIF87a", b"GIF89a"):
            native = _pil_decode(content)
            if native is not None:
                return native
            from bears_spark.functions.gif import decode_gif

            return decode_gif(content)
        native = _pil_decode(content)
        if native is not None:
            return native
        raise NotImplementedError(
            "unrecognized image format (and Pillow absent); "
            "PPM/BMP/PNG/JPEG(baseline+progressive)/GIF decode natively"
        )
    seed = int(hashlib.md5(content).hexdigest()[:8], 16)
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)


def decode_wav(content: bytes) -> tuple[np.ndarray, int]:
    """Pure-stdlib decode of PCM WAV -> (samples[frames, channels] float64 in
    [-1, 1], sample_rate). Handles 8/16/32-bit integer PCM via the ``wave``
    module — no external audio libraries required."""
    import io as _io
    import wave

    with wave.open(_io.BytesIO(content), "rb") as w:
        n_ch, sampwidth, rate, n_frames = w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes()
        raw = w.readframes(n_frames)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(sampwidth)
    if dtype is None:
        raise ValueError(f"unsupported WAV sample width {sampwidth}")
    arr = np.frombuffer(raw, dtype=dtype).reshape(-1, n_ch).astype(np.float64)
    if sampwidth == 1:  # 8-bit WAV is unsigned, centered at 128
        arr = (arr - 128.0) / 128.0
    else:
        arr = arr / float(1 << (8 * sampwidth - 1))
    return arr, rate


_SOUNDFILE = False


def _soundfile():
    """Probe for the native decoder (soundfile/libsndfile) once per process —
    same pattern as _pil_image; the stdlib codecs remain the zero-dependency
    fallback and the safety net when a payload trips the native path."""
    global _SOUNDFILE
    if _SOUNDFILE is False:
        try:
            import soundfile  # type: ignore[import-not-found]

            _SOUNDFILE = soundfile
        except ImportError:
            _SOUNDFILE = None
    return _SOUNDFILE


def decode_audio(content: bytes) -> tuple[np.ndarray, int]:
    """Format-dispatching audio decode -> (samples[frames, channels] float64
    in [-1, 1], sample_rate). Prefers native soundfile/libsndfile when
    importable (it also unlocks ogg/mp3-family containers); falls back to
    the pure-stdlib codecs — WAV via the ``wave`` module, FLAC via
    functions/flac.py."""
    sf = _soundfile()
    if sf is not None:
        try:
            import io as _io

            arr, rate = sf.read(_io.BytesIO(content), dtype="float64", always_2d=True)
            return arr, rate
        except RuntimeError:
            pass  # libsndfile rejected the payload (LibsndfileError): stdlib codecs try next
    if content[:4] == b"fLaC":
        from bears_spark.functions.flac import decode_flac

        arr, rate, bps = decode_flac(content)
        return arr.astype(np.float64) / float(1 << (bps - 1)), rate
    if is_mp3_or_ogg(content):
        # honest format gate (same convention as the JPEG multi-scan gate):
        # mp3/ogg are perceptual codecs — no stdlib decoder exists; the
        # native path above handles them when soundfile/libsndfile+lame is
        # installed on the executors.
        raise NotImplementedError(
            "mp3/ogg decode requires the native soundfile/libsndfile decoder "
            "(pip install soundfile); the zero-dependency fallback covers WAV and FLAC"
        )
    return decode_wav(content)


def is_mp3_or_ogg(content: bytes) -> bool:
    """Container sniff for the perceptual-codec family: Ogg capture pattern,
    ID3v2 tag, or a bare MPEG audio frame sync (11 set bits + valid
    version/layer nibble — the tagless-mp3 case magic-prefix maps miss)."""
    if content[:4] == b"OggS" or content[:3] == b"ID3":
        return True
    if len(content) >= 2 and content[0] == 0xFF and (content[1] & 0xE0) == 0xE0:
        version = (content[1] >> 3) & 0x3
        layer = (content[1] >> 1) & 0x3
        return version != 1 and layer != 0  # reserved values exclude random binary
    return False


def extract_pdf_text(content: bytes) -> str:
    """Pure-stdlib text extraction from simple PDFs (FitzPdfReader parity,
    src/bears/reader/asset/document/FitzPdfReader.py:17 — fitz absent here).

    Handles the common generated-PDF shape: content streams stored raw or
    FlateDecode-compressed (zlib is stdlib), text drawn with Tj / TJ
    operators and parenthesized literal strings. Not a full PDF parser —
    encrypted, CFF-subset, or hex-string documents need a real library; the
    point is a REAL decode path for the simple case, not a stub.
    """
    import re
    import zlib

    texts: list[str] = []
    # every stream object: "stream\r?\n ... endstream"
    for m in re.finditer(rb"stream\r?\n(.*?)endstream", content, re.DOTALL):
        data = m.group(1)
        try:
            data = zlib.decompress(data)
        except zlib.error:
            pass  # raw (uncompressed) stream
        # Tj: "(text) Tj"; TJ: "[(a) -120 (b)] TJ" — pull every literal
        for s in re.finditer(rb"\((?:[^()\\]|\\.)*\)", data):
            token = s.group(0)[1:-1]
            # unescape the PDF literal-string escapes we produce/encounter
            token = re.sub(rb"\\([()\\])", rb"\1", token)
            texts.append(token.decode("latin-1"))
    return " ".join(texts)


def extract_pdf_features(assets: DataFrame) -> DataFrame:
    """PDF text + length features via mapInPandas (same narrow-features-out
    pattern as image/audio)."""
    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
            T.StructField("n_streams", T.IntegerType()),
        ]
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = bytes(r["content"])
                text = extract_pdf_text(content)
                n_streams = len(re.findall(rb"stream\r?\n", content))
                rows.append({"path": r["path"], "text": text, "n_chars": len(text), "n_streams": n_streams})
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return assets.select("path", "content").mapInPandas(_extract, schema)


def extract_pdf_pages(assets: DataFrame) -> DataFrame:
    """One row per PDF page (path, page_idx, text, n_chars) — parity with the
    reference's Document/Pdf.pages (src/bears/document.py:21-27), as a UDTF
    shape: 1 document row -> N page rows, decoded on executors.

    Page boundaries follow content-stream order (the 1:1 mapping every
    simple generator emits); multi-stream pages need a real PDF library."""
    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("page_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
        ]
    )

    def _pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re
        import zlib

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = bytes(r["content"])
                for idx, m in enumerate(re.finditer(rb"stream\r?\n(.*?)endstream", content, re.DOTALL)):
                    data = m.group(1)
                    try:
                        data = zlib.decompress(data)
                    except zlib.error:
                        pass
                    parts = []
                    for s in re.finditer(rb"\((?:[^()\\]|\\.)*\)", data):
                        token = re.sub(rb"\\([()\\])", rb"\1", s.group(0)[1:-1])
                        parts.append(token.decode("latin-1"))
                    text = " ".join(parts)
                    rows.append({"path": r["path"], "page_idx": idx, "text": text, "n_chars": len(text)})
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return assets.select("path", "content").mapInPandas(_pages, schema)


_AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
    ]
)


def extract_audio_features(assets: DataFrame) -> DataFrame:
    """Audio decode (WAV or FLAC) + loudness features via mapInPandas — same
    binary-in, narrow-features-out pattern as images; both decodes are real
    (stdlib wave / functions/flac.py)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                arr, rate = decode_audio(bytes(r["content"]))
                rows.append(
                    {
                        "path": r["path"],
                        "sample_rate": rate,
                        "n_channels": arr.shape[1],
                        "n_frames": arr.shape[0],
                        "duration_sec": arr.shape[0] / rate if rate else 0.0,
                        "rms": float(np.sqrt((arr**2).mean())) if arr.size else 0.0,
                        "peak": float(np.abs(arr).max()) if arr.size else 0.0,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _AUDIO_FEATURES_SCHEMA.fields])

    return assets.select("path", "content").mapInPandas(_extract, _AUDIO_FEATURES_SCHEMA)


_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
    ]
)


def extract_image_features(assets: DataFrame, fake: bool = False) -> DataFrame:
    """Decode + per-channel mean features via mapInPandas (Arrow batches stay
    on executors; one Python worker per core). The canonical multimodal
    pattern: binary in, narrow typed features out — never ship decoded
    pixels through a shuffle."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = bytes(r["content"])
                arr = decode_image_batch(content, fake=fake)
                fmt = next((n for m, n in _MAGIC.items() if content.startswith(m)), "unknown")
                rows.append(
                    {
                        "path": r["path"],
                        "fmt": fmt,
                        "mean_r": float(arr[..., 0].mean()),
                        "mean_g": float(arr[..., 1].mean()),
                        "mean_b": float(arr[..., 2].mean()),
                        "h": arr.shape[0],
                        "w": arr.shape[1],
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _FEATURES_SCHEMA.fields])

    return assets.select("path", "content").mapInPandas(_extract, _FEATURES_SCHEMA)


def sample_frames(video_df: DataFrame, every_n: int = 30, fake: bool = True) -> DataFrame:
    """Frame-sampling plumbing for video payloads: 1 video row -> N frame rows
    (UDTF shape via mapInPandas). Decode stubbed like images."""
    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = bytes(r["content"])
                if not fake:
                    raise NotImplementedError("video decode requires ffmpeg/pyav — not available")
                n_frames = (len(content) % 91) + 30  # deterministic fake frame count
                for i in range(0, n_frames, every_n):
                    digest = hashlib.md5(content + i.to_bytes(4, "little")).digest()
                    rows.append({"path": r["path"], "frame_idx": i, "frame": digest})
            yield pd.DataFrame(rows, columns=["path", "frame_idx", "frame"])

    return video_df.select("path", "content").mapInPandas(_sample, schema)


_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("orientation", T.IntegerType()),
        T.StructField("make", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("datetime", T.StringType()),
        T.StructField("exposure_time", T.DoubleType()),
        T.StructField("f_number", T.DoubleType()),
        T.StructField("iso", T.IntegerType()),
    ]
)


def extract_image_metadata(assets: DataFrame) -> DataFrame:
    """EXIF / header metadata without pixel decode (functions/exif.py): walks
    JPEG segment tables and PNG chunks only, reading a few KB per payload
    regardless of image size. The 100 TB pipeline shape is metadata-filter
    FIRST (cheap scan), then decode only the survivors — this operator is
    that first stage."""
    from bears_spark.functions.exif import parse_image_metadata

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                content = bytes(r["content"])
                md = parse_image_metadata(content)
                fmt = next((n for m, n in _MAGIC.items() if content.startswith(m)), "unknown")
                rows.append(
                    {
                        "path": r["path"],
                        "fmt": fmt,
                        "width": md.get("width") or md.get("pixel_x_dimension"),
                        "height": md.get("height") or md.get("pixel_y_dimension"),
                        "orientation": md.get("orientation"),
                        "make": md.get("make"),
                        "model": md.get("model"),
                        "datetime": md.get("datetime_original") or md.get("datetime"),
                        "exposure_time": md.get("exposure_time"),
                        "f_number": md.get("f_number"),
                        "iso": md.get("iso"),
                    }
                )
            out = pd.DataFrame(rows, columns=[f.name for f in _METADATA_SCHEMA.fields])
            for c in ("width", "height", "orientation", "iso"):
                out[c] = out[c].astype("Int64")
            yield out

    return assets.select("path", "content").mapInPandas(_extract, _METADATA_SCHEMA)


def resize_bilinear(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Pure-numpy bilinear resize HxWxC uint8 -> out_h x out_w x C uint8,
    using the half-pixel-center convention (align_corners=False — what
    PIL/OpenCV/torch default to). Vectorized gather + lerp: no Python loop
    over pixels, deterministic on every platform."""
    h, w = arr.shape[:2]
    if (h, w) == (out_h, out_w):
        return arr.copy()
    # source coordinate of each output pixel center
    ys = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :, None]
    a = arr[np.ix_(y0, x0)].astype(np.float64)
    b = arr[np.ix_(y0, x1)].astype(np.float64)
    c = arr[np.ix_(y1, x0)].astype(np.float64)
    d = arr[np.ix_(y1, x1)].astype(np.float64)
    top = a * (1.0 - wx) + b * wx
    bot = c * (1.0 - wx) + d * wx
    out = top * (1.0 - wy) + bot * wy
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


_RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("src_h", T.IntegerType()),
        T.StructField("src_w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),
    ]
)


def resize_images(assets: DataFrame, height: int, width: int, fake: bool = False) -> DataFrame:
    """Decode + bilinear-resize every image to a fixed (height, width) via
    mapInPandas — the normalization step in front of any vision encoder.
    Emits row-major uint8 RGB bytes + dims (reconstruct with
    ``np.frombuffer(pixels, np.uint8).reshape(h, w, channels)``).

    Scale notes: Arrow batches keep payloads on the executors; output bytes
    are FIXED-size (h*w*3) regardless of source resolution, so downstream
    partitioning is predictable — resize before any shuffle, never after.
    Decode prefers native codecs when importable, pure numpy/stdlib
    otherwise (decode_image_batch); ``fake=True`` keeps the plumbing
    testable where neither applies."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                arr = decode_image_batch(bytes(r["content"]), fake=fake)
                resized = resize_bilinear(arr, height, width)
                rows.append(
                    {
                        "path": r["path"],
                        "src_h": arr.shape[0],
                        "src_w": arr.shape[1],
                        "h": height,
                        "w": width,
                        "channels": resized.shape[2],
                        "pixels": resized.tobytes(),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _RESIZED_SCHEMA.fields])

    return assets.select("path", "content").mapInPandas(_resize, _RESIZED_SCHEMA)
