"""Multimodal binary-column plumbing: decode / feature-extract / resize /
frame-sample over opaque `binary` payloads with typed metadata.

The Spark-side shape is real and tested — schema contracts, Arrow batch
transfer via mapInPandas, partition sizing — and the container-safe
decoding is real too: pure-stdlib default decoders parse PNG/GIF headers
(`struct` over the IHDR / logical-screen descriptor) and WAV containers
(`wave`), so `decode_image`/`decode_audio` work end-to-end with zero
third-party dependencies. `register_decoder` still overrides the default
with a full PIL/opencv/librosa-backed callable (pixel decode, resampling,
...); payloads the active decoder cannot read yield a null struct, the
row is kept. `fake_features` provides a deterministic byte-level feature
extractor so feature pipelines stay runnable without any media library.

Every op that appends one struct column per payload (features, image,
pixels, audio, video, resize) goes through one mapInPandas helper,
`_with_mapped`: `wrangler_spark.udfs.map_values` calls the decoder once
per distinct non-null payload of a batch, so decoders carry no null
guard of their own, and a null payload gives a null struct.

At 100 TB: payloads should be read with `spark.read.format("binaryFile")`
or from parquet with a binary column; keep
`spark.sql.files.maxPartitionBytes` at 128–256 MB so a partition of
payload bytes fits executor memory, and mapInPandas streams one Arrow
batch at a time (bounded memory regardless of file count).
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wrangler_spark.udfs import map_values

# Registered real decoders (host app can plug in PIL/librosa/etc.)
_DECODERS: dict[str, Callable[[bytes], Any]] = {}


# --- stdlib default decoders -------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color types (spec §11.2.2) mapped to PIL-style mode names
_PNG_MODES = {0: "L", 2: "RGB", 3: "P", 4: "LA", 6: "RGBA"}


def png_meta(b: bytes) -> tuple[int, int, str] | None:
    """(width, height, mode) from a PNG's IHDR — signature (8 bytes), then
    the first chunk must be IHDR: length(4BE) type(4) width(4BE)
    height(4BE) bitdepth(1) colortype(1). Pure struct, no pixel decode."""
    if len(b) < 26 or not b.startswith(_PNG_SIG) or b[12:16] != b"IHDR":
        return None
    width, height = struct.unpack(">II", b[16:24])
    mode = _PNG_MODES.get(b[25])
    if mode is None or width <= 0 or height <= 0:
        return None
    return (int(width), int(height), mode)


def gif_meta(b: bytes) -> tuple[int, int, str] | None:
    """(width, height, 'P') from a GIF logical screen descriptor
    (GIF87a/89a header, then width/height as little-endian uint16)."""
    if len(b) < 10 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    width, height = struct.unpack("<HH", b[6:10])
    if width <= 0 or height <= 0:
        return None
    return (int(width), int(height), "P")  # GIFs are palette-indexed


# SOF marker set (ITU T.81 table B.1): C0-C3, C5-C7, C9-CB, CD-CF carry
# frame dimensions; C4/C8/CC are DHT/JPG/DAC, not frames
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
_JPEG_MODES = {1: "L", 3: "RGB", 4: "CMYK"}


def jpeg_meta(b: bytes) -> tuple[int, int, str] | None:
    """(width, height, mode) from a JPEG's first SOF frame header: walk
    the marker segments (each FF xx + 2-byte BE length) from SOI until a
    start-of-frame, then read precision(1) height(2BE) width(2BE)
    n_components(1). Pure marker scan, no entropy decode; truncated or
    malformed streams → None."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            return None  # not at a marker: corrupt stream
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte padding before a marker
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2  # standalone markers carry no length
            continue
        if marker == 0xD9:  # EOI before any SOF
            return None
        seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
        if seg_len < 2:
            return None
        if marker in _JPEG_SOF:
            if i + 10 > len(b):  # precision+height+width+ncomp = bytes i+4..i+9
                return None
            height, width = struct.unpack(">HH", b[i + 5 : i + 9])
            ncomp = b[i + 9]
            mode = _JPEG_MODES.get(ncomp)
            if mode is None or width <= 0 or height <= 0:
                return None
            return (int(width), int(height), mode)
        i += 2 + seg_len
    return None


def default_image_decoder(b: bytes) -> tuple[int, int, str] | None:
    """Stdlib image metadata decoder: PNG, GIF, or JPEG headers (a pure
    marker/struct scan each — real pixel work needs PIL, plugged in via
    register_decoder); anything else → None."""
    return png_meta(b) or gif_meta(b) or jpeg_meta(b)


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # bit-depth-8 channel counts


def png_pixels(b: bytes) -> tuple[int, int, str, bytes] | None:
    """REAL pixel decode for the PNG baseline profile — pure stdlib
    (zlib inflate + per-scanline unfilter, PNG spec §9): 8-bit
    greyscale/RGB/greyscale-alpha/RGBA, non-interlaced. Returns
    (width, height, mode, raw) with ``raw`` the unfiltered
    row-major channel bytes (len == w*h*channels). Palette, 16-bit,
    and interlaced images — and every non-PNG format — return None
    (that is what a registered PIL decoder is for)."""
    if len(b) < 26 or not b.startswith(_PNG_SIG) or b[12:16] != b"IHDR":
        return None
    width, height = struct.unpack(">II", b[16:24])
    depth, ctype, _comp, _filt, interlace = b[24:29]
    nch = _PNG_CHANNELS.get(ctype)
    if nch is None or depth != 8 or interlace != 0 or width <= 0 or height <= 0:
        return None
    # walk chunks, concatenating IDAT payloads
    idat = bytearray()
    off = 8
    n = len(b)
    while off + 8 <= n:
        (clen,), ctag = struct.unpack(">I", b[off:off + 4]), b[off + 4:off + 8]
        if off + 8 + clen > n:
            return None
        if ctag == b"IDAT":
            idat += b[off + 8:off + 8 + clen]
        elif ctag == b"IEND":
            break
        off += 12 + clen  # length + type + data + crc
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = width * nch
    if len(raw) != height * (stride + 1):
        return None
    out = bytearray(height * stride)
    prev = bytes(stride)
    for y in range(height):
        ft = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
        if ft == 1:  # Sub
            for i in range(nch, stride):
                line[i] = (line[i] + line[i - nch]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                c = prev[i - nch] if i >= nch else 0
                p = a + prev[i] - c
                pa, pb, pc = abs(p - a), abs(p - prev[i]), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (prev[i] if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        elif ft != 0:
            return None
        out[y * stride:(y + 1) * stride] = line
        prev = bytes(line)
    return (int(width), int(height), _PNG_MODES[ctype], bytes(out))


def default_pixel_decoder(b: bytes) -> tuple[int, int, str, bytes] | None:
    """Default 'image_pixels' decoder: the stdlib PNG baseline decoder.
    Register a PIL-backed one for JPEG/GIF/palette coverage:
    ``register_decoder("image_pixels", pil_pixel_decoder)``."""
    return png_pixels(b)


def pil_pixel_decoder(b: bytes) -> tuple[int, int, str, bytes] | None:
    """Optional PIL-backed pixel decoder (dependency-optional: PIL is
    NOT bundled — importing it here raises a clear ImportError if
    absent). Same return contract as :func:`png_pixels` for any format
    PIL can open."""
    try:
        from PIL import Image  # noqa: PLC0415 — optional dependency
    except ImportError as e:  # pragma: no cover — PIL not in this container
        raise ImportError(
            "pil_pixel_decoder needs Pillow: pip install Pillow, then "
            "register_decoder('image_pixels', pil_pixel_decoder)") from e
    import io as _io

    try:
        img = Image.open(_io.BytesIO(b))
        img.load()
    except Exception:  # noqa: BLE001 — undecodable payload → null struct
        return None
    return (img.width, img.height, img.mode, img.tobytes())


def default_audio_decoder(b: bytes) -> tuple[int, int, int, int] | None:
    """Stdlib WAV decoder via the `wave` module: (channels, sample_rate,
    n_frames, sample_width_bytes); non-WAV/corrupt payloads → None."""
    try:
        with wave.open(io.BytesIO(b)) as w:
            return (w.getnchannels(), w.getframerate(), w.getnframes(), w.getsampwidth())
    except (wave.Error, EOFError, OSError):
        return None


def mp4_meta(b: bytes) -> tuple[float, int, str] | None:
    """(duration_sec, n_tracks, brand) from an MP4/ISO-BMFF container:
    walk the top-level box list to `moov`, read `mvhd` (version 0:
    32-bit timescale/duration at +12; version 1: 64-bit duration after a
    64-bit ctime/mtime pair) and count `trak` children. Pure struct over
    the box headers — no sample decode (that needs a codec library,
    registered via register_decoder("video", ...))."""
    def boxes(buf: bytes, start: int, end: int):
        off = start
        while off + 8 <= end:
            size, = struct.unpack(">I", buf[off:off + 4])
            btype = buf[off + 4:off + 8]
            if size == 1:  # 64-bit largesize
                if off + 16 > end:
                    return
                size, = struct.unpack(">Q", buf[off + 8:off + 16])
                hdr = 16
            elif size == 0:  # box extends to end of enclosing scope
                size, hdr = end - off, 8
            else:
                hdr = 8
            if size < hdr or off + size > end:
                return
            yield btype, off + hdr, off + size
            off += size

    if len(b) < 16:
        return None
    brand = None
    moov = None
    for btype, s, e in boxes(b, 0, len(b)):
        if btype == b"ftyp" and e - s >= 4:
            brand = b[s:s + 4].decode("ascii", "replace").strip()
        elif btype == b"moov":
            moov = (s, e)
    if moov is None:
        return None
    duration = None
    n_tracks = 0
    for btype, s, e in boxes(b, moov[0], moov[1]):
        if btype == b"mvhd":
            # a truncated/malformed zero-payload mvhd (size==8 at end of
            # buffer) has no version byte — must yield the null struct,
            # not an IndexError out of the mapInPandas task
            if e - s < 1:
                return None
            ver = b[s]
            try:
                if ver == 0 and e - s >= 20:
                    timescale, dur = struct.unpack(">II", b[s + 12:s + 20])
                elif ver == 1 and e - s >= 32:
                    timescale, = struct.unpack(">I", b[s + 20:s + 24])
                    dur, = struct.unpack(">Q", b[s + 24:s + 32])
                else:
                    return None
            except struct.error:
                return None
            if timescale <= 0:
                return None
            duration = round(dur / timescale, 6)
        elif btype == b"trak":
            n_tracks += 1
    if duration is None:
        return None
    return (float(duration), int(n_tracks), brand or "")


def default_video_decoder(b: bytes) -> tuple[float, int, str] | None:
    """Stdlib video metadata decoder: MP4/ISO-BMFF container headers;
    other containers / sample decode need a registered decoder."""
    return mp4_meta(b)


def register_decoder(kind: str, fn: Callable[[bytes], Any]) -> None:
    _DECODERS[kind.lower()] = fn


def attach_binary(df: DataFrame, text_col: str, out_col: str = "payload") -> DataFrame:
    """Test helper: synthesize a binary payload column from text (the
    driver tables have no binary columns; real pipelines read binaryFile
    or parquet binary directly)."""
    return df.withColumn(out_col, F.encode(F.col(text_col), "utf-8"))


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("crc32", T.LongType()),
        T.StructField("md5_prefix", T.StringType()),
        T.StructField("byte_entropy_q", T.LongType()),
    ]
)


def _fake_feature_row(b: bytes) -> tuple:
    """Deterministic byte-level features — the stand-in for a real
    image/audio feature extractor (embedding, spectrogram stats, ...).
    md5 (not sha1) so the DuckDB oracle can mirror the digest."""
    counts = [0] * 16
    for x in b[:4096]:
        counts[x >> 4] += 1
    total = max(sum(counts), 1)
    # quantized entropy proxy: number of non-rare nibble buckets
    q = sum(1 for c in counts if c / total > 0.02)
    return (len(b), zlib.crc32(b) & 0xFFFFFFFF, hashlib.md5(b).hexdigest()[:12], q)


def _with_mapped(
    df: DataFrame, payload_col: str, out_col: str, out_type: T.DataType, fn: Callable[[Any], Any],
) -> DataFrame:
    """``df`` plus ``out_col``: ``fn`` of each distinct non-null payload of
    an Arrow batch (``map_values``); a null payload, or a None from ``fn``,
    is a null struct and the row is kept. mapInPandas rather than a
    struct-typed pandas_udf, which cannot return a null struct."""
    out_schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, out_type)])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[out_col] = map_values(fn, pdf[payload_col])
            yield pdf

    return df.mapInPandas(run, out_schema)


def extract_features(
    df: DataFrame, payload_col: str = "payload", out_col: str = "features"
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    mapInPandas — the real plumbing any decoder plugs into."""
    return _with_mapped(df, payload_col, out_col, FEATURE_SCHEMA, _fake_feature_row)


def decode_image(df: DataFrame, payload_col: str = "payload", out_col: str = "image") -> DataFrame:
    """Decode image payloads → struct(width, height, mode). Uses the
    registered 'image' decoder when present (register_decoder — PIL/opencv
    for pixel work and JPEG), else the stdlib PNG/GIF header decoder;
    undecodable payloads get a null struct, the row is kept."""
    dec = _DECODERS.get("image", default_image_decoder)
    out_type = T.StructType(
        [
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mode", T.StringType()),
        ]
    )
    return _with_mapped(df, payload_col, out_col, out_type, dec)


def decode_image_pixels(
    df: DataFrame, payload_col: str = "payload", out_col: str = "pixels",
) -> DataFrame:
    """Decode image payloads to REAL pixels and reduce them to
    struct(width, height, mode, n_pixels, channel_means) — the proof
    the mapInPandas plumbing carries pixel data, not just headers:
    channel_means are exact per-channel byte averages computed from the
    unfiltered raster. Uses the registered 'image_pixels' decoder when
    present (``register_decoder("image_pixels", pil_pixel_decoder)``
    for JPEG/GIF via Pillow), else the stdlib PNG baseline decoder
    (:func:`png_pixels`); undecodable payloads get a null struct, the
    row is kept. Arrow-streaming batches; the raster never leaves the
    task — only the bounded stat struct returns."""
    dec = _DECODERS.get("image_pixels", default_pixel_decoder)
    out_type = T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("channel_means", T.ArrayType(T.DoubleType())),
    ])

    def stats(b):
        got = dec(bytes(b))
        if got is None:
            return None
        w, h, mode, raw = got
        nch = max(1, len(raw) // (w * h)) if w * h else 1
        means = []
        for c in range(nch):
            ch = raw[c::nch]
            means.append(round(sum(ch) / len(ch), 6) if ch else None)
        return (w, h, mode, w * h, means)

    return _with_mapped(df, payload_col, out_col, out_type, stats)


def decode_audio(df: DataFrame, payload_col: str = "payload", out_col: str = "audio") -> DataFrame:
    """Decode audio payloads → struct(channels, sample_rate, n_frames,
    sample_width, duration_sec). Uses the registered 'audio' decoder when
    present (librosa/soundfile for real sample work), else the stdlib WAV
    container decoder; undecodable payloads get a null struct, the row is
    kept. Same mapInPandas Arrow-streaming shape as decode_image."""
    dec = _DECODERS.get("audio", default_audio_decoder)
    out_type = T.StructType(
        [
            T.StructField("channels", T.IntegerType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("sample_width", T.IntegerType()),
            T.StructField("duration_sec", T.DoubleType()),
        ]
    )

    def to_row(b: bytes):
        meta = dec(b)
        if meta is None:
            return None
        ch, rate, n_frames, width = meta
        dur = round(n_frames / rate, 6) if rate else None
        return (ch, rate, n_frames, width, dur)

    return _with_mapped(df, payload_col, out_col, out_type, to_row)


def decode_video(df: DataFrame, payload_col: str = "payload", out_col: str = "video") -> DataFrame:
    """Decode video container payloads → struct(duration_sec, n_tracks,
    brand). Uses the registered 'video' decoder when present (ffmpeg/
    opencv for real frame work), else the stdlib MP4 box parser;
    undecodable payloads get a null struct, the row is kept. Same
    mapInPandas Arrow-streaming shape as decode_image/decode_audio."""
    dec = _DECODERS.get("video", default_video_decoder)
    out_type = T.StructType(
        [
            T.StructField("duration_sec", T.DoubleType()),
            T.StructField("n_tracks", T.IntegerType()),
            T.StructField("brand", T.StringType()),
        ]
    )
    return _with_mapped(df, payload_col, out_col, out_type, dec)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("orig_width", T.IntegerType()),
        T.StructField("orig_height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def resize_image(
    df: DataFrame,
    width: int,
    height: int,
    payload_col: str = "payload",
    out_col: str = "resized",
    keep_aspect: bool = True,
) -> DataFrame:
    """Resize image payloads → struct(orig_width, orig_height, width,
    height, mode, data). The Spark plumbing (schema, Arrow batching,
    null-on-undecodable) is real; the PIXEL RESAMPLE is behind the
    registry: register_decoder("image_resize", fn) with
    ``fn(payload, w, h) -> (bytes, mode)`` (a PIL thumbnail/resize fits
    this signature directly) — without one, the stdlib header decoders
    supply the original dimensions, the target box is computed (aspect-
    preserving fit when ``keep_aspect``), and ``data`` is None: the
    STUB contract — deterministic geometry, no fake pixels. Undecodable
    payloads yield a null struct; rows are kept either way."""
    tw, th = int(width), int(height)
    fn = _DECODERS.get("image_resize")

    def fit(ow: int, oh: int) -> tuple[int, int]:
        if not keep_aspect:
            return tw, th
        scale = min(tw / ow, th / oh)
        return max(int(ow * scale), 1), max(int(oh * scale), 1)

    def to_row(b):
        meta = default_image_decoder(bytes(b))
        if meta is None:
            return None
        ow, oh, mode = meta
        w, h = fit(ow, oh)
        data = None
        if fn is not None:
            try:
                data, mode = fn(bytes(b), w, h)
            except Exception:
                return None
        return (ow, oh, w, h, mode, data)

    return _with_mapped(df, payload_col, out_col, RESIZE_SCHEMA, to_row)


def sample_frames(
    df: DataFrame,
    period_sec: float = 1.0,
    payload_col: str = "payload",
) -> DataFrame:
    """Duration-true video frame sampling: one output row per sampled
    timestamp (0, period, 2·period, … up to the container duration read
    from the REAL mvhd box), with (frame_index, frame_time_sec, frame).
    The pixel extraction is behind the registry:
    register_decoder("video_frame", fn) with
    ``fn(payload, t_sec) -> bytes`` (an opencv/pyav grab fits) —
    without one ``frame`` is None (stub contract: real timeline, no
    fake pixels). Undecodable payloads emit zero rows.

    Scale shape: the explode happens INSIDE mapInPandas (one Arrow
    batch in, k·rows out, streamed) — payload bytes are not duplicated
    per frame row in the shuffle unless the caller keeps the column; at
    100 TB select the frame rows' metadata (ids + frame) forward and
    drop the payload before any wide operation."""
    p = float(period_sec)
    fn = _DECODERS.get("video_frame")
    in_schema = df.schema
    out_schema = T.StructType(
        list(in_schema.fields)
        + [
            T.StructField("frame_index", T.LongType()),
            T.StructField("frame_time_sec", T.DoubleType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for _, row in pdf.iterrows():
                b = row[payload_col]
                meta = mp4_meta(bytes(b)) if b is not None else None
                if meta is None:
                    continue
                duration = meta[0]
                t, i = 0.0, 0
                while t <= duration:
                    frame = None
                    if fn is not None:
                        try:
                            frame = fn(bytes(b), t)
                        except Exception:
                            frame = None
                    out_rows.append({**row.to_dict(), "frame_index": i,
                                     "frame_time_sec": round(t, 6), "frame": frame})
                    i += 1
                    t = round(i * p, 9)
            yield pd.DataFrame(out_rows, columns=[f.name for f in out_schema.fields])

    return df.mapInPandas(run, out_schema)
