"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

Training-data-pipeline components (build mandate): media payloads travel
as `binary` columns with a typed metadata struct; decode / feature-extract
/ resize / frame-sample run as Arrow-batched pandas UDFs via mapInPandas.

Decode status (this container ships no codec libraries, so only formats
decodable from first principles are real):

  * image — REAL decode for uncompressed 24-bit BMP (BITMAPINFOHEADER)
    and binary PPM (P6): both are public, header+raster formats parsed
    here with struct/numpy. Unknown magics fall back to the clearly
    marked deterministic stub.
  * audio — REAL decode for PCM16 WAV via the stdlib `wave` module.
  * video — REAL decode for RIFF/AVI parsed from first principles like
    the BMP/WAV codecs: uncompressed 'vids'/'DIB ' 24-bit BI_RGB '00db'
    frames AND BI_RLE8-compressed 8-bit palette frames ('MRLE' '00dc'
    chunks — run-length encoding decoded in pure numpy/stdlib, no
    ffmpeg). Codecs beyond those (H.264 etc., which genuinely need
    ffmpeg) fall back to the clearly marked deterministic stub in
    frame_sample.

Scale notes: payloads dominate row size, so batches are kept small via a
pre-UDF repartition on media_id and `spark.sql.execution.arrow.
maxRecordsPerBatch`; feature outputs drop the payload column as early as
possible (column pruning works *between* stages, not inside a UDF).
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),          # image | audio | video
    StructField("payload", BinaryType()),
    StructField("meta", StructType([
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("codec", StringType()),
    ])),
])


def _rng_bytes(seed: bytes, n: int) -> np.ndarray:
    """Deterministic byte stream from a payload (md5 counter mode)."""
    out = np.empty(n, dtype=np.uint8)
    pos = 0
    counter = 0
    while pos < n:
        h = hashlib.md5(seed + counter.to_bytes(4, "big")).digest()
        take = min(16, n - pos)
        out[pos:pos + take] = np.frombuffer(h[:take], dtype=np.uint8)
        pos += take
        counter += 1
    return out


def _decode_image_stub(payload: bytes, width: int, height: int) -> np.ndarray:
    """STUB — deterministic fake decode (unknown codecs / video frames)."""
    return _rng_bytes(payload[:64], width * height * 3).reshape(height, width, 3)


# --- REAL image codecs (public header+raster formats, no libraries) ---------


def encode_bmp(img: np.ndarray) -> bytes:
    """Minimal 24-bit uncompressed BMP writer (BITMAPINFOHEADER).

    Format per the public Windows BMP spec: 14-byte file header, 40-byte
    info header, BGR rows bottom-up, each row padded to 4 bytes.
    """
    h, w, _ = img.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        body += img[y, :, ::-1].tobytes()  # RGB → BGR
        body += b"\x00" * pad
    data_off = 14 + 40
    size = data_off + len(body)
    head = struct.pack("<2sIHHI", b"BM", size, 0, 0, data_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    return head + info + bytes(body)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode 24-bit uncompressed BMP → (H, W, 3) uint8 RGB."""
    magic, _size, _r1, _r2, off = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP")
    hdr_sz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, comp={comp})")
    flip = h > 0
    h = abs(h)
    row = w * 3
    stride = row + (4 - row % 4) % 4
    img = np.empty((h, w, 3), dtype=np.uint8)
    for i in range(h):
        y = (h - 1 - i) if flip else i
        line = np.frombuffer(payload, dtype=np.uint8,
                             count=row, offset=off + i * stride)
        img[y] = line.reshape(w, 3)[:, ::-1]  # BGR → RGB
    return img


def encode_ppm(img: np.ndarray) -> bytes:
    """Binary PPM (P6, maxval 255) writer."""
    h, w, _ = img.shape
    return f"P6\n{w} {h}\n255\n".encode() + img.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Decode binary PPM (P6) → (H, W, 3) uint8 RGB. Handles comment
    lines and arbitrary whitespace in the header per the netpbm spec."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos = 2
    fields = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError("only maxval 255 supported")
    return np.frombuffer(payload, dtype=np.uint8, count=w * h * 3,
                         offset=pos).reshape(h, w, 3).copy()


def decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """Dispatch on magic bytes; unknown codecs fall back to the stub."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    return _decode_image_stub(payload, width, height)


# --- REAL audio codec (PCM16 WAV via stdlib wave) ---------------------------


def encode_wav(pcm: np.ndarray, rate: int = 8000) -> bytes:
    """PCM16 mono WAV writer; input float32 in [-1, 1]."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes((np.clip(pcm, -1.0, 1.0) * 32767.0)
                       .astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode PCM16 WAV → (float32 samples in [-1, 1], sample rate)."""
    with wave.open(io.BytesIO(payload), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise ValueError("only PCM16 supported")
        rate = wf.getframerate()
        raw = wf.readframes(wf.getnframes())
    pcm = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32767.0
    return pcm, rate


def _decode_audio_stub(payload: bytes, duration_ms: int,
                       rate: int = 8000) -> np.ndarray:
    """STUB — deterministic fake PCM for non-WAV payloads."""
    n = max(duration_ms * rate // 1000, 1)
    raw = _rng_bytes(payload[:64], n)
    return (raw.astype(np.float32) - 127.5) / 127.5


def decode_audio_i16(payload: bytes, duration_ms: int) -> np.ndarray:
    """Int16 samples — the exact-arithmetic path for feature extraction."""
    if payload[:4] == b"RIFF":
        with wave.open(io.BytesIO(payload), "rb") as wf:
            raw = wf.readframes(wf.getnframes())
        return np.frombuffer(raw, dtype="<i2").astype(np.int64)
    pcm = _decode_audio_stub(payload, duration_ms)
    return np.round(pcm * 32767.0).astype(np.int64)


IMAGE_FEATURES_SCHEMA = (
    "media_id long, width int, height int, "
    "mean_r double, mean_g double, mean_b double, phash long"
)


def image_features(media: DataFrame, partitions: int | None = None) -> DataFrame:
    """Decode → per-channel means + 64-bit average-hash ("phash").

    The hash is an 8x8 block-mean threshold signature — the standard
    near-dup key for images, joinable exactly like doc_simhash.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload, meta in zip(b["media_id"], b["payload"], b["meta"]):
                img = decode_image(bytes(payload), int(meta["width"]),
                                   int(meta["height"]))
                h, w = img.shape[:2]
                # _frame_features: integer sums are exact in float64
                # (< 2^53) and the 8x8 average hash is pure integer
                # arithmetic, so the numpy-free oracle (mmref.py) matches
                # bit-for-bit
                mr, mg, mb, phash = _frame_features(img)
                rows.append((int(mid), w, h, mr, mg, mb, phash))
            yield pd.DataFrame(rows, columns=[
                "media_id", "width", "height", "mean_r", "mean_g", "mean_b",
                "phash"])

    src = media.filter(F.col("kind") == "image")
    if partitions:
        src = src.repartition(partitions, "media_id")
    return src.mapInPandas(gen, IMAGE_FEATURES_SCHEMA)


RESIZE_SCHEMA = "media_id long, width int, height int, payload binary"


def resize_nn(img: np.ndarray, nw: int, nh: int) -> np.ndarray:
    """Nearest-neighbor resample (pure numpy, deterministic)."""
    h, w = img.shape[:2]
    yi = np.minimum((np.arange(nh) * (h / nh)).astype(np.int64), h - 1)
    xi = np.minimum((np.arange(nw) * (w / nw)).astype(np.int64), w - 1)
    return img[yi][:, xi]


def image_resize(media: DataFrame, max_side: int = 256,
                 partitions: int | None = None) -> DataFrame:
    """Ratio-preserving resize cap (analog of src/ocr/nanonets_ocr.py:59-65).

    REAL for BMP/PPM payloads: decode → nearest-neighbor resample →
    re-encode BMP. Unknown codecs resize the stub-decoded array (shape
    contract identical)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload, meta in zip(b["media_id"], b["payload"], b["meta"]):
                img = decode_image(bytes(payload), int(meta["width"]),
                                   int(meta["height"]))
                h, w = img.shape[:2]
                scale = min(1.0, max_side / max(w, h))
                nw, nh = max(int(w * scale), 1), max(int(h * scale), 1)
                out = encode_bmp(resize_nn(img, nw, nh))
                rows.append((int(mid), nw, nh, out))
            yield pd.DataFrame(rows, columns=["media_id", "width", "height",
                                              "payload"])

    src = media.filter(F.col("kind") == "image")
    if partitions:
        src = src.repartition(partitions, "media_id")
    return src.mapInPandas(gen, RESIZE_SCHEMA)


# --- REAL video container (uncompressed RIFF/AVI, 'DIB ' raw frames) --------
# Public format, same header+raster work as the BMP/WAV codecs above: a
# RIFF('AVI ') tree with avih/strh/strf headers and '00db' frame chunks
# holding 24-bit BGR rows bottom-up, row-padded to 4 bytes (identical to
# the BMP raster). No compression, no ffmpeg needed. Reference analog:
# the PDF page fan-out (ocr_app/core/ocr_engine.py:282-335) is the
# per-frame explode this models.


def _dib_raster(img: np.ndarray) -> bytes:
    """24-bit DIB raster: BGR rows bottom-up, rows padded to 4 bytes."""
    h, w, _ = img.shape
    pad = (4 - (w * 3) % 4) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        body += img[y, :, ::-1].tobytes()
        body += b"\x00" * pad
    return bytes(body)


def _dib_undo(raster: bytes, w: int, h: int) -> np.ndarray:
    stride = w * 3 + (4 - (w * 3) % 4) % 4
    img = np.empty((h, w, 3), dtype=np.uint8)
    for i in range(h):
        line = np.frombuffer(raster, dtype=np.uint8, count=w * 3,
                             offset=i * stride)
        img[h - 1 - i] = line.reshape(w, 3)[:, ::-1]
    return img


def _chunk(fourcc: bytes, data: bytes) -> bytes:
    return fourcc + struct.pack("<I", len(data)) + data + (b"\x00" * (len(data) % 2))


def _list(list_type: bytes, data: bytes) -> bytes:
    return _chunk(b"LIST", list_type + data)


def encode_avi(frames: list[np.ndarray], fps: int = 4) -> bytes:
    """Minimal uncompressed AVI writer ('vids'/'DIB ', 24-bit BI_RGB)."""
    h, w, _ = frames[0].shape
    usec = 1_000_000 // fps
    raster_size = (w * 3 + (4 - (w * 3) % 4) % 4) * h
    avih = struct.pack("<14I", usec, raster_size * fps, 0, 0, len(frames),
                       0, 1, raster_size, w, h, 0, 0, 0, 0)
    strh = struct.pack("<4s4sIHHIIIIIIII4h", b"vids", b"DIB ", 0, 0, 0, 0,
                       1, fps, 0, len(frames), raster_size, 0xFFFFFFFF, 0,
                       0, 0, w, h)
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, raster_size,
                       2835, 2835, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))
    movi = _list(b"movi", b"".join(_chunk(b"00db", _dib_raster(f))
                                   for f in frames))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi)


def rle8_encode(idx: np.ndarray) -> bytes:
    """BI_RLE8-encode one 8-bit indexed frame: bottom-up rows of encoded
    (count, index) runs, EOL escape (0,0) per row, EOB escape (0,1)
    terminating the raster — the Windows BITMAPINFOHEADER biCompression=1
    wire format (public spec; same family as the BMP/DIB raster above)."""
    h, w = idx.shape
    out = bytearray()
    for y in range(h - 1, -1, -1):
        row = idx[y]
        x = 0
        while x < w:
            run = 1
            while x + run < w and run < 255 and row[x + run] == row[x]:
                run += 1
            out += bytes((run, int(row[x])))
            x += run
        out += b"\x00\x00"  # end of line
    out[-2:] = b"\x00\x01"  # final EOL becomes end of bitmap
    return bytes(out)


def _rle8_undo(raster: bytes, w: int, h: int, palette: bytes) -> np.ndarray:
    """Decode a BI_RLE8 raster to RGB via the strf palette (BGRX quads).
    Handles encoded runs, absolute mode (word-aligned), EOL/EOB and
    delta escapes; pixels never written stay index 0 per the spec."""
    idx = np.zeros((h, w), dtype=np.uint8)
    x, y = 0, h - 1  # bottom-up
    pos, n = 0, len(raster)
    while pos + 1 < n and y >= 0:
        cnt = raster[pos]
        pos += 1
        if cnt == 0:
            op = raster[pos]
            pos += 1
            if op == 0:  # end of line
                x, y = 0, y - 1
            elif op == 1:  # end of bitmap
                break
            elif op == 2:  # delta (dx, dy)
                x += raster[pos]
                y -= raster[pos + 1]
                pos += 2
            else:  # absolute mode: op literal indices, word-aligned
                end = min(x + op, w)
                idx[y, x:end] = np.frombuffer(
                    raster, dtype=np.uint8, count=end - x, offset=pos)
                pos += op + (op % 2)
                x += op
        else:
            end = min(x + cnt, w)
            idx[y, x:end] = raster[pos]
            pos += 1
            x += cnt
    pal = np.frombuffer(palette, dtype=np.uint8)[:1024].reshape(-1, 4)
    return pal[idx][:, :, [2, 1, 0]].copy()  # BGRX quads -> RGB


GRAY_PALETTE = bytes(v for i in range(256) for v in (i, i, i, 0))


def encode_avi_rle8(frames_idx: list[np.ndarray], fps: int = 4,
                    palette: bytes = GRAY_PALETTE) -> bytes:
    """Minimal RLE8-compressed AVI writer ('vids'/'MRLE', 8-bit
    BI_RLE8 + 256-entry palette in strf, frames in '00dc' chunks)."""
    h, w = frames_idx[0].shape
    usec = 1_000_000 // fps
    rasters = [rle8_encode(f) for f in frames_idx]
    buf = max(len(r) for r in rasters)
    avih = struct.pack("<14I", usec, buf * fps, 0, 0, len(rasters),
                       0, 1, buf, w, h, 0, 0, 0, 0)
    strh = struct.pack("<4s4sIHHIIIIIIII4h", b"vids", b"MRLE", 0, 0, 0, 0,
                       1, fps, 0, len(rasters), buf, 0xFFFFFFFF, 0,
                       0, 0, w, h)
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, buf,
                       2835, 2835, 256, 0) + palette
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))
    movi = _list(b"movi", b"".join(_chunk(b"00dc", r) for r in rasters))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi)


def decode_avi(payload: bytes) -> tuple[list[np.ndarray], int]:
    """Decode AVI → (RGB frames, micro-sec per frame).

    Accepts exactly the subsets encode_avi / encode_avi_rle8 write (and
    any other writer of plain 'vids' BI_RGB 24-bit or BI_RLE8 8-bit DIB
    AVIs); anything else raises."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI")

    def walk(data: bytes, pos: int, end: int):
        while pos + 8 <= end:
            fcc = data[pos:pos + 4]
            (size,) = struct.unpack_from("<I", data, pos + 4)
            body_start = pos + 8
            yield fcc, body_start, body_start + size
            pos = body_start + size + (size % 2)

    usec = w = h = None
    comp = 0
    palette = b""
    frames: list[np.ndarray] = []
    vids_ok = False

    def scan(pos: int, end: int) -> None:
        nonlocal usec, w, h, vids_ok, comp, palette
        for fcc, s, e in walk(payload, pos, end):
            if fcc == b"LIST":
                scan(s + 4, e)
            elif fcc == b"avih":
                usec, _, _, _, _, _, _, _, w, h = struct.unpack_from(
                    "<10I", payload, s)
            elif fcc == b"strh":
                ftype, handler = struct.unpack_from("<4s4s", payload, s)
                if ftype == b"vids":
                    if handler not in (b"DIB ", b"\x00\x00\x00\x00",
                                       b"RGB ", b"MRLE", b"mrle"):
                        raise ValueError(f"unsupported codec {handler!r}")
                    vids_ok = True
            elif fcc == b"strf" and vids_ok and not frames:
                _sz, bw, bh, _pl, bpp, comp = struct.unpack_from(
                    "<IiiHHI", payload, s)
                if (bpp, comp) == (8, 1):  # BI_RLE8: palette follows header
                    palette = payload[s + 40:s + 40 + 1024]
                elif (bpp, comp) != (24, 0):
                    raise ValueError(f"unsupported DIB (bpp={bpp}, comp={comp})")
            elif fcc in (b"00db", b"00dc"):
                raster = payload[s:e]
                frames.append(_rle8_undo(raster, w, h, palette) if comp == 1
                              else _dib_undo(raster, w, h))

    scan(12, len(payload))
    if usec is None or not vids_ok:
        raise ValueError("missing AVI headers")
    return frames, usec


FRAMES_SCHEMA = "media_id long, frame_idx int, ts_ms int, frame binary"


def frame_sample(media: DataFrame, every_ms: int = 1000,
                 partitions: int | None = None) -> DataFrame:
    """Sample video frames every `every_ms` — one output row per tick.

    REAL decode for uncompressed RIFF/AVI payloads: the emitted frame is
    the container frame covering the tick timestamp (idx = ts·1000 //
    usec_per_frame, clamped). Unknown codecs keep the deterministic stub
    frames; the explode shape (media_id, frame_idx, ts_ms, frame) is the
    contract either way.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload, meta in zip(b["media_id"], b["payload"], b["meta"]):
                w, h = int(meta["width"]), int(meta["height"])
                dur = int(meta["duration_ms"])
                payload = bytes(payload)
                avi = None
                if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
                    avi = decode_avi(payload)
                for i, ts in enumerate(range(0, max(dur, 1), every_ms)):
                    if avi is not None:
                        frames, usec = avi
                        idx = min(ts * 1000 // usec, len(frames) - 1)
                        frame = frames[idx]
                    else:
                        frame = _decode_image_stub(
                            payload + ts.to_bytes(4, "big"), w, h)
                    rows.append((int(mid), i, ts, frame.tobytes()))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "ts_ms",
                                              "frame"])

    src = media.filter(F.col("kind") == "video")
    if partitions:
        src = src.repartition(partitions, "media_id")
    return src.mapInPandas(gen, FRAMES_SCHEMA)


VIDEO_FRAMES_SCHEMA = (
    "media_id long, frame_idx int, ts_ms int, "
    "mean_r double, mean_g double, mean_b double, phash long"
)


def _frame_features(img: np.ndarray) -> tuple[float, float, float, int]:
    """Integer-exact channel means + 8x8 average hash (same math as
    image_features; factored so video frames reuse it)."""
    h, w = img.shape[:2]
    sums = img.reshape(-1, 3).astype(np.int64).sum(axis=0)
    n_px = h * w
    hh, ww = (h // 8) * 8, (w // 8) * 8
    g3 = img[:hh, :ww].astype(np.int64).sum(axis=2)
    blocks = g3.reshape(8, hh // 8, 8, ww // 8).sum(axis=(1, 3))
    total = int(blocks.sum())
    bits = (blocks.flatten() * 64 > total)
    unsigned = sum(int(v) << i for i, v in enumerate(bits))
    phash = unsigned - (1 << 64) if unsigned >= (1 << 63) else unsigned
    return (float(sums[0] / n_px), float(sums[1] / n_px),
            float(sums[2] / n_px), phash)


def video_frame_features(media: DataFrame,
                         partitions: int | None = None) -> DataFrame:
    """REAL AVI decode → one row per CONTAINER frame with integer-exact
    features (the per-frame analog of the reference's per-page fan-out,
    ocr_app/core/ocr_engine.py:282-335). ts_ms = idx·usec_per_frame//1000
    from the container timing. Non-AVI video payloads raise — this is
    the decode-or-fail path; frame_sample keeps the stub fallback."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload in zip(b["media_id"], b["payload"]):
                frames, usec = decode_avi(bytes(payload))
                for i, img in enumerate(frames):
                    mr, mg, mb, ph = _frame_features(img)
                    rows.append((int(mid), i, i * usec // 1000, mr, mg, mb, ph))
            yield pd.DataFrame(rows, columns=[
                "media_id", "frame_idx", "ts_ms", "mean_r", "mean_g",
                "mean_b", "phash"])

    src = media.filter(F.col("kind") == "video")
    if partitions:
        src = src.repartition(partitions, "media_id")
    return src.mapInPandas(gen, VIDEO_FRAMES_SCHEMA)


AUDIO_FEATURES_SCHEMA = "media_id long, duration_ms int, rms double, zero_cross long"


def audio_features(media: DataFrame, partitions: int | None = None) -> DataFrame:
    """Decode PCM (stub) → RMS energy + zero-crossing count."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload, meta in zip(b["media_id"], b["payload"], b["meta"]):
                dur = int(meta["duration_ms"])
                # exact path: int16 squared sums are exact integers, so
                # rms = sqrt(ssq / (n·32767²)) is bit-identical to the
                # numpy-free oracle (mmref.py)
                i16 = decode_audio_i16(bytes(payload), dur)
                ssq = int((i16 * i16).sum())
                n = len(i16)
                rms = float(np.sqrt(ssq / (n * 32767.0 * 32767.0)))
                neg = i16 < 0
                zc = int(np.count_nonzero(neg[1:] != neg[:-1]))
                rows.append((int(mid), dur, rms, zc))
            yield pd.DataFrame(rows, columns=["media_id", "duration_ms", "rms",
                                              "zero_cross"])

    src = media.filter(F.col("kind") == "audio")
    if partitions:
        src = src.repartition(partitions, "media_id")
    return src.mapInPandas(gen, AUDIO_FEATURES_SCHEMA)


def synthetic_image(seed: bytes, w: int, h: int) -> np.ndarray:
    """Deterministic RGB test image: md5-stream noise over a gradient."""
    noise = _rng_bytes(seed, w * h * 3).reshape(h, w, 3).astype(np.int16)
    gx = np.linspace(0, 127, w, dtype=np.int16)[None, :, None]
    return np.clip(noise // 2 + gx, 0, 255).astype(np.uint8)


def synthetic_indexed_frame(seed: bytes, w: int, h: int) -> np.ndarray:
    """Deterministic 8-bit indexed frame made of 8×8 constant blocks —
    long horizontal runs, the natural shape for an RLE8 fixture."""
    bw, bh = (w + 7) // 8, (h + 7) // 8
    grid = _rng_bytes(seed, bw * bh).reshape(bh, bw)
    by = np.arange(h) // 8
    bx = np.arange(w) // 8
    return grid[np.ix_(by, bx)].astype(np.uint8)


def synthetic_media_rows(n: int = 60, seed: int = 42) -> list:
    """Deterministic media rows (no external data, no Spark).

    Image payloads are REAL encoded files (alternating 24-bit BMP and P6
    PPM); audio payloads are REAL PCM16 WAVs; video payloads are REAL
    uncompressed RIFF/AVI files (4 fps, deterministic per-frame noise).
    Shared by the Spark table builder and the numpy-free oracle (payload
    GENERATION is input data; only decode+features are independently
    restated in mmref.py)."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        w = rng.choice([32, 64, 96])
        h = rng.choice([32, 48, 80])
        dur = rng.choice([500, 1500, 3200]) if kind != "image" else 0
        md5_seed = hashlib.md5(f"media:{seed}:{i}".encode()).digest()
        if kind == "image":
            img = synthetic_image(md5_seed, w, h)
            payload = encode_bmp(img) if i % 2 == 0 else encode_ppm(img)
            codec = "bmp" if i % 2 == 0 else "ppm"
        elif kind == "audio":
            rate = 8000
            nsamp = max(dur * rate // 1000, 1)
            raw = _rng_bytes(md5_seed, nsamp)
            payload = encode_wav((raw.astype(np.float32) - 127.5) / 127.5, rate)
            codec = "wav"
        else:
            fps = 4
            n_frames = max(dur * fps // 1000, 1)
            if i % 6 == 5:  # every other video: RLE8-compressed frames
                idx_frames = [synthetic_indexed_frame(
                    md5_seed + f.to_bytes(4, "big"), w, h)
                    for f in range(n_frames)]
                payload = encode_avi_rle8(idx_frames, fps)
                codec = "avi-rle8"
            else:
                frames = [synthetic_image(md5_seed + f.to_bytes(4, "big"),
                                          w, h)
                          for f in range(n_frames)]
                payload = encode_avi(frames, fps)
                codec = "avi"
        rows.append((i, kind, bytearray(payload), (w, h, dur, codec)))
    return rows


MEDIA_N_BY_TIER = {"t1": 60, "t2": 240, "bench": 1200}


def synthetic_media(spark, n: int = 60, seed: int = 42) -> DataFrame:
    """Deterministic media table for tests/benchmarks."""
    return spark.createDataFrame(synthetic_media_rows(n, seed), MEDIA_SCHEMA)
