"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

Design: media rides as an opaque ``binary`` column plus typed metadata
(modality, codec, width/height/duration).  All Spark-side mechanics —
schema, partitioning, Arrow batch shape, UDF signatures — are real and
tested.  Codecs that need only the stdlib + numpy are REAL:

  - image decode: PNG (zlib inflate + filters 0-4, color types
    0/2/3/4/6, 8/16-bit, non-interlaced), baseline JPEG (Huffman +
    DCT, generic chroma subsampling — operators/jpeg.py), GIF
    (LZW, animation, transparency, disposal), PPM (P6), uncompressed
    24-bit BMP → HxWx3 uint8
  - video demux: animated GIF → timestamped composited frames
  - audio decode: PCM WAV (8/16-bit) via the stdlib ``wave`` module
  - features: image grayscale stats + histogram; audio RMS / zero
    crossings / band energies

Formats that genuinely require external libraries absent from this
container (MP4 decode) fall back to a deterministic fake embedding —
or raise NotImplementedError in strict mode — with the swap point
marked for ffmpeg in a real deployment.  JPEG (baseline AND
progressive) is decoded for real by operators/jpeg.py.

Scale notes:
  - mapInPandas streams Arrow record batches; peak executor memory is
    one batch of blobs, not one partition — cap
    spark.sql.execution.arrow.maxRecordsPerBatch when blobs are large.
  - decode → feature is a narrow transform: no shuffle; partition count
    follows the input files, so 100 TB of media parallelizes by input
    split.
"""

from __future__ import annotations

import hashlib
import io
import math
import re
import struct
import wave
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

# --- real codecs (stdlib + numpy only) --------------------------------------

_PPM_HEADER = re.compile(rb"^P6\s+(?:#[^\n]*\n\s*)?(\d+)\s+(\d+)\s+(\d+)\s")

def decode_ppm(payload: bytes) -> np.ndarray:
    """P6 (binary) PPM → HxWx3 uint8."""
    m = _PPM_HEADER.match(payload)
    if not m:
        raise ValueError("not a P6 PPM")
    w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    pix = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=m.end())
    return pix.reshape(h, w, 3).copy()

def encode_ppm(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()

def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BI_RGB BMP → HxWx3 uint8 (RGB order)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    flipped = h > 0  # positive height = bottom-up row order
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if flipped:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB

# --- PNG (stdlib zlib + numpy — no PIL needed) ------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

def _png_chunks(payload: bytes):
    pos = 8
    while pos + 12 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        yield ctype, data
        if ctype == b"IEND":
            return
        pos += 12 + length
    raise ValueError("truncated PNG (no IEND)")

def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse per-scanline filters 0-4 → (h, stride) uint8.

    None/Sub/Up are vectorized (Sub via mod-256 cumsum per byte lane);
    Average/Paeth recurse on the reconstructed left neighbor, so those
    rows run a per-byte loop — encoders rarely emit them for synthetic
    data, and correctness beats speed for a no-dependency fallback."""
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride, pos + 1).astype(np.int64)
        pos += 1 + stride
        if ft == 0:
            rec = line
        elif ft == 1:  # Sub: rec[i] = line[i] + rec[i-bpp]
            rec = line.copy()
            for k in range(bpp):
                rec[k::bpp] = np.cumsum(rec[k::bpp]) & 0xFF
        elif ft == 2:  # Up
            rec = (line + prev) & 0xFF
        elif ft == 3:  # Average
            rec = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                rec[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            rec = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                rec[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {ft}")
        out[y] = rec
        prev = rec
    return out

def decode_png(payload: bytes) -> np.ndarray:
    """PNG → HxWx3 uint8 RGB.  Stdlib zlib + numpy only.

    Supports 8/16-bit (16-bit takes the high byte), color types
    grayscale/RGB/palette/gray+alpha/RGBA (alpha dropped), all five
    scanline filters, CRC-verified chunks.  Adam7 interlacing raises
    NotImplementedError (nothing in a training corpus should be
    interlaced; re-encode upstream)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    ihdr, plte, idat = None, None, []
    for ctype, data in _png_chunks(payload):
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if comp != 0 or filt != 0:
        raise ValueError(f"bad PNG compression/filter method {comp}/{filt}")
    if interlace:
        raise NotImplementedError("Adam7-interlaced PNG")
    if depth not in (8, 16):
        raise NotImplementedError(f"PNG bit depth {depth} (palettes <8-bit)")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"bad PNG color type {color}")
    ch = _PNG_CHANNELS[color]
    sampw = depth // 8
    bpp = ch * sampw
    stride = w * bpp
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    px = _png_unfilter(raw, h, stride, bpp)
    if depth == 16:  # big-endian: high byte first
        px = px.reshape(h, w, ch, 2)[:, :, :, 0]
    else:
        px = px.reshape(h, w, ch)
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        return plte[px[:, :, 0]].copy()
    if color == 0:
        return np.repeat(px, 3, axis=2).copy()
    if color == 4:
        return np.repeat(px[:, :, :1], 3, axis=2).copy()
    return px[:, :, :3].copy()  # 2 (RGB) and 6 (RGBA, alpha dropped)

def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """8-bit RGB PNG encoder (one IDAT, chosen filter on every row).
    Filters compute from ORIGINAL bytes per the spec, so all five are
    pure vector ops here — the sequential recursion only exists on the
    decode side."""
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=2)
    h, w = img.shape[:2]
    zeros = np.zeros(3, dtype=np.int64)
    raw = bytearray()
    prev = np.zeros(w * 3, dtype=np.int64)
    for y in range(h):
        line = img[y].astype(np.int64).ravel()
        left = np.concatenate([zeros, line[:-3]])
        if filter_type == 0:
            f = line
        elif filter_type == 1:
            f = line - left
        elif filter_type == 2:
            f = line - prev
        elif filter_type == 3:
            f = line - ((left + prev) >> 1)
        elif filter_type == 4:
            ul = np.concatenate([zeros, prev[:-3]])
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            f = line - pred
        else:
            raise ValueError(f"unknown PNG filter {filter_type}")
        raw.append(filter_type)
        raw.extend((f & 0xFF).astype(np.uint8).tobytes())
        prev = line

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )

# --- GIF (pure-Python LZW + numpy — no PIL needed) --------------------------

def _lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """GIF-variant LZW: LSB-first bit packing, CLEAR/EOI codes, dict
    capped at 4095."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out: list[int] = []
    table: list[list[int]] = []

    def reset():
        nonlocal table, width
        table = [[i] for i in range(clear)] + [[], []]
        width = min_code_size + 1

    width = min_code_size + 1
    reset()
    acc = n_bits = 0
    prev: list[int] | None = None
    for byte in data:
        acc |= byte << n_bits
        n_bits += 8
        while n_bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            n_bits -= width
            if code == clear:
                reset()
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + [entry[0]])
            else:  # KwKwK case
                entry = prev + [prev[0]]
                if len(table) < 4096:
                    table.append(entry)
            out.extend(entry)
            prev = entry
            if len(table) >= (1 << width) and width < 12:
                width += 1
    return out

def _lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """Real dictionary-building LZW encoder (the inverse of above)."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = n_bits = 0

    def emit(code: int, width: int):
        nonlocal acc, n_bits
        acc |= code << n_bits
        n_bits += width
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8

    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    buf: tuple[int, ...] = ()
    for px in indices:
        cand = buf + (px,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        if next_code < 4096:
            table[cand] = next_code
            # decoder grows width when ITS table (one behind ours during
            # the same code stream) fills the current width
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        buf = (px,)
    if buf:
        emit(table[buf], width)
    emit(eoi, width)
    if n_bits:
        out.append(acc & 0xFF)
    return bytes(out)

_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))

def decode_gif(payload: bytes) -> list[tuple[int, np.ndarray]]:
    """Animated GIF → [(start_ms, HxWx3 uint8 full-canvas frame), ...].

    Pure stdlib + numpy: LZW decode, global/local color tables,
    transparency, interlacing, disposal methods 0-3.  Timestamps come
    from each frame's graphic-control delay (centiseconds)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
    frames: list[tuple[int, np.ndarray]] = []
    t_ms = 0
    delay_ms, transp, disposal = 0, -1, 0
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = payload[pos]
            pos += 1
            subs = []
            while payload[pos] != 0:
                ln = payload[pos]
                subs.append(payload[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            if label == 0xF9 and subs:
                gce = subs[0]
                disposal = (gce[0] >> 2) & 0x07
                delay_ms = struct.unpack_from("<H", gce, 1)[0] * 10
                transp = gce[3] if gce[0] & 0x01 else -1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            ct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if ct is None:
            raise ValueError("GIF frame without a color table")
        min_code = payload[pos]
        pos += 1
        chunks = []
        while payload[pos] != 0:
            ln = payload[pos]
            chunks.append(payload[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        idx = np.array(_lzw_decode(b"".join(chunks), min_code), dtype=np.int32)
        if idx.size != w * h:
            raise ValueError("GIF frame pixel count mismatch")
        idx = idx.reshape(h, w)
        if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
            deinter = np.empty_like(idx)
            src = 0
            for start, step in _GIF_INTERLACE_PASSES:
                rows = range(start, h, step)
                for r in rows:
                    deinter[r] = idx[src]
                    src += 1
            idx = deinter
        saved = canvas.copy() if disposal == 3 else None
        region = canvas[top : top + h, left : left + w]
        mask = idx != transp
        region[mask] = ct[idx[mask]]
        frames.append((t_ms, canvas.copy()))
        t_ms += delay_ms
        if disposal == 2:
            canvas[top : top + h, left : left + w] = 0
        elif disposal == 3 and saved is not None:
            canvas = saved
        delay_ms, transp, disposal = 0, -1, 0
    return frames

def _quantize_rgb(img: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact palette build (≤256 distinct colors required — synthetic
    frames satisfy this; a real encoder would median-cut)."""
    flat = img.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("encode_gif needs ≤256 distinct colors per frame")
    return colors, inverse.reshape(img.shape[:2])

def encode_gif(frames: list[np.ndarray], delay_ms: int = 100) -> bytes:
    """GIF89a encoder: per-frame local color table + real LZW.  Only
    needs ≤256 distinct colors per frame (exact palette)."""
    h, w = frames[0].shape[:2]
    out = bytearray(b"GIF89a" + struct.pack("<HHBBB", w, h, 0, 0, 0))
    # netscape loop extension (loop forever) — real-world fidelity
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for img in frames:
        colors, idx = _quantize_rgb(img)
        ctbits = max(1, (len(colors) - 1).bit_length())
        ctsize = 1 << ctbits
        table = np.zeros((ctsize, 3), dtype=np.uint8)
        table[: len(colors)] = colors
        out += b"\x21\xf9\x04" + bytes(
            [0x04, delay_ms // 10 & 0xFF, (delay_ms // 10) >> 8 & 0xFF, 0, 0]
        )
        out += b"\x2c" + struct.pack(
            "<HHHHB", 0, 0, w, h, 0x80 | (ctbits - 1)
        )
        out += table.tobytes()
        min_code = max(2, ctbits)
        out.append(min_code)
        lzw = _lzw_encode(idx.ravel().tolist(), min_code)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)

def decode_image(payload: bytes) -> np.ndarray:
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        frames = decode_gif(payload)
        if not frames:
            raise ValueError("GIF with no frames")
        return frames[0][1]
    if payload[:2] == b"\xff\xd8":
        from hogzilla_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    raise NotImplementedError(
        "PNG/GIF/JPEG (baseline+progressive)/PPM/BMP decode without PIL; "
        "exotic formats need PIL here"
    )

def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV → (mono float32 samples in [-1, 1], sample_rate)."""
    with wave.open(io.BytesIO(payload), "rb") as wf:
        rate, width, nch = wf.getframerate(), wf.getsampwidth(), wf.getnchannels()
        raw = wf.readframes(wf.getnframes())
    if width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported WAV sample width {width}")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x, rate

def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(
            (np.clip(samples, -1.0, 1.0) * 32767.0).astype("<i2").tobytes()
        )
    return buf.getvalue()

def image_features(img: np.ndarray, dim: int = 8) -> list[float]:
    """[gray mean/255, gray std/255, 6-bin normalized gray histogram]."""
    gray = (
        0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
    ).ravel()
    hist, _ = np.histogram(gray, bins=dim - 2, range=(0.0, 256.0))
    hist = hist / max(1, gray.size)
    return [float(gray.mean() / 255.0), float(gray.std() / 255.0)] + [
        float(v) for v in hist
    ]

def audio_features(samples: np.ndarray, dim: int = 8) -> list[float]:
    """[RMS, zero-crossing rate, 6 mean-|x| band energies]."""
    if samples.size == 0:
        return [0.0] * dim
    rms = float(np.sqrt(np.mean(samples**2)))
    zcr = float(np.mean(np.signbit(samples[1:]) != np.signbit(samples[:-1])))
    bands = np.array_split(np.abs(samples), dim - 2)
    return [rms, zcr] + [float(b.mean()) if b.size else 0.0 for b in bands]

def _fake_embedding(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for codecs this container cannot decode
    (PNG/JPEG/MP4): sha256-seeded floats in [0,1).  REAL DEPLOYMENT:
    replace with PIL/ffmpeg decode + the model forward pass."""
    h = hashlib.sha256(payload or b"").digest()
    return [h[i] / 255.0 for i in range(dim)]

_REAL_IMAGE_CODECS = ("ppm", "bmp", "png", "gif", "jpeg")

def decode_and_featurize(
    media: DataFrame, batch_size_hint: int = 64, strict: bool = False
) -> DataFrame:
    """Decode blobs and emit per-item features via mapInPandas.

    PNG/PPM/BMP images and PCM WAV audio are decoded for real (stdlib +
    numpy) and featurized with actual signal statistics.  Other codecs
    use the deterministic fake embedding, or raise in strict mode.
    """

    def _decode(payload: bytes, modality: str, codec: str) -> list[float]:
        if codec in _REAL_IMAGE_CODECS and modality == "image":
            return image_features(decode_image(payload))
        if codec == "gif" and modality == "video":
            # real demux: featurize the first composited frame
            frames = decode_gif(payload)
            if not frames:
                # trailer before any image descriptor: structurally
                # valid, zero frames — match decode_image's contract
                raise ValueError("GIF with no frames")
            return image_features(frames[0][1])
        if codec == "wav" and modality == "audio":
            return audio_features(decode_wav(payload)[0])
        if codec == "mp4" and modality == "video":
            from hogzilla_spark.operators.mp4 import decode_mp4_frames

            try:
                frames = decode_mp4_frames(payload)
            except (NotImplementedError, ValueError):
                # compressed codec (avc1/...) or corrupt/truncated
                # container — crawled data ships both; → strict/fake
                # below, same contract as the image path
                pass
            else:
                if not frames:
                    raise ValueError("MP4 with no video samples")
                return image_features(frames[0][1])
        if strict:
            raise NotImplementedError(
                f"codec {codec!r} not decodable in this environment; "
                "plug in PIL/torchaudio/ffmpeg here"
            )
        return _fake_embedding(payload)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sha256": [
                        hashlib.sha256(p or b"").hexdigest() for p in pdf["payload"]
                    ],
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                    "feature": [
                        _decode(p, m, c)
                        for p, m, c in zip(
                            pdf["payload"], pdf["modality"], pdf["codec"]
                        )
                    ],
                }
            )
            yield out

    return media.select("media_id", "modality", "codec", "payload").mapInPandas(
        run, IMAGE_FEATURES_SCHEMA
    )

def synthetic_media_rows(n: int = 32) -> list[tuple]:
    """Rows (MEDIA_SCHEMA order) of a deterministic media table with
    REAL payloads where the codec is real: images cycle P6 PPM → PNG
    (all five scanline filters) → baseline JPEG → progressive (SOF2)
    JPEG, audio is valid 16-bit PCM WAV; videos cycle MJPEG MP4
    (decodes end-to-end in-repo) → animated GIF (LZW, one frame per
    second of duration) → an MP4 whose sample entry is patched to avc1
    — structurally valid, demuxes but cannot decode, keeping the
    compressed-codec (ffmpeg swap point) fallback exercised.  Plain
    tuples, usable without a SparkSession (parquet fixtures, DuckDB
    oracles)."""
    rows = []
    for i in range(n):
        modality = ["image", "audio", "video"][i % 3]
        if modality == "image":
            w, h = 8 + (i % 5), 6 + (i % 3)
            xs, ys = np.meshgrid(np.arange(w), np.arange(h))
            img = np.stack(
                [
                    (xs * 7 + ys * 13 + i) % 256,
                    (xs * 3 + ys * 5 + 2 * i) % 256,
                    (xs * 11 + ys * 2 + 3 * i) % 256,
                ],
                axis=2,
            ).astype(np.uint8)
            kind = (i // 3) % 4
            if kind == 0:
                payload, codec = encode_ppm(img), "ppm"
            elif kind == 1:
                payload, codec = encode_png(img, filter_type=(i // 6) % 5), "png"
            elif kind == 2:
                from hogzilla_spark.operators.jpeg import encode_jpeg

                payload, codec = encode_jpeg(img, quality=92), "jpeg"
            else:
                from hogzilla_spark.operators.jpeg import encode_jpeg_progressive

                # progressive (SOF2) variant; still codec "jpeg" — the
                # decoder sniffs the SOF marker
                payload, codec = encode_jpeg_progressive(img, quality=92), "jpeg"
            dur = 0
        elif modality == "audio":
            rate = 8000
            t = np.arange(400 + 40 * i) / rate
            freq = 200.0 + 50.0 * i
            samples = 0.5 * np.sin(2 * math.pi * freq * t)
            payload, codec = encode_wav(samples, rate), "wav"
            w = h = 0
            dur = int(len(t) * 1000 / rate)
        else:
            dur = max(1, i % 10) * 1000
            w, h = 16, 12
            n_frames = dur // 1000
            frames = []
            for f in range(n_frames):
                xs, ys = np.meshgrid(np.arange(w), np.arange(h))
                frames.append(
                    np.stack(
                        [
                            ((xs + f * 3 + i) % 8) * 32,
                            ((ys + f) % 8) * 32,
                            np.full_like(xs, (f * 40 + i) % 256),
                        ],
                        axis=2,
                    ).astype(np.uint8)
                )
            vkind = (i // 3) % 3
            if vkind == 1:
                payload, codec = encode_gif(frames, delay_ms=1000), "gif"
            else:
                from hogzilla_spark.operators.jpeg import encode_jpeg
                from hogzilla_spark.operators.mp4 import encode_mp4_mjpeg

                payload = encode_mp4_mjpeg(
                    [encode_jpeg(fr, quality=92) for fr in frames], fps=1
                )
                codec = "mp4"
                if vkind == 2:
                    # patch the stsd sample-entry fourcc to a compressed
                    # codec: structurally valid MP4 that demuxes but
                    # cannot decode without ffmpeg — keeps the honest
                    # strict-mode/fallback path exercised by real data
                    payload = payload.replace(
                        struct.pack(">I", 86) + b"jpeg",
                        struct.pack(">I", 86) + b"avc1",
                        1,
                    )
        rows.append((i, modality, codec, w, h, dur, payload))
    return rows

def write_media_parquet(path: str, n: int = 32) -> str:
    """Materialize the synthetic media table as ONE parquet file so a
    Spark query and a DuckDB oracle read byte-identical payloads.
    Idempotent and atomic (temp file + rename); payload bytes are fully
    deterministic, so an existing file is always current."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    if os.path.exists(path):
        return path
    table = pa.Table.from_pylist(
        [dict(zip(MEDIA_SCHEMA.names, r)) for r in synthetic_media_rows(n)],
        schema=to_arrow_schema(MEDIA_SCHEMA),
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp, version="2.6")
    os.replace(tmp, path)
    return path
