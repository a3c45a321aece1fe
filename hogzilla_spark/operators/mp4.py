"""Minimal ISO BMFF (MP4/MOV) demuxer + MJPEG muxer — pure stdlib.

Beyond-reference surface for the multimodal pipeline: the reference
engine has no media handling at all; a 100 TB training-data pipeline
needs at least container-level understanding of video blobs (codec,
dimensions, duration, frame count) without shelling out to ffmpeg.

Scope:
  - ``parse_mp4(payload)``: walks the box tree (ftyp / moov / trak /
    mdia / minf / stbl) and returns per-track metadata plus resolved
    per-sample (offset, size, timestamp) tables from
    stsd/stts/stsc/stsz/stco|co64.
  - ``demux_mp4(payload)``: yields the video track's raw sample bytes
    with timestamps.  For MJPEG sample entries ('jpeg', 'mjpa',
    'mjpb') each sample is a complete JFIF image that
    operators/jpeg.py decodes for real — an end-to-end video decode
    path with zero native dependencies.  Compressed codecs ('avc1',
    'hvc1', 'mp4v', ...) demux fine but frame DECODE raises
    NotImplementedError (the honest ffmpeg swap point).
  - ``encode_mp4_mjpeg(frames, fps)``: writes a valid single-track
    MJPEG MP4 (ftyp + mdat + moov) used by tests and the synthetic
    media fixture; plays in standard players.

All byte offsets are absolute file offsets, so a 100 TB object-store
deployment can range-read individual samples after parsing just the
moov box — the parser never materializes mdat.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

MJPEG_FOURCCS = {"jpeg", "mjpa", "mjpb"}


def _iter_boxes(buf: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for sibling boxes."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", buf, pos)
        fourcc = buf[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            (size,) = struct.unpack_from(">Q", buf, pos + 8)
            body = pos + 16
        elif size == 0:  # box extends to EOF
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"corrupt box {fourcc!r} at {pos}")
        yield fourcc, body, pos + size
        pos += size


@dataclass
class Mp4Track:
    track_id: int = 0
    handler: str = ""
    codec: str = ""
    width: int = 0
    height: int = 0
    timescale: int = 0
    duration: int = 0
    sample_sizes: list[int] = field(default_factory=list)
    sample_offsets: list[int] = field(default_factory=list)
    sample_times: list[int] = field(default_factory=list)  # media-timescale units

    @property
    def n_samples(self) -> int:
        return len(self.sample_sizes)

    @property
    def duration_ms(self) -> int:
        if self.timescale <= 0:
            return 0
        return self.duration * 1000 // self.timescale


def _parse_stbl(buf: bytes, start: int, end: int, trk: Mp4Track) -> None:
    stts: list[tuple[int, int]] = []
    stsc: list[tuple[int, int]] = []
    chunk_offsets: list[int] = []
    sizes: list[int] = []
    for fourcc, b, e in _iter_boxes(buf, start, end):
        if fourcc == b"stsd":
            n = struct.unpack_from(">I", buf, b + 4)[0]
            p = b + 8
            if n >= 1:
                entry_fourcc = buf[p + 4 : p + 8]
                trk.codec = entry_fourcc.decode("latin1")
                # VisualSampleEntry: 6 reserved + data_ref_index(2) +
                # pre_defined/reserved(16) + width(2) + height(2)
                if trk.handler == "vide" and e - p >= 36:
                    trk.width, trk.height = struct.unpack_from(">HH", buf, p + 32)
        elif fourcc == b"stts":
            n = struct.unpack_from(">I", buf, b + 4)[0]
            for i in range(n):
                cnt, delta = struct.unpack_from(">II", buf, b + 8 + 8 * i)
                stts.append((cnt, delta))
        elif fourcc == b"stsc":
            n = struct.unpack_from(">I", buf, b + 4)[0]
            for i in range(n):
                first, per, _desc = struct.unpack_from(">III", buf, b + 8 + 12 * i)
                stsc.append((first, per))
        elif fourcc == b"stsz":
            uniform, n = struct.unpack_from(">II", buf, b + 4)
            if uniform:
                sizes = [uniform] * n
            else:
                sizes = list(struct.unpack_from(f">{n}I", buf, b + 12))
        elif fourcc == b"stco":
            n = struct.unpack_from(">I", buf, b + 4)[0]
            chunk_offsets = list(struct.unpack_from(f">{n}I", buf, b + 8))
        elif fourcc == b"co64":
            n = struct.unpack_from(">I", buf, b + 4)[0]
            chunk_offsets = list(struct.unpack_from(f">{n}Q", buf, b + 8))
    trk.sample_sizes = sizes
    # resolve per-sample absolute offsets: stsc runs × chunk offsets
    offsets: list[int] = []
    if sizes and chunk_offsets:
        si = 0
        n_chunks = len(chunk_offsets)
        for ri, (first, per) in enumerate(stsc):
            last = stsc[ri + 1][0] - 1 if ri + 1 < len(stsc) else n_chunks
            for ci in range(first - 1, last):
                off = chunk_offsets[ci]
                for _ in range(per):
                    if si >= len(sizes):
                        break
                    offsets.append(off)
                    off += sizes[si]
                    si += 1
    trk.sample_offsets = offsets
    # resolve per-sample decode timestamps from stts run lengths
    times: list[int] = []
    t = 0
    for cnt, delta in stts:
        for _ in range(cnt):
            times.append(t)
            t += delta
    trk.sample_times = times[: len(sizes)]


def parse_mp4(payload: bytes) -> list[Mp4Track]:
    """Parse the moov box into per-track metadata + sample tables."""
    if len(payload) < 12 or payload[4:8] not in (b"ftyp", b"moov", b"mdat", b"wide", b"free", b"skip"):
        raise ValueError("not an ISO BMFF file (no known top-level box)")
    tracks: list[Mp4Track] = []
    moov = None
    for fourcc, b, e in _iter_boxes(payload, 0, len(payload)):
        if fourcc == b"moov":
            moov = (b, e)
            break
    if moov is None:
        raise ValueError("no moov box")

    for fourcc, b, e in _iter_boxes(payload, *moov):
        if fourcc != b"trak":
            continue
        trk = Mp4Track()
        for f2, b2, e2 in _iter_boxes(payload, b, e):
            if f2 == b"tkhd":
                ver = payload[b2]
                trk.track_id = struct.unpack_from(
                    ">I", payload, b2 + (20 if ver else 12)
                )[0]
            elif f2 == b"mdia":
                for f3, b3, e3 in _iter_boxes(payload, b2, e2):
                    if f3 == b"mdhd":
                        ver = payload[b3]
                        if ver:
                            trk.timescale, trk.duration = struct.unpack_from(
                                ">IQ", payload, b3 + 20
                            )
                        else:
                            trk.timescale, trk.duration = struct.unpack_from(
                                ">II", payload, b3 + 12
                            )
                    elif f3 == b"hdlr":
                        trk.handler = payload[b3 + 8 : b3 + 12].decode("latin1")
                    elif f3 == b"minf":
                        for f4, b4, e4 in _iter_boxes(payload, b3, e3):
                            if f4 == b"stbl":
                                _parse_stbl(payload, b4, e4, trk)
        tracks.append(trk)
    return tracks


def demux_mp4(payload: bytes) -> list[tuple[int, bytes]]:
    """(timestamp_ms, sample_bytes) for the first video track."""
    tracks = parse_mp4(payload)
    vid = next((t for t in tracks if t.handler == "vide"), None)
    if vid is None:
        raise ValueError("no video track")
    out = []
    for i in range(vid.n_samples):
        ts = (
            vid.sample_times[i] * 1000 // vid.timescale
            if i < len(vid.sample_times) and vid.timescale
            else 0
        )
        off, sz = vid.sample_offsets[i], vid.sample_sizes[i]
        out.append((ts, payload[off : off + sz]))
    return out


def decode_mp4_frames(payload: bytes) -> list[tuple[int, "object"]]:
    """Fully decode an MJPEG MP4: (timestamp_ms, HxWx3 uint8) frames.

    Raises NotImplementedError for compressed codecs (avc1/hvc1/...);
    the container parses fine either way — that's the ffmpeg swap
    point, clearly separated from the container logic.
    """
    tracks = parse_mp4(payload)
    vid = next((t for t in tracks if t.handler == "vide"), None)
    if vid is None:
        raise ValueError("no video track")
    if vid.codec not in MJPEG_FOURCCS:
        raise NotImplementedError(
            f"codec {vid.codec!r} needs ffmpeg; only MJPEG decodes natively"
        )
    from hogzilla_spark.operators.jpeg import decode_jpeg

    return [(ts, decode_jpeg(sample)) for ts, sample in demux_mp4(payload)]


def _box(fourcc: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + fourcc + body


def _full_box(fourcc: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(fourcc, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + body)


def encode_mp4_mjpeg(
    frames: list[bytes], fps: int = 1, width: int = 0, height: int = 0
) -> bytes:
    """Single-video-track MJPEG MP4: each element of `frames` is a
    complete JFIF image (e.g. from encode_jpeg).  One chunk holds all
    samples; moov follows mdat so offsets are known when written."""
    if not frames:
        raise ValueError("need at least one frame")
    if not (width and height):
        # sniff dims from the first frame's SOF marker
        f0 = frames[0]
        i = 2
        while i < len(f0) - 9:
            if f0[i] == 0xFF and f0[i + 1] in (0xC0, 0xC1, 0xC2):
                height, width = struct.unpack_from(">HH", f0, i + 5)
                break
            if f0[i] == 0xFF and f0[i + 1] not in (0x00, 0xD8):
                (seglen,) = struct.unpack_from(">H", f0, i + 2)
                i += 2 + seglen
            else:
                i += 1

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp41")
    mdat_body = b"".join(frames)
    mdat_start = len(ftyp) + 8  # absolute offset of first sample
    mdat = _box(b"mdat", mdat_body)

    timescale = 1000
    delta = timescale // max(1, fps)
    duration = delta * len(frames)

    mvhd = _full_box(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">iH2x8x", 0x00010000, 0x0100)
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + struct.pack(">6I", 0, 0, 0, 0, 0, 0)
        + struct.pack(">I", 2),  # next_track_id
    )
    tkhd = _full_box(
        b"tkhd", 0, 7,
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + struct.pack(">8x4H", 0, 0, 0, 0)
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _full_box(
        b"mdhd", 0, 0,
        struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0),
    )
    hdlr = _full_box(b"hdlr", 0, 0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"mjpeg\x00")
    vmhd = _full_box(b"vmhd", 0, 1, struct.pack(">4H", 0, 0, 0, 0))
    dref = _full_box(b"dref", 0, 0, struct.pack(">I", 1) + _full_box(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)

    sample_entry = (
        struct.pack(">I", 86) + b"jpeg"
        + b"\x00" * 6 + struct.pack(">H", 1)  # data_ref_index
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)  # depth, pre_defined
    )
    stsd = _full_box(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _full_box(b"stts", 0, 0, struct.pack(">III", 1, len(frames), delta))
    stsc = _full_box(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, len(frames), 1))
    stsz = _full_box(
        b"stsz", 0, 0,
        struct.pack(">II", 0, len(frames))
        + struct.pack(f">{len(frames)}I", *[len(f) for f in frames]),
    )
    stco = _full_box(b"stco", 0, 0, struct.pack(">II", 1, mdat_start))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
