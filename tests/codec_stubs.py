"""Test-only encoders: fabricate the byte streams the package's probes
and codecs parse (operators/audioprobe.py, operators/y4mcodec.py), so
their tests can round-trip without media files."""

from __future__ import annotations

import struct

import numpy as np

from instacart_medallion_lakehouse_spark.operators.audioprobe import (
    _MP3_BITRATES,
    _MP3_RATES,
)


def encode_mp3_stub(
    bitrate_index: int,
    rate_index: int,
    n_frames: int,
    id3_size: int = 0,
) -> bytes:
    """Fabricate a structurally-valid MPEG-1 Layer III stream: an
    optional ID3v2 prefix and ``n_frames`` identical frames (correct
    header + zero audio bytes to the exact frame length). Used by
    tests; the Spark fixture (multimodal.with_mp3_media) builds the
    same bytes JVM-side from doc_id arithmetic."""
    kbps = _MP3_BITRATES[bitrate_index]
    sr = _MP3_RATES[rate_index]
    flen = 144_000 * kbps // sr
    hdr = bytes(
        [0xFF, 0xFB, (bitrate_index << 4) | (rate_index << 2), 0x00]
    )
    frame = hdr + bytes(flen - 4)
    id3 = b""
    if id3_size:
        if id3_size >= 1 << 28:
            raise ValueError("mp3: id3 size exceeds syncsafe range")
        ss = bytes(
            [(id3_size >> s) & 0x7F for s in (21, 14, 7, 0)]
        )
        id3 = b"ID3\x03\x00\x00" + ss + bytes(id3_size)
    return id3 + frame * n_frames


def encode_flac_stub(
    sample_rate: int,
    channels: int,
    bits_per_sample: int,
    total_samples: int,
) -> bytes:
    """Fabricate 'fLaC' + a last-block STREAMINFO with the given
    fields (zero frame-size bounds and MD5 — metadata-only stub, no
    audio frames)."""
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | (total_samples & ((1 << 36) - 1))
    )
    si = (
        struct.pack(">HH", 4096, 4096)
        + b"\x00" * 6  # min/max frame size unknown
        + packed.to_bytes(8, "big")
        + b"\x00" * 16  # md5 unset
    )
    return b"fLaC" + bytes([0x80]) + len(si).to_bytes(3, "big") + si


def encode_y4m(
    frames: list[np.ndarray],
    fps: tuple[int, int] = (25, 1),
    colorspace: str = "444",
) -> bytes:
    """HxWx3 uint8 frames -> a Y4M stream (C444 exact through the
    colorspace rounding, or C420jpeg with 2x2 box-averaged chroma)."""
    if not frames:
        raise ValueError("y4m: no frames")
    h, w = frames[0].shape[:2]
    if colorspace not in ("444", "420jpeg"):
        raise ValueError("y4m: encode supports C444 / C420jpeg")
    if colorspace == "420jpeg" and (w % 2 or h % 2):
        raise ValueError("y4m: C420 requires even dimensions")
    out = bytearray(
        b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 C%s\n"
        % (w, h, fps[0], fps[1], colorspace.encode())
    )
    for f in frames:
        f = np.asarray(f, dtype=np.float64)
        if f.shape[:2] != (h, w):
            raise ValueError("y4m: inconsistent frame dimensions")
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if colorspace == "420jpeg":
            cb = 0.25 * (cb[0::2, 0::2] + cb[1::2, 0::2]
                         + cb[0::2, 1::2] + cb[1::2, 1::2])
            cr = 0.25 * (cr[0::2, 0::2] + cr[1::2, 0::2]
                         + cr[0::2, 1::2] + cr[1::2, 1::2])
        out += b"FRAME\n"
        for plane in (y, cb, cr):
            out += np.clip(plane + 0.5, 0, 255).astype(np.uint8).tobytes()
    return bytes(out)
