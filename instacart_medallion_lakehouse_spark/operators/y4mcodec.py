"""Pure numpy + stdlib YUV4MPEG2 (.y4m) video codec.

Y4M is the uncompressed interchange container the mjpegtools family
defined: an ASCII stream header (``YUV4MPEG2 W<w> H<h> F<n>:<d> ...``),
then per frame an ASCII ``FRAME`` line followed by raw planar YCbCr.
Because every byte position is arithmetic — no entropy coding, no
inter-frame prediction — it is the one VIDEO container a pure-numpy
engine can demux honestly, which narrows multimodal.sample_frames'
NotImplementedError to COMPRESSED containers only (mp4/mkv/webm demux
plus codec decode stay a real codec library's job).

Colorspaces: C444 (full-resolution planes) and C420 / C420jpeg /
C420mpeg2 / C420paldv (2x2-subsampled chroma, decoded by sample
replication — the siting differences between the C420 variants are
half-pixel chroma phase, ignored here the way every fast path does).
Conversion uses the full-range JFIF matrix, matching jpegcodec.py, so
frames extracted from a Y4M and re-encoded as PNG/JPEG round-trip
through one consistent color pipeline.

Like the image codecs, these are scalar (payload -> arrays -> payload)
functions that run INSIDE mapInPandas batches — Spark parallelism
comes from the Arrow batch stream, not from here.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

_MAGIC = b"YUV4MPEG2"
_C420 = {"420", "420jpeg", "420mpeg2", "420paldv"}


def parse_y4m_header(payload: bytes) -> dict:
    """Parse the stream header: width, height, fps (num, den),
    colorspace tag, header byte length, per-frame payload bytes, and
    the frame count implied by the payload size."""
    if not payload.startswith(_MAGIC):
        raise ValueError("y4m: bad magic")
    nl = payload.find(b"\n")
    if nl == -1:
        raise ValueError("y4m: unterminated stream header")
    w = h = None
    fps = (25, 1)
    cs = "420jpeg"  # spec default when C is absent
    for tok in payload[len(_MAGIC) : nl].split(b" "):
        if not tok:
            continue
        tag, val = chr(tok[0]), tok[1:].decode("ascii", "replace")
        if tag == "W":
            w = int(val)
        elif tag == "H":
            h = int(val)
        elif tag == "F":
            num, den = val.split(":")
            fps = (int(num), int(den))
        elif tag == "C":
            cs = val
        # I (interlacing), A (aspect), X (extensions): metadata we
        # neither need nor validate
    if not w or not h:
        raise ValueError("y4m: missing W/H in stream header")
    if cs == "444":
        frame_bytes = w * h * 3
    elif cs in _C420:
        if w % 2 or h % 2:
            raise ValueError("y4m: C420 requires even dimensions")
        frame_bytes = w * h + 2 * (w // 2) * (h // 2)
    else:
        raise ValueError(f"y4m: colorspace C{cs} unsupported (C444/C420*)")
    # count frames by walking FRAME lines (parameters allowed after
    # FRAME, so line length is not fixed) — cheap: header-only scan
    n_frames = 0
    pos = nl + 1
    n = len(payload)
    while pos < n:
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("y4m: expected FRAME header")
        fnl = payload.find(b"\n", pos)
        if fnl == -1 or fnl + 1 + frame_bytes > n:
            raise ValueError("y4m: truncated frame")
        n_frames += 1
        pos = fnl + 1 + frame_bytes
    return {
        "width": w,
        "height": h,
        "fps": fps,
        "colorspace": cs,
        "header_len": nl + 1,
        "frame_bytes": frame_bytes,
        "n_frames": n_frames,
    }


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1) + 0.5, 0, 255).astype(
        np.uint8
    )


def iter_y4m_frames(payload: bytes, step: int = 1) -> Iterator[np.ndarray]:
    """Yield every ``step``-th frame (0, step, 2*step, ...) as HxWx3
    RGB uint8. Skipped frames are SEEKED past, not decoded: the FRAME
    line is located with a byte find (its length can vary — parameters
    are legal after FRAME) and the fixed frame_bytes payload is jumped
    arithmetically, so none of the float64 plane conversion or the
    YCbCr matrix runs for them — at step=30 that is ~97% of the decode
    work a naive decode-then-discard sampler would burn per payload."""
    if step < 1:
        raise ValueError("y4m: step must be >= 1")
    hdr = parse_y4m_header(payload)
    w, h, cs = hdr["width"], hdr["height"], hdr["colorspace"]
    fb = hdr["frame_bytes"]
    pos = hdr["header_len"]
    n = len(payload)
    idx = 0
    while pos < n:
        fnl = payload.find(b"\n", pos)
        if idx % step:
            idx += 1
            pos = fnl + 1 + fb
            continue
        idx += 1
        raw = np.frombuffer(payload, np.uint8, fb, fnl + 1).astype(
            np.float64
        )
        if cs == "444":
            y = raw[: w * h].reshape(h, w)
            cb = raw[w * h : 2 * w * h].reshape(h, w)
            cr = raw[2 * w * h :].reshape(h, w)
        else:
            cw, ch = w // 2, h // 2
            y = raw[: w * h].reshape(h, w)
            cb = raw[w * h : w * h + cw * ch].reshape(ch, cw)
            cr = raw[w * h + cw * ch :].reshape(ch, cw)
            cb = np.repeat(np.repeat(cb, 2, axis=0), 2, axis=1)
            cr = np.repeat(np.repeat(cr, 2, axis=0), 2, axis=1)
        yield _ycbcr_to_rgb(y, cb, cr)
        pos = fnl + 1 + fb
