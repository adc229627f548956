"""Compressed-audio probes and codecs: MP3 frame walk, FLAC
STREAMINFO, IMA ADPCM sample decode.

The audio siblings of mp4probe.py/mkvprobe.py: the triage a 100 TB
audio corpus runs BEFORE shipping anything to a real decoder farm —
bitrate/sample-rate/duration per clip from pure header arithmetic, no
codec. Like the video probes, these parse the actual byte formats:

- ``parse_mp3``: optional ID3v2 skip (syncsafe 28-bit size), then an
  MPEG-1 Layer III frame-header walk — sync, bitrate/sample-rate
  index tables, padding bit, frame length
  floor(144 * bitrate / sample_rate) + padding — counting REAL frames
  (ISO/IEC 11172-3). A wrong length formula desyncs the walk and the
  frame count, so the oracle cross-check pins it.
- ``parse_flac``: 'fLaC' + metadata block walk to STREAMINFO and its
  bit-packed tail (sample rate 20 bits, channels-1 3 bits,
  bits-per-sample-1 5 bits, total samples 36 bits — RFC 9639 §8.2).

Entropy DECODE of MP3/FLAC audio stays out of scope (a codec
library's job, same boundary as H.26x video); PCM and G.711 WAV
payloads decode for real in multimodal.py.

Scalar functions by design — they run inside Arrow mapInPandas
batches (multimodal.extract_mp3_meta / extract_flac_meta), so Spark
parallelism comes from the batch stream.
"""

from __future__ import annotations

import struct

# MPEG-1 Layer III bitrate table (kbps), index 1..14; 0 = free, 15 = bad
_MP3_BITRATES = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
_MP3_RATES = (44100, 48000, 32000)  # sample-rate index 0..2
_SAMPLES_PER_FRAME = 1152  # MPEG-1 Layer III


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise ValueError(msg)


def parse_mp3(payload: bytes) -> dict:
    """Walk every MPEG-1 Layer III frame: returns first-frame bitrate
    (kbps), sample rate, channel mode, the REAL frame count, and the
    exact integer duration_ms = n_frames * 1152 * 1000 // sample_rate.
    An ID3v2 tag prefix is skipped via its syncsafe size."""
    n = len(payload)
    pos = 0
    if payload[:3] == b"ID3":
        _expect(n >= 10, "mp3: truncated ID3v2 header")
        size = 0
        for b in payload[6:10]:  # syncsafe: 7 bits per byte
            _expect(b < 0x80, "mp3: invalid syncsafe size byte")
            size = (size << 7) | b
        pos = 10 + size
    bitrate = rate = mode = None
    frames = 0
    while pos + 4 <= n:
        if payload[pos : pos + 3] == b"TAG" and n - pos == 128:
            pos = n  # standard 128-byte ID3v1 trailer after the frames
            break
        b0, b1, b2, b3 = payload[pos : pos + 4]
        _expect(b0 == 0xFF and (b1 & 0xE0) == 0xE0,
                f"mp3: lost frame sync at {pos}")
        _expect((b1 & 0x18) == 0x18, "mp3: only MPEG-1 supported")
        _expect((b1 & 0x06) == 0x02, "mp3: only Layer III supported")
        bi = (b2 >> 4) & 0x0F
        si = (b2 >> 2) & 0x03
        padding = (b2 >> 1) & 0x01
        _expect(1 <= bi <= 14, f"mp3: bad bitrate index {bi}")
        _expect(si <= 2, f"mp3: bad sample-rate index {si}")
        kbps = _MP3_BITRATES[bi]
        sr = _MP3_RATES[si]
        if frames == 0:
            bitrate, rate = kbps, sr
            mode = ("stereo", "joint_stereo", "dual_channel", "mono")[
                (b3 >> 6) & 0x03
            ]
        flen = 144_000 * kbps // sr + padding
        _expect(pos + flen <= n, f"mp3: truncated frame {frames}")
        frames += 1
        pos += flen
    _expect(frames > 0, "mp3: no frames")
    _expect(pos == n, "mp3: trailing bytes after last frame")
    return {
        "bitrate_kbps": bitrate,
        "sample_rate": rate,
        "channel_mode": mode,
        "n_frames": frames,
        "duration_ms": frames * _SAMPLES_PER_FRAME * 1000 // rate,
    }


def parse_flac(payload: bytes) -> dict:
    """'fLaC' + metadata-block walk to STREAMINFO (type 0, mandatory
    first), decoding its bit-packed tail: sample rate (20 bits),
    channels (3 bits, stored minus one), bits per sample (5 bits,
    stored minus one), total samples (36 bits). duration_ms is exact
    integer arithmetic. Audio-frame DECODE is out of scope."""
    _expect(payload[:4] == b"fLaC", "flac: bad signature")
    pos = 4
    n = len(payload)
    while True:
        _expect(pos + 4 <= n, "flac: truncated block header")
        hdr = payload[pos]
        btype = hdr & 0x7F
        (blen,) = struct.unpack(">I", b"\x00" + payload[pos + 1 : pos + 4])
        body = pos + 4
        _expect(body + blen <= n, "flac: truncated metadata block")
        if btype == 0:  # STREAMINFO
            _expect(blen == 34, f"flac: STREAMINFO must be 34 bytes")
            si = payload[body : body + 34]
            min_bs, max_bs = struct.unpack(">HH", si[0:4])
            packed = int.from_bytes(si[10:18], "big")
            sample_rate = packed >> 44
            channels = ((packed >> 41) & 0x07) + 1
            bits_per_sample = ((packed >> 36) & 0x1F) + 1
            total_samples = packed & ((1 << 36) - 1)
            _expect(sample_rate > 0, "flac: zero sample rate")
            return {
                "min_blocksize": min_bs,
                "max_blocksize": max_bs,
                "sample_rate": sample_rate,
                "channels": channels,
                "bits_per_sample": bits_per_sample,
                "total_samples": total_samples,
                "duration_ms": total_samples * 1000 // sample_rate,
            }
        _expect(not (hdr & 0x80), "flac: no STREAMINFO before last block")
        pos = body + blen


# IMA ADPCM (DVI4 / WAV format tag 0x11): the standard 89-entry step
# table and the 8-entry index-adjust table (IMA "Recommended Practices
# for Enhancing Digital Audio Compatibility", also RFC 3551 DVI4).
IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)


def ima_adpcm_decode(
    nibbles, predictor: int, index: int
) -> "list[int]":
    """Decode a sequence of 4-bit IMA ADPCM codes to 16-bit linear
    samples given the block's initial (predictor, step index) state.
    The recurrence is inherently SEQUENTIAL — each sample's step size
    depends on every previous code — which is exactly why the oracle
    for audio_adpcm_stats restates it as a recursive CTE rather than
    closed-form arithmetic. Integer-exact: diff uses the shift-add
    expansion diff = step>>3 (+ step>>2 if b0) (+ step>>1 if b1)
    (+ step if b2), sign via bit 3, predictor clamped to int16 and
    index to [0, 88]."""
    out = []
    pred = int(predictor)
    idx = int(index)
    if not -32768 <= pred <= 32767:
        raise ValueError("adpcm: initial predictor out of int16 range")
    if not 0 <= idx <= 88:
        raise ValueError("adpcm: initial step index out of range")
    for n in nibbles:
        step = IMA_STEP_TABLE[idx]
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = pred - diff if n & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + IMA_INDEX_TABLE[n & 7]))
        out.append(pred)
    return out
