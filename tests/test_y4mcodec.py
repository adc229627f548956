"""YUV4MPEG2 codec (operators/y4mcodec.py) and the real
multimodal.sample_frames path over it: header parse, C444/C420
round-trips at colorspace-rounding error bounds, frame sampling to
PNG, and the preserved NotImplementedError for compressed video."""

from __future__ import annotations

import numpy as np
import pytest

from instacart_medallion_lakehouse_spark.operators import multimodal
from instacart_medallion_lakehouse_spark.operators.imagecodec import decode
from instacart_medallion_lakehouse_spark.operators.y4mcodec import (
    iter_y4m_frames,
    parse_y4m_header,
)
from codec_stubs import encode_y4m


def _frames(n: int, h: int = 16, w: int = 24) -> list[np.ndarray]:
    yy, xx = np.mgrid[0:h, 0:w]
    return [
        np.stack(
            [(xx * 9 + i * 40) % 256, (yy * 7 + i * 11) % 256,
             (xx + yy + i) % 256],
            axis=-1,
        ).astype(np.uint8)
        for i in range(n)
    ]


class TestY4M:
    def test_header_parse(self):
        enc = encode_y4m(_frames(3), fps=(30, 1), colorspace="444")
        hdr = parse_y4m_header(enc)
        assert (hdr["width"], hdr["height"]) == (24, 16)
        assert hdr["fps"] == (30, 1)
        assert hdr["colorspace"] == "444"
        assert hdr["n_frames"] == 3

    def test_c444_roundtrip_within_color_rounding(self):
        frames = _frames(4)
        out = list(iter_y4m_frames(encode_y4m(frames, colorspace="444")))
        assert len(out) == 4
        for a, b in zip(frames, out):
            # YCbCr is a full-range rotation: only rounding error left
            assert np.abs(a.astype(int) - b.astype(int)).max() <= 3

    def test_c420_roundtrip_bounded(self):
        frames = _frames(2)
        out = list(iter_y4m_frames(encode_y4m(frames, colorspace="420jpeg")))
        for a, b in zip(frames, out):
            assert np.abs(a.astype(float) - b).mean() <= 20  # chroma avg

    def test_c420_odd_dims_rejected(self):
        with pytest.raises(ValueError, match="even"):
            encode_y4m(_frames(1, h=15, w=24), colorspace="420jpeg")

    def test_truncated_stream_raises(self):
        enc = encode_y4m(_frames(2))
        with pytest.raises(ValueError, match="truncated"):
            parse_y4m_header(enc[: len(enc) - 10])

    def test_bad_magic_raises(self):
        with pytest.raises(ValueError, match="magic"):
            parse_y4m_header(b"not a y4m stream")


class TestSampleFrames:
    def test_every_nth_frame_as_png(self):
        frames = _frames(7)
        pngs = multimodal.sample_frames(encode_y4m(frames), every_n=3)
        assert len(pngs) == 3  # frames 0, 3, 6
        for png, want in zip(pngs, (frames[0], frames[3], frames[6])):
            arr = decode(png)
            assert arr.shape == (16, 24, 3)
            assert np.abs(arr.astype(int) - want.astype(int)).max() <= 3

    def test_compressed_containers_still_stubbed(self):
        # mkv (and any unknown magic) keeps the loud ffmpeg boundary;
        # mp4 now routes through the real sample-table walk (r11,
        # operators/mp4codec.py — tests/test_gif_avi.py::TestMp4Mjpeg),
        # so a table-less mp4 fails the walk with ValueError instead
        with pytest.raises(NotImplementedError, match="ffmpeg"):
            multimodal.sample_frames(b"\x1a\x45\xdf\xa3 fake mkv")
        with pytest.raises(ValueError):
            multimodal.sample_frames(b"\x00\x00\x00\x18ftypmp42 fake mp4")

    def test_header_parser_recognizes_y4m(self):
        enc = encode_y4m(_frames(5), fps=(24, 1))
        parsed = multimodal.parse_media_header(enc)
        assert parsed["format"] == "y4m"
        assert (parsed["width"], parsed["height"]) == (24, 16)
        assert parsed["n_frames"] == 5

    def test_magic_prefixed_garbage_stays_raw(self):
        parsed = multimodal.parse_media_header(b"YUV4MPEG2 but not really")
        assert parsed["format"] == "raw"


class TestStepDemux:
    def test_step_yields_exactly_the_sampled_frames(self):
        stream = encode_y4m(_frames(13))
        full = list(iter_y4m_frames(stream))
        for step in (1, 2, 3, 5, 30):
            sampled = list(iter_y4m_frames(stream, step=step))
            want = full[::step]
            assert len(sampled) == len(want)
            for got, exp in zip(sampled, want):
                assert np.array_equal(got, exp)

    def test_step_seeks_past_skipped_frames_without_decoding(
        self, monkeypatch
    ):
        """The skipped frames must never reach the YCbCr->RGB matrix:
        the per-pixel float conversion is ~97% of the demux cost at
        step=30, and the ADVICE contract is seek, not decode-discard."""
        from instacart_medallion_lakehouse_spark.operators import y4mcodec

        calls = {"n": 0}
        real = y4mcodec._ycbcr_to_rgb

        def counting(y, cb, cr):
            calls["n"] += 1
            return real(y, cb, cr)

        monkeypatch.setattr(y4mcodec, "_ycbcr_to_rgb", counting)
        stream = encode_y4m(_frames(12))
        out = list(y4mcodec.iter_y4m_frames(stream, step=5))
        assert len(out) == 3  # frames 0, 5, 10
        assert calls["n"] == 3

    def test_step_rejects_nonpositive(self):
        stream = encode_y4m(_frames(2))
        with pytest.raises(ValueError, match="step"):
            list(iter_y4m_frames(stream, step=0))

    def test_video_frame_stats_indices_match_stride(self, spark, sf_dir):
        from pyspark.sql import functions as F

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(18)
        media = multimodal.with_media(docs).filter(
            F.col("media_type") == "video"
        )
        out = multimodal.extract_video_frame_stats(media, every_n=5)
        rows = out.collect()
        assert rows, "expected video rows"
        for r in rows:
            assert r["frame_idx"] % 5 == 0
