"""Compressed-audio probes (operators/audioprobe.py), G.711 mu-law
decode, and gzip text round-trip: header walks against the stub
encoders, bit-field edges, corrupt handling, sniff/triage routing,
and the Spark fixture/extract pairs behind the mp3_stream_probe /
flac_stream_probe / audio_g711_stats / gzip_text_roundtrip oracle
queries."""

from __future__ import annotations

import gzip
import hashlib

import numpy as np
import pytest

from instacart_medallion_lakehouse_spark.operators import multimodal
from instacart_medallion_lakehouse_spark.operators.audioprobe import (
    parse_flac,
    parse_mp3,
)
from codec_stubs import encode_flac_stub, encode_mp3_stub


class TestMp3:
    def test_walk_all_rates_and_bitrates(self):
        for bi in (1, 5, 14):
            for si in (0, 1, 2):
                m = parse_mp3(encode_mp3_stub(bi, si, 3))
                assert m["n_frames"] == 3
                assert m["duration_ms"] == 3 * 1152 * 1000 // m["sample_rate"]

    def test_id3_skip(self):
        m = parse_mp3(encode_mp3_stub(9, 1, 4, id3_size=77))
        assert m["n_frames"] == 4 and m["bitrate_kbps"] == 128

    def test_truncated_frame_raises(self):
        p = encode_mp3_stub(9, 1, 2)
        with pytest.raises(ValueError, match="truncated|sync"):
            parse_mp3(p[:-10])

    def test_trailing_garbage_raises(self):
        with pytest.raises(ValueError):
            parse_mp3(encode_mp3_stub(9, 1, 2) + b"\x00\x00")

    def test_id3v1_trailer_tolerated(self):
        # the ubiquitous 128-byte ID3v1 'TAG' block after the frames
        # is a healthy file, not corruption
        trailer = b"TAG" + bytes(125)
        m = parse_mp3(encode_mp3_stub(9, 1, 3) + trailer)
        assert m["n_frames"] == 3
        # but a TAG block of the wrong size is still an error
        with pytest.raises(ValueError):
            parse_mp3(encode_mp3_stub(9, 1, 3) + b"TAG" + bytes(50))

    def test_free_bitrate_rejected(self):
        hdr = bytes([0xFF, 0xFB, 0x00, 0x00])
        with pytest.raises(ValueError, match="bitrate"):
            parse_mp3(hdr + bytes(100))


class TestFlac:
    def test_bit_fields(self):
        for sr, ch, bps, total in (
            (8000, 1, 8, 1000),
            (44100, 2, 16, 123_456),
            (96000, 8, 24, (1 << 36) - 1),
        ):
            m = parse_flac(encode_flac_stub(sr, ch, bps, total))
            assert (
                m["sample_rate"],
                m["channels"],
                m["bits_per_sample"],
                m["total_samples"],
            ) == (sr, ch, bps, total)
            assert m["duration_ms"] == total * 1000 // sr

    def test_corrupt(self):
        with pytest.raises(ValueError):
            parse_flac(b"fLaX" + bytes(40))
        with pytest.raises(ValueError):
            parse_flac(encode_flac_stub(8000, 1, 8, 10)[:20])


class TestG711:
    def test_expansion_formula_reference_values(self):
        # CCITT G.711 reference: code 0xFF decodes to 0, 0x7F to -0,
        # code 0x00 (u=255) is the most negative segment value
        def dec(code):
            u = 255 - code
            t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
            return (0x84 - t) if u & 0x80 else (t - 0x84)

        assert dec(0xFF) == 0
        assert dec(0x7F) == 0
        assert dec(0x00) == -(((0x0F << 3) + 0x84) << 7) + 0x84
        assert dec(0x80) == (((0x0F << 3) + 0x84) << 7) - 0x84
        # monotone within the positive half
        pos = [dec(c) for c in range(0xFF, 0x7F, -1)]
        assert pos == sorted(pos)


class TestAdpcm:
    def test_reference_steps(self):
        from instacart_medallion_lakehouse_spark.operators.audioprobe import (
            IMA_STEP_TABLE,
            ima_adpcm_decode,
        )

        # from (pred=0, idx=0, step=7): code 0 -> +0 diff? no: diff
        # always includes step>>3 = 0; code 7 -> 0+1+3+(7>>3=0)?
        # compute by hand: step=7; code 7 = b0111: diff = 0 + 1 + 3 + 7
        assert ima_adpcm_decode([7], 0, 0) == [0 + 0 + 1 + 3 + 7]
        # code 15 (sign bit): same magnitude, negative
        assert ima_adpcm_decode([15], 0, 0) == [-(0 + 1 + 3 + 7)]
        # index walk: code 7 bumps index by +8, code 0 by -1 (floor 0)
        out = ima_adpcm_decode([7, 0], 100, 0)
        step2 = IMA_STEP_TABLE[8]
        assert out[1] == out[0] + (step2 >> 3)

    def test_clamps(self):
        from instacart_medallion_lakehouse_spark.operators.audioprobe import (
            ima_adpcm_decode,
        )

        # drive hard positive from near the top: predictor clamps
        out = ima_adpcm_decode([7] * 40, 32700, 88)
        assert max(out) == 32767
        # hard negative
        out = ima_adpcm_decode([15] * 40, -32700, 88)
        assert min(out) == -32768
        # invalid initial state is loud
        with pytest.raises(ValueError):
            ima_adpcm_decode([0], 40000, 0)
        with pytest.raises(ValueError):
            ima_adpcm_decode([0], 0, 89)

    def test_spark_pair(self, spark):
        from instacart_medallion_lakehouse_spark.operators.audioprobe import (
            ima_adpcm_decode,
        )

        docs = spark.range(0, 25).toDF("doc_id")
        got = {
            r.doc_id: r
            for r in multimodal.extract_adpcm_stats(
                multimodal.with_adpcm_media(docs)
            ).collect()
        }
        for d in range(25):
            u = 1 + d % 12
            pred0 = 100 * (d % 50) - 2000
            nib = [(d + k) % 16 for k in range(16 * u)]
            samples = [pred0, *ima_adpcm_decode(nib, pred0, d % 89)]
            r = got[d]
            assert r.n_samples == len(samples)
            assert r.last_sample == samples[-1]
            assert r.dc_sum == sum(samples)
            assert r.energy == sum(s * s for s in samples)


class TestSniffTriage:
    def test_sniff(self):
        assert multimodal.sniff_format(encode_mp3_stub(9, 1, 1)) == "mp3"
        assert (
            multimodal.sniff_format(encode_mp3_stub(9, 1, 1, id3_size=5))
            == "mp3"
        )
        assert (
            multimodal.sniff_format(encode_flac_stub(8000, 1, 8, 10))
            == "flac"
        )
        # jpeg magic still wins over the generic 0xFF sync sniff
        assert multimodal.sniff_format(b"\xff\xd8\xff\xe0") == "jpeg"
        # arbitrary 0xFF-prefixed binary must NOT misroute into the
        # mp3 bucket: invalid version/layer/bitrate bits stay 'raw'
        assert multimodal.sniff_format(b"\xff\xff\x00\x00" + bytes(16)) == "raw"
        assert multimodal.sniff_format(b"\xff\xe2\x90\x00" + bytes(16)) == "raw"

    def test_triage_routes_audio(self, spark):
        rows = [
            (0, bytearray(encode_mp3_stub(9, 1, 2))),
            (1, bytearray(encode_flac_stub(44100, 2, 16, 99))),
            (2, bytearray(encode_mp3_stub(9, 1, 2)[:-8])),  # truncated
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        tri = {
            r.doc_id: (r.format, r.status)
            for r in multimodal.triage_media(df).collect()
        }
        assert tri[0] == ("mp3", "ok")
        assert tri[1] == ("flac", "ok")
        assert tri[2] == ("mp3", "corrupt")


class TestSparkPairs:
    def test_mp3_fixture_probe(self, spark):
        docs = spark.range(0, 50).toDF("doc_id")
        got = {
            r.doc_id: r
            for r in multimodal.extract_mp3_meta(
                multimodal.with_mp3_media(docs)
            ).collect()
        }
        kbps = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
                320)
        rates = (44100, 48000, 32000)
        for d in range(50):
            r = got[d]
            assert r.bitrate_kbps == kbps[d % 14]
            assert r.sample_rate == rates[d % 3]
            assert r.n_frames == 1 + d % 6
            assert r.duration_ms == (1 + d % 6) * 1152 * 1000 // rates[d % 3]

    def test_flac_fixture_probe(self, spark):
        docs = spark.range(0, 30).toDF("doc_id")
        got = {
            r.doc_id: r
            for r in multimodal.extract_flac_meta(
                multimodal.with_flac_media(docs)
            ).collect()
        }
        for d in range(30):
            r = got[d]
            assert r.sample_rate == 8000 * (1 + d % 6)
            assert r.channels == 1 + d % 8
            assert r.bits_per_sample == 8 + 4 * (d % 3)
            assert r.total_samples == 1000 + d % 9999

    def test_g711_fixture_stats(self, spark):
        docs = spark.range(0, 30).toDF("doc_id")
        got = {
            r.doc_id: r
            for r in multimodal.extract_g711_stats(
                multimodal.with_g711_media(docs)
            ).collect()
        }

        def dec(code):
            u = 255 - code
            t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
            return (0x84 - t) if u & 0x80 else (t - 0x84)

        for d in range(30):
            r = got[d]
            m = 1 + d % 50
            s1 = dec((7 * d + 13) % 256)
            s2 = dec((11 * d + 97) % 256)
            assert r.n_samples == 2 * m
            assert r.peak == max(abs(s1), abs(s2))
            assert r.dc_sum == m * (s1 + s2)
            assert r.energy == m * (s1 * s1 + s2 * s2)

    def test_gzip_roundtrip(self, spark):
        docs = spark.createDataFrame(
            [(0, "hello world"), (1, None), (2, "ünïcode § bytes")],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r
            for r in multimodal.extract_gzip_text(
                multimodal.with_gzip_text(docs)
            ).collect()
        }
        assert 1 not in got  # NULL text -> no row
        for d, text in ((0, "hello world"), (2, "ünïcode § bytes")):
            raw = text.encode("utf-8")
            assert got[d].n_bytes == len(raw)
            assert got[d].digest == hashlib.md5(raw).hexdigest()
        # payloads really are gzip members
        pay = {
            r.doc_id: bytes(r.payload)
            for r in multimodal.with_gzip_text(docs).collect()
            if r.payload is not None
        }
        assert gzip.decompress(pay[0]) == b"hello world"
