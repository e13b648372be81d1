"""MJPEG-in-AVI stdlib codec + the REAL frame-sampling path
(multimodal/video.py, binary.sample_frames use_fake_codec=False):
container walk, byte-exact frame extraction, quarantine posture."""

from __future__ import annotations

import hashlib

import pytest

from airflow_etl_finance_market_spark.multimodal.jpeg import (
    _stdlib_jpeg_codec,
)
from airflow_etl_finance_market_spark.multimodal.video import (
    _stdlib_avi_codec,
    decode_video,
)


def _mjpeg_avi(n_frames=6, fps=10):
    _, _, jenc = _stdlib_jpeg_codec()
    frames = [
        jenc(8, 8, 1, bytes([i * 30] * 64), quality=90)
        for i in range(n_frames)
    ]
    _, _, enc = _stdlib_avi_codec()
    return enc(frames, fps=fps, width=8, height=8), frames


class TestStdlibAviCodec:
    def test_roundtrip_frames_byte_exact(self):
        """The container must hand back every JPEG frame byte-for-byte —
        word-aligned chunk padding included (JPEG payloads are routinely
        odd-length)."""
        avi, frames = _mjpeg_avi()
        info, extract, _ = _stdlib_avi_codec()
        assert any(len(f) & 1 for f in frames)  # padding actually exercised
        assert extract(avi) == frames
        assert info(avi) == (6, 100_000)  # 10 fps -> 100ms per frame

    def test_sampled_frame_decodes_through_jpeg_codec(self):
        """Cross-codec: a frame pulled from the container is a REAL
        baseline JPEG the image tier decodes to the exact flat block."""
        avi, _ = _mjpeg_avi()
        _, extract, _ = _stdlib_avi_codec()
        _, jdec, _ = _stdlib_jpeg_codec()
        w, h, ch, pix = jdec(extract(avi)[3])
        assert (w, h, ch) == (8, 8, 1) and set(pix) == {90}

    def test_probe_and_loud_seam(self):
        avi, _ = _mjpeg_avi(n_frames=4, fps=25)
        assert decode_video(avi) == (4, 40_000)
        with pytest.raises(NotImplementedError):
            decode_video(b"\x00\x00\x00\x20ftypmp42 not avi")

    def test_missing_movi_raises(self):
        body = b"AVI " + b"JUNK" + (4).to_bytes(4, "little") + b"\x00" * 4
        bad = b"RIFF" + len(body).to_bytes(4, "little") + body
        _, extract, _ = _stdlib_avi_codec()
        with pytest.raises(ValueError):
            extract(bad)


class TestRealFrameSamplingOnSpark:
    def test_samples_every_nth_real_frame_and_quarantines(self, spark):
        """sample_frames(use_fake_codec=False): every 2nd MJPEG frame is
        emitted with its TRUE byte length and sha (provably the container
        walk, not chunk arithmetic); unparseable payloads contribute zero
        rows; NULL payloads are skipped."""
        from airflow_etl_finance_market_spark.multimodal.binary import (
            sample_frames,
        )

        avi, frames = _mjpeg_avi()
        media = spark.createDataFrame(
            [
                (1, bytearray(avi)),
                (2, bytearray(b"\x00ftypmp42 h264-ish payload")),
                (3, bytearray(avi[: len(avi) // 3])),  # truncated container
                (4, None),
            ],
            "doc_id long, payload binary",
        )
        rows = sample_frames(
            media, every_n=2, use_fake_codec=False
        ).collect()
        assert sorted({r.doc_id for r in rows}) == [1, 3]
        got = {
            r.frame_idx: (r.frame_bytes, r.frame_sha16)
            for r in rows
            if r.doc_id == 1
        }
        assert sorted(got) == [0, 2, 4]
        for k, (nb, sha) in got.items():
            assert nb == len(frames[k])
            assert sha == hashlib.sha256(frames[k]).hexdigest()[:16]
        # a truncated container yields its intact PREFIX of frames — and
        # ONLY intact ones: every emitted frame byte-matches the original
        # (the walker must never clamp a cut-off chunk into a fake frame)
        prefix = sorted(
            (r.frame_idx, r.frame_bytes, r.frame_sha16)
            for r in rows
            if r.doc_id == 3
        )
        assert prefix  # the cut at 1/3 leaves at least the first frame
        for k, nb, sha in prefix:
            assert nb == len(frames[k])
            assert sha == hashlib.sha256(frames[k]).hexdigest()[:16]
