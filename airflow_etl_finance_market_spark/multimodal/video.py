"""Pure-stdlib MJPEG-in-AVI video codec — the REAL video tier.

With the baseline-JPEG codec in place (:mod:`.jpeg`), one real video
format becomes reachable without libav: Motion-JPEG in an AVI (RIFF)
container, where every frame is an independent baseline JPEG and the
container adds only a RIFF chunk walk. That makes frame SAMPLING (the operation a
vision-LM data pipeline actually runs: take every Nth frame for
captioning/filtering) fully real: container walk, frame extraction,
and per-frame dimension decode all run on actual bytes.

Honesty boundary, same shape as the image tier: modern codecs
(H.264/VP9/AV1 in MP4/MKV) need libav and raise NotImplementedError
from the single-payload probe; the FRAME-level Spark path QUARANTINES
those payloads (no rows emitted) because one bad byte string in a
media crawl must never fail the task. The fixture ENCODER writes a
minimal-but-valid AVI (hdrl with avih/strl/strf, a movi LIST of 00dc
chunks); the DECODER is deliberately tolerant — it only requires the
movi LIST and ``..dc``/``..db`` frame chunks, so MJPEG files from real
tooling parse too.

Factory-nested (:func:`_stdlib_avi_codec`) so cloudpickle ships the
codec BY VALUE into mapInPandas closures, like every other codec here.
"""

from __future__ import annotations

#: RIFF magic shared with WAV; AVI is RIFF with form type 'AVI '.
AVI_MAGIC = b"RIFF"


def _stdlib_avi_codec():
    """Build the self-contained MJPEG/AVI codec namespace.

    Returns ``(avi_info, avi_frames, avi_encode)``:

    - ``avi_info(b) -> (n_frames, usec_per_frame)``;
    - ``avi_frames(b) -> list[bytes]`` — each element one JPEG payload;
    - ``avi_encode(jpeg_frames, fps=10, width=0, height=0) -> bytes``.
    """
    import struct

    def _require_avi(b: bytes):
        if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
            raise ValueError("not a RIFF/AVI payload")

    def _chunks(b: bytes, pos: int, end: int):
        """Yield (fourcc, start, size) for COMPLETE chunks in [pos, end).

        A truncated file (a cut-off crawl download) ends mid-chunk; the
        declared size then runs past the buffer and a naive slice would
        silently hand back a CORRUPT partial frame as if it were real.
        Only fully-present chunks are yielded — the intact prefix."""
        end = min(end, len(b))
        while pos + 8 <= end:
            cid = b[pos : pos + 4]
            ln = int.from_bytes(b[pos + 4 : pos + 8], "little")
            if pos + 8 + ln > end:
                return  # partial trailing chunk: stop at the cut
            yield cid, pos + 8, ln
            pos += 8 + ln + (ln & 1)

    def _find_list(b: bytes, pos: int, end: int, form: bytes):
        """(start, end) of the payload of the first LIST with ``form``.

        The LIST's own declared end is clamped to the buffer so a
        truncated movi still walks its complete prefix."""
        end = min(end, len(b))
        while pos + 8 <= end:
            cid = b[pos : pos + 4]
            ln = int.from_bytes(b[pos + 4 : pos + 8], "little")
            if cid == b"LIST" and b[pos + 8 : pos + 12] == form:
                return pos + 12, min(pos + 8 + ln, len(b))
            pos += 8 + ln + (ln & 1)
        return None

    def avi_frames(b: bytes) -> list[bytes]:
        _require_avi(b)
        movi = _find_list(b, 12, len(b), b"movi")
        if movi is None:
            raise ValueError("no movi LIST")
        frames = []
        for cid, start, ln in _chunks(b, movi[0], movi[1]):
            # ..dc = compressed video, ..db = uncompressed; stream number
            # is the 2-digit prefix. MJPEG frames are JPEG payloads.
            if cid[2:4] in (b"dc", b"db"):
                frames.append(b[start : start + ln])
        return frames

    def avi_info(b: bytes) -> tuple[int, int]:
        _require_avi(b)
        hdrl = _find_list(b, 12, len(b), b"hdrl")
        usec = 0
        if hdrl is not None:
            for cid, start, ln in _chunks(b, hdrl[0], hdrl[1]):
                if cid == b"avih":
                    usec = int.from_bytes(b[start : start + 4], "little")
                    break
        return len(avi_frames(b)), usec

    def avi_encode(
        jpeg_frames: list[bytes],
        fps: int = 10,
        width: int = 0,
        height: int = 0,
    ) -> bytes:
        def chunk(cid: bytes, payload: bytes) -> bytes:
            pad = b"\x00" if len(payload) & 1 else b""
            return (
                cid + len(payload).to_bytes(4, "little") + payload + pad
            )

        def lst(form: bytes, payload: bytes) -> bytes:
            return chunk(b"LIST", form + payload)

        n = len(jpeg_frames)
        avih = struct.pack(
            "<IIIIIIIIIIIIII",
            1_000_000 // max(fps, 1),  # usec per frame
            0, 0, 0x10, n, 0, 1, 0, width, height, 0, 0, 0, 0,
        )
        strh = struct.pack(
            "<4s4sIHHIIIIIIIIhhhh",
            b"vids", b"MJPG", 0, 0, 0, 0, 1, max(fps, 1), 0, n, 0, 0,
            0xFFFFFFFF // 2, 0, 0, width, height,
        )
        strf = struct.pack(
            "<IiiHH4sIiiII",
            40, width, height, 1, 24, b"MJPG",
            width * height * 3, 0, 0, 0, 0,
        )
        hdrl = lst(
            b"hdrl",
            chunk(b"avih", avih)
            + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
        )
        movi = lst(
            b"movi", b"".join(chunk(b"00dc", f) for f in jpeg_frames)
        )
        body = b"AVI " + hdrl + movi
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    return avi_info, avi_frames, avi_encode


def decode_video(payload: bytes) -> tuple[int, int]:
    """REAL single-payload probe: (n_frames, usec_per_frame).

    MJPEG/AVI parses via the stdlib codec; anything else raises
    NotImplementedError (H.264/VP9/AV1 need libav — the loud seam; the
    frame-level Spark path quarantines instead)."""
    if payload[:4] == AVI_MAGIC and payload[8:12] == b"AVI ":
        avi_info, *_ = _stdlib_avi_codec()
        return avi_info(payload)
    raise NotImplementedError(
        "non-AVI video decoding requires libav/ffmpeg, not present in "
        "this container"
    )
