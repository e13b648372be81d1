"""Multimodal binary-column plumbing (SURVEY.md §7.5, BASELINE.json north star).

Images/video are opaque ``binary`` columns with typed metadata. The
Spark-side plumbing here is real and tested — schema, Arrow-batched
``mapInPandas`` decode stage, partition-safe batch shape. The codec tiers:

- **PNG, JPEG (baseline AND progressive), GIF, and WebP (VP8L) are
  REAL everywhere**: Pillow's C path when installed, else the
  self-contained stdlib codecs
  (:func:`_stdlib_png_codec` — zlib inflate, full filter-0–4
  unfiltering, nearest-neighbor resize, re-encode; and
  :func:`.jpeg._stdlib_jpeg_codec` — full Huffman entropy decode for
  SOF0 and SOF2 multi-scan streams, dequantize, IDCT, chroma
  upsample, YCbCr→RGB;
  :func:`.gif._stdlib_gif_codec` — variable-width LZW, interlace,
  local/global palettes, transparency→RGBA;
  :func:`.webp._stdlib_webp_codec` — complete VP8L lossless decode:
  prefix codes, color cache, meta groups, LZ77, all four transforms),
  so the formats a media crawl actually contains decode/resize actual
  pixels even in this bare container.
- **MJPEG-in-AVI video is REAL too** (:mod:`.video` — movi walk,
  byte-exact frame extraction feeding the JPEG codec; truncated files
  yield their intact frame prefix).
- **Other formats** (lossy-VP8 WebP/AVIF, H.264+
  video) need Pillow/libav — detected at call time. The single-payload probe
  :func:`decode_image` raises NotImplementedError without them (the
  honest seam, loud for a caller holding one payload); the FRAME-level
  real paths instead QUARANTINE — corrupt, truncated, or unsupported
  payloads become NULL-featured / dropped rows, because one bad byte
  string in a media crawl must never fail the task.
- The deterministic FAKE codec (``use_fake_codec=True``, default for the
  harness entries) stays available because its arithmetic is mirrorable
  in a SQL oracle — the driver-checkable twin the real codec can't be.

Scale notes: the decode stage is map-only (no shuffle); Arrow batches cross
the Python boundary (``spark.sql.execution.arrow.maxRecordsPerBatch``
controls peak memory per batch). Partitioning carries over from the source,
so a 100 TB media table decodes with zero data movement.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

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

from ..util import fan_out
from .gif import GIF_MAGIC, _stdlib_gif_codec
from .jpeg import JPEG_MAGIC, _stdlib_jpeg_codec
from .webp import _stdlib_webp_codec

#: Output schema of the feature-extraction stage.
FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sha16", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mime", StringType()),
    ]
)


#: PNG file signature — the sniff for the stdlib codec path.
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _stdlib_png_codec():
    """Build the pure-stdlib PNG codec as a SELF-CONTAINED namespace.

    Factory-nested (not module-level) deliberately: Spark's Python
    workers unpickle closures WITHOUT this repo on sys.path, and
    cloudpickle serializes nested functions BY VALUE — so the decode
    stage can capture these in a mapInPandas closure and still run on a
    bare worker. Returns ``(png_size, png_decode, png_encode,
    resize_nearest)``.

    Scope: 8-bit greyscale/RGB/RGBA plus 8-bit indexed color (PLTE with
    optional tRNS alpha — the GIF-converted PNGs a crawl contains),
    non-interlaced. Filters 0-4 are fully unfiltered per the spec, so
    this is a REAL decode, not a header sniff; it is pure Python (fine
    for tests and small media tiers), and a deployment with Pillow
    installed takes the C-accelerated path instead (detected at call
    time, same seam).
    """

    def png_size(b: bytes) -> tuple[int, int]:
        if b[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG payload")
        return (
            int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"),
        )

    def png_decode(b: bytes) -> tuple[int, int, int, bytes]:
        """(width, height, channels, row-major pixel bytes)."""
        import struct
        import zlib

        if b[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG payload")
        pos, idat = 8, b""
        w = h = ctype = None
        plte = trns = None
        while pos + 8 <= len(b):
            ln = int.from_bytes(b[pos : pos + 4], "big")
            typ = b[pos + 4 : pos + 8]
            data = b[pos + 8 : pos + 8 + ln]
            pos += 12 + ln
            if typ == b"IHDR":
                w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", data
                )
                if depth != 8 or ctype not in (0, 2, 3, 6) or interlace:
                    raise NotImplementedError(
                        "stdlib PNG codec handles 8-bit grey/RGB/RGBA/"
                        f"indexed non-interlaced only (depth={depth}, "
                        f"color_type={ctype}, interlace={interlace})"
                    )
            elif typ == b"PLTE":
                plte = data
            elif typ == b"tRNS":
                trns = data
            elif typ == b"IDAT":
                idat += data
            elif typ == b"IEND":
                break
        # indexed-color (type 3, r07): unfilter as 1 channel, then map
        # through PLTE (+ tRNS alpha when present) after unfiltering
        ch = {0: 1, 2: 3, 3: 1, 6: 4}[ctype]
        # allocation guards (r07 review): header dims are unvalidated,
        # and a zlib bomb expands long before the row-length check —
        # cap pixels and bound the inflate to exactly the pixel data
        if w * h > (1 << 24):
            raise ValueError("image too large for the stdlib PNG decoder")
        stride = w * ch
        raw = zlib.decompressobj().decompress(idat, h * (stride + 1))
        del idat
        # a truncated-but-valid-zlib IDAT inflates short; without this
        # check the unfilter loop dies with IndexError instead of the
        # probe contract's ValueError (r07 advice — same contract-escape
        # class as the WAV channels=0 and JPEG bit-reader fixes)
        if len(raw) < h * (stride + 1):
            raise ValueError("truncated PNG pixel data")
        out = bytearray(h * stride)
        prev = bytearray(stride)
        p = 0
        for y in range(h):
            f = raw[p]
            line = bytearray(raw[p + 1 : p + 1 + stride])
            p += 1 + stride
            if f == 1:  # Sub
                for i in range(ch, stride):
                    line[i] = (line[i] + line[i - ch]) & 255
            elif f == 2:  # Up
                for i in range(stride):
                    line[i] = (line[i] + prev[i]) & 255
            elif f == 3:  # Average
                for i in range(stride):
                    a = line[i - ch] if i >= ch else 0
                    line[i] = (line[i] + ((a + prev[i]) >> 1)) & 255
            elif f == 4:  # Paeth
                for i in range(stride):
                    a = line[i - ch] if i >= ch else 0
                    up = prev[i]
                    c = prev[i - ch] if i >= ch else 0
                    pa = abs(up - c)
                    pb = abs(a - c)
                    pc = abs(a + up - 2 * c)
                    pred = (
                        a
                        if pa <= pb and pa <= pc
                        else (up if pb <= pc else c)
                    )
                    line[i] = (line[i] + pred) & 255
            out[y * stride : (y + 1) * stride] = line
            prev = line
        if ctype == 3:
            if plte is None or len(plte) % 3:
                raise ValueError("palette PNG missing/malformed PLTE")
            n_pal = len(plte) // 3
            if max(out) >= n_pal:
                raise ValueError("palette index out of range")
            och = 4 if trns else 3
            mapped = bytearray(w * h * och)
            for i, idx in enumerate(out):
                o = i * och
                mapped[o : o + 3] = plte[idx * 3 : idx * 3 + 3]
                if och == 4:
                    mapped[o + 3] = trns[idx] if idx < len(trns) else 255
            return w, h, och, bytes(mapped)
        return w, h, ch, bytes(out)

    def png_encode(w: int, h: int, ch: int, pix: bytes) -> bytes:
        import struct
        import zlib

        def chunk(typ: bytes, data: bytes) -> bytes:
            body = typ + data
            return (
                struct.pack(">I", len(data))
                + body
                + struct.pack(">I", zlib.crc32(body))
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2, 4: 6}[ch], 0, 0, 0)
        stride = w * ch
        raw = b"".join(
            b"\x00" + bytes(pix[y * stride : (y + 1) * stride])
            for y in range(h)
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    def resize_nearest(
        w: int, h: int, ch: int, pix: bytes, tw: int, th: int
    ) -> bytes:
        out = bytearray(tw * th * ch)
        for y in range(th):
            src_row = (y * h // th) * w * ch
            dst_row = y * tw * ch
            for x in range(tw):
                s = src_row + (x * w // tw) * ch
                out[dst_row + x * ch : dst_row + (x + 1) * ch] = pix[
                    s : s + ch
                ]
        return bytes(out)

    return png_size, png_decode, png_encode, resize_nearest


def decode_image(payload: bytes) -> tuple[int, int]:
    """REAL codec: (width, height) of an image payload.

    Pillow when installed (any format it knows); otherwise the stdlib
    codecs — a real PNG IHDR read, a real JPEG marker walk
    (:func:`.jpeg._stdlib_jpeg_codec`), a real GIF header read
    (:func:`.gif._stdlib_gif_codec`), and a real WebP container walk
    (:func:`.webp._stdlib_webp_codec` — VP8L header, VP8X canvas, or
    lossy VP8 frame header), so the formats a media crawl actually
    contains work in bare containers. Other formats without Pillow
    raise NotImplementedError (the honest seam that remains: AVIF/…
    need a codec library)."""
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]

        return Image.open(io.BytesIO(payload)).size
    except ImportError:
        pass
    if payload[:8] == PNG_MAGIC:
        png_size, *_ = _stdlib_png_codec()
        return png_size(payload)
    if payload[:2] == JPEG_MAGIC:
        jpeg_size, *_ = _stdlib_jpeg_codec()
        return jpeg_size(payload)
    if payload[:4] == GIF_MAGIC:
        gif_size, *_ = _stdlib_gif_codec()
        return gif_size(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        webp_size, *_ = _stdlib_webp_codec()
        return webp_size(payload)
    raise NotImplementedError(
        "non-PNG/JPEG/GIF/WebP image decoding requires Pillow, not "
        "present in this container; use fake_decode for deterministic "
        "testing"
    )


def fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for decode_image: dimensions derived from the
    payload length (mirrorable in the SQL oracle)."""
    n = len(payload)
    return (n % 64 + 16, (n * 7) % 64 + 16)


def attach_fake_payload(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Make a (doc_id, payload binary) frame from documents — the stand-in
    for a real media table (no binary fixture exists).

    fan_out here, not in the decode stage: a real media table arrives in
    many splits and must decode with zero data movement, but this adapter
    feeds from a single-file fixture that would otherwise decode on 1 core.
    """
    return fan_out(docs).select(
        "doc_id", F.encode(F.col(text_col), "UTF-8").alias("payload")
    )


def extract_binary_features(
    media: DataFrame, *, use_fake_codec: bool = True
) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads.

    Yields one output row per input row: byte length, sha256 prefix, and
    decoded dimensions (fake codec unless a real one is wired in).
    """
    # The closure must be fully self-contained: Spark's Python workers
    # unpickle it WITHOUT this package on their sys.path, so referencing
    # module-level functions (pickled by reference) would fail with
    # ModuleNotFoundError on the worker. Locals — including the
    # factory-built stdlib codec functions — pickle by value.
    if use_fake_codec:
        def decode(payload: bytes) -> tuple[int, int]:
            n = len(payload)
            return (n % 64 + 16, (n * 7) % 64 + 16)

        def sniff(payload: bytes) -> str:
            return "image/fake"
    else:
        _png_size, *_ = _stdlib_png_codec()
        _jpeg_size, *_ = _stdlib_jpeg_codec()
        _gif_size, *_ = _stdlib_gif_codec()
        _webp_size, *_ = _stdlib_webp_codec()

        def decode(payload: bytes):
            # QUARANTINE posture, not job death: a 100 TB media crawl
            # always contains truncated/corrupt payloads, and one bad
            # byte string must yield a NULL-featured row (filterable
            # downstream), never fail the task. Unsupported formats
            # (non-PNG/JPEG without Pillow) quarantine the same way.
            try:
                import io

                from PIL import Image  # type: ignore[import-not-found]

                return Image.open(io.BytesIO(payload)).size
            except ImportError:
                pass
            except Exception:
                return None
            try:
                if payload[:8] == b"\x89PNG\r\n\x1a\n":
                    return _png_size(payload)
                if payload[:2] == b"\xff\xd8":
                    return _jpeg_size(payload)
                if payload[:4] == b"GIF8":
                    return _gif_size(payload)
                if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
                    return _webp_size(payload)
            except Exception:
                return None
            return None

        def sniff(payload: bytes) -> str:
            if payload[:8] == b"\x89PNG\r\n\x1a\n":
                return "image/png"
            if payload[:2] == b"\xff\xd8":
                return "image/jpeg"
            if payload[:4] == b"GIF8":
                return "image/gif"
            if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
                return "image/webp"
            return "application/octet-stream"

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib  # stdlib import inside the closure: worker-safe

        for pdf in batches:
            payloads = pdf["payload"]
            # NULL payloads keep their row with NULL features (matching
            # the oracle's octet_length(NULL)/sha256(NULL) semantics)
            # instead of crashing the worker on len(None).
            dims = [None if p is None else decode(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.array(
                        [None if p is None else len(p) for p in payloads],
                        dtype="Int64",
                    ),
                    "sha16": payloads.map(
                        lambda p: None
                        if p is None
                        else hashlib.sha256(p).hexdigest()[:16]
                    ),
                    "width": pd.array(
                        [None if d is None else d[0] for d in dims],
                        dtype="Int32",
                    ),
                    "height": pd.array(
                        [None if d is None else d[1] for d in dims],
                        dtype="Int32",
                    ),
                    "mime": [
                        None if p is None else sniff(p) for p in payloads
                    ],
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


#: Output schema of the frame-sampling stage (1 -> N rows per video).
FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", LongType()),
        StructField("frame_sha16", StringType()),
    ]
)

#: Output schema of the resize stage (payload-in, payload-out).
RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def sample_frames(
    media: DataFrame,
    *,
    frame_bytes: int = 256,
    every_n: int = 2,
    use_fake_codec: bool = True,
) -> DataFrame:
    """Video frame sampling as 1→N ``mapInPandas``: each payload yields one
    output row per SAMPLED frame (every ``every_n``-th), the shape a
    vision-LM data pipeline needs for frame-level captioning/filtering.

    REAL codec (``use_fake_codec=False``): MJPEG-in-AVI payloads walk the
    RIFF container for real (:func:`.video._stdlib_avi_codec`) and every
    ``every_n``-th ``..dc`` frame — an actual baseline JPEG — is emitted
    with its true byte length and sha; payloads the walker can't parse
    (H.264/VP9 in MP4, corrupt bytes) QUARANTINE to zero rows, never a
    task failure. The fake codec (default for the harness entry) treats
    the payload as a concatenation of fixed-size ``frame_bytes`` chunks —
    deterministic and mirrorable in the SQL oracle (harness
    ``multimodal_frame_sample``). Either way the Spark-side contract is
    the same: Arrow batch in, MORE rows out (output row count ≠ input row
    count — the generator-shaped mapInPandas case), map-only,
    partitioning preserved, so a 100 TB video table samples with zero
    data movement.
    """
    fb, step = frame_bytes, every_n
    if not use_fake_codec:
        from .video import _stdlib_avi_codec

        _, _avi_frames, _ = _stdlib_avi_codec()

        def _sample(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            import hashlib

            for pdf in batches:
                ids, idxs, sizes, shas = [], [], [], []
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                    if payload is None:
                        continue
                    try:
                        frames = _avi_frames(bytes(payload))
                    except Exception:
                        continue  # quarantine: unparseable container
                    for k in range(0, len(frames), step):
                        ids.append(doc_id)
                        idxs.append(k)
                        sizes.append(len(frames[k]))
                        shas.append(
                            hashlib.sha256(frames[k]).hexdigest()[:16]
                        )
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype="int64"),
                        "frame_idx": pd.Series(idxs, dtype="int32"),
                        "frame_bytes": pd.Series(sizes, dtype="int64"),
                        "frame_sha16": pd.Series(shas, dtype="object"),
                    }
                )

        return media.mapInPandas(_sample, schema=FRAME_SCHEMA)

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, idxs, sizes, shas = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # NULL payloads (undecodable media) contribute no frames;
                # an EMPTY payload has zero frames, not one — both mirror
                # the harness oracle's generate_series(1, ceil(nb/fb))
                # arithmetic, which emits nothing for nb IN (0, NULL).
                if payload is None:
                    continue
                n_frames = -(-len(payload) // fb)
                for k in range(0, n_frames, step):
                    chunk = payload[k * fb : (k + 1) * fb]
                    ids.append(doc_id)
                    idxs.append(k)
                    sizes.append(len(chunk))
                    shas.append(hashlib.sha256(chunk).hexdigest()[:16])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_bytes": pd.Series(sizes, dtype="int64"),
                    "frame_sha16": pd.Series(shas, dtype="object"),
                }
            )

    return media.mapInPandas(_sample, schema=FRAME_SCHEMA)


def resize_images(
    media: DataFrame,
    *,
    target_w: int = 32,
    target_h: int = 32,
    use_fake_codec: bool = True,
) -> DataFrame:
    """Image resize as payload-in/payload-out ``mapInPandas`` — the
    normalize-before-embed stage of an image pipeline.

    Fake codec (default): the "resized" payload is the input
    cycled/truncated to exactly ``target_w * target_h`` bytes
    (deterministic, size-exact — mirrorable in a SQL oracle). REAL codec
    (``use_fake_codec=False``): Pillow's C-accelerated open/resize/save
    when installed, else the self-contained stdlib PNG codec
    (:func:`_stdlib_png_codec` — full unfilter, nearest-neighbor resize,
    re-encode) plus the stdlib baseline-JPEG decoder
    (:func:`.jpeg._stdlib_jpeg_codec`; JPEG in, PNG out — the stage
    normalizes decoded pixels to PNG, as the Pillow path does), so PNG
    and baseline-JPEG media resize for real even in a bare container.
    Payloads no available codec can handle (corrupt, truncated, or a
    format Pillow would be needed for) are QUARANTINED — the row is
    dropped, never a task failure — matching the module-header posture
    and pinned by ``test_real_path_quarantines_corrupt_payloads``.
    Map-only; output partitioning preserved either way.
    """
    w, h = target_w, target_h
    if use_fake_codec:
        def resize_one(payload: bytes) -> bytes:
            size = w * h
            reps = -(-size // max(len(payload), 1))
            return (payload * reps)[:size]
    else:
        _, _png_decode, _png_encode, _resize_nn = _stdlib_png_codec()
        _, _jpeg_decode, _ = _stdlib_jpeg_codec()
        _, _gif_decode, _ = _stdlib_gif_codec()
        _, _webp_decode, _ = _stdlib_webp_codec()

        def resize_one(payload: bytes) -> bytes:
            try:
                import io

                from PIL import Image  # type: ignore[import-not-found]

                im = Image.open(io.BytesIO(payload)).resize((w, h))
                buf = io.BytesIO()
                im.save(buf, "PNG")
                return buf.getvalue()
            except ImportError:
                pass
            if payload[:2] == b"\xff\xd8":
                # JPEG/GIF/WebP in, PNG out — the stage NORMALIZES to
                # PNG (lossless container for already-decoded pixels),
                # exactly what the Pillow path above emits too
                pw, ph, ch, pix = _jpeg_decode(payload)
            elif payload[:4] == b"GIF8":
                pw, ph, ch, pix = _gif_decode(payload)
            elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
                pw, ph, ch, pix = _webp_decode(payload)
            else:
                pw, ph, ch, pix = _png_decode(payload)
            return _png_encode(w, h, ch, _resize_nn(pw, ph, ch, pix, w, h))

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_payloads, ids = [], []
        for pdf in batches:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # undecodable media: dropped, not crash
                    continue
                try:
                    resized = resize_one(payload)
                except Exception:
                    # corrupt/truncated/unsupported payloads quarantine
                    # (row dropped) — one bad byte string in a media
                    # crawl must never fail the task
                    continue
                out_payloads.append(resized)
                ids.append(doc_id)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series([w] * len(ids), dtype="int32"),
                    "height": pd.Series([h] * len(ids), dtype="int32"),
                    "n_bytes": pd.Series(
                        [len(p) for p in out_payloads], dtype="int64"
                    ),
                    "payload": pd.Series(out_payloads, dtype="object"),
                }
            )
            out_payloads, ids = [], []

    return media.mapInPandas(_resize, schema=RESIZE_SCHEMA)
