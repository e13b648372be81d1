"""Shared planted-family fixture builders for harness gates and bench.

The planted image and MJPEG families were copy-pasted between their
harness gates and their bench sections (two tile copies by round 9) —
drift between a gate's construction and its bench twin would silently
desynchronize what they measure (r09 advice). This module is the ONE
copy of each construction; both sides build their fixtures through it.

Everything here follows the pickle house rule: each builder is a
FACTORY whose product (a plain ``text -> [payload, ...]`` closure)
captures its codec helpers BY VALUE, so a ``mapInPandas`` closure that
captures the product ships self-contained to Spark workers that don't
have this repo on ``sys.path``. The factories themselves run on the
driver only.
"""

from __future__ import annotations


def image_fixture_primitives():
    """Return ``(noise_pix, crop)``: the md5-stream grayscale noise
    plane and the rectangular crop helper the tile families build on."""
    import hashlib

    def noise_pix(seed: bytes, w: int, h: int) -> bytes:
        out = bytearray()
        i = 0
        while len(out) < w * h:
            out += hashlib.md5(seed + i.to_bytes(2, "big")).digest()
            i += 1
        return bytes(out[: w * h])

    def crop(
        pix: bytes, w: int, x0: int, y0: int, cw: int, ch: int
    ) -> bytes:
        return b"".join(
            pix[(y0 + y) * w + x0 : (y0 + y) * w + x0 + cw]
            for y in range(ch)
        )

    return noise_pix, crop


def mjpeg_video_variants():
    """``variant(seed, k) -> bytes``: two MJPEG/AVI containers over the
    SAME deterministic 72x64 noise frames — member 0 carries 5 frames,
    member 1 the first 4 (a frame-SAMPLE variant, not a re-encode: the
    JPEG encoder is deterministic, so shared frames are byte-identical
    and dHash-equal by arithmetic; frame-set overlap = 4/min(5,4) = 1)."""
    import hashlib

    from .multimodal.jpeg import _stdlib_jpeg_codec
    from .multimodal.video import _stdlib_avi_codec

    _, _, _jpeg_enc = _stdlib_jpeg_codec()
    _, _, _avi_enc = _stdlib_avi_codec()

    def noise(seed: bytes, n: int) -> bytes:
        out = bytearray()
        i = 0
        while len(out) < n:
            out += hashlib.md5(seed + i.to_bytes(2, "big")).digest()
            i += 1
        return bytes(out[:n])

    def variant(seed: bytes, k: int) -> bytes:
        frames = [
            _jpeg_enc(72, 64, 1, noise(seed + bytes([fi]), 72 * 64),
                      quality=90)
            for fi in range(5 if k % 2 == 0 else 4)
        ]
        return _avi_enc(frames, fps=10, width=72, height=64)

    return variant


def dhash_family_members():
    """The 3-member dHash IMAGE family: ``members(text) -> [72x64
    block-grid gray PNG, baseline JPEG q90 of the same pixels, GIF of
    the 2x nearest upscale]`` — byte-different, pixel-similar (the
    r06 image_phash_near_dups construction, hoisted for the merged
    multi-variant gate). Horizontally adjacent 8-px blocks sit >= 32
    luma apart so every dHash gradient sign survives JPEG q90 noise."""
    import hashlib

    from .multimodal.binary import _stdlib_png_codec
    from .multimodal.gif import _stdlib_gif_codec
    from .multimodal.jpeg import _stdlib_jpeg_codec

    _, _, _png_enc, _ = _stdlib_png_codec()
    _, _, _jpeg_enc = _stdlib_jpeg_codec()
    _, _, _gif_enc = _stdlib_gif_codec()
    gray_pal = [(i, i, i) for i in range(256)]
    levels = [16, 48, 80, 112, 144, 176, 208, 240]
    gw, gh, blk = 9, 8, 8

    def base_pixels(seed: bytes) -> bytes:
        vals = []
        for r in range(gh):
            row = []
            for c in range(gw):
                hv = hashlib.md5(seed + bytes([r, c])).digest()[0]
                v = levels[hv % 8]
                if c > 0 and v == row[-1]:
                    v = levels[(hv % 8 + 1) % 8]
                row.append(v)
            vals.append(row)
        pix = bytearray()
        for r in range(gh):
            rowbytes = bytearray()
            for c in range(gw):
                rowbytes += bytes([vals[r][c]]) * blk
            pix += bytes(rowbytes) * blk
        return bytes(pix)

    def upscale2(pix: bytes, w: int, h: int) -> bytes:
        out = bytearray()
        for y in range(h):
            d = bytearray()
            for v in pix[y * w : (y + 1) * w]:
                d += bytes([v, v])
            out += d + d
        return bytes(out)

    def members(text: str) -> list[bytes]:
        seed = hashlib.md5(text.encode("utf-8")).digest()
        pix = base_pixels(seed)
        w, h = gw * blk, gh * blk
        return [
            _png_enc(w, h, 1, pix),
            _jpeg_enc(w, h, 1, pix, quality=90),
            _gif_enc(2 * w, 2 * h, upscale2(pix, w, h), gray_pal),
        ]

    return members


def dct_family_members():
    """The 3-member DCT-pHash IMAGE family: ``members(text) -> [32x32
    gray PNG, GIF palette re-encode of the identical pixels, PNG of
    the 2x nearest upscale]`` — all three hash IDENTICALLY under the
    32x32-grid DCT pHash by arithmetic (a k-times-integer upscale of a
    grid-sized image area-averages back to the same raster). Hoisted
    from the r07 image_phash_dct_near_dups gate for the merged
    multi-variant gate."""
    import hashlib

    from .multimodal.binary import _stdlib_png_codec
    from .multimodal.gif import _stdlib_gif_codec

    _, _, _png_enc, _ = _stdlib_png_codec()
    _, _, _gif_enc = _stdlib_gif_codec()
    gray_pal = [(i, i, i) for i in range(256)]

    def base32(seed: bytes) -> bytes:
        out = bytearray()
        i = 0
        while len(out) < 32 * 32:
            out += hashlib.md5(seed + bytes([i])).digest()
            i += 1
        return bytes(out[: 32 * 32])

    def up2(pix: bytes, w: int, h: int) -> bytes:
        o = bytearray()
        for y in range(h):
            d = bytearray()
            for v in pix[y * w : (y + 1) * w]:
                d += bytes([v, v])
            o += d + d
        return bytes(o)

    def members(text: str) -> list[bytes]:
        pix = base32(hashlib.md5(text.encode("utf-8")).digest())
        return [
            _png_enc(32, 32, 1, pix),
            _gif_enc(32, 32, pix, gray_pal),
            _png_enc(64, 64, 1, up2(pix, 32, 32)),
        ]

    return members


def tile_crop_family_members(crop_x: int = 32, crop_y: int = 32):
    """The 3-member TILE-CROP family: ``members(text) -> [128x128 gray
    PNG, PNG of its 96x96 interior crop at (crop_x, crop_y), GIF
    re-encode of the same crop]``.

    With the default (32, 32) offset the crop is TILE-ALIGNED for the
    32-px tile grid, so its surviving tiles are byte-identical to the
    original's interior tiles (the image_tile_crop_near_dups gate);
    (16, 16) makes it HALF-tile-aligned — off the base grid but exactly
    on the tile/2 offset phase, the two-phase gate's construction;
    (17, 23) is off BOTH phases in both axes — the case the phase-grid
    tier pins as honest degradation and the row-CDC tier
    (image_cdc_crop_near_dups gate) recovers at any offset."""
    import hashlib

    from .multimodal.binary import _stdlib_png_codec
    from .multimodal.gif import _stdlib_gif_codec

    _, _, _png_enc, _ = _stdlib_png_codec()
    _, _, _gif_enc = _stdlib_gif_codec()
    noise_pix, crop = image_fixture_primitives()
    gray_pal = [(i, i, i) for i in range(256)]
    cx, cy = crop_x, crop_y

    def members(text: str) -> list[bytes]:
        pix = noise_pix(
            hashlib.md5(text.encode("utf-8")).digest(), 128, 128
        )
        cr = crop(pix, 128, cx, cy, 96, 96)
        return [
            _png_enc(128, 128, 1, pix),
            _png_enc(96, 96, 1, cr),
            _gif_enc(96, 96, cr, gray_pal),
        ]

    return members


def mirror_family_members():
    """The 3-member MIRROR-REPOST family: ``members(text) -> [32x32
    gray PNG, PNG of its left-right mirror, GIF palette re-encode of
    the mirror]``.

    A horizontal mirror is the common social-media repost transform;
    members (b) and (c) decode to the IDENTICAL flipped luma plane, so
    they hash equal under ANY kernel, while (a) matches them only
    through the mirror-canonical signature (min of hash and
    flipped-hash — exact collapse BY ARITHMETIC). The
    image_mirror_canonical_near_dups gate's construction; its 'plain'
    variant row pins the 1-pair-per-family gap the option closes."""
    import hashlib

    from .multimodal.binary import _stdlib_png_codec
    from .multimodal.gif import _stdlib_gif_codec

    _, _, _png_enc, _ = _stdlib_png_codec()
    _, _, _gif_enc = _stdlib_gif_codec()
    noise_pix, _ = image_fixture_primitives()
    gray_pal = [(i, i, i) for i in range(256)]

    def members(text: str) -> list[bytes]:
        pix = noise_pix(
            hashlib.md5(text.encode("utf-8")).digest(), 32, 32
        )
        mir = b"".join(
            pix[y * 32 : (y + 1) * 32][::-1] for y in range(32)
        )
        return [
            _png_enc(32, 32, 1, pix),
            _png_enc(32, 32, 1, mir),
            _gif_enc(32, 32, mir, gray_pal),
        ]

    return members


def mjpeg_cdc_crop_family_members(
    crop_x: int = 8, crop_y: int = 24, n_frames: int = 3
):
    """The 2-member CROPPED-VIDEO family for the per-frame row-CDC tier:
    ``members(text) -> [96x64 3-frame MJPEG/AVI, the SAME footage
    cropped to 80x32 at (crop_x, crop_y)]``.

    The default (8, 24) offset is OFF both 32-px tile phases in BOTH
    axes (the tile lattice's honest-degradation case, same construction
    as the image tier's (17, 23)) but ON the JPEG 8-px MCU grid — the
    only crops of a LOSSY-frame video that CAN be pixel-exact: JPEG
    processes 8x8 blocks independently, so every frame here is built
    from per-block q90 ROUNDTRIP FIXED POINTS (md5-noise blocks
    iterated through encode∘decode until stable, salt-retried on the
    rare cycle) — the full frame then decodes to exactly its own
    pixels, and any MCU-aligned crop of those pixels re-encodes
    byte-exactly. Measured across 12 seeds at these dims: worst
    within-family row-CDC overlap 0.78, cross-family 0.0 (threshold
    0.5 sits far from both). Truly off-MCU crops of lossy video are
    quantization-divergent by construction — pinned OUT OF SCOPE in
    :func:`..multimodal.phash.video_cdc_crop_near_dup_pairs`."""
    import hashlib

    from .multimodal.jpeg import _stdlib_jpeg_codec
    from .multimodal.video import _stdlib_avi_codec

    _, _jpeg_dec, _jpeg_enc = _stdlib_jpeg_codec()
    _, _, _avi_enc = _stdlib_avi_codec()
    gw, gh = 12, 8  # 8x8 blocks -> 96x64 frames
    cw, ch = 80, 32

    def fixed_block(seed: bytes) -> bytes:
        for salt in range(16):
            b = b"".join(
                hashlib.md5(seed + bytes([salt, j])).digest()
                for j in range(4)
            )
            for _ in range(8):
                _, _, _, q = _jpeg_dec(_jpeg_enc(8, 8, 1, b, quality=90))
                if q == b:
                    return b
                b = q
        raise RuntimeError("no q90 fixed point within salt budget")

    def frame_pixels(seed: bytes) -> bytes:
        blocks = [
            [fixed_block(seed + bytes([r, c])) for c in range(gw)]
            for r in range(gh)
        ]
        pix = bytearray()
        for r in range(gh):
            for y in range(8):
                for c in range(gw):
                    pix += blocks[r][c][y * 8 : (y + 1) * 8]
        return bytes(pix)

    def crop(pix: bytes, w: int) -> bytes:
        return b"".join(
            pix[(crop_y + y) * w + crop_x : (crop_y + y) * w + crop_x + cw]
            for y in range(ch)
        )

    def members(text: str) -> list[bytes]:
        seed = hashlib.md5(text.encode("utf-8")).digest()
        full, cropped = [], []
        for fi in range(n_frames):
            pix = frame_pixels(seed + bytes([fi]))
            full.append(_jpeg_enc(gw * 8, gh * 8, 1, pix, quality=90))
            cropped.append(
                _jpeg_enc(cw, ch, 1, crop(pix, gw * 8), quality=90)
            )
        return [
            _avi_enc(full, fps=10, width=gw * 8, height=gh * 8),
            _avi_enc(cropped, fps=10, width=cw, height=ch),
        ]

    return members
