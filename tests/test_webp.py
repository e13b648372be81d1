"""Stdlib WebP (VP8L lossless) codec tests — the fourth real image
format. Round trips pin the encoder+decoder pair; HAND-BUILT bitstreams
pin the decoder paths the literals-only encoder cannot emit (transforms,
color cache, LZ77 backward references, meta prefix groups), the same
strategy as the 4:2:0 hand-built JPEG test."""

from __future__ import annotations

import pytest

from airflow_etl_finance_market_spark.multimodal.webp import (
    _stdlib_webp_codec,
)


def _codec():
    return _stdlib_webp_codec()


def _pix(w, h, ch, seed):
    out, x = bytearray(), seed
    for _ in range(w * h * ch):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        out.append((x >> 16) & 0xFF)
    return bytes(out)


class _W:
    """LSB-first bit writer for hand-built VP8L streams."""

    def __init__(self):
        self.out, self.acc, self.n = bytearray(), 0, 0

    def b(self, v, n):
        self.acc |= (v & ((1 << n) - 1)) << self.n
        self.n += n
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def code(self, c, ln):  # prefix-code bits: MSB of the code first
        for i in range(ln - 1, -1, -1):
            self.b((c >> i) & 1, 1)

    def simple1(self, sym):  # single-symbol prefix code
        self.b(1, 1)
        self.b(0, 1)  # num_symbols - 1 = 0
        if sym > 1:
            self.b(1, 1)
            self.b(sym, 8)
        else:
            self.b(0, 1)
            self.b(sym, 1)

    def simple2(self, s0, s1):  # two symbols, codes 0/1 in listed order
        self.b(1, 1)
        self.b(1, 1)
        if s0 > 1:
            self.b(1, 1)
            self.b(s0, 8)
        else:
            self.b(0, 1)
            self.b(s0, 1)
        self.b(s1, 8)

    def normal_code(self, lengths: dict[int, int], alphabet_size: int):
        """Normal-path transmission: balanced CLC over the used length
        values, literal lengths up to max_symbol."""
        order = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12,
                 13, 14, 15)
        max_sym = max(lengths) + 1
        lens = [lengths.get(s, 0) for s in range(max_sym)]
        used = sorted(set(lens))
        if len(used) == 1:
            used = sorted({used[0], 0 if used[0] else 1})
        big = max(1, (len(used) - 1).bit_length())
        k = (1 << big) - len(used)
        clc_len = {
            s: (big - 1 if i < k else big) for i, s in enumerate(used)
        }
        clc_codes = {}
        codev, prev = 0, 0
        for ln, s in sorted((ln, s) for s, ln in clc_len.items()):
            codev <<= ln - prev
            prev = ln
            clc_codes[s] = (codev, ln)
            codev += 1
        self.b(0, 1)  # normal
        self.b(15, 4)  # 19 CLC entries
        for sym in order:
            self.b(clc_len.get(sym, 0), 3)
        nbits = 2
        while (1 << nbits) < max_sym - 1:
            nbits += 2
        self.b(1, 1)  # use max_symbol
        self.b((nbits - 2) // 2, 3)
        self.b(max_sym - 2, nbits)
        for ln in lens:
            c, cl = clc_codes[ln]
            self.code(c, cl)

    def vp8l(self, w, h):
        out = _W()
        out.b(0x2F, 8)
        out.b(w - 1, 14)
        out.b(h - 1, 14)
        out.b(0, 1)
        out.b(0, 3)
        return out

    def container(self):
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc, self.n = 0, 0
        payload = bytes(self.out)
        padded = payload + (b"\x00" if len(payload) & 1 else b"")
        chunk = b"VP8L" + len(payload).to_bytes(4, "little") + padded
        return (
            b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP"
            + chunk
        )


def _literal_group(bw, pixels):
    """Write 5 simple codes for a fixed-pixel group, then nothing per
    pixel (all single-symbol); pixels = one (a, r, g, b)."""
    a, r, g, b = pixels
    bw.simple1(g)  # green
    bw.simple1(r)
    bw.simple1(b)
    bw.simple1(a)
    bw.simple1(0)  # distance (unused)


class TestRoundTrip:
    def test_lossless_all_channel_counts(self):
        ws, wd, we = _codec()
        for (w, h, ch) in [(1, 1, 3), (8, 5, 3), (17, 9, 4), (32, 32, 3),
                           (3, 40, 1)]:
            p = _pix(w, h, ch, w * h + ch)
            b = we(w, h, ch, p)
            assert b[:4] == b"RIFF" and b[8:12] == b"WEBP"
            assert ws(b) == (w, h)
            dw, dh, dch, out = wd(b)
            if ch == 1:
                assert (dw, dh, dch) == (w, h, 3)
                assert out == bytes(v for px in p for v in (px, px, px))
            else:
                assert (dw, dh, dch, out) == (w, h, ch, p)

    def test_flat_and_two_value_images_use_degenerate_codes(self):
        _, wd, we = _codec()
        flat = bytes([7, 99, 200]) * 100
        assert wd(we(10, 10, 3, flat)) == (10, 10, 3, flat)
        two = bytes((i % 2) * 255 for i in range(12 * 7 * 3))
        assert wd(we(12, 7, 3, two)) == (12, 7, 3, two)

    def test_truncation_refuses(self):
        _, wd, we = _codec()
        full = we(20, 20, 3, _pix(20, 20, 3, 5))
        for cut in (3, 10, len(full) // 2, len(full) - 1):
            with pytest.raises(ValueError):
                wd(full[:cut])

    def test_lossy_vp8_sizes_but_quarantines_decode(self):
        ws, wd, _ = _codec()
        p = (
            bytes(3) + b"\x9d\x01\x2a"
            + (63).to_bytes(2, "little") + (47).to_bytes(2, "little")
        )
        vp8 = (
            b"RIFF" + (4 + 8 + len(p)).to_bytes(4, "little") + b"WEBP"
            + b"VP8 " + len(p).to_bytes(4, "little") + p
        )
        assert ws(vp8) == (63, 47)
        with pytest.raises(NotImplementedError):
            wd(vp8)

    def test_vp8x_canvas_size(self):
        ws, _, _ = _codec()
        vp8x = (
            b"RIFF" + (22).to_bytes(4, "little") + b"WEBP"
            + b"VP8X" + (10).to_bytes(4, "little")
            + bytes(4) + (639).to_bytes(3, "little")
            + (479).to_bytes(3, "little")
        )
        assert ws(vp8x) == (640, 480)


class TestHandBuiltStreams:
    """Decoder-only paths, hand-assembled and hand-predicted."""

    def test_subtract_green_transform(self):
        _, wd, _ = _codec()
        bw = _W().vp8l(2, 1)
        bw.b(1, 1)  # transform present
        bw.b(2, 2)  # SUBTRACT_GREEN
        bw.b(0, 1)  # no more transforms
        bw.b(0, 1)  # no cache
        bw.b(0, 1)  # no meta
        _literal_group(bw, (255, 10, 100, 20))  # residuals
        # r = 10+100, b = 20+100
        assert wd(bw.container()) == (2, 1, 3, bytes([110, 100, 120] * 2))

    def test_color_indexing_with_bundling_rgba(self):
        _, wd, _ = _codec()
        bw = _W().vp8l(8, 1)
        bw.b(1, 1)
        bw.b(3, 2)  # COLOR_INDEXING
        bw.b(1, 8)  # palette_size - 1 = 1 (2 colors -> 1-bit bundling)
        # palette sub-image (2x1), delta coded: c0, then c1 - c0
        bw.b(0, 1)  # no cache (sub-image)
        c0 = (255, 10, 20, 30)  # (a, r, g, b)
        d1 = (100, 50, 60, 70)  # c1 = c0 + d1 = (99, 60, 80, 100)
        bw.simple2(c0[2], d1[2])  # greens: 20 -> code 0, 60 -> code 1
        bw.simple2(c0[1], d1[1])  # reds: 10, 50
        bw.simple2(c0[3], d1[3])  # blues: 30, 70
        bw.simple2(d1[0], c0[0])  # alphas: 100 -> code 0, 255 -> code 1
        bw.simple1(0)  # distance
        # two palette pixels: per-channel codes for (c0, d1)
        for bit in (0, 0, 0, 1):  # pixel 0 = c0: g,r,b code 0; a code 1
            bw.b(bit, 1)
        for bit in (1, 1, 1, 0):  # pixel 1 = d1
            bw.b(bit, 1)
        bw.b(0, 1)  # end of transforms
        # entropy image: packed width ceil(8/8) = 1 pixel; indices in
        # the green channel, LSB = leftmost pixel: 0b10110010 ->
        # [0,1,0,0,1,1,0,1]
        bw.b(0, 1)  # no cache
        bw.b(0, 1)  # no meta
        _literal_group(bw, (255, 0, 0b10110010, 0))
        w, h, ch, out = wd(bw.container())
        assert (w, h, ch) == (8, 1, 4)  # alpha 99 in palette -> RGBA
        pal = [(10, 20, 30, 255), (60, 80, 100, 99)]
        idx = [0, 1, 0, 0, 1, 1, 0, 1]
        assert out == bytes(v for i in idx for v in pal[i])

    def test_color_indexing_rgb_output(self):
        # same as above but checked precisely via the 3-channel path
        _, wd, _ = _codec()
        bw = _W().vp8l(8, 1)
        bw.b(1, 1)
        bw.b(3, 2)
        bw.b(1, 8)
        bw.b(0, 1)
        bw.simple2(20, 60)   # greens of (c0, delta1)
        bw.simple2(10, 50)   # reds
        bw.simple2(30, 70)   # blues
        bw.simple2(255, 0)   # alphas: c0 = 255, delta1 = 0 (stays 255)
        bw.simple1(0)
        for _ in range(4):   # pixel 0: g,r,b,a codes 0
            bw.b(0, 1)
        for _ in range(4):   # pixel 1: codes 1
            bw.b(1, 1)
        bw.b(0, 1)  # end of transforms
        bw.b(0, 1)  # no cache
        bw.b(0, 1)  # no meta
        _literal_group(bw, (255, 0, 0b10110010, 0))
        pal = [(10, 20, 30), (60, 80, 100)]
        idx = [0, 1, 0, 0, 1, 1, 0, 1]
        exp = bytes(v for i in idx for v in pal[i])
        assert wd(bw.container()) == (8, 1, 3, exp)

    def test_predictor_transform_mode_top(self):
        """2x2 image under one predictor tile with mode 2 (top).
        Residual pixels (a, r, g, b):
          p0 = (0,10,20,30)  pred = ARGB_BLACK -> final (255,10,20,30)
          p1 = (0,1,2,3)     first row -> pred = L -> (255,11,22,33)
          p2 = (0,5,5,5)     first col -> pred = T -> (255,15,25,35)
          p3 = (0,1,1,1)     mode 2 -> pred = T = p1 -> (255,12,23,34)
        """
        _, wd, _ = _codec()
        bw2 = _W().vp8l(2, 2)
        bw2.b(1, 1)
        bw2.b(0, 2)
        bw2.b(2, 3)
        bw2.b(0, 1)  # no cache (sub-image)
        _literal_group(bw2, (255, 0, 2, 0))
        bw2.b(0, 1)  # end of transforms
        bw2.b(0, 1)  # no cache
        bw2.b(0, 1)  # no meta
        greens = [20, 2, 5, 1]
        reds = [10, 1, 5, 1]
        blues = [30, 3, 5, 1]
        # lengths must form COMPLETE codes (Kraft sum = 1): 4 distinct
        # values -> all at 2 bits; 3 distinct -> one at 1 + two at 2
        g_len = {s: 2 for s in sorted(set(greens))}
        r_len = {1: 1, 5: 2, 10: 2}
        b_len = {s: 2 for s in sorted(set(blues))}
        bw2.normal_code(g_len, 256 + 24)
        bw2.normal_code(r_len, 256)
        bw2.normal_code(b_len, 256)
        bw2.simple1(0)  # alpha residual always 0
        bw2.simple1(0)  # distance

        def canon(lengths):
            out, codev, prev = {}, 0, 0
            for ln, s in sorted((ln, s) for s, ln in lengths.items()):
                codev <<= ln - prev
                prev = ln
                out[s] = (codev, ln)
                codev += 1
            return out

        gc, rc, bc = canon(g_len), canon(r_len), canon(b_len)
        for g, r, b in zip(greens, reds, blues):
            bw2.code(*gc[g])
            bw2.code(*rc[r])
            bw2.code(*bc[b])
        w, h, ch, out = wd(bw2.container())
        assert (w, h, ch) == (2, 2, 3)
        # hand-applied inverse: p0 += BLACK; p1 += p0; p2 += p0 (top);
        # p3 += p1 (mode 2 = top)
        exp = [
            (10, 20, 30),
            (11, 22, 33),
            (15, 25, 35),
            (12, 23, 34),
        ]
        assert out == bytes(v for p in exp for v in p)

    def test_color_transform_inverse(self):
        _, wd, _ = _codec()
        bw = _W().vp8l(1, 1)
        bw.b(1, 1)
        bw.b(1, 2)  # COLOR transform
        bw.b(2, 3)  # size_bits 4, 1 tile
        bw.b(0, 1)  # no cache (sub-image)
        # cte pixel: green_to_red in BLUE channel = 32 (delta g>>0:
        # (32 * 64) >> 5 = 64), green_to_blue in GREEN = 0, red_to_blue
        # in RED = 0
        _literal_group(bw, (255, 0, 0, 32))
        bw.b(0, 1)  # end of transforms
        bw.b(0, 1)  # no cache
        bw.b(0, 1)  # no meta
        # residual pixel: g = 64, r = 10, b = 20; a = 255
        _literal_group(bw, (255, 10, 64, 20))
        # r_final = 10 + ((32*64)>>5) = 10 + 64 = 74; b_final = 20
        assert wd(bw.container()) == (1, 1, 3, bytes([74, 64, 20]))

    def test_lz77_backref_and_color_cache(self):
        _, wd, _ = _codec()
        bw = _W().vp8l(6, 1)
        bw.b(0, 1)  # no transforms
        bw.b(1, 1)  # color cache present
        bw.b(1, 4)  # cache_bits = 1 (2 slots)
        bw.b(0, 1)  # no meta
        # green alphabet: literal 50, length-code 256+2 (length 3),
        # cache ref 256+24+idx — idx of pixel (255,7,50,9):
        px = (255 << 24) | (7 << 16) | (50 << 8) | 9
        idx = ((0x1E35A7BD * px) & 0xFFFFFFFF) >> 31
        # complete code: 1 + 2 + 2 bits (Kraft sum exactly 1)
        g_len = {50: 1, 256 + 2: 2, 256 + 24 + idx: 2}
        bw.normal_code(g_len, 256 + 24 + 2)
        bw.simple1(7)    # red
        bw.simple1(9)    # blue
        bw.simple1(255)  # alpha
        # distance: plain dist 1 -> dist_code 121 -> prefix code 13
        # with 5 extra bits of value 24
        bw.simple1(13)

        def canon(lengths):
            out, codev, prev = {}, 0, 0
            for ln, s in sorted((ln, s) for s, ln in lengths.items()):
                codev <<= ln - prev
                prev = ln
                out[s] = (codev, ln)
                codev += 1
            return out

        gc = canon(g_len)
        bw.code(*gc[50])            # literal pixel
        bw.code(*gc[256 + 2])       # backref: length 3 ...
        bw.b(24, 5)                 # ... distance extra bits (=121)
        bw.code(*gc[256 + 24 + idx])  # cache hit
        bw.code(*gc[50])            # one more literal
        out = wd(bw.container())
        assert out == (6, 1, 3, bytes([7, 50, 9]) * 6)

    def test_incomplete_prefix_code_refuses(self):
        """A stream transmitting a non-complete prefix code (Kraft sum
        != 1 — 3 symbols all at 2 bits) is corrupt and must refuse, not
        decode garbage pixels (libwebp rejects these too)."""
        _, wd, _ = _codec()
        bw = _W().vp8l(2, 1)
        bw.b(0, 1)  # no transforms
        bw.b(0, 1)  # no cache
        bw.b(0, 1)  # no meta
        bw.normal_code({10: 2, 20: 2, 30: 2}, 256 + 24)  # Kraft = 3/4
        with pytest.raises(ValueError, match="prefix code"):
            wd(bw.container())

    def test_meta_prefix_groups(self):
        _, wd, _ = _codec()
        bw = _W().vp8l(8, 1)
        bw.b(0, 1)  # no transforms
        bw.b(0, 1)  # no cache
        bw.b(1, 1)  # meta prefix codes present
        bw.b(0, 3)  # meta_bits - 2 = 0 -> tiles of 4 px -> 2x1 image
        # meta sub-image: group ids 0, 1 in (r<<8)|g
        bw.b(0, 1)  # no cache
        bw.simple2(0, 1)  # greens 0,1
        bw.simple1(0)  # red
        bw.simple1(0)  # blue
        bw.simple1(255)  # alpha
        bw.simple1(0)  # distance
        bw.b(0, 1)  # meta pixel 0: green code 0
        bw.b(1, 1)  # meta pixel 1: green code 1
        # group 0: fixed color A; group 1: fixed color B
        _literal_group(bw, (255, 1, 2, 3))
        _literal_group(bw, (255, 9, 8, 7))
        out = wd(bw.container())
        assert out == (
            8, 1, 3, bytes([1, 2, 3]) * 4 + bytes([9, 8, 7]) * 4
        )


class TestSparkIntegration:
    def test_real_features_resize_and_dhash_on_webp(self, spark):
        """WebP payloads flow through the real Spark frame paths:
        features (dims + mime) and resize (PNG out, pixel-identical to
        the same pixels sent as PNG)."""
        from airflow_etl_finance_market_spark.multimodal.binary import (
            _stdlib_png_codec,
            decode_image,
            extract_binary_features,
            resize_images,
        )

        _, _, we = _codec()
        _, png_dec, png_enc, _ = _stdlib_png_codec()
        w, h = 24, 16
        pix = bytes(
            (x * 11 + y * 3) % 256
            for y in range(h)
            for x in range(w)
            for _ in range(3)
        )
        webp = we(w, h, 3, pix)
        png = png_enc(w, h, 3, pix)
        assert decode_image(webp) == (w, h)
        media = spark.createDataFrame(
            [(1, bytearray(webp)), (2, bytearray(png)),
             (3, bytearray(webp[:11]))],
            "doc_id long, payload binary",
        )
        feats = {
            r.doc_id: (r.width, r.height, r.mime)
            for r in extract_binary_features(
                media, use_fake_codec=False
            ).collect()
        }
        assert feats[1] == (w, h, "image/webp")
        assert feats[2] == (w, h, "image/png")
        assert feats[3][0] is None  # truncated RIFF quarantines dims
        resized = {
            r.doc_id: r.payload
            for r in resize_images(media, use_fake_codec=False).collect()
        }
        assert set(resized) == {1, 2}  # truncated row dropped
        # lossless both ways -> identical resized pixels
        assert png_dec(bytes(resized[1])) == png_dec(bytes(resized[2]))
