"""Baseline JPEG codec (operators/jpeg.py) — VERDICT r11 missing #2.

The codec is lossy, so general round-trips cannot byte-compare; the
pins are instead:
  (a) ENTROPY-LAYER BIT-EXACTNESS: decode(encode(img)) must equal an
      independent dct->quant->dequant->idct numpy pipeline EXACTLY —
      any Huffman/marker/byte-stuffing/DC-diff defect breaks it;
  (b) constant even-valued blocks at quality 50 are exactly lossless
      (the property the graded mm_decode_jpeg oracle replays);
  (c) 4:2:0 subsampling, restart intervals, odd-size padding;
  (d) the honest NotImplementedError dispatch gates.
"""

from __future__ import annotations

import numpy as np
import pytest

from lswms_forage_etl_spark.operators.jpeg import (
    AC_CHROMA_BITS, AC_CHROMA_VALS, AC_LUMA_BITS, AC_LUMA_VALS,
    DC_CHROMA_BITS, DC_CHROMA_VALS, DC_LUMA_BITS, DC_LUMA_VALS,
    _canonical_codes, _pad_to, _rgb_to_ycbcr, dequant_idct, encode_jpeg,
    fdct_quant, parse_jpeg, quant_tables)


def _ref_gray(img: np.ndarray, quality: int) -> np.ndarray:
    """Independent per-block dct->quant->dequant->idct reference (no
    entropy coding, no markers)."""
    ql, _ = quant_tables(quality)
    hh, ww = img.shape
    ph, pw = (hh + 7) // 8 * 8, (ww + 7) // 8 * 8
    p = _pad_to(img.astype(np.float64), ph, pw)
    out = np.zeros((ph, pw), dtype=np.uint8)
    for y in range(0, ph, 8):
        for x in range(0, pw, 8):
            out[y:y + 8, x:x + 8] = dequant_idct(
                fdct_quant(p[y:y + 8, x:x + 8], ql), ql)
    return out[:hh, :ww]


def test_gray_entropy_layer_bit_exact_all_qualities():
    rng = np.random.RandomState(7)
    for quality in (10, 50, 75, 90, 100):
        img = rng.randint(0, 256, (21, 35), dtype=np.uint8)  # pads to 24x40
        w, h, pix = parse_jpeg(encode_jpeg(img, quality=quality))
        assert (w, h) == (35, 21)
        assert np.array_equal(pix.reshape(21, 35),
                              _ref_gray(img, quality)), quality


def test_constant_even_blocks_lossless_at_q50():
    """The graded-query property: even block values, quality 50 ->
    decode returns the source raster exactly (incl. clip at 254)."""
    v = np.arange(0, 256, 2, dtype=np.uint8)          # every even value
    img = np.repeat(np.repeat(v.reshape(4, 32), 8, 0), 8, 1)  # 32x256
    w, h, pix = parse_jpeg(encode_jpeg(img, quality=50))
    assert (w, h) == (256, 32)
    assert np.array_equal(pix, img.reshape(-1))


def test_rgb_444_and_420_decode_close_and_dims_exact():
    rng = np.random.RandomState(11)
    base = rng.randint(0, 64, (18, 26, 3), dtype=np.uint8) + 96
    for sub, tol in (("444", 8.0), ("420", 14.0)):
        w, h, pix = parse_jpeg(
            encode_jpeg(base, quality=90, subsampling=sub))
        assert (w, h) == (26, 18)
        err = np.abs(pix.reshape(18, 26, 3).astype(int)
                     - base.astype(int)).mean()
        assert err < tol, (sub, err)


def test_rgb_444_entropy_layer_bit_exact():
    """3-component interleave: decode must equal the independent
    per-plane reference pipeline run on the SAME YCbCr planes."""
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (16, 24, 3), dtype=np.uint8)
    ycc = _rgb_to_ycbcr(img)
    ql, qc = quant_tables(75)
    ref_planes = []
    for ci in range(3):
        q = ql if ci == 0 else qc
        plane = ycc[..., ci].astype(np.float64)
        out = np.zeros((16, 24), dtype=np.uint8)
        for y in range(0, 16, 8):
            for x in range(0, 24, 8):
                out[y:y + 8, x:x + 8] = dequant_idct(
                    fdct_quant(plane[y:y + 8, x:x + 8], q), q)
        ref_planes.append(out.astype(np.float64))
    y, cb, cr = ref_planes
    r = np.clip(np.floor(y + 1.402 * (cr - 128) + 0.5), 0, 255)
    g = np.clip(np.floor(y - 0.344136 * (cb - 128)
                         - 0.714136 * (cr - 128) + 0.5), 0, 255)
    b = np.clip(np.floor(y + 1.772 * (cb - 128) + 0.5), 0, 255)
    ref = np.stack([r, g, b], axis=-1).astype(np.uint8)
    w, h, pix = parse_jpeg(encode_jpeg(img, quality=75))
    assert np.array_equal(pix.reshape(16, 24, 3), ref)


def test_restart_intervals_do_not_change_pixels():
    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (24, 64), dtype=np.uint8)
    plain = parse_jpeg(encode_jpeg(img, quality=75))[2]
    for ri in (1, 3, 7):
        with_rst = parse_jpeg(
            encode_jpeg(img, quality=75, restart_interval=ri))[2]
        assert np.array_equal(plain, with_rst), ri
    # and the stream really contains RSTn markers
    buf = encode_jpeg(img, quality=75, restart_interval=1)
    assert any(buf[i] == 0xFF and 0xD0 <= buf[i + 1] <= 0xD7
               for i in range(len(buf) - 1))


def test_rgb_420_odd_dims_pad_and_crop():
    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, (9, 13, 3), dtype=np.uint8)  # MCU pads to 16x16
    w, h, pix = parse_jpeg(encode_jpeg(img, quality=85, subsampling="420"))
    assert (w, h) == (13, 9)
    assert pix.shape == (9 * 13 * 3,)


def test_dispatch_gates_raise():
    # lossless SOF3 (progressive SOF2 is SUPPORTED since round 12)
    with pytest.raises(NotImplementedError, match="lossless"):
        parse_jpeg(b"\xff\xd8\xff\xc3\x00\x0b" + bytes(9) + b"\xff\xd9")
    # arithmetic SOF9
    with pytest.raises(NotImplementedError):
        parse_jpeg(b"\xff\xd8\xff\xc9\x00\x0b" + bytes(9) + b"\xff\xd9")
    # 12-bit precision
    body = bytes([12]) + (16).to_bytes(2, "big") + (16).to_bytes(2, "big") \
        + bytes([1, 1, 0x11, 0])
    with pytest.raises(NotImplementedError, match="12-bit"):
        parse_jpeg(b"\xff\xd8\xff\xc0"
                   + (len(body) + 2).to_bytes(2, "big") + body
                   + b"\xff\xd9")
    # not a JPEG at all
    with pytest.raises(ValueError):
        parse_jpeg(b"GIF89a")


def test_standard_huffman_tables_are_canonical_and_complete():
    for bits, vals, n in [(DC_LUMA_BITS, DC_LUMA_VALS, 12),
                          (DC_CHROMA_BITS, DC_CHROMA_VALS, 12),
                          (AC_LUMA_BITS, AC_LUMA_VALS, 162),
                          (AC_CHROMA_BITS, AC_CHROMA_VALS, 162)]:
        assert sum(bits) == len(vals) == n
        codes = _canonical_codes(bits, vals)
        # prefix-free: no code is a prefix of a longer one
        as_str = {format(c, f"0{ln}b") for c, ln in codes.values()}
        assert len(as_str) == n
        for a in as_str:
            for b in as_str:
                if a != b:
                    assert not b.startswith(a)


def test_byte_stuffing_round_trips():
    """An image engineered to produce 0xFF bytes in the entropy stream
    must survive stuffing/unstuffing (all-255 blocks give large DC
    codes and long 1-runs)."""
    img = np.full((8, 64), 255, dtype=np.uint8)
    img[:, ::2] = 0  # alternating columns -> dense AC activity
    w, h, pix = parse_jpeg(encode_jpeg(img, quality=95))
    assert np.array_equal(pix.reshape(8, 64), _ref_gray(img, 95))


def test_decode_image_bytes_dispatches_jpeg(spark):
    from lswms_forage_etl_spark.operators.multimodal import (
        decode_image_bytes, decode_media, synth_jpeg_media)
    img = np.repeat(np.repeat(
        np.array([[10, 20], [30, 40]], dtype=np.uint8), 8, 0), 8, 1)
    w, h, pix = decode_image_bytes(encode_jpeg(img, quality=50))
    assert (w, h) == (16, 16)
    assert np.array_equal(pix, img.reshape(-1))
    # end-to-end Arrow path over the graded synth
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(40)
    out = decode_media(synth_jpeg_media(docs)).collect()
    assert len(out) > 0
    for r in out:
        nb = 4 + r["media_id"] % 8
        assert r["decoded_width"] == 8 * nb
        assert r["decoded_height"] == 16
        assert 0.0 <= r["mean_intensity"] <= 254.0


def test_progressive_equals_baseline_exactly():
    """Progressive (SOF2: spectral selection + successive
    approximation, DC/AC refinement scans, EOBRUN) emits the SAME
    quantized coefficients as baseline, so decode must be
    pixel-identical — the entropy-layer exactness proof for every
    progressive path, across qualities, shapes, and subsampling."""
    rng = np.random.RandomState(42)
    for q in (10, 50, 90):
        for shape in ((21, 35), (8, 8), (3, 5), (64, 48)):
            img = rng.randint(0, 256, shape, dtype=np.uint8)
            b = parse_jpeg(encode_jpeg(img, quality=q))
            p = parse_jpeg(encode_jpeg(img, quality=q, progressive=True))
            assert (b[0], b[1]) == (p[0], p[1])
            assert np.array_equal(b[2], p[2]), (q, shape)
    for q in (25, 95):
        for sub in ("444", "420"):
            img = rng.randint(0, 256, (33, 17, 3), dtype=np.uint8)
            b = parse_jpeg(encode_jpeg(img, quality=q, subsampling=sub))
            p = parse_jpeg(encode_jpeg(img, quality=q, subsampling=sub,
                                       progressive=True))
            assert np.array_equal(b[2], p[2]), (q, sub)


def test_progressive_degenerate_streams():
    # constant image: everything is EOB runs (long EOBRUN paths)
    img = np.full((40, 40), 128, dtype=np.uint8)
    assert np.array_equal(
        parse_jpeg(encode_jpeg(img, progressive=True))[2],
        parse_jpeg(encode_jpeg(img))[2])
    # checkerboard at q95: dense AC activity through every refinement
    img = np.zeros((24, 24), dtype=np.uint8)
    img[::2, ::2] = 255
    assert np.array_equal(
        parse_jpeg(encode_jpeg(img, quality=95, progressive=True))[2],
        parse_jpeg(encode_jpeg(img, quality=95))[2])
    # the stream really is SOF2 multi-scan
    buf = encode_jpeg(img, progressive=True)
    assert b"\xff\xc2" in buf
    assert buf.count(b"\xff\xda") >= 5


def test_rgb_422_411_decode_close_and_dims_exact():
    """r12 item 7: 4:2:2 (2x1) and 4:1:1 (4x1) chroma — round-trip
    tolerance + exact dims, including odd widths that pad to the wider
    MCU and crop back."""
    rng = np.random.RandomState(21)
    for shape in ((18, 26, 3), (9, 13, 3), (8, 31, 3)):
        base = rng.randint(0, 64, shape, dtype=np.uint8) + 96
        for sub, tol in (("422", 12.0), ("411", 14.0)):
            w, h, pix = parse_jpeg(
                encode_jpeg(base, quality=90, subsampling=sub))
            assert (w, h) == (shape[1], shape[0]), (sub, shape)
            err = np.abs(pix.reshape(shape).astype(int)
                         - base.astype(int)).mean()
            assert err < tol, (sub, shape, err)


def test_422_chroma_really_subsampled_horizontally():
    # flat-color image: 422 stream must be shorter than 444 and carry
    # luma sampling factor 2x1 in the SOF
    img = np.full((16, 32, 3), 200, dtype=np.uint8)
    buf = encode_jpeg(img, quality=90, subsampling="422")
    # locate SOF0 by marker walk (structural, not byte-find)
    pos = 2
    sof = None
    while pos < len(buf):
        marker = buf[pos + 1]
        ln = int.from_bytes(buf[pos + 2:pos + 4], "big")
        if marker == 0xC0:
            sof = buf[pos + 4:pos + 2 + ln]
            break
        pos += 2 + ln
    assert sof is not None
    hv = sof[6 + 1]                      # first component hv byte
    assert (hv >> 4, hv & 0xF) == (2, 1)


def test_single_component_sampling_factors_normalized():
    """T.81 A.2: sampling factors are ignored in a single-component
    frame — a stream whose SOF declares 2x2 for its only component
    must decode exactly like the 1x1 twin (the pre-r13 honest raise
    replaced by libjpeg's normalization)."""
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (16, 24), dtype=np.uint8)
    buf = bytearray(encode_jpeg(img, quality=80))
    pos = 2
    while pos < len(buf):
        marker = buf[pos + 1]
        ln = int.from_bytes(buf[pos + 2:pos + 4], "big")
        if marker == 0xC0:
            hv_off = pos + 4 + 6 + 1     # body + comp0 + id byte
            assert buf[hv_off] == 0x11
            buf[hv_off] = 0x22
            break
        pos += 2 + ln
    w, h, pix = parse_jpeg(bytes(buf))
    ref = parse_jpeg(encode_jpeg(img, quality=80))[2]
    assert (w, h) == (24, 16)
    assert np.array_equal(pix, ref)


def test_progressive_equals_baseline_at_422():
    rng = np.random.RandomState(17)
    img = rng.randint(0, 256, (16, 24, 3), dtype=np.uint8)
    base = parse_jpeg(encode_jpeg(img, quality=75, subsampling="422"))
    prog = parse_jpeg(encode_jpeg(img, quality=75, subsampling="422",
                                  progressive=True))
    assert base[0:2] == prog[0:2]
    assert np.array_equal(base[2], prog[2])
