"""Baseline JPEG codec tests (pure numpy + stdlib, no PIL).

Round-trip bounds are LOSSY bounds: quality 100 keeps quantization
steps at 1 so errors stay within DCT rounding; lower qualities get
looser tolerances.  The 4:2:0 test hand-builds an interleaved-MCU
stream with the module's own bit writer to exercise the decoder's
generic sampling-factor path, which the 4:4:4 encoder never emits.
"""

import struct

import numpy as np
import pytest

from hogzilla_spark.operators import jpeg as J

def _gradient(h, w, seed=0):
    xs, ys = np.meshgrid(np.arange(w), np.arange(h))
    return np.stack(
        [(xs * 255 // max(1, w - 1)), (ys * 255 // max(1, h - 1)), ((xs + ys) % 256)],
        axis=2,
    ).astype(np.uint8)

@pytest.mark.parametrize("quality,tol", [(100, 4), (95, 10), (75, 26)])
def test_jpeg_roundtrip_quality(quality, tol):
    img = _gradient(40, 56)
    back = J.decode_jpeg(J.encode_jpeg(img, quality=quality))
    assert back.shape == img.shape
    assert np.abs(back.astype(int) - img.astype(int)).max() <= tol

def test_jpeg_odd_dimensions_and_grayscale():
    img = _gradient(13, 21)  # forces edge padding, partial blocks
    back = J.decode_jpeg(J.encode_jpeg(img, quality=95))
    assert back.shape == (13, 21, 3)
    assert np.abs(back.astype(int) - img.astype(int)).mean() < 3.0
    g = _gradient(16, 16)[:, :, 0]
    backg = J.decode_jpeg(J.encode_jpeg(g, quality=95))
    assert backg.shape == (16, 16, 3)
    assert np.abs(backg[:, :, 0].astype(int) - g.astype(int)).max() <= 6

def test_jpeg_grayscale_ignores_sampling_factors():
    """A single-component (non-interleaved) scan is one block per MCU
    regardless of declared sampling factors (T.81 §A.2.2): patching the
    SOF HV byte from 1x1 to 2x2 must not change the decode."""
    g = _gradient(24, 24)[:, :, 0]
    payload = bytearray(J.encode_jpeg(g, quality=95))
    sof = payload.index(b"\xff\xc0")
    # FFC0 len(2) prec(1) h(2) w(2) ncomp(1) compid(1) -> HV byte
    hv = sof + 11
    assert payload[hv] == 0x11
    payload[hv] = 0x22
    assert np.array_equal(
        J.decode_jpeg(bytes(payload)), J.decode_jpeg(J.encode_jpeg(g, quality=95))
    )

def test_jpeg_flat_color_exact():
    img = np.full((8, 8, 3), 128, dtype=np.uint8)
    back = J.decode_jpeg(J.encode_jpeg(img, quality=90))
    assert np.abs(back.astype(int) - 128).max() <= 1

def test_jpeg_rejects_mangled_and_garbage():
    img = _gradient(8, 8)
    good = bytearray(J.encode_jpeg(img))
    # rewriting SOF0 -> SOF2 makes the baseline SOS header (Ss=0,
    # Se=63) illegal under progressive rules (T.81 G.1.1.1.1)
    sof = bytes(good).find(b"\xff\xc0")
    good[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="Ss=0 requires Se=0"):
        J.decode_jpeg(bytes(good))
    # arithmetic-coded SOF still refuses
    good[sof + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="arithmetic"):
        J.decode_jpeg(bytes(good))
    with pytest.raises(ValueError):
        J.decode_jpeg(b"\x00\x01\x02")
    # a restart interval of 1 MCU (DRI before SOS) over a 2-MCU stream
    # that carries no RSTn markers: the restart scan must stop at the end
    # of the payload with a ValueError, not an IndexError
    two_mcu = J.encode_jpeg(_gradient(8, 16))
    sos = two_mcu.find(b"\xff\xda")
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 1)
    with pytest.raises(ValueError, match="missing RSTn marker"):
        J.decode_jpeg(two_mcu[:sos] + dri + two_mcu[sos:])

def test_jpeg_420_subsampled_decode():
    """Hand-assemble a 16x16 4:2:0 stream (one MCU: 4 Y + 1 Cb + 1 Cr)
    and check the decoder reconstructs the luma structure and the
    chroma upsampling."""
    h = w = 16
    # luma: left half dark, right half bright; chroma: constant red tint
    y_plane = np.zeros((16, 16), dtype=np.float64)
    y_plane[:, 8:] = 200.0
    y_plane[:, :8] = 50.0
    cb_plane = np.full((8, 8), 110.0)
    cr_plane = np.full((8, 8), 160.0)

    qt = np.ones((8, 8))  # lossless-ish quantization
    dc_codes = J._build_codes(J.DC_FLAT_BITS, J.DC_FLAT_VALS)
    ac_codes = J._build_codes(J.AC_BITS, J.AC_VALS)

    out = bytearray(b"\xff\xd8")
    out += J._dqt_segment(0, qt)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
    sof += bytes([1, 0x22, 0])  # Y: 2x2 sampling
    sof += bytes([2, 0x11, 0])
    sof += bytes([3, 0x11, 0])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += J._dht_segment(0, 0, J.DC_FLAT_BITS, J.DC_FLAT_VALS)
    out += J._dht_segment(1, 0, J.AC_BITS, J.AC_VALS)
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    bw = J._BitWriter()
    preds = {"y": 0, "cb": 0, "cr": 0}
    for byi in range(2):  # interleave: 4 Y blocks then Cb, Cr
        for bxi in range(2):
            preds["y"] = J._encode_block(
                bw, y_plane[byi * 8 : byi * 8 + 8, bxi * 8 : bxi * 8 + 8],
                qt, dc_codes, ac_codes, preds["y"],
            )
    preds["cb"] = J._encode_block(bw, cb_plane, qt, dc_codes, ac_codes, preds["cb"])
    preds["cr"] = J._encode_block(bw, cr_plane, qt, dc_codes, ac_codes, preds["cr"])
    bw.flush()
    out += bw.out + b"\xff\xd9"

    img = J.decode_jpeg(bytes(out))
    assert img.shape == (16, 16, 3)
    # luma step survives: right side much brighter
    assert img[:, 12:, :].mean() - img[:, :4, :].mean() > 100
    # constant positive Cr → red channel above green everywhere
    assert (img[:, :, 0].astype(int) - img[:, :, 1].astype(int)).min() > 0

def test_jpeg_in_media_pipeline(spark):
    """JPEG media rows decode through the Spark featurize
    path, and a JPEG of a flat image featurizes ≈ its PPM twin."""
    from hogzilla_spark.operators import multimodal as MM

    img = np.full((8, 8, 3), 77, dtype=np.uint8)
    rows = [
        (0, "image", "ppm", 8, 8, 0, MM.encode_ppm(img)),
        (1, "image", "jpeg", 8, 8, 0, J.encode_jpeg(img, quality=95)),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    feats = {
        r.media_id: r.feature
        for r in MM.decode_and_featurize(media, strict=True).collect()
    }
    assert feats[0][0] == pytest.approx(feats[1][0], abs=0.01)  # gray mean


# --- progressive (SOF2) -----------------------------------------------------

@pytest.mark.parametrize("shape", [(40, 56), (17, 23), (8, 8), (64, 64)])
def test_progressive_matches_baseline(shape):
    """Progressive and baseline encodes quantize identical coefficients,
    so their decodes must agree to IDCT rounding (<=1 count)."""
    img = _gradient(*shape)
    base = J.decode_jpeg(J.encode_jpeg(img, quality=90))
    prog = J.decode_jpeg(J.encode_jpeg_progressive(img, quality=90))
    assert prog.shape == base.shape
    assert np.abs(prog.astype(int) - base.astype(int)).max() <= 1


def test_progressive_grayscale_roundtrip():
    g = (_gradient(24, 40)[:, :, 0]).copy()
    back = J.decode_jpeg(J.encode_jpeg_progressive(g, quality=100))
    assert back.shape == (24, 40, 3)
    assert np.abs(back[:, :, 0].astype(int) - g.astype(int)).max() <= 4
    # gray replicated across channels
    assert np.array_equal(back[:, :, 0], back[:, :, 1])


def test_progressive_eobrun_accumulation():
    """A flat image makes every AC block an EOB run: dozens of
    consecutive blocks fold into multi-block EOBn symbols."""
    img = np.full((64, 64, 3), 77, dtype=np.uint8)
    payload = J.encode_jpeg_progressive(img, quality=90)
    back = J.decode_jpeg(payload)
    assert np.abs(back.astype(int) - 77).max() <= 2
    # progressive stream really is SOF2 with multiple scans
    assert payload.find(b"\xff\xc2") > 0
    assert payload.count(b"\xff\xda") == 10


def test_progressive_quality_sweep():
    img = _gradient(32, 48, seed=1)
    for q, tol in [(100, 4), (90, 14), (75, 26)]:
        back = J.decode_jpeg(J.encode_jpeg_progressive(img, quality=q))
        assert np.abs(back.astype(int) - img.astype(int)).max() <= tol
