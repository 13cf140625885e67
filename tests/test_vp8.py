"""Lossy-VP8 keyframe decoder (webtext/vp8.py) — differential tests
against the independent in-test encoder (tests/vp8_ref.py), transform
unit checks against float references, container routing, and the
never-throws contract. VERDICT r5 ask #4."""

import numpy as np
import pytest

from pytimetk_spark.webtext.vp8 import (
    B_PRED,
    DC_PRED,
    H_PRED,
    TM_PRED,
    V_PRED,
    BoolDecoder,
    decode_vp8_keyframe,
    decode_vp8_rgb,
    idct4x4,
    iwht4x4,
    predict_b,
    yuv_to_rgb,
)

from vp8_ref import (
    BoolEncoder,
    MBSpec,
    encode_vp8_keyframe,
    expected_planes,
    wrap_webp,
)


def test_bool_coder_roundtrip():
    rng = np.random.RandomState(0)
    for _ in range(120):
        n = int(rng.randint(1, 500))
        probs = rng.randint(1, 255, n)
        bits = rng.randint(0, 2, n)
        be = BoolEncoder()
        for p, b in zip(probs, bits):
            be.write_bool(int(p), int(b))
        bd = BoolDecoder(be.flush())
        assert [bd.read_bool(int(p)) for p in probs] == list(bits)


def test_bool_coder_carry_chain():
    """A long run of 1s at prob 1 forces 255-byte carry propagation."""
    be = BoolEncoder()
    for _ in range(200):
        be.write_bool(1, 1)
    be.write_bool(254, 0)
    bd = BoolDecoder(be.flush())
    assert [bd.read_bool(1) for _ in range(200)] == [1] * 200
    assert bd.read_bool(254) == 0


def _float_idct(block):
    """Same butterfly as RFC 6386 §14.3 but in exact float arithmetic —
    an independent check of the fixed-point implementation."""
    c = np.sqrt(2) * np.cos(np.pi / 8)
    s = np.sqrt(2) * np.sin(np.pi / 8)
    x = np.asarray(block, float)
    tmp = np.zeros((4, 4))
    for i in range(4):
        a1 = x[0, i] + x[2, i]
        b1 = x[0, i] - x[2, i]
        c1 = x[1, i] * s - x[3, i] * c
        d1 = x[1, i] * c + x[3, i] * s
        tmp[:, i] = [a1 + d1, b1 + c1, b1 - c1, a1 - d1]
    out = np.zeros((4, 4))
    for i in range(4):
        a1 = tmp[i, 0] + tmp[i, 2]
        b1 = tmp[i, 0] - tmp[i, 2]
        c1 = tmp[i, 1] * s - tmp[i, 3] * c
        d1 = tmp[i, 1] * c + tmp[i, 3] * s
        out[i] = [a1 + d1, b1 + c1, b1 - c1, a1 - d1]
    return out / 8.0


def test_idct_matches_float_reference():
    rng = np.random.RandomState(3)
    for _ in range(50):
        blk = rng.randint(-2048, 2048, (4, 4))
        got = idct4x4(blk)
        want = _float_idct(blk)
        assert np.abs(got - want).max() <= 2.0  # fixed-point rounding


def test_idct_dc_only_is_flat():
    blk = np.zeros((4, 4), np.int64)
    blk[0, 0] = 80
    got = idct4x4(blk)
    assert (got == (80 + 4) >> 3).all()


def test_iwht_matches_float_hadamard():
    """Inverse WHT == H·X·Hᵀ / 8 (H the order-4 Hadamard-like butterfly
    used by VP8) within its +3 floor-rounding."""
    H = np.array(
        [[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]],
        float,
    )
    rng = np.random.RandomState(4)
    for _ in range(50):
        x = rng.randint(-1000, 1000, (4, 4))
        got = iwht4x4(x)
        want = H @ np.asarray(x, float) @ H.T / 8.0
        assert np.abs(got - want).max() <= 1.0


def test_predict_b_dc_ve_he_formulas():
    a = np.array([10, 20, 30, 40])
    ar = np.array([50, 60, 70, 80])
    left = np.array([5, 15, 25, 35])
    tl = 8
    dc = predict_b(0, a, ar, left, tl)  # B_DC
    assert (dc == (10 + 20 + 30 + 40 + 5 + 15 + 25 + 35 + 4) // 8).all()
    ve = predict_b(2, a, ar, left, tl)  # B_VE: smoothed above row
    assert list(ve[0]) == [
        (8 + 2 * 10 + 20 + 2) >> 2,
        (10 + 2 * 20 + 30 + 2) >> 2,
        (20 + 2 * 30 + 40 + 2) >> 2,
        (30 + 2 * 40 + 50 + 2) >> 2,
    ]
    assert (ve == ve[0]).all()
    he = predict_b(3, a, ar, left, tl)  # B_HE: smoothed left column
    assert list(he[:, 0]) == [
        (8 + 2 * 5 + 15 + 2) >> 2,
        (5 + 2 * 15 + 25 + 2) >> 2,
        (15 + 2 * 25 + 35 + 2) >> 2,
        (25 + 2 * 35 + 35 + 2) >> 2,
    ]
    assert (he == he[:, :1]).all()


def _rand_mb(rng, force_zero=False):
    ymode = int(rng.choice([DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED]))
    mb = MBSpec(ymode, int(rng.choice([DC_PRED, V_PRED, H_PRED, TM_PRED])))
    if force_zero:
        return mb
    if ymode == B_PRED:
        mb.bmodes = [int(x) for x in rng.randint(0, 10, 16)]
        first = 0
    else:
        y2 = np.zeros(16, np.int64)
        pos = rng.choice(16, rng.randint(0, 8), replace=False)
        y2[pos] = rng.randint(-20, 21, len(pos))
        mb.y2_levels = y2
        first = 1
    for sb in range(16):
        lv = np.zeros(16, np.int64)
        nz = rng.randint(0, 6)
        pos = rng.choice(16 - first, nz, replace=False) + first
        lv[pos] = rng.randint(-80, 81, nz)
        mb.y_levels[sb] = lv
    for tgt in (mb.u_levels, mb.v_levels):
        for sb in range(4):
            lv = np.zeros(16, np.int64)
            nz = rng.randint(0, 5)
            pos = rng.choice(16, nz, replace=False)
            lv[pos] = rng.randint(-40, 41, nz)
            tgt[sb] = lv
    return mb


@pytest.mark.parametrize("w,h", [(16, 16), (48, 32), (40, 24), (64, 48)])
def test_vp8_keyframe_pixel_differential(w, h):
    """Decoded planes are BIT-EXACT vs the independent reconstruction
    model, across mixed 16x16/B_PRED modes, all 10 4x4 predictors,
    random coefficient levels (through CAT tokens), quant deltas and
    non-multiple-of-16 cropping."""
    rng = np.random.RandomState(w * 100 + h)
    mbs = [_rand_mb(rng) for _ in range(((w + 15) // 16) * ((h + 15) // 16))]
    qi, dl = 10, (1, -2, 3, 0, 2)
    payload = encode_vp8_keyframe(w, h, mbs, y_ac_qi=qi, deltas=dl)
    got = decode_vp8_keyframe(payload)
    want = expected_planes(w, h, mbs, y_ac_qi=qi, deltas=dl)
    assert got is not None and got["width"] == w and got["height"] == h
    for k in ("y", "u", "v"):
        np.testing.assert_array_equal(got[k], want[k], err_msg=k)


def test_vp8_skip_flags_and_multi_partition():
    """mb_no_coeff_skip=1 with all-zero MBs (context-reset path) and 2
    token partitions (per-mb-row routing) both decode bit-exactly."""
    rng = np.random.RandomState(9)
    w, h = 64, 64
    mbs = [
        _rand_mb(rng, force_zero=(i % 3 == 0))
        for i in range(16)
    ]
    payload = encode_vp8_keyframe(
        w, h, mbs, y_ac_qi=6, use_skip=True, prob_skip=180, n_parts=2)
    got = decode_vp8_keyframe(payload)
    want = expected_planes(w, h, mbs, y_ac_qi=6)
    for k in ("y", "u", "v"):
        np.testing.assert_array_equal(got[k], want[k], err_msg=k)


def test_vp8_coeff_prob_update_path():
    """Explicit coefficient-probability updates in the frame header are
    applied (differential still exact with non-default probs)."""
    rng = np.random.RandomState(11)
    mbs = [_rand_mb(rng) for _ in range(4)]
    updates = {(0, 1, 0, 0): 200, (2, 0, 0, 1): 90, (3, 6, 2, 5): 33}
    payload = encode_vp8_keyframe(32, 32, mbs, y_ac_qi=8,
                                  prob_updates=updates)
    got = decode_vp8_keyframe(payload)
    want = expected_planes(32, 32, mbs, y_ac_qi=8)
    for k in ("y", "u", "v"):
        np.testing.assert_array_equal(got[k], want[k], err_msg=k)


def test_vp8_webp_container_routing():
    from pytimetk_spark.webtext.webp import decode_webp

    rng = np.random.RandomState(13)
    mbs = [_rand_mb(rng) for _ in range(2)]
    payload = encode_vp8_keyframe(32, 16, mbs, y_ac_qi=12)
    rgb = decode_webp(wrap_webp(payload))
    assert rgb is not None and rgb.shape == (16, 32, 3)
    want = yuv_to_rgb(expected_planes(32, 16, mbs, y_ac_qi=12))
    np.testing.assert_array_equal(rgb, want)
    # the keyframe header carries the same dims
    info = decode_vp8_keyframe(payload)
    assert info["width"] == 32 and info["height"] == 16


def test_vp8_total_on_garbage():
    rng = np.random.RandomState(17)
    mbs = [_rand_mb(rng) for _ in range(1)]
    good = encode_vp8_keyframe(16, 16, mbs)
    for blob in (
        b"",
        b"\x00" * 5,
        good[:8],                      # truncated header
        good[: len(good) // 2],        # truncated partitions
        bytes([good[0] | 1]) + good[1:],  # interframe flag
        bytes(rng.randint(0, 256, 300, dtype=np.uint8).tobytes()),
    ):
        assert decode_vp8_rgb(blob) is None or isinstance(
            decode_vp8_rgb(blob), np.ndarray
        )
    # dimension bomb: 16383x16383 header on a tiny payload must bail
    bomb = bytearray(good[:10])
    bomb[6:8] = (0x3FFF).to_bytes(2, "little")
    bomb[8:10] = (0x3FFF).to_bytes(2, "little")
    assert decode_vp8_rgb(bytes(bomb)) is None


def test_vp8_in_decode_image_batch(spark):
    """The Spark-side plumbing routes lossy WebP through the real
    decoder: luminance-histogram features match the expected planes."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    from pytimetk_spark.webtext.multimodal import decode_image_batch

    rng = np.random.RandomState(21)
    mbs = [_rand_mb(rng) for _ in range(2)]
    blob = wrap_webp(encode_vp8_keyframe(32, 16, mbs, y_ac_qi=12))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "img": [blob]})
    )
    out = decode_image_batch(df, "img", "doc_id", target_size=(8, 8))
    row = out.collect()[0]
    assert row["width"] == 8 and row["height"] == 8
    feats = np.array(row["features"])
    assert feats.shape == (8,) and abs(feats.sum() - 1.0) < 1e-6
