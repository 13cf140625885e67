"""Gorilla-style compression codecs (public algorithm: Pelkonen et al.,
"Gorilla: A Fast, Scalable, In-Memory Time Series Database", VLDB 2015).

- ``encode_timestamps`` / ``decode_timestamps``: delta-of-delta with the
  paper's variable-length buckets ('0' | '10'+7b | '110'+9b | '1110'+12b |
  '1111'+64b — we widen the escape to 64 bits since web-crawl gaps can
  exceed 2^31 seconds only pathologically, but correctness first).
- ``encode_gorilla`` / ``decode_gorilla``: float64 XOR compression with
  leading/trailing-zero window reuse.

Every kernel is batched: it handles all the streams of an Arrow batch
(one per url) in one pass of numpy ops, with no Python work per stream.

* encode (``encode_*_many`` / ``encode_*_array``): XOR / leading /
  trailing arrays are computed vectorized; the window is shared per fixed
  block of points (one '11' header at the block's first non-zero XOR, '10'
  reuse for the rest — the per-point greedy reuse decision is inherently
  sequential, the per-block one is a ``minimum.reduceat``). Every field of
  every stream — header words, the super-block table and the control and
  value fields — is then placed in ONE pack (``_pack_groups``), each
  stream starting on a byte boundary. The bitstream stays compatible with
  the classic Gorilla decoder ('11' headers simply appear once per block).
* decode (``decode_*_many``): a per-super-block bit-length table (one
  uint16 per 128 points, ~0.016 B/pt) gives every super-block's control
  walk a known start bit with fresh state — for values the encoder emits a
  '11' header at each 16-point block's first non-zero XOR, so window state
  never crosses a super-block; the timestamp prefix code is stateless.
  Every super-block of every stream in the batch is one lane, and the walk
  (``_ts_walk`` / ``_gorilla_walk``) takes one numpy step per point index
  ACROSS all lanes. Field values are read straight from the packed bytes
  (``_extract_fields``); streams are rebuilt with segmented prefix sums
  (timestamps) and prefix XORs (values). The single-blob decoders are
  one-blob calls of the batched ones.

rollup/tiers.py runs these inside Arrow ``mapInArrow`` stages, one call
per Arrow batch. Exact round-trip is asserted by tests (NaNs round-trip
bit-exactly too).

The reference (pytimetk) has no compression; this implements the
north-rule mandate (BASELINE.json: "Gorilla XOR + delta-of-delta").
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# single-byte format tags; v2 blocks carry a per-super-block bit-length table
_MAGIC_VAL2 = 0xA3  # value blocks
_MAGIC_TS2 = 0xA4  # timestamp blocks
_TS_SUPER = 128  # dod fields ≤ 68 bits → 128·68 < 2^16 fits the uint16 table

_U64 = np.uint64
_PAD = 32  # zero bytes after a packed buffer: covers every look-ahead read

# timestamp dod classes 0..4, indexed by the stream's next 4 bits
_TS_CLASS = np.array([0] * 8 + [1] * 4 + [2] * 2 + [3, 4], dtype=np.int64)
_TS_CTRL = np.array([1, 2, 3, 4, 4], dtype=np.int64)  # control bits
_TS_WIDTH = np.array([0, 7, 9, 12, 64], dtype=np.int64)  # value bits
_TS_BIAS = np.array([0, -63, -255, -2047, 0], dtype=np.int64)
# value control bits, indexed by the next 2 bits: '0x' zero, '10' reuse,
# '11' new window (2 + 5 lead + 6 length bits)
_G_CTRL = np.array([1, 1, 2, 13], dtype=np.int64)


def _bitlen_u64(x: np.ndarray) -> np.ndarray:
    """Exact bit_length of uint64 values (0 → 0), vectorized: split into
    32-bit halves (exact in float64) and read frexp's exponent."""
    hi = (x >> _U64(32)).astype(np.float64)
    lo = (x & _U64(0xFFFFFFFF)).astype(np.float64)
    bl_hi = np.frexp(hi)[1]
    bl_lo = np.frexp(lo)[1]
    return np.where(hi > 0, bl_hi + 32, bl_lo).astype(np.int64)


def _cumsum0(a: np.ndarray) -> np.ndarray:
    """Exclusive prefix sum (int64)."""
    return np.concatenate(([0], np.cumsum(a)))[:-1].astype(np.int64)


def _ragged_block_starts(
    group_offs: np.ndarray, group_sizes: np.ndarray, step: int
) -> tuple[np.ndarray, np.ndarray]:
    """Global start indices of per-group blocks of ``step`` elements: for
    each group g (offset o_g, size m_g, groups contiguous) emit o_g,
    o_g+step, ... (ceil(m_g/step) entries). Strictly increasing — valid
    ``reduceat`` cut points."""
    nb = -(-group_sizes // step)
    total = int(nb.sum())
    k = np.arange(total, dtype=np.int64) - np.repeat(_cumsum0(nb), nb)
    return np.repeat(group_offs, nb) + k * step, nb


def _padded(data: np.ndarray) -> np.ndarray:
    return np.concatenate([data, np.zeros(_PAD, dtype=np.uint8)])


# ---------------------------------------------------------------------------
# bit packing


def _pack_fields(
    vals: np.ndarray, widths: np.ndarray, starts: np.ndarray, nbytes: int
) -> np.ndarray:
    """Write MSB-first bitfields (widths 1..64) at increasing, disjoint
    bit offsets ``starts`` into a zeroed ``nbytes`` buffer. A field lands
    in one 64-bit word or spills into the next, so each field contributes
    two (word, bits) pairs whose word indices never decrease: one
    ``bitwise_or.reduceat`` over runs of equal words assembles the
    stream."""
    w_u = widths.astype(_U64)
    mask = (((_U64(1) << (w_u - _U64(1))) - _U64(1)) << _U64(1)) | _U64(1)
    vals = vals & mask
    end = (starts & 63) + widths  # 1..127: past 64 the field spills over
    spill = end > 64
    bits = np.empty((len(vals), 2), dtype=_U64)
    bits[:, 0] = (vals >> np.maximum(end - 64, 0).astype(_U64)) << np.maximum(
        64 - end, 0
    ).astype(_U64)
    # every numpy shift amount stays below 64
    bits[:, 1] = np.where(spill, vals << np.where(spill, 128 - end, 0).astype(_U64), 0)
    word = np.empty((len(vals), 2), dtype=np.int64)
    word[:, 0] = starts >> 6
    word[:, 1] = word[:, 0] + spill
    word = word.ravel()
    cut = np.flatnonzero(np.concatenate(([True], word[1:] != word[:-1])))
    out = np.zeros((nbytes + 7) // 8, dtype=_U64)
    if len(vals):
        out[word[cut]] = np.bitwise_or.reduceat(bits.ravel(), cut)
    return out.astype(">u8").view(np.uint8)[:nbytes]


def _pack_groups(sections) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate per-group fields from several sections into one buffer.

    ``sections`` is a list of (vals, widths, counts): each section's fields
    are ordered by group, ``counts[g]`` of them for group g. Group g's
    bytes are its sections' fields in order, MSB-first, zero-padded to a
    byte boundary. Returns (data, offsets) with group g at
    ``data[offsets[g]:offsets[g + 1]]``."""
    per_g = sum(c for _, _, c in sections)
    gfo = _cumsum0(per_g)
    vals = np.empty(int(per_g.sum()), dtype=_U64)
    widths = np.empty(len(vals), dtype=np.int64)
    off = gfo.copy()
    for v, w, c in sections:
        dest = np.arange(len(w), dtype=np.int64) + np.repeat(off - _cumsum0(c), c)
        vals[dest] = v
        widths[dest] = w
        off += c
    ends = np.cumsum(widths)
    bit0 = ends - widths
    gbits = np.add.reduceat(widths, gfo) if len(gfo) else gfo
    offsets = np.concatenate(([0], np.cumsum((gbits + 7) >> 3)))
    starts = bit0 + np.repeat(8 * offsets[:-1] - bit0[gfo], per_g)
    keep = widths > 0
    data = _pack_fields(vals[keep], widths[keep], starts[keep], int(offsets[-1]))
    return data, offsets


def _binary_array(data: np.ndarray, offsets: np.ndarray) -> pa.Array:
    if offsets[-1] >= 1 << 31:
        raise ValueError("over 2 GiB of blocks in one batch: use smaller batches")
    return pa.Array.from_buffers(
        pa.binary(),
        len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )


def _gather(x: np.ndarray, starts, ends, dtype) -> tuple[np.ndarray, np.ndarray]:
    """The slices ``x[starts[g]:ends[g]]`` laid out back to back."""
    starts = np.asarray(starts, dtype=np.int64)
    n_g = np.asarray(ends, dtype=np.int64) - starts
    x = np.asarray(x, dtype=dtype)
    idx = np.arange(int(n_g.sum()), dtype=np.int64)
    return x[idx + np.repeat(starts - _cumsum0(n_g), n_g)], n_g


# ---------------------------------------------------------------------------
# timestamps: delta-of-delta


def encode_timestamps_array(
    ts_all: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> pa.Array:
    """Delta-of-delta encode every slice ``ts_all[starts[g]:ends[g]]``
    (int64 epoch seconds, sorted) into one Arrow binary array.

    Format v2: magic, point count, the first timestamp and the zigzag
    first delta, then a per-128-point bit-length table (big-endian uint16
    each) so the decoder can start every super-block's control walk
    independently (the dod prefix code is stateless, so the table alone
    suffices), then the dod fields."""
    ts, n_g = _gather(ts_all, starts, ends, np.int64)
    G = len(n_g)
    gs = _cumsum0(n_g)
    hv = np.zeros((G, 4), dtype=_U64)  # header words: tag, n, first, delta
    hw = np.tile(np.array([8, 32, 64, 64], dtype=np.int64), (G, 1))
    hv[:, 0] = _MAGIC_TS2
    hv[:, 1] = n_g
    has1, has2 = n_g >= 1, n_g >= 2
    hw[~has1, 2] = 0
    hw[~has2, 3] = 0
    hv[has1, 2] = ts[gs[has1]].view(_U64)
    fd = ts[gs[has2] + 1] - ts[gs[has2]]
    hv[has2, 3] = ((fd << 1) ^ (fd >> 63)).view(_U64)

    # per-group deltas then dods, compacted with group-id masks (no
    # index arithmetic on boundaries — safe for 0/1/2-point groups)
    gid = np.repeat(np.arange(G, dtype=np.int64), n_g)
    d = (ts[1:] - ts[:-1])[gid[1:] == gid[:-1]]
    gid_d = np.repeat(np.arange(G, dtype=np.int64), np.maximum(n_g - 1, 0))
    dod = (d[1:] - d[:-1])[gid_d[1:] == gid_d[:-1]]
    m_g = np.maximum(n_g - 2, 0)  # dods per group, contiguous in ``dod``

    w = np.zeros((len(dod), 2), dtype=np.int64)
    v = np.zeros((len(dod), 2), dtype=_U64)
    c0 = dod == 0
    c1 = ~c0 & (dod >= -63) & (dod <= 64)
    c2 = ~c0 & ~c1 & (dod >= -255) & (dod <= 256)
    c3 = ~c0 & ~c1 & ~c2 & (dod >= -2047) & (dod <= 2048)
    c4 = ~(c0 | c1 | c2 | c3)
    w[c0, 0] = 1  # control '0', value 0
    for c, ctrl, width, bias in (
        (c1, 0b10, 7, 63), (c2, 0b110, 9, 255), (c3, 0b1110, 12, 2047)
    ):
        w[c] = (ctrl.bit_length(), width)
        v[c, 0] = ctrl
        v[c, 1] = (dod[c] + bias).astype(_U64)
    d4 = dod[c4]
    w[c4] = (4, 64)
    v[c4, 0] = 0b1111
    v[c4, 1] = ((d4 << 1) ^ (d4 >> 63)).view(_U64)  # int64 zigzag wraps

    sb_starts, nsb = _ragged_block_starts(_cumsum0(m_g), m_g, _TS_SUPER)
    sb = np.add.reduceat(w.sum(axis=1), sb_starts) if len(sb_starts) else sb_starts
    data, offsets = _pack_groups(
        [
            (hv.ravel(), hw.ravel(), np.full(G, 4)),
            (sb.astype(_U64), np.full(len(sb), 16), nsb),
            (v.ravel(), w.ravel(), 2 * m_g),
        ]
    )
    return _binary_array(data, offsets)


def encode_timestamps_many(
    ts_all: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[bytes]:
    """``encode_timestamps`` of every slice ``ts_all[starts[g]:ends[g]]``,
    in one batched pass (see ``encode_timestamps_array``)."""
    return encode_timestamps_array(ts_all, starts, ends).to_pylist()


def encode_timestamps(ts_seconds: np.ndarray) -> bytes:
    """Delta-of-delta encode int64 epoch seconds (must be sorted)."""
    n = len(ts_seconds)
    return encode_timestamps_many(ts_seconds, [0], [n])[0]


# ---------------------------------------------------------------------------
# values: XOR float compression


def encode_gorilla_array(
    vals_all: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    block: int = 16,
) -> pa.Array:
    """XOR-encode (Gorilla §4.1.2, block-shared windows) every float64
    slice ``vals_all[starts[g]:ends[g]]`` into one Arrow binary array.

    Format v2: magic, point count, block, the first value's bits, then a
    per-``8·block``-point bit-length table (one big-endian uint16 per
    super-block, ≤ 8·64·77 < 2^16 bits) that lets the decoder start every
    super-block independently — see the module docstring. ~0.016 B/pt
    overhead."""
    if not 1 <= block <= 64:  # 8·block·77 bits must fit the uint16 table
        raise ValueError("block must be in 1..64")
    vals, n_g = _gather(vals_all, starts, ends, np.float64)
    bits = vals.view(_U64)
    G = len(n_g)
    gs = _cumsum0(n_g)
    hv = np.zeros((G, 4), dtype=_U64)  # header words: tag, n, block, first
    hw = np.tile(np.array([8, 32, 8, 64], dtype=np.int64), (G, 1))
    hv[:, 0] = _MAGIC_VAL2
    hv[:, 1] = n_g
    hv[:, 2] = block
    has1 = n_g >= 1
    hw[~has1, 3] = 0
    hv[has1, 3] = bits[gs[has1]]

    gid = np.repeat(np.arange(G, dtype=np.int64), n_g)
    xors = (bits[1:] ^ bits[:-1])[gid[1:] == gid[:-1]]
    m_g = np.maximum(n_g - 1, 0)  # xors per group, contiguous in ``xors``
    M = len(xors)
    gox = _cumsum0(m_g)

    nz = xors != 0
    lead = np.minimum(64 - _bitlen_u64(xors), 31)  # 5-bit field clamp
    low = xors & (~xors + _U64(1))
    trail = _bitlen_u64(low) - 1  # meaningful only where nz

    # per-block shared window = (min lead, min trail) over the block's
    # non-zero XORs; zero-XOR points don't constrain it
    bstarts, nb = _ragged_block_starts(gox, m_g, block)
    if M:
        lead_b = np.minimum.reduceat(np.where(nz, lead, 64), bstarts)
        trail_b = np.minimum.reduceat(np.where(nz, trail, 64), bstarts)
    else:
        lead_b = trail_b = bstarts
    mean_b = 64 - lead_b - trail_b
    pos_in = np.arange(M, dtype=np.int64) - np.repeat(gox, m_g)
    bi = np.repeat(_cumsum0(nb), m_g) + pos_in // block

    first_nz = np.zeros(M, dtype=bool)
    idx_nz = np.flatnonzero(nz)
    if len(idx_nz):
        bo = bi[idx_nz]
        first_nz[idx_nz[np.concatenate(([True], bo[1:] != bo[:-1]))]] = True

    pl = lead_b[bi].astype(_U64)
    pm = mean_b[bi]
    pt = trail_b[bi].astype(_U64)

    w = np.zeros((M, 4), dtype=np.int64)
    v = np.zeros((M, 4), dtype=_U64)
    w[~nz, 0] = 1  # control '0'
    hdr = nz & first_nz
    reuse = nz & ~first_nz
    w[hdr, 0] = 2
    v[hdr, 0] = 0b11
    w[hdr, 1] = 5
    v[hdr, 1] = pl[hdr]
    w[hdr, 2] = 6
    v[hdr, 2] = (pm[hdr] - 1).astype(_U64)  # 1..64 stored as 0..63
    w[hdr, 3] = pm[hdr]
    v[hdr, 3] = xors[hdr] >> pt[hdr]
    w[reuse, 0] = 2
    v[reuse, 0] = 0b10
    w[reuse, 1] = pm[reuse]
    v[reuse, 1] = xors[reuse] >> pt[reuse]

    # window state is block-local, so any multiple of block works
    sb_starts, nsb = _ragged_block_starts(gox, m_g, block * 8)
    sb = np.add.reduceat(w.sum(axis=1), sb_starts) if M else sb_starts
    data, offsets = _pack_groups(
        [
            (hv.ravel(), hw.ravel(), np.full(G, 4)),
            (sb.astype(_U64), np.full(len(sb), 16), nsb),
            (v.ravel(), w.ravel(), 4 * m_g),
        ]
    )
    return _binary_array(data, offsets)


def encode_gorilla_many(
    vals_all: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    block: int = 16,
) -> list[bytes]:
    """``encode_gorilla`` of every slice ``vals_all[starts[g]:ends[g]]``,
    in one batched pass (see ``encode_gorilla_array``)."""
    return encode_gorilla_array(vals_all, starts, ends, block).to_pylist()


def encode_gorilla(values: np.ndarray, block: int = 16) -> bytes:
    """XOR-encode float64 values (Gorilla §4.1.2), block-shared windows."""
    return encode_gorilla_many(values, [0], [len(values)], block)[0]


# ---------------------------------------------------------------------------
# decoding


def _extract_fields(
    pb: np.ndarray, starts: np.ndarray, widths: np.ndarray
) -> np.ndarray:
    """Inverse of ``_pack_fields``: read len(starts) MSB-first fields (bit
    offsets ``starts``, bit widths 1..64) straight from a PACKED byte array
    with ≥ 9 bytes of zero padding — 9 gathered bytes cover a ≤64-bit
    field at any bit offset, assembled into uint64 with a wrap-safe split
    shift (every numpy shift amount stays < 64)."""
    mm = len(starts)
    if mm == 0:
        return np.empty(0, dtype=_U64)
    B = starts >> 3
    hi = np.zeros(mm, dtype=_U64)
    for k in range(8):
        hi = (hi << _U64(8)) | pb[B + k]
    b8 = pb[B + 8].astype(_U64)
    # field occupies bits [o, o+w) of the gathered 72-bit window
    r = 72 - (starts & 7) - widths  # right-shift amount, always in 1..71
    rlow = r < 8
    r_u = r.astype(_U64)
    lo_part = (hi << np.where(rlow, _U64(8) - r_u, _U64(0))) | (
        b8 >> np.where(rlow, r_u, _U64(0))
    )
    hi_part = hi >> np.where(rlow, _U64(0), r_u - _U64(8))
    w_u = widths.astype(_U64)
    mask = (((_U64(1) << (w_u - _U64(1))) - _U64(1)) << _U64(1)) | _U64(1)
    return np.where(rlow, lo_part, hi_part) & mask


def _windows(pb: np.ndarray) -> np.ndarray:
    """``win[B]`` = bytes B..B+2 as a 24-bit big-endian int: one gather
    then yields the next 17+ bits at any bit offset."""
    p = pb.astype(np.int64)
    return np.concatenate(
        [(p[:-2] << 16) | (p[1:-1] << 8) | p[2:], np.zeros(2, dtype=np.int64)]
    )


def _lane_order(lane_len: np.ndarray):
    """Lanes sorted longest first, so step j walks a prefix of them:
    (order, per-step active-lane counts, output offset of each lane)."""
    order = np.argsort(-lane_len, kind="stable")
    desc = -lane_len[order]
    steps = int(-desc[0]) if len(desc) else 0
    active = np.searchsorted(desc, -np.arange(steps), side="left")
    return order, active.tolist(), _cumsum0(lane_len)[order]


def _ts_walk(pb: np.ndarray, lane_pos: np.ndarray, lane_len: np.ndarray):
    """Vectorized dod control walk: each lane is one super-block of one
    stream, starting at bit ``lane_pos`` and holding ``lane_len`` points
    (the prefix code is stateless, so a lane needs nothing else). One
    numpy step per point index runs ACROSS all lanes still active.
    Returns per-point (field start bit, dod class), lanes in order."""
    order, active, out0 = _lane_order(lane_len)
    win = _windows(pb)
    pos = lane_pos[order]
    n = int(lane_len.sum())
    starts = np.empty(n, dtype=np.int64)
    cls = np.empty(n, dtype=np.int64)
    for j, k in enumerate(active):
        p = pos[:k]
        c = _TS_CLASS[(win[p >> 3] << (p & 7)) >> 20 & 15]
        s = p + _TS_CTRL[c]
        i = out0[:k] + j
        starts[i] = s
        cls[i] = c
        pos[:k] = s + _TS_WIDTH[c]
    return starts, cls


def _ts_dods(pb: np.ndarray, starts: np.ndarray, cls: np.ndarray) -> np.ndarray:
    dod = np.zeros(len(cls), dtype=np.int64)
    sel = cls > 0
    c = cls[sel]
    fields = _extract_fields(pb, starts[sel], _TS_WIDTH[c])
    vals = fields.view(np.int64) + _TS_BIAS[c]
    # zigzag-decode the 64-bit escapes
    wide = c == 4
    u = fields[wide]
    vals[wide] = (u >> _U64(1)).view(np.int64) ^ -((u & _U64(1)).view(np.int64))
    dod[sel] = vals
    return dod


def _gorilla_walk(pb: np.ndarray, lane_pos: np.ndarray, lane_len: np.ndarray):
    """Vectorized XOR control walk: each lane is one super-block of one
    stream and starts with fresh window state — the encoder emits a '11'
    header at each block's first non-zero XOR and super-blocks are whole
    multiples of blocks — so one numpy step per point index runs ACROSS
    all lanes still active. Returns per-point (field start, width,
    left-shift), lanes in order."""
    order, active, out0 = _lane_order(lane_len)
    win = _windows(pb)
    pos = lane_pos[order]
    lead = np.zeros(len(pos), dtype=np.int64)
    mean = np.zeros(len(pos), dtype=np.int64)
    n = int(lane_len.sum())
    starts = np.empty(n, dtype=np.int64)
    widths = np.empty(n, dtype=np.int64)
    shifts = np.empty(n, dtype=np.int64)
    for j, k in enumerate(active):
        p = pos[:k]
        w = (win[p >> 3] << (p & 7)) & 0xFFFFFF
        top = w >> 22
        hdr = top == 3
        lk, mk = lead[:k], mean[:k]
        lk[hdr] = (w[hdr] >> 17) & 31
        mk[hdr] = ((w[hdr] >> 11) & 63) + 1
        width = np.where(top >= 2, mk, 0)
        s = p + _G_CTRL[top]
        i = out0[:k] + j
        starts[i] = s
        widths[i] = width
        shifts[i] = 64 - lk - mk
        pos[:k] = s + width
    return starts, widths, shifts


def _xors(pb, starts, widths, shifts) -> np.ndarray:
    xor = np.zeros(len(starts), dtype=_U64)
    sel = widths > 0
    fields = _extract_fields(pb, starts[sel], widths[sel])
    xor[sel] = fields << shifts[sel].astype(_U64)
    return xor


# -- batched decode ---------------------------------------------------------


def _blob_buffers(blobs, what: str):
    """(padded data, start byte, length) of each blob of a binary Arrow
    array (sliced arrays included) — no per-blob Python."""
    if isinstance(blobs, pa.ChunkedArray):
        blobs = blobs.combine_chunks()
    elif not isinstance(blobs, pa.Array):
        blobs = pa.array(blobs, pa.binary())
    if blobs.null_count:
        raise ValueError(f"NULL {what} block")
    if not len(blobs):
        empty = np.empty(0, dtype=np.int64)
        return _padded(np.empty(0, dtype=np.uint8)), empty, empty
    _, obuf, dbuf = blobs.buffers()
    otype = np.int64 if pa.types.is_large_binary(blobs.type) else np.int32
    offs = np.frombuffer(obuf, dtype=otype)[
        blobs.offset : blobs.offset + len(blobs) + 1
    ].astype(np.int64)
    data = np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None else None
    data = data[offs[0] : offs[-1]] if data is not None else np.empty(0, np.uint8)
    return _padded(data), offs[:-1] - offs[0], np.diff(offs)


def _be(pb: np.ndarray, pos: np.ndarray, nbytes: int) -> np.ndarray:
    """Big-endian unsigned ints of ``nbytes`` bytes at byte offsets pos."""
    v = np.zeros(len(pos), dtype=_U64)
    for k in range(nbytes):
        v = (v << _U64(8)) | pb[pos + k]
    return v


def _check_head(pb, base, lens, magic: int, head: int, what: str) -> np.ndarray:
    """Validate tags and fixed-header room; return the point counts."""
    tag = pb[base]
    bad = np.flatnonzero((lens > 0) & (tag != magic))
    if len(bad):
        raise ValueError(f"bad {what} block magic: {int(tag[bad[0]]):#x}")
    if (lens < head).any():
        raise ValueError(f"corrupt {what} block: truncated header")
    return _be(pb, base + 1, 4).astype(np.int64)


def _lanes(pb, lens, m, sup, table, head, what):
    """Every super-block of every stream as one lane. ``m`` control
    fields per stream, ``sup`` per super-block, the bit-length table at
    byte ``table``; ``head`` is each blob's length before the table.
    Returns (lane start bit, lane length) and checks each blob's length."""
    nsb = -(-m // sup)
    if (lens < head + 2 * nsb).any():
        raise ValueError(f"corrupt {what} block: truncated table")
    first = _cumsum0(nsb)
    k = np.arange(int(nsb.sum()), dtype=np.int64) - np.repeat(first, nsb)
    gid = np.repeat(np.arange(len(m), dtype=np.int64), nsb)
    sb_bits = _be(pb, table[gid] + 2 * k, 2).astype(np.int64)
    c0 = _cumsum0(sb_bits)
    lane_pos = 8 * (table + 2 * nsb)[gid] + c0 - c0[first[gid]]
    lane_len = np.minimum(sup[gid], m[gid] - k * sup[gid])
    bits = np.bincount(gid, weights=sb_bits, minlength=len(m)).astype(np.int64)
    payload = np.where(nsb > 0, 2 * nsb + (bits + 7) // 8, 0)
    if not np.array_equal(lens, head + payload):
        raise ValueError(f"corrupt {what} block: length does not match its table")
    return lane_pos, lane_len


def _seg_start_values(total: np.ndarray, n_g: np.ndarray, gs: np.ndarray):
    """Per point, the running total just before its stream starts."""
    prev = np.where(gs > 0, total[np.maximum(gs - 1, 0)], 0)
    return np.repeat(prev.astype(total.dtype), n_g)


def decode_timestamps_many(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Decode every timestamp block of a binary Arrow array (or a list of
    bytes) at once: returns (all timestamps back to back, int64 epoch
    seconds; point count per block). A NULL blob or a bad tag raises
    ``ValueError``."""
    pb, base, lens = _blob_buffers(blobs, "timestamp")
    n = _check_head(pb, base, lens, _MAGIC_TS2, 5, "timestamp")
    G, T = len(n), int(n.sum())
    gs = _cumsum0(n)
    m = np.maximum(n - 2, 0)
    head = 5 + 8 * np.minimum(n, 2)
    lane_pos, lane_len = _lanes(
        pb, lens, m, np.full(G, _TS_SUPER), base + 21, head, "timestamp"
    )
    starts, cls = _ts_walk(pb, lane_pos, lane_len)
    dod = _ts_dods(pb, starts, cls)

    # deltas: segmented cumsum of (first delta, dods...) per stream, then
    # timestamps: segmented cumsum of (first, deltas...) — int64 wraps
    # like the single-blob decoder
    has1, has2 = n >= 1, n >= 2
    x = np.zeros(T, dtype=np.int64)
    fd = _be(pb, base[has2] + 13, 8)
    x[gs[has2] + 1] = (fd >> _U64(1)).view(np.int64) ^ -((fd & _U64(1)).view(np.int64))
    x[np.repeat(gs + 2 - _cumsum0(m), m) + np.arange(len(dod))] = dod
    if T:
        c = np.cumsum(x)
        x = c - _seg_start_values(c, n, gs)
    x[gs[has1]] = _be(pb, base[has1] + 5, 8).view(np.int64)
    if T:
        c = np.cumsum(x)
        x = c - _seg_start_values(c, n, gs)
    return x, n


def decode_gorilla_many(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Decode every value block of a binary Arrow array (or a list of
    bytes) at once: returns (all float64 values back to back; point count
    per block). A NULL blob or a bad tag raises ``ValueError``."""
    pb, base, lens = _blob_buffers(blobs, "value")
    n = _check_head(pb, base, lens, _MAGIC_VAL2, 6, "value")
    gs = _cumsum0(n)
    m = np.maximum(n - 1, 0)
    block = pb[base + 5].astype(np.int64)
    if ((block < 1) | (block > 64))[m > 0].any():
        raise ValueError("corrupt value block: block must be in 1..64")
    head = 6 + 8 * np.minimum(n, 1)
    lane_pos, lane_len = _lanes(
        pb, lens, m, 8 * np.maximum(block, 1), base + 14, head, "value"
    )
    starts, widths, shifts = _gorilla_walk(pb, lane_pos, lane_len)
    x = np.zeros(int(n.sum()), dtype=_U64)
    has1 = n >= 1
    x[gs[has1]] = _be(pb, base[has1] + 6, 8)
    x[np.repeat(gs + 1 - _cumsum0(m), m) + np.arange(len(starts))] = _xors(
        pb, starts, widths, shifts
    )
    if len(x):
        acc = np.bitwise_xor.accumulate(x)
        x = acc ^ _seg_start_values(acc, n, gs)
    return x.view(np.float64), n


# -- single-blob decode -----------------------------------------------------


def decode_timestamps(blob: bytes) -> np.ndarray:
    """Decode one timestamp block: a one-blob ``decode_timestamps_many``."""
    return decode_timestamps_many([blob])[0]


def decode_gorilla(blob: bytes) -> np.ndarray:
    """Decode one value block: a one-blob ``decode_gorilla_many``."""
    return decode_gorilla_many([blob])[0]
