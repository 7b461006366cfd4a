"""Vectorized numpy encode/decode kernels (SURVEY.md §2 Part A, K1-K5, K7).

These are the per-column-chunk codecs that run inside ``mapInArrow`` Python
workers — no per-row Python anywhere; every kernel operates on whole numpy
arrays (BASELINE.json input_hint: "vectorized pandas/Arrow UDFs (no per-row
Python) throughout").

Wire formats:
- bitpack: parquet bit-packed order — values LSB-first, value-major, packed
  little-endian into bytes (parquet-format Encodings.md "bit-packed run").
- rle_hybrid: the parquet RLE/bit-packing hybrid byte format
  (Encodings.md, encoding id RLE=3): varint headers, ``h&1==0`` → RLE run of
  ``h>>1`` copies of one ceil(w/8)-byte LE value; ``h&1==1`` → ``(h>>1)*8``
  bit-packed values.
- frame-of-reference (FOR): per-chunk i64 reference + bit-packed deltas
  (Zukowski et al., ICDE 2006; parquet analogue DELTA_BINARY_PACKED).

Reference citation note (SURVEY.md §0): /root/reference is empty in this
sandbox, so kernels are built to the public parquet-format spec and papers,
not to reference file:line cites.
"""

from __future__ import annotations

import numpy as np

# --------------------------------------------------------------------------
# small helpers
# --------------------------------------------------------------------------


def bits_needed(max_val: int) -> int:
    """Width in bits to represent values in [0, max_val]."""
    if max_val <= 0:
        return 0
    return int(max_val).bit_length()


def varint_encode(values) -> bytes:
    """ULEB128-encode a sequence of non-negative ints (header use only)."""
    out = bytearray()
    for v in values:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def varint_decode_one(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode one ULEB128 varint at ``pos``; return (value, new_pos)."""
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


# --------------------------------------------------------------------------
# K2: bit-packing (parquet bit-packed order: LSB-first, value-major)
# --------------------------------------------------------------------------

_BYTE_ALIGNED = {8: np.uint8, 16: np.uint16, 32: np.uint32, 64: np.uint64}


def bitpack(arr: np.ndarray, w: int) -> bytes:
    """Pack non-negative ints (< 2**w) into ``w`` bits each.

    Byte-aligned widths take a direct-cast fast path; generic widths build a
    little-endian bit matrix and use ``np.packbits`` (C speed).
    """
    n = arr.size
    if w == 0 or n == 0:
        return b""
    if w in _BYTE_ALIGNED:
        return np.ascontiguousarray(arr.astype(_BYTE_ALIGNED[w], copy=False)).tobytes()
    a = arr  # any unsigned dtype wide enough for w works; avoid widening
    if a.dtype.kind != "u":
        a = a.astype(np.uint64, copy=False)
    shift_t = a.dtype.type
    bits = np.empty((n, w), dtype=np.uint8)
    for j in range(w):  # loop over bit positions (<=64), each pass vectorized over n
        np.bitwise_and(a >> shift_t(j), 1, out=bits[:, j], casting="unsafe")
    return np.packbits(bits.reshape(-1), bitorder="little").tobytes()


def bitunpack(buf: bytes | memoryview, w: int, n: int) -> np.ndarray:
    """Inverse of :func:`bitpack`; returns uint64[n].

    Word-gather (the positional addressing of fixed-width packing, Zukowski
    et al., ICDE 2006): eight w-bit values fill exactly w bytes, so value
    j of every 8-value group starts at bit ``j*w`` of its group's w bytes.
    For each of the 8 slots one strided, unaligned little-endian word view
    (byte offset ``j*w >> 3``, stride w) is shifted right by ``j*w & 7``
    and masked: 8 x 2 vectorised passes over n/8 values. A 4-byte window
    covers w <= 25 (shift + w <= 32), an 8-byte one the rest; at w >= 58 a
    value can span 9 bytes, so the slots that overflow the word OR in the
    next byte. Byte-aligned widths are a plain widening cast."""
    if w == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    if w in _BYTE_ALIGNED:
        dt = _BYTE_ALIGNED[w]
        return np.frombuffer(buf, dtype=dt, count=n).astype(np.uint64)
    groups = (n + 7) // 8
    # a zero-padded copy: every window of the last group stays in bounds,
    # a short final group reads zeros, and trailing bytes are ignored
    src = np.frombuffer(buf, dtype=np.uint8)
    padded = np.zeros(groups * w + 9, dtype=np.uint8)
    k = min(src.size, groups * w)
    padded[:k] = src[:k]
    wt = np.uint32 if w <= 25 else np.uint64
    window = np.dtype(wt).newbyteorder("<")
    mask = wt((1 << w) - 1)
    word = np.empty(groups, dtype=wt)
    out = np.empty((groups, 8), dtype=np.uint64)
    for j in range(8):
        off, shift = (j * w) >> 3, (j * w) & 7
        np.right_shift(np.ndarray((groups,), window, padded, off, (w,)),
                       wt(shift), out=word)
        if shift + w > 64:
            nxt = np.ndarray((groups,), np.uint8, padded, off + 8, (w,))
            word |= nxt.astype(np.uint64) << np.uint64(64 - shift)
        np.bitwise_and(word, mask, out=out[:, j], casting="unsafe")
    return out.reshape(-1)[:n]


# --------------------------------------------------------------------------
# K1: plain encode (raw little-endian values)
# --------------------------------------------------------------------------


def plain_encode(arr: np.ndarray) -> bytes:
    return np.ascontiguousarray(arr).astype(arr.dtype.newbyteorder("<")).tobytes()


def plain_decode(buf, dtype, n: int) -> np.ndarray:
    return np.frombuffer(buf, dtype=np.dtype(dtype).newbyteorder("<"), count=n).astype(
        dtype, copy=False
    )


# --------------------------------------------------------------------------
# K3 / K7: RLE / bit-packing hybrid (parquet Encodings.md, RLE=3)
# --------------------------------------------------------------------------

_RLE_MIN_RUN = 8  # runs shorter than this go to bit-packed segments


def _rle_value_bytes(v: int, w: int) -> bytes:
    nb = (w + 7) // 8
    return int(v).to_bytes(max(nb, 1), "little") if w > 0 else b""


def _varint_columns(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized ULEB128: returns (byte matrix [k, maxw] uint8, lens[k]).
    Column j holds byte j of each varint; rows use only their first len_j
    columns."""
    vals = vals.astype(np.uint64, copy=False)
    k = vals.size
    cols = []
    lens = np.ones(k, dtype=np.int64)
    j = 0
    while True:
        shifted = vals >> np.uint64(7 * j)
        byte = (shifted & np.uint64(0x7F)).astype(np.uint8)
        more = (vals >> np.uint64(7 * (j + 1))) > 0
        byte |= more.astype(np.uint8) << np.uint8(7)
        cols.append(byte)
        lens = np.where(more, j + 2, lens)
        j += 1
        if not more.any() or j >= 10:
            break
    return np.stack(cols, axis=1), lens


def rle_hybrid_encode(arr: np.ndarray, w: int) -> bytes:
    """Encode non-negative ints (< 2**w) in the parquet RLE/bit-pack hybrid
    wire format.

    Fully vectorized: run detection, header varints, RLE value bytes, and
    bit-packing are whole-array numpy ops assembled by columnwise scatters.
    The only Python loop is the mod-8 steal/fold resolution over *long* runs
    (RLE candidates, ≥ 8 equal values) — short runs never enter a loop, so
    borderline data (avg run ~2-3) costs no per-run Python. Output is
    byte-identical to the straightforward segment-at-a-time encoder.
    """
    n = arr.size
    if n == 0:
        return b""
    a = arr.astype(np.uint64, copy=False)
    # run detection (vectorized)
    change = np.flatnonzero(np.diff(a)) + 1
    starts = np.concatenate(([0], change))
    lens = np.diff(np.concatenate((starts, [n])))
    long_idx = np.flatnonzero(lens >= _RLE_MIN_RUN)

    # resolve RLE-run placement: steal run-head values so each preceding
    # bit-packed region is a multiple of 8 (mid-stream pad is illegal);
    # fold runs that stealing would shrink below the minimum. Sequential
    # mod-8 recurrence, but only over long runs.
    rle_starts, rle_lens = [], []
    prev_end = 0  # end of the last emitted RLE run (pending resets to 0)
    for j in long_idx:
        s, ln = int(starts[j]), int(lens[j])
        steal = (s - prev_end) and (-(s - prev_end)) % 8
        if ln - steal >= _RLE_MIN_RUN:
            rle_starts.append(s + steal)
            rle_lens.append(ln - steal)
            prev_end = s + ln
    m = len(rle_starts)
    if m == 0:
        # single bit-packed stream (common for high-entropy planes): one
        # header + one bitpack call, no assembly machinery
        ngroups = (n + 7) // 8
        seg = a if n == ngroups * 8 else np.concatenate(
            (a, np.zeros(ngroups * 8 - n, dtype=np.uint64)))
        return varint_encode([(ngroups << 1) | 1]) + bitpack(seg, w)
    rs = np.array(rle_starts, dtype=np.int64)
    rl = np.array(rle_lens, dtype=np.int64)

    # bit-packed regions fill the gaps: slots bp_0, rle_0, bp_1, ... bp_m
    bp_starts = np.concatenate(([0], rs + rl))
    bp_lens = np.concatenate((rs, [n])) - bp_starts
    ngroups = bp_lens // 8
    if bp_lens[-1] % 8:
        ngroups[-1] += 1  # final region may zero-pad to a full group
    nb = (w + 7) // 8 if w > 0 else 0  # RLE value byte width

    # headers (vectorized varints) and per-slot byte lengths
    bp_hdr, bp_hlen = _varint_columns((ngroups << 1) | 1)
    bp_piece = np.where(bp_lens > 0, bp_hlen + ngroups * w, 0)
    rle_hdr, rle_hlen = _varint_columns((rl << 1).astype(np.uint64))
    rle_piece = rle_hlen + nb
    slot_lens = np.empty(2 * m + 1, dtype=np.int64)
    slot_lens[0::2] = bp_piece
    slot_lens[1::2] = rle_piece
    offsets = np.concatenate(([0], np.cumsum(slot_lens)))[:-1]
    out = np.zeros(int(slot_lens.sum()), dtype=np.uint8)

    # scatter headers columnwise (≤ a handful of vectorized assignments)
    bp_off = offsets[0::2]
    live = bp_lens > 0
    for jcol in range(bp_hdr.shape[1]):
        sel = live & (bp_hlen > jcol)
        out[bp_off[sel] + jcol] = bp_hdr[sel, jcol]
    rle_off = offsets[1::2]
    for jcol in range(rle_hdr.shape[1]):
        sel = rle_hlen > jcol
        out[rle_off[sel] + jcol] = rle_hdr[sel, jcol]
    # RLE values: little-endian nb-byte columns
    if nb:
        vbytes = a[rs].astype("<u8").view(np.uint8).reshape(m, 8)
        vpos = rle_off + rle_hlen
        for jcol in range(nb):
            out[vpos + jcol] = vbytes[:, jcol]

    # bit-packed payload: pack every gap value in ONE bitpack call (legal:
    # every region is a multiple of 8 values except the zero-padded final),
    # then memcpy each region's packed bytes to its slot
    keep = np.zeros(n + 1, dtype=np.int8)
    np.subtract.at(keep, rs, 1)
    np.add.at(keep, rs + rl, 1)
    keep = np.cumsum(keep[:-1]) == 0
    vals_bp = a[keep]
    pad = int(ngroups.sum() * 8 - vals_bp.size)
    if pad:
        vals_bp = np.concatenate((vals_bp, np.zeros(pad, dtype=np.uint64)))
    packed = np.frombuffer(bitpack(vals_bp, w), dtype=np.uint8)
    if packed.size:
        region_bytes = ngroups * w
        src = 0
        dst_pos = bp_off + bp_hlen
        for i in np.flatnonzero(region_bytes):
            L = int(region_bytes[i])
            d = int(dst_pos[i])
            out[d : d + L] = packed[src : src + L]
            src += L
    return out.tobytes()


def _concat_ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Vectorized concatenation of ranges: [s0..s0+l0) ++ [s1..s1+l1) ...
    (the gather/scatter index builder both hybrid codec directions use)."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    off = np.concatenate(([0], np.cumsum(lens)[:-1]))
    intra = np.arange(total, dtype=np.int64) - np.repeat(off, lens)
    return np.repeat(starts.astype(np.int64), lens) + intra


def rle_hybrid_decode(buf: bytes | memoryview, w: int, n: int) -> np.ndarray:
    """Inverse of :func:`rle_hybrid_encode`; returns uint64[n].

    Vectorized (VERDICT r2 'Next round' #2): a light header-only scan walks
    the varint headers (O(segments) integer ops, no per-segment payload
    work), then ALL RLE runs expand in one np.repeat and ALL bit-packed
    groups decode through ONE bitunpack call with vectorized gather/scatter
    — no per-value Python regardless of run structure."""
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if w == 0:  # every delta is zero; headers carry no payload
        return np.zeros(n, dtype=np.uint64)
    b = bytes(buf)
    u8 = np.frombuffer(b, dtype=np.uint8)
    nb = (w + 7) // 8
    out = np.empty(n, dtype=np.uint64)

    # header-only scan (inlined varint; ~2 int ops per non-header byte)
    bp_pos, bp_groups, bp_start = [], [], []
    rle_pos, rle_cnt, rle_start = [], [], []
    pos = 0
    filled = 0
    while filled < n:
        byte = b[pos]
        pos += 1
        h = byte & 0x7F
        shift = 7
        while byte & 0x80:
            byte = b[pos]
            pos += 1
            h |= (byte & 0x7F) << shift
            shift += 7
        if h & 1:  # bit-packed: (h>>1) groups of 8 values, (h>>1)*w bytes
            g = h >> 1
            bp_pos.append(pos)
            bp_groups.append(g)
            bp_start.append(filled)
            pos += g * w
            filled += min(g * 8, n - filled)
        else:  # RLE: (h>>1) copies of one nb-byte little-endian value
            rle_pos.append(pos)
            rle_cnt.append(h >> 1)
            rle_start.append(filled)
            pos += nb
            filled += h >> 1

    if rle_cnt:
        # values extracted vectorized (one byte-column OR per width byte);
        # expansion is per-run slice fills — a numpy slice fill with a
        # Python int is a memset, far cheaper on this box than the
        # repeat+fancy-scatter equivalent (np.repeat measured ~70 ns/elem)
        vpos = np.array(rle_pos, dtype=np.int64)
        vals = np.zeros(vpos.size, dtype=np.uint64)
        for j in range(nb):
            vals |= u8[vpos + j].astype(np.uint64) << np.uint64(8 * j)
        for v, c, s in zip(vals.tolist(), rle_cnt, rle_start):
            out[s : s + c] = v

    if bp_groups:
        if len(bp_groups) <= 256:
            # few bit-packed segments (incl. the dominant single-stream
            # high-entropy case): decode each in place, no gather
            for p, g, s in zip(bp_pos, bp_groups, bp_start):
                vals = bitunpack(u8[p : p + g * w], w, g * 8)
                take = min(g * 8, n - s)
                out[s : s + take] = vals[:take]
        else:
            # many short segments: one gathered payload + ONE bitunpack
            # call (per-call overhead dominates otherwise),
            # then per-segment slice copies back
            ppos = np.array(bp_pos, dtype=np.int64)
            ng = np.array(bp_groups, dtype=np.int64)
            payload = u8[_concat_ranges(ppos, ng * w)]
            vals = bitunpack(payload, w, int(ng.sum()) * 8)
            voff = 0
            for g, s in zip(bp_groups, bp_start):
                take = min(g * 8, n - s)
                out[s : s + take] = vals[voff : voff + take]
                voff += g * 8
    return out


# --------------------------------------------------------------------------
# K5: frame-of-reference + bit-pack
# --------------------------------------------------------------------------


def for_encode(arr: np.ndarray) -> tuple[int, int, bytes]:
    """FOR: returns (reference, width, packed-deltas). Works for any signed
    int dtype; deltas = arr - min(arr) are non-negative."""
    if arr.size == 0:
        return 0, 0, b""
    if arr.dtype == np.int32:
        # int32 fast path: mod-2^32 subtraction is exact for any int32 range
        # (true delta < 2^32), so no widening copy is needed
        ref = int(arr.min())
        hi = int(arr.max())
        deltas = (arr - np.int32(ref)).view(np.uint32)
        w = bits_needed(hi - ref)
        return ref, w, bitpack(deltas, w)
    a = arr.astype(np.int64, copy=False)
    ref = int(a.min())
    deltas = (a - np.int64(ref)).view(np.uint64)  # non-negative by construction
    w = bits_needed(int(deltas.max()))
    return ref, w, bitpack(deltas, w)


def _add_ref(deltas: np.ndarray, ref: int, dtype) -> np.ndarray:
    """``deltas + ref`` as ``dtype`` in one pass: in place when ``dtype``
    is int64 (``deltas`` is the decoder's own fresh array), else straight
    into the narrower output (mod-2**64 wrap, as the encoder's deltas)."""
    d = deltas.view(np.int64)
    out = d if np.dtype(dtype) == d.dtype else np.empty(d.size, dtype)
    return np.add(d, np.int64(ref), out=out, casting="unsafe")


def for_decode(ref: int, w: int, buf, n: int, dtype=np.int64) -> np.ndarray:
    return _add_ref(bitunpack(buf, w, n), ref, dtype)


def rle_for_encode(arr: np.ndarray) -> tuple[int, int, bytes]:
    """RLE over FOR-shifted values: (ref, width, rle_hybrid payload)."""
    if arr.size == 0:
        return 0, 0, b""
    a = arr.astype(np.int64, copy=False)
    ref = int(a.min())
    deltas = (a - np.int64(ref)).view(np.uint64)  # non-negative by construction
    w = bits_needed(int(deltas.max()))
    return ref, w, rle_hybrid_encode(deltas, w)


def rle_for_decode(ref: int, w: int, buf, n: int, dtype=np.int64) -> np.ndarray:
    return _add_ref(rle_hybrid_decode(buf, w, n), ref, dtype)


# --------------------------------------------------------------------------
# run-length statistics input (K10 helper)
# --------------------------------------------------------------------------


def offsets_from_lengths(lengths: np.ndarray) -> np.ndarray:
    """int64[n+1] offsets with offsets[0] == 0 (shared by list/string planes)."""
    offsets = np.zeros(lengths.size + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return offsets


def run_count(arr: np.ndarray) -> int:
    """Number of equal-value runs (vectorized)."""
    if arr.size == 0:
        return 0
    return int(1 + np.count_nonzero(np.diff(arr.astype(np.int64, copy=False))))
