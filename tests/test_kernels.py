"""Round-trip + wire-format tests for the numpy kernels (SURVEY.md §5.2.1-2).

Round-trip bit-identity is the reference's correctness contract
(BASELINE.json north_star: "round-trip encode/decode tests: every decoded
column is bit-identical"). The K3 wire format additionally has hand-computed
vectors straight from parquet-format Encodings.md (RLE=3).
"""

import numpy as np
import pytest

from plc import kernels as K

RNG = np.random.default_rng(42)


# ---------------------------------------------------------------- bitpack K2
@pytest.mark.parametrize("w", list(range(1, 33)) + [40, 64])
def test_bitpack_roundtrip_width_sweep(w):
    hi = (1 << w) - 1
    vals = [0, 1, hi, hi - 1 if hi else 0, hi // 2]
    arr = np.array(
        vals * 5 + list(RNG.integers(0, hi + 1 if hi < 2**63 else 2**63, 37)),
        dtype=np.uint64,
    )
    arr &= np.uint64(hi) if w < 64 else np.uint64(2**64 - 1)
    out = K.bitunpack(K.bitpack(arr, w), w, arr.size)
    np.testing.assert_array_equal(out, arr)


def test_bitpack_w0_and_empty():
    assert K.bitpack(np.array([], dtype=np.uint64), 7) == b""
    assert K.bitpack(np.zeros(5, dtype=np.uint64), 0) == b""
    np.testing.assert_array_equal(
        K.bitunpack(b"", 0, 5), np.zeros(5, dtype=np.uint64)
    )


def test_bitpack_parquet_bit_order():
    # Encodings.md example: values 0..7 at w=3 pack to 0b10001000,
    # 0b11000110, 0b11111010 (LSB-first, value-major).
    arr = np.arange(8, dtype=np.uint64)
    assert K.bitpack(arr, 3) == bytes([0b10001000, 0b11000110, 0b11111010])


def _unpackbits_reference(buf, w: int, n: int) -> np.ndarray:
    """Bit-at-a-time reference decoder: parquet bit-packed order through
    ``np.unpackbits``, one pass per bit of width."""
    out = np.zeros(n, dtype=np.uint64)
    if w == 0 or n == 0:
        return out
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8),
                         bitorder="little", count=n * w).reshape(n, w)
    for j in range(w):
        out |= bits[:, j].astype(np.uint64) << np.uint64(j)
    return out


@pytest.mark.parametrize("w", range(65))
def test_bitunpack_matches_unpackbits_reference(w):
    """The word-gather bitunpack equals the bit-at-a-time reference for
    every width, on random packed bytes with trailing bytes, from bytes,
    from a read-only memoryview slice at an odd offset (as FOR frames
    pass their payload) and from a read-only numpy array; the result is
    uint64 and bitpack's inverse."""
    rng = np.random.default_rng(w)
    for n in (0, 1, 7, 8, 9, 1000, 2**18 + 3):
        nbytes = (n * w + 7) // 8
        packed = rng.integers(0, 256, nbytes + 5, dtype=np.uint8).tobytes()
        want = _unpackbits_reference(packed, w, n)
        head = 3 + 2 * (w % 4)  # odd offsets 3, 5, 7, 9
        view = memoryview(b"\x5a" * head + packed)[head:]
        ro = np.frombuffer(packed, dtype=np.uint8)
        assert not ro.flags.writeable
        for buf in (packed, view, ro):
            got = K.bitunpack(buf, w, n)
            assert got.dtype == np.uint64 and got.shape == (n,), (w, n)
            np.testing.assert_array_equal(got, want, err_msg=f"w={w} n={n}")
        np.testing.assert_array_equal(
            K.bitunpack(K.bitpack(want, w), w, n), want)


@pytest.mark.parametrize("dtype", ["int8", "int16", "int32", "int64",
                                   "uint8", "uint16", "uint32", "uint64"])
def test_for_and_rle_for_roundtrip_keep_dtype(dtype):
    """FOR and RLE-over-FOR decode to the stored dtype and values: full
    type range, a narrow range with runs, and a constant column."""
    info = np.iinfo(dtype)
    rng = np.random.default_rng(7)
    full = rng.integers(info.min, info.max, 3001, dtype=dtype, endpoint=True)
    full[:2] = info.min, info.max
    runs = np.repeat(rng.integers(info.min // 2, info.max // 2 + 1, 40,
                                  dtype=dtype, endpoint=True),
                     rng.integers(1, 30, 40))
    for arr in (full, runs, np.full(17, info.max, dtype=dtype)):
        for enc, dec in ((K.for_encode, K.for_decode),
                         (K.rle_for_encode, K.rle_for_decode)):
            ref, w, buf = enc(arr)
            out = dec(ref, w, buf, arr.size, np.dtype(dtype))
            assert out.dtype == np.dtype(dtype), (dtype, enc.__name__)
            np.testing.assert_array_equal(out, arr,
                                          err_msg=f"{dtype} {enc.__name__}")


# ---------------------------------------------------------------- varint
def test_varint_roundtrip():
    vals = [0, 1, 127, 128, 300, 2**20, 2**35]
    buf = K.varint_encode(vals)
    pos = 0
    for v in vals:
        got, pos = K.varint_decode_one(buf, pos)
        assert got == v
    assert pos == len(buf)


# ---------------------------------------------------------------- RLE hybrid K3
def _rt_rle(arr, w=None):
    arr = np.asarray(arr, dtype=np.uint64)
    if w is None:
        w = K.bits_needed(int(arr.max()) if arr.size else 0)
    buf = K.rle_hybrid_encode(arr, w)
    out = K.rle_hybrid_decode(buf, w, arr.size)
    np.testing.assert_array_equal(out, arr)
    return buf


def test_rle_known_vector_pure_run():
    # 100 copies of value 4 at w=3: header = 100<<1 = 200 → varint c8 01,
    # then one value byte 0x04 (Encodings.md RLE run).
    buf = K.rle_hybrid_encode(np.full(100, 4, dtype=np.uint64), 3)
    assert buf == bytes([0xC8, 0x01, 0x04])


def test_rle_known_vector_bitpacked():
    # 0..7 at w=3, no runs → one bit-packed run of 1 group:
    # header (1<<1)|1 = 3, then the 3 bytes from the bit-order test.
    buf = K.rle_hybrid_encode(np.arange(8, dtype=np.uint64), 3)
    assert buf == bytes([0x03, 0b10001000, 0b11000110, 0b11111010])


def test_rle_regimes():
    _rt_rle(np.zeros(1000))                       # constant
    _rt_rle(np.arange(1000) % 2)                  # alternating, w=1
    _rt_rle(RNG.integers(0, 50257, 5000))         # high entropy
    _rt_rle(np.repeat(RNG.integers(0, 100, 50), RNG.integers(1, 40, 50)))  # runs
    _rt_rle(np.array([7]))                        # single value
    _rt_rle(np.array([], dtype=np.uint64))        # empty
    # short run sandwiched between long runs (steal-alignment path)
    _rt_rle(np.concatenate([np.full(20, 1), np.arange(5), np.full(33, 9)]))
    # long run immediately after 1..7 pending values (steal kills alignment)
    for pend in range(1, 8):
        _rt_rle(np.concatenate([np.arange(pend), np.full(8, 3)]))
        _rt_rle(np.concatenate([np.arange(pend), np.full(9, 3), np.arange(pend)]))


def test_rle_wide_values():
    _rt_rle(np.full(50, 2**40, dtype=np.uint64), 41)
    _rt_rle(RNG.integers(0, 2**33, 100).astype(np.uint64), 33)


# ---------------------------------------------------------------- FOR K5
def test_for_roundtrip_regimes():
    cases = [
        RNG.integers(1000, 1255, 5000).astype(np.int32),   # small-range, w=8
        RNG.integers(0, 50257, 5000).astype(np.int32),     # vocab, w=16
        np.full(100, -7, dtype=np.int32),                  # constant negative
        np.array([2**31 - 1, -(2**31)], dtype=np.int32),   # extremes
        np.array([], dtype=np.int32),
        np.array([42], dtype=np.int32),
    ]
    for arr in cases:
        ref, w, buf = K.for_encode(arr)
        out = K.for_decode(ref, w, buf, arr.size, np.int32)
        np.testing.assert_array_equal(out, arr)
        assert out.dtype == np.int32


def test_rle_for_roundtrip():
    arr = np.repeat(np.array([5, 5, 5, 900, 900, 12], dtype=np.int64), 30)
    ref, w, buf = K.rle_for_encode(arr)
    np.testing.assert_array_equal(K.rle_for_decode(ref, w, buf, arr.size), arr)
    # sorted data should compress far below plain
    assert len(buf) < arr.size * 8 // 10


# ---------------------------------------------------------------- plain K1
def test_plain_roundtrip():
    for dt in (np.int32, np.int64, np.float64, np.uint8):
        arr = RNG.integers(0, 100, 64).astype(dt)
        np.testing.assert_array_equal(
            K.plain_decode(K.plain_encode(arr), dt, 64), arr
        )


def test_run_count():
    assert K.run_count(np.array([1, 1, 2, 2, 2, 3])) == 3
    assert K.run_count(np.array([], dtype=np.int64)) == 0
    assert K.run_count(np.array([9])) == 1
