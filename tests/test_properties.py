"""Property-based round-trip tests (hypothesis) — SURVEY.md §5.2.1 notes
property tests as an optional strengthening of the deterministic fixtures.
Each property is the reference's core contract: dec(enc(x)) == x."""

import numpy as np
from hypothesis import given, settings, strategies as st

from plc import kernels as K
from plc import fsst

settings.register_profile("ci", max_examples=60, deadline=None)
settings.load_profile("ci")

ints32 = st.lists(st.integers(-(2**31), 2**31 - 1), max_size=300)


@given(ints32)
def test_for_roundtrip_any_int32(xs):
    arr = np.array(xs, dtype=np.int32)
    ref, w, buf = K.for_encode(arr)
    np.testing.assert_array_equal(K.for_decode(ref, w, buf, arr.size, np.int32), arr)


@given(st.lists(st.integers(0, 2**20), max_size=400), st.integers(21, 33))
def test_rle_hybrid_roundtrip(xs, w):
    arr = np.array(xs, dtype=np.uint64)
    out = K.rle_hybrid_decode(K.rle_hybrid_encode(arr, w), w, arr.size)
    np.testing.assert_array_equal(out, arr)


@given(st.lists(st.integers(0, 255), min_size=1, max_size=50),
       st.integers(1, 40))
def test_rle_with_injected_runs(xs, rep):
    arr = np.repeat(np.array(xs, dtype=np.uint64), rep)
    out = K.rle_hybrid_decode(K.rle_hybrid_encode(arr, 8), 8, arr.size)
    np.testing.assert_array_equal(out, arr)


@given(st.lists(st.binary(max_size=40), max_size=60))
def test_fsst_roundtrip_arbitrary_binary(strings):
    data = np.frombuffer(b"".join(strings), np.uint8)
    lengths = np.array([len(s) for s in strings], np.int64)
    blob, codes, code_lens = fsst.fsst_encode(data, lengths)
    out = fsst.fsst_decode(blob, codes, code_lens)
    assert out.tobytes() == data.tobytes()


@given(st.integers(1, 64), st.lists(st.integers(0, 2**63 - 1), max_size=200))
def test_bitpack_roundtrip_masked(w, xs):
    hi = (1 << w) - 1
    arr = np.array(xs, dtype=np.uint64) & np.uint64(hi)
    out = K.bitunpack(K.bitpack(arr, w), w, arr.size)
    np.testing.assert_array_equal(out, arr)


@given(st.lists(st.integers(-(2**31), 2**31 - 1), max_size=300))
def test_forbp_roundtrip_any_int32(xs):
    from plc import chunk as C

    arr = np.array(xs, dtype=np.int32)
    if arr.size == 0:
        return
    frame = C._forbp_frame(arr)
    out, _ = C.decode_frame(memoryview(frame), 0)
    np.testing.assert_array_equal(out, arr)
    assert out.dtype == arr.dtype


@given(st.lists(st.integers(-(2**62), 2**62 - 1), min_size=1, max_size=200))
def test_forbp_roundtrip_int64(xs):
    from plc import chunk as C

    arr = np.array(xs, dtype=np.int64)
    frame = C._forbp_frame(arr)
    out, _ = C.decode_frame(memoryview(frame), 0)
    np.testing.assert_array_equal(out, arr)


@given(st.lists(st.floats(allow_nan=False, width=32), min_size=1,
                max_size=300))
def test_byteplane_roundtrip_float32(xs):
    from plc import chunk as C

    arr = np.array(xs, dtype=np.float32)
    frame = C._byteplane_frame(arr)
    out, _ = C.decode_frame(memoryview(frame), 0)
    np.testing.assert_array_equal(out, arr)


# ---------------------------------------------------------------------------
# generative chunk-container property: pack→unpack over random schemas
# ---------------------------------------------------------------------------

import pyarrow as pa  # noqa: E402

_COL_STRATEGIES = [
    ("i32", st.lists(st.one_of(st.none(),
                               st.integers(-(2**31), 2**31 - 1)))),
    ("i64", st.lists(st.one_of(st.none(),
                               st.integers(-(2**62), 2**62 - 1)))),
    ("f32", st.lists(st.one_of(st.none(),
                               st.floats(allow_nan=False, width=32)))),
    ("f64", st.lists(st.one_of(st.none(),
                               st.floats(allow_nan=False)))),
    ("boolc", st.lists(st.one_of(st.none(), st.booleans()))),
    ("strc", st.lists(st.one_of(st.none(), st.text(max_size=20)))),
    ("binc", st.lists(st.one_of(st.none(), st.binary(max_size=30)))),
    ("li32", st.lists(st.one_of(
        st.none(), st.lists(st.integers(-(2**31), 2**31 - 1),
                            max_size=8)))),
    ("lf32", st.lists(st.one_of(
        st.none(), st.lists(st.floats(allow_nan=False, width=32),
                            max_size=8)))),
    ("tsc", st.lists(st.one_of(st.none(),
                               st.integers(-(2**60), 2**60 - 1)))),
    ("decc", st.lists(st.one_of(st.none(),
                                st.integers(-(10**24), 10**24)))),
    ("stc", st.lists(st.one_of(
        st.none(),
        st.fixed_dictionaries({
            "x": st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
            "y": st.one_of(st.none(), st.text(max_size=8)),
        })))),
    ("mapc", st.lists(st.one_of(
        st.none(),
        st.dictionaries(st.integers(0, 1000),
                        st.one_of(st.none(), st.text(max_size=6)),
                        max_size=5)))),
]
_PA_TYPES = {
    "i32": pa.int32(), "i64": pa.int64(), "f32": pa.float32(),
    "f64": pa.float64(), "boolc": pa.bool_(), "strc": pa.string(),
    "binc": pa.binary(), "li32": pa.list_(pa.int32()),
    "lf32": pa.list_(pa.float32()), "tsc": pa.timestamp("us"),
    "decc": pa.decimal128(30, 4),
    "stc": pa.struct([("x", pa.int32()), ("y", pa.string())]),
    "mapc": pa.map_(pa.int32(), pa.string()),
}


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.none(), st.integers(-(2**60), 2**60 - 1)),
                max_size=300),
       st.sampled_from(["s", "ms", "us", "ns"]),
       st.sampled_from([None, "UTC"]))
def test_timestamp_nulls_roundtrip(xs, unit, tz):
    """VERDICT r2 'Next round' #1 done-criterion: hypothesis roundtrip over
    timestamps-with-nulls across units and tz tags."""
    from plc.chunk import EncodeConfig, pack_chunk, unpack_chunk

    arr = pa.array(xs, pa.timestamp(unit, tz=tz))
    batch = pa.RecordBatch.from_arrays([arr], names=["ts"])
    blob, _ = pack_chunk(batch, EncodeConfig())
    assert unpack_chunk(blob).column("ts").equals(arr)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 30), st.data())
def test_pack_unpack_random_schema(n_rows, data):
    """Any mix of supported column types with arbitrary nulls must survive
    pack_chunk→unpack_chunk bit-identically (the reference's correctness
    contract, generatively)."""
    from plc.chunk import EncodeConfig, pack_chunk, unpack_chunk

    picked = data.draw(st.lists(st.sampled_from(_COL_STRATEGIES),
                                min_size=1, max_size=4, unique_by=str))
    cols, names = [], []
    for name, strat in picked:
        values = data.draw(
            strat.map(lambda xs: (xs + [None] * n_rows)[:n_rows]))
        cols.append(pa.array(values, _PA_TYPES[name]))
        names.append(name)
    batch = pa.RecordBatch.from_arrays(cols, names=names)
    blob, _ = pack_chunk(batch, EncodeConfig())
    out = unpack_chunk(blob)
    for nm in names:
        assert out.column(nm).equals(batch.column(nm)), nm


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=40), min_size=1, max_size=60,
                unique=True),
       st.text(min_size=1, max_size=40))
def test_bloom_no_false_negatives(present, probe):
    """The doc_id chunk bloom can never produce a false NEGATIVE for any
    unicode value (a false negative would silently drop a chunk a point
    decode needs); absent probes may rarely pass (superset pruning)."""
    from plc.chunk import _bloom_build, bloom_might_contain

    st_ = _bloom_build(pa.array(present, pa.string()))
    assert st_ is not None
    for v in present:
        assert bloom_might_contain(st_, v, st_["bloom"])
    if probe not in present:
        # no assertion on the outcome (FPs allowed) — but the probe must
        # never raise on arbitrary unicode
        bloom_might_contain(st_, probe, st_["bloom"])


@settings(max_examples=200, deadline=None)
@given(st.text(min_size=1, max_size=12), st.text(min_size=0, max_size=12))
def test_prefix_upper_bounds_every_extension(prefix, suffix):
    """StringStartsWith pushdown safety: every string extending `prefix`
    must satisfy prefix <= s <= _prefix_upper(prefix) (inclusive range
    used for chunk pruning), for ANY unicode prefix — an upper bound
    that excluded a real match would silently drop chunks."""
    from plc.datasource import _prefix_upper

    s = prefix + suffix
    upper = _prefix_upper(prefix)
    assert s >= prefix
    if upper is not None:
        assert s <= upper, (prefix, suffix, upper)
    # and the bound is a genuine non-match boundary: upper itself never
    # extends a prefix whose last kept char was incremented past it
    if upper is not None:
        assert not upper.startswith(prefix) or upper == prefix
