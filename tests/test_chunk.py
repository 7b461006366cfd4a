"""Chunk container round-trip tests: pack_chunk → unpack_chunk bit-identical
across every FIXTURES.md §1 value regime (SURVEY.md §5.2.1)."""

import numpy as np
import pyarrow as pa
import pytest

from plc.chunk import EncodeConfig, pack_chunk, unpack_chunk

RNG = np.random.default_rng(42)
CFG = EncodeConfig()


def _tokens_batch(tokens_rows, n=None):
    n = n or len(tokens_rows)
    return pa.RecordBatch.from_pydict({
        "doc_id": pa.array([f"doc-{i:012d}" for i in range(n)], pa.string()),
        "tokens": pa.array(tokens_rows, pa.list_(pa.int32())),
        "n_tok": pa.array([len(t) for t in tokens_rows], pa.int32()),
        "source": pa.array(
            np.array(["web", "books", "code", "wiki"])[RNG.integers(0, 4, n)]),
    })


def _assert_roundtrip(batch, cfg=CFG):
    blob, codecs = pack_chunk(batch, cfg)
    out = unpack_chunk(blob)
    assert out.num_rows == batch.num_rows
    for name in batch.schema.names:
        a, b = batch.column(name), out.column(name)
        assert a.cast(b.type).equals(b), f"column {name} mismatch"
    return len(blob), codecs


@pytest.mark.parametrize("regime", [
    "uniform", "zipf", "small-range", "runs", "constant", "empty-edge", "skew",
])
def test_tokens_regimes(regime):
    n = 500
    if regime == "uniform":
        rows = [RNG.integers(0, 50257, k).astype(np.int32).tolist()
                for k in RNG.integers(10, 200, n)]
    elif regime == "zipf":
        rows = [np.minimum(RNG.zipf(1.5, k), 50256).astype(np.int32).tolist()
                for k in RNG.integers(10, 200, n)]
    elif regime == "small-range":
        rows = [RNG.integers(1000, 1255, k).astype(np.int32).tolist()
                for k in RNG.integers(10, 200, n)]
    elif regime == "runs":
        rows = [np.sort(RNG.integers(0, 50, k)).astype(np.int32).tolist()
                for k in RNG.integers(10, 200, n)]
    elif regime == "constant":
        rows = [[7] * int(k) for k in RNG.integers(1, 50, n)]
    elif regime == "empty-edge":
        rows = [[], [1], [], [2**31 - 1, -(2**31)], []]
    else:  # skew
        rows = [[5] * (32768 if i == 0 else 8) for i in range(n)]
    batch = _tokens_batch(rows)
    enc_bytes, codecs = _assert_roundtrip(batch)
    raw = sum(len(r) for r in rows) * 4
    if regime in ("runs", "constant", "small-range"):
        assert enc_bytes < max(raw, 1), f"{regime}: {enc_bytes} vs raw {raw}"


def test_codec_selection_sanity():
    # constant column → rle; vocab ints → for/zstd; low-card strings → dict
    rows = [np.sort(RNG.integers(0, 30, 50)).astype(np.int32).tolist()
            for _ in range(400)]
    blob, codecs = pack_chunk(_tokens_batch(rows), CFG)
    assert set(codecs) == {"doc_id", "tokens", "n_tok", "source"}
    assert codecs["source"] in ("dict", "zstd")


def test_width_sweep_boundaries():
    for w in range(1, 32):
        vals = [0, (1 << w) - 1, 1 << (w - 1)]
        batch = _tokens_batch([np.array(vals, np.int32).tolist() for _ in range(40)])
        _assert_roundtrip(batch)


def test_nulls_int_and_string():
    batch = pa.RecordBatch.from_pydict({
        "a": pa.array([1, None, 3, None, 5], pa.int32()),
        "s": pa.array(["x", None, "z", "", None], pa.string()),
        "f": pa.array([1.5, None, 3.25, float("nan"), 0.0], pa.float64()),
    })
    blob, _ = pack_chunk(batch, CFG)
    out = unpack_chunk(blob)
    assert out.column("a").to_pylist() == [1, None, 3, None, 5]
    assert out.column("s").to_pylist() == ["x", None, "z", "", None]
    got_f = out.column("f").to_pylist()
    assert got_f[0] == 1.5 and got_f[1] is None and np.isnan(got_f[3])


def test_float_and_int64_columns():
    batch = pa.RecordBatch.from_pydict({
        "k": pa.array(RNG.integers(0, 2**40, 300), pa.int64()),
        "v": pa.array(RNG.random(300), pa.float64()),
    })
    _assert_roundtrip(batch)


def test_crc_detects_corruption():
    blob, _ = pack_chunk(_tokens_batch([[1, 2, 3]] * 10), CFG)
    bad = bytearray(blob)
    bad[-3] ^= 0xFF
    with pytest.raises(IOError):
        unpack_chunk(bytes(bad))


def test_empty_batch():
    batch = _tokens_batch([])
    _assert_roundtrip(batch)


def test_fsst_wins_on_long_doc_ids():
    # unique long ids with shared structure: dict can't win, FSST should
    n = 2000
    batch = pa.RecordBatch.from_pydict({
        "doc_id": pa.array([f"corpus/shard-{i % 7}/doc-{i:016d}.txt"
                            for i in range(n)])})
    cfg = EncodeConfig(use_zstd=False)
    blob, codecs = pack_chunk(batch, cfg)
    out = unpack_chunk(blob)
    assert out.column("doc_id").to_pylist() == batch.column("doc_id").to_pylist()
    raw = sum(len(f"corpus/shard-{i % 7}/doc-{i:016d}.txt") for i in range(n))
    assert len(blob) < raw * 0.75, f"{len(blob)} vs {raw}"


def test_nulls_in_list_column():
    batch = pa.RecordBatch.from_pydict({
        "doc_id": pa.array(["a", "b", "c"]),
        "tokens": pa.array([[1, 2], None, []], pa.list_(pa.int32())),
    })
    blob, codecs = pack_chunk(batch, CFG)
    out = unpack_chunk(blob)
    assert out.column("tokens").to_pylist() == [[1, 2], None, []]
    assert codecs["tokens"] == "nulls"


def test_float_list_binary_planes_roundtrip():
    """Round-trip every new plane type: float32/float64 scalars, float and
    int64 lists (embeddings shape), opaque binary, bool, small ints."""
    import numpy as np

    rng = np.random.default_rng(5)
    n = 1500
    emb = rng.normal(0, 0.15, (n, 64)).astype(np.float32)
    batch = pa.RecordBatch.from_pydict({
        "vec_id": pa.array(np.arange(n)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "score": pa.array(rng.normal(0, 1, n)),
        "payload": pa.array([bytes(rng.integers(0, 256, int(l)))
                             for l in rng.integers(0, 200, n)], pa.binary()),
        "flags": pa.array(rng.integers(0, 2, n).astype(bool)),
        "small": pa.array(rng.integers(0, 100, n).astype(np.int16)),
        "dlist": pa.array([[float(i), i * 2.5] for i in range(n)],
                          pa.list_(pa.float64())),
        "ilist64": pa.array([[int(i) * 10**10] for i in range(n)],
                            pa.list_(pa.int64())),
    })
    blob, codecs = pack_chunk(batch, EncodeConfig())
    out = unpack_chunk(blob)
    for name in batch.schema.names:
        assert out.column(name).equals(batch.column(name)), name
    assert codecs["embedding"] == "listgen"
    assert codecs["payload"] == "binary"


def test_byteplane_beats_plain_zstd_on_embeddings():
    """The float byte-plane split must compress normal-ish embeddings below
    raw float bytes (plain zstd on interleaved floats cannot)."""
    import numpy as np

    rng = np.random.default_rng(11)
    emb = rng.normal(0, 0.15, (4000, 64)).astype(np.float32)
    batch = pa.RecordBatch.from_pydict({
        "embedding": pa.array(list(emb), pa.list_(pa.float32()))})
    blob, _ = pack_chunk(batch, EncodeConfig())
    assert len(blob) < emb.nbytes * 0.95, (len(blob), emb.nbytes)


def test_nulls_in_new_plane_types():
    import numpy as np

    batch = pa.RecordBatch.from_pydict({
        "e": pa.array([[1.0, 2.0], None, [3.0]], pa.list_(pa.float32())),
        "b": pa.array([b"xx", None, b""], pa.binary()),
        "f": pa.array([1.5, None, 2.5], pa.float32()),
        "i": pa.array([1, None, 3], pa.int16()),
        "elem": pa.array([[1.0, None], [None], [2.0]], pa.list_(pa.float64())),
    })
    blob, codecs = pack_chunk(batch, CFG)
    out = unpack_chunk(blob)
    for name in batch.schema.names:
        assert out.column(name).equals(batch.column(name)), name


def test_container_limits():
    import pytest

    wide = pa.RecordBatch.from_arrays(
        [pa.array([1], pa.int32())] * 256,
        names=[f"c{i}" for i in range(256)])
    with pytest.raises(ValueError, match="255 columns"):
        pack_chunk(wide, CFG)


def test_temporal_decimal_struct_planes():
    """Round 3: TYPED (timestamp/date/time/duration/decimal128) and STRUCT
    planes round-trip bit-identically (VERDICT r2 'Next round' #1)."""
    import decimal

    n = 2000
    cols = {
        "ts_us": pa.array(np.arange(n) * 1000 + 1_600_000_000_000_000,
                          pa.timestamp("us")),
        "ts_tz": pa.array(np.arange(n), pa.timestamp("ns")).cast(
            pa.timestamp("ns", tz="UTC")),
        "d32": pa.array((np.arange(n) % 365).astype(np.int32)).view(
            pa.date32()),
        "d64": pa.array(np.arange(n, dtype=np.int64) * 86_400_000).view(
            pa.date64()),
        "t64": pa.array(np.arange(n) * 7, pa.time64("us")),
        "dur": pa.array(np.arange(n), pa.duration("ms")),
        "dec18": pa.array([decimal.Decimal("12345.67") + decimal.Decimal(i)
                           for i in range(n)], pa.decimal128(18, 2)),
        "dec30": pa.array([decimal.Decimal(10) ** 25 + i for i in range(n)],
                          pa.decimal128(30, 0)),
        "st": pa.StructArray.from_arrays(
            [pa.array(np.arange(n, dtype=np.int64)),
             pa.array(["a", "b"] * (n // 2))], names=["x", "y"]),
    }
    batch = pa.RecordBatch.from_arrays(list(cols.values()),
                                       names=list(cols.keys()))
    blob, codecs = pack_chunk(batch, CFG)
    out = unpack_chunk(blob)
    for name in cols:
        assert out.column(name).equals(batch.column(name)), name
    assert codecs["ts_us"] == "typed" and codecs["st"] == "struct"
    # timestamps are FOR/RLE-compressible through the int64 storage view
    assert len(blob) < batch.nbytes


def test_temporal_decimal_struct_nulls():
    import decimal

    cols = {
        "ts": pa.array([1, 2, None, 4, None] * 40, pa.timestamp("us")),
        "dec": pa.array([decimal.Decimal("1.50"), None] * 100,
                        pa.decimal128(10, 2)),
        "st": pa.StructArray.from_arrays(
            [pa.array([1, None, 3, 4] * 50), pa.array(["a", None, "c", "d"] * 50)],
            names=["x", "y"], mask=pa.array([False, False, True, False] * 50)),
    }
    batch = pa.RecordBatch.from_arrays(list(cols.values()),
                                       names=list(cols.keys()))
    blob, _ = pack_chunk(batch, CFG)
    out = unpack_chunk(blob)
    for name in cols:
        assert out.column(name).equals(batch.column(name)), name


def test_int8_float16_planes():
    cols = {
        "i8": pa.array((np.arange(3000) % 100).astype(np.int8)),
        "f16": pa.array(np.arange(3000, dtype=np.float16)),
    }
    batch = pa.RecordBatch.from_arrays(list(cols.values()),
                                       names=list(cols.keys()))
    blob, _ = pack_chunk(batch, CFG)
    out = unpack_chunk(blob)
    for name in cols:
        assert out.column(name).equals(batch.column(name)), name


def test_unsupported_type_raises_cleanly():
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["a", "b", "a"]).dictionary_encode()], names=["d"])
    with pytest.raises(TypeError, match="unsupported column type"):
        pack_chunk(batch, CFG)


def test_map_plane_roundtrip():
    """map<k,v> columns (Spark MapType) round-trip: plain, sliced, null
    slots, null values, empty maps."""
    t = pa.map_(pa.int32(), pa.string())
    full = pa.array([{1: "a"}, {2: "b", 3: "c"}, {}, {4: None}, None] * 40, t)
    cases = {
        "plain": full.fill_null({}),
        "with_nulls": full,
        "sliced": full.slice(3, 150),
        "str_keys": pa.array([{"x": 1.5}, {"y": 2.5, "z": None}] * 50,
                             pa.map_(pa.string(), pa.float64())),
    }
    for name, arr in cases.items():
        arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
        batch = pa.RecordBatch.from_arrays([arr], names=["m"])
        blob, codecs = pack_chunk(batch, CFG)
        out = unpack_chunk(blob)
        assert out.column("m").equals(arr), name


def test_dict_indices_natural_width():
    """Dict index planes keep Arrow's int32 index width (no int64 widening
    memcpy); encoded size is unchanged vs the widened form (same packed
    bits) and the round trip is exact."""
    arr = np.array([5, 5, 9, 5, 9, 9, 5] * 3000, dtype=np.int64)
    from plc.chunk import _dict_int_frame, decode_frame

    frame = _dict_int_frame(arr, CFG)
    val, _ = decode_frame(memoryview(frame), 0)
    assert np.array_equal(np.asarray(val), arr)


def test_string_stats_truncated():
    from plc.chunk import _STAT_PREFIX, column_stats

    long_a = "a" * 500
    long_z = "z" * 500
    batch = pa.RecordBatch.from_arrays(
        [pa.array([long_a, long_z, "mid"])], names=["text"])
    st = column_stats(batch)["text"]
    assert len(st["min"]) <= _STAT_PREFIX and len(st["max"]) <= _STAT_PREFIX
    # bounds remain correct: min <= every value <= max
    assert st["min"] <= long_a and st["max"] >= long_z


def test_delta_plane_sorted_columns():
    """DELTA (delta transform + recursive plane encode, the engine's
    DELTA_BINARY_PACKED analogue) must win on monotonic columns and
    round-trip exactly — including int64 diff wraparound edges."""
    from plc.chunk import DELTA, ZSTD, _delta_frame, _for_frame, \
        decode_frame, encode_int_plane

    ts = (np.cumsum(RNG.integers(1, 2000, 200_000)).astype(np.int64)
          + 1_700_000_000_000_000)
    frame = encode_int_plane(ts, CFG)
    assert frame[0] in (DELTA, ZSTD)
    val, _ = decode_frame(memoryview(frame), 0)
    assert np.array_equal(np.asarray(val), ts) and val.dtype == ts.dtype
    assert len(frame) < len(_for_frame(ts)) / 2

    for arr in (
        np.array([-2**63, 2**63 - 1, 0, -1, 2**62], np.int64),  # wrap edge
        np.array([7], np.int32),
        np.sort(RNG.integers(0, 60000, 50_000).astype(np.uint16)),
        np.sort(RNG.integers(0, 10**9, 50_000).astype(np.int32)),
    ):
        f = _delta_frame(arr, CFG)
        v, _ = decode_frame(memoryview(f), 0)
        assert np.array_equal(np.asarray(v), arr) and v.dtype == arr.dtype


def test_delta_not_selected_on_unsorted():
    """Random (non-monotonic) data must not pay the delta trial's price:
    the sampled delta range is wider than the value range, so DELTA never
    enters the candidate list, and the winner stays FOR/FORBP-family."""
    from plc.chunk import DELTA, decode_frame, encode_int_plane

    arr = RNG.integers(0, 50257, 200_000).astype(np.int32)
    frame = encode_int_plane(arr, CFG)
    assert frame[0] != DELTA
    val, _ = decode_frame(memoryview(frame), 0)
    assert np.array_equal(np.asarray(val), arr)


def test_delta_timestamp_column_through_container():
    """A sorted timestamp column picks DELTA through the TYPED plane and
    the full container round-trips it bit-identically."""
    base = 1_700_000_000_000_000
    ts = pa.array((base + np.cumsum(RNG.integers(1, 10**6, 5000))).astype("int64"),
                  pa.timestamp("us"))
    batch = pa.RecordBatch.from_arrays([ts], names=["ts"])
    blob, codecs = pack_chunk(batch, CFG)
    out = unpack_chunk(blob)
    assert out.column("ts").equals(ts)


def test_doc_id_bloom_stats():
    """column_stats attaches a bloom to the doc_id column; membership holds
    for every present value, the FP rate stays near the design point, and
    null/empty columns degrade to always-pass (pruning stays a superset)."""
    from plc.chunk import bloom_might_contain, column_stats

    ids = [f"doc-{i:09d}" for i in range(5000)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(ids), pa.array(np.arange(5000, dtype=np.int64))],
        names=["doc_id", "x"])
    st = column_stats(batch)["doc_id"]
    assert st["bloom_m"] >= 8 * 5000
    bits = st["bloom"]
    assert isinstance(bits, bytes) and len(bits) * 8 == st["bloom_m"]
    assert all(bloom_might_contain(st, v, bits) for v in ids[::37])
    fp = sum(bloom_might_contain(st, f"zzz-{i}", bits)
             for i in range(2000)) / 2000
    assert fp < 0.02
    assert "bloom" not in column_stats(batch)["x"]  # key column only

    nb = pa.RecordBatch.from_arrays(
        [pa.array([None, "a", None], pa.string())], names=["doc_id"])
    st2 = column_stats(nb)["doc_id"]
    assert bloom_might_contain(st2, "a", st2["bloom"])
    assert not bloom_might_contain(st2, "b", st2["bloom"])
    empty = pa.RecordBatch.from_arrays([pa.array([], pa.string())],
                                       names=["doc_id"])
    st3 = column_stats(empty)["doc_id"]
    assert "bloom" not in st3 and bloom_might_contain(st3, "anything")
    off = column_stats(batch, bloom_bits_per_key=0)["doc_id"]
    assert "bloom" not in off


def test_bloom_version_gate():
    """A bloom from a different hash generation (bloom_v mismatch or
    absent, e.g. a store written by older code) must always survive the
    probe — bit-testing it with the current hash would produce silent
    false negatives on present keys."""
    from plc.chunk import _BLOOM_V, _bloom_build, bloom_might_contain

    st = _bloom_build(pa.array(["alpha", "beta"]))
    assert st["bloom_v"] == _BLOOM_V
    bits = st["bloom"]
    assert not bloom_might_contain(st, "gamma", bits)  # current: prunes
    stale = {**st, "bloom_v": _BLOOM_V - 1}
    assert bloom_might_contain(stale, "gamma", bits)  # foreign: survives
    legacy = {k: v for k, v in st.items() if k != "bloom_v"}
    assert bloom_might_contain(legacy, "gamma", bits)  # unversioned
    assert bloom_might_contain(st, "gamma")  # no bits: survives


def test_var_array_large_offset_fallback(monkeypatch):
    """The int32 zero-copy fast path in decode_frame covers every plane
    the default 256Ki-value chunk cap can produce; the >2 GiB large-
    offset fallback is unreachable at test scale, so exercise it by
    shrinking the threshold. Both paths must yield identical arrays for
    string / binary / list<int32> planes (and the list path's own inline
    branch, which mirrors _var_array)."""
    import plc.chunk as C

    strings = pa.array(["", "a", "bc", None, "defg" * 7], pa.string())
    blobs = pa.array([b"", b"\x00\xff", None, b"xyz" * 9], pa.binary())
    lists = pa.array([[1, 2, 3], [], None, list(range(40))],
                     pa.list_(pa.int32()))
    batch = pa.RecordBatch.from_pydict({
        "doc_id": pa.array([f"d{i}" for i in range(5)]),
        "s": strings.take(pa.array([0, 1, 2, 3, 4])),
        "b": pa.concat_arrays([blobs, blobs.slice(0, 1)]),
        "l": pa.concat_arrays([lists, lists.slice(0, 1)]),
    })
    blob, _ = C.pack_chunk(batch, C.EncodeConfig())
    fast = C.unpack_chunk(blob)
    monkeypatch.setattr(C, "_I32_MAX", 0)
    slow = C.unpack_chunk(blob)
    assert fast.equals(slow) and fast.to_pydict() == batch.to_pydict()
