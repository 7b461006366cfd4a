"""K13 chunk container + per-plane codec dispatch (SURVEY.md §2 K1-K5, K7-K9, K12-K14).

A *chunk* is our analogue of a parquet column-chunk group: all columns for a
contiguous slice of rows, each column encoded independently into a
self-describing *frame*, the frames packed into one binary blob that travels
through Spark as a single ``binary`` cell. Mirrors parquet's
page/column-chunk/PageHeader layering (parquet-format parquet.thrift) without
copying its Thrift framing.

Frame wire format (ours)::

    frame := u8 codec | u32 n | u32 body_len | body

Codecs:
    0 PLAIN   body := u8 dtype | raw little-endian bytes          (K1)
    1 FOR     body := i64 ref | u8 w | u8 dtype | packed deltas   (K5+K2)
    2 RLE     body := i64 ref | u8 w | u8 dtype | rle/bp hybrid   (K3+K7)
    3 DICT    body := values-frame | indices-frame                (K4)
    4 FSST    body := table | code_lens-frame | codes             (K6)
    5 ZSTD    body := u64 raw_len | zstd(inner frame)             (K12)
    6 STRING  body := lengths-frame | bytes-frame-or-FSST         (K9 analogue)
    7 LIST32  body := lengths-frame | int32 values-frame          (K9)
    8 NULLS   body := validity-frame(RLE 0/1) | values-frame      (K8)
    9 BYTEPLANE body := u8 dtype | byte-transposed values         (float split)
   10 LISTGEN body := lengths-frame | values-frame (any numeric)  (K9 generic)
   11 BINARY  body := lengths-frame | bytes-frame                 (opaque blobs)
   12 FORBP   body := i64 ref | u8 dtype | u8 isz | transposed deltas (K5 var)
   13 TYPED   body := u8 kind | u16 meta_len | meta(json) | inner frame(s)
              (timestamp/date/time/duration → int storage view + unit/tz
               metadata; decimal128 → int64 plane when the values fit,
               else lo-uint64 + hi-int64 split planes; map<k,v> →
               lengths plane + entries STRUCT plane)
   14 STRUCT  body := u8 nfields | per field u16 name_len | name | frame
              (each child recursively plane-encoded, incl. its own nulls)

Chunk blob := b"PLC1" | u8 version | u32 n_rows | u8 ncols |
    per column: u16 name_len | name | u64 frame_len | u32 crc32 | frame
"""

from __future__ import annotations

import json
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from plc import kernels as K

MAGIC = b"PLC1"
VERSION = 1

(PLAIN, FOR, RLE, DICT, FSST, ZSTD, STRING, LIST32, NULLS, BYTEPLANE,
 LISTGEN, BINARY, FORBP, TYPED, STRUCT, DELTA) = range(16)
CODEC_NAMES = ["plain", "for", "rle", "dict", "fsst", "zstd", "string",
               "list", "nulls", "byteplane", "listgen", "binary", "forbp",
               "typed", "struct", "delta"]

_DTYPES = [np.dtype(t) for t in ("int32", "int64", "float32", "float64", "uint8",
                                 "int16", "uint16", "uint32", "uint64", "bool",
                                 "int8", "float16")]
_DTYPE_CODE = {dt: i for i, dt in enumerate(_DTYPES)}

# TYPED frame kinds (logical types stored as integer planes + metadata)
(_K_TIMESTAMP, _K_DATE32, _K_DATE64, _K_TIME32, _K_TIME64, _K_DURATION,
 _K_DECIMAL128, _K_MAP) = range(8)


# Codec-selection constants (K11), tuned on the FIXTURES.md regimes.
# Large planes use level 1: measured on those regimes it stays 1-2% below
# parquet-cpp's zstd+dict bytes while encoding ~3x faster than level 9
_ZSTD_LEVEL_LARGE = 1
_ZSTD_LARGE_THRESHOLD = 2 << 20
_ZSTD_MIN_GAIN = 0.96       # keep the zstd wrap only if < 96% of inner size
_ZSTD_PROBE_BYTES = 1 << 16  # sample-compress gate for large planes
_RLE_MIN_AVG_RUN = 2.5      # avg run length above which RLE beats FOR
_DICT_MAX_CARD_FRAC = 0.5
_SAMPLE_VALUES = 4096       # try-top-2-keep-smallest sample size
_FSST_MAX_AVG_LEN = 512     # FSST targets short strings; long docs → zstd

MAX_CHUNK_VALUES = 1 << 22  # every writer's default weight cap per chunk


@dataclass
class EncodeConfig:
    """The settable codec knobs. One instance lives for one writer task:
    it carries the per-column FSST table cache, so a column's later
    chunks reuse the table its first chunk trained."""

    zstd_level: int = 3
    use_zstd: bool = True
    _fsst_cache: dict = field(default_factory=dict, repr=False)


# --------------------------------------------------------------------------
# frame primitives
# --------------------------------------------------------------------------


def _frame(codec: int, n: int, *pieces: bytes) -> bytes:
    """Assemble a frame with ONE join — multi-MB payloads are copied once,
    never concatenated pairwise (memcpy is the hot path on this box)."""
    blen = sum(len(p) for p in pieces)
    return b"".join((struct.pack("<BII", codec, n, blen), *pieces))


def _frame_header(buf: memoryview, pos: int) -> tuple[int, int, int, int]:
    codec, n, blen = struct.unpack_from("<BII", buf, pos)
    return codec, n, blen, pos + 9


# --------------------------------------------------------------------------
# integer plane (int32/int64/float/bool): PLAIN / FOR / RLE / DICT (+ZSTD)
# --------------------------------------------------------------------------


def _plain_frame(arr: np.ndarray) -> bytes:
    return _frame(PLAIN, arr.size, struct.pack("<B", _DTYPE_CODE[arr.dtype]),
                  K.plain_encode(arr))


def _for_frame(arr: np.ndarray) -> bytes:
    ref, w, payload = K.for_encode(arr)
    return _frame(FOR, arr.size,
                  struct.pack("<qBB", ref, w, _DTYPE_CODE[arr.dtype]), payload)


def _rle_frame(arr: np.ndarray) -> bytes:
    ref, w, payload = K.rle_for_encode(arr)
    return _frame(RLE, arr.size,
                  struct.pack("<qBB", ref, w, _DTYPE_CODE[arr.dtype]), payload)


def _forbp_frame(arr: np.ndarray) -> bytes:
    """FOR reference + byte-plane-transposed deltas (K5 variant): skewed
    value distributions (zipf tokens) leave the high delta bytes almost
    constant; splitting byte planes lets a FAST zstd level beat a slow
    level on the interleaved stream (measured: L1 on split planes <
    L9 on FOR+bitpack for zipf, at ~7x the speed)."""
    if arr.dtype == np.int32:
        ref = int(arr.min())
        deltas = (arr - np.int32(ref)).view(np.uint32)
        w = K.bits_needed(int(arr.max()) - ref)
    else:
        a = arr.astype(np.int64, copy=False)
        ref = int(a.min())
        deltas = (a - np.int64(ref)).view(np.uint64)
        w = K.bits_needed(int(deltas.max()))
    isz = 2 if w <= 16 else (4 if w <= 32 else 8)
    d = deltas.astype(f"<u{isz}", copy=False)
    # plane-major layout via per-plane strided column copies: ~1.6x
    # faster than transposing the (n, isz) byte matrix (sequential
    # writes beat the cache-hostile transpose gather), and .data hands
    # _frame a memoryview so the payload is copied once, in the join
    b = d.view(np.uint8).reshape(-1, isz)
    t = np.empty(d.size * isz, dtype=np.uint8)
    for k in range(isz):
        t[k * d.size:(k + 1) * d.size] = b[:, k]
    return _frame(FORBP, arr.size,
                  struct.pack("<qBB", ref, _DTYPE_CODE[arr.dtype], isz),
                  t.data)


def _delta_frame(arr: np.ndarray, cfg: EncodeConfig) -> bytes:
    """Delta transform + recursive plane encode (the engine's analogue of
    parquet's DELTA_BINARY_PACKED): store the first value and the diff
    stream, which the normal selector then FOR/RLE/DICT-packs. Sorted or
    near-monotonic columns (timestamps, sequence ids, list offsets) have a
    delta range orders of magnitude narrower than their value range.
    int64 diffs may wrap — harmless: cumsum on decode wraps identically
    (two's-complement modular arithmetic), so round-trip stays exact."""
    a = arr.astype(np.int64, copy=False)
    d = np.diff(a)
    inner = encode_int_plane(d, cfg, allow_dict=False, allow_zstd=False,
                             allow_delta=False)
    return _frame(DELTA, arr.size,
                  struct.pack("<qB", int(a[0]), _DTYPE_CODE[arr.dtype]),
                  inner)


def _dict_int_frame(arr: np.ndarray, cfg: EncodeConfig) -> bytes:
    # hash-based dictionary encode (Arrow C++), ~5x faster than np.unique
    enc = pa.array(arr).dictionary_encode()
    values = enc.dictionary.to_numpy(zero_copy_only=False).astype(arr.dtype)
    # indices stay at Arrow's natural width (int32) — no int64 widening
    # memcpy on the hot path; FOR re-packs them to bits_needed(card) anyway
    idx = enc.indices.to_numpy(zero_copy_only=False)
    vals_frame = encode_int_plane(values, cfg, allow_dict=False, allow_zstd=False)
    idx_frame = encode_int_plane(idx, cfg, allow_dict=False, allow_zstd=False)
    return _frame(DICT, arr.size, vals_frame, idx_frame)


def _zstd_wrap(inner: bytes, cfg: EncodeConfig) -> bytes:
    large = len(inner) >= _ZSTD_LARGE_THRESHOLD
    level = _ZSTD_LEVEL_LARGE if large else cfg.zstd_level
    codec = pa.Codec("zstd", compression_level=level)
    if large and len(inner) > 4 * _ZSTD_PROBE_BYTES:
        # incompressible-plane gate: sample-compress a slice first; a plane
        # whose sample barely shrinks (high-entropy bit-packed data) skips
        # the full compression instead of doing it and discarding it
        probe = codec.compress(inner[: _ZSTD_PROBE_BYTES], asbytes=True)
        if len(probe) >= _ZSTD_PROBE_BYTES * 0.98:
            return inner
    comp = codec.compress(inner, asbytes=True)
    if len(comp) >= len(inner) * _ZSTD_MIN_GAIN:
        return inner
    _, n, _, _ = _frame_header(memoryview(inner), 0)
    return _frame(ZSTD, n, struct.pack("<Q", len(inner)), comp)


def _int_stats(arr: np.ndarray):
    """K10: sampled cardinality / run-length / value-range statistics.

    Cardinality uses a strided sample (spread across the chunk); run length
    uses a contiguous window (strides would break runs). min/max are exact
    (single vectorized pass — also needed for the FOR reference).
    """
    n = arr.size
    step = -(-n // _SAMPLE_VALUES)  # ceil: stride spans the whole chunk
    sample = arr[:: max(1, step)][: _SAMPLE_VALUES]
    card = np.unique(sample).size
    win = arr[: _SAMPLE_VALUES * 4]
    runs = K.run_count(win)
    lo, hi = int(arr.min()), int(arr.max())
    return card, sample.size, win.size / max(runs, 1), lo, hi


def encode_int_plane(arr: np.ndarray, cfg: EncodeConfig, *, allow_dict: bool = True,
                     allow_zstd: bool = True, allow_delta: bool = True) -> bytes:
    """K11 auto-selection for a numeric plane, then encode.

    Selection: stats (K10) rank candidates; the top two are trial-encoded on
    a contiguous sample and the smaller wins (SURVEY.md K11
    "try-and-keep-smallest among top-2 candidates on a sample").
    """
    if arr.size == 0:
        return _frame(PLAIN, 0, struct.pack("<B", _DTYPE_CODE[arr.dtype]))
    if arr.dtype.kind == "f":
        return encode_float_plane(arr, cfg, allow_zstd=allow_zstd)
    if arr.dtype == np.bool_:
        frame = _plain_frame(arr)
        return _zstd_wrap(frame, cfg) if (cfg.use_zstd and allow_zstd) else frame

    if arr.dtype == np.uint64:  # FOR's int64 shift can wrap; store raw
        frame = _plain_frame(arr)
        return _zstd_wrap(frame, cfg) if (cfg.use_zstd and allow_zstd) else frame
    card, ssize, avg_run, lo, hi = _int_stats(arr)
    w = K.bits_needed(hi - lo)
    candidates = []
    if avg_run >= _RLE_MIN_AVG_RUN:
        candidates.append(_rle_frame)
    candidates.append(_for_frame)
    if (w > 8 and allow_zstd and cfg.use_zstd
            and avg_run < _RLE_MIN_AVG_RUN):
        # byte-split pays on skewed-but-unordered data; on runny data the
        # transpose destroys the run structure RLE/zstd exploit, and small
        # samples misrank it (zstd overhead hides the full-plane cost)
        candidates.append(_forbp_frame)
    if (allow_dict and card <= ssize * _DICT_MAX_CARD_FRAC
            and card < (1 << max(w - 1, 1))):
        candidates.append(lambda a: _dict_int_frame(a, cfg))
    if allow_delta and arr.size >= 3:
        # near-monotonic columns (timestamps, ids, offsets): the sampled
        # delta range must beat the value range by a full packing width
        # before the delta transform earns a trial slot
        win = arr[: _SAMPLE_VALUES * 4].astype(np.int64, copy=False)
        dw = np.diff(win)
        if dw.size and K.bits_needed(int(dw.max()) - int(dw.min())) < w:
            candidates.append(lambda a: _delta_frame(a, cfg))

    wrap = (lambda f: _zstd_wrap(f, cfg)) if (cfg.use_zstd and allow_zstd) \
        else (lambda f: f)
    if len(candidates) > 1 and arr.size > _SAMPLE_VALUES:
        # try-all-keep-smallest on contiguous samples, *including* the zstd
        # wrap (GP compression changes the ranking). Large planes use a
        # TWO-POINT trial: the marginal bytes/value between two sample
        # sizes cancels zstd's fixed overhead, which otherwise misranks
        # candidates whose ratio improves with stream size (byte-plane
        # split wins at MBs but loses at 64 KB).
        n1 = _SAMPLE_VALUES * 4
        n2 = _SAMPLE_VALUES * 32
        if arr.size > 2 * n2:
            s1_arr, s2_arr = arr[:n1], arr[:n2]
            est = []
            for c in candidates:
                s1, s2 = len(wrap(c(s1_arr))), len(wrap(c(s2_arr)))
                est.append(s2 + (s2 - s1) / (n2 - n1) * (arr.size - n2))
            best = candidates[int(np.argmin(est))]
        else:
            sample = arr[: n2]
            sizes = [len(wrap(c(sample))) for c in candidates]
            best = candidates[int(np.argmin(sizes))]
    else:
        best = candidates[0]
    return wrap(best(arr))


# --------------------------------------------------------------------------
# float plane: PLAIN vs byte-plane split (+ZSTD)
# --------------------------------------------------------------------------


def _byteplane_frame(arr: np.ndarray) -> bytes:
    """Byte-plane split: transpose the (n, itemsize) byte matrix so sign/
    exponent bytes group together — floats rarely RLE/FOR, but their high
    bytes are low-entropy, which zstd exploits far better per-plane
    (cf. byte-stream-split in parquet-format Encodings.md)."""
    isz = arr.dtype.itemsize
    b = np.ascontiguousarray(arr).view(np.uint8).reshape(arr.size, isz)
    t = np.empty(arr.size * isz, dtype=np.uint8)
    for k in range(isz):  # strided column copies beat the transpose gather
        t[k * arr.size:(k + 1) * arr.size] = b[:, k]
    return _frame(BYTEPLANE, arr.size,
                  struct.pack("<B", _DTYPE_CODE[arr.dtype]), t.data)


def encode_float_plane(arr: np.ndarray, cfg: EncodeConfig, *,
                       allow_zstd: bool = True) -> bytes:
    """K11 for float planes (float32 embeddings, double metrics): trial
    PLAIN vs byte-plane split on a sample, zstd-wrapped, keep smallest."""
    if arr.size == 0:
        return _frame(PLAIN, 0, struct.pack("<B", _DTYPE_CODE[arr.dtype]))
    wrap = (lambda f: _zstd_wrap(f, cfg)) if (cfg.use_zstd and allow_zstd) \
        else (lambda f: f)
    candidates = [_plain_frame, _byteplane_frame]
    if arr.size > _SAMPLE_VALUES:
        sample = arr[: _SAMPLE_VALUES * 16]
        sizes = [len(wrap(c(sample))) for c in candidates]
        best = candidates[int(np.argmin(sizes))]
    else:
        best = _plain_frame
    return wrap(best(arr))


# --------------------------------------------------------------------------
# string plane: DICT / FSST / PLAIN bytes (+ZSTD)
# --------------------------------------------------------------------------


def _string_planes(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Arrow string array → (lengths int64, flat utf8 bytes uint8)."""
    if pa.types.is_string(arr.type):
        # read the int32 offsets directly instead of casting the array to
        # large_string: the cast copies the WHOLE data buffer just to
        # widen offsets (~0.05 s per 150k-row plane); widening the
        # (n+1)-element offsets array is O(rows), not O(bytes)
        offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                                count=len(arr) + 1,
                                offset=arr.offset * 4).astype(np.int64)
    else:
        offsets = np.frombuffer(arr.buffers()[1], dtype=np.int64,
                                count=len(arr) + 1, offset=arr.offset * 8)
    lengths = np.diff(offsets)
    databuf = arr.buffers()[2]
    data = (np.frombuffer(databuf, dtype=np.uint8,
                          count=int(offsets[-1]) - int(offsets[0]),
                          offset=int(offsets[0]))
            if databuf is not None and offsets[-1] > offsets[0]
            else np.empty(0, dtype=np.uint8))
    return lengths.astype(np.int64), data


def _bytes_frame(data: np.ndarray) -> bytes:
    return _frame(PLAIN, data.size,
                  struct.pack("<B", _DTYPE_CODE[np.dtype("uint8")]),
                  data.tobytes())


def _fsst_frame(data: np.ndarray, lengths: np.ndarray, cfg: EncodeConfig) -> bytes:
    from plc import fsst

    # Reuse the symbol table across chunks of the same column within a
    # worker: training is the expensive step and the value distribution is
    # stable across a column's chunks (escape bytes absorb drift). The
    # table blob is stored per chunk, so decode never needs the cache.
    key = getattr(cfg, "_current_col", None)
    tbl = cfg._fsst_cache.get(key) if key is not None else None
    if tbl is None:
        tbl = fsst.train(np.asarray(data, np.uint8),
                         np.asarray(lengths, np.int64))
        if key is not None:
            cfg._fsst_cache[key] = tbl
    table, codes, code_lens = fsst.fsst_encode(data, lengths, table=tbl)
    lens_frame = encode_int_plane(code_lens.astype(np.int64), cfg, allow_zstd=False)
    return _frame(FSST, lengths.size,
                  struct.pack("<I", len(table)), table,
                  struct.pack("<I", len(lens_frame)), lens_frame,
                  codes.tobytes())


def _string_frame(lengths: np.ndarray, data: np.ndarray, cfg: EncodeConfig,
                  *, allow_zstd: bool = True) -> bytes:
    lens_frame = encode_int_plane(lengths, cfg, allow_zstd=False)
    data_frame = _bytes_frame(data)
    avg_len = data.size / max(lengths.size, 1)
    wrap = cfg.use_zstd and allow_zstd
    best_wrapped = _zstd_wrap(data_frame, cfg) if wrap else data_frame
    if data.size >= 64 and avg_len <= _FSST_MAX_AVG_LEN:
        try:
            fs = _fsst_frame(data, lengths, cfg)
            # compare *after* the zstd wrap: zstd on raw bytes often beats
            # zstd on FSST codes (FSST removes the regularity zstd exploits)
            cand = _zstd_wrap(fs, cfg) if wrap else fs
            if len(cand) < len(best_wrapped):
                best_wrapped = cand
        except ImportError:
            pass
    # the data plane is already wrapped (or provably not worth wrapping), so
    # the combined frame is not zstd'd again — the lengths plane is tiny
    return _frame(STRING, lengths.size, lens_frame, best_wrapped)


def encode_string_plane(arr: pa.Array, cfg: EncodeConfig) -> bytes:
    """K11 for strings: DICT when low-cardinality wins, else FSST vs PLAIN."""
    n = len(arr)
    if n == 0:
        return _frame(STRING, 0, encode_int_plane(np.empty(0, np.int64), cfg),
                      _bytes_frame(np.empty(0, np.uint8)))
    import pyarrow.compute as pc

    sample = arr.slice(0, min(n, _SAMPLE_VALUES))
    card = pc.count_distinct(sample).as_py()
    if card <= len(sample) * _DICT_MAX_CARD_FRAC:
        enc = arr.combine_chunks().dictionary_encode() if isinstance(
            arr, pa.ChunkedArray) else arr.dictionary_encode()
        dict_vals = enc.dictionary
        idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        dlens, ddata = _string_planes(dict_vals)
        vals_frame = _string_frame(dlens, ddata, cfg, allow_zstd=False)
        idx_frame = encode_int_plane(idx, cfg, allow_dict=False,
                                     allow_zstd=False)
        frame = _frame(DICT, n, vals_frame, idx_frame)
        return _zstd_wrap(frame, cfg) if cfg.use_zstd else frame
    lengths, data = _string_planes(arr)
    return _string_frame(lengths, data, cfg)


# --------------------------------------------------------------------------
# list planes: lengths + flat values (tokens, embeddings, any numeric list)
# --------------------------------------------------------------------------


def _list_planes(arr: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """Large-list array → (lengths int64, flat values for this slice)."""
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int64,
                            count=len(arr) + 1, offset=arr.offset * 8)
    return np.diff(offsets).astype(np.int64), arr.flatten()


def encode_list_plane(arr: pa.Array, cfg: EncodeConfig) -> bytes:
    """list<int32> (the token plane): FOR/RLE/DICT-selected values."""
    arr = arr.cast(pa.large_list(pa.int32()))
    lengths, flat = _list_planes(arr)
    values = flat.to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
    lens_frame = encode_int_plane(lengths, cfg)
    vals_frame = encode_int_plane(values, cfg)
    return _frame(LIST32, len(arr), lens_frame, vals_frame)


def encode_list_generic(arr: pa.Array, cfg: EncodeConfig) -> bytes:
    """Any numeric list (list<float> embeddings, list<double>, list<int64>):
    lengths plane + recursively-selected values plane. Element nulls are
    preserved via a nested NULLS frame."""
    vt = arr.type.value_type
    arr = arr.cast(pa.large_list(vt))
    lengths, flat = _list_planes(arr)
    lens_frame = encode_int_plane(lengths, cfg)
    if flat.null_count > 0:
        vals_frame = _encode_with_nulls(flat, cfg)
    else:
        vals_frame = encode_value_plane(flat, cfg)
    return _frame(LISTGEN, len(arr), lens_frame, vals_frame)


# --------------------------------------------------------------------------
# binary plane: opaque blobs (images/audio bytes) — lengths + zstd bytes
# --------------------------------------------------------------------------


def encode_binary_plane(arr: pa.Array, cfg: EncodeConfig) -> bytes:
    """Opaque binary columns (multimodal payloads): lengths plane + raw
    bytes, zstd-wrapped only if it actually shrinks (already-compressed
    media stays as-is via the keep-only-if-smaller gate)."""
    arr = arr.cast(pa.large_binary())
    lengths, data = _string_planes(arr)
    lens_frame = encode_int_plane(lengths, cfg, allow_zstd=False)
    data_frame = _bytes_frame(data)
    if cfg.use_zstd:
        data_frame = _zstd_wrap(data_frame, cfg)
    return _frame(BINARY, len(arr), lens_frame, data_frame)


# --------------------------------------------------------------------------
# typed planes: temporal (timestamp/date/time/duration) + decimal128
# --------------------------------------------------------------------------


def _temporal_kind(t: pa.DataType):
    """(kind, metadata, int storage type) for a temporal Arrow type; None if
    ``t`` is not temporal. Storage is the raw epoch/ordinal integer view, so
    FOR/RLE fit perfectly (timestamps cluster; dates repeat)."""
    if pa.types.is_timestamp(t):
        return _K_TIMESTAMP, {"unit": t.unit, "tz": t.tz}, pa.int64()
    if pa.types.is_date32(t):
        return _K_DATE32, {}, pa.int32()
    if pa.types.is_date64(t):
        return _K_DATE64, {}, pa.int64()
    if pa.types.is_time32(t):
        return _K_TIME32, {"unit": t.unit}, pa.int32()
    if pa.types.is_time64(t):
        return _K_TIME64, {"unit": t.unit}, pa.int64()
    if pa.types.is_duration(t):
        return _K_DURATION, {"unit": t.unit}, pa.int64()
    return None


def _typed_frame(kind: int, meta: dict, n: int, *inner: bytes) -> bytes:
    mb = json.dumps(meta, separators=(",", ":")).encode()
    return _frame(TYPED, n, struct.pack("<BH", kind, len(mb)), mb, *inner)


def encode_temporal_plane(col: pa.Array, cfg: EncodeConfig) -> bytes:
    """Timestamp/date/time/duration → integer storage view + unit/tz tag.
    The view is bit-exact (no unit conversion), so round-trip is identity."""
    kind, meta, storage = _temporal_kind(col.type)
    arr = col.cast(storage).to_numpy(zero_copy_only=False)
    arr = np.ascontiguousarray(arr)
    return _typed_frame(kind, meta, len(col), encode_int_plane(arr, cfg))


def encode_decimal_plane(col: pa.Array, cfg: EncodeConfig) -> bytes:
    """decimal128(p, s): values whose 128-bit two's-complement fits int64
    (every p ≤ 18, and most wider columns in practice) store ONE int64 plane
    through the normal FOR/RLE/DICT selector; otherwise the 16-byte values
    split into a lo-uint64 plane + hi-int64 plane (hi is almost always the
    constant sign extension → RLE collapses it)."""
    t = col.type
    n = len(col)
    meta = {"precision": t.precision, "scale": t.scale}
    if n == 0:
        return _typed_frame(_K_DECIMAL128, {**meta, "mode": "i64"}, 0,
                            encode_int_plane(np.empty(0, np.int64), cfg))
    raw = np.frombuffer(col.buffers()[1], np.uint8, count=16 * n,
                        offset=col.offset * 16).reshape(n, 16)
    lo = np.ascontiguousarray(raw[:, :8]).view(np.uint64).ravel()
    hi = np.ascontiguousarray(raw[:, 8:]).view(np.int64).ravel()
    if np.array_equal(hi, lo.view(np.int64) >> np.int64(63)):
        return _typed_frame(_K_DECIMAL128, {**meta, "mode": "i64"}, n,
                            encode_int_plane(lo.view(np.int64).copy(), cfg))
    return _typed_frame(_K_DECIMAL128, {**meta, "mode": "split"}, n,
                        encode_int_plane(lo.copy(), cfg),
                        encode_int_plane(hi.copy(), cfg))


def encode_map_plane(col: pa.Array, cfg: EncodeConfig) -> bytes:
    """map<k, v>: per-row entry counts (lengths plane) + the flat entries
    as a STRUCT plane (key + value children, each codec-selected). Keys are
    non-null by Arrow's map contract; values may carry their own NULLS
    wrapper. Null map slots are handled by the enclosing NULLS frame."""
    t = col.type
    n = len(col)
    if n == 0:
        return _typed_frame(
            _K_MAP, {"sorted": bool(t.keys_sorted)}, 0,
            encode_int_plane(np.empty(0, np.int64), cfg),
            encode_struct_plane(pa.StructArray.from_arrays(
                [pa.array([], t.key_type), pa.array([], t.item_type)],
                names=["key", "value"]), cfg))
    offsets = np.frombuffer(col.buffers()[1], np.int32, count=n + 1,
                            offset=col.offset * 4).astype(np.int64)
    lengths = np.diff(offsets)
    lo, hi = int(offsets[0]), int(offsets[-1])
    # .keys/.items return the FULL child buffer; slice to this array's view
    entries = pa.StructArray.from_arrays(
        [col.keys.slice(lo, hi - lo), col.items.slice(lo, hi - lo)],
        names=["key", "value"])
    return _typed_frame(_K_MAP, {"sorted": bool(t.keys_sorted)}, n,
                        encode_int_plane(lengths, cfg),
                        encode_struct_plane(entries, cfg))


def encode_struct_plane(col: pa.Array, cfg: EncodeConfig) -> bytes:
    """Struct column: each child field recursively plane-encoded (with its
    own NULLS wrapper when needed). Parent-level validity is handled by the
    enclosing NULLS frame like any other plane."""
    t = col.type
    pieces = [struct.pack("<B", t.num_fields)]
    for i in range(t.num_fields):
        child = col.field(i)
        frame = (_encode_with_nulls(child, cfg) if child.null_count > 0
                 else encode_value_plane(child, cfg))
        nb = t.field(i).name.encode()
        pieces.append(struct.pack("<H", len(nb)) + nb + frame)
    return _frame(STRUCT, len(col), *pieces)


def _decode_typed(buf: memoryview, body: int, end: int, n: int):
    kind, mlen = struct.unpack_from("<BH", buf, body)
    meta = json.loads(bytes(buf[body + 3 : body + 3 + mlen]))
    p = body + 3 + mlen
    if kind == _K_DECIMAL128:
        t = pa.decimal128(meta["precision"], meta["scale"])
        first, p2 = decode_frame(buf, p)
        if meta["mode"] == "i64":
            lo = np.asarray(first, np.int64)
            raw = np.empty((n, 16), np.uint8)
            raw[:, :8] = lo.view(np.uint64).view(np.uint8).reshape(n, 8)
            raw[:, 8:] = (lo >> np.int64(63)).view(np.uint8).reshape(n, 8)
        else:
            hi, _ = decode_frame(buf, p2)
            raw = np.empty((n, 16), np.uint8)
            raw[:, :8] = np.asarray(first, np.uint64).view(np.uint8) \
                .reshape(n, 8)
            raw[:, 8:] = np.asarray(hi, np.int64).view(np.uint8).reshape(n, 8)
        return pa.Array.from_buffers(t, n, [None, pa.py_buffer(raw.tobytes())])
    if kind == _K_MAP:
        lengths, p2 = decode_frame(buf, p)
        entries, _ = decode_frame(buf, p2)  # StructArray<key, value>
        from plc.kernels import offsets_from_lengths

        offs = offsets_from_lengths(np.asarray(lengths)).astype(np.int32)
        t = pa.map_(entries.type.field(0).type, entries.type.field(1).type,
                    keys_sorted=meta["sorted"])
        return pa.Array.from_buffers(
            t, n, [None, pa.py_buffer(offs.tobytes())], children=[entries])
    vals, _ = decode_frame(buf, p)
    if kind == _K_TIMESTAMP:
        t = pa.timestamp(meta["unit"], tz=meta["tz"])
    elif kind == _K_DATE32:
        t = pa.date32()
    elif kind == _K_DATE64:
        t = pa.date64()
    elif kind == _K_TIME32:
        t = pa.time32(meta["unit"])
    elif kind == _K_TIME64:
        t = pa.time64(meta["unit"])
    elif kind == _K_DURATION:
        t = pa.duration(meta["unit"])
    else:  # pragma: no cover
        raise ValueError(f"unknown TYPED kind {kind}")
    return pa.array(np.asarray(vals)).view(t)


def _decode_struct(buf: memoryview, body: int, n: int) -> pa.StructArray:
    (nfields,) = struct.unpack_from("<B", buf, body)
    pos = body + 1
    names, arrays = [], []
    for _ in range(nfields):
        (nlen,) = struct.unpack_from("<H", buf, pos)
        names.append(bytes(buf[pos + 2 : pos + 2 + nlen]).decode())
        val, pos = decode_frame(buf, pos + 2 + nlen)
        if isinstance(val, np.ndarray):
            val = pa.array(val)
        arrays.append(val)
    return pa.StructArray.from_arrays(arrays, names=names)


# --------------------------------------------------------------------------
# decode (K14): exact inverses
# --------------------------------------------------------------------------


def _accum_planes(mat: np.ndarray, isz: int, out_dt) -> np.ndarray:
    """Recombine byte planes mat[j] (little-endian byte j of each value)
    into one unsigned array — the inverse of the (n, isz) transpose, done
    with isz sequential widening passes instead of a strided copy."""
    out_dt = np.dtype(out_dt)
    acc = mat[0].astype(out_dt)
    for j in range(1, isz):
        acc |= mat[j].astype(out_dt) << out_dt.type(8 * j)
    return acc


_I32_MAX = (1 << 31) - 1


def _var_array(typ, large_typ, n: int, lengths: np.ndarray,
               data: np.ndarray) -> pa.Array:
    """(lengths, flat byte plane) → a utf8/binary array. Offsets are
    built as int32 and both buffers wrapped ZERO-copy (``pa.py_buffer``
    keeps the numpy base alive) — the previous shape built large-offset
    buffers via ``.tobytes()`` and then cast large→small, three full
    copies of the data plane for one decode. Offsets past int32 route
    through a large-offset array + cast, which succeeds below 2 GiB of
    payload (the threshold-shrunk test's territory) and raises a clear
    re-encode-with-smaller-chunks error above it — a >2 GiB plane cannot
    be one int32-offset Arrow array at all."""
    offsets = K.offsets_from_lengths(lengths)
    if offsets[-1] <= _I32_MAX:
        return pa.Array.from_buffers(
            typ, n, [None, pa.py_buffer(offsets.astype(np.int32)),
                     pa.py_buffer(data)])
    arr = pa.Array.from_buffers(
        large_typ, n, [None, pa.py_buffer(offsets), pa.py_buffer(data)])
    try:
        return arr.cast(typ)
    except pa.ArrowInvalid as e:
        # a plane with >2 GiB of payload cannot be represented as one
        # int32-offset Arrow array at all — say so instead of dying in
        # the cast (ADVICE r6); the fix is a smaller chunk cap at encode
        raise ValueError(
            f"variable-width plane holds {int(offsets[-1])} bytes — over "
            f"the 2 GiB int32-offset limit of a single Arrow {typ} "
            f"array; re-encode the store with a lower max_chunk_values"
        ) from e


def decode_frame(buf: memoryview, pos: int = 0):
    """Decode one frame at ``pos``; returns (value, end_pos). Value is a
    numpy array for numeric planes, ``pa.Array`` for STRING/LIST32."""
    codec, n, blen, body = _frame_header(buf, pos)
    end = body + blen
    if codec == PLAIN:
        (dt_code,) = struct.unpack_from("<B", buf, body)
        dt = _DTYPES[dt_code]
        return np.frombuffer(buf, dtype=dt, count=n, offset=body + 1).copy(), end
    if codec in (FOR, RLE):
        ref, w, dt_code = struct.unpack_from("<qBB", buf, body)
        payload = buf[body + 10 : end]
        fn = K.for_decode if codec == FOR else K.rle_for_decode
        return fn(ref, w, payload, n, _DTYPES[dt_code]), end
    if codec == DICT:
        values, p2 = decode_frame(buf, body)
        idx, _ = decode_frame(buf, p2)
        idx = np.asarray(idx, dtype=np.int64)
        if isinstance(values, pa.Array):
            return values.take(pa.array(idx)), end
        return values[idx], end
    if codec == ZSTD:
        (raw_len,) = struct.unpack_from("<Q", buf, body)
        inner = pa.Codec("zstd").decompress(bytes(buf[body + 8 : end]), raw_len,
                                            asbytes=True)
        val, _ = decode_frame(memoryview(inner), 0)
        return val, end
    if codec == STRING:
        lengths, p2 = decode_frame(buf, body)
        inner_codec = buf[p2]
        if inner_codec == FSST:
            data = _decode_fsst_frame(buf, p2)
        else:
            data, _ = decode_frame(buf, p2)
        return _var_array(pa.utf8(), pa.large_utf8(), n,
                          np.asarray(lengths),
                          np.ascontiguousarray(data, np.uint8)), end
    if codec == LIST32:
        lengths, p2 = decode_frame(buf, body)
        values, _ = decode_frame(buf, p2)
        offsets = K.offsets_from_lengths(np.asarray(lengths))
        vals = pa.array(np.ascontiguousarray(values, np.int32))
        if offsets[-1] <= _I32_MAX:
            # int32 offsets built directly: the previous shape built a
            # LargeListArray then cast to list<int32>, re-copying the
            # offsets (and validating the values) a second time
            arr = pa.ListArray.from_arrays(
                pa.array(offsets.astype(np.int32)), vals)
        else:
            try:
                arr = pa.LargeListArray.from_arrays(
                    pa.array(offsets), vals).cast(pa.list_(pa.int32()))
            except pa.ArrowInvalid as e:
                raise ValueError(
                    f"list plane holds {int(offsets[-1])} values — over "
                    f"the 2 GiB int32-offset limit of a single Arrow "
                    f"list array; re-encode the store with a lower "
                    f"max_chunk_values") from e
        return arr, end
    if codec == LISTGEN:
        lengths, p2 = decode_frame(buf, body)
        values, _ = decode_frame(buf, p2)
        if not isinstance(values, pa.Array):
            values = pa.array(values)
        offsets = K.offsets_from_lengths(np.asarray(lengths))
        arr = pa.LargeListArray.from_arrays(pa.array(offsets, pa.int64()),
                                            values)
        return arr.cast(pa.list_(values.type)), end
    if codec == FORBP:
        ref, dt_code, isz = struct.unpack_from("<qBB", buf, body)
        mat = np.frombuffer(buf, np.uint8, count=n * isz,
                            offset=body + 10).reshape(isz, n)
        dt = _DTYPES[dt_code]
        if dt == np.int32 and isz <= 4:
            # plane-wise accumulate: sequential reads beat the
            # cache-hostile strided transpose (~1.8x on token planes)
            deltas = _accum_planes(mat, isz, np.uint32)
            return (deltas + np.uint32(ref & 0xFFFFFFFF)).view(np.int32), end
        deltas = _accum_planes(mat, isz, np.uint64)
        return (deltas.view(np.int64) + np.int64(ref)).astype(dt), end
    if codec == BYTEPLANE:
        (dt_code,) = struct.unpack_from("<B", buf, body)
        dt = _DTYPES[dt_code]
        isz = dt.itemsize
        mat = np.frombuffer(buf, np.uint8, count=n * isz,
                            offset=body + 1).reshape(isz, n)
        return _accum_planes(mat, isz, np.dtype(f"<u{isz}")).view(dt), end
    if codec == BINARY:
        lengths, p2 = decode_frame(buf, body)
        data, _ = decode_frame(buf, p2)
        return _var_array(pa.binary(), pa.large_binary(), n,
                          np.asarray(lengths),
                          np.ascontiguousarray(data, np.uint8)), end
    if codec == DELTA:
        first, dt_code = struct.unpack_from("<qB", buf, body)
        dt = _DTYPES[dt_code]
        if n == 0:
            return np.empty(0, dt), end
        deltas, _ = decode_frame(buf, body + 9)
        vals = np.empty(n, np.int64)
        vals[0] = first
        if n > 1:
            # int64 cumsum wraps exactly like the encoder's diff did
            np.cumsum(np.asarray(deltas, np.int64), out=vals[1:])
            vals[1:] += np.int64(first)
        return vals.astype(dt, copy=False), end
    if codec == TYPED:
        return _decode_typed(buf, body, end, n), end
    if codec == STRUCT:
        return _decode_struct(buf, body, n), end
    if codec == FSST:
        return _decode_fsst_frame(buf, pos - 0), end  # pragma: no cover
    if codec == NULLS:
        validity, p2 = decode_frame(buf, body)
        values, _ = decode_frame(buf, p2)
        mask = np.asarray(validity, dtype=np.uint64).astype(bool)
        if isinstance(values, pa.Array):
            return _with_validity(values, mask), end
        return pa.array(np.asarray(values), mask=~mask), end
    raise ValueError(f"unknown codec id {codec}")


def _with_validity(values: pa.Array, mask: np.ndarray) -> pa.Array:
    """Attach a validity bitmap to a decoded Arrow array without a pandas
    round-trip (vectorized: np.packbits + Arrow from_buffers)."""
    vb = pa.py_buffer(np.packbits(mask, bitorder="little").tobytes())
    typ = values.type
    if pa.types.is_string(typ) or pa.types.is_binary(typ):
        big = pa.large_string() if pa.types.is_string(typ) else pa.large_binary()
        v = values.cast(big)
        out = pa.Array.from_buffers(
            big, len(v), [vb, v.buffers()[1], v.buffers()[2]])
        return out.cast(typ)
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        big = pa.large_list(typ.value_type)
        v = values.cast(big)
        out = pa.Array.from_buffers(big, len(v), [vb, v.buffers()[1]],
                                    children=[v.values])
        return out.cast(typ)
    if pa.types.is_struct(typ):
        return pa.StructArray.from_arrays(
            [values.field(i) for i in range(typ.num_fields)],
            names=[typ.field(i).name for i in range(typ.num_fields)],
            mask=pa.array(~mask))
    if pa.types.is_map(typ):
        entries = pa.StructArray.from_arrays(
            [values.keys, values.items], names=["key", "value"])
        return pa.Array.from_buffers(typ, len(values),
                                     [vb, values.buffers()[1]],
                                     children=[entries])
    if len(values.buffers()) == 2:  # primitive layout: [validity, data]
        return pa.Array.from_buffers(typ, len(values),
                                     [vb, values.buffers()[1]])
    raise TypeError(f"cannot attach validity to {typ}")  # pragma: no cover


def _decode_fsst_frame(buf: memoryview, pos: int) -> np.ndarray:
    from plc import fsst

    codec, n, blen, body = _frame_header(buf, pos)
    assert codec == FSST
    (tlen,) = struct.unpack_from("<I", buf, body)
    table = bytes(buf[body + 4 : body + 4 + tlen])
    p = body + 4 + tlen
    (lflen,) = struct.unpack_from("<I", buf, p)
    code_lens, _ = decode_frame(buf, p + 4)
    codes = np.frombuffer(buf, np.uint8, offset=p + 4 + lflen,
                          count=body + blen - (p + 4 + lflen))
    return fsst.fsst_decode(table, codes, np.asarray(code_lens, np.int64))


# --------------------------------------------------------------------------
# chunk pack / unpack (K13)
# --------------------------------------------------------------------------

def encode_value_plane(col: pa.Array, cfg: EncodeConfig) -> bytes:
    """Type-driven plane dispatch (K11 entry): every Spark-surface type the
    engine stores — ints, floats, bool, string, binary, numeric lists."""
    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return encode_string_plane(col, cfg)
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return encode_binary_plane(col, cfg)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        if pa.types.is_int32(t.value_type):
            return encode_list_plane(col, cfg)
        return encode_list_generic(col, cfg)
    if pa.types.is_map(t):
        return encode_map_plane(col, cfg)
    if pa.types.is_struct(t):
        return encode_struct_plane(col, cfg)
    if _temporal_kind(t) is not None:
        return encode_temporal_plane(col, cfg)
    if pa.types.is_decimal128(t):
        return encode_decimal_plane(col, cfg)
    if pa.types.is_floating(t) or pa.types.is_integer(t) \
            or pa.types.is_boolean(t):
        arr = np.ascontiguousarray(col.to_numpy(zero_copy_only=False))
        if arr.dtype not in _DTYPE_CODE:  # e.g. float16 via an odd cast path
            raise TypeError(f"unsupported column type {t} "
                            f"(numpy dtype {arr.dtype})")
        if arr.dtype.kind == "f":
            return encode_float_plane(arr, cfg)
        return encode_int_plane(arr, cfg)
    raise TypeError(f"unsupported column type {t}")


_STAT_PREFIX = 64  # string min/max stored as parquet-style bounded prefixes

# doc_id bloom filter (parquet row-group-bloom analogue): point lookups can
# prune chunks whose min/max range overlaps the probe but which provably do
# not contain it. Double hashing from two byte-polynomial hashes; 31-bit
# h1/h2 keep every (h1 + i*h2) sum far from int64 overflow. The hash only
# has to agree between _bloom_build and bloom_probe (both numpy), so a
# vectorizable polynomial beats per-value md5 on the encode hot path.
_BLOOM_K = 7
_BLOOM_MIN_BITS = 1 << 13
_BLOOM_MAX_BITS = 1 << 21
_BLOOM_M = (1 << 31) - 1
_BLOOM_B1 = 1_000_003
_BLOOM_B2 = 10_007
_BLOOM_SCAN_CAP = 256  # bytes hashed per value; total length mixed in last
# hash-algorithm version, stored as bloom_v and REQUIRED by both probes: a
# bloom built by a different hash generation must fall back to
# always-survive, never be bit-tested (a silent false negative would drop
# a chunk a point decode needs). Bump when the hash arithmetic changes.
_BLOOM_V = 2


def _bloom_hashes(v: str) -> tuple[int, int]:
    """Scalar twin of :func:`_bloom_hash_arrays` — must stay arithmetic-
    identical (the no-false-negative property test covers the pair)."""
    b = v.encode("utf-8")
    h1 = h2 = 0
    for c in b[:_BLOOM_SCAN_CAP]:
        h1 = (h1 * _BLOOM_B1 + c + 1) % _BLOOM_M
        h2 = (h2 * _BLOOM_B2 + c + 1) % _BLOOM_M
    h1 = (h1 * _BLOOM_B1 + len(b) % _BLOOM_M + 1) % _BLOOM_M
    h2 = ((h2 * _BLOOM_B2 + len(b) % _BLOOM_M + 1) % _BLOOM_M) | 1
    return h1, h2


def _bloom_hash_arrays(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(h1[n], h2[n]) for a no-null string array — lockstep byte-position
    loop over the flat utf8 buffer (iterations = min(max len, cap), each
    one vectorized over every still-active value; no per-value Python)."""
    lengths, flat = _string_planes(arr)
    # flat stays uint8: the per-iteration indexed slice promotes to int64
    # in the accumulate expression, avoiding an 8x whole-buffer transient
    offs = np.zeros(lengths.size + 1, np.int64)
    np.cumsum(lengths, out=offs[1:])
    cap = np.minimum(lengths, _BLOOM_SCAN_CAP)
    h1 = np.zeros(lengths.size, np.int64)
    h2 = np.zeros(lengths.size, np.int64)
    starts = offs[:-1]
    for j in range(int(cap.max()) if cap.size else 0):
        act = cap > j
        byte = flat[starts[act] + j].astype(np.int64)
        h1[act] = (h1[act] * _BLOOM_B1 + byte + 1) % _BLOOM_M
        h2[act] = (h2[act] * _BLOOM_B2 + byte + 1) % _BLOOM_M
    h1 = (h1 * _BLOOM_B1 + lengths % _BLOOM_M + 1) % _BLOOM_M
    h2 = ((h2 * _BLOOM_B2 + lengths % _BLOOM_M + 1) % _BLOOM_M) | 1
    return h1, h2


def _bloom_build(col: pa.Array, bits_per_key: int = 10) -> dict | None:
    """{"bloom": bits, "bloom_m": m, "bloom_k": k, "bloom_v": v} over the
    non-null values of ``col``, ``bits`` the raw little-endian bit array;
    m is a power of two in [2^13, 2^21] (pow2 keeps the modulo a mask;
    the cap bounds the per-chunk bloom size on huge chunks — FP rate
    degrades gracefully instead of the filter exploding)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    col = col.drop_null()
    n = len(col)
    if n == 0:
        return None
    m = max(_BLOOM_MIN_BITS,
            min(_BLOOM_MAX_BITS, 1 << (bits_per_key * n - 1).bit_length()))
    h1, h2 = _bloom_hash_arrays(col)
    pos = (h1[:, None] + np.arange(_BLOOM_K, dtype=np.int64) * h2[:, None]) \
        & (m - 1)
    # boolean scatter + packbits: ~40x a bitwise_or.at scatter of the
    # same positions (ufunc.at is per-element; this is two memset-speed
    # passes over an m-bit temp)
    bits = np.zeros(m, dtype=bool)
    bits[pos.ravel()] = True
    packed = np.packbits(bits, bitorder="little")
    return {"bloom": packed.tobytes(), "bloom_m": m, "bloom_k": _BLOOM_K,
            "bloom_v": _BLOOM_V}


def bloom_probe(st: dict, h1: np.ndarray, h2: np.ndarray,
                raw_bits: "bytes | None" = None) -> np.ndarray:
    """Vectorized probe of a column_stats bloom entry for many keys at
    once: ``h1``/``h2`` are the keys' hashes from
    :func:`_bloom_hash_arrays` (hashed once by the caller, not per chunk);
    returns a per-key mask that is False where the bloom proves the key
    absent. ``raw_bits`` are the bloom's bits (the enc table's ``bloom``
    column); ``st`` carries only bloom_m/bloom_k/bloom_v. Missing bits
    or foreign-parameter blooms pass every key (pruning stays a
    superset)."""
    m, k = st.get("bloom_m"), st.get("bloom_k")
    if not raw_bits or not m or k != _BLOOM_K \
            or st.get("bloom_v") != _BLOOM_V:
        return np.ones(len(h1), dtype=bool)
    bits = np.frombuffer(raw_bits, dtype=np.uint8)
    pos = (h1[:, None] + np.arange(_BLOOM_K, dtype=np.int64) * h2[:, None]) \
        & (m - 1)
    return ((bits[pos >> 3] >> (pos & 7)) & 1).all(axis=1)


def bloom_might_contain(st: dict, value: str,
                        raw_bits: "bytes | None" = None) -> bool:
    """Single-key :func:`bloom_probe`."""
    h1, h2 = _bloom_hashes(value)
    return bool(bloom_probe(st, np.array([h1], np.int64),
                            np.array([h2], np.int64), raw_bits)[0])


def _truncate_min(s: str) -> str:
    return s[:_STAT_PREFIX]


def _truncate_max(s: str) -> str:
    """Parquet-style upper bound: a truncated max prefix has its last code
    point incremented so it stays >= every value it summarizes (range
    pruning in decode() remains correct; documents-style tables no longer
    embed full texts in the stats JSON)."""
    if len(s) <= _STAT_PREFIX:
        return s
    p = list(s[:_STAT_PREFIX])
    for i in range(len(p) - 1, -1, -1):
        cp = ord(p[i])
        # skip code points whose successor is unrepresentable/surrogate
        if cp < 0xD7FF or 0xE000 <= cp < 0x10FFFF:
            return "".join(p[:i]) + chr(cp + 1)
        p.pop()
    return s  # every prefix char saturated: keep the exact value


def column_stats(batch: pa.RecordBatch, *,
                 bloom_bits_per_key: int = 10) -> dict:
    """Per-column chunk statistics for the lineage manifest / enc table:
    min/max for numeric and string scalars, null_count for everything.
    Metadata-level (like parquet column-chunk stats) so decode can prune
    chunks on any predicate column without touching the payload blob.
    String bounds are truncated prefixes (min as-is, max incremented) so
    long-document tables don't embed full texts in the manifest.

    The key column (named ``doc_id``, per the engine's input contract)
    additionally gets a bloom filter so equality probes prune chunks whose
    min/max range overlaps but which provably lack the value (set
    ``bloom_bits_per_key=0`` to disable); its raw bits sit under
    ``bloom`` until :func:`enc_row` moves them to their own enc
    column."""
    import pyarrow.compute as pc

    out = {}
    for name, col in zip(batch.schema.names, batch.columns):
        st: dict = {"nulls": col.null_count}
        t = col.type
        tk = _temporal_kind(t)
        if tk is not None:
            # temporal stats as raw storage integers (epoch/ordinal in the
            # column's own unit, recorded under "unit") — JSON-safe and
            # directly comparable to the bounds decode() computes for
            # time-range chunk pruning
            if pa.types.is_date32(t):
                st["unit"] = "d"
            elif pa.types.is_date64(t):
                st["unit"] = "ms"
            else:
                st["unit"] = t.unit
            col, t = col.cast(tk[2]), tk[2]
        if (pa.types.is_integer(t) or pa.types.is_floating(t)
                or pa.types.is_string(t) or pa.types.is_large_string(t)):
            if len(col) - col.null_count > 0:
                mm = pc.min_max(col).as_py()
                if pa.types.is_string(t) or pa.types.is_large_string(t):
                    st["min"] = _truncate_min(mm["min"])
                    st["max"] = _truncate_max(mm["max"])
                else:
                    st["min"], st["max"] = mm["min"], mm["max"]
        if (name == "doc_id" and bloom_bits_per_key > 0
                and (pa.types.is_string(t) or pa.types.is_large_string(t))):
            b = _bloom_build(col, bloom_bits_per_key)
            if b:
                st.update(b)
        out[name] = st
    return out


def pack_chunk(batch: pa.RecordBatch, cfg: EncodeConfig) -> tuple[bytes, dict]:
    """Encode every column of ``batch`` into one self-describing blob.

    Returns (blob, per-column codec names for the lineage manifest).
    """
    if batch.num_columns > 255:
        raise ValueError(f"chunk container supports ≤255 columns "
                         f"(got {batch.num_columns}); split the table")
    if batch.num_rows >= 1 << 32:
        raise ValueError("chunk container supports <2^32 rows per chunk; "
                         "lower max_chunk_values")  # pragma: no cover
    pieces = [MAGIC,
              struct.pack("<BIB", VERSION, batch.num_rows, batch.num_columns)]
    codecs = {}
    for name, col in zip(batch.schema.names, batch.columns):
        cfg._current_col = name  # keys the per-column FSST table cache
        col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
        if col.null_count > 0:
            frame = _encode_with_nulls(col, cfg)
        else:
            frame = encode_value_plane(col, cfg)
        nb = name.encode()
        pieces.append(struct.pack("<H", len(nb)) + nb +
                      struct.pack("<QI", len(frame), zlib.crc32(frame)))
        pieces.append(frame)
        codecs[name] = CODEC_NAMES[frame[0]]
    return b"".join(pieces), codecs


# one encoded chunk as every writer stores it (part_id is the directory)
_ENC_ARROW_SCHEMA = pa.schema([
    ("part_id", pa.int32()), ("chunk_idx", pa.int32()), ("n_rows", pa.int64()),
    ("n_tokens", pa.int64()), ("raw_bytes", pa.int64()), ("enc_bytes", pa.int64()),
    ("min_doc_id", pa.string()), ("max_doc_id", pa.string()),
    ("min_w", pa.int64()), ("max_w", pa.int64()), ("stats", pa.string()),
    ("codecs", pa.string()), ("bloom", pa.binary()),
    ("payload", pa.binary()),
])


def enc_row(buf: list, cfg: EncodeConfig, part_id: int, chunk_idx: int,
            n_tokens: int, wcol: str) -> pa.RecordBatch:
    """The one chunk builder, used by every writer: the buffered batches
    ``buf`` (rows of one part) as one :data:`_ENC_ARROW_SCHEMA` row.
    ``n_tokens`` is the weight-column sum; raw bytes are int32 TOKEN
    bytes for token tables (``wcol == "n_tok"``), else Arrow logical
    bytes (``nbytes`` is slice-aware). The doc_id bloom bits (up to
    256 KB) move out of the stats JSON into their own column, so no
    stats-JSON reader ever parses them."""
    import pyarrow.compute as pc

    big = (buf[0] if len(buf) == 1 else
           pa.Table.from_batches(buf).combine_chunks()
           .to_batches(max_chunksize=1 << 31)[0])
    blob, codecs = pack_chunk(big, cfg)
    stats = column_stats(big)
    bloom = (stats.get("doc_id") or {}).pop("bloom", None)
    mm = pc.min_max(big.column("doc_id")).as_py()
    wstat = stats.get("n_tok", {})
    raw_b = n_tokens * 4 if wcol == "n_tok" else int(big.nbytes)
    return pa.RecordBatch.from_arrays([
        pa.array([part_id], pa.int32()),
        pa.array([chunk_idx], pa.int32()),
        pa.array([big.num_rows], pa.int64()),
        pa.array([n_tokens], pa.int64()),
        pa.array([raw_b], pa.int64()),
        pa.array([len(blob)], pa.int64()),
        pa.array([mm["min"]], pa.string()),
        pa.array([mm["max"]], pa.string()),
        pa.array([wstat.get("min")], pa.int64()),
        pa.array([wstat.get("max")], pa.int64()),
        pa.array([json.dumps(stats)], pa.string()),
        pa.array([json.dumps(codecs)], pa.string()),
        pa.array([bloom], pa.binary()),
        pa.array([blob], pa.binary()),
    ], schema=_ENC_ARROW_SCHEMA)


def weight_col(names) -> str:
    """``n_tok`` for token tables, else ``_w`` (1 per row, never stored)."""
    return "n_tok" if "n_tok" in names else "_w"


def row_weights(batch: pa.RecordBatch, wcol: str) -> np.ndarray:
    """The one row-weight rule, as int64: ``n_tok`` with a null counted
    as 0 (the stored value stays null), or 1 per row for ``_w``.
    ``plc.pipeline._weight`` is the same rule as a Spark Column."""
    if wcol != "n_tok":
        return np.ones(batch.num_rows, np.int64)
    import pyarrow.compute as pc

    return (pc.fill_null(batch.column("n_tok"), 0)
            .to_numpy(zero_copy_only=False).astype(np.int64))


def cut_chunks(runs, cfg: EncodeConfig, wcol: str, max_vals: int):
    """The one chunk cutter, run by every writer's tasks: ``runs`` of
    ``(part_id, batch, weights)`` (consecutive rows of one part, their
    :func:`row_weights`) in, one :func:`enc_row` per chunk out. A chunk
    holds at most ``max_vals`` of weight unless one row alone weighs
    more; it is cut inside a batch where needed, so the Arrow batch size
    never shows in what is stored, and closes when the part changes.
    ``chunk_idx`` counts this task's chunks."""
    buf: list[pa.RecordBatch] = []
    buf_part = -1
    buf_w = chunk_idx = 0

    def flush() -> pa.RecordBatch:
        nonlocal buf, buf_w, chunk_idx
        row = enc_row(buf, cfg, buf_part, chunk_idx, buf_w, wcol)
        buf, buf_w, chunk_idx = [], 0, chunk_idx + 1
        return row

    for pid, batch, w in runs:
        if buf and pid != buf_part:
            yield flush()
        buf_part = pid
        cum = np.cumsum(w)
        s = base = 0  # base: weight of the batch's rows before s
        while s < len(w):
            # rows s..hi-1 are the most that fit in the chunk's room
            hi = max(s, int(np.searchsorted(cum, base + max_vals - buf_w,
                                            side="right")))
            if hi == s:
                if buf:
                    yield flush()
                    continue
                hi = s + 1
            buf.append(batch.slice(s, hi - s))
            buf_w += int(cum[hi - 1]) - base
            s, base = hi, int(cum[hi - 1])
            if buf_w >= max_vals:
                yield flush()
    if buf:
        yield flush()


def _encode_with_nulls(col: pa.Array, cfg: EncodeConfig) -> bytes:
    mask = ~np.asarray(col.is_null())
    t = col.type
    validity_frame = encode_int_plane(mask.astype(np.int64), cfg,
                                      allow_zstd=False)
    if pa.types.is_struct(t) or pa.types.is_map(t):
        # children carry their own validity; parent nulls live in this
        # wrapper. Child values under null parents encode as-is (null map
        # slots are zero-length by offsets construction).
        return _frame(NULLS, len(col), validity_frame,
                      encode_value_plane(col, cfg))
    tk = _temporal_kind(t)
    if tk is not None:
        # fill through the integer storage view (deterministic zero epoch),
        # then view back so the typed encoder sees a null-free column
        filled = col.cast(tk[2]).fill_null(0).cast(t)
    elif pa.types.is_decimal128(t):
        import decimal

        filled = col.fill_null(decimal.Decimal(0).scaleb(-t.scale))
    else:
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            fill = []
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            fill = ""
        elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
            fill = b""
        elif pa.types.is_boolean(t):
            fill = False
        else:
            fill = 0
        filled = col.fill_null(fill)
    return _frame(NULLS, len(col), validity_frame,
                  encode_value_plane(filled, cfg))


def unpack_chunk(blob: bytes | memoryview,
                 columns: list[str] | None = None) -> pa.RecordBatch:
    """Inverse of :func:`pack_chunk` — bit-identical round trip (the
    reference's correctness contract, BASELINE.json north_star).

    ``columns`` prunes at the storage level: frames for unrequested columns
    are *skipped by length* without decoding — the columnar-read win the
    reference format exists for (SURVEY.md §2 Part B, projection row)."""
    buf = memoryview(blob)
    if bytes(buf[:4]) != MAGIC:
        raise IOError("bad chunk magic (payload is not a PLC1 chunk)")
    version, n_rows, ncols = struct.unpack_from("<BIB", buf, 4)
    if version > VERSION:
        raise IOError(f"chunk written by a newer format version {version}; "
                      f"this reader supports <= {VERSION}")
    pos = 4 + 6
    names, arrays = [], []
    for _ in range(ncols):
        (nlen,) = struct.unpack_from("<H", buf, pos)
        name = bytes(buf[pos + 2 : pos + 2 + nlen]).decode()
        pos += 2 + nlen
        flen, crc = struct.unpack_from("<QI", buf, pos)
        pos += 12
        if columns is not None and name not in columns:
            pos += flen  # column pruning: skip without decode
            continue
        frame = buf[pos : pos + flen]
        if zlib.crc32(frame) != crc:
            raise IOError(f"chunk crc mismatch for column {name!r}")
        val, _ = decode_frame(frame, 0)
        if isinstance(val, np.ndarray):
            val = pa.array(val)
        names.append(name)
        arrays.append(val)
        pos += flen
    return pa.RecordBatch.from_arrays(arrays, names=names)
