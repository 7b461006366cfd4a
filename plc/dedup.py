"""Deduplication operators for large-scale training-data pipelines.

Everything here is pure DataFrame expressions (JVM higher-order functions:
``transform`` / ``aggregate`` / ``array_min`` — zero Python UDFs), so the
hot path stays inside whole-stage codegen and scales with executors:

- :func:`exact_dedup` — content-hash groupBy, keep min key. One shuffle on
  the 128-bit content hash; survivors join back broadcast-free via the hash.
- :func:`shingle_col` / :func:`minhash_signature` — k-token shingles and an
  H-permutation MinHash sketch (Broder, "On the resemblance and containment
  of documents", 1997) with universal hashes ``(a·x + b) mod p``.
- :func:`lsh_band_keys` / :func:`candidate_pairs` — banded LSH: only rows
  sharing a band bucket are ever compared (shuffle on the band key, never
  all-pairs — the 100 TB-safe property).
- :func:`jaccard_verify` — exact shingle-set Jaccard on candidates only.
- :func:`simhash_signature` — 32-bit SimHash (Charikar, STOC 2002) for
  Hamming-style near-dup, banded by byte for candidate generation.
- :func:`dedup_minhash` — end-to-end: candidates → verify → connected
  components by iterative min-label propagation (O(log n) joins) → keep
  one row per duplicate cluster.

Determinism: hash-function parameters derive from a seed via fixed integer
arithmetic, so signatures are reproducible across runs and engines (the
DuckDB oracles in ``__spark_entry__`` recompute them bit-identically).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, functions as F

MERSENNE_P = 4_294_967_291        # largest 32-bit prime
# dedup_minhash: verified edge sets at or below this size are resolved
# with exact driver-side union-find (~100 B/edge -> ~100 MB at the cap);
# larger sets run the distributed min-label propagation loop
_CC_DRIVER_MAX_EDGES = 1_000_000
SHINGLE_MOD = 1 << 30
_W1, _W2 = 1_299_721, 31_337      # shingle mixing weights (primes)
_W1B, _W2B = 2_750_159, 104_729   # second-plane bases (wide shingles)


def hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for universal hashing — plain integer
    arithmetic so any engine (or SQL oracle) can regenerate them."""
    out = []
    for j in range(num_hashes):
        a = (2_654_435_761 * (seed + j + 1) + 97) % MERSENNE_P
        b = (40_503 * (seed + j + 1) + 12_345) % MERSENNE_P
        out.append((a or 1, b))
    return out


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_col: str, key_col: str) -> DataFrame:
    """Keep exactly one row (min key) per distinct content value.

    Assumes ``key_col`` is unique, as a document id is: when two rows of
    one content group share the minimum key, ``min_by`` keeps either of
    them, so which row survives is not deterministic.

    Plan: md5 the content, ``min_by(struct(*), key)`` over a groupBy on
    the hash — ONE shuffle carrying each row once, map-side partial agg,
    no join back (the previous shape shuffled the key set for the groupBy
    and then both sides again for a semi-join: three exchanges per
    evaluation, which compounds in dedup_minhash where this frame is in
    the lineage of the verify, pair and survivor paths). At 10^12 rows
    the hash groupBy is the canonical exact-dedup plan."""
    h = F.md5(F.col(content_col).cast("string"))
    return (df.groupBy(h.alias("_h"))
            .agg(F.min_by(F.struct(*df.columns), F.col(key_col))
                 .alias("_r"))
            .select("_r.*"))


def exact_dedup_stats(df: DataFrame, content_col: str, key_col: str,
                      group_col: str | None = None) -> DataFrame:
    """Duplicate statistics (per group): rows, distinct contents, dup rows."""
    h = F.md5(F.col(content_col).cast("string"))
    gcols = [group_col] if group_col else []
    return (df.select(*gcols, h.alias("_h"))
            .groupBy(*gcols)
            .agg(F.count("*").alias("n_rows"),
                 F.countDistinct("_h").alias("n_distinct"),
                 (F.count("*") - F.countDistinct("_h")).alias("n_dup_rows")))


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def shingle_weights(k: int, base: int = _W1, tail: int = _W2,
                    modulus: int = SHINGLE_MOD) -> list[int]:
    """Mixing weight of token position j inside a k-shingle — exposed so
    SQL oracles can regenerate shingles bit-identically. ``base``/``tail``
    select the hash plane (defaults = the MinHash plane)."""
    return [pow(base, k - 1 - j, modulus) if j < k - 1
            else tail % modulus for j in range(k)]


def shingle_col(tokens_col: str | Column, k: int = 3,
                modulus: int = SHINGLE_MOD) -> Column:
    """k-token shingles as int64 hashes (vectorized JVM expression).

    shingle_i = Σ_j t[i+j]·w_j mod modulus, with the modulus applied per
    accumulation step: each partial sum stays < 2^61 + 2^30 for ANY k
    (token < 2^31, weight < 2^30, carry < modulus), so int64 arithmetic is
    exact and non-negative — numpy %, JVM %, and SQL % all agree."""
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    ws = shingle_weights(k)
    n = F.size(t) - (k - 1)
    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)) \
        .otherwise(F.array().cast("array<int>"))

    def sh(i):
        expr = F.lit(0).cast("bigint")
        for j, w in enumerate(ws):
            expr = (expr + F.element_at(t, i + j + 1).cast("bigint")
                    * F.lit(w)) % F.lit(modulus)
        return expr

    return F.transform(idx, sh)


def minhash_signature(shingles: Column, num_hashes: int = 8,
                      seed: int = 42) -> Column:
    """MinHash sketch: array of H minima of universal hashes over the
    shingle set. Empty docs get the sentinel p (never collides)."""
    sigs = []
    for a, b in hash_params(num_hashes, seed):
        m = F.array_min(F.transform(
            shingles, lambda s: (s * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_P)))
        sigs.append(F.coalesce(m, F.lit(MERSENNE_P)))
    return F.array(*sigs)


BAND_MOD = 2_147_483_647  # 2^31-1: keeps acc*1e6+x < 2^52 (exact in int64,
#   non-negative, so JVM %, numpy %, and SQL % all agree for ANY rows/band)


def lsh_band_keys(sig: Column, bands: int, rows: int) -> Column:
    """Array of per-band bucket keys: polynomial combine of each band's
    signature slice (deterministic, engine-portable — no builtin hash())."""
    keys = []
    for b in range(bands):
        sl = F.slice(sig, b * rows + 1, rows)
        key = F.aggregate(
            sl, F.lit(0).cast("bigint"),
            lambda acc, x: (acc * F.lit(1_000_003) + x % F.lit(BAND_MOD))
            % F.lit(BAND_MOD))
        keys.append(key)
    return F.array(*keys)


def _shingle_arrays(batch, tokens_col: str, k: int, modulus: int,
                    weights: list[int] | None = None):
    """Vectorized shingle hashes for a whole Arrow batch: returns
    (sh_values int64 ordered by row, per-row shingle offsets int64[n+1])."""
    import pyarrow as pa

    toks = batch.column(tokens_col)
    toks = toks.cast(pa.large_list(pa.int32()))
    offsets = np.frombuffer(toks.buffers()[1], np.int64,
                            count=len(toks) + 1, offset=toks.offset * 8)
    lens = np.diff(offsets)
    flat = toks.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    ws = weights if weights is not None else shingle_weights(k)
    n = flat.size
    if n >= k:
        # modulus per accumulation step, mirroring shingle_col: the partial
        # sum never exceeds 2^61 + modulus for any k (a sum-then-mod wraps
        # int64 at k >= 4 and then numpy/JVM % diverge on sign)
        sh_all = np.zeros(n - k + 1, dtype=np.int64)
        for j, w in enumerate(ws):
            sh_all += flat[j : n - k + 1 + j] * w
            sh_all %= modulus
        # windows crossing row boundaries are invalid; valid windows of a
        # row are a contiguous prefix-aligned block, so per-row slices work
        row_of = np.repeat(np.arange(lens.size), lens)
        valid = row_of[: n - k + 1] == row_of[k - 1 :]
        sh = sh_all[valid]
    else:
        sh = np.empty(0, dtype=np.int64)
    sh_lens = np.maximum(lens - (k - 1), 0)
    sh_off = np.zeros(sh_lens.size + 1, dtype=np.int64)
    np.cumsum(sh_lens, out=sh_off[1:])
    return sh, sh_off


def minhash_bands(df: DataFrame, key_col: str, tokens_col: str = "tokens",
                  num_hashes: int = 8, bands: int = 4, seed: int = 42,
                  shingle_k: int = 3) -> DataFrame:
    """(key, band, bkey) rows via ONE Arrow-vectorized kernel.

    The pure-expression variant (minhash_signature + lsh_band_keys) inlines
    the shingle transform into every hash and band — Catalyst codegen blows
    up on the duplicated subtrees (multi-MB task binaries, minutes of
    planning). numpy computes the identical arithmetic in microseconds;
    like the codec kernels, heavy per-value math belongs in mapInArrow."""
    import pyarrow as pa

    from plc.util import ensure_shipped

    ensure_shipped(df.sparkSession)
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands}) — otherwise band keys degenerate (a constant "
            f"key turns the LSH join into an all-pairs product)")
    rows = num_hashes // bands
    params = hash_params(num_hashes, seed)
    # keys keep their own type, so pair order (key_a < key_b) and the
    # min-key winner follow the key's native ordering
    schema = f"k {df.schema[key_col].dataType.simpleString()}, " \
        f"band int, bkey bigint"

    def run(batches):
        for batch in batches:
            sh, sh_off = _shingle_arrays(batch, tokens_col, shingle_k,
                                         SHINGLE_MOD)
            nrows = len(batch)
            sig = np.full((nrows, num_hashes), MERSENNE_P, dtype=np.int64)
            if sh.size:
                nonempty = sh_off[1:] > sh_off[:-1]
                # reduceat over nonempty rows only: strictly increasing
                # starts, and the final segment runs to the end of sh
                # (clipped empty-row starts would truncate it)
                starts_ne = sh_off[:-1][nonempty]
                for j, (a, b) in enumerate(params):
                    h = (sh * a + b) % MERSENNE_P
                    sig[nonempty, j] = np.minimum.reduceat(h, starts_ne)
            bkeys = np.empty((nrows, bands), dtype=np.int64)
            for b in range(bands):
                acc = np.zeros(nrows, dtype=np.int64)
                for r in range(rows):
                    acc = (acc * 1_000_003
                           + sig[:, b * rows + r] % BAND_MOD) % BAND_MOD
                bkeys[:, b] = acc
            keys = batch.column(key_col)
            idx = pa.array(np.repeat(np.arange(nrows), bands))
            yield pa.RecordBatch.from_arrays([
                keys.take(idx),
                pa.array(np.tile(np.arange(bands, dtype=np.int32), nrows)),
                pa.array(bkeys.ravel()),
            ], names=["k", "band", "bkey"])

    return df.select(key_col, tokens_col).mapInArrow(run, schema)


def shingle_sets(df: DataFrame, key_col: str, tokens_col: str = "tokens",
                 shingle_k: int = 3) -> DataFrame:
    """(key, sorted distinct shingle array) via one Arrow kernel — feeds
    the exact-Jaccard verify without re-deriving shingles in JVM exprs."""
    import pyarrow as pa

    from plc.util import ensure_shipped

    ensure_shipped(df.sparkSession)
    schema = f"k {df.schema[key_col].dataType.simpleString()}, " \
        f"sh array<bigint>"

    def run(batches):
        for batch in batches:
            sh, sh_off = _shingle_arrays(batch, tokens_col, shingle_k,
                                         SHINGLE_MOD)
            nrows = len(batch)
            # per-row distinct: tag each shingle with its row, sort + unique
            row_of = np.repeat(np.arange(nrows, dtype=np.int64),
                               np.diff(sh_off))
            tagged = row_of * (SHINGLE_MOD + 1) + sh
            uniq = np.unique(tagged)
            urow = uniq // (SHINGLE_MOD + 1)
            ush = uniq % (SHINGLE_MOD + 1)
            counts = np.bincount(urow, minlength=nrows).astype(np.int64)
            offs = np.zeros(nrows + 1, dtype=np.int64)
            np.cumsum(counts, out=offs[1:])
            arr = pa.LargeListArray.from_arrays(pa.array(offs),
                                                pa.array(ush))
            yield pa.RecordBatch.from_arrays(
                [batch.column(key_col), arr.cast(pa.list_(pa.int64()))],
                names=["k", "sh"])

    return df.select(key_col, tokens_col).mapInArrow(run, schema)


def candidate_pairs(df: DataFrame, key_col: str, tokens_col: str = "tokens",
                    num_hashes: int = 8, bands: int = 4, seed: int = 42,
                    shingle_k: int = 3) -> DataFrame:
    """LSH candidate pairs (key_a < key_b): Arrow-kernel band keys,
    self-join on (band index, band key). The join shuffles on the band key —
    bucket-local comparisons only, never an all-pairs product."""
    banded = minhash_bands(df, key_col, tokens_col, num_hashes, bands, seed,
                           shingle_k)
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band")) &
                      (F.col("a.bkey") == F.col("b.bkey")) &
                      (F.col("a.k") < F.col("b.k")))
            .select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
            .distinct())


def jaccard_verify(pairs: DataFrame, df: DataFrame, key_col: str,
                   tokens_col: str = "tokens", shingle_k: int = 3,
                   threshold: float = 0.5) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs; keeps pairs ≥ threshold.
    Verification cost is O(candidates), not O(n²): only rows that appear
    in a candidate pair are ever re-shingled — the shingle kernel runs
    over a semi-join of ``df`` against the candidate key set, not the
    whole corpus again (callers materialize ``pairs`` first, so the key
    set is a cheap re-read, and on a duplicate-light corpus the verify
    pass touches a tiny fraction of the rows)."""
    keys = (pairs.select(F.col("key_a").alias(key_col))
            .unionByName(pairs.select(F.col("key_b").alias(key_col)))
            .distinct())
    cand_rows = df.join(keys, key_col, "left_semi")
    sh = shingle_sets(cand_rows, key_col, tokens_col, shingle_k)
    j = (pairs
         .join(sh.select(F.col("k").alias("key_a"), F.col("sh").alias("sa")),
               "key_a")
         .join(sh.select(F.col("k").alias("key_b"), F.col("sh").alias("sb")),
               "key_b"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = F.size(F.array_union("sa", "sb")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    return (j.select("key_a", "key_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def wide_shingles(df: DataFrame, key_col: str, tokens_col: str = "tokens",
                  shingle_k: int = 13) -> DataFrame:
    """(key, s) exploded ~60-bit shingle ids: TWO independent hash planes
    (separate prime bases, same per-step-modulus kernel) combined as
    ``plane1 · 2^30 + plane2``. MinHash's single 2^30 plane is a sketch
    space where collisions are harmless; EXACT n-gram membership
    (decontamination) needs a collision-safe id — at 2^30, a realistic
    benchmark (~5M distinct n-grams) would falsely flag essentially every
    long training doc (P ≈ 1−e^(−B·s/2^30)); at ~2^60 the expected false
    flags are ~10^-8 per doc."""
    from plc.util import ensure_shipped

    ensure_shipped(df.sparkSession)
    w2 = shingle_weights(shingle_k, _W1B, _W2B)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            s1, off = _shingle_arrays(batch, tokens_col, shingle_k,
                                      SHINGLE_MOD)
            s2, _ = _shingle_arrays(batch, tokens_col, shingle_k,
                                    SHINGLE_MOD, weights=w2)
            s = s1 * np.int64(SHINGLE_MOD) + s2
            keys = batch.column(key_col).cast(pa.string())
            idx = pa.array(np.repeat(np.arange(len(batch)), np.diff(off)))
            yield pa.RecordBatch.from_arrays(
                [keys.take(idx), pa.array(s, pa.int64())], names=["k", "s"])

    return df.select(key_col, tokens_col).mapInArrow(run,
                                                     "k string, s bigint")


def decontaminate(df: DataFrame, benchmark: DataFrame,
                  key_col: str = "doc_id", tokens_col: str = "tokens",
                  shingle_k: int = 13) -> DataFrame:
    """Benchmark decontamination: drop every row of ``df`` that shares ANY
    ``shingle_k``-token n-gram with the ``benchmark`` corpus — the
    standard eval-leakage guard for a pretraining corpus (13-gram overlap
    is the widely used criterion).

    Scale shape: the benchmark's distinct shingles are one (small) side of
    a semi-join against the training side's exploded shingles — the join
    shuffles on the shingle value (or broadcasts when the benchmark is
    tiny), never materializes pairs, and the final anti-join removes
    contaminated keys. Docs shorter than ``shingle_k`` tokens have no
    shingles and are never flagged. Membership runs in the ~60-bit
    :func:`wide_shingles` space (collision-safe, unlike MinHash's 2^30
    sketch plane), and the arithmetic is SQL-regenerable at any k."""
    bad = (wide_shingles(benchmark, key_col, tokens_col, shingle_k)
           .select("s").distinct())
    hits = (wide_shingles(df, key_col, tokens_col, shingle_k)
            .join(bad, "s", "left_semi")
            .select(F.col("k").alias(key_col)).distinct())
    return df.join(hits, key_col, "left_anti")


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash_signature(tokens_col: str | Column, bits: int = 32,
                      seed: int = 42) -> Column:
    """SimHash over distinct tokens: bit b is the sign of the sum of ±1
    votes from an INDEPENDENT universal hash per bit (parity of
    ``(t·a_b + c_b) mod p``). One hash per bit — not bit b of one hash —
    keeps every signature bit informative at any width (a single 32-bit
    hash leaves bits ≥ 32 constant, which would degenerate banded joins
    into all-pairs). Pure JVM expressions; fine for narrow widths or
    expression contexts — the Arrow kernel in :func:`simhash_sigs` computes
    the identical signature ~50× faster for wide/bulk use.

    Token ids are expected non-negative < 2^31 (the same contract as the
    shingle kernels; :func:`_simhash_sig_arrays` raises on violations).
    The vote hash uses ``pmod`` (floor mod), so even out-of-contract
    negative ids get the same floor-mod arithmetic numpy's ``%`` would —
    the JVM's truncated ``%`` would silently flip their parity."""
    if not 0 < bits <= 62:
        raise ValueError(f"bits must be in 1..62 (got {bits}): bit 62 is "
                         f"the widest 1<<b that stays a positive bigint "
                         f"literal on the JVM and a non-wrapping int64 in "
                         f"numpy")
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    dt = F.array_distinct(t)
    params = hash_params(bits, seed)

    def bit_vote(a, c):
        return lambda acc, x: acc + \
            F.pmod(F.pmod(x.cast("bigint") * F.lit(a) + F.lit(c),
                          F.lit(MERSENNE_P)), F.lit(2)) * 2 - 1

    out = F.lit(0).cast("bigint")
    for b, (a, c) in enumerate(params):
        vote = F.aggregate(dt, F.lit(0).cast("bigint"), bit_vote(a, c))
        out = out + F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return out


def _simhash_sig_arrays(batch, tokens_col: str, bits: int,
                        seed: int) -> np.ndarray:
    """Vectorized SimHash signatures for a whole Arrow batch — the same
    arithmetic as :func:`simhash_signature` (numpy/JVM/SQL bit-identical;
    token ids must be non-negative < 2^31 like the shingle kernels —
    validated below)."""
    import pyarrow as pa

    if not 0 < bits <= 62:
        raise ValueError(f"bits must be in 1..62 (got {bits})")

    toks = batch.column(tokens_col).cast(pa.large_list(pa.int32()))
    offsets = np.frombuffer(toks.buffers()[1], np.int64,
                            count=len(toks) + 1, offset=toks.offset * 8)
    lens = np.diff(offsets)
    flat = toks.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    if flat.size and flat.min() < 0:
        # the row·2^31+token packing below would credit a negative token
        # to the PREVIOUS row, silently corrupting both rows' signatures
        raise ValueError("simhash over token ids requires non-negative "
                         "tokens < 2^31 (same contract as the shingle "
                         "kernels); found a negative token id")
    row_of = np.repeat(np.arange(lens.size), lens)
    # distinct (row, token) pairs in one sort: key = row·2^31 + token
    u = np.unique(row_of * (1 << 31) + flat)
    drow = (u >> 31).astype(np.int64)
    dtok = (u & ((1 << 31) - 1)).astype(np.int64)
    nrows = lens.size
    sig = np.zeros(nrows, dtype=np.int64)
    for b, (a, c) in enumerate(hash_params(bits, seed)):
        parity = ((dtok * a + c) % MERSENNE_P) & 1  # t·a < 2^63: exact
        vote = np.bincount(drow, weights=parity * 2 - 1, minlength=nrows)
        sig |= (vote > 0).astype(np.int64) << b
    return sig


def simhash_sigs(df: DataFrame, key_col: str, tokens_col: str = "tokens",
                 *, bits: int = 32, seed: int = 42,
                 carry: tuple[str, ...] = ()) -> DataFrame:
    """(key, sig, *carry) via one Arrow-vectorized kernel — the bulk path
    for :func:`simhash_candidates` (the pure-expression signature evaluates
    ``bits`` aggregates per row, which dominates wall at table scale).
    ``carry`` columns pass through the kernel unchanged — cheaper at scale
    than joining side data back onto the signatures afterwards."""
    if not 0 < bits <= 62:  # driver-side: fail before any job launches
        raise ValueError(f"bits must be in 1..62 (got {bits})")
    from plc.util import ensure_shipped

    ensure_shipped(df.sparkSession)
    carry = tuple(carry)
    ddl = "k string, sig bigint" + "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in carry)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            sig = _simhash_sig_arrays(batch, tokens_col, bits, seed)
            yield pa.RecordBatch.from_arrays(
                [batch.column(key_col).cast(pa.string()),
                 pa.array(sig, pa.int64())]
                + [batch.column(c) for c in carry],
                names=["k", "sig", *carry])

    return df.select(key_col, tokens_col, *carry).mapInArrow(run, ddl)


def _banded_pairs(sigs: DataFrame, *, bits: int, bands: int,
                  max_hamming: int, carry: tuple[str, ...] = ()) -> DataFrame:
    """Distinct qualifying pairs from a (k, sig, *carry) frame via the
    banded self-join. A pair sharing several bands has exactly ONE first
    equal band, and the join keeps it only there — the output is
    duplicate-free by construction, with no dropDuplicates shuffle over
    the (bucket²-sized) raw pair stream. ``carry`` columns come back
    suffixed ``_a``/``_b``."""
    if bits % bands:
        raise ValueError(f"bits ({bits}) must divide into bands ({bands})")
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming {max_hamming} > bands-1 ({bands - 1}): banding "
            f"would miss qualifying pairs; raise bands")
    w = bits // bands
    bvals = F.array(*[F.shiftright(F.col("sig"), i * w) % F.lit(1 << w)
                      for i in range(bands)])
    banded = sigs.select("k", "sig", *carry,
                         F.posexplode(bvals).alias("band", "bval"))
    a, b = banded.alias("a"), banded.alias("b")

    def band_of(side, j):
        return F.shiftright(F.col(f"{side}.sig"), j * w) % F.lit(1 << w)

    first_eq = F.lit(True)
    for j in range(bands - 1):
        first_eq = first_eq & ((F.col("a.band") <= F.lit(j))
                               | (band_of("a", j) != band_of("b", j)))
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bval") == F.col("b.bval"))
                   & (F.col("a.k") < F.col("b.k")))
            .where(first_eq & (ham <= max_hamming))
            .select(F.col("a.k").alias("key_a"),
                    F.col("b.k").alias("key_b"),
                    ham.alias("hamming"),
                    *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
                    *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry]))


def simhash_candidates(df: DataFrame, key_col: str,
                       tokens_col: str = "tokens", *, bits: int = 32,
                       bands: int = 4, seed: int = 42,
                       max_hamming: int = 3) -> DataFrame:
    """Banded SimHash near-dup pairs: the ``bits``-bit signature splits
    into ``bands`` equal bit-bands; only rows sharing a band value are
    ever compared (shuffle on (band, value), never all-pairs), then the
    exact Hamming distance filters. By pigeonhole this is EXACT for
    ``max_hamming <= bands - 1``: a pair differing in ≤ bands-1 bits has
    at least one identical band, so no qualifying pair is missed —
    the Hamming-sketch complement of the MinHash-LSH Jaccard path.

    Each pair is emitted from its FIRST equal band only (prefix-band
    inequality predicate in the join), so the output is distinct without
    a dropDuplicates shuffle over the raw bucket² pair stream."""
    d = simhash_sigs(df, key_col, tokens_col, bits=bits, seed=seed)
    return _banded_pairs(d, bits=bits, bands=bands, max_hamming=max_hamming)


def simhash_near_dup_stats(df: DataFrame, key_col: str,
                           tokens_col: str = "tokens", *, bits: int = 56,
                           bands: int = 4, seed: int = 42,
                           max_hamming: int = 3) -> DataFrame:
    """Exact (n_pairs, sum_hamming, n_exact) aggregates over ALL doc pairs
    with Hamming ≤ ``max_hamming`` — without materializing them. SimHash
    depends only on content, so identical-token docs collapse to one
    representative with multiplicity m: a cross-content rep pair (A, B)
    stands for m_A·m_B doc pairs and a content group contributes
    C(m, 2) internal pairs at Hamming 0. The banded join then runs over
    DISTINCT contents only — immune to the m²/2 exact-dup blowup that makes
    the naive pair list quadratic on duplicate-heavy corpora. Aggregates
    are bit-identical to counting :func:`simhash_candidates` output.

    The multiplicity rides through the signature kernel (``carry``) and
    the banded join, so the whole query is one shuffle (the band join)
    plus tiny aggregates — no pair-list dedup, no ma/mb back-joins."""
    h = F.md5(F.col(tokens_col).cast("string"))
    grouped = (df.select(F.col(key_col).alias("_k"), h.alias("_h"),
                         F.col(tokens_col).alias("_t"))
               .groupBy("_h").agg(F.min("_k").alias("_k"),
                                  F.count("*").alias("_m"),
                                  F.any_value("_t").alias(tokens_col)))
    reps = grouped.select(F.col("_k").alias("rk"), "_m", tokens_col)
    d = simhash_sigs(reps, "rk", tokens_col, bits=bits, seed=seed,
                     carry=("_m",))
    pairs = _banded_pairs(d, bits=bits, bands=bands,
                          max_hamming=max_hamming, carry=("_m",))
    ma, mb = F.col("_m_a"), F.col("_m_b")
    cross = (pairs
             .agg(F.coalesce(F.sum(ma * mb), F.lit(0))
                  .alias("n_pairs"),
                  F.coalesce(F.sum(F.col("hamming") * ma * mb), F.lit(0))
                  .alias("sum_hamming"),
                  F.coalesce(F.sum(F.when(F.col("hamming") == 0, ma * mb)
                                   .otherwise(0)), F.lit(0))
                  .alias("n_exact")))
    within = reps.agg(F.coalesce(
        F.sum(F.col("_m") * (F.col("_m") - 1) / 2), F.lit(0))
        .cast("bigint").alias("w"))
    return (cross.crossJoin(within)
            .select((F.col("n_pairs") + F.col("w")).alias("n_pairs"),
                    F.col("sum_hamming"),
                    (F.col("n_exact") + F.col("w")).alias("n_exact")))


# --------------------------------------------------------------------------
# end-to-end near-dup removal
# --------------------------------------------------------------------------


def dedup_minhash(df: DataFrame, key_col: str, tokens_col: str = "tokens",
                  num_hashes: int = 8, bands: int = 4, seed: int = 42,
                  shingle_k: int = 3, threshold: float = 0.7,
                  max_iter: int = 20, collapse_exact: bool = True) -> DataFrame:
    """Remove near-duplicates: keep the min-key row of every duplicate
    cluster (connected component of verified pairs).

    ``collapse_exact`` (default, output-identical): exact duplicates
    collapse to their min-key representative BEFORE the LSH join — an
    exact-dup group of m rows otherwise lands in the same band buckets and
    contributes m²/2 candidate pairs, the one quadratic blowup banded LSH
    doesn't protect against (a web-crawl corpus at 10^12 rows routinely
    has million-row dup groups). Identical tokens have Jaccard 1 ≥ any
    threshold, so group members always share their representative's
    cluster and never survive — dropping them up front changes nothing in
    the result set, only the join size.

    Components use iterative min-label propagation over the edge list —
    each round is two hash joins + an aggregate, converging in O(log n)
    rounds (diameter of dup clusters is tiny in practice). localCheckpoint
    per round truncates the plan lineage so the loop stays executable at
    any scale."""
    base = exact_dedup(df, tokens_col, key_col) if collapse_exact else df
    pairs = candidate_pairs(base, key_col, tokens_col, num_hashes, bands,
                            seed, shingle_k).localCheckpoint()
    verified = jaccard_verify(pairs, base, key_col, tokens_col, shingle_k,
                              threshold).select("key_a", "key_b") \
        .localCheckpoint()
    n_edges = verified.count()
    if n_edges == 0:
        return base
    if n_edges <= _CC_DRIVER_MAX_EDGES:
        # small edge set (the overwhelmingly common case after banded LSH
        # + verify): exact union-find on the driver — identical components
        # and min-key winners as converged label propagation, with 2 tiny
        # jobs instead of ~3 shuffle joins per propagation round. The cap
        # bounds driver memory (~100 B/edge); past it, the distributed
        # loop below takes over.
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in verified.collect():
            ra, rb = find(a), find(b)
            if ra != rb:
                # min-root union keeps every root the component minimum
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        losers = [k for k in parent if find(k) != k]
        spark = base.sparkSession
        losers_df = spark.createDataFrame([(k,) for k in losers],
                                          base.select(key_col).schema)
        return base.join(F.broadcast(losers_df), key_col, "left_anti")
    edges = verified.unionByName(
        verified.select(F.col("key_b").alias("key_a"),
                        F.col("key_a").alias("key_b"))).localCheckpoint()
    labels = (edges.select(F.col("key_a").alias("k"))
              .distinct().withColumn("comp", F.col("k")))
    changed = 0
    for _ in range(max_iter):
        nbr_min = (edges.join(labels, edges.key_b == labels.k)
                   .groupBy("key_a").agg(F.min("comp").alias("nbr_comp")))
        # the new label AND a changed flag come out of ONE join; the
        # convergence count is then a cheap scan of the checkpointed
        # frame, not another labels-to-labels shuffle join per round
        new_labels = (labels.join(nbr_min, labels.k == nbr_min.key_a, "left")
                      .select(F.col("k"),
                              F.least(F.col("comp"),
                                      F.coalesce("nbr_comp", F.col("comp")))
                              .alias("comp"),
                              (F.coalesce("nbr_comp", F.col("comp"))
                               < F.col("comp")).alias("_chg"))
                      ).localCheckpoint()
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    if changed:
        import logging

        logging.getLogger(__name__).warning(
            "dedup_minhash: min-label propagation did not converge in "
            "%d iterations (%d labels still changing) — some duplicate "
            "clusters may keep more than one row; raise max_iter",
            max_iter, changed)
    # drop every clustered row that is not its component's min key
    losers = labels.filter(F.col("k") != F.col("comp")).select("k")
    return base.join(losers.withColumnRenamed("k", key_col), key_col,
                     "left_anti")
