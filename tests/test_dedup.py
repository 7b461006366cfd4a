"""Dedup operator tests: planted exact and near duplicates must be found
and removed; distinct documents must survive (plc.dedup)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from plc.dedup import (candidate_pairs, dedup_minhash, exact_dedup,
                       exact_dedup_stats, jaccard_verify, minhash_signature,
                       shingle_col, simhash_signature)


def _docs_with_dups(spark, n_base=60, seed=3):
    """n_base distinct token docs + near-dups of the first 8 (one token
    changed) + exact dups of the next 4."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_base):
        toks = rng.integers(0, 5000, 60).tolist()
        rows.append((f"doc-{i:04d}", toks))
    for i in range(8):  # near-dups: perturb one token
        toks = list(rows[i][1])
        toks[30] = (toks[30] + 1) % 5000
        rows.append((f"ndup-{i:04d}", toks))
    for i in range(8, 12):  # exact dups
        rows.append((f"xdup-{i:04d}", list(rows[i][1])))
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>")


def test_exact_dedup_keeps_min_key(spark):
    df = _docs_with_dups(spark)
    df = df.withColumn("text", F.concat_ws(" ", "tokens"))
    out = exact_dedup(df, "text", "doc_id")
    kept = {r[0] for r in out.select("doc_id").collect()}
    assert len(kept) == 68  # 60 base + 8 near-dups (distinct texts)
    assert not any(k.startswith("xdup") for k in kept)
    stats = exact_dedup_stats(df, "text", "doc_id").collect()[0]
    assert stats["n_rows"] == 72 and stats["n_dup_rows"] == 4


def test_minhash_lsh_finds_planted_near_dups(spark):
    df = _docs_with_dups(spark)
    pairs = candidate_pairs(df, "doc_id", "tokens", num_hashes=16, bands=8)
    ver = jaccard_verify(pairs, df, "doc_id", "tokens", threshold=0.7)
    found = {(r[0], r[1]) for r in ver.select("key_a", "key_b").collect()}
    # every planted near-dup pair (one token of 60 changed → shingle
    # jaccard ≈ (58-2)/ (58+2) ≥ 0.9) must be caught by ≥1 of 8 bands
    for i in range(8):
        assert (f"doc-{i:04d}", f"ndup-{i:04d}") in found, i
    # exact dups too
    for i in range(8, 12):
        assert (f"doc-{i:04d}", f"xdup-{i:04d}") in found, i


def test_dedup_minhash_end_to_end(spark):
    df = _docs_with_dups(spark)
    out = dedup_minhash(df, "doc_id", "tokens", num_hashes=16, bands=8,
                        threshold=0.7)
    kept = {r[0] for r in out.select("doc_id").collect()}
    assert len(kept) == 60, f"expected the 60 cluster minima, got {len(kept)}"
    assert all(k.startswith("doc-") for k in kept)


def test_dedup_minhash_bigint_key(spark):
    """The union-find losers frame carries the key column's real type: a
    bigint key dedups exactly like the string-keyed corpus."""
    # doc-i → i, ndup-i → 1000 + i, xdup-i → 2000 + i
    offset = (F.when(F.col("doc_id").startswith("doc-"), 0)
              .when(F.col("doc_id").startswith("ndup-"), 1000)
              .otherwise(2000))
    key = offset + F.substring("doc_id", -4, 4).cast("int")
    df = _docs_with_dups(spark).select(key.cast("bigint").alias("key"),
                                       "tokens")
    out = dedup_minhash(df, "key", "tokens", num_hashes=16, bands=8,
                        threshold=0.7)
    assert dict(out.dtypes)["key"] == "bigint"
    assert {r[0] for r in out.select("key").collect()} == set(range(60))


def test_empty_and_short_docs_are_safe(spark):
    df = spark.createDataFrame(
        [("a", []), ("b", [1]), ("c", [1, 2]), ("d", [1, 2, 3])],
        "doc_id string, tokens array<int>")
    sh = df.select(F.size(shingle_col("tokens", k=3)).alias("n")).collect()
    assert [r[0] for r in sh] == [0, 0, 0, 1]
    sig = df.select(minhash_signature(shingle_col("tokens"), 4).alias("s"))
    assert all(len(r[0]) == 4 for r in sig.collect())
    out = dedup_minhash(df, "doc_id", "tokens", num_hashes=4, bands=2)
    # empty-shingle docs share the sentinel signature but jaccard=1.0 only
    # for (empty, empty) pairs; all four distinct docs must survive except
    # identical-shingle-set ones
    assert out.count() >= 2


def test_simhash_similar_docs_close(spark):
    rng = np.random.default_rng(7)
    base = rng.integers(0, 5000, 80).tolist()
    near = list(base)
    near[10] = (near[10] + 1) % 5000
    far = rng.integers(0, 5000, 80).tolist()
    df = spark.createDataFrame(
        [("base", base), ("near", near), ("far", far)],
        "doc_id string, tokens array<int>")
    sigs = {r[0]: r[1] for r in df.select(
        "doc_id", simhash_signature("tokens").alias("s")).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sigs["base"], sigs["near"]) < ham(sigs["base"], sigs["far"])
    assert ham(sigs["base"], sigs["near"]) <= 6


def test_shingle_k4_no_int64_wrap(spark):
    """Regression (ADVICE r2): shingle accumulation applies the modulus per
    step, so k >= 4 with tokens near 2^31 cannot wrap int64 — and the JVM
    expression (shingle_col) stays bit-identical to the Arrow kernel
    (_shingle_arrays) that minhash_bands uses."""
    import pyarrow as pa

    from plc.dedup import SHINGLE_MOD, _shingle_arrays

    toks = [2**31 - 1, 2**31 - 2, 2**31 - 3, 2**31 - 5, 2**31 - 7,
            123, 2**31 - 11, 99]
    df = spark.createDataFrame([("d0", toks)],
                               "doc_id string, tokens array<int>")
    for k in (3, 4, 5):
        jvm = df.select(shingle_col("tokens", k=k).alias("sh")) \
            .collect()[0]["sh"]
        batch = pa.RecordBatch.from_arrays(
            [pa.array([toks], pa.list_(pa.int32()))], names=["tokens"])
        sh, sh_off = _shingle_arrays(batch, "tokens", k, SHINGLE_MOD)
        assert list(sh) == jvm, f"k={k}"
        assert all(0 <= s < SHINGLE_MOD for s in jvm), f"k={k} out of range"


def test_simhash_candidates_banded(spark):
    """Banded SimHash: finds planted exact + near dups (hamming 0 / small),
    never misses a pair within the pigeonhole bound, and the Arrow kernel
    signature is bit-identical to the JVM expression."""
    from plc.dedup import simhash_candidates, simhash_sigs

    df = _docs_with_dups(spark)
    out = simhash_candidates(df, "doc_id", bits=56, bands=4,
                             max_hamming=3).collect()
    pairs = {(r["key_a"], r["key_b"]): r["hamming"] for r in out}
    # exact dups (identical tokens) must appear with hamming 0
    for i in range(8, 12):
        key = (f"doc-{i:04d}", f"xdup-{i:04d}")
        assert key in pairs and pairs[key] == 0, key
    # brute-force check: every pair with hamming <= 3 was found (pigeonhole)
    sigs = {r["k"]: r["sig"] for r in
            simhash_sigs(df, "doc_id", bits=56).collect()}
    ks = sorted(sigs)
    brute = {(a, b): bin(sigs[a] ^ sigs[b]).count("1")
             for i, a in enumerate(ks) for b in ks[i + 1:]
             if bin(sigs[a] ^ sigs[b]).count("1") <= 3}
    assert pairs == brute


def test_simhash_candidates_param_guards(spark):
    from plc.dedup import simhash_candidates

    df = _docs_with_dups(spark, n_base=4)
    with pytest.raises(ValueError, match="must divide"):
        simhash_candidates(df, "doc_id", bits=30, bands=4)
    with pytest.raises(ValueError, match="would miss"):
        simhash_candidates(df, "doc_id", bits=32, bands=4, max_hamming=5)


def test_collapse_exact_identical_output(spark):
    """collapse_exact is a pure optimization: the survivor set is
    IDENTICAL with it on or off, including on a corpus with a large
    exact-dup group (the quadratic-blowup case it exists for)."""
    rng = np.random.default_rng(11)
    rows = [(f"doc-{i:04d}", rng.integers(0, 5000, 40).tolist())
            for i in range(30)]
    rows += [(f"copy-{j:04d}", list(rows[0][1])) for j in range(120)]
    near = list(rows[1][1]); near[5] = (near[5] + 1) % 5000
    rows.append(("near-0001", near))
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    kw = dict(num_hashes=8, bands=4, seed=42, shingle_k=3, threshold=0.7)
    a = sorted(r["doc_id"] for r in
               dedup_minhash(df, "doc_id", collapse_exact=True, **kw)
               .collect())
    b = sorted(r["doc_id"] for r in
               dedup_minhash(df, "doc_id", collapse_exact=False, **kw)
               .collect())
    assert a == b
    # exactly ONE of the 121-row exact group survives: its min key
    group = {"doc-0000"} | {f"copy-{j:04d}" for j in range(120)}
    assert sorted(group & set(a)) == ["copy-0000"]
    assert "near-0001" not in a  # near-dup of doc-0001 is removed


def test_simhash_stats_equal_naive_counting(spark):
    """simhash_near_dup_stats (distinct-content + multiplicity weights)
    must equal counting the materialized simhash_candidates pair list —
    on a corpus with exact-dup groups, near-dups, and singletons."""
    from plc.dedup import simhash_candidates, simhash_near_dup_stats

    df = _docs_with_dups(spark)
    naive = simhash_candidates(df, "doc_id", bits=56, bands=4,
                               max_hamming=3).collect()
    want = (len(naive), sum(r["hamming"] for r in naive),
            sum(1 for r in naive if r["hamming"] == 0))
    got = simhash_near_dup_stats(df, "doc_id", bits=56, bands=4,
                                 max_hamming=3).collect()[0]
    assert (got["n_pairs"], got["sum_hamming"], got["n_exact"]) == want


def test_simhash_input_guards(spark):
    """Review fixes: bits > 62 rejected on both signature paths; negative
    token ids rejected by the Arrow kernel (the row-packing would credit
    them to the previous row)."""
    from plc.dedup import simhash_sigs

    df = spark.createDataFrame([("a", [1, 2, 3])],
                               "doc_id string, tokens array<int>")
    with pytest.raises(ValueError, match="1..62"):
        df.select(simhash_signature("tokens", bits=64))
    with pytest.raises(ValueError, match="1..62"):
        simhash_sigs(df, "doc_id", bits=64)
    bad = spark.createDataFrame([("a", [1, -5, 3])],
                                "doc_id string, tokens array<int>")
    with pytest.raises(Exception, match="non-negative"):
        simhash_sigs(bad, "doc_id", bits=32).collect()


def test_decontaminate_planted_overlap(spark):
    """A training doc embedding a benchmark 13-gram anywhere inside it is
    removed; docs without overlap (or shorter than k) survive."""
    from plc.dedup import decontaminate

    bench_seq = list(range(100, 113))          # the protected 13-gram
    rows = [
        ("t-clean", [1] * 30),                 # no overlap
        ("t-short", bench_seq[:12]),           # < k tokens: never flagged
        ("t-exact", list(bench_seq)),          # the benchmark verbatim
        ("t-embed", [7] * 5 + bench_seq + [9] * 4),  # embedded mid-doc
        ("t-partial", bench_seq[:12] + [999]),  # 12 of 13 then diverges
    ]
    train = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    bench = spark.createDataFrame([("b-0", bench_seq + [55] * 3)],
                                  "doc_id string, tokens array<int>")
    kept = {r["doc_id"]
            for r in decontaminate(train, bench, shingle_k=13).collect()}
    assert kept == {"t-clean", "t-short", "t-partial"}


def test_decontaminate_survives_narrow_hash_collision(spark):
    """Regression (review finding): these two DIFFERENT 13-grams collide in
    MinHash's 2^30 shingle plane (found by deterministic search). Exact
    membership in that space would falsely drop the clean doc; the wide
    two-plane (~2^60) shingle id must keep it."""
    import pyarrow as pa

    from plc.dedup import (SHINGLE_MOD, _W1B, _W2B, _shingle_arrays,
                           decontaminate, shingle_weights)

    a = [33496, 22633, 48264, 30086, 38260, 9159, 48610, 6043, 29473,
         47129, 1749, 41983, 10285]
    b = [36023, 35405, 13124, 17907, 27210, 22709, 46026, 42947, 26243,
         3572, 26978, 21536, 8994]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["a", "b"]), pa.array([a, b], pa.list_(pa.int32()))],
        names=["doc_id", "tokens"])
    n1, _ = _shingle_arrays(batch, "tokens", 13, SHINGLE_MOD)
    assert a != b and n1[0] == n1[1]  # the collision this test pins
    n2, _ = _shingle_arrays(batch, "tokens", 13, SHINGLE_MOD,
                            weights=shingle_weights(13, _W1B, _W2B))
    assert n2[0] != n2[1]

    train = spark.createDataFrame([("t-clean", a), ("t-leak", b)],
                                  "doc_id string, tokens array<int>")
    bench = spark.createDataFrame([("bm", b)],
                                  "doc_id string, tokens array<int>")
    kept = {r["doc_id"]
            for r in decontaminate(train, bench, shingle_k=13).collect()}
    assert kept == {"t-clean"}
