"""Round-11: vectorized single-block MD5 (functions.md5v) and the
word-shingle MinHash Arrow kernel.

The load-bearing claims: (1) the numpy MD5 is BIT-IDENTICAL to
``hashlib.md5`` for every single-block length — that is what lets the
kernel's signatures hash-match the DuckDB oracle's md5 recipe; (2) the
arrow strategy is value-identical to the JVM ``array_min``/``transform``
form on every edge shape (empty text, sub-k docs, unicode spaces, CJK,
>55-byte fallback shingles, odd hash counts, multi-width salt
prefixes, carry columns); (3) the dispatch keeps streams and the
xxhash64 family on the JVM form."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

EDGE_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, ""),  # empty text -> one empty shingle, not zero rows
    (3, None),  # filtered at the scan, same as the JVM form
    (4, "one"),  # fewer than k tokens -> the whole-nt shingle
    (6, "  leading  and  trailing  \t spaces \n"),  # trim + collapse
    (7, " nbsp is not　ascii space"),  # unicode spaces survive \s+
    (8, "日本語 テキスト の 単語 シングル テスト"),  # multi-byte tokens
    (9, ("word " * 30).strip()),  # in-doc duplicate shingles (distinct-free MIN)
    (10, "a" * 80 + " " + "b" * 80 + " " + "c" * 80),  # >55-byte shingles
    (11, "mixed 日本語 and ascii words here"),
    (13, "tab\tseparated\ttokens"),
]


def test_md5v_matches_hashlib_every_single_block_length():
    """Vectorized MD5 == hashlib.md5 digest for every message length
    0..53 under a 2-byte salt prefix, both 60-bit halves, random bytes."""
    from imops_spark.functions.md5v import (
        be64_top60,
        md5_words_rows,
        pack_rows_single_block,
    )

    rng = np.random.default_rng(42)
    msgs = [
        bytes(rng.integers(0, 256, size=int(length)).tolist())
        for length in list(range(54)) * 8
    ]
    data = np.frombuffer(b"".join(msgs), dtype=np.uint8)
    lens = np.array([len(m) for m in msgs], dtype=np.int64)
    starts = np.zeros(len(msgs), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    W = pack_rows_single_block(data, starts, lens, prefix_len=2)
    Bv = W.view(np.uint8).reshape(-1, 64)
    for salt in (0, 7):
        pre = f"{salt}|".encode()
        Bv[:, 0] = pre[0]
        Bv[:, 1] = pre[1]
        w0, w1, w2, w3 = md5_words_rows(W)
        lo, hi = be64_top60(w0, w1), be64_top60(w2, w3)
        for i, m in enumerate(msgs):
            ref = hashlib.md5(pre + m).digest()
            got = (
                w0[i].tobytes() + w1[i].tobytes() + w2[i].tobytes() + w3[i].tobytes()
            )
            assert got == ref, (salt, i, len(m))
            assert int(lo[i]) == int.from_bytes(ref[:8], "big") >> 4
            assert int(hi[i]) == int.from_bytes(ref[8:16], "big") >> 4
    # zero rows is legal (a batch of all-long shingles for one salt width)
    assert pack_rows_single_block(data, starts[:0], lens[:0], 2).shape == (0, 16)


@pytest.mark.parametrize("num_hashes,k", [(16, 3), (5, 2), (22, 4)])
def test_minhash_arrow_bit_equal_jvm_on_edge_shapes(spark, num_hashes, k):
    """strategy='arrow' == strategy='jvm' tuple-for-tuple on the edge
    fixture: empties, sub-k docs, unicode/CJK, >55-byte fallback
    shingles; odd hash count and the 22-hash case (salts 0..10 span two
    prefix widths, exercising the per-width pack grouping)."""
    from imops_spark.functions.dedup import minhash_signatures_df

    docs = spark.createDataFrame(EDGE_ROWS, "doc_id int, text string")
    jvm = {
        tuple(r)
        for r in minhash_signatures_df(
            docs, num_hashes=num_hashes, k=k, strategy="jvm"
        ).collect()
    }
    arw = {
        tuple(r)
        for r in minhash_signatures_df(
            docs, num_hashes=num_hashes, k=k, strategy="arrow"
        ).collect()
    }
    assert arw == jvm
    assert len(arw) == len(EDGE_ROWS) - 1  # NULL text filtered, empties kept


def test_minhash_arrow_carry_passthrough(spark):
    from imops_spark.functions.dedup import minhash_signatures_df

    docs = spark.createDataFrame(
        EDGE_ROWS, "doc_id int, text string"
    ).withColumn("event-time.col", F.col("doc_id") * 10)
    kw = dict(num_hashes=4, k=3, carry=("event-time.col",))
    jvm = sorted(
        map(tuple, minhash_signatures_df(docs, strategy="jvm", **kw).collect())
    )
    arw = sorted(
        map(tuple, minhash_signatures_df(docs, strategy="arrow", **kw).collect())
    )
    assert arw == jvm and len(arw) == len(EDGE_ROWS) - 1


def test_minhash_strategy_dispatch(spark, tmp_path):
    """auto -> arrow (MapInPandas in the plan) for md5 batch frames; jvm
    (no Python stage) for streams and the xxhash64 family; explicit
    arrow + xxhash64 is a contract error."""
    from imops_spark.functions.dedup import minhash_signatures_df

    docs = spark.createDataFrame(EDGE_ROWS[:2], "doc_id int, text string")
    batch_plan = minhash_signatures_df(docs)._jdf.queryExecution().toString()
    assert "MapInPandas" in batch_plan
    xx_plan = minhash_signatures_df(
        docs, hash_fn="xxhash64"
    )._jdf.queryExecution().toString()
    assert "MapInPandas" not in xx_plan
    with pytest.raises(ValueError, match="md5 family"):
        minhash_signatures_df(docs, hash_fn="xxhash64", strategy="arrow")
    with pytest.raises(ValueError, match="strategy"):
        minhash_signatures_df(docs, strategy="window")

    src = str(tmp_path / "docs")
    spark.createDataFrame(EDGE_ROWS[:2], "doc_id int, text string").write.parquet(src)
    stream = spark.readStream.schema("doc_id int, text string").parquet(src)
    stream_plan = (
        minhash_signatures_df(stream)._jdf.queryExecution().toString()
    )
    assert "MapInPandas" not in stream_plan


def test_pack_int64_fallback_bit_identical(monkeypatch):
    """When a chunk's byte span crosses the int32-safety bound the pack
    must fall back to int64 gather indices, not silently wrap (ADVICE
    round-11).  The bound is monkeypatched tiny so the fallback path runs
    on an ordinary fixture; digests must stay bit-identical to hashlib."""
    from imops_spark.functions import md5v

    rng = np.random.default_rng(7)
    msgs = [bytes(rng.integers(0, 256, size=int(n)).tolist()) for n in range(40)]
    data = np.frombuffer(b"".join(msgs), dtype=np.uint8)
    lens = np.array([len(m) for m in msgs], dtype=np.int64)
    starts = np.zeros(len(msgs), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    monkeypatch.setattr(md5v, "_INT32_SAFE", 16)  # force the int64 path
    W = md5v.pack_rows_single_block(data, starts, lens, prefix_len=2)
    Bv = W.view(np.uint8).reshape(-1, 64)
    pre = b"3|"
    Bv[:, 0], Bv[:, 1] = pre[0], pre[1]
    w0, w1, w2, w3 = md5v.md5_words_rows(W)
    for i, m in enumerate(msgs):
        ref = hashlib.md5(pre + m).digest()
        got = w0[i].tobytes() + w1[i].tobytes() + w2[i].tobytes() + w3[i].tobytes()
        assert got == ref, (i, len(m))


def test_span_core_matches_split_and_hashlib():
    """tokenize_spaces == str.split(' ') (empties included) and
    md5_top60_spans == the top 60 bits of hashlib's digest halves, across
    the single-block limit (spans of 0..80 bytes, so the per-row fallback
    runs) and for two prefixes re-hashed over one pack."""
    from imops_spark.functions.md5v import md5_top60_spans, seg_starts, tokenize_spaces

    strings = ["a bb  c", " lead", "trail ", "", "世界 x", "y" * 80 + " z"]
    data, ts, te, n = tokenize_spaces(strings)
    base = seg_starts(n)
    for d, text in enumerate(strings):
        span = range(base[d], base[d] + n[d])
        toks = [data[ts[i] : te[i]].tobytes().decode() for i in span]
        assert toks == text.split(" ")
    rng = np.random.default_rng(3)
    data = rng.integers(0, 256, size=4000).astype(np.uint8)
    lens = np.arange(81, dtype=np.int64)
    starts = rng.integers(100, 3900, size=len(lens)).astype(np.int64)
    prefixes = [b"4|", b"7|"]
    hashes = md5_top60_spans(data, starts, lens, prefixes, both=True)
    for pre, (lo, hi) in zip(prefixes, hashes):
        for i in range(len(lens)):
            msg = pre + data[starts[i] : starts[i] + lens[i]].tobytes()
            dg = hashlib.md5(msg).digest()
            assert lo[i] == int.from_bytes(dg[:8], "big") >> 4
            assert hi[i] == int.from_bytes(dg[8:], "big") >> 4


def test_fold_chunks_cuts_on_document_end_offsets():
    """A [small, oversized, small] batch: no chunk handed to the
    per-chunk reduction exceeds the span budget — the small first doc
    must not drag the oversized one into its chunk, and the oversized doc
    is reduced in budget-sized sub-ranges folded with the ufunc.  Every
    span is reduced exactly once and every per-doc result is exact."""
    from imops_spark.functions.md5v import fold_chunks

    budget = 8
    counts = np.array([3, 50, 2], dtype=np.int64)
    vals = (np.arange(int(counts.sum()), dtype=np.int64) * 7919) % 101
    bounds = np.concatenate([[0], np.cumsum(counts)])
    for ufunc in (np.add, np.minimum):
        calls = []

        def reduce_chunk(s0, s1, seg):
            calls.append((s0, s1))
            return np.stack([ufunc.reduceat(vals[s0:s1], seg)] * 2)

        out = np.empty((2, len(counts)), dtype=np.int64)
        fold_chunks(counts, budget, reduce_chunk, ufunc, out)
        assert all(s1 - s0 <= budget for s0, s1 in calls), calls
        assert sorted(calls) == calls and calls[0][0] == 0
        assert all(a[1] == b[0] for a, b in zip(calls, calls[1:]))
        assert calls[-1][1] == bounds[-1]
        want = [ufunc.reduce(vals[bounds[d] : bounds[d + 1]]) for d in range(3)]
        assert out[0].tolist() == want and out[1].tolist() == want


def test_minhash_oversized_single_doc_subchunks(spark, monkeypatch):
    """A document owning more shingles than one hash chunk takes the
    sub-chunk + np.minimum fold path (the ADVICE round-11 overflow/spike
    guard); signatures must equal the JVM form's.  The chunk size is
    monkeypatched far below the fixture's shingle counts so the path runs
    on a small corpus."""
    from imops_spark.functions import dedup, md5v

    monkeypatch.setattr(md5v, "_MINHASH_CHUNK_SHINGLES", 8)
    rows = [
        (1, " ".join(f"tok{i % 37}" for i in range(200))),  # 198 shingles >> 8
        (2, "small doc here"),
        (3, ("x" * 70 + " ") * 60),  # >55-byte fallback shingles, oversized
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    jvm = sorted(
        map(
            tuple,
            dedup.minhash_signatures_df(
                docs, num_hashes=6, k=3, strategy="jvm"
            ).collect(),
        )
    )
    arw = sorted(
        map(
            tuple,
            dedup.minhash_signatures_df(
                docs, num_hashes=6, k=3, strategy="arrow"
            ).collect(),
        )
    )
    assert arw == jvm and len(arw) == len(rows)


def test_unquote_carry_inverts_hostile_names():
    """unquote_carry must be the exact inverse of quote_carry, including
    names that BEGIN with a literal backtick (the previous strip-based
    idiom mangled those — ADVICE round-11)."""
    from imops_spark.utils import quote_carry, unquote_carry

    names = ["plain", "dotted.name", "`x", "x`", "`", "``", "a`b", "event-time.col"]
    assert unquote_carry(quote_carry(names, frozenset())) == names


def test_minhash_arrow_leading_backtick_carry(spark):
    """End-to-end regression for the carry-name round-trip: a carry column
    whose name begins with a backtick used to KeyError at plan-build time
    in the Arrow kernel's field lookup."""
    from imops_spark.functions.dedup import minhash_signatures_df

    docs = spark.createDataFrame(
        EDGE_ROWS[:2], "doc_id int, text string"
    ).withColumn("`tick", F.col("doc_id") * 7)
    kw = dict(num_hashes=4, k=3, carry=("`tick",))
    jvm = sorted(
        map(tuple, minhash_signatures_df(docs, strategy="jvm", **kw).collect())
    )
    arw = sorted(
        map(tuple, minhash_signatures_df(docs, strategy="arrow", **kw).collect())
    )
    assert arw == jvm and len(arw) == 2


def test_minhash_composing_operators_pin_jvm(spark):
    """The leaf-only rule's other half: an operator whose ONE plan feeds
    signatures into the band exchange/join must pin the JVM form (the
    kernel loses composed once the self-join is sort-merge — FASTPATH
    round-11), so no MapInPandas signature stage may appear in
    drop_near_duplicates_df's md5 plan."""
    from imops_spark.backend import choose_form
    from imops_spark.functions.dedup import drop_near_duplicates_df

    docs = spark.createDataFrame(EDGE_ROWS[:2], "doc_id int, text string")
    for h in ("md5", "xxhash64"):
        assert choose_form("minhash", "auto", docs, hash_fn=h, composed=True) == "jvm"
    plan = drop_near_duplicates_df(docs)._jdf.queryExecution().toString()
    assert "MapInPandas" not in plan
