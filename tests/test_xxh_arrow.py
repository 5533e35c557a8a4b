"""Round-8c: numpy XXH64 (functions.xxh) and the Arrow winnowing strategy.

The load-bearing claims: (1) the numpy XXH64 is BIT-IDENTICAL to Spark's
``xxhash64`` — that is what lets the Arrow kernel's fingerprints join
against fingerprints computed by any other winnowing formulation; (2)
the arrow strategy is value-identical to the window and local forms;
(3) its plan has no Exchange and no interpreted HOF (the two measured
hazards it exists to remove — FASTPATH.md round-8c)."""

import random
import string

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_xxh64_sliding_matches_spark(spark):
    """Vectorized sliding-window XXH64 == F.xxhash64(substring(...)) for
    every window width on random ASCII text."""
    from imops_spark.functions.xxh import xxh64_sliding

    rng = random.Random(11)
    s = "".join(
        rng.choice(string.ascii_lowercase + " 0123456789!@#") for _ in range(300)
    )
    b = np.frombuffer(s.encode(), dtype=np.uint8)
    for k in (1, 2, 3, 4, 5, 7, 8, 9, 11, 12, 15, 16, 17, 20, 24, 31):
        mine = xxh64_sliding(b, k)
        theirs = np.array(
            [
                r["h"]
                for r in spark.range(len(s) - k + 1)
                .selectExpr(
                    f"xxhash64(substring({_sql_lit(s)}, CAST(id+1 AS INT), {k})) AS h"
                )
                .collect()
            ],
            dtype=np.int64,
        )
        assert np.array_equal(mine, theirs), k
    with pytest.raises(ValueError, match="k < 32"):
        xxh64_sliding(b, 32)


def _sql_lit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def test_xxh64_bytes_matches_spark(spark):
    """Scalar XXH64 (the multi-byte / k>=32 fallback) == F.xxhash64 on
    arbitrary strings, including the >= 32-byte four-lane stripe path
    and multi-byte UTF-8."""
    from imops_spark.functions.xxh import xxh64_bytes

    cases = [
        "",  # hmm: xxhash64('') — compare anyway
        "a",
        "abcd",
        "abcdefg",
        "abcdefgh",
        "exactly thirty-one bytes here!!",
        "exactly thirty-two bytes here!!!",
        "a much longer string that is well past the thirty-two byte stripe "
        "boundary and exercises several full stripes of the accumulator path",
        "héllo wörld — 多字节 текст",
        "🎉 non-BMP emoji and ascii mixed 123",
    ]
    cases = [c for c in cases if c]  # empty string literal is awkward in SQL
    got = [xxh64_bytes(c.encode()) for c in cases]
    want = [
        spark.sql(f"SELECT xxhash64({_sql_lit(c)}) AS h").first()["h"]
        for c in cases
    ]
    assert got == want


WINNOW_FIXTURE = [
    (0, "the quick brown fox jumps over the lazy dog the quick brown fox"),
    (1, "aaaaaaaaaaaaaaaaaaaaaa"),  # every gram hash equal: tie-breaks
    (2, "short"),  # below k + window - 1: no complete window
    (3, "héllo wörld — 多字节 текст répeated héllo wörld — 多字节"),
    (4, None),
    (5, "x" * 40 + "yz distinctive tail content here"),
]


def test_winnow_arrow_equivalence(spark):
    """arrow == window for BOTH the fp-set and positional outputs under
    xxhash64, over ties, multi-byte text, short docs, and NULLs — the
    cross-formulation contract extended to the new strategy."""
    from imops_spark.functions.text import (
        winnow_fingerprints_df,
        winnow_fp_set_df,
    )

    docs = spark.createDataFrame(
        WINNOW_FIXTURE, "doc_id long, text string"
    ).filter("text IS NOT NULL")

    sets = {
        s: sorted(
            tuple(r)
            for r in winnow_fp_set_df(
                docs, k=8, window=4, hash_fn="xxhash64", strategy=s
            ).collect()
        )
        for s in ("arrow", "window")
    }
    assert sets["arrow"] == sets["window"]
    assert len(sets["arrow"]) > 0

    pos = {
        s: sorted(
            tuple(r)
            for r in winnow_fingerprints_df(
                docs, k=8, window=4, hash_fn="xxhash64", strategy=s
            ).collect()
        )
        for s in ("arrow", "window")
    }
    assert pos["arrow"] == pos["window"]


def test_winnow_arrow_plan_and_dispatch(spark):
    """The arrow plan is shuffle-free mapInPandas; batch auto picks the
    arrow kernel for both hash families (leaf-only rule); explicit
    strategy='window' still builds the pure-JVM window chain; arrow on a
    stream is honored (stateless mapInPandas is streaming-legal)."""
    from imops_spark.functions.text import winnow_fp_set_df

    docs = spark.range(50).selectExpr(
        "id AS doc_id", "concat('some repeated text payload ', CAST(id AS STRING)) AS text"
    )
    plan = (
        winnow_fp_set_df(docs, k=8, window=4, hash_fn="xxhash64")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan and "Exchange" not in plan
    # batch auto assumes a LEAF and takes the arrow kernel for md5 too
    # (the winnow row of backend.ROUTES); composing operators take the
    # window form, and explicit strategy='window' still builds it
    plan_md5 = (
        winnow_fp_set_df(docs, k=8, window=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan_md5 and "Exchange" not in plan_md5
    plan_md5_window = (
        winnow_fp_set_df(docs, k=8, window=4, strategy="window")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" in plan_md5_window
    plan_md5_arrow = (
        winnow_fp_set_df(docs, k=8, window=4, strategy="arrow")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan_md5_arrow and "Exchange" not in plan_md5_arrow


def test_winnow_arrow_streaming(spark, tmp_path):
    """strategy='arrow' on a streaming frame drains to exactly the batch
    rows (stateless kernel, append-legal)."""
    from imops_spark.functions.text import winnow_fp_set_df
    from imops_spark.streaming.events import run_stream_to_memory

    batch = spark.createDataFrame(
        [r for r in WINNOW_FIXTURE if r[1] is not None],
        "doc_id long, text string",
    )
    p = str(tmp_path / "docs")
    batch.write.parquet(p)
    stream = spark.readStream.schema(batch.schema).parquet(p)
    out = winnow_fp_set_df(stream, k=8, window=4, hash_fn="xxhash64", strategy="arrow")
    assert out.isStreaming
    drained = run_stream_to_memory(out, "winnow_arrow_stream_t", spark, mode="append")
    want = sorted(
        tuple(r)
        for r in winnow_fp_set_df(
            batch, k=8, window=4, hash_fn="xxhash64", strategy="arrow"
        ).collect()
    )
    assert sorted(map(tuple, drained.collect())) == want


def test_winnow_arrow_carry_passthrough(spark):
    """Carry columns ride through the arrow kernel with their types."""
    from imops_spark.functions.text import winnow_fp_set_df

    docs = spark.createDataFrame(
        [(1, "en", 0.5, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, lang string, w double, text string",
    )
    rows = winnow_fp_set_df(
        docs, k=8, window=4, carry=("lang", "w"),
        hash_fn="xxhash64", strategy="arrow",
    ).collect()
    assert rows and all(r["lang"] == "en" and r["w"] == 0.5 for r in rows)
    assert set(rows[0].asDict()) == {"doc_id", "lang", "w", "fp"}


def test_winnow_arrow_non_identifier_carry(spark):
    """Carry names that are not python identifiers (quote_carry admits
    hyphens/dots/spaces) must ride through the Arrow kernel — pandas
    itertuples would rename them to '_1' (the round-8c review catch);
    the kernel zips column Series instead."""
    from imops_spark.functions.text import winnow_fp_set_df

    docs = spark.createDataFrame(
        [(1, "en-GB", "the quick brown fox jumps over the lazy dog")],
        "doc_id long, `lang-id` string, text string",
    )
    rows = winnow_fp_set_df(
        docs, k=8, window=4, carry=("lang-id",),
        hash_fn="xxhash64", strategy="arrow",
    ).collect()
    assert rows and all(r["lang-id"] == "en-GB" for r in rows)
