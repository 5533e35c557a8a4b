"""Differential tests for the Gopher-style repetition metrics and the PII
detection/redaction operators: every metric re-derived in plain Python on
the same rows, plus plan-shape and edge-case guards."""

import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from imops_spark.functions.text import (
    PII_PATTERNS,
    pii_df,
    redact_pii_df,
    repetition_df,
)

ROWS = [
    (1, "a b a b a b c d\nx y\nx y\nunique line"),
    (2, "one two three four five six seven eight nine ten"),
    (3, "spam spam spam spam spam spam"),
    (4, None),
    (5, "short"),
    (6, ""),
    (7, "dup\ndup\n  dup  \n\n   \nnot dup"),
    (8, "The Same\nthe same\nThe Same"),  # case-sensitive line compare
]


def _norm(t):
    # Spark's regexp_replace(lower(trim(t)), '\s+', ' '): trim strips spaces
    # only, and Java's \s is the ASCII whitespace class
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", t.strip(" ").lower())


def _spark_round(x, r):
    """Spark ``ROUND(double, r)``: HALF_UP over the shortest decimal repr."""
    return float(
        Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-r), rounding=ROUND_HALF_UP)
    )


def _expected(text, top_ns, dup_ns, round_to=6):
    """The metrics in Spark semantics: space-only trim, codepoint lengths
    (Python ``len`` of ``str``), ``ROUND`` HALF_UP at ``round_to``."""
    nt = _norm(text)
    toks = nt.split(" ")
    n_chars = len(nt)
    lines = [ln.strip(" ") for ln in text.split("\n")]
    lines = [ln for ln in lines if ln != ""]
    nl, nd = len(lines), len(set(lines))
    cnt = Counter(lines)
    tot = sum(len(ln) for ln in lines)
    dup = sum((c - 1) * len(ln) for ln, c in cnt.items() if c > 1)
    out = {
        "n_chars": n_chars,
        "n_lines": nl,
        "dup_line_frac": _spark_round((nl - nd) / max(nl, 1), round_to),
        "dup_line_char_frac": _spark_round(dup / max(tot, 1), round_to),
    }
    for n in top_ns:
        grams = Counter(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )
        if grams:
            # max over (count, char length, gram) — the operator's tie-break
            c, glen, _ = max((c, len(g), g) for g, c in grams.items())
            out[f"top{n}gram_char_frac"] = _spark_round(
                c * glen / max(n_chars, 1), round_to
            )
        else:
            out[f"top{n}gram_char_frac"] = 0.0
    for n in dup_ns:
        grams = Counter(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )
        d = sum((c - 1) * len(g) for g, c in grams.items() if c > 1)
        out[f"dup{n}gram_char_frac"] = _spark_round(d / max(n_chars, 1), round_to)
    return out


def test_repetition_matches_python_rederivation(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_df(df, top_ns=(2, 3), dup_ns=(2, 5)).collect()
    }
    expected_ids = {i for i, t in ROWS if t is not None}
    assert set(got) == expected_ids, "null text dropped, all others kept"
    for i, t in ROWS:
        if t is None:
            continue
        exp = _expected(t, (2, 3), (2, 5))
        row = got[i]
        for k, v in exp.items():
            assert row[k] == pytest.approx(v, abs=1e-9), (i, k, row[k], v)


def test_repetition_arrow_matches_exchange_bitwise(spark):
    """The zero-shuffle Arrow kernel must be BIT-identical to the
    Spark-semantics reference :func:`_expected` — including multibyte text
    (codepoint lengths), whitespace-edge lines (space-only trim), empty
    docs, and a non-default round_to."""
    rows = ROWS + [
        (10, "東京 東京 東京 tail"),  # CJK tokens
        (11, "café café\nCAFÉ  \n café"),
        (12, "a\tb\nc\td"),  # tabs survive Spark's space-only trim
        (13, "x " * 2000),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for kwargs in (
        dict(top_ns=(2, 3), dup_ns=(2, 5)),
        dict(top_ns=(2,), dup_ns=(3,), round_to=4),
    ):
        got = {r["doc_id"]: r.asDict() for r in repetition_df(df, **kwargs).collect()}
        want = {
            i: {"doc_id": i, **_expected(t, **kwargs)}
            for i, t in rows
            if t is not None
        }
        assert got == want


def test_repetition_arrow_zero_shuffle_plan(spark):
    """The Arrow kernel's plan: zero exchanges, one MapInPandas."""
    df = spark.createDataFrame(ROWS[:3], "doc_id long, text string")
    plan = repetition_df(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_repetition_rejects_bad_n(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        repetition_df(df, top_ns=(0,))
    with pytest.raises(ValueError):
        repetition_df(df, top_ns=(), dup_ns=())


PII_ROWS = [
    (1, "mail john.doe+tag@sub.example.co.uk and jane@x.io now"),
    (2, "host 10.0.0.1 peer 255.255.255.255 v1.2.3 is not an ip"),
    (3, "call +44 (0) 20-7946-0958 or 5551234567 yes"),
    (4, "nothing to see here"),
    (5, None),
]


def test_pii_counts_match_python_re(spark):
    df = spark.createDataFrame(PII_ROWS, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in pii_df(df).collect()}
    assert set(got) == {1, 2, 3, 4}
    for i, t in PII_ROWS:
        if t is None:
            continue
        for name, pat in PII_PATTERNS.items():
            exp = len(re.findall(pat, t))
            assert got[i][f"n_{name}"] == exp, (i, name)
        assert got[i]["any_pii"] == any(
            re.search(p, t) for p in PII_PATTERNS.values()
        )


def test_pii_redaction_matches_python_re(spark):
    df = spark.createDataFrame(PII_ROWS, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text_redacted"] for r in redact_pii_df(df).collect()
    }
    for i, t in PII_ROWS:
        if t is None:
            continue
        exp = t
        for name, pat in PII_PATTERNS.items():
            exp = re.sub(pat, f"<{name.upper()}>", exp)
        assert got[i] == exp, i
    # a planted email is actually gone
    assert "@" not in got[1]


def test_pii_zero_shuffle(spark):
    df = spark.createDataFrame(PII_ROWS, "doc_id long, text string")
    for out in (pii_df(df), redact_pii_df(df)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


# --- cross-corpus boilerplate removal (text.remove_boilerplate_lines_df) ---


def _boiler_docs(spark):
    rows = [
        (1, "cookie banner\nreal content one\nshared footer"),
        (2, "cookie banner\nunique text two\nshared footer"),
        (3, "  cookie banner  \nonly unique content"),
        (4, "cookie banner\nshared footer"),
        (5, "nothing shared here\n\n   \nanother line"),
        (6, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_boilerplate_removed_across_docs(spark):
    from imops_spark.functions.text import remove_boilerplate_lines_df

    out = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
        for r in remove_boilerplate_lines_df(_boiler_docs(spark)).collect()
    }
    assert out == {
        1: ("real content one", 3, 2),
        2: ("unique text two", 3, 2),
        3: ("only unique content", 2, 1),  # padded dup trimmed-matches
        4: ("", 2, 2),  # fully boilerplate survives as empty
        5: ("nothing shared here\n\n   \nanother line", 4, 0),  # blanks kept
    }
    # NULL text excluded entirely
    assert 6 not in out


def test_boilerplate_threshold(spark):
    from imops_spark.functions.text import remove_boilerplate_lines_df

    docs = spark.createDataFrame(
        [(1, "twice\nunique a"), (2, "twice\nunique b"), (3, "thrice only")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n_removed"]
        for r in remove_boilerplate_lines_df(docs, min_docs=3).collect()
    }
    assert out == {1: 0, 2: 0, 3: 0}  # shared by 2 < min_docs=3: kept
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_docs"):
        remove_boilerplate_lines_df(docs, min_docs=1)


def test_boilerplate_plan_shape(spark):
    """One compact doc_id repartition for the corpus; the hot-line branch
    owns the only other shuffles; the anti-join must be broadcast."""
    from imops_spark.functions.text import remove_boilerplate_lines_df

    out = remove_boilerplate_lines_df(_boiler_docs(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    doc_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(doc_id" in ln
    ]
    # the reassembly groupBy and the carry-join ride the single repartition
    assert len(doc_exchanges) == 1


# --- overlapping chunking (text.chunk_documents_df) ---


def test_chunking_covers_text_with_overlap(spark):
    from imops_spark.functions.text import chunk_documents_df

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abc"), (3, ""), (4, None), (5, "abcdefghijk")],
        "doc_id long, text string",
    )
    rows = sorted(
        map(tuple, chunk_documents_df(docs, chunk_chars=4, overlap=1).collect())
    )
    assert rows == [
        (1, 0, 1, "abcd", 3),
        (1, 1, 4, "defg", 3),
        (1, 2, 7, "ghij", 3),
        (2, 0, 1, "abc", 1),
        (5, 0, 1, "abcd", 4),
        (5, 1, 4, "defg", 4),
        (5, 2, 7, "ghij", 4),
        (5, 3, 10, "jk", 4),
    ]
    # reconstruction: dropping each chunk's first `overlap` chars (except
    # chunk 0) and concatenating in order restores the document
    text = {1: "abcdefghij", 2: "abc", 5: "abcdefghijk"}
    by_doc = {}
    for d, ix, _, ch, _ in rows:
        by_doc.setdefault(d, []).append((ix, ch))
    for d, chunks in by_doc.items():
        rec = "".join(ch if ix == 0 else ch[1:] for ix, ch in sorted(chunks))
        assert rec == text[d]


def test_chunking_validation_and_plan(spark):
    import pytest as _pytest

    from imops_spark.functions.text import chunk_documents_df

    docs = spark.createDataFrame([(1, "xyz")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="chunk_chars"):
        chunk_documents_df(docs, chunk_chars=0)
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents_df(docs, chunk_chars=4, overlap=4)
    out = chunk_documents_df(docs, chunk_chars=4, overlap=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # row-local: zero shuffles


def test_chunking_counts_codepoints_not_bytes(spark):
    """Multi-byte text: chunk boundaries must fall on CODEPOINTS (Spark
    length/substring are codepoint-based; a byte-based engine would split
    inside a character).  Python strings are the codepoint oracle."""
    from imops_spark.functions.text import chunk_documents_df

    text = "héllo wörld 你好世界 🚀 end"  # accents, CJK, non-BMP emoji
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        (r["chunk_ix"], r["start_char"], r["chunk"], r["n_chunks"])
        for r in chunk_documents_df(docs, chunk_chars=5, overlap=2).collect()
    )
    stride, c = 3, 5
    n = 1 + -(-max(len(text) - c, 0) // stride)
    want = [
        (i, 1 + i * stride, text[i * stride : i * stride + c], n)
        for i in range(n)
    ]
    assert rows == want


def test_boilerplate_handles_multibyte_lines(spark):
    from imops_spark.functions.text import remove_boilerplate_lines_df

    docs = spark.createDataFrame(
        [
            (1, "共有页脚\nunique α content"),
            (2, "共有页脚\nдругой текст"),
            (3, "  共有页脚  \n🚀 only here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in remove_boilerplate_lines_df(docs).collect()
    }
    assert out == {
        1: ("unique α content", 1),
        2: ("другой текст", 1),
        3: ("🚀 only here", 1),  # trim matches the padded multi-byte dup
    }


# --- hashed text embeddings (text.hashed_embedding_df) ---


def test_hashed_embedding_bridges_to_similarity(spark):
    """Identical texts embed identically (cosine 1); unrelated texts stay
    apart; the output column feeds embedding_near_dup_df directly."""
    import numpy as np

    from imops_spark.functions.dedup import embedding_near_dup_df
    from imops_spark.functions.text import hashed_embedding_df

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),
            (2, "the quick brown fox jumps high"),
            (3, "completely different words entirely unrelated"),
        ],
        "doc_id long, text string",
    )
    emb = hashed_embedding_df(docs, dim=32)
    rows = {r["doc_id"]: np.array(r["embedding"]) for r in emb.collect()}
    assert all(abs(np.linalg.norm(v) - 1.0) < 2e-5 for v in rows.values())
    assert np.allclose(rows[1], rows[2])
    assert abs(float(rows[1] @ rows[3])) < 0.7  # random signs: far from 1
    pairs = embedding_near_dup_df(
        emb.selectExpr("doc_id AS vec_id", "CAST(embedding AS array<float>) AS embedding"),
        threshold=0.9,
    )
    assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(1, 2)]


def test_hashed_embedding_matches_python(spark):
    import hashlib

    import numpy as np

    from imops_spark.functions.text import hashed_embedding_df

    docs = spark.createDataFrame(
        [(7, "Alpha  beta   GAMMA alpha")], "doc_id long, text string"
    )
    got = np.array(hashed_embedding_df(docs, dim=12).collect()[0]["embedding"])
    toks = {"alpha", "beta", "gamma"}  # normalized distinct
    v = np.zeros(12)
    for t in toks:
        h = int(hashlib.md5(f"0|{t}".encode()).hexdigest()[:15], 16)
        for b in range(12):
            v[b] += 1 if (h >> b) & 1 else -1
    want = np.round(v / np.linalg.norm(v), 6)
    assert np.array_equal(got, want)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="dim"):
        hashed_embedding_df(docs, dim=61)


def test_hashed_embedding_local_twin_identical_and_shuffle_free(spark):
    """hashed_embedding_local_df (the row-local Arrow kernel — the
    streaming formulation) must be value-identical to the batch aggregate
    path, keep identical absence semantics (NULL text, zero tokens), and
    plan ZERO exchanges (append-mode streaming legality)."""
    import pytest
    from pyspark.sql import functions as F

    from imops_spark.functions.text import (
        hashed_embedding_df,
        hashed_embedding_local_df,
    )

    rows = [(i, f"alpha tok{i % 7} beta tok{(i * 3) % 5} gamma") for i in range(40)]
    rows += [(90, "   "), (91, None), (92, "solo")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["embedding"] for r in hashed_embedding_df(docs, dim=12).collect()}
    b = {r["doc_id"]: r["embedding"] for r in hashed_embedding_local_df(docs, dim=12).collect()}
    assert a == b
    assert 90 not in b and 91 not in b and 92 in b
    plan = (
        hashed_embedding_local_df(docs, dim=12)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="dim"):
        hashed_embedding_local_df(docs, dim=61)


def test_hashed_embedding_local_is_streaming_legal(spark, tmp_path):
    """The local twin must run as an append-mode stream and produce the
    batch answer."""
    from imops_spark.functions.text import (
        hashed_embedding_df,
        hashed_embedding_local_df,
    )
    from imops_spark.streaming.events import run_stream_to_memory

    p = str(tmp_path / "docs")
    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{(i * 7) % 11} common") for i in range(60)],
        "doc_id long, text string",
    )
    docs.write.parquet(p)
    stream = spark.readStream.schema("doc_id long, text string").parquet(p)
    got = {
        r["doc_id"]: r["embedding"]
        for r in run_stream_to_memory(
            hashed_embedding_local_df(stream, dim=10),
            "hashed_embed_stream_test",
            spark,
            mode="append",
        ).collect()
    }
    want = {
        r["doc_id"]: r["embedding"]
        for r in hashed_embedding_df(docs, dim=10).collect()
    }
    assert got == want and len(got) == 60


def test_dedup_paragraphs_keep_first(spark):
    """Cross-corpus keep-first paragraph dedup: the globally first
    (doc_id, pos) occurrence survives, later copies vanish (across docs
    AND within one), trimmed-form matching, short lines never candidates,
    fully-deduped docs survive with text=''."""
    from imops_spark.functions.text import dedup_paragraphs_df

    P = "this paragraph is long enough to be a candidate"
    Q = "another sufficiently long paragraph for the test"
    rows = [
        (1, f"{P}\nshort\n{Q}"),
        (2, f"{Q}\n{P}\nunique paragraph only in document two"),
        (3, f"  {P}  \n{P}"),
        (4, None),
        (5, "tiny"),
        (6, f"{P}"),
    ]
    out = {
        r["doc_id"]: r
        for r in dedup_paragraphs_df(
            spark.createDataFrame(rows, "doc_id long, text string"),
            min_chars=20,
        ).collect()
    }
    assert out[1]["text"] == f"{P}\nshort\n{Q}" and out[1]["n_removed"] == 0
    assert out[2]["text"] == "unique paragraph only in document two"
    assert out[2]["n_removed"] == 2
    assert out[3]["text"] == "" and out[3]["n_removed"] == 2
    assert 4 not in out
    assert out[5]["text"] == "tiny" and out[5]["n_removed"] == 0
    assert out[6]["text"] == "" and out[6]["n_lines"] == 1

    import pytest

    with pytest.raises(ValueError, match="min_chars"):
        dedup_paragraphs_df(
            spark.createDataFrame(rows, "doc_id long, text string"),
            min_chars=0,
        )


def test_dedup_paragraphs_vs_boilerplate_contract(spark):
    """The two siblings differ exactly as documented: boilerplate
    removal deletes ALL copies of a >=min_docs line; paragraph dedup
    keeps exactly ONE."""
    from imops_spark.functions.text import (
        dedup_paragraphs_df,
        remove_boilerplate_lines_df,
    )

    P = "a shared navigation bar line long enough to count"
    rows = [(i, f"{P}\ncontent line unique to document number {i}") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    boiler = {r["doc_id"]: r["text"] for r in remove_boilerplate_lines_df(df).collect()}
    dedup = {r["doc_id"]: r["text"] for r in dedup_paragraphs_df(df).collect()}
    assert all(P not in t for t in boiler.values())          # gone everywhere
    assert sum(P in t for t in dedup.values()) == 1          # kept exactly once
    assert P in dedup[0]                                     # ... the first
