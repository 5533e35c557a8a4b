"""URL canonicalization / URL-keyed dedup / unigram entropy."""

import math

import pytest
from pyspark.sql import functions as F


def _py_canon(url: str) -> str:
    """Independent canonicalizer (split-based, no regex) for differential
    testing against the column-expression chain."""
    url = url.split("#", 1)[0]
    # authority = through the first /?# after the scheme
    i = url.find("://") + 3
    j = len(url)
    for ch in "/?#":
        k = url.find(ch, i)
        if k != -1:
            j = min(j, k)
    auth, rest = url[:j].lower(), url[j:]
    if auth.startswith("http://") and auth.endswith(":80"):
        auth = auth[: -len(":80")]
    elif auth.startswith("https://") and auth.endswith(":443"):
        auth = auth[: -len(":443")]
    if "?" in rest:
        path, q = rest.split("?", 1)
        keep = [
            p
            for p in q.split("&")
            if not (
                p.startswith("utm_")
                or p.startswith("gclid=")
                or p.startswith("fbclid=")
            )
        ]
        rest = path + ("?" + "&".join(keep) if keep else "")
    out = auth + rest
    if out.count("/") == 3 and out.endswith("/"):
        out = out[:-1]
    return out


URLS = [
    "http://Host.EXAMPLE.com:80/Path/Q?a=1&utm_source=x&b=2#frag",
    "https://site.org:443/",
    "https://site.org/a/",
    "http://t.co/Page?utm_a=1&utm_b=2",
    "http://h.io/p?gclid=9",
    "http://h.io/p?fbclid=8&keep=1",
    "http://h.io/p?keep=1&utm_z=3",
    "https://plain.net/x?a=1&b=2",
    "http://host.com/",
    "http://host.com",
    "https://UPPER.org/KeepCase?Q=V",
    "https://mid.net/p?a=1&utm_m=2&b=3",
    "https://mid.net/p?a=1&utm_m=2&utm_n=4&b=3",
    "http://both.net/p?utm_a=1&keep=2&utm_b=3",
]


def test_canonical_url_differential_and_idempotent(spark):
    from imops_spark.functions.text import canonical_url

    df = spark.createDataFrame([(u,) for u in URLS], "url string")
    got = {
        r["url"]: r["c"]
        for r in df.select("url", canonical_url(F.col("url")).alias("c")).collect()
    }
    for u in URLS:
        assert got[u] == _py_canon(u), u
    # idempotence: canonicalizing a canonical url is a no-op
    df2 = spark.createDataFrame([(c,) for c in got.values()], "url string")
    again = {
        r["url"]: r["c"]
        for r in df2.select("url", canonical_url(F.col("url")).alias("c")).collect()
    }
    assert all(k == v for k, v in again.items())


def test_drop_url_duplicates(spark):
    from imops_spark.functions.dedup import drop_url_duplicates_df

    pages = spark.createDataFrame(
        [
            (5, "http://Host.com:80/a?utm_x=1"),
            (3, "http://host.com/a"),
            (9, "http://host.com/a#sec2"),
            (7, "https://other.net/b"),
        ],
        "doc_id long, url string",
    )
    kept = {
        r["doc_id"]: r["canonical_url"]
        for r in drop_url_duplicates_df(pages).collect()
    }
    # the three host.com/a variants collapse to the lowest doc_id
    assert set(kept) == {3, 7}
    assert kept[3] == "http://host.com/a"

    # plan: one window over one exchange, no join
    plan = (
        drop_url_duplicates_df(pages)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_canonical_url_streaming_dedup(spark, tmp_path):
    """canonical_url is row-local, so ingestion-time URL dedup is just a
    stateful dropDuplicates on it: arrival order decides WHICH page
    survives, but the surviving canonical SET equals the batch distinct
    set, and cross-batch state prevents re-admission (the variant
    arriving in a later micro-batch is dropped)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from imops_spark.functions.text import canonical_url
    from imops_spark.streaming.events import run_stream_to_memory

    d = tmp_path / "urlstream"
    d.mkdir()
    batches = [
        pd.DataFrame({"doc_id": [1, 2], "url": [
            "http://Host.com:80/a?utm_x=1", "https://other.net/b"]}),
        pd.DataFrame({"doc_id": [3, 4], "url": [
            "http://host.com/a#frag", "https://third.io/c"]}),
    ]
    for i, b in enumerate(batches):
        pq.write_table(
            pa.Table.from_pandas(b, preserve_index=False), d / f"b{i}.parquet"
        )
    stream = (
        spark.readStream.schema("doc_id long, url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn("canonical_url", canonical_url(F.col("url")))
        .dropDuplicates(["canonical_url"])
    )
    got = run_stream_to_memory(stream, "urldedup_gate", spark, mode="append")
    rows = got.collect()
    assert len(rows) == 3  # doc 3's variant of doc 1's page dropped cross-batch
    assert {r["canonical_url"] for r in rows} == {
        "http://host.com/a", "https://other.net/b", "https://third.io/c",
    }
    assert all(r["doc_id"] != 3 for r in rows)


def test_filter_by_quantile(spark):
    """Exact-quantile range trim: survivors match a numpy re-derivation
    (linear-interpolated percentiles); bad bounds raise."""
    import numpy as np

    from imops_spark.functions.curate import filter_by_quantile_df

    vals = [int(v) for v in np.random.RandomState(5).randint(10, 5000, 200)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, n long"
    )
    kept = {r["id"] for r in filter_by_quantile_df(df, "n", 0.1, 0.9).collect()}
    qlo = round(float(np.percentile(vals, 10, method="linear")), 5)
    qhi = round(float(np.percentile(vals, 90, method="linear")), 5)
    want = {i for i, v in enumerate(vals) if qlo <= v <= qhi}
    assert kept == want
    with pytest.raises(ValueError, match="lo <= hi"):
        filter_by_quantile_df(df, "n", 0.9, 0.1)


def test_token_entropy_differential(spark):
    from imops_spark.functions.text import token_entropy_df

    rows = [
        (0, "a a a a"),                      # h == 0
        (1, "w x y z"),                      # h == ln(4)
        (2, "spam  spam ham Spam eggs"),     # mixed case folds
        (3, None),                           # excluded
        (4, "   "),                          # zero tokens -> excluded
        (5, "one"),
    ]
    got = {
        r["doc_id"]: r
        for r in token_entropy_df(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert set(got) == {0, 1, 2, 5}

    def py_entropy(text):
        toks = [t for t in text.strip().lower().split() if t]
        n = len(toks)
        micro = 0
        for tok in set(toks):
            p = toks.count(tok) / n
            micro += math.floor(p * math.log(p) * 1e6 + 0.5) if p * math.log(p) >= 0 else -math.floor(-(p * math.log(p)) * 1e6 + 0.5)
        return n, len(set(toks)), -micro

    for i, text in [(0, rows[0][1]), (1, rows[1][1]), (2, rows[2][1]), (5, rows[5][1])]:
        n, types, h_micro = py_entropy(text)
        r = got[i]
        assert (r["n_tokens"], r["n_types"], r["h_micro"]) == (n, types, h_micro), i
        assert r["h"] == pytest.approx(h_micro / 1e6, abs=1e-6)
    assert got[0]["h_micro"] == 0
    assert got[1]["h"] == pytest.approx(math.log(4), abs=2e-6)


def test_token_entropy_local_twin_bit_identical(spark):
    """The zero-shuffle row-local twin equals the batch exchange form
    bit-for-bit on every column, and its plan has NO exchange (the
    streaming-legality property)."""
    from imops_spark.functions.text import (
        token_entropy_df,
        token_entropy_local_df,
    )

    docs = spark.range(300).selectExpr(
        "id AS doc_id",
        "concat('w', CAST(id % 17 AS STRING), ' x y w',"
        " CAST(id % 17 AS STRING), ' z', repeat(' pad', CAST(id % 5 AS INT)))"
        " AS text",
    )
    batch = sorted(map(tuple, token_entropy_df(docs).collect()))
    local = sorted(map(tuple, token_entropy_local_df(docs).collect()))
    assert batch == local
    plan = (
        token_entropy_local_df(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_token_entropy_single_exchange(spark):
    """The compact-document recipe: ONE doc_id exchange feeds the explode and
    both aggregations (subset-of-keys rule) — a second hash exchange means
    the (doc_id, token) groupBy re-shuffled the exploded tokens."""
    from imops_spark.functions.text import token_entropy_df

    docs = spark.range(50).selectExpr(
        "id AS doc_id", "concat('a b c word', CAST(id AS STRING)) AS text"
    )
    plan = (
        token_entropy_df(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
