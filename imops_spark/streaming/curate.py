"""Streaming curation: ingestion-time decontamination.

The batch decontamination step (``functions.curate.contamination_pairs_df``)
re-expressed for a streaming train side: new training documents are checked
against the static eval/holdout set AS THEY ARRIVE, so contaminated documents
can be quarantined before they ever land in the corpus — the shape a
continuously-ingesting 100 TB training pipeline wants.

Streaming legality is exactly why the row-local winnowing
(``functions.text.winnow_fp_set_df``) exists: the batch fingerprint chain
contains a groupBy (per-window minima) plus a dropDuplicates, which would be
stateful operators UPSTREAM of the pair count and trip Spark's
multi-stateful rules (and countDistinct is outright rejected in streaming
aggregations); the row-local formulation produces each (doc, fp) pair
exactly once with zero shuffles, leaving the pair count as the query's ONLY
stateful operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = [
    "contamination_pairs_stream",
    "start_bloom_index_maintenance",
    "start_contamination_hits_maintenance",
    "contamination_report_from_hits",
]


def contamination_pairs_stream(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 8,
    window: int = 4,
    min_shared: int = 1,
) -> DataFrame:
    """Streaming twin of ``contamination_pairs_df``: ``(train_id, eval_id,
    n_shared)`` for streaming train docs sharing >= ``min_shared`` winnowing
    fingerprints with any static eval doc.

    Plan: row-locally DISTINCT fingerprint sets on both sides (each
    (doc, fp) exists exactly once — no dedup shuffle, no stateful dedup),
    a stream-STATIC equi-join on the fingerprint hash (stateless: the
    static side is re-read per micro-batch, never buffered), and one
    groupBy pair count — the single stateful operator, so the query runs
    in complete mode without watermark gymnastics.  Drained one-shot it
    equals the batch scan, which the oracle recomputes relationally.

    The batch formulation (``contamination_pairs_df``) is built from
    exactly these streaming-legal pieces, so this function DELEGATES to
    it — one copy of the decontamination logic, and the streaming-legality
    argument above is the reason the delegation is valid.
    """
    from ..functions.curate import contamination_pairs_df

    return contamination_pairs_df(
        train_docs, eval_docs, k=k, window=window, min_shared=min_shared
    )


def start_contamination_hits_maintenance(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    path: str,
    k: int = 8,
    window: int = 4,
    hash_fn: str = "md5",
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Maintain a persisted HIT-FINGERPRINT log as training documents
    stream in: each micro-batch's winnowing fingerprints are probed
    row-locally against the (broadcast) static eval fingerprint set, and
    the batch's distinct hits are APPENDED to ``path``.  The report for
    the corpus ingested so far is then
    :func:`contamination_report_from_hits` — the streaming twin of
    ``functions.curate.contamination_report_df``.

    Why this shape instead of a streaming aggregation: the batch report's
    tail joins the STATIC eval frame against a streaming-derived hit set
    (static-left outer join on a stream = unsupported) and would stack
    dropDuplicates under a groupBy.  The hit-fp set, however, is a
    MONOTONE SET UNION — so the foreachBatch append gives exactly-once
    SEMANTICS from at-least-once plumbing: a replayed batch re-appends
    the same fingerprints and the reader's dedup collapses them (the
    ``start_bloom_index_maintenance`` argument).  Per batch the log grows
    by at most the batch's hits, and the whole log is bounded by the EVAL
    fingerprint count — however large the train stream gets.

    Returns the started ``StreamingQuery``.
    """
    from pyspark.sql import functions as F

    from ..functions.curate import _joined_fp_set

    # checkpoint the eval fp set once at start(): every micro-batch probes
    # it, and without the checkpoint each batch would re-run the whole eval
    # winnowing chain (bounded frame, lives as long as the query closure)
    ef_fps = (
        _joined_fp_set(eval_docs, k, window, hash_fn)
        .select("fp")
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        tf = _joined_fp_set(batch_df, k, window, hash_fn).select("fp")
        hits = tf.join(F.broadcast(ef_fps), "fp", "left_semi").dropDuplicates()
        hits.write.mode("append").parquet(path)

    w = train_docs.writeStream.foreachBatch(write_batch)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def contamination_report_from_hits(
    spark,
    path: str,
    eval_docs: DataFrame,
    k: int = 8,
    window: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-eval-doc contamination report over the persisted hit log at
    ``path`` — ``(eval_id, n_fps, n_hit, frac)``, identical semantics to
    the batch ``contamination_report_df`` for the train docs ingested so
    far.  Replayed batches collapse in the reader's dedup (the log is a
    set).  A MISSING log means "no training docs ingested yet" (every
    ``n_hit`` = 0); any OTHER read failure propagates — a swallowed
    transient error would silently report an uncontaminated eval set (the
    status-read lesson from the uniqueness sink)."""
    from pyspark.sql import functions as F

    from ..functions.curate import _contamination_report_tail, _joined_fp_set

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        hit_fps = spark.read.parquet(path).dropDuplicates()
    else:
        hit_fps = spark.createDataFrame([], "fp long")
    ef = _joined_fp_set(eval_docs, k, window, hash_fn).select(
        F.col("doc_id").alias("eval_id"), "fp"
    )
    return _contamination_report_tail(ef, hit_fps)


def start_bloom_index_maintenance(
    keys: DataFrame,
    col: str,
    path: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Keep a persisted Bloom membership index current as keys stream in:
    each micro-batch's sparse words are APPENDED to the word log at
    ``path`` via ``foreachBatch`` (``functions.bloom.bloom_write_index``
    with ``mode='append'``, so the layout contract and the
    parameter-mismatch guard live in one place for build AND maintenance);
    ``bloom_read_index`` then always answers for the corpus ingested so
    far.  Use case: the eval/holdout fingerprint set of a continuously
    re-decontaminated pipeline, or any "have we ever seen this key" guard.

    **Delivery guarantee: exactly-once SEMANTICS from at-least-once
    plumbing.**  A crash between the append and the checkpoint commit
    replays the batch — but a Bloom filter is a monotone OR-accumulator,
    so re-appending the same words leaves every future membership answer
    IDENTICAL (unlike the LSH band index, whose replays duplicate
    candidate pairs and need downstream dedup).  This is the strongest
    delivery story of the streaming sinks here, and it costs nothing.

    Deletion is out of scope by construction: Bloom filters cannot unset
    bits, so a key ingested once answers "maybe" forever — retention
    policies need a fresh index build, not maintenance.

    Returns the started ``StreamingQuery`` (``available_now=True`` drains
    the backlog and stops — test/backfill mode; ``False`` runs
    continuously).
    """
    from ..functions.bloom import bloom_write_index

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        bloom_write_index(
            batch_df, col, path, num_bits=num_bits, num_hashes=num_hashes,
            mode="append",
        )

    w = keys.writeStream.foreachBatch(write_batch)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
