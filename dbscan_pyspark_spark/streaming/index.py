"""Incremental inverted-index maintenance (streaming twin of
``operators/search.py::inverted_postings``).

A growing corpus's postings partition PERFECTLY by ingest batch: a
document arrives in exactly one micro-batch, and its (term, doc, tf)
rows depend on no other document — so "upsert" is just writing the
batch's postings (and per-doc lengths) to ``ingest_batch=<id>``
partition dirs with overwrite, the replay discipline of every
streaming sink here (``_batches``). No read-modify-write, no merge job, no
stale-row hazard: a replayed batch rewrites only its own partitions.

The corpus-GLOBAL retrieval quantities (document frequency, N, avgdl)
are deliberately NOT materialized per batch — they change with every
batch, so maintaining them incrementally would mean rewriting a global
artifact per micro-batch (a serialization point). Instead
:func:`bm25_serve` derives them at query time with one map-side-
combined aggregate over the term-partitioned postings union — the
postings relation is vocabulary x avg-df sized, far smaller than the
corpus text, and the aggregate prunes to nothing via the broadcast
query-term semi-join shape inside ``bm25_topk_from_postings``.

Scale shape: per batch, one tokenization pass over the BATCH only and
two map-side-combined aggregates; the historical corpus is never
re-read, let alone re-tokenized. Serving reads the postings parquet
(term-keyed, column-pruned) — BM25 over a 100 TB corpus touches only
the index.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbscan_pyspark_spark.streaming._batches import micro_batch, start, write_partition


@micro_batch
def process_index_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Index one micro-batch: write its postings (term, doc, tf) to
    ``<index_dir>/postings/ingest_batch=<id>`` and its doc lengths
    (doc, dl) to ``<index_dir>/doclens/ingest_batch=<id>``, both with
    unconditional overwrite (the phrase-filter replay lesson: the
    overwrite is what clears a stale partition when a replayed batch's
    content changed). Docs whose normalized text has no tokens carry
    no postings and no length row — identical to how the batch
    operators treat them (they don't count toward N/avgdl)."""
    from dbscan_pyspark_spark.operators.search import (
        _terms,
        inverted_postings,
    )

    postings = inverted_postings(batch, text_col=text_col, id_col=id_col)
    doclens = (
        _terms(batch, text_col, id_col)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("dl"))
    )
    write_partition(postings, f"{index_dir}/postings", batch_id)
    write_partition(doclens, f"{index_dir}/doclens", batch_id)


def streaming_postings_index(
    docs: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Maintain the inverted index over a streaming ``docs`` frame;
    returns the ``StreamingQuery``. Each micro-batch accretes one
    ``ingest_batch`` partition under ``<index_dir>/postings`` and
    ``<index_dir>/doclens``."""
    return start(
        docs,
        checkpoint_dir,
        partial(process_index_batch, index_dir=index_dir, text_col=text_col, id_col=id_col),
    )


def read_index(
    spark, index_dir: str, validate: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Load the maintained index: (postings, doclens) DataFrames with
    the ``ingest_batch`` partition column dropped — the union over all
    ingested batches, ready for :func:`bm25_serve` or any postings
    consumer (phrase/proximity layers read the same relation).

    INVARIANT: each doc_id arrives in exactly ONE micro-batch. Replays
    of the same batch are safe (the batch-id partition is overwritten),
    but a doc RE-INGESTED under a different batch id double-counts in
    tf/df/N/avgdl — the accretion model has no cross-batch merge.
    ``validate=True`` spends one count-vs-count_distinct agg over the
    (bounded, one row per doc) doclens relation to detect exactly that
    and raise (ADVICE r9); serving paths skip it by default."""
    postings = spark.read.parquet(f"{index_dir}/postings").drop(
        "ingest_batch"
    )
    doclens = spark.read.parquet(f"{index_dir}/doclens").drop("ingest_batch")
    if validate:
        id_c = next(c for c in doclens.columns if c != "dl")
        c = doclens.agg(
            F.count(F.lit(1)).alias("_n"),
            F.count_distinct(id_c).alias("_d"),
        ).first()
        if c["_n"] != c["_d"]:
            raise ValueError(
                f"read_index: {c['_n'] - c['_d']} doc_id(s) appear in "
                "more than one ingest_batch — a re-ingested doc "
                "double-counts in tf/df/N/avgdl; re-ingest under the "
                "original batch id (partition overwrite) instead"
            )
    return postings, doclens


def bm25_serve(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    round_to: int = 4,
) -> DataFrame:
    """BM25 top-k over the stream-maintained index: exactly
    ``bm25_topk`` on the full ingested corpus (same delegated scoring
    math, pinned by test), without ever re-reading the corpus text.

    Inherits :func:`read_index`'s invariant — each doc_id in exactly
    one ingest_batch; a doc re-ingested under a different batch id
    double-counts in every BM25 statistic. Run
    ``read_index(spark, index_dir, validate=True)`` after suspect
    ingests to check."""
    from dbscan_pyspark_spark.operators.search import (
        bm25_topk_from_postings,
    )

    postings, doclens = read_index(spark, index_dir)
    return bm25_topk_from_postings(
        postings,
        doclens,
        queries,
        k=k,
        k1=k1,
        b=b,
        id_col=id_col,
        query_id_col=query_id_col,
        query_text_col=query_text_col,
        round_to=round_to,
    )
