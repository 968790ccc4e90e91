"""Streaming banned-phrase ingest filter.

The ingest-time face of ``operators/search.py::phrase_search``: every
micro-batch of incoming documents is screened against a FIXED probe
set (banned phrases, eval-set fragments, policy strings); matching
docs are quarantined with per-phrase evidence, survivors flow on.
Stateless across batches — the probe set is a config artifact, not
state — so unlike the dedup filters there is no store, only the
idempotent ``ingest_batch=<id>`` partition-overwrite sink (``_batches``).

Per-batch the stream output is EXACTLY the batch operator's answer on
that batch's rows (pinned by test): a doc is quarantined iff
``phrase_search`` finds at least one probe occurrence in it.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbscan_pyspark_spark.streaming._batches import micro_batch, start, write_partition


@micro_batch
def process_phrase_filter_batch(
    batch: DataFrame,
    batch_id: int,
    probes: list[tuple[int, str]],
    output_dir: str,
    flagged_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the banned-phrase filter: run the anchor-vote
    phrase matcher against the probe list, quarantine matching docs to
    ``flagged_dir`` (with ``first_phrase_id`` — the smallest matching
    probe — and ``n_phrase_hits``, total occurrences over all probes),
    write the rest to ``output_dir``. Every input row lands in exactly
    one side (NULL/junk text can never match, so it flows through).
    Both sinks are ``ingest_batch=<id>`` partition dirs, and BOTH are
    overwritten UNCONDITIONALLY — an empty side still writes, because
    the overwrite is what clears a stale partition when a replayed
    batch's split changed (e.g. the probe set was edited between
    runs); skipping the empty write would leave the earlier run's rows
    behind and a doc could surface in both sinks (review finding).
    An empty overwrite leaves a data-less ``_SUCCESS`` partition,
    which a parent-dir read skips harmlessly."""
    spark = batch.sparkSession
    from dbscan_pyspark_spark.operators.search import phrase_search

    probes_df = spark.createDataFrame(probes, "phrase_id int, phrase_text string")
    hits = phrase_search(batch, probes_df, text_col=text_col, id_col=id_col)
    # per_doc is consumed twice (both sink joins); without the
    # persist each consumer re-runs the whole broadcast slot join
    # + both anchor-vote shuffles
    per_doc = hits.groupBy(id_col).agg(
        F.min("phrase_id").alias("first_phrase_id"),
        F.sum("n_occurrences").cast("long").alias("n_phrase_hits"),
    ).persist()
    try:
        write_partition(batch.join(per_doc, id_col), flagged_dir, batch_id)
        write_partition(
            batch.join(per_doc.select(id_col), id_col, "left_anti"), output_dir, batch_id
        )
    finally:
        per_doc.unpersist()


def streaming_phrase_filter(
    docs: DataFrame,
    probes: list[tuple[int, str]],
    output_dir: str,
    flagged_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Start the banned-phrase ingest filter over a streaming ``docs``
    DataFrame; returns the ``StreamingQuery``. Survivors land under
    ``output_dir``, quarantined docs (with evidence columns) under
    ``flagged_dir``, both partitioned by ``ingest_batch`` for
    idempotent replay."""
    return start(
        docs,
        checkpoint_dir,
        partial(
            process_phrase_filter_batch,
            probes=probes,
            output_dir=output_dir,
            flagged_dir=flagged_dir,
            text_col=text_col,
            id_col=id_col,
        ),
    )
