"""Streaming data-quality monitors (north-star §2.8 surface — the
reference has no streaming at all).

The ingestion-time twins of the batch quality gates in
``operators/pipeline.py``: every micro-batch is scored against a
static reference — categorical mix drift (``category_drift``) and a
declarative expectation suite (``validate``) — and the per-batch
verdict rows land in ``monitor_batch=<id>`` partition directories.

State/idempotency design: the monitors keep NO streaming state — the
reference side is a static relation, each batch is scored alone, and a
replayed micro-batch overwrites its own partition (``_batches``)
instead of appending duplicate verdicts. Monitor output is a plain
parquet table any dashboard can read.

Scale: the reference histogram / rule thresholds are tiny relations
(values × counts, rules × scalars) — the per-batch cost is one pass
over the batch, reference recomputation is a broadcast-sized groupBy.
For a very large reference corpus, pre-aggregate it once and pass the
(value, count) relation as ``reference``.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbscan_pyspark_spark.streaming._batches import (
    micro_batch,
    read_partitions,
    start,
    write_partition,
)


@micro_batch
def process_drift_batch(
    batch: DataFrame,
    batch_id: int,
    reference: DataFrame,
    col: str,
    output_dir: str,
    top_n: int | None = None,
) -> None:
    """One micro-batch of the drift monitor (pure batch code,
    unit-testable without a stream; ``streaming_drift_monitor`` wraps
    it in ``foreachBatch``). Writes category_drift(reference, batch)
    rows + batch_id to the batch's own partition (replay-idempotent)."""
    from dbscan_pyspark_spark.operators.pipeline import category_drift

    drift = category_drift(reference, batch, col, top_n=top_n)
    drift = drift.withColumn("batch_id", F.lit(batch_id))
    write_partition(drift, output_dir, batch_id, "monitor_batch")


def streaming_drift_monitor(
    stream: DataFrame,
    reference: DataFrame,
    col: str,
    output_dir: str,
    checkpoint_dir: str,
    top_n: int | None = None,
):
    """Per-micro-batch categorical drift vs a static reference: the
    streaming deployment of the batch ``category_drift`` gate (is this
    hour's event/language/source mix still the training mix?).

    Returns the started StreamingQuery (availableNow trigger)."""
    return start(
        stream,
        checkpoint_dir,
        partial(
            process_drift_batch,
            reference=reference,
            col=col,
            output_dir=output_dir,
            top_n=top_n,
        ),
    )


@micro_batch
def process_ks_batch(
    batch: DataFrame,
    batch_id: int,
    reference: DataFrame,
    col: str,
    output_dir: str,
) -> None:
    """One micro-batch of the KS drift monitor (pure batch code,
    unit-testable without a stream; ``streaming_ks_monitor`` wraps it
    in ``foreachBatch``). Writes the 1-row ``ks_drift(reference,
    batch)`` statistic + batch_id to the batch's own partition
    (replay-idempotent — a reprocessed batch recomputes the identical
    integer-exact statistic and overwrites its own partition)."""
    from dbscan_pyspark_spark.operators.pipeline import ks_drift

    # a batch with NO non-null values (not just no rows — an optional
    # column can arrive all-null) has no place on a CDF: skip it rather
    # than let ks_drift's empty-side ValueError kill the whole
    # StreamingQuery inside foreachBatch
    if batch.where(F.col(col).isNotNull()).isEmpty():
        return
    ks = ks_drift(reference, batch, col).withColumn("batch_id", F.lit(batch_id))
    write_partition(ks, output_dir, batch_id, "monitor_batch")


def streaming_ks_monitor(
    stream: DataFrame,
    reference: DataFrame,
    col: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Per-micro-batch two-sample KS drift vs a static reference: the
    streaming deployment of the batch ``ks_drift`` gate — the
    CDF-shaped twin of ``streaming_drift_monitor`` for numeric columns
    (is this hour's value distribution still the training
    distribution, without choosing bins up front?).

    Returns the started StreamingQuery (availableNow trigger)."""
    return start(
        stream,
        checkpoint_dir,
        partial(process_ks_batch, reference=reference, col=col, output_dir=output_dir),
    )


@micro_batch
def process_expectations_batch(
    batch: DataFrame,
    batch_id: int,
    rules: list[tuple],
    output_dir: str,
) -> None:
    """One micro-batch of the expectations monitor: run the
    ``validate`` rule suite on the batch, write (rule, violations,
    passed, batch_id) to the batch's own partition."""
    from dbscan_pyspark_spark.operators.pipeline import validate

    report = validate(batch, rules).withColumn("batch_id", F.lit(batch_id))
    write_partition(report, output_dir, batch_id, "monitor_batch")


def streaming_expectations(
    stream: DataFrame,
    rules: list[tuple],
    output_dir: str,
    checkpoint_dir: str,
):
    """Per-micro-batch data-quality gate: the streaming deployment of
    the batch ``validate`` suite (did this batch ship nulls, range
    breaks, duplicate keys?). Returns the started StreamingQuery."""
    return start(
        stream,
        checkpoint_dir,
        partial(process_expectations_batch, rules=rules, output_dir=output_dir),
    )


def _latest_sketch(spark, store_dir: str, before_batch: int) -> DataFrame | None:
    """Most recent MG summary snapshot with sketch_batch < before_batch
    (``_batches.read_partitions``: a replayed batch cannot merge against
    its own failed attempt), or None before the first snapshot."""
    prior = read_partitions(spark, store_dir, before_batch, "sketch_batch")
    if prior is None:
        return None
    last = prior.agg(F.max("sketch_batch").alias("b")).first()["b"]
    if last is None:
        return None
    return prior.where(F.col("sketch_batch") == F.lit(last)).select(
        "_mg_key", "_mg_c"
    )


@micro_batch
def process_heavy_hitters_batch(
    batch: DataFrame,
    batch_id: int,
    key_col: str,
    k: int,
    store_dir: str,
    weight_col: str | None = None,
) -> None:
    """One micro-batch of the streaming heavy-hitter monitor: merge the
    batch's Misra-Gries summary into the running sketch and write the
    new snapshot to ``sketch_batch=<id>`` (replay-idempotent — a
    reprocessed batch rewrites its own snapshot from the same prior
    state, bit-for-bit).

    Merge rule (mergeable summaries, Agarwal et al., PODS'12): sum
    counters by key across (prior snapshot ∪ batch summary); if more
    than ``k`` keys survive, subtract the (k+1)-th largest counter and
    drop non-positives. Cumulative undercount stays <= n_total/(k+1)
    across ANY number of batches. Every relation here is <= k*P rows —
    the merge never touches raw history, which is what lets the monitor
    run forever: state is O(k), not O(stream). Superseded snapshots
    older than the previous one are pruned after each write (the
    previous snapshot is retained because a checkpoint replay of THIS
    batch must re-merge against it), so the store's directory count —
    and the per-batch listing cost — stays O(1) too."""
    from dbscan_pyspark_spark.operators.pipeline import _mg_partials

    spark = batch.sparkSession
    _, partials = _mg_partials(batch, key_col, int(k), weight_col)
    summary = partials.groupBy("_mg_key").agg(F.sum("_mg_c").alias("_mg_c"))
    prior = _latest_sketch(spark, store_dir, batch_id)
    if prior is not None:
        summary = (
            summary.unionByName(prior)
            .groupBy("_mg_key")
            .agg(F.sum("_mg_c").alias("_mg_c"))
        )
    # tiny relation from here on (<= k*P + k + 2 rows); the decrement
    # needs the (k+1)-th largest counter among real keys
    summary = summary.localCheckpoint(eager=True)
    top = (
        summary.where(F.col("_mg_key").isNotNull())
        .orderBy(F.col("_mg_c").desc(), F.col("_mg_key"))
        .limit(int(k) + 1)
    )
    d_row = top.agg(
        F.when(F.count(F.lit(1)) == int(k) + 1, F.min("_mg_c"))
        .otherwise(F.lit(0))
        .alias("_d")
    )
    snapshot = (
        summary.crossJoin(F.broadcast(d_row))
        .where(
            F.col("_mg_key").isNull() | (F.col("_mg_c") > F.col("_d"))
        )
        .select(
            "_mg_key",
            F.when(
                F.col("_mg_key").isNull(), F.col("_mg_c")
            )  # the null row carries n_total: never decremented
            .otherwise(F.col("_mg_c") - F.col("_d"))
            .alias("_mg_c"),
        )
    )
    write_partition(snapshot, store_dir, batch_id, "sketch_batch")
    _prune_superseded_snapshots(store_dir, batch_id)


def _prune_superseded_snapshots(store_dir: str, batch_id: int) -> None:
    """Delete snapshot directories older than the PREVIOUS one: only
    the latest snapshot is ever read forward, and a checkpoint replay
    re-runs at most the last uncommitted batch (which merges against
    the snapshot before it) — anything older is dead weight that would
    grow the per-batch listing linearly with stream age. Local-FS
    best-effort (the upsert_parquet caveat): on remote filesystems the
    glob matches nothing and the store just grows, documented."""
    import glob
    import os
    import shutil

    by_id = {}
    for d in glob.glob(os.path.join(store_dir, "sketch_batch=*")):
        try:
            by_id[int(os.path.basename(d).split("=", 1)[1])] = d
        except ValueError:
            continue
    # the newest PRIOR snapshot (not batch_id - 1: empty batches write
    # nothing, so prior ids can be sparse) must survive for replay
    prior = [b for b in by_id if b < batch_id]
    keep = max(prior) if prior else batch_id
    for bid, d in by_id.items():
        # never touch ids >= batch_id (an out-of-order replay must not
        # destroy newer state), keep the newest prior for replay
        if bid < keep:
            shutil.rmtree(d, ignore_errors=True)


def streaming_heavy_hitters(
    stream: DataFrame,
    key_col: str,
    store_dir: str,
    checkpoint_dir: str,
    k: int = 100,
    weight_col: str | None = None,
):
    """Streaming deployment of the batch ``approx_top_k`` sketch: a
    running Misra-Gries summary of the hottest keys in an unbounded
    stream with O(k) state (which key is suddenly dominating ingestion —
    crawler traps, bot bursts, one exploding source). Returns the
    started StreamingQuery (availableNow trigger); read the current
    answer with :func:`heavy_hitters_snapshot`."""
    return start(
        stream,
        checkpoint_dir,
        partial(
            process_heavy_hitters_batch,
            key_col=key_col,
            k=k,
            store_dir=store_dir,
            weight_col=weight_col,
        ),
    )


def heavy_hitters_snapshot(spark, store_dir: str) -> DataFrame:
    """The latest streaming MG snapshot as DataFrame(value string,
    est_count long, n_rows long) — same shape as batch
    ``approx_top_k``'s sketch mode, same lower-bound contract
    (true - est <= n_rows/(k+1))."""
    latest = _latest_sketch(spark, store_dir, 2**62)
    if latest is None:
        raise ValueError(f"no heavy-hitter snapshots under {store_dir}")
    totals = latest.where(F.col("_mg_key").isNull()).select(
        F.col("_mg_c").alias("_n")
    )
    return (
        latest.where(F.col("_mg_key").isNotNull())
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("_mg_key").alias("value"),
            F.col("_mg_c").alias("est_count"),
            F.col("_n").alias("n_rows"),
        )
    )


# ---- incremental Count-Min Sketch ------------------------------------


@micro_batch
def process_cms_batch(
    batch: "DataFrame",
    batch_id: int,
    store_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 64,
) -> None:
    """Accrete one micro-batch into a Count-Min Sketch store: the
    batch's OWN depth x width sketch lands in an ``ingest_batch=<id>``
    partition with unconditional overwrite (the replay-idempotency
    discipline — a replayed batch whose content changed replaces its
    cells, never double-counts). CMS merge is cell-wise SUM, so the
    store needs no read-modify-write: the merged sketch is one
    aggregate over the partition union at read time, and equals the
    batch operator's sketch over the full ingested corpus EXACTLY
    (pinned by test) — the same mergeability that makes CMS the
    distributed counting summary makes it the *streaming* one."""
    from dbscan_pyspark_spark.operators.pipeline import count_min_sketch

    write_partition(count_min_sketch(batch, key_col, depth, width), store_dir, batch_id)


def streaming_cms(
    df: "DataFrame",
    store_dir: str,
    checkpoint_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 64,
):
    """Maintain a Count-Min Sketch over a streaming frame; returns the
    ``StreamingQuery``. Each micro-batch adds one partition of cells;
    :func:`cms_snapshot` folds them into the live sketch."""
    return start(
        df,
        checkpoint_dir,
        partial(
            process_cms_batch, store_dir=store_dir, key_col=key_col, depth=depth, width=width
        ),
    )


def cms_snapshot(spark, store_dir: str) -> "DataFrame":
    """The live sketch: cell-wise sum over every ingested batch's
    partition — DataFrame(row, bucket, cnt), directly usable as the
    ``sketch=`` input of ``operators/pipeline.py::cms_estimates``."""
    return (
        spark.read.parquet(store_dir)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
