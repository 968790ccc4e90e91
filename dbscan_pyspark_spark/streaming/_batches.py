"""The one micro-batch seam of the streaming package: every streaming
sink runs batch operators once per micro-batch through ``foreachBatch``,
and the plumbing they share lives here.

Replay discipline: a sink writes each batch's rows to ``<col>=<id>``
partitions with per-partition overwrite, the idempotent-``foreachBatch``
pattern. A replayed micro-batch rewrites its own partitions bit-for-bit
instead of appending duplicates, and the overwrite clears a stale
partition when the replayed batch's content changed. A store read
excludes the current batch id, so a replay cannot match a row against
its own failed attempt.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def micro_batch(body):
    """Run ``body(batch, batch_id, ...)`` on the persisted batch, so its
    reads and the emptiness probe scan the source once; skip an empty
    batch; unpersist on every exit path."""

    @functools.wraps(body)
    def run(batch: DataFrame, batch_id: int, *args, **kwargs) -> None:
        batch = batch.persist()
        try:
            if not batch.isEmpty():
                body(batch, batch_id, *args, **kwargs)
        finally:
            batch.unpersist()

    return run


def start(stream: DataFrame, checkpoint_dir: str, process, output_mode: str = "append"):
    """Start ``process(batch, batch_id)`` over ``stream``, checkpointed,
    once per micro-batch of the available input; returns the
    ``StreamingQuery``."""
    return (
        stream.writeStream.outputMode(output_mode)
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_partition(df: DataFrame, root: str, batch_id: int, col: str = "ingest_batch") -> str:
    """Overwrite ``<root>/<col>=<batch_id>`` with ``df``; returns that path."""
    path = f"{root}/{col}={batch_id}"
    df.write.mode("overwrite").parquet(path)
    return path


def read_partitions(
    spark, root: str, before_batch: int, col: str = "ingest_batch"
) -> DataFrame | None:
    """The partitions of ``root`` with ``col`` < ``before_batch``, or None
    when ``root`` does not exist yet (the first batch).

    Cold start is probed on the Hadoop FS (``root`` is any Hadoop-FS URI
    at scale), not string-matched. Without a JVM (Spark Connect), or on a
    race with the probe, a failed read is classified by its error class
    first and its message text last. Any other failure (corrupt
    partition, permissions, a transient FS fault) propagates, so the
    stream retries the batch instead of skipping the store."""
    from pyspark.errors import AnalysisException

    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(root)
        if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
            return None
    except Exception:
        pass
    try:
        store = spark.read.parquet(root)
    except AnalysisException as exc:
        get_class = getattr(exc, "getCondition", None) or getattr(
            exc, "getErrorClass", lambda: None
        )
        text = f"{get_class() or ''} {exc}"
        if "PATH_NOT_FOUND" in text or "Path does not exist" in text:
            return None
        raise
    return store.where(F.col(col) < F.lit(before_batch))
