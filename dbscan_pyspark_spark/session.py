"""SparkSession factory with scale-appropriate defaults.

Replaces the reference's launcher (``spark_notebook.py:21-42``: pyspark
submit args, graphframes package pin, 12 executors x 2 cores). We need no
extra jars — connected components is pure DataFrame code — and we turn on
AQE so shuffle partitioning / skew handling is runtime-adaptive, which is
the posture that survives a 1000-executor 100 TB deployment.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType

# Defaults sized for the local[32] test box; on a real cluster these are
# submit-time conf and this module only supplies the SQL-level settings.
_SQL_CONF = {
    # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce by advisory partition size, not cluster parallelism —
    # the Spark-documented production setting. With the default (true),
    # AQE keeps tiny shuffles at full width; measured 2-4x wall on
    # multi-stage pipelines whose shuffles are far below 64 MB.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter join pruning (SPARK-32268): when a selective
    # dim-side filter feeds a shuffle join, inject a bloom filter of the
    # build-side keys into the fact scan so non-joining rows die at the
    # scan instead of crossing the exchange — at 100 TB this is the
    # difference between shuffling the table and shuffling the match.
    # Pinned on explicitly (default varies by version); thresholds stay
    # Spark defaults, which local tests override to exercise the path.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Allow custom Python Data Sources to receive pushed filters
    # (sources/synthetic.py implements pushFilters).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Arrow for any pandas_udf / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast small dims aggressively (all TPC-H dims fit).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Whole files of driver testdata are small; on a cluster leave default.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # The driver testdata's events.ts is parquet TIMESTAMP(NANOS) which
    # Spark cannot map natively; read as long and convert (tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_session(
    app_name: str = "dbscan-pyspark-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32)
    when no cluster master is configured — tests and bench run single-JVM,
    but nothing here is local-mode specific.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # Bucketed-table sinks (io.write_bucketed) need a warehouse location;
    # keep it out of the repo working tree.
    builder = builder.config(
        "spark.sql.warehouse.dir",
        os.path.join(tempfile.gettempdir(), "spark-graft-warehouse"),
    )
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    builder = builder.config("spark.ui.enabled", "false")
    for k, v in _SQL_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    # Iterative operators (connected components, k-member repair) truncate
    # lineage via localCheckpoint; a checkpoint dir also enables reliable
    # checkpointing when desired (reference: sc.setCheckpointDir, DBSCAN.py:171).
    from .compat import ensure_checkpoint_dir

    ensure_checkpoint_dir(
        spark, os.path.join(tempfile.gettempdir(), "spark-graft-checkpoints")
    )
    return spark


def _local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """DataFrame of driver-side ``rows`` under the DDL schema ``ddl``.

    Built as a pandas frame and shipped as one Arrow table typed by
    ``ddl`` (struct values as dicts), so Spark scans it in the JVM. A
    list of tuples would go through ``parallelize`` instead, and every
    scan of it (each broadcast included) would run Python tasks; so
    would an empty pandas frame, which ``createDataFrame`` converts
    without Arrow. Empty ``rows`` give an empty frame of the same
    schema."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = DataType.fromDDL(ddl)
    pdf = pd.DataFrame.from_records(rows, columns=schema.fieldNames())
    table = pa.Table.from_pandas(
        pdf, schema=to_arrow_schema(schema), preserve_index=False
    )
    return spark.createDataFrame(table, schema)
