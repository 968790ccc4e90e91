"""Spark Connect compatibility shims.

Classic PySpark exposes driver-side JVM handles (``spark.sparkContext``,
``spark._jvm``, ``df.rdd``, ``df._jdf``) that Spark Connect's thin
client does not have. Most of this package is pure DataFrame API and
runs unchanged under Connect; the handful of sites that touch a
non-Connect surface route through this module so each has ONE guarded
fallback, testable in isolation (the sandbox has no grpc, so the
fallbacks are exercised by forcing the primary accessor to raise — the
same failure shape Connect produces, ``PySparkAttributeError`` /
``AttributeError``).

The full support matrix lives in ``CONNECT.md`` at the repo root.

Design rule: the fallback must be CHEAP (a conf read, a metadata call)
— never a job. Where no cheap equivalent exists the fallback returns a
conservative answer and the call site documents the consequence (e.g.
``num_scan_partitions`` returning 1 makes the shingle spreader
repartition, which is correct-but-possibly-redundant, never wrong).
"""

from __future__ import annotations

import contextlib
import io as _io

from pyspark.sql import DataFrame, SparkSession


def is_connect(spark: SparkSession) -> bool:
    """True when ``spark`` is a Spark Connect session (no JVM handles).

    Connect sessions raise ``PySparkAttributeError`` on
    ``sparkContext`` access; classic sessions return the live context.
    """
    try:
        spark.sparkContext
        return False
    except Exception:
        return True


def default_parallelism(spark: SparkSession) -> int:
    """``sc.defaultParallelism``, or a conf-derived stand-in on Connect.

    Connect fallback order: ``spark.default.parallelism`` (set on real
    clusters), then ``spark.sql.shuffle.partitions`` (always present;
    may be ``'auto'`` under Databricks AQE), then 200 (Spark's shipped
    shuffle default). All are conf reads — no job, no JVM handle.
    """
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        pass
    for key in ("spark.default.parallelism", "spark.sql.shuffle.partitions"):
        try:
            raw = spark.conf.get(key)
            if raw is not None:
                return int(raw)
        except Exception:
            continue
    return 200


def num_scan_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical scan, for spread guards.

    Classic: ``df.rdd.getNumPartitions()`` (exact, metadata-only).
    Connect: ``len(df.inputFiles())`` when the relation is file-backed
    — a LOWER bound on scan partitions (maxPartitionBytes can split a
    file, never merge across this count... splits only ADD partitions),
    so a guard of the form ``num_scan_partitions(df) < target`` can
    only err toward repartitioning, which costs one exchange but is
    never wrong. Non-file relations on Connect return 1 (force the
    spread) — the conservative answer for the small-input pathologies
    these guards exist to fix.
    """
    try:
        return df.rdd.getNumPartitions()
    except Exception:
        pass
    try:
        files = df.inputFiles()
        if files:
            return len(files)
    except Exception:
        pass
    return 1


def master_url(spark: SparkSession) -> str:
    """``sc.master``, or ``spark.master`` conf, or '' on Connect.

    Used only to detect single-JVM ``local``/``local[...]`` masters for
    driver-heap sizing checks; Connect is by definition not a
    single-JVM local master from the client's perspective, so '' (check
    skipped) is the correct degradation.
    """
    try:
        return spark.sparkContext.master
    except Exception:
        pass
    try:
        return spark.conf.get("spark.master", "") or ""
    except Exception:
        return ""


def jvm_max_heap_bytes(spark: SparkSession) -> int:
    """Driver JVM -Xmx via Runtime.maxMemory, 0 when unreachable.

    0 disables heap-vs-workload sizing checks — on Connect the driver
    JVM is remote and its heap is not the client's concern.
    """
    try:
        return int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
    except Exception:
        return 0


def ensure_checkpoint_dir(spark: SparkSession, path: str) -> None:
    """Set a reliable-checkpoint dir when none is configured.

    Classic: ``sc.setCheckpointDir``. Connect: ``df.checkpoint()`` is
    supported (Spark >= 4.0) but the dir is a SERVER-side setting
    (``spark.checkpoint.dir`` in the remote session's conf) — the
    client cannot set it after server start, so this is a no-op there;
    ``localCheckpoint`` (what the iterative operators actually use)
    needs no dir on either runtime.
    """
    try:
        sc = spark.sparkContext
    except Exception:
        return
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(path)


def formatted_plan_string(df: DataFrame) -> str:
    """The ``explain('formatted')`` text as a string on both runtimes.

    Classic: through the JVM queryExecution handle (no stdout games).
    Connect: ``df.explain()`` is supported — it prints the server-side
    plan to stdout; capture it. Same text either way, so the plan
    assertions in ``plans/inspect.py`` hold on both runtimes.
    """
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
    except Exception:
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()


def concurrent_map_ordered(fn, items, max_workers: int = 3):
    """Run ``fn`` over ``items`` from a small driver thread pool,
    returning results in input order (spark_optimization_guide §2.6:
    independent actions submitted concurrently back-fill executors
    freed by each job's straggler tail; 2-3 in flight is enough).

    Each item's computation is unchanged — only job SUBMISSION
    overlaps — so results are bit-identical to the sequential loop.
    Used by the sweep-family operators (eps_sweep,
    kmember_search_quantized),
    whose per-configuration bodies are many small dependent jobs:
    overlapping two or three configurations hides the per-job driver
    and stage-scheduling latency that dominates them at any scale.
    Falls back to a plain loop for a single item (or worker)."""
    items = list(items)
    if len(items) <= 1 or max_workers <= 1:
        return [fn(it) for it in items]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(
        max_workers=min(max_workers, len(items))
    ) as pool:
        return list(pool.map(fn, items))
