"""Structured Streaming wrappers over the batch event-window operators.

The reference has no streaming at all (SURVEY.md §2.8); this layer makes
the batch semantics of ``operators/events.py`` incremental: the same
``window``/``session_window`` aggregations run under a watermark so
state is bounded and late data inside the watermark still lands in its
window. Tested with file sources + memory sinks (tests/test_streaming.py);
in production the source is Kafka/files and the sink a Delta/parquet
table — only ``readStream``/``writeStream`` endpoints change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, fmt: str = "json", max_files_per_trigger: int = 10
) -> DataFrame:
    """File-based event stream (the simplest exactly-once source)."""
    return (
        spark.readStream.format(fmt)
        .schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def streaming_tumbling_agg(
    events: DataFrame,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling count/sum — append-mode capable: a window
    closes (and emits exactly once) when the watermark passes its end."""
    keys = [F.window(ts_col, duration)] + [F.col(c) for c in (group_cols or [])]
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            *(group_cols or []),
            "n_events",
            "sum_value",
        )
    )


def streaming_exact_dedup(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival of each key within
    the watermark horizon (``dropDuplicatesWithinWatermark``) — state is
    bounded by the watermark instead of growing forever, which is the
    only dedup shape that survives an unbounded stream."""
    keys = key_cols or ["event_id"]
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_user_ewma(
    events: DataFrame,
    alpha: float = 0.5,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user exponentially-weighted moving average of ``value``.

    The EWMA recurrence (``e <- alpha*v + (1-alpha)*e`` in event-time
    order) is order-dependent — no watermarked windowed aggregation can
    express it — so this is the genuine custom-state path: Arrow-batched
    per-group pandas transitions with the (count, ewma) state carried
    across micro-batches by the state store. Emits one updated row per
    user per micro-batch (output mode ``update``).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        n, ew = state.get if state.exists else (0, None)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # tie-break equal timestamps by event_id where available:
        # the fold is order-dependent, and an unstable sort on a
        # tied key would make results depend on arrival order
        _ord = [ts_col] + (["event_id"] if "event_id" in pdf.columns else [])
        pdf = pdf.sort_values(_ord)
        for v in pdf[value_col]:
            v = float(v)
            ew = v if ew is None else alpha * v + (1.0 - alpha) * ew
            n += 1
        if ew is not None:
            state.update((n, float(ew)))
            yield pd.DataFrame(
                {user_col: [key[0]], "n_events": [n], "ewma": [float(ew)]}
            )

    # derive the key column's type so string/int user ids work (same
    # generality fix as streaming_funnel)
    user_dtype = dict(events.dtypes)[user_col]
    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=f"{user_col} {user_dtype}, n_events long, ewma double",
        stateStructType="n long, ewma double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    upper: str = "1 hour",
    left_watermark: str = "2 hours",
    right_watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left event
    with right events of the same key whose timestamp falls in
    ``[left.ts, left.ts + upper]``.

    Both the per-side watermarks AND the time-range join condition are
    load-bearing: together they bound the join state the engine must
    retain (a side can discard buffered rows once the other side's
    watermark passes the interval), which is what makes this run
    indefinitely on unbounded streams. Without the range bound Spark
    would keep every row forever. Append-mode output; ``how`` may be
    ``'inner'`` or a watermark-side outer join (``'leftOuter'``).
    """
    l = left.withWatermark(ts_col, left_watermark).select(
        F.col(key_col),
        F.col(ts_col).alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
        F.col("event_type").alias("l_event_type"),
        F.col("value").alias("l_value"),
    )
    r = right.withWatermark(ts_col, right_watermark).select(
        F.col(key_col).alias("_rk"),
        F.col(ts_col).alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("event_type").alias("r_event_type"),
        F.col("value").alias("r_value"),
    )
    cond = (
        (F.col(key_col) == F.col("_rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, how).drop("_rk")


def streaming_session_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Watermarked sessionization: ``session_window`` state merges as
    events arrive and finalizes once the watermark passes gap-end."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
        .select(
            user_col,
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def streaming_funnel(
    events: DataFrame,
    steps: list[str],
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming ordered funnel via ``applyInPandasWithState``.

    Per-user state is the list of achieved step times; each micro-batch's
    events are applied in event-time order, greedily advancing the
    frontier (step i+1 fires on the first ``steps[i+1]`` event strictly
    after the stored step-i time — identical to the batch
    ``operators.events.funnel_user_times`` recurrence). Emits one
    ``(user, reached, t_first, t_last)`` update per user per batch.

    Semantics note: within a batch events are sorted by event time, so
    ordered (or single-batch) arrival reproduces the batch funnel
    exactly — asserted in the batch-equivalence test. An event arriving
    in a LATER batch with an EARLIER timestamp than an already-achieved
    step cannot rewind the frontier (processing-order semantics, the
    standard streaming trade-off; a watermark-delayed replay would be
    the exactness upgrade).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        times = list(state.get[0]) if state.exists else []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        # tie-break equal timestamps by event_id where available:
        # the fold is order-dependent, and an unstable sort on a
        # tied key would make results depend on arrival order
        _ord = [ts_col] + (["event_id"] if "event_id" in pdf.columns else [])
        pdf = pdf.sort_values(_ord)
        for ts, ty in zip(pdf[ts_col], pdf[type_col]):
            nxt = len(times)
            if (
                nxt < len(steps)
                and steps[nxt] == ty
                and (nxt == 0 or ts > times[-1])
            ):
                times.append(ts)
        if times:
            state.update((list(times),))
            yield pd.DataFrame(
                {
                    user_col: [key[0]],
                    "reached": [len(times)],
                    "t_first": [times[0]],
                    "t_last": [times[-1]],
                }
            )

    # derive the user column's type from the input schema so string /
    # int user ids work, matching the type-agnostic batch operators
    user_dtype = dict(events.dtypes)[user_col]
    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=(
            f"{user_col} {user_dtype}, reached int, t_first timestamp, "
            "t_last timestamp"
        ),
        stateStructType="times array<timestamp>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_enriched(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    dim_cols: list[str] | None = None,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach slowly-changing dimension
    attributes (customer tier, device metadata, …) to a live event
    stream.

    Spark plans a stream-static join as a per-micro-batch join against
    the CURRENT state of the static side — no streaming state is kept,
    so it composes freely with downstream watermarked aggregations. The
    static side should be broadcast-sized (dimension tables are); Spark
    auto-broadcasts under the threshold, which is the right plan at any
    stream volume: each micro-batch is map-side enriched, zero shuffle.

    ``dim_cols`` trims the dimension to the named columns (plus the
    join key) BEFORE the join so only needed attributes ship with the
    broadcast. ``how`` is ``left`` (keep unmatched events, null
    attributes) or ``inner`` (drop them).
    """
    if how not in ("left", "inner"):
        raise ValueError(f"streaming_enriched: how={how!r} not supported")
    if dim_cols is not None:
        dim = dim.select(on, *dim_cols)
    return events.join(F.broadcast(dim), on=on, how=how)


def streaming_materialized_agg(
    agg_stream: DataFrame,
    path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    partition_col: str | None = None,
):
    """Incrementally-maintained materialized aggregate: keep a parquet
    snapshot of a streaming aggregation continuously up to date.

    ``agg_stream`` is any streaming aggregation (e.g.
    ``streaming_tumbling_agg``) whose grouping keys are ``key_cols``.
    Run in UPDATE output mode, each micro-batch emits the NEW TOTALS of
    only the groups that changed — so the sink is a plain keyed
    upsert (:func:`~dbscan_pyspark_spark.sources.io.upsert_parquet`),
    no read-modify-add: replayed batches rewrite the same keys with the
    same values (idempotent, same discipline as the streaming near-dup
    filter's signature store). Downstream readers see a plain parquet
    table — the lakehouse "materialized view" pattern without a table
    format.

    Returns the started StreamingQuery. With ``partition_col`` the
    snapshot is hive-partitioned and each micro-batch rewrites only the
    partitions it touches (dynamic partition overwrite) — at 100 TB of
    history and a day-partitioned snapshot, a micro-batch costs the
    day's partition, not the table.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from dbscan_pyspark_spark.sources.io import upsert_parquet

        if batch_df.isEmpty():
            return
        upsert_parquet(
            batch_df.sparkSession,
            path,
            batch_df,
            key_cols=key_cols,
            partition_col=partition_col,
        )

    return (
        agg_stream.writeStream.outputMode("update")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_kmeans_assign(
    stream: DataFrame,
    centroids: list[tuple[int, list[int]]],
    vec_col: str = "embedding",
    scale: int = 1000,
    out_col: str = "cluster",
) -> DataFrame:
    """Streaming k-means inference: label each arriving vector with its
    nearest centroid from a trained ``kmeans_quantized`` model.

    It runs the batch inference path of
    :func:`~dbscan_pyspark_spark.operators.kmeans.assign_with_model`:
    the same quantize step and row filter (NULL and empty vectors are
    dropped), and the same argmin against the centroid table, which
    joins each micro-batch as one broadcast row. So this is a stateless
    projection — no state store, no shuffle of the stream, composable
    with any downstream watermarked aggregation — and the micro-batch
    labels are bit-identical to what a batch re-run would assign
    (integer arithmetic end to end).
    """
    from dbscan_pyspark_spark.operators.kmeans import _assign, _quantized_rows

    return _assign(
        _quantized_rows(stream, vec_col, scale, "_qv"), centroids, "_qv", out_col
    ).drop("_qv")


def streaming_dbscan_assign(
    stream: DataFrame,
    trained_points: DataFrame,
    labels: DataFrame,
    eps: float,
    sink_path: str,
    checkpoint_dir: str,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
):
    """Streaming DBSCAN inference: classify arriving points against a
    trained clustering and append the labels to a parquet sink.

    ``dbscan_assign`` needs a grid join + per-point argmin aggregation,
    which streaming aggregation modes can't compose freely — so each
    micro-batch runs the BATCH operator via ``foreachBatch`` (the
    trained member relation is static and reused). Append-only sink;
    replayed batches re-emit identical labels (deterministic operator),
    so downstream exact-dedup by id makes redelivery harmless.
    """
    from dbscan_pyspark_spark.operators.dbscan import dbscan_assign

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = dbscan_assign(
            batch_df,
            trained_points,
            labels,
            eps,
            metric=metric,
            features=features,
            id_col=id_col,
        )
        out.write.mode("append").parquet(sink_path)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_user_running_stats(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-user running (count, sum, max) via ``transformWithStateInPandas``
    — the Spark 4 successor to ``applyInPandasWithState`` (SPARK-49564):
    typed per-key state handles (ValueState/ListState/MapState with
    optional TTL), timers, and initial-state seeding, instead of one
    opaque state tuple.

    Emits one updated row per user per micro-batch. Same recurrence the
    batch engine would compute with a groupBy — the test pins
    batch-equivalence under ordered arrival.

    Requirements: the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass`` →
    ``RocksDBStateStoreProvider``) and a working ``google.protobuf``
    (the state protocol is protobuf-serialized). This container's
    protobuf is broken, so the test skips here;
    ``streaming_user_ewma`` is the applyInPandasWithState fallback
    with no extra dependency.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    udtype = dict(events.dtypes)[user_col]

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "stats", "n bigint, s double, mx double"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._st.exists():
                n, s, mx = self._st.get()
            else:
                n, s, mx = 0, 0.0, None
            for pdf in rows:
                vals = pdf[value_col].astype(float)
                n += int(len(vals))
                s += float(vals.sum())
                m = float(vals.max()) if len(vals) else None
                mx = m if mx is None else (m if m is not None and m > mx else mx)
            self._st.update((n, s, mx))
            yield pd.DataFrame(
                {
                    user_col: [key[0]],
                    "n_events": [n],
                    "sum_value": [s],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy(user_col).transformWithStateInPandas(
        RunningStats(),
        outputStructType=(
            f"{user_col} {udtype}, n_events bigint, "
            "sum_value double, max_value double"
        ),
        outputMode="Update",
        timeMode="None",
    )


def streaming_throttle(
    events: DataFrame,
    min_gap_seconds: int = 300,
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Kept-state throttle via ``applyInPandasWithState``: an event is
    emitted iff it fires at least ``min_gap_seconds`` after the last
    EMITTED event of its key — rate limiting / alert suppression
    semantics.

    This is the genuinely sequential variant of the batch
    ``operators.events.throttle_dedup``: the lag-based batch rule
    measures from the previous *event*, this one from the previous
    *kept* event, a recurrence no watermarked window can express —
    hence the custom-state path (state = last emitted timestamp in
    epoch micros, carried across micro-batches). Events are processed
    in (ts, id) order within each micro-batch; cross-batch correctness
    assumes per-key in-order arrival, the usual contract for
    keyed-partitioned sources.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(min_gap_seconds) * 1_000_000

    def fn(key, pdfs, state: GroupState):
        (last,) = state.get if state.exists else (None,)
        # ignore_index: each Arrow chunk arrives with its own 0-based
        # RangeIndex, so without it label-based selection below would
        # collide across chunks (emitting suppressed events) whenever a
        # key exceeds arrow.maxRecordsPerBatch in one micro-batch
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            [ts_col, id_col]
        )
        kept = []
        for idx, ts in zip(pdf.index, pdf[ts_col]):
            us = int(pd.Timestamp(ts).value) // 1000  # ns -> us
            if last is None or us >= last + gap_us:
                last = us
                kept.append(idx)
        if last is not None:
            state.update((int(last),))
        if kept:
            out = pdf.loc[kept, [id_col, ts_col]].copy()
            for c, v in zip(key_cols, key):
                out[c] = v
            yield out[[*key_cols, id_col, ts_col]]

    dtypes = dict(events.dtypes)
    key_schema = ", ".join(f"{c} {dtypes[c]}" for c in key_cols)
    return events.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=(
            f"{key_schema}, {id_col} {dtypes[id_col]}, {ts_col} timestamp"
        ),
        stateStructType="last_kept_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_pit_join(
    facts: DataFrame,
    dim: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Stream-static point-in-time join: enrich a fact STREAM with the
    STATIC dimension row valid at each fact's event time — the online
    half of the feature-store lookup (`operators.events
    .point_in_time_join` is the batch form; this wrapper delegates to
    it, so the interval semantics can never drift).

    Stream-static joins are stateless (each micro-batch joins against
    the static relation; no watermark, no join state), append-mode
    capable, and Catalyst broadcasts the dimension when it is small —
    the standard serving shape for slowly-changing features. For a
    streaming DIMENSION (both sides moving) use foreachBatch over a
    materialized SCD2 table instead: stream-stream joins cannot bound
    interval-validity state.
    """
    from dbscan_pyspark_spark.operators.events import point_in_time_join

    return point_in_time_join(
        facts, dim, key_col=key_col, ts_col=ts_col,
        valid_from=valid_from, valid_to=valid_to, how="left",
    )
