"""Event-time window aggregations over the ``events`` table (batch).

The reference has no streaming surface (SURVEY.md §2.8); these are the
batch forms — tumbling / sliding via ``F.window``, sessionization via
``F.session_window`` — with Structured Streaming wrappers in
``dbscan_pyspark_spark.streaming``. All aggregation is built-in windowed
groupBy: map-side partial aggs, event-time partitioning, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_agg(
    events: DataFrame,
    duration: str = "1 hour",
    ts_col: str = "ts",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-window (and optional per-key) count + value sum.

    DataFrame(window_start, [group_cols...], n_events, sum_value).
    sum_value is decimal-cast before the sum so it is exact and
    order-independent (float sums are neither).
    """
    keys = [F.window(ts_col, duration)] + [F.col(c) for c in (group_cols or [])]
    return (
        events.groupBy(*keys)
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


def sliding_agg(
    events: DataFrame,
    duration: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window count/sum: each event lands in duration/slide windows."""
    return (
        events.groupBy(F.window(ts_col, duration, slide))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def rollup_cascade(
    events: DataFrame,
    durations: tuple[str, ...] = ("1 minute", "1 hour", "1 day"),
    ts_col: str = "ts",
) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: aggregate the raw
    events ONCE at the finest grain, then re-aggregate each coarser
    grain from the previous grain's output instead of rescanning raw.

    At 100 TB this is the difference between one full scan plus a few
    tiny re-aggregations (the minute table is ~6 orders of magnitude
    smaller than raw) and one full scan *per grain*. Only re-aggregable
    measures ride the cascade (count -> sum of counts, decimal sum ->
    sum of sums — both exact), so every grain is bit-identical to
    aggregating raw directly; the oracle checks exactly that.

    Returns the union of all grains:
    DataFrame(grain, window_start, n_events, sum_value).
    """
    finest = durations[0]
    level = (
        events.groupBy(F.window(ts_col, finest).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )
    out = level.select(
        F.lit(finest).alias("grain"), "window_start", "n_events", "sum_value"
    )
    for dur in durations[1:]:
        # coarser grain from the previous grain's rows — counts and
        # decimal sums re-aggregate exactly (window starts align because
        # each coarser duration is a multiple of the finer one)
        level = (
            level.groupBy(F.window("window_start", dur).alias("w"))
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").cast("decimal(18,4)").alias("sum_value"),
            )
            .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        )
        out = out.unionByName(
            level.select(
                F.lit(dur).alias("grain"), "window_start", "n_events", "sum_value"
            )
        )
    return out


def session_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Per-user sessions with the given inactivity gap.

    DataFrame(user_id, session_start, n_events, sum_value). Built on
    ``session_window`` (merging windowed state), the same operator the
    streaming wrapper uses with a watermark.
    """
    return (
        events.groupBy(F.session_window(ts_col, gap), F.col(user_col))
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


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered multi-step funnel: users reaching each step IN ORDER.

    A user reaches step i+1 iff they have an event of type ``steps[i+1]``
    strictly after their earliest qualifying step-i time. Returns
    DataFrame(step int, event_type, n_users), one row per step.

    Shape: one conditional min-aggregation per step, each joined to the
    previous step's (user, time) frontier. Each step's scan reads only
    its own event-type sliver (the equality predicate pushes to the
    parquet scan), every shuffle is keyed on ``user_col`` so the
    per-step join and groupBy share one partitioning, and the frontier
    DataFrames are one row per surviving user, shrinking monotonically —
    at 100 TB only type-filtered slivers are read and only user-keyed
    frontiers flow between steps.
    """
    times = funnel_user_times(
        events, steps, user_col=user_col, ts_col=ts_col, type_col=type_col
    )
    out = None
    for i, step in enumerate(steps):
        row = times.agg(
            F.count(F.col(f"t{i + 1}")).alias("n_users")
        ).select(
            F.lit(i + 1).alias("step"),
            F.lit(step).alias("event_type"),
            "n_users",
        )
        out = row if out is None else out.unionAll(row)
    return out


def funnel_user_times(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user funnel step times: DataFrame(user, t1..tn).

    ``t_i`` is the user's earliest step-i event strictly after their
    ``t_{i-1}`` (NULL once a step is missed — and all later steps stay
    NULL by construction). One row per user who reached step 1. This is
    the relation conversion-delay and drop-off analyses read;
    :func:`funnel` is its per-step count summary. Same execution shape
    as the counts-only form: per-step type-sliver scans and user-keyed
    frontier joins.
    """
    ev = events.select(user_col, ts_col, type_col).where(
        F.col(type_col).isin(list(steps))
    )
    frontiers: list[DataFrame] = []
    frontier = None
    for step in steps:
        cur = ev.where(F.col(type_col) == step)
        if frontier is None:
            frontier = cur.groupBy(user_col).agg(F.min(ts_col).alias("_t"))
        else:
            frontier = (
                cur.join(frontier.select(user_col, "_t"), user_col)
                .where(F.col(ts_col) > F.col("_t"))
                .groupBy(user_col)
                .agg(F.min(ts_col).alias("_t"))
            )
        frontiers.append(frontier)
    out = frontiers[0].select(user_col, F.col("_t").alias("t1"))
    for i, fr in enumerate(frontiers[1:], start=2):
        out = out.join(
            fr.select(user_col, F.col("_t").alias(f"t{i}")), user_col, "left"
        )
    return out


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention triangle.

    Cohort = the Monday-truncated week of a user's first event; for every
    (cohort_week, week_offset) pair, how many of that cohort's users were
    active offset weeks later. Returns
    DataFrame(cohort_week, week_offset int, n_users).

    The (user, week) activity relation is distinct-reduced FIRST — after
    that every operand is at most |users| * |weeks| rows regardless of
    raw event volume, and both the cohort min-agg and the join key on
    ``user_col`` reuse one partitioning.
    """
    weeks = events.select(
        F.col(user_col),
        F.date_trunc("week", F.col(ts_col)).cast("date").alias("_wk"),
    ).distinct()
    cohort = weeks.groupBy(user_col).agg(F.min("_wk").alias("_cohort"))
    return (
        weeks.join(cohort, user_col)
        .groupBy(
            F.col("_cohort").alias("cohort_week"),
            (F.datediff(F.col("_wk"), F.col("_cohort")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def transition_counts(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every consecutive (prev → next) event-type pair,
    the count and its share of all transitions.

    Ordering inside a user is (ts, *order_cols) so simultaneous events
    have a deterministic sequence. Returns
    DataFrame(prev_type, next_type, n, share) — share rounded to 6
    digits (exact integer division, identical in any engine).

    Scale shape: one shuffle to sequence each user's events (window on
    the user key), then a partial-aggregatable groupBy on the ~|types|²
    transition key. The share denominator is an unpartitioned window
    over that ALREADY-AGGREGATED relation — a single-task pass over
    ~|types|² rows, bounded by the type vocabulary, never the events.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, *order_cols)
    pairs = (
        events.select(
            F.col(user_col),
            F.col(ts_col),
            *[F.col(c) for c in order_cols],
            F.col(type_col).alias("next_type"),
            F.lag(type_col).over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(Window.partitionBy())
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / total, 6).alias("share"),
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    attr_cols: list[str],
    order_cols: tuple[str, ...] = (),
    dedup_unchanged: bool = True,
) -> DataFrame:
    """Slowly-changing-dimension Type 2 builder: collapse a change
    stream into validity intervals.

    Input: one row per observed state (key, ts, attrs…). Output: one
    row per state RUN — (key, *attrs, valid_from, valid_to, is_current)
    where ``valid_to`` is the next run's start (exclusive) or null for
    the current run. With ``dedup_unchanged`` (default), consecutive
    rows whose ``attr_cols`` are all unchanged extend the run instead
    of opening a new interval (the classic SCD2 compaction).

    Scale shape: two windows over the same (key × time) ordering — one
    partitioning, one sort, reused by both the change-detection lag and
    the interval lead; then a filter. Nothing but the change rows
    survive to the output.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    if dedup_unchanged:
        changed = F.lit(False)
        for c in attr_cols:
            prev = F.lag(c).over(w)
            # null-safe inequality: open a new run when the value (or
            # its null-ness) differs from the previous row's
            changed = changed | ~F.col(c).eqNullSafe(prev)
        # row 1 detection must not key off lag(ts) being null — a NULL
        # ts VALUE in row 1 would make row 2 spuriously open a run
        first = F.row_number().over(w) == 1
        runs = df.withColumn("_new_run", (first | changed).cast("int"))
        runs = runs.where(F.col("_new_run") == 1)
    else:
        runs = df
    w2 = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    out = runs.select(
        F.col(key_col),
        *[F.col(c) for c in attr_cols],
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    )
    return out.withColumn("is_current", F.col("valid_to").isNull())


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Gaps-and-islands: merge overlapping-or-touching intervals per key.

    Classic cumulative-max formulation: an interval opens a new island
    iff its start exceeds the running max end of everything before it
    (within the key, ordered by start then end); the island id is the
    running count of such openings. Returns
    DataFrame(key, island, island_start, island_end, n_intervals) —
    ``island`` is 1-based in first-start order. Touching intervals
    (start == previous end) merge.

    Scale shape: one exchange on the key for the two stacked windows
    (same partitioning+ordering, so Spark plans ONE sort), then a
    partial-aggregatable groupBy on (key, island).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(start_col, end_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = (
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end)
    ).cast("int")
    with_island = df.select(
        F.col(key_col),
        F.col(start_col),
        F.col(end_col),
        F.sum(new_island)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    return with_island.groupBy(key_col, "island").agg(
        F.min(start_col).alias("island_start"),
        F.max(end_col).alias("island_end"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_cols: list[str],
    step: str = "5 minutes",
    agg: str = "last",
) -> DataFrame:
    """Time-grid resampling with forward fill — the pandas
    ``resample().ffill()`` shape as a distributed relation.

    Per key: snap observations onto a fixed grid (``step``), keep one
    value per bucket (``agg`` = 'last' by (ts, value) order or 'max' /
    'min' / 'avg'), generate the key's full grid between its first and
    last bucket (``sequence`` + ``explode`` — no driver loop), and
    forward-fill gaps with ``last_value IGNORE NULLS``. Returns
    DataFrame(key, bucket_ts, <value_cols…>) — a dense, regular series
    per key, the shape downstream feature pipelines and charting want.

    Scale shape: one groupBy on (key, bucket) for bucket aggregation;
    the grid explode is per-key (span/step rows); one window per key
    ordered by bucket for the fill. The dense grid is the OUTPUT size —
    nothing larger is shuffled.
    """
    from pyspark.sql import Window

    if agg not in ("last", "max", "min", "avg"):
        raise ValueError(f"unsupported agg {agg!r}")
    bucket = F.window(F.col(ts_col), step)["start"].alias("_bucket")
    if agg == "last":
        aggs = [
            F.max(F.struct(F.col(ts_col), F.col(c)))[c].alias(c)
            for c in value_cols
        ]
    else:
        fn = {"max": F.max, "min": F.min, "avg": F.avg}[agg]
        aggs = [fn(c).alias(c) for c in value_cols]
    per_bucket = df.groupBy(F.col(key_col), bucket).agg(*aggs)

    spans = per_bucket.groupBy(key_col).agg(
        F.min("_bucket").alias("_lo"), F.max("_bucket").alias("_hi")
    )
    grid = spans.select(
        key_col,
        F.explode(
            F.sequence("_lo", "_hi", F.expr(f"INTERVAL {step}"))
        ).alias("_bucket"),
    )
    joined = grid.join(per_bucket, [key_col, "_bucket"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = joined.select(
        key_col,
        F.col("_bucket").alias("bucket_ts"),
        *[
            F.last(F.col(c), ignorenulls=True).over(w).alias(c)
            for c in value_cols
        ],
    )
    return filled


def throttle_dedup(
    events: DataFrame,
    min_gap_seconds: int = 300,
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = ("event_id",),
    keep_col: str = "is_kept",
) -> DataFrame:
    """Debounce-style event dedup: flag events that fire less than
    ``min_gap_seconds`` after the PREVIOUS event of the same key
    (lag-based, so it is SQL-replicable; a kept-state throttle — gap
    measured from the last *kept* event — is inherently sequential and
    belongs to the streaming `transformWithState` surface instead).

    Adds ``keep_col`` (boolean; first event of a key is always kept —
    lag is null there, which must not clamp to dropped). One window
    shuffle on the key, partition cardinality scales with keys."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(ts_col, *order_cols)
    prev = F.lag(F.col(ts_col)).over(w)
    # interval arithmetic, NOT epoch-seconds casts: timestamps carry
    # microseconds, and cast("long") truncates them (a 299.4 s gap
    # would flip engines: truncated 300 vs exact 299.4)
    keep = prev.isNull() | (
        F.col(ts_col)
        >= prev + F.expr(f"INTERVAL {int(min_gap_seconds)} SECONDS")
    )
    return events.withColumn(keep_col, keep)


def _ewma_fold(vals, alpha: float, n: int = 0, ew: float | None = None):
    """The state ``(n, ewma)`` after folding ``vals``, in order, into
    ``(n, ew)`` by ``e <- alpha*v + (1-alpha)*e`` (the first value seeds
    ``e``): the one recurrence of ``user_ewma(method='exact')`` and
    ``streaming_user_ewma``. Callers drop NULL values first."""
    for v in vals:
        v = float(v)
        ew = v if ew is None else alpha * v + (1.0 - alpha) * ew
        n += 1
    return n, ew


def user_ewma(
    events: DataFrame,
    alpha: float = 0.5,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
    method: str = "pandas",
) -> DataFrame:
    """Batch per-user exponentially-weighted moving average: the final
    ``e <- alpha*v + (1-alpha)*e`` state over each user's events in
    (ts, order_cols) order. DataFrame(user_col, n_events, ewma).

    The recurrence is order-dependent, so no built-in aggregate
    expresses it — one shuffle on the user key, then an Arrow-batched
    ``applyInPandas`` per group (the batch twin of
    ``streaming/events.py::streaming_user_ewma``, which carries the
    same state across micro-batches).

    ``method``:
    - ``'pandas'`` (default): vectorized ``Series.ewm(alpha,
      adjust=False).mean()`` — C-speed, the 100 TB path.
    - ``'exact'``: explicit multiply-add loop in the SAME operation
      order as a per-row SQL replay, so the result hash-matches a
      DuckDB recursive-CTE oracle bit-for-bit (`events_user_ewma` —
      fifth iterative family with an exact oracle). ~10x slower per
      row; both methods agree to float rounding (pinned in tests).
    """
    import pandas as pd

    if method not in ("pandas", "exact"):
        raise ValueError(f"method must be 'pandas' or 'exact', got {method!r}")

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # null values carry no signal: drop them BEFORE the recurrence,
        # so the two methods and the SQL oracle agree (a NaN would
        # poison the exact loop forever, while pandas ewm would skip it
        # with decayed weights and SQL arithmetic would yield NULL —
        # three different answers). A user with no non-null values
        # emits nothing.
        pdf = pdf[pdf[value_col].notna()]
        if len(pdf) == 0:
            return pd.DataFrame(
                {user_col: [], "n_events": [], "ewma": []}
            )
        pdf = pdf.sort_values([ts_col, *order_cols])
        vals = pdf[value_col].astype("float64")
        if method == "pandas":
            ew = float(vals.ewm(alpha=alpha, adjust=False).mean().iloc[-1])
        else:
            _, ew = _ewma_fold(vals, alpha)
        return pd.DataFrame(
            {
                user_col: [pdf[user_col].iloc[0]],
                "n_events": [len(pdf)],
                "ewma": [ew],
            }
        )

    user_dtype = dict(events.dtypes)[user_col]
    return events.groupBy(user_col).applyInPandas(
        fn, f"{user_col} {user_dtype}, n_events long, ewma double"
    )


def point_in_time_join(
    facts: DataFrame,
    dim: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left",
) -> DataFrame:
    """Temporal-validity (point-in-time) join: attach to each fact row
    the dimension row whose interval covered the fact's timestamp —
    ``valid_from <= ts < valid_to`` (null ``valid_to`` = still
    current). The feature-store / SCD2-lookup join: bitemporal
    correctness without leakage from future states.

    Scale shape: an equi-join on the key with the interval predicate as
    join residual — both sides hash-partition on the key, and the
    per-key interval set is small (one row per STATE RUN, not per
    event), so the residual evaluates over key-local candidates only;
    no range explosion, no broadcast requirement. SCD2 intervals are
    non-overlapping by construction, so at most one dimension row
    matches — row counts are preserved on the left side.
    """
    # qualify BOTH sides: unqualified F.col() would be ambiguous when
    # the facts side already carries valid_from/valid_to (e.g. the
    # output of a previous PIT lookup fed into a second one)
    d = dim.select(
        F.col(key_col).alias("_pit_k"),
        *[c for c in dim.columns if c != key_col],
    )
    cond = (
        (d["_pit_k"] == facts[key_col])
        & (d[valid_from] <= facts[ts_col])
        & (d[valid_to].isNull() | (facts[ts_col] < d[valid_to]))
    )
    return facts.join(d, cond, how).drop(d["_pit_k"])
