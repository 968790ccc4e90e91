"""Structured Streaming wrappers: file source -> memory sink, results
must match the batch operators on the same data."""

import json
import os
import tempfile

import pytest

from dbscan_pyspark_spark.operators.events import tumbling_agg
from dbscan_pyspark_spark.streaming.events import (
    read_event_stream,
    streaming_session_agg,
    streaming_tumbling_agg,
)

ROWS = [
    {"event_id": 1, "ts": "2024-01-01T00:05:00.000Z", "user_id": 10, "event_type": "click", "value": 1.0, "props": "{}"},
    {"event_id": 2, "ts": "2024-01-01T00:20:00.000Z", "user_id": 10, "event_type": "click", "value": 2.0, "props": "{}"},
    {"event_id": 3, "ts": "2024-01-01T01:05:00.000Z", "user_id": 10, "event_type": "view", "value": 3.0, "props": "{}"},
    {"event_id": 4, "ts": "2024-01-01T00:10:00.000Z", "user_id": 20, "event_type": "click", "value": 4.0, "props": "{}"},
]


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    with open(os.path.join(d, "part1.json"), "w") as f:
        for r in ROWS[:2]:
            f.write(json.dumps(r) + "\n")
    with open(os.path.join(d, "part2.json"), "w") as f:
        for r in ROWS[2:]:
            f.write(json.dumps(r) + "\n")
    # the file source orders micro-batches by modification time; force
    # part1 strictly older so per-file triggers process it first
    import time

    now = time.time()
    os.utime(os.path.join(d, "part1.json"), (now - 60, now - 60))
    os.utime(os.path.join(d, "part2.json"), (now, now))
    return str(d)


def _run_stream(spark, sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_tumbling_matches_batch(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir)
    got = _run_stream(
        spark, streaming_tumbling_agg(stream, "1 hour", "2 hours"), "t_tumble"
    ).collect()
    batch_df = spark.read.json(stream_dir)
    from pyspark.sql import functions as F

    batch_df = batch_df.withColumn("ts", F.to_timestamp("ts"))
    batch = tumbling_agg(batch_df, "1 hour").collect()

    def key(rows):
        return sorted((r["window_start"], r["n_events"], float(r["sum_value"])) for r in rows)

    assert key(got) == key(batch)


def test_streaming_user_ewma_state_across_batches(spark, stream_dir):
    """applyInPandasWithState carries (count, ewma) across micro-batches:
    with one file per trigger, user 10's values arrive 1.0, 2.0 (batch 1)
    then 3.0 (batch 2); alpha=0.5 gives 1.0 -> 1.5 -> 2.25 only if batch
    2 resumed from batch 1's state."""
    from dbscan_pyspark_spark.streaming.events import streaming_user_ewma

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        streaming_user_ewma(stream, alpha=0.5)
        .writeStream.format("memory")
        .queryName("t_ewma")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_ewma").collect()
    final = {}
    for r in rows:
        if r["n_events"] >= final.get(r["user_id"], (0, None))[0]:
            final[r["user_id"]] = (r["n_events"], r["ewma"])
    assert final[10] == (3, 2.25)
    assert final[20] == (1, 4.0)


def test_streaming_interval_join_matches_batch(spark, stream_dir):
    """Stream-stream interval join (clicks -> later same-user events
    within 1 hour) under availableNow triggers must equal the batch
    join on the same files."""
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.streaming.events import streaming_interval_join

    clicks = read_event_stream(spark, stream_dir).where(
        F.col("event_type") == "click"
    )
    others = read_event_stream(spark, stream_dir).where(
        F.col("event_type") != "click"
    )
    joined = streaming_interval_join(clicks, others, upper="1 hour")
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ijoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["l_event_id"], r["r_event_id"])
        for r in spark.sql("SELECT * FROM t_ijoin").collect()
    )

    batch = spark.read.json(stream_dir).withColumn("ts", F.to_timestamp("ts"))
    bl = batch.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_event_id")
    )
    br = batch.where(F.col("event_type") != "click").select(
        F.col("user_id").alias("_rk"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    expected = sorted(
        (r["l_event_id"], r["r_event_id"])
        for r in bl.join(
            br,
            (F.col("user_id") == F.col("_rk"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 hour")),
        ).collect()
    )
    assert got == expected and len(got) > 0


def test_streaming_sessions(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir)
    got = _run_stream(
        spark, streaming_session_agg(stream, "30 minutes", "2 hours"), "t_sess"
    ).collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(by_user[10]) == [1, 2]  # 00:05+00:20 merged; 01:05 alone
    assert by_user[20] == [1]


def test_streaming_funnel_matches_batch(spark, stream_dir):
    """Stateful streaming funnel advanced across micro-batches equals the
    batch funnel_user_times on the same (time-ordered) data: user 10 has
    click@00:05 then view@01:05 in a LATER batch -> reached=2 only if
    the frontier state survived the batch boundary."""
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.operators.events import funnel_user_times
    from dbscan_pyspark_spark.streaming.events import streaming_funnel

    steps = ["click", "view"]
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        streaming_funnel(stream, steps)
        .writeStream.format("memory")
        .queryName("t_funnel")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_funnel").collect()
    final = {}
    for r in rows:
        if r["reached"] >= final.get(r["user_id"], (0,))[0]:
            final[r["user_id"]] = (r["reached"], r["t_first"], r["t_last"])

    batch_df = spark.read.json(stream_dir).withColumn("ts", F.to_timestamp("ts"))
    batch = {
        r["user_id"]: r
        for r in funnel_user_times(batch_df, steps).collect()
    }
    assert set(final) == set(batch)
    for u, (reached, t_first, t_last) in final.items():
        b = batch[u]
        b_reached = sum(1 for c in ("t1", "t2") if b[c] is not None)
        assert reached == b_reached, u
        assert t_first == b["t1"], u


def test_streaming_enriched_matches_batch_and_is_stateless(spark, stream_dir):
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.streaming.events import streaming_enriched

    dim = spark.createDataFrame(
        [(10, "gold"), (30, "bronze")], "user_id long, tier string"
    )
    stream = read_event_stream(spark, stream_dir)
    enriched = streaming_enriched(stream, dim, on="user_id", dim_cols=["tier"])
    q = (
        enriched.writeStream.format("memory")
        .queryName("t_enrich")
        .outputMode("append")           # stateless: append works
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["tier"])
        for r in spark.sql("SELECT * FROM t_enrich").collect()
    }
    batch_df = spark.read.json(stream_dir).withColumn("ts", F.to_timestamp("ts"))
    want = {
        (r["event_id"], r["tier"])
        for r in batch_df.join(dim, "user_id", "left").collect()
    }
    assert got == want
    assert got == {(1, "gold"), (2, "gold"), (3, "gold"), (4, None)}


def test_streaming_enriched_inner_drops_unmatched(spark, stream_dir):
    from dbscan_pyspark_spark.streaming.events import streaming_enriched

    dim = spark.createDataFrame([(10, "gold")], "user_id long, tier string")
    stream = read_event_stream(spark, stream_dir)
    q = (
        streaming_enriched(stream, dim, on="user_id", how="inner")
        .writeStream.format("memory")
        .queryName("t_enrich_inner")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = {r["event_id"] for r in spark.sql("SELECT * FROM t_enrich_inner").collect()}
    assert ids == {1, 2, 3}


def test_streaming_materialized_agg_matches_batch(spark, stream_dir, tmp_path):
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.streaming.events import (
        read_event_stream,
        streaming_materialized_agg,
        streaming_tumbling_agg,
    )

    snap = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = streaming_materialized_agg(
        streaming_tumbling_agg(stream, "1 hour", "2 hours"),
        snap,
        key_cols=["window_start"],
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["n_events"], float(r["sum_value"]))
        for r in spark.read.parquet(snap).collect()
    }
    batch_df = spark.read.json(stream_dir).withColumn("ts", F.to_timestamp("ts"))
    from dbscan_pyspark_spark.operators.events import tumbling_agg

    want = {
        (r["window_start"], r["n_events"], float(r["sum_value"]))
        for r in tumbling_agg(batch_df, "1 hour").collect()
    }
    assert got == want


def test_streaming_materialized_agg_restart_is_idempotent(spark, stream_dir, tmp_path):
    import json
    import os
    import time

    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.operators.events import tumbling_agg
    from dbscan_pyspark_spark.streaming.events import (
        read_event_stream,
        streaming_materialized_agg,
        streaming_tumbling_agg,
    )

    snap = str(tmp_path / "mv2")
    ckpt = str(tmp_path / "ckpt2")

    def run_once():
        stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
        q = streaming_materialized_agg(
            streaming_tumbling_agg(stream, "1 hour", "2 hours"),
            snap,
            key_cols=["window_start"],
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)

    run_once()
    first = sorted(
        (r["window_start"], r["n_events"], float(r["sum_value"]))
        for r in spark.read.parquet(snap).collect()
    )
    # restart against the same checkpoint: no new input -> no change;
    # then a NEW file arrives and only its windows are upserted
    run_once()
    assert sorted(
        (r["window_start"], r["n_events"], float(r["sum_value"]))
        for r in spark.read.parquet(snap).collect()
    ) == first

    extra = {"event_id": 99, "ts": "2024-01-01T02:30:00.000Z",
             "user_id": 30, "event_type": "click", "value": 7.0, "props": "{}"}
    path = os.path.join(stream_dir, "part3.json")
    with open(path, "w") as f:
        f.write(json.dumps(extra) + "\n")
    try:
        run_once()
        got = sorted(
            (r["window_start"], r["n_events"], float(r["sum_value"]))
            for r in spark.read.parquet(snap).collect()
        )
        batch_df = spark.read.json(stream_dir).withColumn(
            "ts", F.to_timestamp("ts")
        )
        want = sorted(
            (r["window_start"], r["n_events"], float(r["sum_value"]))
            for r in tumbling_agg(batch_df, "1 hour").collect()
        )
        assert got == want
    finally:
        os.remove(path)  # stream_dir is module-scoped; leave it clean


def test_streaming_kmeans_assign_matches_batch(spark, tmp_path):
    import json
    import numpy as np

    from dbscan_pyspark_spark.operators.kmeans import (
        assign_with_model,
        kmeans_quantized,
    )
    from dbscan_pyspark_spark.streaming.events import streaming_kmeans_assign

    rng = np.random.default_rng(21)
    vecs = np.concatenate(
        [rng.normal(loc=c, scale=0.1, size=(15, 4)) for c in (0.0, 6.0)]
    )
    train = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    # train batch model, extract centroids by re-deriving them the way
    # kmeans does internally (assignments -> means); here just reuse the
    # op's private init path: run it and rebuild literal centroids from
    # grouped means of the assignment
    assign = kmeans_quantized(train, k=2, n_iter=2)
    from pyspark.sql import functions as F

    joined = train.join(assign, "vec_id")
    cents = []
    for r in (
        joined.groupBy("cluster")
        .agg(*[F.sum(F.round(F.col("embedding")[i] * 1000, 0).cast("long")).alias(f"s{i}") for i in range(4)],
             F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        cents.append((r["cluster"], [r[f"s{i}"] // r["n"] for i in range(4)]))
    cents.sort()

    d = tmp_path / "vecstream"
    d.mkdir()
    rows = [
        {"vec_id": int(1000 + i), "embedding": [float(x) for x in v]}
        for i, v in enumerate(rng.normal(loc=6.0, scale=0.1, size=(5, 4)))
    ]
    # a NULL and an empty embedding: batch inference drops both rows
    rows += [{"vec_id": 2000, "embedding": None}, {"vec_id": 2001, "embedding": []}]
    with open(d / "b1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .json(str(d))
    )
    q = (
        streaming_kmeans_assign(stream, cents)
        .writeStream.format("memory")
        .queryName("t_kassign")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["vec_id"]: r["cluster"] for r in spark.sql("SELECT * FROM t_kassign").collect()}
    # equivalence with batch inference on the same rows
    batch_df = spark.read.json(str(d), schema="vec_id long, embedding array<double>")
    want = {
        r["vec_id"]: r["cluster"]
        for r in assign_with_model(batch_df, cents).collect()
    }
    assert got == want and len(got) == 5
    # all new points sit near the second blob -> one cluster
    assert len(set(got.values())) == 1


def test_streaming_dbscan_assign_matches_batch(spark, tmp_path):
    import json

    from dbscan_pyspark_spark.operators.dbscan import dbscan, dbscan_assign
    from dbscan_pyspark_spark.streaming.events import streaming_dbscan_assign

    train_rows = [(i, [float(i % 3), 0.0]) for i in range(12)] + [
        (100 + i, [50.0 + i % 3, 0.0]) for i in range(12)
    ]
    train = spark.createDataFrame(train_rows, "id long, features array<double>")
    labels = dbscan(train, eps=2.0, min_pts=4).localCheckpoint(eager=True)

    d = tmp_path / "ptstream"
    d.mkdir()
    new_rows = [
        {"id": 500, "features": [1.0, 0.5]},
        {"id": 501, "features": [51.0, 0.2]},
        {"id": 502, "features": [500.0, 500.0]},
    ]
    with open(d / "b1.json", "w") as f:
        for r in new_rows:
            f.write(json.dumps(r) + "\n")
    stream = spark.readStream.schema("id long, features array<double>").json(str(d))
    sink = str(tmp_path / "labsink")
    q = streaming_dbscan_assign(
        stream, train, labels, eps=2.0,
        sink_path=sink, checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    batch_new = spark.read.json(str(d), schema="id long, features array<double>")
    want = sorted(
        map(tuple, dbscan_assign(batch_new, train, labels, eps=2.0).collect())
    )
    assert got == want
    assert {r[0]: r[2] for r in got} == {500: False, 501: False, 502: True}


def test_transform_with_state_running_stats(spark, stream_dir):
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithState state protocol needs protobuf",
    )
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.streaming.events import (
        read_event_stream,
        streaming_user_running_stats,
    )

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        streaming_user_running_stats(stream)
        .writeStream.format("memory")
        .queryName("t_tws")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emitted row per user == batch totals
    rows = spark.sql("SELECT * FROM t_tws").collect()
    last = {}
    for r in rows:  # memory sink appends update rows in batch order
        last[r["user_id"]] = (r["n_events"], r["sum_value"], r["max_value"])
    batch = (
        spark.read.json(stream_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.max("value").alias("m"),
        )
        .collect()
    )
    want = {r["user_id"]: (r["n"], float(r["s"]), float(r["m"])) for r in batch}
    assert last == want


def test_streaming_throttle_kept_state_semantics(spark, tmp_path):
    """Kept-state throttle: events for one key at t=0, 200, 400 s with
    a 300 s gap. The lag-based batch rule would DROP t=400 (only 200 s
    after the previous event); the kept-state rule keeps it (400 s
    after the last KEPT event). t=400 arrives in a second micro-batch,
    so the keep also proves state carried across batches."""
    import json
    import os
    import time

    from dbscan_pyspark_spark.operators.events import throttle_dedup
    from dbscan_pyspark_spark.streaming.events import (
        read_event_stream,
        streaming_throttle,
    )

    d = tmp_path / "throttle_stream"
    d.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00.000Z", "user_id": 10,
         "event_type": "alert", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:03:20.000Z", "user_id": 10,
         "event_type": "alert", "value": 1.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T00:06:40.000Z", "user_id": 10,
         "event_type": "alert", "value": 1.0, "props": "{}"},
    ]
    with open(d / "b1.json", "w") as f:
        for r in rows[:2]:
            f.write(json.dumps(r) + "\n")
    with open(d / "b2.json", "w") as f:
        f.write(json.dumps(rows[2]) + "\n")
    now = time.time()
    os.utime(d / "b1.json", (now - 60, now - 60))
    os.utime(d / "b2.json", (now, now))

    stream = read_event_stream(spark, str(d), max_files_per_trigger=1)
    q = (
        streaming_throttle(stream, min_gap_seconds=300)
        .writeStream.format("memory")
        .queryName("t_throttle")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted(
        r["event_id"] for r in spark.sql("SELECT * FROM t_throttle").collect()
    )
    assert kept == [1, 3]

    # the batch lag-based rule on the same rows keeps only event 1 —
    # the two semantics are intentionally different and both pinned
    from pyspark.sql import functions as F

    batch = spark.read.json(str(d)).withColumn("ts", F.to_timestamp("ts"))
    lag_kept = sorted(
        r["event_id"]
        for r in throttle_dedup(batch, 300).collect()
        if r["is_kept"]
    )
    assert lag_kept == [1]


def test_streaming_throttle_multi_chunk_group(spark, tmp_path):
    """A key larger than arrow.maxRecordsPerBatch arrives as MULTIPLE
    pandas chunks inside one micro-batch; without ignore_index their
    colliding RangeIndex labels made label-based selection emit
    suppressed events (regression test, maxRecordsPerBatch forced to 2).

    Events at t=0,100,200,600,700 s with a 300 s kept-state gap keep
    exactly t=0 and t=600."""
    import json

    from dbscan_pyspark_spark.streaming.events import (
        read_event_stream,
        streaming_throttle,
    )

    d = tmp_path / "throttle_chunks"
    d.mkdir()
    secs = [0, 100, 200, 600, 700]
    with open(d / "b1.json", "w") as f:
        for i, s in enumerate(secs):
            f.write(json.dumps({
                "event_id": i + 1,
                "ts": f"2024-01-01T00:{s // 60:02d}:{s % 60:02d}.000Z",
                "user_id": 10, "event_type": "alert",
                "value": 1.0, "props": "{}",
            }) + "\n")

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        stream = read_event_stream(spark, str(d))
        q = (
            streaming_throttle(stream, min_gap_seconds=300)
            .writeStream.format("memory")
            .queryName("t_throttle_chunks")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    kept = sorted(
        r["event_id"]
        for r in spark.sql("SELECT * FROM t_throttle_chunks").collect()
    )
    assert kept == [1, 4]


def test_streaming_pit_join_matches_batch(spark, stream_dir):
    """Stream-static temporal lookup under availableNow must equal the
    batch point_in_time_join on the same files."""
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.operators.events import point_in_time_join
    from dbscan_pyspark_spark.streaming.events import streaming_pit_join

    import datetime

    base = datetime.datetime(2024, 1, 1)
    dim = spark.createDataFrame(
        [
            (10, "bronze", base, base + datetime.timedelta(minutes=15)),
            (10, "gold", base + datetime.timedelta(minutes=15), None),
            (20, "silver", base, None),
        ],
        "user_id long, tier string, valid_from timestamp, valid_to timestamp",
    )
    stream = read_event_stream(spark, stream_dir).select(
        "event_id", "user_id", "ts"
    )
    q = (
        streaming_pit_join(stream, dim)
        .writeStream.format("memory")
        .queryName("t_pit")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["event_id"], r["tier"])
        for r in spark.sql("SELECT * FROM t_pit").collect()
    )
    batch_facts = (
        spark.read.json(stream_dir)
        .withColumn("ts", F.to_timestamp("ts"))
        .select("event_id", "user_id", "ts")
    )
    expect = sorted(
        (r["event_id"], r["tier"])
        for r in point_in_time_join(batch_facts, dim).collect()
    )
    assert got == expect
    assert any(t is not None for _, t in got)


def test_streaming_drift_monitor_matches_batch_per_microbatch(spark, stream_dir, tmp_path):
    """Each micro-batch's drift rows must equal category_drift(reference,
    that batch's static frame); a replayed batch overwrites its own
    partition instead of appending duplicate verdicts."""
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.operators.pipeline import category_drift
    from dbscan_pyspark_spark.streaming.quality import (
        process_drift_batch,
        streaming_drift_monitor,
    )

    out = str(tmp_path / "drift_out")
    ck = str(tmp_path / "drift_ck")
    reference = spark.read.json(stream_dir)  # full corpus as reference
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = streaming_drift_monitor(stream, reference, "event_type", out, ck)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch_ids = sorted(r["monitor_batch"] for r in got.select("monitor_batch").distinct().collect())
    assert len(batch_ids) == 2  # one per file
    # part1 (older mtime) = ROWS[:2] -> first micro-batch
    parts = {batch_ids[0]: ROWS[:2], batch_ids[1]: ROWS[2:]}
    for bid, rows in parts.items():
        frame = spark.createDataFrame(
            [(r["event_type"],) for r in rows], "event_type string"
        )
        want = {
            (r["value"], r["n_a"], r["n_b"], r["rate_a"], r["rate_b"], r["tvd_term"])
            for r in category_drift(reference, frame, "event_type").collect()
        }
        have = {
            (r["value"], r["n_a"], r["n_b"], r["rate_a"], r["rate_b"], r["tvd_term"])
            for r in got.where(F.col("monitor_batch") == bid).collect()
        }
        assert have == want, bid
    # replay idempotency: re-processing a batch rewrites, never appends
    replay = spark.createDataFrame(
        [(r["event_type"],) for r in ROWS[:2]], "event_type string"
    )
    n_before = got.where(F.col("monitor_batch") == batch_ids[0]).count()
    process_drift_batch(replay, int(batch_ids[0]), reference, "event_type", out)
    n_after = (
        spark.read.parquet(out)
        .where(F.col("monitor_batch") == batch_ids[0])
        .count()
    )
    assert n_after == n_before


def test_streaming_ks_monitor_matches_batch_per_microbatch(
    spark, stream_dir, tmp_path
):
    """Each micro-batch's 1-row KS statistic must equal
    ks_drift(reference, that batch's static frame) — integer-exact, so
    strict equality; a replayed batch overwrites its own partition."""
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.operators.pipeline import ks_drift
    from dbscan_pyspark_spark.streaming.quality import (
        process_ks_batch,
        streaming_ks_monitor,
    )

    out = str(tmp_path / "ks_out")
    ck = str(tmp_path / "ks_ck")
    reference = spark.read.json(stream_dir)
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = streaming_ks_monitor(stream, reference, "user_id", out, ck)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch_ids = sorted(
        r["monitor_batch"]
        for r in got.select("monitor_batch").distinct().collect()
    )
    assert len(batch_ids) == 2  # one per file
    parts = {batch_ids[0]: ROWS[:2], batch_ids[1]: ROWS[2:]}
    for bid, rows in parts.items():
        frame = spark.createDataFrame(
            [(r["user_id"],) for r in rows], "user_id long"
        )
        want = [
            (r["ks_num"], r["n_a"], r["n_b"], r["ks_stat"])
            for r in ks_drift(reference, frame, "user_id").collect()
        ]
        have = [
            (r["ks_num"], r["n_a"], r["n_b"], r["ks_stat"])
            for r in got.where(F.col("monitor_batch") == bid).collect()
        ]
        assert have == want, bid
    # replay idempotency: re-processing a batch rewrites, never appends
    replay = spark.createDataFrame(
        [(r["user_id"],) for r in ROWS[:2]], "user_id long"
    )
    process_ks_batch(replay, int(batch_ids[0]), reference, "user_id", out)
    assert (
        spark.read.parquet(out)
        .where(F.col("monitor_batch") == batch_ids[0])
        .count()
        == 1
    )
    # a non-empty batch whose monitored column is all null is SKIPPED
    # (no partition written) instead of killing the stream with
    # ks_drift's empty-side ValueError (r6 review)
    allnull = spark.createDataFrame([(None,), (None,)], "user_id long")
    process_ks_batch(allnull, 999, reference, "user_id", out)
    assert (
        spark.read.parquet(out).where(F.col("monitor_batch") == 999).count()
        == 0
    )


def test_streaming_expectations_gate(spark, stream_dir, tmp_path):
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.streaming.quality import streaming_expectations

    out = str(tmp_path / "exp_out")
    ck = str(tmp_path / "exp_ck")
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = streaming_expectations(
        stream,
        [
            ("not_null", "user_id"),
            ("accepted_values", "event_type", ["click", "view"]),
            ("in_range", "value", 0, 3),   # value=4.0 violates in batch 2
            ("unique", "event_id"),
        ],
        out,
        ck,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 8  # 4 rules x 2 micro-batches
    # every batch passes the null/type gates
    assert got.where(
        (F.col("rule") != "in_range:value") & ~F.col("passed")
    ).count() == 0
    # the range break (value=4.0, ROWS[3]) is flagged in exactly one batch
    bad = got.where((F.col("rule") == "in_range:value") & ~F.col("passed")).collect()
    assert len(bad) == 1 and bad[0]["violations"] == 1


# -------------------------------------------- watermark late-data semantics


def _batched_dir(tmp_path, *batches):
    """One json file per batch with strictly ordered mtimes: with
    max_files_per_trigger=1 the file source processes them as
    micro-batches in mtime order."""
    import time

    d = tmp_path / "late_stream"
    d.mkdir()
    now = time.time()
    for i, rows in enumerate(batches):
        p = d / f"b{i}.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        t = now - 60 * (len(batches) - i)
        os.utime(p, (t, t))
    return str(d)


def _ev(event_id, ts, user_id=1, event_type="click", value=1.0):
    return {
        "event_id": event_id,
        "ts": ts,
        "user_id": user_id,
        "event_type": event_type,
        "value": value,
        "props": "{}",
    }


def test_streaming_tumbling_append_drops_late_event(spark, tmp_path):
    """Watermark late-data DROP, end-to-end in append mode. Eviction
    timing matters: the window's state is flushed at the end of the
    first batch whose (start-of-batch) watermark exceeds the window
    end, so the genuinely-late event must arrive in a LATER batch —
    batch 0 fills window [10:00, 11:00) and advances the max event
    time, batch 1 runs with watermark 11:30 (closing and emitting the
    window), batch 2 delivers an event inside the closed window with
    event-time far below the watermark. The late event must be
    excluded: no second emission for the window, count unchanged. (Had
    it NOT been dropped it would re-create state for the closed window
    and append a second n_events=1 row at the next eviction check.)"""
    d = _batched_dir(
        tmp_path,
        # window [10:00, 11:00) gets 2 events; 13:30 sets max event
        # time, so the NEXT batch runs with watermark 11:30 > 11:00
        [
            _ev(1, "2024-01-01 10:00:00"),
            _ev(2, "2024-01-01 10:20:00"),
            _ev(3, "2024-01-01 13:30:00"),
        ],
        # on-time filler: the closed window flushes during this batch
        [_ev(4, "2024-01-01 13:40:00")],
        # genuinely late: event-time 10:15 < watermark 11:40
        [_ev(5, "2024-01-01 10:15:00")],
    )
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    q = (
        streaming_tumbling_agg(stream, "1 hour", "2 hours")
        .writeStream.format("memory")
        .queryName("t_late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_late_drop").collect()
    ten = [r for r in rows if r["window_start"].hour == 10]
    # exactly one emission for the closed window, counting ONLY the two
    # on-time events — the late event_id=5 left no trace
    assert len(ten) == 1 and ten[0]["n_events"] == 2, rows
    # and the 13:00 window never closed (watermark never passed 14:00),
    # so append emitted nothing for it
    assert all(r["window_start"].hour == 10 for r in rows), rows


def test_streaming_dedup_drops_late_duplicate(spark, tmp_path):
    """dropDuplicatesWithinWatermark contract: a duplicate key arriving
    in a LATER micro-batch — while the first arrival's timestamp is
    still within the watermark horizon — is excluded; fresh keys pass.
    The kept subset equals the batch exact-dedup twin on the same
    rows."""
    d = _batched_dir(
        tmp_path,
        [_ev(1, "2024-01-01 10:00:00"), _ev(2, "2024-01-01 13:30:00")],
        # batch 2: late re-delivery of event_id=1 plus a fresh event.
        # Watermark after batch 1 is 11:30 < 10:00 + 2h, so id=1's
        # dedup state is contractually still alive -> must drop.
        [
            _ev(1, "2024-01-01 10:00:00"),
            _ev(5, "2024-01-01 13:45:00"),
        ],
    )
    from dbscan_pyspark_spark.streaming.events import streaming_exact_dedup

    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    q = (
        streaming_exact_dedup(stream, ["event_id"], watermark="2 hours")
        .writeStream.format("memory")
        .queryName("t_late_dup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_late_dup").collect()
    got = sorted(r["event_id"] for r in rows)
    assert got == [1, 2, 5], got  # id=1 exactly once: replay excluded
    # batch twin over the union of both files keeps the same key set
    batch = spark.read.json(d).dropDuplicates(["event_id"])
    assert sorted(r["event_id"] for r in batch.collect()) == got


# ------------------------------------------ streaming heavy hitters (MG)


def test_streaming_heavy_hitters_bound_and_replay(spark, tmp_path):
    """A running Misra-Gries sketch across micro-batches: the planted
    hot key survives every merge with its lower bound within
    n_total/(k+1) of the exact count, the null row accumulates the
    exact total, and replaying a batch rewrites its snapshot
    bit-for-bit (idempotent foreachBatch)."""
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.streaming.quality import (
        heavy_hitters_snapshot,
        process_heavy_hitters_batch,
        streaming_heavy_hitters,
    )

    def mk(n_hot, others, t0):
        rows = [_ev(1000 + i, t0, event_type="hot") for i in range(n_hot)]
        rows += [
            _ev(2000 + i, t0, event_type=t) for i, t in enumerate(others)
        ]
        return rows

    tail = ["click", "view", "error", "signup", "purchase"]
    b0 = mk(30, tail * 2, "2024-01-01 10:00:00")
    b1 = mk(25, tail * 3, "2024-01-01 11:00:00")
    b2 = mk(20, tail * 2, "2024-01-01 12:00:00")
    d = _batched_dir(tmp_path, b0, b1, b2)
    store = str(tmp_path / "hh_store")
    ck = str(tmp_path / "hh_ck")
    k = 3
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    q = streaming_heavy_hitters(stream, "event_type", store, ck, k=k)
    q.awaitTermination(120)

    snap = {
        r["value"]: (r["est_count"], r["n_rows"])
        for r in heavy_hitters_snapshot(spark, store).collect()
    }
    n_total = len(b0) + len(b1) + len(b2)
    true_hot = 75
    assert snap, "empty snapshot"
    assert len(snap) <= k
    est, n_seen = snap["hot"]
    assert n_seen == n_total
    assert 0 < est <= true_hot
    assert true_hot - est <= n_total / (k + 1)

    # superseded snapshots are pruned: only the latest and its prior
    # survive (the prior because a checkpoint replay of the LAST batch
    # must re-merge against it) — per-batch listing cost stays O(1)
    import os

    dirs = sorted(
        p for p in os.listdir(store) if p.startswith("sketch_batch=")
    )
    assert dirs == ["sketch_batch=1", "sketch_batch=2"], dirs

    # replay idempotency: reprocess the LAST micro-batch (the only one
    # a Spark checkpoint ever replays) from the same prior state -> its
    # snapshot partition is rewritten identically
    batch2 = (
        spark.read.json(d + "/b2.json")
        .withColumn("ts", F.to_timestamp("ts"))
    )

    def canon(path):
        return sorted(
            ((r["_mg_key"] or "", r["_mg_c"]) for r in
             spark.read.parquet(path).collect())
        )

    before = canon(store + "/sketch_batch=2")
    process_heavy_hitters_batch(batch2, 2, "event_type", k, store)
    after = canon(store + "/sketch_batch=2")
    assert after == before


def test_latest_sketch_cold_start_probes_path(spark, tmp_path):
    """Cold start (no snapshot store yet) returns None via an explicit
    Hadoop-FS existence probe — NOT by substring-matching an
    AnalysisException message, which a Spark version bump could reword
    into a hard failure on every first micro-batch (r5 advice)."""
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.streaming.quality import _latest_sketch

    missing = str(tmp_path / "never_written_store")
    assert _latest_sketch(spark, missing, before_batch=5) is None

    # a store whose only snapshot is the current batch id is also a
    # cold start for THAT batch (replay must not merge against its own
    # failed attempt)
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [("a", 3)], "_mg_key string, _mg_c long"
    ).withColumn("sketch_batch", F.lit(5)).write.partitionBy(
        "sketch_batch"
    ).parquet(store)
    assert _latest_sketch(spark, store, before_batch=5) is None
    prior = _latest_sketch(spark, store, before_batch=6)
    assert prior is not None
    assert [(r["_mg_key"], r["_mg_c"]) for r in prior.collect()] == [("a", 3)]


def test_prune_superseded_snapshots_edges(tmp_path):
    """Pure-FS pruning contract: sparse prior ids keep the NEWEST prior
    (not batch_id-1), ids at or above the current batch are never
    touched (an out-of-order replay must not destroy newer state), and
    non-snapshot directories survive."""
    import os

    from dbscan_pyspark_spark.streaming.quality import (
        _prune_superseded_snapshots,
    )

    store = tmp_path / "store"
    for name in [
        "sketch_batch=0", "sketch_batch=3", "sketch_batch=5",
        "sketch_batch=7", "_spark_metadata",
    ]:
        (store / name).mkdir(parents=True)

    # writing batch 5: newest prior is 3 (ids are sparse) -> 0 pruned,
    # 3 kept for replay, 7 (newer) untouched
    _prune_superseded_snapshots(str(store), 5)
    left = sorted(os.listdir(store))
    assert left == [
        "_spark_metadata", "sketch_batch=3", "sketch_batch=5",
        "sketch_batch=7",
    ], left

    # replaying batch 3 later must not delete anything newer
    _prune_superseded_snapshots(str(store), 3)
    assert sorted(os.listdir(store)) == left


def test_streaming_heavy_hitters_weighted(spark, tmp_path):
    """Weighted streaming sketch: the running snapshot measures MASS
    (sum of the weight column) and the dominant-mass key survives with
    the mass-bound contract."""
    from dbscan_pyspark_spark.streaming.quality import (
        heavy_hitters_snapshot,
        streaming_heavy_hitters,
    )

    # 'hot' carries 50-weight rows; the tail is 1-weight rows
    def mk(n_hot, n_tail, t0, tail_off=0):
        rows = [
            dict(_ev(5000 + tail_off + i, t0, event_type="hot"), value=50.0)
            for i in range(n_hot)
        ]
        rows += [
            dict(
                _ev(6000 + tail_off + i, t0, event_type=f"t{tail_off + i}"),
                value=1.0,
            )
            for i in range(n_tail)
        ]
        return rows

    b0 = mk(4, 10, "2024-01-01 10:00:00")
    b1 = mk(3, 10, "2024-01-01 11:00:00", tail_off=100)
    d = _batched_dir(tmp_path, b0, b1)
    store = str(tmp_path / "whh_store")
    ck = str(tmp_path / "whh_ck")
    k = 3
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    q = streaming_heavy_hitters(
        stream, "event_type", store, ck, k=k, weight_col="value"
    )
    q.awaitTermination(120)
    snap = {
        r["value"]: (r["est_count"], r["n_rows"])
        for r in heavy_hitters_snapshot(spark, store).collect()
    }
    total_mass = 7 * 50 + 20 * 1
    true_hot = 7 * 50
    est, mass = snap["hot"]
    assert mass == total_mass
    assert 0 < est <= true_hot
    assert true_hot - est <= total_mass / (k + 1)


def test_streaming_cms_equals_batch_and_replays(spark, tmp_path):
    """The stream-accreted Count-Min Sketch equals the batch sketch
    over the full ingested corpus EXACTLY (merge is cell-wise sum),
    estimates served from the snapshot equal batch estimates, and a
    replayed batch with changed content replaces its cells instead of
    double-counting."""
    import json as _json

    from dbscan_pyspark_spark.operators.pipeline import (
        cms_estimates,
        count_min_sketch,
    )
    from dbscan_pyspark_spark.streaming.quality import (
        cms_snapshot,
        process_cms_batch,
        streaming_cms,
    )

    rows = [(i % 23,) for i in range(400)] + [(999,)] * 40
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for fname, chunk in (("p1.json", rows[:200]), ("p2.json", rows[200:])):
        with open(in_dir / fname, "w") as f:
            for (k,) in chunk:
                f.write(_json.dumps({"k": k}) + "\n")
    store, ck = str(tmp_path / "cms"), str(tmp_path / "ck")
    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    q = streaming_cms(stream, store, ck, "k", depth=3, width=16)
    q.awaitTermination(180)

    docs = spark.createDataFrame(rows, "k long")
    snap = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_snapshot(spark, store).collect()
    }
    whole = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in count_min_sketch(docs, "k", 3, 16).collect()
    }
    assert snap == whole

    served = sorted(
        tuple(r)
        for r in cms_estimates(
            docs, "k", 3, 16, sketch=cms_snapshot(spark, store)
        ).collect()
    )
    direct = sorted(
        tuple(r) for r in cms_estimates(docs, "k", 3, 16).collect()
    )
    assert served == direct

    # replay batch 0 with DIFFERENT content: its cells are replaced
    changed = spark.createDataFrame([(7,)] * 10, "k long")
    process_cms_batch(changed, 0, store, "k", 3, 16)
    total_after = sum(
        r["cnt"] for r in cms_snapshot(spark, store).collect()
    ) // 3  # each input row lands in exactly depth cells
    assert total_after == 10 + (len(rows) - 200)
