import json
import os

import pytest

from dbscan_pyspark_spark.streaming.events import read_event_stream, streaming_exact_dedup


@pytest.fixture(scope="module")
def dup_stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("dup_stream")
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:05:00.000Z", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"},
        {"event_id": 1, "ts": "2024-01-01T00:05:00.000Z", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:06:00.000Z", "user_id": 1, "event_type": "b", "value": 2.0, "props": "{}"},
    ]
    with open(os.path.join(d, "p1.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    # the same event_id arrives again in a later file (within watermark)
    with open(os.path.join(d, "p2.json"), "w") as f:
        f.write(json.dumps(rows[0]) + "\n")
        f.write(json.dumps({"event_id": 3, "ts": "2024-01-01T00:07:00.000Z", "user_id": 2, "event_type": "c", "value": 3.0, "props": "{}"}) + "\n")
    return str(d)


def test_streaming_dedup_keeps_first_arrival(spark, dup_stream_dir):
    stream = read_event_stream(spark, dup_stream_dir, max_files_per_trigger=1)
    deduped = streaming_exact_dedup(stream, ["event_id"], watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id FROM t_dedup").collect()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [1, 2, 3]  # duplicates across files and within a file dropped


BASE = "the quick brown fox jumps over the lazy dog again and again today fine"


def _doc(doc_id, text):
    return {"doc_id": doc_id, "text": text}


@pytest.mark.slow
def test_near_dup_batch_filter_across_batches(spark, tmp_path):
    from dbscan_pyspark_spark.streaming.dedup import process_near_dup_batch

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    b1 = spark.createDataFrame(
        [(1, BASE + " version one"), (2, "entirely different words about engines and planners")],
        "doc_id long, text string",
    )
    # doc 3 near-dups doc 1 (accepted in batch 0) -> dropped by the store;
    # doc 4 is new -> kept
    b2 = spark.createDataFrame(
        [(3, BASE + " version one bis"), (4, "yet another unrelated corpus entry with novel content")],
        "doc_id long, text string",
    )
    process_near_dup_batch(b1, 0, store, out, threshold=0.4)
    process_near_dup_batch(b2, 1, store, out, threshold=0.4)
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert kept == [1, 2, 4]
    # store holds one signature row per accepted doc
    assert spark.read.parquet(store).count() == 3


def test_near_dup_batch_replay_is_idempotent(spark, tmp_path):
    from dbscan_pyspark_spark.streaming.dedup import process_near_dup_batch

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    b1 = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
    process_near_dup_batch(b1, 0, store, out, threshold=0.4)
    # replay of the same micro-batch (foreachBatch failure semantics):
    # must not drop doc 1 against its own stored signature, nor duplicate
    process_near_dup_batch(b1, 0, store, out, threshold=0.4)
    assert [r["doc_id"] for r in spark.read.parquet(out).collect()] == [1]
    assert spark.read.parquet(store).count() == 1


def test_near_dup_batch_failure_releases_cached_frames(spark, tmp_path, monkeypatch):
    """A batch whose dedup job fails must not leave the batch or its
    signatures persisted for the rest of the session. The injected
    failure reads its input first, so both cached frames are built
    (the signatures through the store match) before it raises."""
    from dbscan_pyspark_spark.streaming import dedup

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    b1 = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
    dedup.process_near_dup_batch(b1, 0, store, out, threshold=0.4)

    def boom(df, **kwargs):
        df.count()
        raise RuntimeError("dedup failed")

    monkeypatch.setattr(dedup, "near_dup_dedup", boom)
    b2 = spark.createDataFrame([(2, BASE + " bis")], "doc_id long, text string")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match="dedup failed"):
        dedup.process_near_dup_batch(b2, 1, store, out, threshold=0.4)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= before


def test_streaming_near_dup_filter_end_to_end(spark, tmp_path):
    from dbscan_pyspark_spark.streaming.dedup import streaming_near_dup_filter

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "f0.json", "w") as f:
        f.write(json.dumps(_doc(1, BASE + " version one")) + "\n")
        f.write(json.dumps(_doc(2, "entirely different words about engines and planners")) + "\n")
    with open(src / "f1.json", "w") as f:
        f.write(json.dumps(_doc(3, BASE + " version one bis")) + "\n")
        f.write(json.dumps(_doc(4, "yet another unrelated corpus entry with novel content")) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = streaming_near_dup_filter(
        stream,
        str(tmp_path / "store"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        threshold=0.4,
    )
    q.awaitTermination(180)
    kept = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).select("doc_id").collect()
    )
    # doc 3 is dropped whether it shares a micro-batch with doc 1 (batch
    # dedup) or arrives later (store match); either batching yields 1,2,4
    assert kept == [1, 2, 4]


def _vec(vec_id, base, eps=0.0):
    # 8-d integer-grid vectors; eps=0 -> exact dup (cos 1.0)
    return (vec_id, [float(x + (eps if i == 0 else 0)) for i, x in enumerate(base)])


_VA = [100.0, 50.0, -30.0, 80.0, 10.0, -60.0, 40.0, 20.0]
_VB = [-70.0, 90.0, 15.0, -45.0, 60.0, 30.0, -80.0, 55.0]
_VC = [5.0, -95.0, 70.0, 25.0, -40.0, 85.0, 10.0, -65.0]


def test_semantic_batch_filter_across_batches(spark, tmp_path):
    from dbscan_pyspark_spark.streaming.dedup import (
        process_semantic_dedup_batch,
    )

    store, out = str(tmp_path / "vstore"), str(tmp_path / "vout")
    schema = "vec_id long, embedding array<double>"
    b1 = spark.createDataFrame([_vec(1, _VA), _vec(2, _VB)], schema)
    # vec 3 exactly duplicates vec 1 (accepted in batch 0) -> dropped by
    # the store match; vec 4 is novel -> kept
    b2 = spark.createDataFrame([_vec(3, _VA), _vec(4, _VC)], schema)
    process_semantic_dedup_batch(
        b1, 0, store, out, threshold=0.99
    )
    process_semantic_dedup_batch(
        b2, 1, store, out, threshold=0.99
    )
    kept = sorted(
        r["vec_id"]
        for r in spark.read.parquet(out).select("vec_id").collect()
    )
    assert kept == [1, 2, 4]
    # store holds one vector row per accepted id
    assert spark.read.parquet(store).count() == 3


def test_semantic_batch_replay_is_idempotent(spark, tmp_path):
    from dbscan_pyspark_spark.streaming.dedup import (
        process_semantic_dedup_batch,
    )

    store, out = str(tmp_path / "vstore"), str(tmp_path / "vout")
    schema = "vec_id long, embedding array<double>"
    b1 = spark.createDataFrame([_vec(1, _VA)], schema)
    process_semantic_dedup_batch(
        b1, 0, store, out, threshold=0.99
    )
    # replay of the same micro-batch: must not drop vec 1 against its
    # own stored vector, nor duplicate it in output or store
    process_semantic_dedup_batch(
        b1, 0, store, out, threshold=0.99
    )
    assert [r["vec_id"] for r in spark.read.parquet(out).collect()] == [1]
    assert spark.read.parquet(store).count() == 1


@pytest.mark.slow
def test_semantic_streaming_matches_batch_on_cliques(spark, tmp_path):
    """The per-batch ≡ batch pin: with id-ordered arrival and
    duplicate groups that are cliques (exact duplicates — every member
    matches every other), the streaming filter keeps exactly the batch
    semantic_dedup survivors (lowest id per group). Transitive chains
    (A~B, B~C, A!~C) are the documented divergence of ANY
    first-accepted-wins stream and are excluded by construction."""
    from dbscan_pyspark_spark.operators.similarity import semantic_dedup
    from dbscan_pyspark_spark.streaming.dedup import (
        process_semantic_dedup_batch,
    )

    schema = "vec_id long, embedding array<double>"
    # groups: {1,4,7} (=_VA), {2,5} (=_VB), {3} (=_VC singleton)
    rows = [
        _vec(1, _VA), _vec(2, _VB), _vec(3, _VC),
        _vec(4, _VA), _vec(5, _VB), _vec(7, _VA),
    ]
    batch_surv = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            spark.createDataFrame(rows, schema),
            threshold=0.99,
        ).collect()
    )

    store, out = str(tmp_path / "vstore"), str(tmp_path / "vout")
    for i in range(0, len(rows), 2):  # id-ordered 2-row micro-batches
        process_semantic_dedup_batch(
            spark.createDataFrame(rows[i : i + 2], schema),
            i // 2,
            store,
            out,
            threshold=0.99,
        )
    stream_surv = sorted(
        r["vec_id"]
        for r in spark.read.parquet(out).select("vec_id").collect()
    )
    assert stream_surv == batch_surv == [1, 2, 3]


def test_semantic_streaming_filter_end_to_end(spark, tmp_path):
    from dbscan_pyspark_spark.streaming.dedup import (
        streaming_semantic_dedup_filter,
    )

    src = tmp_path / "vsrc"
    src.mkdir()
    with open(src / "f0.json", "w") as f:
        f.write(json.dumps({"vec_id": 1, "embedding": _VA}) + "\n")
        f.write(json.dumps({"vec_id": 2, "embedding": _VB}) + "\n")
    with open(src / "f1.json", "w") as f:
        f.write(json.dumps({"vec_id": 3, "embedding": _VA}) + "\n")
        f.write(json.dumps({"vec_id": 4, "embedding": _VC}) + "\n")

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = streaming_semantic_dedup_filter(
        stream,
        str(tmp_path / "vstore"),
        str(tmp_path / "vout"),
        str(tmp_path / "vckpt"),
        threshold=0.99,
    )
    q.awaitTermination(180)
    kept = sorted(
        r["vec_id"]
        for r in spark.read.parquet(str(tmp_path / "vout"))
        .select("vec_id")
        .collect()
    )
    # vec 3 drops whether it shares a micro-batch with vec 1 (batch
    # dedup) or arrives later (store match)
    assert kept == [1, 2, 4]


def test_semantic_batch_null_and_empty_embeddings_rejected(spark, tmp_path):
    """NULL/empty embeddings can never match anything downstream
    (cosine is NULL for them), so accepting one would poison the
    vector store permanently — they are filtered up front, an
    all-NULL batch is a clean no-op, and dim inference never sees a
    NULL row (the old int(None) crash)."""
    from dbscan_pyspark_spark.streaming.dedup import (
        process_semantic_dedup_batch,
    )

    store, out = str(tmp_path / "vstore"), str(tmp_path / "vout")
    schema = "vec_id long, embedding array<double>"
    # batch 0: a NULL-embedding FIRST row (the old dim-inference crash),
    # an empty embedding, and one real vector
    b1 = spark.createDataFrame(
        [(10, None), (11, []), (1, list(_VA))], schema
    )
    process_semantic_dedup_batch(b1, 0, store, out, threshold=0.99)
    assert [r["vec_id"] for r in spark.read.parquet(out).collect()] == [1]
    assert [r["vec_id"] for r in spark.read.parquet(store).collect()] == [1]
    # batch 1: ONLY null/empty rows -> no-op, nothing written
    b2 = spark.createDataFrame([(12, None), (13, [])], schema)
    process_semantic_dedup_batch(b2, 1, store, out, threshold=0.99)
    assert spark.read.parquet(store).count() == 1
    assert spark.read.parquet(out).count() == 1


def test_kmember_quantized_unpersists_on_failure(spark):
    """kmember_quantized's persisted projection is released on EVERY
    exit path — including the infeasible raise and a mid-iteration job
    failure — so a failed call cannot leak cached blocks for the
    session."""
    import pytest as _pytest

    from dbscan_pyspark_spark.operators.kmember import kmember_quantized

    before = len(
        [
            r
            for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        ]
    )
    pts = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(4)],
        "id long, features array<double>",
    )
    with _pytest.raises(ValueError, match="infeasible"):
        kmember_quantized(pts, k=3, n_clusters=2)
    after = len(
        [r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()]
    )
    assert after <= before


def test_exact_dedup_batch_filter_across_batches(spark, tmp_path):
    """First-accepted wins across batches; batch-internal winner is the
    min id per fingerprint (the exact_dedup rule, incl. whitespace/case
    normalization); NULL text never enters the store."""
    from dbscan_pyspark_spark.streaming.dedup import (
        process_exact_dedup_batch,
    )

    store, out = str(tmp_path / "xstore"), str(tmp_path / "xout")
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(
        [(2, "Alpha  beta"), (1, "alpha beta"), (3, "other text"), (9, None)],
        schema,
    )
    process_exact_dedup_batch(b1, 0, store, out)
    kept0 = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert kept0 == [1, 3]  # min id wins the normalized-equal pair
    # batch 1: 4 duplicates batch-0's accepted text -> store match;
    # 5 is novel
    b2 = spark.createDataFrame([(4, "ALPHA beta"), (5, "novel words")], schema)
    process_exact_dedup_batch(b2, 1, store, out)
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert kept == [1, 3, 5]
    assert spark.read.parquet(store).count() == 3


def test_exact_dedup_batch_replay_and_all_dup(spark, tmp_path):
    from dbscan_pyspark_spark.streaming.dedup import (
        process_exact_dedup_batch,
    )

    store, out = str(tmp_path / "xstore"), str(tmp_path / "xout")
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame([(1, "some words")], schema)
    process_exact_dedup_batch(b1, 0, store, out)
    # replay must not self-match or duplicate output/store rows
    process_exact_dedup_batch(b1, 0, store, out)
    assert [r["doc_id"] for r in spark.read.parquet(out).collect()] == [1]
    assert spark.read.parquet(store).count() == 1
    # an all-duplicate batch writes nothing (no empty partitions)
    b2 = spark.createDataFrame([(7, "Some  WORDS")], schema)
    process_exact_dedup_batch(b2, 1, store, out)
    assert [r["doc_id"] for r in spark.read.parquet(out).collect()] == [1]
    assert spark.read.parquet(store).count() == 1


def test_exact_dedup_stream_matches_batch_op(spark, tmp_path):
    """With id-ordered arrival, the streaming filter keeps exactly the
    batch exact_dedup winners (min id per normalized fingerprint)."""
    import json as _json

    from dbscan_pyspark_spark.operators.dedup import exact_dedup
    from dbscan_pyspark_spark.streaming.dedup import (
        streaming_exact_dedup_filter,
    )

    rows = [
        (1, "the quick brown fox"),
        (2, "The  QUICK brown fox"),
        (3, "a different document"),
        (4, "the quick brown fox"),
        (5, "yet more novel content"),
        (6, "A DIFFERENT document"),
    ]
    src = tmp_path / "xsrc"
    src.mkdir()
    for i in range(3):  # 3 micro-batches of 2 docs, id-ordered
        with open(src / f"f{i}.json", "w") as f:
            for d, t in rows[2 * i : 2 * i + 2]:
                f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = streaming_exact_dedup_filter(
        stream,
        str(tmp_path / "xstore"),
        str(tmp_path / "xout"),
        str(tmp_path / "xckpt"),
    )
    q.awaitTermination(180)
    kept = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "xout"))
        .select("doc_id")
        .collect()
    )
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")
    batch_kept = sorted(
        r["doc_id"] for r in exact_dedup(batch_df).collect()
    )
    assert kept == batch_kept == [1, 3, 5]
