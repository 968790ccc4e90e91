"""Streaming near-duplicate filtering over a document stream.

The ingestion-time counterpart of ``operators/pipeline.py::near_dup_dedup``
(the reference has no streaming at all — SURVEY.md §2.8; this is north-star
surface): each micro-batch is MinHash-signed, checked against the signature
store of every previously *accepted* document, deduped against itself, and
the survivors' signatures are appended to the store. First-accepted wins
across batches; within a batch the exact batch semantics of
``near_dup_dedup`` apply (components of the verified near-dup graph,
longest text survives).

Scale/state design:

- The store holds ONE wide signature row per accepted doc (k longs) — not
  shingles, not text. Matching against it is estimate-based (fraction of
  equal minhash positions >= threshold), the standard trade at corpus
  scale where retaining shingle sets would itself be corpus-sized.
  Batch-internal dedup does keep exact shingle verification (the batch is
  small — shingles are in hand).
- The store and the output are ``ingest_batch=<id>`` partitions, written
  and read through the micro-batch seam (``_batches``), which holds the
  replay discipline.
- Band join against the store is an equi-join on (band, band_hash); the
  store side prunes to candidate buckets, so state lookups stay
  proportional to collisions, not corpus size.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators.dedup import minhash_signatures, signature_match
from dbscan_pyspark_spark.operators.pipeline import near_dup_dedup
from dbscan_pyspark_spark.streaming._batches import (
    micro_batch,
    read_partitions,
    start,
    write_partition,
)


@micro_batch
def process_near_dup_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    output_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    rows_per_band: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the streaming near-dup filter (pure batch code,
    unit-testable without a stream; ``streaming_near_dup_filter`` wraps it
    in ``foreachBatch``)."""
    spark = batch.sparkSession
    sig = minhash_signatures(batch, num_hashes, n, text_col, id_col).persist()
    try:
        store = read_partitions(spark, store_dir, batch_id)
        if store is not None and not store.isEmpty():
            dup_vs_store = signature_match(
                sig, store, num_hashes, threshold, rows_per_band, id_col
            )
            survivors0 = batch.join(dup_vs_store, id_col, "left_anti")
        else:
            survivors0 = batch

        kept = near_dup_dedup(
            survivors0,
            threshold=threshold,
            num_hashes=num_hashes,
            rows_per_band=rows_per_band,
            n=n,
            text_col=text_col,
            id_col=id_col,
        ).drop("dup_group", "dup_group_size")

        kept_ids = spark.read.parquet(
            write_partition(kept, output_dir, batch_id)
        ).select(id_col)
        write_partition(sig.join(kept_ids, id_col), store_dir, batch_id)
    finally:
        sig.unpersist()


def streaming_near_dup_filter(
    docs: DataFrame,
    store_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    rows_per_band: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Start the streaming near-dup filter over a streaming ``docs``
    DataFrame; returns the ``StreamingQuery``. Survivors land under
    ``output_dir``, accepted-doc signatures under ``store_dir``, both
    partitioned by ``ingest_batch`` for idempotent replay."""
    return start(
        docs,
        checkpoint_dir,
        partial(
            process_near_dup_batch,
            store_dir=store_dir,
            output_dir=output_dir,
            threshold=threshold,
            num_hashes=num_hashes,
            rows_per_band=rows_per_band,
            n=n,
            text_col=text_col,
            id_col=id_col,
        ),
    )


def vector_match_vs_store(
    batch_vecs: DataFrame,
    store_vecs: DataFrame,
    threshold: float,
    n_planes: int,
    rows_per_band: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    plane_scale: int | None = None,
) -> DataFrame:
    """Ids from ``batch_vecs`` whose exact cosine with ANY accepted
    ``store_vecs`` row reaches ``threshold``. Candidates are pruned by
    RP-LSH band collision first (the hyperplanes are fixed-seed plan
    literals, so a stored vector's bands recompute identically in
    every later batch); the exact-cosine verify runs only on bucket
    collisions — state lookups stay proportional to collisions, not
    corpus size. Embedding twin of :func:`signature_match` (which is
    estimate-only because retaining shingle sets would be corpus-
    sized; vectors ARE their own verification payload, so this match
    verifies exactly)."""
    from dbscan_pyspark_spark.operators.similarity import (
        _cosine_from_norms,
        norm2,
        rp_lsh_banded,
    )

    def banded(df, rid):
        b = rp_lsh_banded(
            df,
            n_planes=n_planes,
            rows_per_band=rows_per_band,
            dim=dim,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
            plane_scale=plane_scale,
        )
        return b.select(F.col(id_col).alias("_rid"), "band", "bits") if rid else b

    # id-only band collision (slim exchange), vectors joined back onto
    # the deduped candidate set only — see rp_lsh_banded's scale note
    cand = (
        banded(batch_vecs, False)
        .join(banded(store_vecs, True), ["band", "bits"])
        .select(id_col, "_rid")
        .distinct()
    )
    bv = batch_vecs.select(
        F.col(id_col), F.col(vec_col), norm2(vec_col).alias("_n")
    )
    rv = store_vecs.select(
        F.col(id_col).alias("_rid"),
        F.col(vec_col).alias("_rv"),
        norm2(vec_col).alias("_rn"),
    )
    return (
        cand.join(bv, id_col)
        .join(rv, "_rid")
        .where(
            F.round(
                _cosine_from_norms(vec_col, "_rv", "_n", "_rn"), 6
            )
            >= F.lit(threshold)
        )
        .select(id_col)
        .distinct()
    )


@micro_batch
def process_semantic_dedup_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    output_dir: str,
    threshold: float = 0.95,
    n_planes: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
    plane_scale: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of the streaming SEMANTIC dedup filter — the
    embedding-space twin of :func:`process_near_dup_batch`, closing
    the streaming gap for ``operators/similarity.py::semantic_dedup``
    the same way MinHash got its streaming twin: each batch is checked
    against the vector store of previously accepted rows (band-join +
    exact cosine), deduped against itself with the batch operator's
    exact semantics (components of the >=threshold cosine graph, one
    representative), and the survivors' VECTORS are appended to the
    store. First-accepted wins across batches.

    State is one row per accepted vector (id + dim floats + norm —
    the SemDeDup state is inherently the embedding corpus; bands are
    recomputed map-side from the fixed-seed plan-literal hyperplanes,
    so the store never materializes signatures). Output and store are
    ``ingest_batch=<id>`` partitions (``_batches``)."""
    spark = batch.sparkSession
    # a NULL/empty embedding can never match anything downstream
    # (_cosine_from_norms yields NULL, so it is neither deduped nor
    # dedup-able) — accepting one would write it to the vector store
    # PERMANENTLY; and inferring dim from an unfiltered first row
    # crashes on int(None)
    batch = batch.where(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
    dim_row = batch.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:
        # every row carried a NULL/empty embedding — nothing acceptable
        return
    dim = int(dim_row["d"])

    store = read_partitions(spark, store_dir, batch_id)
    if store is not None and not store.isEmpty():
        dup_vs_store = vector_match_vs_store(
            batch,
            store,
            threshold,
            n_planes=n_planes,
            rows_per_band=rows_per_band,
            dim=dim,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
            plane_scale=plane_scale,
        )
        survivors0 = batch.join(dup_vs_store, id_col, "left_anti")
        if survivors0.isEmpty():
            # every batch row matched the store: nothing to accept.
            # Skipping the writes entirely is replay-safe — the batch
            # recomputes deterministically, so a replayed all-dup
            # batch is all-dup again (and an empty parquet write
            # would leave a schema-less partition the read-back
            # cannot infer)
            return
    else:
        survivors0 = batch

    from dbscan_pyspark_spark.operators.similarity import semantic_dedup

    kept = semantic_dedup(
        survivors0,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        rows_per_band=rows_per_band,
        seed=seed,
        plane_scale=plane_scale,
    ).drop("dup_group", "dup_group_size")

    kept_back = spark.read.parquet(
        write_partition(kept, output_dir, batch_id)
    ).select(id_col, vec_col)
    write_partition(kept_back, store_dir, batch_id)


def streaming_semantic_dedup_filter(
    vectors: DataFrame,
    store_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.95,
    n_planes: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
    plane_scale: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Start the streaming semantic dedup filter over a streaming
    ``vectors`` DataFrame; returns the ``StreamingQuery``. Survivors
    land under ``output_dir``, accepted vectors under ``store_dir``,
    both partitioned by ``ingest_batch`` for idempotent replay."""
    return start(
        vectors,
        checkpoint_dir,
        partial(
            process_semantic_dedup_batch,
            store_dir=store_dir,
            output_dir=output_dir,
            threshold=threshold,
            n_planes=n_planes,
            rows_per_band=rows_per_band,
            seed=seed,
            plane_scale=plane_scale,
            id_col=id_col,
            vec_col=vec_col,
        ),
    )


@micro_batch
def process_exact_dedup_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    output_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the streaming EXACT dedup filter — the
    ingestion-time counterpart of ``operators/dedup.py::exact_dedup``
    and the first stage every ingest pipeline runs before the fuzzy
    filters: drop any document whose normalized-text fingerprint was
    already accepted (store anti-join), keep the MINIMUM id per
    fingerprint within the batch (exact_dedup's deterministic winner
    rule), append the survivors' fingerprints to the store.
    First-accepted wins across batches, so id-ordered arrival makes
    the stream output exactly ``exact_dedup``'s batch answer (pinned
    by test). State is ONE 32-hex md5 per accepted doc — the cheapest
    possible dedup state (16 bytes of entropy per document at any
    corpus size); matching is a fingerprint equi-anti-join, never
    content. NULL-text rows are dropped up front (a NULL fingerprint
    joins with nothing, so it would be re-accepted every batch and
    poison the store — the semantic filter's NULL-embedding rule).
    Output and store are ``ingest_batch=<id>`` partitions
    (``_batches``)."""
    spark = batch.sparkSession
    from dbscan_pyspark_spark.functions.text import fingerprint

    batch = batch.where(F.col(text_col).isNotNull())
    fps = batch.select(F.col(id_col), fingerprint(text_col).alias("_fp"))
    store = read_partitions(spark, store_dir, batch_id)
    if store is not None and not store.isEmpty():
        fresh = fps.join(store.select("_fp"), "_fp", "left_anti")
    else:
        fresh = fps
    winners = fresh.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    kept = batch.join(winners.select(id_col), id_col, "left_semi")
    if kept.isEmpty():
        # every row matched the store (or was NULL-text): skipping
        # the writes is replay-safe — a replayed all-dup batch
        # recomputes as all-dup — and avoids a schema-less empty
        # parquet partition the read-back cannot infer
        return
    kept_ids = spark.read.parquet(
        write_partition(kept, output_dir, batch_id)
    ).select(id_col)
    write_partition(
        fps.join(kept_ids, id_col, "left_semi").select("_fp"), store_dir, batch_id
    )


def streaming_exact_dedup_filter(
    docs: DataFrame,
    store_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Start the streaming exact dedup filter over a streaming ``docs``
    DataFrame; returns the ``StreamingQuery``. Survivors land under
    ``output_dir``, accepted fingerprints under ``store_dir``, both
    partitioned by ``ingest_batch`` for idempotent replay."""
    return start(
        docs,
        checkpoint_dir,
        partial(
            process_exact_dedup_batch,
            store_dir=store_dir,
            output_dir=output_dir,
            text_col=text_col,
            id_col=id_col,
        ),
    )
