"""Deduplication operators (north-star extensions, SURVEY.md §2.10).

Four tiers, all shuffle-conscious:

- **exact**: hash-groupBy on a content fingerprint — one shuffle on the
  16-byte digest, never on the document body;
- **n-gram Jaccard**: shingle-explode + equi-join on shingle, group on
  the pair — the candidate set is bounded by shared shingles, not n²;
- **MinHash + LSH banding**: signatures from a universal-hash family
  over one portable md5-derived integer per shingle (so the DuckDB
  oracle can reproduce them bit-for-bit), band-bucket equi-join for
  candidates, exact Jaccard verification after;
- **SimHash**: 64-bit token-hash aggregate; near-dups share the simhash
  (or a band of it).

The near-dup paths share one candidate core: bucket self-join, verify,
expand representatives. ``_bucket_pairs`` is the one bucket self-join
(MinHash bands, SimHash blocks, prefix-filter shingles and, from
``similarity.py``, RP-LSH bands). ``_expand_groups`` is the one
expansion of verified representative pairs back to member pairs, for
the paths that contract identical content (MinHash) or identical
fingerprints (SimHash) before the join.

A document's shingle set has one representation, the per-doc array of
``_shingle_sets``. The MinHash and prefix-filter paths verify a
candidate pair on its own row: two id joins bring both docs' arrays to
the pair, and ``size(array_intersect)`` counts the overlap
(``_overlap``). Only the callers that join on shingles explode it.

At 100 TB the only wide exchanges are equi-joins/groupBys on digests,
shingles, doc ids, or (band_id, band_hash) buckets — all fine-grained
keys that hash-partition evenly; no cross join appears anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbscan_pyspark_spark.functions.text import (
    fingerprint,
    normalized,
    shingles_from_tokens,
)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One surviving row per distinct normalized text: the minimum id
    (deterministic, unlike dropDuplicates' arbitrary winner).
    Returns DataFrame(fingerprint, doc_id, n_copies)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """One row per document: (id, ``_sh``), the distinct n-word shingles
    of its normalized text as an array. NULL and short (< n tokens)
    texts get an empty array. The one representation of a shingle set:
    Jaccard verification reads it per candidate pair, and
    :func:`_doc_shingles` explodes it for the callers that join on
    shingle rows."""
    # A small-file scan can arrive as one partition; the shingle explode
    # multiplies rows ~100x, so spread the input first (cheap relative
    # to the explode; on a real cluster the scan is already wide).
    # Connect-safe accessors (compat.py): defaultParallelism degrades
    # to a conf read, getNumPartitions to an inputFiles lower bound —
    # the guard can then only err toward repartitioning (one redundant
    # exchange), never toward the one-partition explode pathology.
    from ..compat import default_parallelism, num_scan_partitions

    target = default_parallelism(df.sparkSession)
    toks = df.select(
        F.col(id_col), F.split(normalized(text_col), " ").alias("_toks")
    )
    if num_scan_partitions(df) < target:
        # repartition AFTER tokenizing: the exchange physically
        # materializes _toks, so the size-guard / distinct / lambda
        # references above all read the column instead of re-running
        # the tokenization (measured 8.4 -> 3.0 s at 500k docs / 14M
        # shingles; the two-step select alone does not stop the
        # optimizer from inlining the expression into its consumers)
        toks = toks.repartition(target, id_col)
    return toks.select(
        F.col(id_col), shingles_from_tokens("_toks", n).alias("_sh")
    )


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle) rows: :func:`_shingle_sets` exploded."""
    return _shingle_sets(df, text_col, id_col, n).select(
        id_col, F.explode("_sh").alias("shingle")
    )


def _sized_shingles(sets: DataFrame, id_col: str) -> DataFrame:
    """(id, n_sh, shingle) rows of a :func:`_shingle_sets` relation:
    each row carries its doc's set size |A|, so a pair join reads both
    sizes off its own rows instead of joining a size relation back."""
    return sets.select(
        id_col, F.size("_sh").alias("n_sh"), F.explode("_sh").alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document pairs with n-gram-shingle Jaccard >= threshold.

    DataFrame(a_id, b_id, jaccard) with a_id < b_id. Exact (not
    approximate): |A ∩ B| via shingle equi-join, |A ∪ B| = |A|+|B|-∩.
    """
    sh = _sized_shingles(_shingle_sets(df, text_col, id_col, n), id_col)
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# Universal-hash family for MinHash: h_i(x) = (A_i * x + B_i) mod P over
# a 32-bit prime. A_i < 2^31 and x < P < 2^32 keep every product inside
# signed-64 range (no overflow under ANSI mode). Constants come from a
# fixed-seed PRNG so signatures are reproducible across engines — the
# DuckDB oracle embeds the same (A, B) list.
MINHASH_P = 4_294_967_291  # largest 32-bit prime


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) pairs; prefix-stable (params(8) is a
    prefix of params(16)), so mixed-width callers agree."""
    import random

    rng = random.Random(0xDB5CA)
    return [
        (rng.randrange(1, 1 << 31), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def shingle_base_hash(shingle: Column | str) -> Column:
    """Engine-portable 60-bit integer hash of a shingle, reduced mod P:
    the first 15 hex chars of md5, parsed as an integer. DuckDB computes
    the identical value via CAST(concat('0x', substring(md5(s),1,15)) AS
    BIGINT) % P — one md5 per shingle, NOT one per (shingle, i)."""
    c = F.col(shingle) if isinstance(shingle, str) else shingle
    return (
        F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
        % F.lit(MINHASH_P)
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Portable MinHash: hash_i(doc) = min over shingles of
    (A_i * base(shingle) + B_i) mod P, with base() one md5-derived
    integer per shingle. Engine-independent (the DuckDB oracle
    reproduces it bit-for-bit) and ~k times cheaper than hashing each
    shingle k times: one md5 + k integer fmas per shingle row.

    WIDE layout — one row per doc, columns ``m0..m{k-1}`` — so all k
    mins are partial-aggregated in ONE groupBy over the shingle rows;
    the k-fold row explode a long layout needs (k x shuffle volume)
    never happens. Returns DataFrame(doc_id, m0, ..., m{k-1}) with
    ``long`` minhashes; docs without shingles get no row.

    ``shingles``: pass a :func:`_shingle_sets` output to reuse its
    lineage (it is exploded here)."""
    sets = (
        shingles if shingles is not None else _shingle_sets(df, text_col, id_col, n)
    )
    # base hash lands in a bound column so the md5 runs once per row,
    # not once per aggregate (no CSE across aggregate expressions).
    based = sets.select(id_col, F.explode("_sh").alias("_s")).select(
        id_col, shingle_base_hash("_s").alias("_x")
    )
    params = minhash_params(num_hashes)
    aggs = [
        F.min((F.lit(a) * F.col("_x") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"m{h}")
        for h, (a, b) in enumerate(params)
    ]
    return based.groupBy(id_col).agg(*aggs)


def minhash_bands(
    signatures: DataFrame,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding over wide signatures: band b's hash = md5 of the
    '|'-joined minhashes m_{b*r}..m_{b*r+r-1}. One narrow projection +
    posexplode; no shuffle at all. DataFrame(doc_id, band, band_hash)."""
    sig_cols = [c for c in signatures.columns if c.startswith("m")]
    n_bands = len(sig_cols) // rows_per_band
    bands = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"m{b * rows_per_band + i}")
                        for i in range(rows_per_band)
                    ],
                )
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select(
        id_col, F.posexplode(bands).alias("band", "band_hash")
    ).withColumn("band", F.col("band").cast("long"))


def _bucket_pairs(rows: DataFrame, id_col: str, *keys: str) -> DataFrame:
    """Distinct (a_id, b_id), a_id < b_id, of rows that agree on every
    key column: the bucket self-join of every candidate generator (LSH
    bands, SimHash blocks, prefix shingles). A pair sharing several
    buckets is emitted once. The equi-keys join in the order given."""
    a, b = rows.alias("a"), rows.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    return (
        a.join(b, on + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .select(
            F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id")
        )
        .distinct()
    )


def _overlap(sets: DataFrame, cand: DataFrame, id_col: str) -> DataFrame:
    """Exact shingle overlap of each candidate pair, read on the pair's
    row: (a_id, b_id, n_common, n_union) from both docs' arrays in a
    :func:`_shingle_sets` relation, by two id joins of the candidates
    onto the one-row-per-doc sets."""
    sa = sets.select(F.col(id_col).alias("a_id"), F.col("_sh").alias("_sa"))
    sb = sets.select(F.col(id_col).alias("b_id"), F.col("_sh").alias("_sb"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            "_sa",
            "_sb",
            F.size(F.array_intersect("_sa", "_sb")).alias("n_common"),
        )
        .select(
            "a_id",
            "b_id",
            "n_common",
            (F.size("_sa") + F.size("_sb") - F.col("n_common")).alias("n_union"),
        )
    )


def _verify_exact_jaccard(
    sets: DataFrame, cand: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair set: pairs that
    share at least one shingle with round(jaccard, 6) >= threshold, as
    DataFrame(a_id, b_id, jaccard). Shared by the MinHash-banded and
    prefix-filtered candidate generators so the verification semantics
    can never drift between them."""
    return (
        _overlap(sets, cand, id_col)
        .where(F.col("n_common") > 0)
        .select(
            "a_id",
            "b_id",
            F.round(F.col("n_common") / F.col("n_union"), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _expand_groups(
    rep_pairs: DataFrame,
    groups: DataFrame,
    members: DataFrame,
    key: str,
    id_col: str,
    value_col: str,
    same: float,
) -> DataFrame:
    """Expand verified rep pairs back to member pairs, for the paths
    that contract each group of identical keys (MinHash: the content
    md5; SimHash: the fingerprint) to its min-id rep before the bucket
    join. Exact: the verified value is a function of the key alone.

    ``rep_pairs`` (a_id, b_id, value_col) over reps; ``groups`` (key,
    id_col = the rep, _gsize), one row per group that may emit pairs;
    ``members`` (id_col, key), one row per member. Returns (a_id, b_id,
    value_col), a_id < b_id: each member pair across a rep pair carries
    the reps' value (least/greatest, as the groups' id ranges
    interleave), each i < j pair inside a group carries ``same``.

    The member rows of the participating groups are materialized
    eagerly, so the caller can release its caches; the pairs, quadratic
    in group sizes, stay lazy. The intra self-join is no
    :func:`_bucket_pairs` call: its distinct would aggregate that
    quadratic output, and ids unique per group keep the pairs distinct."""
    pair_reps = rep_pairs.select(F.col("a_id").alias(id_col)).unionByName(
        rep_pairs.select(F.col("b_id").alias(id_col))
    )
    # one row per participating group; AQE picks the join strategy, as
    # the set is unbounded on duplicate-heavy corpora
    keys_needed = (
        groups.join(pair_reps, id_col, "left_semi")
        .unionByName(groups.where(F.col("_gsize") >= 2))
        .select(key, F.col(id_col).alias("_rep"))
        .distinct()
    )
    members_needed = (
        members.select(id_col, key).join(keys_needed, key).localCheckpoint(eager=True)
    )
    m_a = members_needed.select(F.col("_rep").alias("a_id"), F.col(id_col).alias("_ma"))
    m_b = members_needed.select(F.col("_rep").alias("b_id"), F.col(id_col).alias("_mb"))
    inter = (
        rep_pairs.join(m_a, "a_id")
        .join(m_b, "b_id")
        .select(
            F.least("_ma", "_mb").alias("a_id"),
            F.greatest("_ma", "_mb").alias("b_id"),
            value_col,
        )
    )
    x, y = members_needed.alias("x"), members_needed.alias("y")
    intra = x.join(
        y,
        (F.col(f"x.{key}") == F.col(f"y.{key}"))
        & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
    ).select(
        F.col(f"x.{id_col}").alias("a_id"),
        F.col(f"y.{id_col}").alias("b_id"),
        F.lit(same).alias(value_col),
    )
    return inter.unionByName(intra)


def signature_match(
    left_sig: DataFrame,
    right_sig: DataFrame,
    num_hashes: int,
    threshold: float,
    rows_per_band: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Ids from ``left_sig`` whose estimated Jaccard (fraction of equal
    minhash positions) with ANY ``right_sig`` row reaches ``threshold``.
    Candidates are pruned by LSH band collision first, so the quadratic
    estimate runs only on bucket collisions."""
    lb = minhash_bands(left_sig, rows_per_band, id_col)
    rb = minhash_bands(right_sig, rows_per_band, id_col).select(
        F.col(id_col).alias("_rid"), "band", "band_hash"
    )
    cand = (
        lb.join(rb, ["band", "band_hash"])
        .select(id_col, "_rid")
        .distinct()
    )
    l = left_sig.select(
        id_col, *[F.col(f"m{i}").alias(f"_la{i}") for i in range(num_hashes)]
    )
    r = right_sig.select(
        F.col(id_col).alias("_rid"),
        *[F.col(f"m{i}").alias(f"_ra{i}") for i in range(num_hashes)],
    )
    est = sum(
        F.when(F.col(f"_la{i}") == F.col(f"_ra{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    ) / F.lit(float(num_hashes))
    return (
        cand.join(l, id_col)
        .join(r, "_rid")
        .where(est >= F.lit(threshold))
        .select(id_col)
        .distinct()
    )


def near_dup_vs_reference(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag new documents that are near-duplicates of an EXISTING
    reference corpus — the incremental-crawl shape: the corpus is
    already deduped, only the fresh batch needs checking, and the
    reference side is touched as signatures only (k longs per doc),
    never as text. The batch twin of the streaming near-dup filter's
    store match: both call :func:`signature_match`.

    Returns DataFrame(id_col, is_dup_of_ref boolean) — one row per new
    doc. Matching is the MinHash position-agreement estimate
    (fraction of equal minhash positions >= threshold), candidates
    pruned by LSH band collision first; fully deterministic, so the
    whole decision column hash-matches a SQL oracle.

    Scale: signatures are one narrow row per doc; the band join is an
    equi-join on (band, band_hash) — reference lookups cost
    collisions, not corpus size. This function re-signs the reference
    on every call, the local-test path; at scale persist
    ``minhash_signatures(ref)`` once and match each batch's signatures
    against it with ``signature_match`` directly (the streaming
    filter's store does exactly this).
    """
    # signature_match references each signature relation twice (band
    # build + estimate join) — truncate so the shingle+min-hash subtree
    # computes once per side, not twice (4 text scans -> 2)
    sig_new = minhash_signatures(
        new_docs, num_hashes, n, text_col, id_col
    ).localCheckpoint(eager=False)
    sig_ref = minhash_signatures(
        ref_docs, num_hashes, n, text_col, id_col
    ).localCheckpoint(eager=False)
    dup = signature_match(
        sig_new, sig_ref, num_hashes, threshold, rows_per_band, id_col
    ).withColumn("_dup", F.lit(True))
    return (
        new_docs.select(id_col)
        .join(dup, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup_of_ref"),
        )
    )


# Largest identical-signature group at which minhash_near_dup_pairs
# contracts identical content before banding (see its docstring).
_CONTRACT_MIN_CLIQUE = 256


def minhash_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH near-dup: candidates share >= 1 band bucket, then the
    *exact* shingle Jaccard verifies. DataFrame(a_id, b_id, jaccard).

    The band equi-join (:func:`_bucket_pairs` on (band, band_hash)) is
    the only wide exchange over candidates — at scale this is the
    standard shingle->minhash->band->bucket-join pipeline; the
    verification joins each candidate pair to its two docs' shingle
    arrays by id and touches no other doc.

    Degenerate-bucket guard: identical normalized texts are contracted
    to ONE representative (md5 content key) BEFORE banding, so a
    planted 50k-copy cluster contributes one signature to the band
    join instead of a 50k-wide bucket whose self-join alone is
    C(50k,2) x n_bands candidate rows (the dbscan.py duplicate-
    contraction pattern). Intra-group pairs need no MinHash at all —
    identical shingle sets have Jaccard exactly 1 — and cross-group
    pairs inherit their representatives' verified Jaccard (Jaccard is
    a function of the shingle SETS, which the content key determines),
    so the expansion after verification is exact, not approximate.
    The expanded pair list (:func:`_expand_groups`, shared with
    SimHash) is still quadratic in clique size — that is the output's
    own semantics — but it comes from equi-joins on the member rows,
    never through banding or verification.

    The guard is ADAPTIVE and costs no extra corpus scan: identical
    content implies an identical signature, so the largest
    identical-SIGNATURE group — one agg over the signature relation
    the pipeline computes anyway — upper-triggers the contraction at
    ``_CONTRACT_MIN_CLIQUE`` (a size-g clique costs ~C(g,2) x n_bands
    uncontracted candidate rows — trivial at g=256, ruinous at g=50k).
    Below it the uncontracted pipeline runs as-is; identical output by
    construction. (A full-signature hash collision between distinct
    contents can only FALSE-trigger — the contraction itself keys on
    the md5 content, so output is never affected.)
    """
    # One shingle-set relation (one array row per doc) serves both the
    # signature groupBy and the exact-Jaccard verification — normalize/
    # split/shingle over the corpus runs once, not twice. Docs with NULL
    # text or fewer than n tokens get an empty set, hence no signature,
    # so they never reach the band join in either branch. The signature
    # relation (1 slim row/doc) is persisted: it feeds the adaptive
    # gate and the band projection.
    sets = _shingle_sets(df, text_col, id_col, n).persist()
    sig = minhash_signatures(
        df, num_hashes, n, text_col, id_col, shingles=sets
    ).persist()
    # Adaptive gate (round-9 watch item, round-10 made scan-free): the
    # contraction machinery — content-key groupBy, one semi-join
    # restriction, two expansion joins — exists to bound the
    # C(g,2) x n_bands band-join blowup of LARGE identical-content
    # cliques (the planted 50k-copy stress). Small dup groups are
    # handled correctly AND cheaply uncontracted: identical texts
    # yield identical signatures, collide in every band, and verify at
    # jaccard exactly 1. The gate rides the persisted sig relation —
    # a map-side-combined groupBy over the signature columns — so the
    # clique-free fast path pays one slim exchange, not a second
    # normalize+md5 pass over the text column.
    _mcols = [c for c in sig.columns if c.startswith("m")]
    _max_g = (
        sig.groupBy(*_mcols)
        .count()
        .agg(F.max("count").alias("_m"))
        .first()["_m"]
        or 0
    )
    contract = _max_g >= _CONTRACT_MIN_CLIQUE
    if contract:
        # Contract identical content: a NARROW (key, id) groupBy picks
        # min-id reps; the already-computed signature relation is
        # RESTRICTED to rep ids by semi-join (no re-shingling — dup
        # members' rows are identical to their rep's by construction),
        # and the verification's id joins then read reps' sets only.
        keyed = df.select(
            F.col(id_col), F.md5(normalized(text_col)).alias("_k")
        ).where(F.col("_k").isNotNull())
        reps = keyed.groupBy("_k").agg(
            F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("_gsize")
        ).persist()
        sig_v = sig.join(reps.select(id_col), id_col, "left_semi")
    else:
        sig_v = sig
    cand = _bucket_pairs(
        minhash_bands(sig_v, rows_per_band, id_col), id_col, "band", "band_hash"
    )
    pairs = _verify_exact_jaccard(sets, cand, id_col, threshold).localCheckpoint(
        eager=True
    )
    if contract:
        # Uncontracted, every doc carries its own signature, so the
        # verified pairs ARE the member pairs. Contracted, they are rep
        # pairs: expand them. Only groups whose rep HAS a signature
        # expand, as shingle-less docs never reach the band join
        # uncontracted; their intra pairs sit at Jaccard exactly 1, so
        # a threshold above 1 must still drop them.
        pairs = _expand_groups(
            pairs,
            reps.join(sig.select(id_col), id_col, "left_semi"),
            keyed,
            "_k",
            id_col,
            "jaccard",
            1.0,
        ).where(F.col("jaccard") >= threshold)
        reps.unpersist()
    sig.unpersist()
    sets.unpersist()
    return pairs


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    the rolling-hash fingerprinting scheme): hash every character
    k-gram of the normalized text, slide a w-gram window, keep each
    window's minimum hash. The selected set is a position-robust
    document signature — shared substrings of length >= k+w-1
    guarantee a shared fingerprint.

    Portable hashes (first 8 md5 hex digits as uint32) so the DuckDB
    oracle reproduces them bit-for-bit. Returns
    DataFrame(doc_id, fingerprints, n_selected) with ``fingerprints``
    a comma-joined string-sorted distinct hash list (engine-portable
    value hashing). Documents shorter than k normalized chars are
    dropped. The gram explode is ~|doc| rows per document — narrow data
    (id, pos, long), partition-local until the final per-doc groupBy.
    """
    from pyspark.sql import Window

    base = df.select(F.col(id_col), normalized(text_col).alias("_norm"))
    # explode the POSITIONS, hash as a per-row projection ABOVE the
    # Generate — the posexplode(transform(...)) lambda shape would let
    # CollapseProject inline `normalized(text)` into every lambda
    # element, re-normalizing the document once per gram, and the
    # per-doc gram-array build runs interpreted (the duplicated_spans
    # lesson, measured 165x there)
    grams = (
        base.where(F.length("_norm") >= k)
        .select(
            id_col,
            "_norm",
            F.explode(
                F.sequence(F.lit(1), F.length("_norm") - (k - 1))
            ).alias("pos"),
        )
        .select(
            id_col,
            "pos",
            F.conv(
                F.substring(
                    F.md5(F.col("_norm").substr(F.col("pos"), F.lit(k))), 1, 8
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    sel = grams.select(id_col, F.min("h").over(win).alias("_m"))
    return sel.groupBy(id_col).agg(
        F.array_join(
            F.array_sort(F.collect_set(F.col("_m").cast("string"))), ","
        ).alias("fingerprints"),
        F.count_distinct("_m").alias("n_selected"),
    )


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash over normalized tokens, from md5 bits (portable).

    bit_b(simhash) = 1 iff sum over distinct tokens of (+1 if bit_b of
    md5(token) else -1) > 0. Returned as DataFrame(doc_id, simhash
    string of 64 '0'/'1' chars) — a bit-string survives every engine's
    type system unscathed, unlike signed 64-bit ints.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(normalized(text_col), " "))).alias("tok"),
    ).withColumn("hhex", F.md5("tok"))

    # 16 hex digits materialized once per token (each digit carries 4
    # signature bits); the 64 bit-counters are then 64 wide SUM
    # aggregates over one row per token — map-side partial-aggregated,
    # with NO 64x bit-explode of the token relation (the naive layout;
    # 64x the shuffle at corpus scale).
    digit_cols = [
        F.conv(F.col("hhex").substr(d + 1, 1), 16, 10).cast("int").alias(f"_d{d}")
        for d in range(16)
    ]
    digits = toks.select(id_col, *digit_cols)

    def weight(b: int) -> F.Column:
        # bit b lives in hex digit b//4 with weight 8 >> (b % 4)
        mask = 8 >> (b % 4)
        return F.when(
            F.col(f"_d{b // 4}").bitwiseAND(F.lit(mask)) > 0, 1
        ).otherwise(-1)

    sums = digits.groupBy(id_col).agg(
        *[F.sum(weight(b)).alias(f"_s{b}") for b in range(64)]
    )
    return sums.select(
        id_col,
        F.concat(
            *[
                F.when(F.col(f"_s{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
                for b in range(64)
            ]
        ).alias("simhash"),
    )


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-duplicate PAIRS within Hamming distance
    ``max_hamming`` (Manku, Jain & Das Sarma, WWW'07 — Google's
    web-scale simhash dedup): split the 64-bit fingerprint into
    ``max_hamming + 1`` contiguous blocks; by pigeonhole, any pair
    within distance d <= max_hamming agrees EXACTLY on at least one
    block, so candidates come from a (block_index, block_bits)
    equi-join — never all pairs — and an exact Hamming verify filters
    the survivors. The Hamming-space sibling of the MinHash LSH band
    join (set similarity) and RP-LSH banding (cosine).

    Returns DataFrame(a_id, b_id, hamming int), ``a_id < b_id``,
    ``hamming <= max_hamming``. Fully portable (md5-bit simhash), so
    the whole pipeline carries an exact DuckDB oracle
    (`simhash_near_dup_pairs`).

    Scale shape: fingerprints are one narrow row per doc
    (localCheckpoint'd — three consumers, one token pass); the block
    join's bucket key has ``2^block_bits`` values per block index, so
    raising ``max_hamming`` coarsens blocks and grows candidates
    ~ n^2 / 2^(64/(d+1)) per block — the same recall/candidate trade
    every banded LSH here documents (n = DISTINCT fingerprints after
    the contraction below). Verify touches only candidates, as XOR +
    ``bit_count``
    over four 16-bit chunk ints — whole-stage codegen, ~4 integer ops
    per pair (the per-position string-compare lambda it replaces ran
    interpreted and cost 7x at the 1M-doc stress stage: 284 -> 40 s
    including the ~28M-candidate verify).

    Degenerate-bucket guard: the Hamming distance is a function of the
    SIGNATURES alone, so identical fingerprints are contracted to one
    representative before the block join — an exact-duplicate clique
    (which shares every block at any d) contributes ONE row per block
    instead of a clique-wide bucket whose self-join is C(clique, 2) x
    n_blocks candidate rows. The candidates are one
    :func:`_bucket_pairs` call on (blk, bits), and
    :func:`_expand_groups` turns the verified rep pairs back into
    member pairs: intra-group at Hamming 0, cross-group at the reps'
    distance. Exact, not approximate — the contraction key IS the
    quantity the verify computes over."""
    if not 0 <= max_hamming < 64:
        raise ValueError(
            f"simhash_near_dups: max_hamming must be in [0, 64), "
            f"got {max_hamming}"
        )
    full_sig = simhash64(df, text_col=text_col, id_col=id_col).persist()
    # one row per distinct fingerprint, keyed by its min-id rep
    groups = full_sig.groupBy("simhash").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("_gsize")
    ).persist()
    sig = groups.select(id_col, "simhash")
    n_blocks = max_hamming + 1
    base_len, rem = divmod(64, n_blocks)
    bounds = []
    start = 1
    for i in range(n_blocks):
        ln = base_len + (1 if i < rem else 0)
        bounds.append((start, ln))
        start += ln
    blocks = F.array(
        *[F.substring("simhash", s, ln) for s, ln in bounds]
    )
    banded = sig.select(
        F.col(id_col), F.posexplode(blocks).alias("blk", "bits")
    )
    cand = _bucket_pairs(banded, id_col, "blk", "bits")
    # verify via XOR + bit_count over four fixed 16-bit chunk ints —
    # whole-stage codegen, ~4 integer ops per candidate. The
    # per-position string-compare lambda it replaces ran interpreted
    # (64 x 2 substr per pair) and dominated the 1M-doc stress stage.
    chunk_cols = [
        F.conv(F.substring("simhash", 1 + 16 * i, 16), 2, 10)
        .cast("long")
        .alias(f"_c{i}")
        for i in range(4)
    ]
    hsig = sig.select(F.col(id_col), *chunk_cols)
    sa = hsig.select(
        F.col(id_col).alias("a_id"),
        *[F.col(f"_c{i}").alias(f"_a{i}") for i in range(4)],
    )
    sb = hsig.select(
        F.col(id_col).alias("b_id"),
        *[F.col(f"_c{i}").alias(f"_b{i}") for i in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"_a{i}").bitwiseXOR(F.col(f"_b{i}")))
        for i in range(4)
    )
    rep_pairs = (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .localCheckpoint(eager=True)
    )
    pairs = _expand_groups(
        rep_pairs, groups, full_sig, "simhash", id_col, "hamming", 0
    )
    groups.unpersist()
    full_sig.unpersist()
    return pairs


def cross_contamination(
    train: DataFrame,
    evals: DataFrame,
    n: int = 8,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/eval contamination detection: n-gram overlap between corpora.

    Returns DataFrame(train_id, eval_id, n_shared) — pairs sharing at
    least ``min_shared`` distinct word n-grams (the standard 8-13-gram
    collision test run before training on any corpus an eval set might
    have leaked into). Both sides reduce to DISTINCT (doc, shingle-hash)
    pairs, the join runs on the 60-bit md5 shingle hash — a fine-grained
    evenly-distributed key, never on text — and the eval side of any
    realistic run is orders of magnitude smaller, so Catalyst broadcasts
    it and the training corpus is never shuffled.

    Trade-off, deliberate: joining the hash instead of the shingle text
    means two DISTINCT shingles that collide in the 60-bit space would
    inflate ``n_shared`` by one (P ~ pairs/2^60 — negligible at any
    gate scale, and it can only ever overcount, never miss real
    overlap). The doc_contamination oracle joins raw shingle text, so
    a collision would surface as a hash mismatch there rather than
    hide.
    """
    t = (
        _doc_shingles(train, text_col, id_col, n)
        .select(
            F.col(id_col).alias("train_id"),
            shingle_base_hash("shingle").alias("_h"),
        )
        .distinct()
    )
    e = (
        _doc_shingles(evals, text_col, id_col, n)
        .select(
            F.col(id_col).alias("eval_id"),
            shingle_base_hash("shingle").alias("_h"),
        )
        .distinct()
    )
    return (
        t.join(e, "_h")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= int(min_shared))
    )


def chunk_dedup_stats(
    df: DataFrame,
    chunk_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document (paragraph-proxy) exact dedup: how much of each
    document is copied verbatim from EARLIER documents at chunk
    granularity.

    The corpus is cut into disjoint ``chunk_tokens``-token windows
    (``pipeline.chunk_documents``); a chunk is a duplicate iff the same
    chunk text already occurs at a lexicographically smaller
    ``(doc_id, chunk)`` position. Returns
    DataFrame(doc_id, n_chunks, n_dup_chunks, dup_ratio) with
    ``dup_ratio`` rounded to 4 digits.

    Scale shape: one shuffle on the chunk text (same profile as
    ``exact_dedup`` — at 100 TB hash the chunk first so the exchange
    carries a 16-byte key, which ``fingerprint()`` provides), then one
    groupBy on the doc id. First-occurrence is decided with a
    ``row_number`` over the chunk group ordered by (doc_id, chunk) —
    deterministic, engine-portable.
    """
    from pyspark.sql import Window

    from dbscan_pyspark_spark.operators.pipeline import chunk_documents

    chunks = chunk_documents(
        df, chunk_tokens=chunk_tokens, id_col=id_col, text_col=text_col
    ).select(id_col, "chunk", F.md5("chunk_text").alias("_fp"))
    w = Window.partitionBy("_fp").orderBy(id_col, "chunk")
    marked = chunks.select(
        id_col,
        (F.row_number().over(w) > 1).cast("int").alias("_dup"),
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("_dup").alias("n_dup_chunks"),
        F.round(F.sum("_dup") / F.count(F.lit(1)), 4).alias("dup_ratio"),
    )


def duplicated_spans(
    df: DataFrame,
    k: int = 10,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint: str = "md5",
    keep_first: bool = False,
) -> DataFrame:
    """Variable-length exact substring dedup — the suffix-array-lite
    span merge (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", there with a corpus suffix array on a
    single machine; here a sorted-k-gram anchor merge that
    distributes).

    A token position ``p`` in a document is an *anchor* iff the
    ``k``-token window starting there occurs at least ``min_count``
    times in the corpus (all occurrences counted, same-document
    repeats included). Maximal runs of CONSECUTIVE anchor positions
    merge into one span covering tokens ``[span_start, span_start +
    span_len)`` — so every ``k``-window inside a reported span is
    corpus-duplicated, and no span can be extended in either
    direction. That is exactly the k-gram upper bound on the suffix
    array's maximal duplicated substrings (every true duplicated
    substring of length >= k is contained in a reported span; a
    reported span's windows may match DIFFERENT other occurrences, so
    the span itself need not appear twice verbatim). Unlike
    :func:`chunk_dedup_stats`'s fixed disjoint windows, spans here are
    variable-length and alignment-free.

    Tokenization is :func:`~dbscan_pyspark_spark.functions.text.
    normalized` + single-space split — the corpus-wide canonical form,
    so the whole operator is ANSI-SQL-expressible and carries an exact
    DuckDB oracle (`doc_dup_spans`).

    Returns DataFrame(id, span_start long, span_len long), one row per
    maximal duplicated span, ``span_len >= k``.

    ``keep_first=True`` exempts each fingerprint's corpus-FIRST
    occurrence (min (doc_id, pos) over all occurrences — total, so
    deterministic) from anchoring: the keep-one-copy reading of Lee
    et al.'s dedup, where rare-but-duplicated content survives once
    instead of vanishing everywhere. The exemption is one
    ``row_number`` on the SAME (fingerprint) partition ordered by
    (doc, pos) — Spark computes it inside the count window's existing
    exchange+sort, so the plan gains no shuffle. Note the exemption
    is per-GRAM: a first occurrence can still fall inside a span when
    ADJACENT non-first duplicated grams cover its positions (overlap
    of distinct duplicated phrases), which is the k-gram upper-bound
    semantics, not a bug.

    Scale shape: the ONLY wide exchanges are (1) one shuffle of the
    k-gram stream keyed on the fingerprint for the anchor-count
    window, and (2) one shuffle on the doc id for the island merge —
    both fine-grained keys that hash-partition evenly. The
    groupBy-count + semi-join-back alternative was A/B'd at the
    2M-doc / 42M-gram stress stage and LOSES ~4x (51 s vs 13 s):
    gram fingerprints are mostly unique, so the map-side partial
    aggregation degenerates into a per-partition hash map the size of
    the partition's whole gram stream (build + spill), and the probe
    side still constructs the grams a second time — whereas the
    window plan shuffles each gram row exactly once and sorts. The
    same trade holds on a cluster: a partial agg that doesn't reduce
    is pure overhead on top of the identical-volume exchange.

    ``fingerprint``: ``"md5"`` (default) hashes the window TEXT — a
    32-hex key, effectively collision-free, and what the exact DuckDB
    oracle replays. ``"xxhash64"`` hashes the k token columns directly
    (multi-arg ``xxhash64``, no gram string built) — an 8-byte key
    that shrinks the gram-exchange row ~2.6x (52 -> 20 bytes at
    k=10), the lever that matters when the shuffle is network-bound
    on a cluster. Measured at 400k docs on local[32] BOTH modes tie
    (43-48 s — the cost there is the explode + window machinery, not
    hashing or key width), so md5 stays the default; with a 64-bit
    key expect ~n²/2^65 false-anchor gram pairs (≈27k at 10^12 grams
    — acceptable for curation, not for the exact contract).
    Degenerate-corpus note: a
    corpus that is ONE phrase repeated everywhere sends every k-gram
    to few fingerprints; the window count still partial-sorts per
    partition, and the anchor stream is the full gram stream — that
    regime is the signal (everything is duplicated), not a failure.
    """
    if k < 2:
        raise ValueError(f"duplicated_spans: k must be >= 2, got {k}")
    if min_count < 2:
        raise ValueError(
            f"duplicated_spans: min_count must be >= 2, got {min_count}"
        )
    pos1 = F.col("pos") + 1  # element_at/slice are 1-based
    if fingerprint == "md5":
        fp_expr = F.md5(F.concat_ws(" ", F.slice(F.col("_toks"), pos1, k)))
    elif fingerprint == "xxhash64":
        fp_expr = F.xxhash64(
            *[F.element_at(F.col("_toks"), pos1 + j) for j in range(k)]
        )
    else:
        raise ValueError(
            "duplicated_spans: fingerprint must be 'md5' or 'xxhash64', "
            f"got {fingerprint!r}"
        )
    from pyspark.sql import Window

    toks = F.split(normalized(F.col(text_col)), " ")
    base = df.select(F.col(id_col), toks.alias("_toks")).where(
        F.size("_toks") >= k
    )
    # Explode the POSITIONS, then fingerprint as a plain per-row
    # projection ABOVE the Generate — never `posexplode(transform(
    # sequence, fp))`. The lambda shape (a) builds an interpreted
    # per-doc array of fingerprint strings outside whole-stage codegen
    # and (b) lets CollapseProject inline `split(normalized(text))`
    # into every lambda evaluation, re-tokenizing the document once
    # PER GRAM. Measured at 10.5M grams: 66.4 s lambda-shape vs 0.4 s
    # this shape — 165x. The projection can't sink below the Generate
    # (it references `pos`), so `_toks` is computed once per document.
    grams = base.select(
        id_col,
        "_toks",
        F.explode(F.sequence(F.lit(0), F.size("_toks") - k)).alias("pos"),
    ).select(id_col, "pos", fp_expr.alias("_fp"))
    w_fp = Window.partitionBy("_fp")
    anchors = grams.withColumn("_cnt", F.count(F.lit(1)).over(w_fp))
    if keep_first:
        w_fp_ord = Window.partitionBy("_fp").orderBy(
            F.col(id_col).asc(), F.col("pos").asc()
        )
        anchors = anchors.withColumn(
            "_occ", F.row_number().over(w_fp_ord)
        ).where((F.col("_cnt") >= min_count) & (F.col("_occ") > 1))
    else:
        anchors = anchors.where(F.col("_cnt") >= min_count)
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    islands = anchors.withColumn(
        "_grp", F.col("pos") - F.row_number().over(w_doc)
    )
    return (
        islands.groupBy(id_col, "_grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + F.lit(k))
            .cast("long")
            .alias("span_len"),
        )
        .drop("_grp")
    )


def strip_duplicated_spans(
    df: DataFrame,
    k: int = 10,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_first: bool = False,
) -> DataFrame:
    """The removal step of substring-level dedup (Lee et al. 2022 strip
    every duplicated substring from the corpus): drop every token that
    lies inside ANY :func:`duplicated_spans` span of its document and
    reassemble the survivors in original order. Default is the
    conservative all-occurrences-go reading (curation pipelines that
    strip boilerplate-grade repetition want all-gone, cf.
    :func:`strip_frequent_segments`); ``keep_first=True`` exempts each
    duplicated gram's corpus-first occurrence (min (doc, pos) — see
    :func:`duplicated_spans`), the keep-one-copy reading, at zero
    extra shuffle (the occurrence rank rides the count window's
    exchange+sort).

    Returns DataFrame(id, clean_text, n_tokens, n_dropped). Tokens are
    the corpus-canonical normalized form (same as
    :func:`duplicated_spans`), so ``clean_text`` is normalized text.

    Scale shape: the spans relation is tiny relative to the corpus
    (near-dup regions only), so coverage is decided doc-locally — one
    groupBy collects each doc's spans to an array (bounded by spans
    per doc, not corpus), a LEFT join hands it to the token pass, and
    an ``exists()`` lambda per token checks span membership. No token
    explode, no per-token shuffle.
    """
    spans = duplicated_spans(
        df, k=k, min_count=min_count, id_col=id_col, text_col=text_col,
        keep_first=keep_first,
    )
    doc_spans = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_len")).alias("_spans")
    )
    toks = F.split(normalized(F.col(text_col)), " ")
    # NULL text would flow through as a NULL token array (size/counts
    # all NULL under this session's ANSI semantics) — drop those docs,
    # matching the oracle's unnest-of-NULL behavior (emits no row) and
    # duplicated_spans' own size >= k filter
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("_toks"))
        .join(doc_spans, id_col, "left")
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda s: (i >= s.getField("span_start"))
        & (i < s.getField("span_start") + s.getField("span_len")),
    )
    kept = F.when(
        F.col("_spans").isNull(), F.col("_toks")
    ).otherwise(
        F.filter("_toks", lambda t, i: ~covered(i.cast("long")))
    )
    return base.select(
        id_col,
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_dropped"),
    )


def strip_frequent_segments(
    df: DataFrame,
    max_doc_freq: int,
    seg_tokens: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style boilerplate removal (Wenzek et al., LREC'20 — there
    at paragraph granularity): drop every segment whose text occurs in
    MORE THAN ``max_doc_freq`` distinct documents (nav bars, cookie
    banners, license footers — content shared across many pages is
    boilerplate, not signal), and reassemble each document from its
    surviving segments in original order.

    Real corpora segment on newlines/paragraphs; this corpus is
    single-line, so segments are the disjoint ``seg_tokens``-token
    windows of :func:`~dbscan_pyspark_spark.operators.pipeline.
    chunk_documents` — the deterministic fallback segmenter (swap in a
    newline split upstream for paragraph data; the frequency/strip
    machinery is segmenter-agnostic).

    Returns DataFrame(id, clean_text, n_segments, n_dropped); a fully
    boilerplate document comes back with ``clean_text = ''``, never
    disappears.

    Scale shape: ONE explode of the corpus into segments, ONE
    segment-keyed groupBy for document frequency (map-side combine;
    fine-grained evenly-hashing key), then a left join of the segment
    rows against the FREQUENT set only — bounded above by
    total_segments / max_doc_freq, so AQE plans it broadcast in the
    common case — and ONE per-document re-aggregation. No window, no
    self-join, nothing quadratic.
    """
    from dbscan_pyspark_spark.operators.pipeline import chunk_documents

    if max_doc_freq < 1:
        raise ValueError("strip_frequent_segments: max_doc_freq >= 1")
    segs = chunk_documents(
        df, chunk_tokens=seg_tokens, id_col=id_col, text_col=text_col
    ).select(id_col, "chunk", "chunk_text")
    frequent = (
        segs.groupBy("chunk_text")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .where(F.col("_df") > max_doc_freq)
        .select("chunk_text", F.lit(True).alias("_drop"))
    )
    flagged = segs.join(frequent, "chunk_text", "left")
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_drop").isNull(),
                            F.struct(
                                F.col("chunk").alias("pos"),
                                F.col("chunk_text").alias("seg"),
                            ),
                        )
                    )
                ),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.coalesce(F.col("_drop").cast("long"), F.lit(0))).alias(
            "n_dropped"
        ),
    )


def fuzzy_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 2,
    block_expr: Column | None = None,
) -> DataFrame:
    """Fuzzy self-match: all pairs of DISTINCT values of ``col`` within
    ``max_dist`` edit distance (the entity-resolution primitive —
    catalog/name/address matching).

    Scale shape: never all-pairs. One side explodes to its candidate
    LENGTH BAND [len-k, len+k] (edit distance >= length difference, so
    no true pair escapes), the other joins on exact length — an
    equi-join whose candidate count is bounded by values sharing a
    length band. ``block_expr`` adds a second equi-key (e.g. a phonetic
    code or first token) to tighten candidates when the corpus is
    large; the default is length-only. The exact ``levenshtein``
    residual runs only on candidates. Returns
    DataFrame(a_value, b_value, dist) with a_value < b_value.
    """
    vals = df.select(F.col(col).cast("string").alias("_v")).where(
        F.col("_v").isNotNull()
    ).distinct()
    blocked = (
        vals.withColumn("_blk", block_expr) if block_expr is not None else
        vals.withColumn("_blk", F.lit(0))
    )
    a = blocked.select(
        F.col("_v").alias("a_value"),
        F.col("_blk").alias("_ablk"),
        F.explode(
            F.sequence(
                F.length("_v") - max_dist, F.length("_v") + max_dist
            )
        ).alias("_probe_len"),
    )
    b = blocked.select(
        F.col("_v").alias("b_value"),
        F.col("_blk").alias("_bblk"),
        F.length("_v").alias("_lb"),
    )
    cand = a.join(
        b,
        (a["_probe_len"] == b["_lb"])
        & (a["_ablk"] == b["_bblk"])
        & (a["a_value"] < b["b_value"]),
    )
    # pairs are already unique: vals is distinct, each b row has one
    # length, and a's band contains each probe length once — no
    # trailing distinct (it would re-shuffle the scored relation)
    return cand.select(
        "a_value",
        "b_value",
        F.levenshtein("a_value", "b_value").alias("dist"),
    ).where(F.col("dist") <= max_dist)


def minhash_estimate_errors(
    df: DataFrame,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-candidate-pair MinHash estimator error: the banded LSH
    candidate set with BOTH the signature-agreement estimate
    (matching minhash slots / num_hashes) and the exact shingle
    Jaccard. DataFrame(a_id, b_id, est_jaccard, exact_jaccard) — the
    estimator-calibration relation (bucketed into an error histogram
    by the contract query).

    Fully deterministic: signatures are the portable fixed-seed
    universal hashes, the estimate is k/num_hashes (exactly
    representable when num_hashes is a power of two), and the exact
    side is the unrounded n_common / n_union of :func:`_overlap`, the
    overlap :func:`minhash_near_dup_pairs` verifies with. Candidate
    pairs that share a band bucket but no shingle (possible only via
    mod-P hash collision) keep their row with exact_jaccard = 0.

    Scale shape: identical to minhash_near_dup_pairs — band equi-join
    candidates, verification on the candidate row; the extra signature
    joins are per-candidate, not per-corpus.
    """
    sets = _shingle_sets(df, text_col, id_col, n).persist()
    sig = minhash_signatures(
        df, num_hashes, n, text_col, id_col, shingles=sets
    ).persist()
    cand = _bucket_pairs(
        minhash_bands(sig, rows_per_band, id_col), id_col, "band", "band_hash"
    )

    sig_a = sig.select(
        F.col(id_col).alias("a_id"),
        *[F.col(f"m{i}").alias(f"_ma{i}") for i in range(num_hashes)],
    )
    sig_b = sig.select(
        F.col(id_col).alias("b_id"),
        *[F.col(f"m{i}").alias(f"_mb{i}") for i in range(num_hashes)],
    )
    matches = None
    for i in range(num_hashes):
        t = (F.col(f"_ma{i}") == F.col(f"_mb{i}")).cast("int")
        matches = t if matches is None else matches + t

    out = (
        _overlap(sets, cand, id_col)
        .join(sig_a, "a_id")
        .join(sig_b, "b_id")
        .select(
            "a_id",
            "b_id",
            (matches / F.lit(float(num_hashes))).alias("est_jaccard"),
            (F.col("n_common") / F.col("n_union")).alias("exact_jaccard"),
        )
    )
    out = out.localCheckpoint(eager=True)
    sig.unpersist()
    sets.unpersist()
    return out


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT shingle-Jaccard pairs >= threshold via prefix filtering
    (Chaudhuri/Bayardo AllPairs-style) — identical output to
    :func:`ngram_jaccard_pairs`, with the candidate join restricted to
    each document's RAREST shingles.

    With shingles globally ordered by (document frequency, shingle), a
    pair with Jaccard >= t has overlap >= ceil(t*|A|), so both docs
    must share a shingle inside their first |X| - ceil(t*|X|) + 1
    prefix positions — the candidate equi-join touches only those
    prefix rows (the rare end of the df distribution), instead of the
    full inverted index whose cost is Σ df² over ALL shingles. The
    survivors are then exactly verified on the candidate row
    (:func:`_verify_exact_jaccard`). At 100 TB this is the exact-dedup twin of the
    MinHash path: no probabilistic recall loss, candidate volume
    controlled by the frequency-ordered prefix instead of bands.

    MEASURED (sf0.01, 5k docs, t=0.3): candidate rows 13,985 -> 4,282
    (3.3x fewer), but wall 0.8 s -> 2.7 s — the df-ranking window costs
    more than the pruning saves at toy scale. The candidate-volume
    factor is the scale argument (Σ df_prefix² vs Σ df² grows with
    corpus); below ~10^5 docs prefer :func:`ngram_jaccard_pairs`.
    """
    from pyspark.sql import Window

    sets = _shingle_sets(df, text_col, id_col, n).persist()
    sh = _sized_shingles(sets, id_col)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy(id_col).orderBy("_df", "shingle")
    ranked = sh.join(dfreq, "shingle").withColumn("_pos", F.row_number().over(w))
    # required overlap computed in EXACT RATIONAL arithmetic, from the
    # rounded acceptance condition: the output keeps round(J, 6) >= t,
    # so a pair with true J as low as t - 5e-7 can be accepted — the
    # candidate bound must use t_eff = t - 1/(2e6). Doubles would also
    # overshoot ceil(t*s) for thresholds like 0.28 (0.28*25 ->
    # 7.000000000000001 -> ceil 8), silently shortening the prefix and
    # dropping qualifying pairs; integer div arithmetic cannot.
    from fractions import Fraction

    t_eff = Fraction(str(threshold)) - Fraction(1, 2 * 10**6)
    num, den = t_eff.numerator, t_eff.denominator
    alpha = F.greatest(
        F.expr(f"({num}L * n_sh + {den - 1}L) div {den}L"), F.lit(1)
    )
    prefix = ranked.where(
        F.col("_pos") <= F.col("n_sh") - alpha + 1
    ).select(id_col, "shingle")
    cand = _bucket_pairs(prefix, id_col, "shingle")
    out = _verify_exact_jaccard(sets, cand, id_col, threshold).localCheckpoint(
        eager=True
    )
    sets.unpersist()
    return out


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 3,
    key_expr: Column | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernández & Stolfo,
    SIGMOD'95) — the classic blocking ALTERNATIVE to LSH and the
    length-band join: impose a total order on a sort key (default: the
    normalized text), then pair every record with its next ``window``
    successors in that order. Near-identical records share long key
    prefixes and land adjacent, so the candidate count is exactly
    n·window — linear, tunable, and independent of value-frequency skew
    (a hot blocking key inflates a block join; it cannot inflate a
    fixed-width neighborhood).

    Each candidate pair carries the exact ``levenshtein`` edit distance
    between the keys; ``max_dist`` keeps only pairs within it (None =
    emit all candidates with their distance — the recall-analysis
    relation). Returns DataFrame(a_id, b_id, dist int) with the pair
    oriented by sort order (a precedes b).

    Scale shape: the total order comes from the two-phase distributed
    ranker (:func:`~dbscan_pyspark_spark.operators.windows.
    global_row_number`: range-repartition + within-partition window +
    broadcast prefix offsets — no single-task global sort). The
    neighborhood join is an equi-join on rank (each left row explodes
    to its ``window`` successor ranks), hash-partitioned by rank —
    never a range/theta join. Edit-distance cost is bounded by
    key length²·n·window; at corpus scale pass a truncated
    ``key_expr`` (e.g. ``F.substring(normalized("text"), 1, 64)``) or
    use Spark's thresholded ``levenshtein(l, r, threshold)`` — kept
    un-thresholded here because the DuckDB oracle has no thresholded
    form and exactness wins at contract scale.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    key = normalized(text_col) if key_expr is None else key_expr
    keyed = df.select(F.col(id_col), key.alias("_k")).where(
        F.col("_k").isNotNull()
    )
    from dbscan_pyspark_spark.operators.windows import global_row_number

    ranked, _n = global_row_number(
        keyed, [F.col("_k"), F.col(id_col)], out_col="_rn"
    )
    a = ranked.select(
        F.col(id_col).alias("a_id"),
        F.col("_k").alias("_ka"),
        F.explode(
            F.sequence(F.col("_rn") + 1, F.col("_rn") + window)
        ).alias("_rn_b"),
    )
    b = ranked.select(
        F.col(id_col).alias("b_id"),
        F.col("_k").alias("_kb"),
        F.col("_rn").alias("_rn_b"),
    )
    out = a.join(b, "_rn_b").select(
        "a_id", "b_id", F.levenshtein("_ka", "_kb").alias("dist")
    )
    if max_dist is not None:
        out = out.where(F.col("dist") <= max_dist)
    return out
