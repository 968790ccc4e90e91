import pytest
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash64,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "The quick brown fox jumps over the lazy dog near the river bank!"),  # exact dup after norm
    (3, "the quick brown fox jumps over the lazy dog near the river delta"),  # near dup
    (4, "completely different words about spark dataframes and shuffles here"),
    (5, "another unrelated document mentioning joins aggregates and windows"),
]


def _jaccard(a, b, n=3):
    def sh(t):
        toks = t.lower().replace("!", " ").split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B)


def test_exact_dedup(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    out = {r["doc_id"]: r["n_copies"] for r in exact_dedup(df).collect()}
    # docs 1 and 2 normalize identically -> survivor is min id 1, 2 copies
    assert out[1] == 2
    assert 2 not in out
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_ngram_jaccard_matches_python(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.2).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    exp_13 = _jaccard(DOCS[0][1], DOCS[2][1])
    assert abs(got[(1, 3)] - exp_13) < 1e-6
    assert (1, 4) not in got and (4, 5) not in got


def test_minhash_finds_near_dups(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pairs = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in minhash_near_dup_pairs(df, threshold=0.2).collect()
    }
    # identical docs always collide in every band
    assert pairs[(1, 2)] == 1.0
    # jaccard reported by minhash verification is the EXACT jaccard
    if (1, 3) in pairs:
        assert abs(pairs[(1, 3)] - _jaccard(DOCS[0][1], DOCS[2][1])) < 1e-6
    # unrelated docs never verified in
    assert (1, 4) not in pairs


def test_simhash_properties(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    out = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}
    assert all(len(s) == 64 and set(s) <= {"0", "1"} for s in out.values())
    assert out[1] == out[2]  # identical token sets

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    # near-dup pair closer in hamming space than unrelated pair
    assert ham(out[1], out[3]) < ham(out[1], out[4])


def test_winnow_fingerprints_shared_substring(spark):
    from dbscan_pyspark_spark.operators.dedup import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = [
        (1, shared + " and then some unique tail text here"),
        (2, "a totally different beginning before " + shared),
        (3, "nothing in common with the others at all whatsoever friend"),
        (4, "tiny"),  # shorter than k after normalization -> dropped
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in winnow_fingerprints(df, k=8, w=4).collect()}
    assert 4 not in out  # short doc dropped
    f1 = set(out[1]["fingerprints"].split(","))
    f2 = set(out[2]["fingerprints"].split(","))
    f3 = set(out[3]["fingerprints"].split(","))
    # winnowing guarantee: a shared substring of length >= k+w-1 yields
    # at least one shared selected hash
    assert f1 & f2
    # overlap with the shared-substring pair far exceeds the unrelated doc
    assert len(f1 & f2) > len(f1 & f3)
    assert out[1]["n_selected"] == len(f1)


def test_cross_contamination_counts_shared_ngrams(spark):
    from dbscan_pyspark_spark.operators.dedup import cross_contamination

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares 3-grams with eval 10
            (2, "totally different words here"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(10, "quick brown fox jumps high"), (11, "nothing in common at all")],
        "doc_id long, text string",
    )
    got = {
        (r["train_id"], r["eval_id"]): r["n_shared"]
        for r in cross_contamination(train, evals, n=3).collect()
    }
    # shared 3-grams: "quick brown fox", "brown fox jumps"
    assert got == {(1, 10): 2}


def test_repetition_ratio_values(spark):
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.functions.text import normalized, repetition_ratio

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),  # 7 trigrams, 3 distinct
            (2, "all distinct tokens entirely"),  # 2 trigrams, 2 distinct
            (3, "too short"),  # no trigram
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["rr"]
        for r in docs.select(
            "doc_id", F.split(normalized("text"), " ").alias("_toks")
        )
        .select("doc_id", F.round(repetition_ratio("_toks", 3), 6).alias("rr"))
        .collect()
    }
    assert got == {1: round(1 - 3 / 7, 6), 2: 0.0, 3: 0.0}


def test_chunk_dedup_stats_marks_copied_chunks(spark):
    from dbscan_pyspark_spark.operators.dedup import chunk_dedup_stats

    base = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [
            (1, base + " alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            # doc 2 copies doc 1's first 10-token chunk verbatim
            (2, base + " unique tail words here now and then some more stop"),
            (3, "totally fresh content with no overlap at all whatsoever indeed"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in chunk_dedup_stats(df, chunk_tokens=10).collect()
    }
    assert out[1]["n_chunks"] == 2 and out[1]["n_dup_chunks"] == 0
    assert out[2]["n_chunks"] == 2 and out[2]["n_dup_chunks"] == 1
    assert out[2]["dup_ratio"] == 0.5
    assert out[3]["n_dup_chunks"] == 0


def test_chunk_dedup_first_occurrence_wins(spark):
    from dbscan_pyspark_spark.operators.dedup import chunk_dedup_stats

    text = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [(7, text), (9, text), (8, text)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["n_dup_chunks"]
        for r in chunk_dedup_stats(df, chunk_tokens=10).collect()
    }
    # lowest (doc_id, chunk) owns the chunk; later ones are dups
    assert out == {7: 0, 8: 1, 9: 1}


def test_fuzzy_pairs_finds_near_names(spark):
    from dbscan_pyspark_spark.operators.dedup import fuzzy_pairs

    df = spark.createDataFrame(
        [("red widget",), ("red widgets",), ("red midget",),
         ("blue bolt",), ("completely different",)],
        "name string",
    )
    got = {
        (r["a_value"], r["b_value"]): r["dist"]
        for r in fuzzy_pairs(df, "name", max_dist=2).collect()
    }
    assert got[("red widget", "red widgets")] == 1
    assert got[("red midget", "red widget")] == 1
    assert got[("red midget", "red widgets")] == 2
    assert not any("blue bolt" in k or "completely different" in k
                   for pair in got for k in pair)


def test_fuzzy_pairs_length_band_is_lossless(spark):
    """No true pair can escape the length-band blocking: compare to a
    brute-force cross of all distinct values."""
    from itertools import combinations

    from dbscan_pyspark_spark.operators.dedup import fuzzy_pairs

    words = ["abc", "abcd", "abd", "xyz", "xy", "abcde", "zzzzz", "azc"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        (r["a_value"], r["b_value"])
        for r in fuzzy_pairs(df, "w", max_dist=2).collect()
    }

    def lev(a, b):
        import numpy as np
        d = np.arange(len(b) + 1)
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return int(d[-1])

    want = {
        tuple(sorted((x, y)))
        for x, y in combinations(words, 2)
        if lev(x, y) <= 2
    }
    assert got == want


def test_near_dup_vs_reference_flags_only_cross_corpus_dups(spark):
    from dbscan_pyspark_spark.operators.dedup import near_dup_vs_reference

    base = "the quick brown fox jumps over the lazy dog again and again today"
    ref = spark.createDataFrame(
        [(0, base), (2, "completely different reference text about spark engines")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base + " ok"),                    # near-dup of ref doc 0
            (3, "fresh unseen content with no overlap whatsoever here"),
            (5, "fresh unseen content with no overlap whatsoever here"),
            # 3 and 5 duplicate EACH OTHER but not the reference — must
            # NOT be flagged (batch-internal dedup is near_dup_dedup's job)
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["is_dup_of_ref"]
        for r in near_dup_vs_reference(new, ref, threshold=0.5).collect()
    }
    assert got == {1: True, 3: False, 5: False}


def test_strip_frequent_segments_drops_boilerplate_keeps_order(spark):
    """Segments in > max_doc_freq docs are stripped, survivors
    reassemble in original order, a fully-boilerplate doc returns ''
    (never disappears), and max_doc_freq validates."""
    import pytest as _pytest

    from dbscan_pyspark_spark.operators.dedup import strip_frequent_segments

    bp = "accept all cookies"  # 3-token boilerplate in 3 docs
    rows = [
        (1, f"{bp} alpha beta gamma delta eps zeta"),
        (2, f"one two three {bp} four five six"),  # segment-aligned
        (3, bp),  # boilerplate-only doc
        (4, "seven eight nine ten eleven twelve"),
        (5, f"pad {bp} tail tail2"),  # NOT segment-aligned
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    out = {
        r["doc_id"]: (r["clean_text"], r["n_segments"], r["n_dropped"])
        for r in strip_frequent_segments(
            df, max_doc_freq=2, seg_tokens=3
        ).collect()
    }
    assert len(out) == 5
    assert out[1] == ("alpha beta gamma delta eps zeta", 3, 1)
    assert out[2] == ("one two three four five six", 3, 1)
    assert out[3] == ("", 1, 1)
    assert out[4] == ("seven eight nine ten eleven twelve", 2, 0)
    # doc 5's windows straddle the boilerplate ("pad accept all" /
    # "cookies tail tail2"), so its segments never match bp and nothing
    # drops: segment identity is positional, like CCNet's paragraph
    # hashing — misaligned copies are the recall limit of this stage
    assert out[5] == (f"pad {bp} tail tail2", 2, 0)

    with _pytest.raises(ValueError):
        strip_frequent_segments(df, max_doc_freq=0)


def test_duplicated_spans_planted_cross_doc(spark):
    """A phrase shared by two docs becomes ONE maximal span per doc at
    the right offset/length; windows straddling the span edge are
    unique so the span cannot be extended (maximality)."""
    import pytest as _pytest

    from dbscan_pyspark_spark.operators.dedup import duplicated_spans

    shared = " ".join(f"s{i}" for i in range(15))
    df = spark.createDataFrame(
        [
            (1, "a1 a2 a3 " + shared + " a4 a5"),
            (2, "b1 " + shared + " b2 b3 b4 b5 b6"),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in duplicated_spans(df, k=5).collect()
    )
    assert got == [(1, 3, 15), (2, 1, 15)]

    with _pytest.raises(ValueError, match="k"):
        duplicated_spans(df, k=1)
    with _pytest.raises(ValueError, match="min_count"):
        duplicated_spans(df, k=5, min_count=1)


def test_duplicated_spans_gap_splits_and_same_doc_repeats(spark):
    """Two separated duplicated regions in one doc yield two spans
    (the gap breaks the anchor island); repeats WITHIN one document
    count toward min_count (corpus occurrences, not distinct docs)."""
    from dbscan_pyspark_spark.operators.dedup import duplicated_spans

    r1 = " ".join(f"p{i}" for i in range(6))
    r2 = " ".join(f"q{i}" for i in range(6))
    df = spark.createDataFrame(
        [
            (1, r1 + " x1 x2 x3 " + r2),
            (2, "y1 " + r1 + " y2 y3 " + r2 + " y4"),
            # doc 3: the same phrase twice with a separator — both
            # occurrences' windows occur twice in the corpus
            (3, r1.replace("p", "w") + " z1 " + r1.replace("p", "w")),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in duplicated_spans(df, k=5).collect()
    )
    assert got == [
        (1, 0, 6), (1, 9, 6),
        (2, 1, 6), (2, 9, 6),
        (3, 0, 6), (3, 7, 6),
    ]


def test_duplicated_spans_short_docs_and_normalization(spark):
    """Docs shorter than k tokens emit nothing; tokenization is the
    corpus-canonical normalized form, so case/punctuation variants of
    the same phrase still anchor each other."""
    from dbscan_pyspark_spark.operators.dedup import duplicated_spans

    df = spark.createDataFrame(
        [
            (1, "The Quick, Brown Fox! Jumps over the lazy dog end1"),
            (2, "the quick brown fox jumps over THE lazy dog... end2"),
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in duplicated_spans(df, k=5).collect()
    )
    # shared normalized region: 'the quick brown fox jumps over the
    # lazy dog' = 9 tokens at position 0 of both docs
    assert got == [(1, 0, 9), (2, 0, 9)]


def test_strip_duplicated_spans_removes_all_occurrences(spark):
    """Every token inside any duplicated span goes — in BOTH documents
    sharing the phrase (the conservative all-occurrences variant);
    unique tokens and sub-k docs survive untouched."""
    from dbscan_pyspark_spark.operators.dedup import strip_duplicated_spans

    shared = " ".join(f"s{i}" for i in range(8))
    df = spark.createDataFrame(
        [
            (1, "a1 a2 " + shared + " a3"),
            (2, shared + " b1 b2 b3"),
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_dropped"])
        for r in strip_duplicated_spans(df, k=5).collect()
    }
    assert out[1] == ("a1 a2 a3", 11, 8)
    assert out[2] == ("b1 b2 b3", 11, 8)
    assert out[3] == ("tiny doc", 2, 0)


def test_strip_duplicated_spans_overlapping_coverage(spark):
    """Two islands whose token coverage overlaps must not double-drop:
    n_dropped counts the coverage UNION."""
    from dbscan_pyspark_spark.operators.dedup import (
        duplicated_spans,
        strip_duplicated_spans,
    )

    # doc 1 carries r1 then r2 with a 1-token gap; with k=3 the gap
    # token's windows straddle both regions and are unique, so two
    # islands form whose k-extended coverage overlaps the gap region
    r1 = "p0 p1 p2 p3"
    r2 = "q0 q1 q2 q3"
    df = spark.createDataFrame(
        [
            (1, r1 + " z " + r2),
            (2, r1 + " y1 y2 " + r2 + " y3"),
        ],
        "doc_id long, text string",
    )
    spans = sorted(
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in duplicated_spans(df, k=3).collect()
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_dropped"])
        for r in strip_duplicated_spans(df, k=3).collect()
    }
    # doc 1: spans cover tokens 0-3 and 5-8; the gap 'z' survives
    assert out[1] == ("z", 8)
    assert out[2] == ("y1 y2 y3", 8)
    assert all(ln >= 3 for _, _, ln in spans)


def test_strip_duplicated_spans_null_text_dropped(spark):
    """NULL text must not leak a NULL token count into the output —
    the doc is dropped, matching the oracle's unnest-of-NULL (no
    row)."""
    from dbscan_pyspark_spark.operators.dedup import strip_duplicated_spans

    df = spark.createDataFrame(
        [(1, "some real text here today"), (2, None)],
        "doc_id long, text string",
    )
    rows = strip_duplicated_spans(df, k=3).collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert all(r["n_tokens"] >= 0 for r in rows)


def test_duplicated_spans_fingerprint_modes_agree(spark):
    """The xxhash64 scale key and the oracle-portable md5 key find the
    SAME spans on a collision-free corpus; unknown modes raise."""
    import pytest as _pytest

    from dbscan_pyspark_spark.operators.dedup import duplicated_spans

    shared = " ".join(f"s{i}" for i in range(12))
    df = spark.createDataFrame(
        [
            (1, "a1 a2 " + shared + " a3 a4"),
            (2, shared + " b1 b2 b3 b4 b5"),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13"),
        ],
        "doc_id long, text string",
    )
    md5_out = sorted(map(tuple, duplicated_spans(df, k=5).collect()))
    xx_out = sorted(
        map(
            tuple,
            duplicated_spans(df, k=5, fingerprint="xxhash64").collect(),
        )
    )
    assert md5_out == xx_out and len(md5_out) == 2

    with _pytest.raises(ValueError, match="fingerprint"):
        duplicated_spans(df, k=5, fingerprint="sha1")


def test_strip_keep_first_preserves_one_copy(spark):
    """keep_first=True: the corpus-first occurrence of a duplicated
    phrase survives, later occurrences are stripped; compared to the
    all-occurrences variant every document drops a subset of tokens."""
    from dbscan_pyspark_spark.operators.dedup import (
        strip_duplicated_spans,
    )

    phrase = "p1 p2 p3 p4 p5"
    rows = [
        (1, f"{phrase} a b c d e"),   # first occurrence (min doc, pos 0)
        (2, f"x y z {phrase} w v"),   # repeat -> stripped
        (3, f"{phrase} q r s t u"),   # repeat -> stripped
        (4, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10"),  # no dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {
        r["doc_id"]: (r["clean_text"], r["n_dropped"])
        for r in strip_duplicated_spans(df, k=5, keep_first=True).collect()
    }
    # doc 1 keeps the phrase; docs 2/3 lose exactly the 5 phrase tokens
    assert kept[1] == (f"{phrase} a b c d e", 0)
    assert kept[2] == ("x y z w v", 5)
    assert kept[3] == ("q r s t u", 5)
    assert kept[4][1] == 0

    # subset property vs the all-occurrences variant, same corpus
    all_gone = {
        r["doc_id"]: r["n_dropped"]
        for r in strip_duplicated_spans(df, k=5).collect()
    }
    assert all_gone[1] == 5  # all-occurrences strips the first copy too
    for d, (_, nd) in kept.items():
        assert nd <= all_gone[d]


def test_strip_keep_first_same_doc_repeats(spark):
    """Within one document, the first occurrence wins (min pos) and
    the later repeat is stripped."""
    from dbscan_pyspark_spark.operators.dedup import (
        duplicated_spans,
        strip_duplicated_spans,
    )

    phrase = "p1 p2 p3 p4 p5"
    df = spark.createDataFrame(
        [(1, f"{phrase} m1 m2 m3 {phrase}")], "doc_id long, text string"
    )
    spans = duplicated_spans(df, k=5, keep_first=True).collect()
    assert [(r["span_start"], r["span_len"]) for r in spans] == [(8, 5)]
    out = strip_duplicated_spans(df, k=5, keep_first=True).collect()[0]
    assert out["clean_text"] == f"{phrase} m1 m2 m3"
    assert out["n_dropped"] == 5


@pytest.mark.slow
def test_simhash_near_dups_pigeonhole_exact(spark):
    """The block join loses NO pair within max_hamming (pigeonhole
    guarantee): compare against brute-force all-pairs Hamming on a
    small corpus with planted near-identical docs."""
    from dbscan_pyspark_spark.operators.dedup import (
        simhash64,
        simhash_near_dups,
    )

    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        (1, base),
        (2, base),                                   # exact dup -> h=0
        (3, base + " extra1 extra2"),                # near dup
        (4, " ".join(f"other{i}" for i in range(60))),  # unrelated
        (5, base.replace("tok3", "swap3")),          # near dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}

    def ham(a, b):
        return sum(x != y for x, y in zip(sig[a], sig[b]))

    for d in (0, 3, 7):
        got = sorted(
            (r["a_id"], r["b_id"], r["hamming"])
            for r in simhash_near_dups(df, max_hamming=d).collect()
        )
        want = sorted(
            (a, b, ham(a, b))
            for a in sig
            for b in sig
            if a < b and ham(a, b) <= d
        )
        assert got == want, (d, got, want)
    assert (1, 2, 0) in [
        (r["a_id"], r["b_id"], r["hamming"])
        for r in simhash_near_dups(df, max_hamming=0).collect()
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dups(df, max_hamming=64)


def _brute_simhash(text):
    # plain-Python simhash64: +-1 per distinct normalized token on each
    # md5 bit, bit set iff the sum is positive
    import hashlib
    import re

    sums = [0] * 64
    for tok in {t for t in re.split("[^a-z0-9]+", text.lower()) if t}:
        h = hashlib.md5(tok.encode()).hexdigest()
        for b in range(64):
            sums[b] += 1 if int(h[b // 4], 16) & (8 >> (b % 4)) else -1
    return "".join("1" if v > 0 else "0" for v in sums)


def test_simhash_near_dups_matches_brute_force(spark):
    # an identical-text group of 3 (ids 1, 4, 6: interleaved with the
    # near copy 5, so cross-group pairs need least/greatest), a near
    # copy at Hamming 5, a NULL text (no fingerprint, no pair) and two
    # unrelated docs. Covers the contraction's intra- and cross-group
    # expansion against all-pairs Hamming.
    from itertools import combinations

    from dbscan_pyspark_spark.operators.dedup import simhash64, simhash_near_dups

    base = " ".join(f"tok{i}" for i in range(60))
    docs = [
        (1, base),
        (2, " ".join(f"other{i}" for i in range(60))),
        (3, None),
        (4, base),
        (5, base + " extra1"),
        (6, base.upper() + "!"),
        (7, "a short unrelated note about parquet files"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sig = {d: _brute_simhash(t) for d, t in docs if t is not None}
    assert {r.doc_id: r.simhash for r in simhash64(df).collect()} == sig
    ham = {
        (a, b): sum(x != y for x, y in zip(sig[a], sig[b]))
        for a, b in combinations(sorted(sig), 2)
    }
    assert ham[(1, 5)] == ham[(5, 6)] == 5
    for d in (0, 7):
        got = {
            (r.a_id, r.b_id): r.hamming
            for r in simhash_near_dups(df, max_hamming=d).collect()
        }
        assert got == {p: h for p, h in ham.items() if h <= d}, d


# ---------------------------------------------------------------------------
# sorted-neighborhood candidate pairs


def test_sorted_neighborhood_pair_count_and_orientation(spark):
    from dbscan_pyspark_spark.operators.dedup import sorted_neighborhood_pairs

    docs = spark.createDataFrame(
        [(i, f"doc number {i:03d}") for i in range(6)],
        "doc_id long, text string",
    )
    rows = sorted_neighborhood_pairs(docs, window=2).collect()
    # ranks 1..6: each row pairs with its next <=2 successors: 5 + 4 = 9
    assert len(rows) == 9
    # keys sort by doc id here, so a precedes b in id order too
    assert all(r.a_id < r.b_id for r in rows)


def test_sorted_neighborhood_finds_adjacent_near_dups(spark):
    from dbscan_pyspark_spark.operators.dedup import sorted_neighborhood_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox jumped"),
            (3, "zzz totally unrelated text"),
            (4, "aaa another different one"),
        ],
        "doc_id long, text string",
    )
    hits = sorted_neighborhood_pairs(docs, window=1, max_dist=2).collect()
    # orientation follows SORT order: "...jumped" < "...jumps"
    assert {(r.a_id, r.b_id) for r in hits} == {(2, 1)}
    assert hits[0].dist == 2  # jumped -> jumps: 1 sub + 1 delete


def test_sorted_neighborhood_custom_key_and_validation(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.operators.dedup import sorted_neighborhood_pairs

    docs = spark.createDataFrame(
        [(1, "abc x"), (2, "abd y"), (3, None)], "doc_id long, text string"
    )
    out = sorted_neighborhood_pairs(
        docs,
        window=5,
        key_expr=F.substring(F.col("text"), 1, 3),
    ).collect()
    # NULL-key row dropped; one remaining pair
    assert {(r.a_id, r.b_id, r.dist) for r in out} == {(1, 2, 1)}
    with _pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(docs, window=0)


def test_minhash_adaptive_guard_branch_equivalence(spark, monkeypatch):
    # The degenerate-bucket guard is adaptive: a clique-free corpus
    # (reps == docs) takes the fast path that skips the restore
    # semi-join and expansion joins. Both branches must emit the SAME
    # pairs for the same near-dup structure — pin it by running a
    # clique-free corpus and the same corpus plus exact copies, then
    # checking the shared pairs carry identical jaccard and the copies
    # only ADD expansion pairs.
    base = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "the quick brown fox jumps over the lazy cat tonight"),
        (5, "completely unrelated text about spark catalyst planning"),
        (7, "another unrelated document mentioning parquet readers"),
    ]
    df_free = spark.createDataFrame(base, ["doc_id", "text"])
    free = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in minhash_near_dup_pairs(df_free, threshold=0.2).collect()
    }
    assert (1, 3) in free and free[(1, 3)] < 1.0

    # add exact copies of docs 1 and 3, and run BOTH branches on the
    # same corpus: a gate of 2 forces the contraction, the default
    # (256) keeps the uncontracted shape
    from dbscan_pyspark_spark.operators import dedup as dedup_mod

    # plus a pair of identical texts shorter than n=3 tokens: no
    # shingles, so neither branch may pair them
    df_cliq = spark.createDataFrame(
        base + [(2, base[0][1]), (4, base[1][1]), (8, "hi there"), (9, "hi there")],
        ["doc_id", "text"],
    )
    results = {}
    for mode, min_clique in (("contracted", 2), ("uncontracted", 256)):
        monkeypatch.setattr(dedup_mod, "_CONTRACT_MIN_CLIQUE", min_clique)
        results[mode] = {
            (r["a_id"], r["b_id"]): r["jaccard"]
            for r in minhash_near_dup_pairs(df_cliq, threshold=0.2).collect()
        }
    # the two branches are output-identical by construction
    assert results["contracted"] == results["uncontracted"]
    cliq = results["contracted"]
    # intra-clique pairs are exact (jaccard 1), cross pairs inherit the
    # reps' verified jaccard, and the original clique-free pairs are
    # reproduced bit-identically
    assert cliq[(1, 2)] == 1.0 and cliq[(3, 4)] == 1.0
    assert not {8, 9} & {d for pair in cliq for d in pair}
    for pair, j in free.items():
        assert cliq[pair] == j
    assert cliq[(2, 4)] == cliq[(1, 3)] == free[(1, 3)]


# Brute-force twins of the MinHash family, in plain Python: word
# 3-shingle sets of the normalized text, the portable signatures, and
# the LSH band buckets, so every Spark output row can be recomputed.
BRUTE_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "The quick brown fox jumps over the lazy dog near the river bank!"),
    (3, "the quick brown fox jumps over the lazy dog near the river delta"),
    (4, "the quick brown fox leaps over the lazy dog near the old river bank"),
    (5, None),
    (6, "hello there"),
    (7, "the cat sat the cat sat the cat sat on the mat"),
    (8, "the cat sat the cat sat on the mat"),
    (9, "completely different words about spark dataframes and shuffles"),
    (10, "the quick brown fox"),
    (11, ""),
]


def _brute_shingles(text, n=3):
    import re

    if text is None:
        return set()
    toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _round6(x):
    # Spark's round(): HALF_UP on the double's shortest decimal form
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _brute_candidates(sets, num_hashes=16, rows_per_band=4):
    """{(a, b): est_jaccard} over docs sharing a band bucket."""
    import hashlib
    from itertools import combinations

    from dbscan_pyspark_spark.operators.dedup import MINHASH_P, minhash_params

    params = minhash_params(num_hashes)
    sig = {}
    for d, s in sets.items():
        if s:
            xs = [int(hashlib.md5(x.encode()).hexdigest()[:15], 16) % MINHASH_P for x in s]
            sig[d] = [min((a * x + b) % MINHASH_P for x in xs) for a, b in params]

    def bands(m):
        return {
            (i, hashlib.md5("|".join(map(str, m[i * rows_per_band : (i + 1) * rows_per_band])).encode()).hexdigest())
            for i in range(num_hashes // rows_per_band)
        }

    return {
        (a, b): sum(x == y for x, y in zip(sig[a], sig[b])) / num_hashes
        for a, b in combinations(sorted(sig), 2)
        if bands(sig[a]) & bands(sig[b])
    }


def _brute_jaccard(sets, a, b):
    return len(sets[a] & sets[b]) / len(sets[a] | sets[b])


def test_minhash_family_matches_brute_force(spark):
    from itertools import combinations

    from dbscan_pyspark_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
        minhash_estimate_errors,
    )

    df = spark.createDataFrame(BRUTE_DOCS, "doc_id long, text string")
    sets = {d: _brute_shingles(t) for d, t in BRUTE_DOCS}
    cand = _brute_candidates(sets)
    # the corpus reaches every edge the verifiers must handle
    assert sets[5] == sets[6] == sets[11] == set()
    assert len(sets[7]) == 6 and (7, 8) in cand and (1, 2) in cand

    est = {
        (r.a_id, r.b_id): (r.est_jaccard, r.exact_jaccard)
        for r in minhash_estimate_errors(df, num_hashes=16).collect()
    }
    assert est == {p: (e, _brute_jaccard(sets, *p)) for p, e in cand.items()}

    for t in (0.0, 0.3, 0.7):
        shared = {
            p: _round6(_brute_jaccard(sets, *p))
            for p in combinations(sorted(d for d, s in sets.items() if s), 2)
            if sets[p[0]] & sets[p[1]]
        }
        want = {p: j for p, j in shared.items() if j >= t}
        got = {
            (r.a_id, r.b_id): r.jaccard
            for r in jaccard_prefix_filter_pairs(df, threshold=t).collect()
        }
        assert got == want, t
        got = {
            (r.a_id, r.b_id): r.jaccard
            for r in minhash_near_dup_pairs(df, threshold=t).collect()
        }
        assert got == {p: j for p, j in want.items() if p in cand}, t


def test_verify_drops_disjoint_candidate_pair(spark):
    # the band join can pair docs that share no shingle (a mod-P
    # signature collision); the verifier must drop such a pair even at
    # threshold 0, while the overlap still reports it with n_common 0
    from dbscan_pyspark_spark.operators.dedup import (
        _overlap,
        _shingle_sets,
        _verify_exact_jaccard,
    )

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "w x y z"), (3, "a b c e")], "doc_id long, text string"
    )
    sets = _shingle_sets(df, "text", "doc_id", 3)
    cand = spark.createDataFrame([(1, 2), (1, 3)], "a_id long, b_id long")
    ov = {
        (r.a_id, r.b_id): (r.n_common, r.n_union)
        for r in _overlap(sets, cand, "doc_id").collect()
    }
    assert ov == {(1, 2): (0, 4), (1, 3): (1, 3)}
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in _verify_exact_jaccard(sets, cand, "doc_id", 0.0).collect()
    }
    assert got == {(1, 3): round(1 / 3, 6)}
