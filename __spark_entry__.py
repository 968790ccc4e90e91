"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  — flagship DBSCAN anonymization pipeline at sf0.001.
``queries()``     — one callable per implemented operator (SURVEY.md §2
                    + §2.10 extensions), run by the driver at sf0.01.
``oracle_sql()``  — the DuckDB-equivalent ANSI SQL per query. Even the
                    iterative operators (DBSCAN labels, the SCC variant,
                    the full ε-sweep, near-dup components) carry exact
                    recursive-CTE oracles; only genuinely approximate /
                    randomized queries (sketches, LSH, IVF ANN, k-member
                    k-means) use the contract's rows-only check.

Exact-match discipline: every float that reaches an output is either
integer-valued by construction, decimal-cast before summing (exact,
order-independent), or rounded AFTER deterministic arithmetic in BOTH
engines (see sources/tables.py for the shared points views).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators.anonymize import anonymize, assign_nearest
from dbscan_pyspark_spark.operators.dbscan import dbscan
from dbscan_pyspark_spark.operators.dedup import (
    exact_dedup,
    minhash_bands,
    minhash_near_dup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)
from dbscan_pyspark_spark.operators.eps_join import (
    core_points,
    eps_self_join,
    neighbor_counts,
)
from dbscan_pyspark_spark.operators.events import (
    cohort_retention,
    funnel,
    session_agg,
    sliding_agg,
    tumbling_agg,
)
from dbscan_pyspark_spark.operators.joins import asof_join, range_join
from dbscan_pyspark_spark.operators.pipeline import (
    dedup_keep_best,
    hash_split,
    pack_documents,
    profile_columns,
)
from dbscan_pyspark_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk,
    rp_lsh_near_dup_pairs,
)
from dbscan_pyspark_spark.operators.windows import (
    anti_top_k_per_group,
    argmin_row,
    top_k_per_group,
)
from dbscan_pyspark_spark.functions.text import (
    LANG_PROFILES,
    STOPWORDS,
    fingerprint,
    lang_id,
    normalized,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
)
from dbscan_pyspark_spark.sources.tables import (
    PTS_CUSTOMER_SQL,
    load_table,
    points_from_customer,
    points_from_lineitem,
)

# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """DBSCAN ε-clustering + k-anonymization of the lineitem point cloud
    at sf0.001 — the reference's main pipeline (DBSCAN.py) end-to-end:
    grid ε-join -> core points -> connected components -> centroid
    generalization with sensitive-attribute passthrough."""
    pts = points_from_lineitem(spark, "/root/testdata/sf0.001")
    labels = dbscan(pts, eps=4.0, min_pts=8, min_cluster_size=8)
    return anonymize(pts, labels)


# ---------------------------------------------------------------------------
# shared helpers

KNN_CENTROIDS = [(0, 0.0, 5.0), (1, 25.0, 12.0), (2, 60.0, 20.0)]
EPS_C, MINPTS_C = 3.0, 4
ANON_W, ANON_K = 5.0, 8  # anonymize_cells: grid width / min cluster size


def _knn_centroids_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(cid, [c0, c1]) for cid, c0, c1 in KNN_CENTROIDS],
        "cluster_id int, centroid array<double>",
    )


def _dec(c: str, t: str = "decimal(18,4)") -> F.Column:
    return F.col(c).cast(t)


# ---------------------------------------------------------------------------
# queries


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- scans + aggregation (S1, A2-A6, F1) ----
    def q1_pricing_summary(spark, sf):
        li = load_table(spark, sf, "lineitem")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum(_dec("l_quantity", "decimal(12,2)")).cast("double"), 2).alias("sum_qty"),
                F.round(F.sum(_dec("l_extendedprice", "decimal(14,2)")).cast("double"), 2).alias("sum_base_price"),
                F.round(
                    F.sum(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                            "decimal(18,4)"
                        )
                    ).cast("double"),
                    4,
                ).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )

    q["q1_pricing_summary"] = q1_pricing_summary

    # ---- multi-way broadcast join + agg (J-family via Catalyst) ----
    def nation_revenue(spark, sf):
        o = load_table(spark, sf, "orders")
        c = load_table(spark, sf, "customer")
        n = load_table(spark, sf, "nation")
        r = load_table(spark, sf, "region")
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
            .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
            .groupBy("r_name", "n_name")
            .agg(
                F.round(F.sum(_dec("o_totalprice", "decimal(16,2)")).cast("double"), 2).alias("revenue"),
                F.count(F.lit(1)).alias("n_orders"),
            )
        )

    q["nation_revenue"] = nation_revenue

    # ---- semi / anti joins (noise split shape, SURVEY §2.3) ----
    def customers_with_big_orders(spark, sf):
        c = load_table(spark, sf, "customer")
        o = load_table(spark, sf, "orders").where(F.col("o_totalprice") > 200000)
        return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
            "c_custkey", "c_nationkey"
        )

    q["customers_with_big_orders"] = customers_with_big_orders

    def customers_without_orders(spark, sf):
        # anti-join = the noise split of SURVEY §2.3; threshold keeps the
        # result non-empty on the synthetic data (every customer has
        # *some* order)
        c = load_table(spark, sf, "customer")
        o = load_table(spark, sf, "orders").where(F.col("o_totalprice") > 300000)
        return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
            "c_custkey", "c_acctbal"
        )

    q["customers_without_orders"] = customers_without_orders

    # ---- grid ε-join family (J1, P2, P3, A2) on pts_customer ----
    def eps_neighbor_counts(spark, sf):
        pts = points_from_customer(spark, sf)
        return neighbor_counts(pts, EPS_C)

    q["eps_neighbor_counts"] = eps_neighbor_counts

    def eps_core_points(spark, sf):
        pts = points_from_customer(spark, sf)
        return core_points(pts, EPS_C, MINPTS_C)

    q["eps_core_points"] = eps_core_points

    def eps_pairs(spark, sf):
        pts = points_from_customer(spark, sf)
        return eps_self_join(pts, EPS_C, unique_pairs=True)

    q["eps_pairs"] = eps_pairs

    # ---- neighbor-list collect (A1: reduceByKey list concat,
    # DBSCAN.py:161) — emitted as a sorted comma-joined string so the
    # value hash is engine-portable ----
    def eps_neighbor_ids(spark, sf):
        pts = points_from_customer(spark, sf)
        pairs = eps_self_join(pts, EPS_C, keep_distance=False)
        return pairs.groupBy(F.col("a_id").alias("id")).agg(
            F.array_join(
                F.array_sort(F.collect_list(F.col("b_id").cast("string"))), ","
            ).alias("neighbor_ids")
        )

    q["eps_neighbor_ids"] = eps_neighbor_ids

    # ---- broadcast NL nearest-centroid argmin join (J2/J3) ----
    def knn_assign(spark, sf):
        pts = points_from_customer(spark, sf)
        return assign_nearest(pts, _knn_centroids_df(spark))

    q["knn_assign"] = knn_assign

    # ---- per-group centroid + cost (A3, A4/A5) ----
    def group_centroids(spark, sf):
        pts = points_from_customer(spark, sf)
        return pts.groupBy("sensitive").agg(
            F.round(F.avg(F.col("features")[0]), 4).alias("c0"),
            F.round(F.avg(F.col("features")[1]), 4).alias("c1"),
            F.count(F.lit(1)).alias("n_members"),
        )

    q["group_centroids"] = group_centroids

    def group_cost(spark, sf):
        pts = points_from_customer(spark, sf)
        cents = pts.groupBy("sensitive").agg(
            F.avg(F.col("features")[0]).alias("c0"),
            F.avg(F.col("features")[1]).alias("c1"),
        )
        return (
            pts.join(cents, "sensitive")
            .groupBy("sensitive")
            .agg(
                F.round(
                    F.sum(
                        F.abs(F.col("features")[0] - F.col("c0"))
                        + F.abs(F.col("features")[1] - F.col("c1"))
                    ),
                    4,
                ).alias("l1_cost")
            )
        )

    q["group_cost"] = group_cost

    # ---- full anonymization pipeline, oracled end-to-end (A3-A5, J2,
    # U1, S3 semantics: centroid generalization + nearest-centroid noise
    # reassignment + sensitive passthrough). Clustering here is a
    # deterministic grid partition (cells of width 5; cells with >= 8
    # members are clusters) so the whole pipeline is SQL-expressible and
    # value-hashable — the CC-based clustering is covered rows-only by
    # dbscan_customer. ----
    def anonymize_cells(spark, sf):
        pts = points_from_customer(spark, sf)
        cells = pts.withColumn(
            "cell",
            F.concat_ws(
                ":",
                F.floor(F.col("features")[0] / ANON_W).cast("long"),
                F.floor(F.col("features")[1] / ANON_W).cast("long"),
            ),
        )
        sizes = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
        labels = cells.join(sizes, "cell").select(
            "id",
            F.when(F.col("_n") >= ANON_K, F.col("cell")).alias("cluster_id"),
            (F.col("_n") < ANON_K).alias("is_noise"),
        )
        out = anonymize(pts, labels)
        return out.select(
            "id",
            F.round(F.col("an_features")[0], 4).alias("an0"),
            F.round(F.col("an_features")[1], 4).alias("an1"),
            "sensitive",
            "cluster_id",
            F.col("is_noise").cast("int").alias("is_noise"),
        )

    q["anonymize_cells"] = anonymize_cells

    # ---- window top-k keep / release (W1, W2) ----
    # built lazily: Column construction needs an active SparkContext in
    # Spark 4 classic, and queries() must be callable before the driver
    # creates its session.
    def TOPK_ORDER():
        return [
            F.col("l_extendedprice").desc(),
            F.col("l_quantity").desc(),
            F.col("l_discount").desc(),
            F.col("l_linenumber"),
        ]

    def topk_lineitems_per_order(spark, sf):
        li = load_table(spark, sf, "lineitem")
        return top_k_per_group(li, ["l_orderkey"], TOPK_ORDER(), 2, rank_col="rank").select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice"), 2).alias("price"),
            "rank",
        )

    q["topk_lineitems_per_order"] = topk_lineitems_per_order

    def released_lineitems(spark, sf):
        li = load_table(spark, sf, "lineitem")
        out = anti_top_k_per_group(li, ["l_orderkey"], TOPK_ORDER(), 2, rank_col="rank")
        return out.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("n_released"),
            F.round(F.sum(_dec("l_quantity", "decimal(12,2)")).cast("double"), 2).alias("released_qty"),
        )

    q["released_lineitems"] = released_lineitems

    # ---- union (U1/U2) ----
    def union_segments(spark, sf):
        c = load_table(spark, sf, "customer")
        hi = c.where(F.col("c_acctbal") >= 5000).select(
            "c_custkey", F.lit("high").alias("band")
        )
        lo = c.where(F.col("c_acctbal") < 0).select(
            "c_custkey", F.lit("negative").alias("band")
        )
        return hi.unionByName(lo)

    q["union_segments"] = union_segments

    # ---- group-count HAVING (P4/P5) ----
    def busy_customers(spark, sf):
        o = load_table(spark, sf, "orders")
        return (
            o.groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .where(F.col("n_orders") >= 12)
        )

    q["busy_customers"] = busy_customers

    # ---- window family beyond top-k (SURVEY §2.5 notes the reference
    # has no lead/lag, ranking, or frame-spec windows — Catalyst
    # built-ins we expose as first-class surface) ----
    def events_prev_gap(spark, sf):
        ev = load_table(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        # ts may be TIMESTAMP_NTZ; unix_micros needs TIMESTAMP. The cast
        # offset cancels in the gap difference.
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        return ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
            (us - F.lag(us).over(w)).alias("gap_us"),
            F.lead("event_type").over(w).alias("next_type"),
        )

    q["events_prev_gap"] = events_prev_gap

    def orders_rank_in_month(spark, sf):
        o = load_table(spark, sf, "orders")
        month = F.date_trunc("month", "o_orderdate")
        w = Window.partitionBy(month).orderBy(F.col("o_totalprice").desc())
        return o.select(
            month.alias("month"),
            "o_orderkey",
            "o_totalprice",
            F.dense_rank().over(w).alias("rnk"),
        ).where(F.col("rnk") <= 3)

    q["orders_rank_in_month"] = orders_rank_in_month

    def cumulative_customer_revenue(spark, sf):
        o = load_table(spark, sf, "orders")
        w = (
            Window.partitionBy("o_custkey")
            .orderBy("o_orderdate", "o_orderkey")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return o.select(
            "o_custkey",
            "o_orderkey",
            F.round(
                F.sum(_dec("o_totalprice", "decimal(16,2)")).over(w).cast("double"),
                2,
            ).alias("cum_spend"),
        )

    q["cumulative_customer_revenue"] = cumulative_customer_revenue

    def grouping_sets_pricing(spark, sf):
        li = load_table(spark, sf, "lineitem")
        return li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        ).agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(_dec("l_quantity", "decimal(12,2)")).cast("double"), 2
            ).alias("sum_qty"),
        )

    q["grouping_sets_pricing"] = grouping_sets_pricing

    def pivot_orders_priority(spark, sf):
        o = load_table(spark, sf, "orders")
        return (
            o.groupBy("o_orderpriority")
            .pivot("o_orderstatus", ["F", "O", "P"])
            .agg(F.count(F.lit(1)))
            .na.fill(0, ["F", "O", "P"])
        )

    q["pivot_orders_priority"] = pivot_orders_priority

    # ---- grouping sets / set ops / distinct aggs (SURVEY §2.4/§2.6:
    # absent in the reference, Catalyst built-ins we expose) ----
    def rollup_pricing(spark, sf):
        li = load_table(spark, sf, "lineitem")
        return (
            li.rollup("l_returnflag", "l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(F.sum(_dec("l_quantity", "decimal(12,2)")).cast("double"), 2).alias("sum_qty"),
            )
        )

    q["rollup_pricing"] = rollup_pricing

    def cube_order_status(spark, sf):
        o = load_table(spark, sf, "orders")
        return (
            o.cube("o_orderstatus", "o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum(_dec("o_totalprice", "decimal(16,2)")).cast("double"), 2).alias("total"),
            )
        )

    q["cube_order_status"] = cube_order_status

    def part_types_intersect(spark, sf):
        p = load_table(spark, sf, "part")
        big = p.where(F.col("p_size") > 40).select("p_name")
        pricey = p.where(F.col("p_retailprice") > 995).select("p_name")
        return big.intersect(pricey)

    q["part_types_intersect"] = part_types_intersect

    def part_types_except(spark, sf):
        p = load_table(spark, sf, "part")
        big = p.where(F.col("p_size") > 40).select("p_name")
        pricey = p.where(F.col("p_retailprice") > 995).select("p_name")
        # subtract == SQL EXCEPT (set difference); exceptAll would keep a
        # name whose 'big' multiplicity exceeds its 'pricey' multiplicity
        return big.subtract(pricey)

    q["part_types_except"] = part_types_except

    def distinct_nations_per_segment(spark, sf):
        c = load_table(spark, sf, "customer")
        return c.groupBy("c_mktsegment").agg(
            F.count_distinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
        )

    q["distinct_nations_per_segment"] = distinct_nations_per_segment

    # ---- exact percentiles (Catalyst built-in surface; SURVEY §2.4
    # notes the reference has no approximate/ordered aggregates at all) ----
    def quantity_percentiles(spark, sf):
        li = load_table(spark, sf, "lineitem")
        return li.groupBy("l_returnflag").agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias(
                "price_p99"
            ),
        )

    q["quantity_percentiles"] = quantity_percentiles

    # ---- global argmin (W3) ----
    def poorest_customer(spark, sf):
        c = load_table(spark, sf, "customer")
        return argmin_row(
            c.select("c_custkey", F.round(F.col("c_acctbal"), 2).alias("acctbal")),
            [F.col("acctbal"), F.col("c_custkey")],
        )

    q["poorest_customer"] = poorest_customer

    # ---- text analysis extensions ----
    def doc_fingerprints(spark, sf):
        d = load_table(spark, sf, "documents")
        return d.select("doc_id", fingerprint("text").alias("fingerprint"))

    q["doc_fingerprints"] = doc_fingerprints

    def doc_unicode_nfc(spark, sf):
        # Unicode NFC canonicalization — the normalization exact dedup
        # and fingerprinting assume upstream. Plant DECOMPOSED
        # sequences from id arithmetic (combining marks U+0301..0305
        # appended after an 'e'; 0301-0304 compose to é/ê/ẽ/ē, 0305
        # has no precomposition and must survive as-is), normalize
        # with the Arrow-vectorized stage, and hash the exact strings
        # against DuckDB's nfc_normalize — same Unicode normal form,
        # independent implementation.
        from dbscan_pyspark_spark.operators.pipeline import (
            normalize_unicode,
        )

        d = load_table(spark, sf, "documents")
        marks = F.array(*[F.lit(chr(0x301 + i)) for i in range(5)])
        planted = d.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" e"),
                F.element_at(
                    marks, (F.col("doc_id") % 5 + 1).cast("int")
                ),
            ).alias("text"),
        )
        return normalize_unicode(planted).select(
            "doc_id",
            "norm_text",
            F.length("norm_text").cast("long").alias("n_chars_nfc"),
        )

    q["doc_unicode_nfc"] = doc_unicode_nfc

    def doc_html_strip(spark, sf):
        # First-pass web-crawl cleanup: markup tags dropped (tags must
        # open with a letter/'!', so content angle brackets survive),
        # the five core named entities decoded amp-last. Planted HTML
        # is id arithmetic around the real text, so the oracle replays
        # the exact cleaned strings through DuckDB's independent
        # regexp_replace + replace chain.
        from dbscan_pyspark_spark.functions.text import strip_html

        d = load_table(spark, sf, "documents")
        html = F.concat(
            F.lit('<p id="'),
            F.col("doc_id").cast("string"),
            F.lit('">'),
            F.col("text"),
            F.lit("</p> &amp; <b>tail"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("</b> 1 &lt; 2"),
        )
        s = strip_html(html)
        return d.select(
            "doc_id",
            s["clean_text"].alias("clean_text"),
            s["n_tags"].alias("n_tags"),
        )

    q["doc_html_strip"] = doc_html_strip

    def doc_url_domains(spark, sf):
        # Crawl-curation URL stage: extract every http(s) URL (planted
        # as id arithmetic around the real text — userinfo-free and
        # userinfo-bearing forms, ports, mixed-case hosts, paths with
        # query strings), resolve the lowercased host and its
        # registrable domain, and flag blocklisted domains. The
        # pattern strings use quote-free character classes so the
        # IDENTICAL regex text runs under Java regex (Spark) and RE2
        # (DuckDB) — hash-exact parity.
        from dbscan_pyspark_spark.functions.text import (
            extract_urls,
            url_host,
            url_registrable_domain,
        )

        d = load_table(spark, sf, "documents")
        planted = F.concat(
            F.col("text"),
            F.lit(" see https://sub"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://Mirror"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".Test.org:8080/x?q="),
            (F.col("doc_id") % 11).cast("string"),
            F.lit(" end"),
        )
        u = d.select(
            "doc_id", F.explode(extract_urls(planted)).alias("url")
        )
        dom = url_registrable_domain(F.col("url"))
        return u.select(
            "doc_id",
            "url",
            url_host(F.col("url")).alias("host"),
            dom.alias("domain"),
            dom.isin("test.org", "example2.com").cast("int").alias(
                "blocked"
            ),
        )

    q["doc_url_domains"] = doc_url_domains

    def doc_winnow_fingerprints(spark, sf):
        from dbscan_pyspark_spark.operators.dedup import winnow_fingerprints

        # deterministic cost bound (a bare LIMIT picks engine-dependent rows)
        docs = load_table(spark, sf, "documents").where(F.col("doc_id") < 500)
        return winnow_fingerprints(docs, k=8, w=4)

    q["doc_winnow_fingerprints"] = doc_winnow_fingerprints

    def dedup_exact_docs(spark, sf):
        return exact_dedup(load_table(spark, sf, "documents"))

    q["dedup_exact_docs"] = dedup_exact_docs

    def dedup_keep_best_docs(spark, sf):
        # exact dedup keeping the best (longest, then lowest-id) copy of
        # each duplicate group — the crawl-snapshot policy
        return dedup_keep_best(load_table(spark, sf, "documents"))

    q["dedup_keep_best_docs"] = dedup_keep_best_docs

    # ---- training-pipeline ops: deterministic split + sequence packing ----
    def doc_splits(spark, sf):
        d = load_table(spark, sf, "documents")
        return hash_split(
            d, splits=[("train", 8), ("val", 1), ("test", 1)]
        ).select("doc_id", "split")

    q["doc_splits"] = doc_splits

    def doc_pack_bins(spark, sf):
        d = load_table(spark, sf, "documents")
        return pack_documents(d, capacity=512, n_shards=8).select(
            "doc_id", "shard", "bin", "n_tokens"
        )

    q["doc_pack_bins"] = doc_pack_bins

    def token_stats(spark, sf):
        d = load_table(spark, sf, "documents")
        return d.select(
            "doc_id",
            token_count("text").alias("n_tokens"),
            F.length("text").alias("n_chars"),
            F.round(F.length("text") / token_count("text"), 4).alias("avg_token_len"),
            F.round(stopword_ratio("text"), 4).alias("stopword_ratio"),
        )

    q["token_stats"] = token_stats

    def doc_quality(spark, sf):
        d = load_table(spark, sf, "documents")
        return d.select(
            "doc_id",
            quality_score("text").alias("quality"),
            F.round(
                F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
                / F.length("text"),
                4,
            ).alias("punct_ratio"),
        )

    q["doc_quality"] = doc_quality

    def lang_id_heuristic(spark, sf):
        d = load_table(spark, sf, "documents")
        return d.select("doc_id", lang_id("text").alias("lang_pred"))

    q["lang_id_heuristic"] = lang_id_heuristic

    # ---- TF-IDF top terms per document (SURVEY §2.10 text analysis).
    # Smoothed idf = ln((N+1)/(df+1)); rank by raw score (ties by term)
    # so cross-engine rounding can't reorder; output rounded to 4.
    # Scale shape: one shuffle on (doc, term) for tf, one on term for
    # df; the 1-row doc count broadcasts onto the scored relation ----
    def doc_tfidf_top_terms(spark, sf):
        d = load_table(spark, sf, "documents")
        tok = d.select(
            "doc_id", F.explode(F.split(normalized("text"), " ")).alias("term")
        ).where(F.col("term") != "")
        tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        dfreq = (
            tok.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
        )
        n_docs = d.agg(F.count(F.lit(1)).alias("_n_docs"))
        scored = (
            tf.join(dfreq, "term")
            .crossJoin(F.broadcast(n_docs))
            .withColumn(
                "_score",
                F.col("tf") * F.log((F.col("_n_docs") + 1) / (F.col("_df") + 1)),
            )
        )
        w = Window.partitionBy("doc_id").orderBy(F.col("_score").desc(), "term")
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select(
                "doc_id",
                "term",
                "tf",
                F.round("_score", 4).alias("tfidf"),
                "rank",
            )
        )

    q["doc_tfidf_top_terms"] = doc_tfidf_top_terms

    def near_dup_jaccard(spark, sf):
        return ngram_jaccard_pairs(
            load_table(spark, sf, "documents"), threshold=0.3, n=3
        )

    q["near_dup_jaccard"] = near_dup_jaccard

    def minhash_band_signatures(spark, sf):
        d = load_table(spark, sf, "documents")
        return minhash_bands(minhash_signatures(d, num_hashes=16, n=3), rows_per_band=4)

    q["minhash_band_signatures"] = minhash_band_signatures

    def minhash_near_dups(spark, sf):
        return minhash_near_dup_pairs(
            load_table(spark, sf, "documents"),
            threshold=0.3,
            num_hashes=16,
            rows_per_band=4,
            n=3,
        )

    q["minhash_near_dups"] = minhash_near_dups

    # ---- full near-dup DEDUP: pairs -> connected components ->
    # keep-best per duplicate cluster. The oracle rebuilds the component
    # labels with a recursive closure CTE (the pair graph is tiny) ----
    def dedup_near_docs(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import near_dup_dedup

        out = near_dup_dedup(
            load_table(spark, sf, "documents"),
            threshold=0.3,
            num_hashes=16,
            rows_per_band=4,
            n=3,
        )
        return out.select("doc_id", "dup_group", "dup_group_size")

    q["dedup_near_docs"] = dedup_near_docs

    def simhash_docs(spark, sf):
        return simhash64(load_table(spark, sf, "documents"))

    q["simhash_docs"] = simhash_docs

    def simhash_near_dup_pairs(spark, sf):
        # Manku et al. WWW'07 pigeonhole dedup: pairs within Hamming
        # distance 3 of the 64-bit simhash; candidates from a
        # (block, bits) equi-join over 4 contiguous 16-bit blocks
        # (any pair at d<=3 agrees exactly on >=1 block), exact
        # Hamming verify on the survivors — never all pairs
        from dbscan_pyspark_spark.operators.dedup import simhash_near_dups

        return simhash_near_dups(
            load_table(spark, sf, "documents"), max_hamming=3
        )

    q["simhash_near_dup_pairs"] = simhash_near_dup_pairs

    # ---- similarity search ----
    def embedding_cosine_topk(spark, sf):
        e = load_table(spark, sf, "embeddings")
        qe = e.select(
            "vec_id",
            F.transform(
                "embedding", lambda x: F.round(x * 1000, 0).cast("long")
            ).alias("qemb"),
        )
        queries_df = qe.where(F.col("vec_id") % 100 == 0)
        return cosine_topk(
            qe, queries_df, k=5, vec_col="qemb", include_self=False
        )

    q["embedding_cosine_topk"] = embedding_cosine_topk

    def embedding_near_dups(spark, sf):
        # quantize to longs so the dot products are exact in both engines
        e = load_table(spark, sf, "embeddings").select(
            "vec_id",
            F.transform(
                "embedding", lambda x: F.round(x * 1000, 0).cast("long")
            ).alias("qemb"),
        )
        return cosine_near_dup_pairs(e, threshold=0.4, vec_col="qemb")

    q["embedding_near_dups"] = embedding_near_dups

    # ---- temporal joins (as-of, bounded range) ----
    def events_asof_error(spark, sf):
        ev = load_table(spark, sf, "events")
        clicks = ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        errors = (
            ev.where(F.col("event_type") == "error")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("err_value"))
        )
        out = asof_join(
            clicks, errors, on=["user_id"], value_cols=["err_value"]
        )
        return out.select(
            "event_id",
            "user_id",
            "ts",
            F.col("ts_r").alias("err_ts"),
            F.col("err_value_r").alias("err_value"),
        )

    q["events_asof_error"] = events_asof_error

    def events_error_context(spark, sf):
        ev = load_table(spark, sf, "events")
        errors = ev.where(F.col("event_type") == "error").select(
            "event_id", "user_id", "ts"
        )
        pairs = range_join(
            errors,
            ev,
            on=["user_id"],
            lower_seconds=-300.0,
            upper_seconds=0.0,
        )
        return pairs.groupBy(F.col("l_event_id").alias("event_id")).agg(
            F.count(F.lit(1)).alias("n_prior"),
            F.round(F.sum(_dec("r_value")).cast("double"), 4).alias("sum_value"),
        )

    q["events_error_context"] = events_error_context

    # ---- supplier-side joins ----
    def supplier_nation_revenue(spark, sf):
        li = load_table(spark, sf, "lineitem")
        s = load_table(spark, sf, "supplier")
        n = load_table(spark, sf, "nation")
        return (
            li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
            .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
            .groupBy("n_name")
            .agg(
                F.round(
                    F.sum(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                            "decimal(18,4)"
                        )
                    ).cast("double"),
                    4,
                ).alias("revenue"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )

    q["supplier_nation_revenue"] = supplier_nation_revenue

    def shipping_priority(spark, sf):
        c = load_table(spark, sf, "customer").where(
            F.col("c_mktsegment") == "BUILDING"
        )
        o = load_table(spark, sf, "orders").where(
            F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
        )
        li = load_table(spark, sf, "lineitem").where(
            F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
        )
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"], "left_semi")
            .groupBy("l_orderkey", "o_orderdate")
            .agg(
                F.round(
                    F.sum(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                            "decimal(18,4)"
                        )
                    ).cast("double"),
                    4,
                ).alias("revenue")
            )
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
            .limit(10)
        )

    q["shipping_priority"] = shipping_priority

    # ---- correlated scalar subquery shape (TPC-H Q17): small-quantity
    # lineitems vs their part's average — per-part avg joined back ----
    def small_qty_revenue(spark, sf):
        li = load_table(spark, sf, "lineitem")
        avg_qty = li.groupBy("l_partkey").agg(
            (F.avg("l_quantity") * 0.5).alias("_half_avg")
        )
        return (
            li.join(avg_qty, "l_partkey")
            .where(F.col("l_quantity") < F.col("_half_avg"))
            .agg(
                F.round(
                    F.sum(_dec("l_extendedprice", "decimal(14,2)")).cast("double"), 2
                ).alias("small_qty_revenue"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )

    q["small_qty_revenue"] = small_qty_revenue

    # ---- top-n report (TPC-H Q10 shape): customers by returned-item
    # revenue, deterministic tie-break ----
    def returned_item_customers(spark, sf):
        li = load_table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
        o = load_table(spark, sf, "orders")
        c = load_table(spark, sf, "customer")
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .groupBy("c_custkey", "c_name")
            .agg(
                F.round(
                    F.sum(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                            "decimal(18,4)"
                        )
                    ).cast("double"),
                    4,
                ).alias("revenue")
            )
            .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
            .limit(20)
        )

    q["returned_item_customers"] = returned_item_customers

    # ---- EXISTS-per-group (TPC-H Q4 shape, adapted: no l_commitdate in
    # the synthetic schema, so the EXISTS tests for a returned lineitem):
    # order count per priority where at least one item came back ----
    def priority_order_check(spark, sf):
        o = load_table(spark, sf, "orders")
        li = load_table(spark, sf, "lineitem").where(
            F.col("l_returnflag") == "R"
        )
        return (
            o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
        )

    q["priority_order_check"] = priority_order_check

    # ---- pure filter-agg (TPC-H Q6): revenue delta from discount band.
    # Fully pushes to the scan: two range predicates + one equality band,
    # no join, no shuffle beyond the final single-row agg ----
    def forecast_revenue(spark, sf):
        li = load_table(spark, sf, "lineitem")
        return (
            li.where(
                (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
                & (F.col("l_discount") >= 0.05)
                & (F.col("l_discount") <= 0.07)
                & (F.col("l_quantity") < 24)
            )
            .agg(
                F.round(
                    F.sum(
                        (F.col("l_extendedprice") * F.col("l_discount")).cast(
                            "decimal(18,4)"
                        )
                    ).cast("double"),
                    4,
                ).alias("revenue"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )

    q["forecast_revenue"] = forecast_revenue

    # ---- view + global-max scalar subquery (TPC-H Q15): the supplier(s)
    # whose quarterly revenue equals the maximum. The revenue aggregate is
    # computed ONCE and self-joined against its own max (broadcast 1-row)
    # rather than recomputed per row ----
    def top_revenue_supplier(spark, sf):
        li = load_table(spark, sf, "lineitem").where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        s = load_table(spark, sf, "supplier")
        rev = li.groupBy("l_suppkey").agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("_rev")
        )
        mx = rev.agg(F.max("_rev").alias("_mx"))
        return (
            rev.join(F.broadcast(mx), rev["_rev"] == mx["_mx"])
            .join(F.broadcast(s), rev["l_suppkey"] == s["s_suppkey"])
            .select(
                "s_suppkey",
                "s_name",
                F.round(F.col("_rev").cast("double"), 4).alias("total_revenue"),
            )
        )

    q["top_revenue_supplier"] = top_revenue_supplier

    # ---- sole-fault attribution (TPC-H Q21 shape, adapted): suppliers
    # who were the ONLY supplier with a returned item on a multi-supplier
    # order. The textbook EXISTS/NOT-EXISTS double self-correlation is
    # re-expressed as ONE per-order aggregate (distinct-supplier counts +
    # the unique offender) — one shuffle on l_orderkey instead of two
    # correlated self-joins of lineitem, which is the formulation that
    # survives 100 TB ----
    def sole_returner_suppliers(spark, sf):
        li = load_table(spark, sf, "lineitem")
        s = load_table(spark, sf, "supplier")
        r_supp = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        per_order = li.groupBy("l_orderkey").agg(
            F.countDistinct("l_suppkey").alias("_n_supp"),
            F.countDistinct(r_supp).alias("_n_r"),
            F.max(r_supp).alias("_offender"),
        )
        return (
            per_order.where((F.col("_n_supp") > 1) & (F.col("_n_r") == 1))
            .groupBy("_offender")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .join(F.broadcast(s), F.col("_offender") == s["s_suppkey"])
            .select("s_suppkey", "s_name", "numwait")
            .orderBy(F.col("numwait").desc(), "s_suppkey")
            .limit(20)
        )

    q["sole_returner_suppliers"] = sole_returner_suppliers

    # ---- correlated EXISTS (semi-join with inequality correlation):
    # users whose click was later followed by an error event ----
    def users_click_then_error(spark, sf):
        ev = load_table(spark, sf, "events")
        clicks = ev.where(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("_cts")
        )
        errors = ev.where(F.col("event_type") == "error").select(
            F.col("user_id").alias("_eu"), F.col("ts").alias("_ets")
        )
        return (
            clicks.join(
                errors,
                (clicks["user_id"] == errors["_eu"]) & (errors["_ets"] > clicks["_cts"]),
                "left_semi",
            )
            .select("user_id")
            .distinct()
        )

    q["users_click_then_error"] = users_click_then_error

    # ---- event-time windows ----
    # the decimal sums are exact engine-side; contract outputs emit them
    # as rounded doubles (raw decimals stringify with trailing scale
    # zeros under the driver canonicalizer and hash-diverge from DuckDB)
    def _portable_sum_value(df):
        return df.withColumn(
            "sum_value", F.round(F.col("sum_value").cast("double"), 4)
        )

    def events_hourly(spark, sf):
        ev = load_table(spark, sf, "events")
        return _portable_sum_value(
            tumbling_agg(ev, "1 hour", group_cols=["event_type"])
        )

    q["events_hourly"] = events_hourly

    def events_sliding(spark, sf):
        ev = load_table(spark, sf, "events")
        return _portable_sum_value(sliding_agg(ev, "1 hour", "30 minutes"))

    q["events_sliding"] = events_sliding

    def events_rollup_cascade(spark, sf):
        # hypertable-style continuous aggregate: minute grain from raw,
        # hour from minute, day from hour — the oracle aggregates raw
        # directly per grain, proving the cascade is exact
        from dbscan_pyspark_spark.operators.events import rollup_cascade

        ev = load_table(spark, sf, "events")
        return _portable_sum_value(rollup_cascade(ev))

    q["events_rollup_cascade"] = events_rollup_cascade

    def events_sessions(spark, sf):
        ev = load_table(spark, sf, "events")
        return _portable_sum_value(session_agg(ev, "30 minutes"))

    q["events_sessions"] = events_sessions

    def events_props_extract(spark, sf):
        # semi-structured: JSON field extraction in the data path
        ev = load_table(spark, sf, "events")
        return (
            ev.select(
                "event_type",
                F.get_json_object("props", "$.k").cast("int").alias("k"),
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.avg("k"), 4).alias("avg_k"),
                F.sum("k").alias("sum_k"),
            )
        )

    q["events_props_extract"] = events_props_extract

    def orders_by_month(spark, sf):
        o = load_table(spark, sf, "orders")
        return (
            o.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum(_dec("o_totalprice", "decimal(16,2)")).cast("double"), 2).alias("revenue"),
            )
        )

    q["orders_by_month"] = orders_by_month

    # ---- iterative / approximate: rows-only checks (no oracle) ----
    def dbscan_customer(spark, sf):
        pts = points_from_customer(spark, sf)
        return dbscan(pts, eps=EPS_C, min_pts=MINPTS_C, min_cluster_size=MINPTS_C)

    q["dbscan_customer"] = dbscan_customer

    def dbscan_scc_customer(spark, sf):
        # directed strongly-connected-components variant (J5,
        # DBSCAN-strongly-connected-component.py:174): clusters are sets
        # of mutually-reachable core points. Iterative -> rows-only.
        pts = points_from_customer(spark, sf)
        return dbscan(
            pts, eps=EPS_C, min_pts=MINPTS_C, min_cluster_size=MINPTS_C,
            variant="scc",
        )

    q["dbscan_scc_customer"] = dbscan_scc_customer

    def eps_sweep_metrics(spark, sf):
        # the reference's outer ε-loop (DBSCAN.py:158, eps_records at
        # :135-152): one grid join at max ε, per-ε filters + weighted
        # metrics. Errors rounded to 4 digits so the value hash is
        # robust to summation order; oracled by a per-ε recursive-CTE
        # replica of the whole sweep.
        from dbscan_pyspark_spark.operators.anonymize import eps_sweep

        pts = points_from_customer(spark, sf)
        metrics, _best = eps_sweep(pts, [2.0, 3.0], MINPTS_C)
        return metrics.select(
            "eps",
            "n_clusters",
            "n_noise",
            F.round("cluster_error", 4).alias("cluster_error"),
            F.round("noise_error", 4).alias("noise_error"),
            F.round("total_error", 4).alias("total_error"),
        )

    q["eps_sweep_metrics"] = eps_sweep_metrics

    # NOTE: the float-plane RP-LSH and float-centroid IVF variants are
    # deliberately NOT registered as contract queries: their outputs are
    # recall<1 subsets with no exact oracle, which the driver records as
    # a guaranteed red (`no_oracle`, CORRECTNESS_r02). The library
    # functions (rp_lsh_near_dup_pairs, ivf_cosine_topk) remain fully
    # exercised by tests/test_similarity.py recall bounds, and their
    # integer-quantized twins below (`*_exact`) are driver-oracled.

    # ---- approximate aggregates (sketches) — estimator outputs are
    # engine-specific, so rows-only here; tests/test_sketches.py bounds
    # the error against the exact answers. At 100 TB these replace the
    # exact distinct/percentile shuffles: HLL++ and KLL merge
    # map-side, so the wide exchange carries sketches, not values ----
    def approx_event_stats(spark, sf):
        ev = load_table(spark, sf, "events")
        return (
            ev.groupBy("event_type")
            .agg(
                F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
                F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("hll_users"),
                F.percentile_approx(
                    F.col("value").cast("double"), [0.5, 0.95, 0.99], 10_000
                ).alias("_vq"),
            )
            # scalar columns, not an array: array outputs crash the
            # driver's pandas canonicalizer even on rows-only checks
            .select(
                "event_type",
                "approx_users",
                "hll_users",
                F.col("_vq")[0].alias("value_p50"),
                F.col("_vq")[1].alias("value_p95"),
                F.col("_vq")[2].alias("value_p99"),
            )
            .orderBy("event_type")
        )

    q["approx_event_stats"] = approx_event_stats

    def approx_event_error_buckets(spark, sf):
        # estimator calibration for the sketch family, oracle-able
        # where the sketches aren't (the minhash_jaccard_error
        # pattern): exact distinct counts replay in SQL; the HLL /
        # approx_count_distinct relative errors and the KLL percentile
        # RANK errors are bucketed on integer grids far coarser than
        # the estimators' documented bounds (5% for rsd=2% HLL, 2% for
        # accuracy=10000 rank error ~1e-4), so both engines emit
        # bucket 0 — and any estimator regression past its bound
        # flips a bucket and hash-mismatches. Rank error for a
        # tie-heavy value column is distance from q to the
        # [P(value<v), P(value<=v)] interval, the correct definition
        # when the returned sample value carries probability mass.
        ev = load_table(spark, sf, "events")
        est = (
            ev.groupBy("event_type")
            .agg(
                F.approx_count_distinct("user_id", rsd=0.02).alias("_acd"),
                F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
                    "_hll"
                ),
                F.percentile_approx(
                    F.col("value").cast("double"), [0.5, 0.95], 10_000
                ).alias("_vq"),
                F.countDistinct("user_id").alias("exact_users"),
            )
            .select(
                "event_type",
                "exact_users",
                "_acd",
                "_hll",
                F.col("_vq")[0].alias("_p50"),
                F.col("_vq")[1].alias("_p95"),
            )
        )
        joined = ev.select(
            "event_type", F.col("value").cast("double").alias("_v")
        ).join(F.broadcast(est), "event_type")
        nv = F.count("_v")

        def rank_err(vcol: str, q: float):
            lower = F.sum(
                F.when(F.col("_v") < F.col(vcol), 1).otherwise(0)
            ) / nv
            upper = F.sum(
                F.when(F.col("_v") <= F.col(vcol), 1).otherwise(0)
            ) / nv
            return F.greatest(
                F.lit(0.0), lower - F.lit(q), F.lit(q) - upper
            )

        rel = lambda est_col: F.abs(  # noqa: E731
            F.col(est_col) - F.col("exact_users")
        ) / F.col("exact_users")
        return (
            joined.groupBy("event_type")
            .agg(
                F.max("exact_users").alias("exact_users"),
                F.max("_acd").alias("_acd"),
                F.max("_hll").alias("_hll"),
                F.floor(rank_err("_p50", 0.5) * 50)
                .cast("int")
                .alias("p50_rank_err_bucket"),
                F.floor(rank_err("_p95", 0.95) * 50)
                .cast("int")
                .alias("p95_rank_err_bucket"),
            )
            .select(
                "event_type",
                "exact_users",
                F.floor(rel("_acd") * 20).cast("int").alias("acd_err_bucket"),
                F.floor(rel("_hll") * 20).cast("int").alias("hll_err_bucket"),
                "p50_rank_err_bucket",
                "p95_rank_err_bucket",
            )
        )

    q["approx_event_error_buckets"] = approx_event_error_buckets

    def kmember_clusters(spark, sf):
        from dbscan_pyspark_spark.operators.kmember import (
            kmember_anonymize,
            kmember_kmeans,
        )

        pts = points_from_customer(spark, sf)
        # size the k-anonymity parameter to the scale factor so the same
        # entry runs at any sf (k*n_clusters must not exceed n)
        n = pts.count()
        k = max(2, min(50, n // 24))
        res = kmember_kmeans(pts, k=k, n_clusters=12, max_iter=4)
        # centroid array -> comma-joined string (house pattern of
        # eps_neighbor_ids): array columns crash the driver's pandas
        # canonicalizer even on rows-only checks.
        return kmember_anonymize(pts, res).select(
            "id",
            "cluster_id",
            F.array_join(
                F.transform(
                    "an_features",
                    lambda x: (F.round(x, 4) + F.lit(0.0)).cast("string"),
                ),
                ",",
            ).alias("an_features"),
        )

    q["kmember_clusters"] = kmember_clusters

    def multimodal_stats(spark, sf):
        from dbscan_pyspark_spark.operators.multimodal import (
            decode_media,
            media_from_documents,
            media_stats,
        )

        media = media_from_documents(load_table(spark, sf, "documents"))
        decode_media(media).count()  # exercise the Arrow decode stage
        return media_stats(media)

    q["multimodal_stats"] = multimodal_stats

    def multimodal_real_dimensions(spark, sf):
        # REAL zero-dependency codecs end-to-end: synthesize genuine
        # binary-PPM images / PCM-WAV audio from the documents ids,
        # parse them back with the pure-Python decoders, and emit the
        # recovered dims + exact integer value sums — every output
        # field is id arithmetic the oracle replays, so a hash match
        # proves the header AND payload parse
        from dbscan_pyspark_spark.operators.multimodal import (
            media_dimensions,
            synth_real_media,
        )

        docs = load_table(spark, sf, "documents").select("doc_id")
        return media_dimensions(synth_real_media(docs))

    q["multimodal_real_dimensions"] = multimodal_real_dimensions

    def multimodal_mjpeg_frames(spark, sf):
        # REAL MP4 *video* sample decode end-to-end: synthesize genuine
        # Motion-JPEG MP4s (each frame a complete baseline JPEG inside
        # an ISO-BMFF 'vide' sample table), walk the container, decode
        # every frame through the zero-dependency JPEG codec, and emit
        # the recovered geometry. Every output field is id arithmetic
        # the oracle replays — a hash match proves the stsd/stsz/stsc/
        # stco walk found exactly the planted samples and each decoded
        # to the declared dimensions. The lossy pixel VALUES are pinned
        # separately by unit tests (frames == standalone decode_jpeg).
        from dbscan_pyspark_spark.operators.multimodal import (
            mjpeg_video_summary,
            synth_mjpeg_media,
        )

        docs = (
            load_table(spark, sf, "documents")
            .select("doc_id")
            .where(F.col("doc_id") < 400)
        )
        return mjpeg_video_summary(synth_mjpeg_media(docs))

    q["multimodal_mjpeg_frames"] = multimodal_mjpeg_frames

    def multimodal_frame_sampling_real(spark, sf):
        # REAL frame sampling timing contract: each target instant
        # (multiples of 250 ms) resolves through the stts walk to the
        # frame displayed then. With the synth recipe's fps=10 track
        # (frame f starts at f*100 ms), the emitted (index, offset)
        # pairs are pure id arithmetic: a row exists for target i iff
        # i == 0 or 250*i <= (n_frames-1)*100, and its offset is
        # floor(250*i/100)*100. The frame PAYLOAD (a real JPEG) is
        # projected away — encoder bytes aren't SQL-replayable; the
        # payload identity is pinned by unit tests (frame ==
        # standalone sample bytes).
        from dbscan_pyspark_spark.operators.multimodal import (
            sample_frames,
            synth_mjpeg_media,
        )

        docs = (
            load_table(spark, sf, "documents")
            .select("doc_id")
            .where(F.col("doc_id") < 300)
        )
        return sample_frames(
            synth_mjpeg_media(docs),
            every_ms=250,
            max_frames=8,
            decode_mode="real",
        ).select("media_id", "frame_index", "frame_offset_ms")

    q["multimodal_frame_sampling_real"] = multimodal_frame_sampling_real

    # ---- TPC-H Q7 shape: nation-pair trade volume. Two broadcast dims
    # joined twice under different aliases; the fact-side join keys
    # (l_suppkey, o_custkey) reach the scan as pushed filters ----
    def nation_pair_trade(spark, sf):
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        s = load_table(spark, sf, "supplier")
        c = load_table(spark, sf, "customer")
        n1 = load_table(spark, sf, "nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
        )
        n2 = load_table(spark, sf, "nation").select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
        )
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
            .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n1), s["s_nationkey"] == n1["s_nk"])
            .join(F.broadcast(n2), c["c_nationkey"] == n2["c_nk"])
            .where(F.col("supp_nation") != F.col("cust_nation"))
            .groupBy("supp_nation", "cust_nation", F.year("o_orderdate").alias("o_year"))
            .agg(
                F.round(
                    F.sum(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                            "decimal(18,4)"
                        )
                    ).cast("double"),
                    4,
                ).alias("volume"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )

    q["nation_pair_trade"] = nation_pair_trade

    # ---- TPC-H Q12 shape: conditional aggregation (sum of CASE) over a
    # fact-to-fact join; map-side partial aggregation keeps the shuffle
    # at |groups| rows ----
    def priority_linestatus_counts(spark, sf):
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("l_linestatus")
            .agg(
                F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
            )
        )

    q["priority_linestatus_counts"] = priority_linestatus_counts

    # ---- TPC-H Q14 shape: promo revenue share — a global ratio of two
    # conditional decimal sums, single-row output ----
    def promo_revenue_share(spark, sf):
        li = load_table(spark, sf, "lineitem")
        p = load_table(spark, sf, "part")
        disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(18,4)"
        )
        return (
            li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
            .agg(
                F.round(
                    (
                        F.lit(100.0)
                        * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0).cast("decimal(18,4)"))).cast("double")
                        / F.sum(disc).cast("double")
                    ),
                    6,
                ).alias("promo_share_pct"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )

    q["promo_revenue_share"] = promo_revenue_share

    # ---- TPC-H Q18 shape: HAVING on a fact aggregate, then join the
    # surviving keys back (large-volume orders). The HAVING output is
    # tiny -> broadcast back against orders/customer ----
    def large_order_customers(spark, sf):
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        c = load_table(spark, sf, "customer")
        big = (
            li.groupBy("l_orderkey")
            .agg(F.round(F.sum(_dec("l_quantity", "decimal(12,2)")).cast("double"), 2).alias("sum_qty"))
            .where(F.col("sum_qty") > 300)
        )
        return (
            o.join(F.broadcast(big), o["o_orderkey"] == big["l_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        )

    q["large_order_customers"] = large_order_customers

    # ---- TPC-H Q19 shape: disjunction of conjunctive predicates across
    # the join — Catalyst extracts the common join key and pushes the
    # per-branch filters below it ----
    def disjunctive_part_revenue(spark, sf):
        li = load_table(spark, sf, "lineitem")
        p = load_table(spark, sf, "part")
        branch1 = (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        branch2 = (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 40)
        )
        return (
            li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
            .where(branch1 | branch2)
            .agg(
                F.round(
                    F.sum(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                            "decimal(18,4)"
                        )
                    ).cast("double"),
                    4,
                ).alias("revenue"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )

    q["disjunctive_part_revenue"] = disjunctive_part_revenue

    # ---- TPC-H Q22 shape: scalar subquery (global avg) + anti join ----
    def wealthy_inactive_customers(spark, sf):
        c = load_table(spark, sf, "customer")
        # round the scalar threshold so a last-ulp difference in the two
        # engines' float summation order can't flip a boundary row
        avg_bal = round(
            c.where(F.col("c_acctbal") > 0)
            .agg(F.avg("c_acctbal").alias("ab"))
            .collect()[0]["ab"],
            2,
        )
        big_orders = load_table(spark, sf, "orders").where(
            F.col("o_totalprice") > 250000
        )
        return (
            c.where(F.col("c_acctbal") > avg_bal)
            .join(big_orders, c["c_custkey"] == big_orders["o_custkey"], "left_anti")
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_custs"),
                F.round(F.sum(_dec("c_acctbal", "decimal(14,2)")).cast("double"), 2).alias("total_bal"),
            )
        )

    q["wealthy_inactive_customers"] = wealthy_inactive_customers

    # ---- higher-order array functions over embeddings: per-label L2
    # norm stats. aggregate() is a sequential left fold, so the
    # per-row double math is order-deterministic in both engines ----
    def embedding_norm_stats(spark, sf):
        e = load_table(spark, sf, "embeddings").select(
            "label", F.col("embedding").cast("array<double>").alias("emb")
        )
        norm = F.sqrt(
            F.aggregate("emb", F.lit(0.0), lambda acc, x: acc + x * x)
        )
        return (
            e.select("label", F.round(norm, 6).alias("norm"))
            .groupBy("label")
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.round(F.avg("norm"), 4).alias("avg_norm"),
                F.round(F.max("norm"), 4).alias("max_norm"),
                F.round(F.min("norm"), 4).alias("min_norm"),
            )
        )

    q["embedding_norm_stats"] = embedding_norm_stats

    # ---- deterministic stratified sampling (training-data mix
    # rebalancing): portable-hash keep decision, no RNG, no shuffle ----
    def doc_stratified_sample(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import stratified_sample

        docs = load_table(spark, sf, "documents")
        return stratified_sample(
            docs, {"en": 25, "de": 100, "zh": 50}, default_rate=10
        ).select("doc_id", "lang", "source")

    q["doc_stratified_sample"] = doc_stratified_sample

    # ---- the SQL entry path: the same engine surface via spark.sql
    # over registered views (Catalyst plans SQL and DataFrame code
    # identically; this proves the SQL front door works) ----
    def sql_segment_revenue(spark, sf):
        load_table(spark, sf, "customer").createOrReplaceTempView("v_customer")
        load_table(spark, sf, "orders").createOrReplaceTempView("v_orders")
        return spark.sql(
            """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(16,2))) AS DOUBLE), 2) AS revenue
            FROM v_orders JOIN v_customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
            """
        )

    q["sql_segment_revenue"] = sql_segment_revenue

    # ---- ntile ranking windows (W-family): per-nation balance
    # quartiles, deterministic tie-break, aggregated output ----
    def customer_balance_quartiles(spark, sf):
        c = load_table(spark, sf, "customer")
        w = Window.partitionBy("c_nationkey").orderBy(
            F.col("c_acctbal").desc(), F.col("c_custkey")
        )
        return (
            c.withColumn("quartile", F.ntile(4).over(w))
            .groupBy("c_nationkey", "quartile")
            .agg(
                F.count(F.lit(1)).alias("n_custs"),
                F.round(F.sum(_dec("c_acctbal", "decimal(14,2)")).cast("double"), 2).alias("total_bal"),
            )
        )

    q["customer_balance_quartiles"] = customer_balance_quartiles

    # ---- market-share ratio (TPC-H Q8 shape): per order-year, the
    # revenue share of ASIA-nation suppliers within all supplier revenue.
    # Conditional-sum ratio in ONE pass over the joined fact table; all
    # three dims broadcast ----
    def market_share_by_year(spark, sf):
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        s = load_table(spark, sf, "supplier")
        n = load_table(spark, sf, "nation")
        r = load_table(spark, sf, "region")
        sup_nat = (
            s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
            .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
            .select("s_suppkey", "r_name")
        )
        rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(18,4)"
        )
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(F.broadcast(sup_nat), li["l_suppkey"] == sup_nat["s_suppkey"])
            .groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(
                F.round(
                    (
                        F.sum(F.when(F.col("r_name") == "ASIA", rev)).cast("double")
                        / F.sum(rev).cast("double")
                    ),
                    6,
                ).alias("asia_share"),
                F.round(F.sum(rev).cast("double"), 4).alias("total_revenue"),
            )
        )

    q["market_share_by_year"] = market_share_by_year

    # ---- profit rollup (TPC-H Q9 shape, no partsupp in the synthetic
    # schema so amount = extendedprice*(1-discount) - quantity*retailprice/10):
    # per supplier-nation per order-year over PROMO parts ----
    def profit_by_nation_year(spark, sf):
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        s = load_table(spark, sf, "supplier")
        n = load_table(spark, sf, "nation")
        p = load_table(spark, sf, "part").where(F.col("p_type") == "PROMO")
        amount = (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("l_quantity") * F.col("p_retailprice") / 10.0
        ).cast("decimal(18,4)")
        return (
            li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
            .join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
            .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
            .groupBy(
                F.col("n_name").alias("nation"),
                F.year("o_orderdate").alias("o_year"),
            )
            .agg(F.round(F.sum(amount).cast("double"), 4).alias("sum_profit"))
        )

    q["profit_by_nation_year"] = profit_by_nation_year

    # ---- order-count distribution (TPC-H Q13): LEFT OUTER join so
    # zero-order customers land in bucket 0, then a second agg over the
    # first — two shuffles, both on small post-agg data ----
    def customer_order_distribution(spark, sf):
        c = load_table(spark, sf, "customer")
        o = load_table(spark, sf, "orders").where(
            F.col("o_orderpriority") != "1-URGENT"
        )
        per_cust = (
            c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("c_count"))
        )
        return per_cust.groupBy("c_count").agg(
            F.count(F.lit(1)).alias("custdist")
        )

    q["customer_order_distribution"] = customer_order_distribution

    # ---- per-group argmax join-back (TPC-H Q2 shape, partsupp-free):
    # for each part brand, the supplier with the highest revenue on that
    # brand; window row_number over a pre-aggregated (brand, supplier)
    # rollup — the window runs on post-agg data, never on the fact table ----
    def top_supplier_per_brand(spark, sf):
        li = load_table(spark, sf, "lineitem")
        p = load_table(spark, sf, "part")
        rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(18,4)"
        )
        brand_sup = (
            li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
            .groupBy("p_brand", "l_suppkey")
            .agg(F.round(F.sum(rev).cast("double"), 4).alias("revenue"))
        )
        w = Window.partitionBy("p_brand").orderBy(
            F.col("revenue").desc(), F.col("l_suppkey")
        )
        return (
            brand_sup.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("p_brand", F.col("l_suppkey").alias("s_suppkey"), "revenue")
        )

    q["top_supplier_per_brand"] = top_supplier_per_brand

    # ---- single-pass column profiler (training-pipeline audit step):
    # all stats partial-aggregatable, one scan, one-row merge, unpivot
    # on the aggregated row only ----
    def lineitem_profile(spark, sf):
        return profile_columns(
            load_table(spark, sf, "lineitem"),
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        )

    q["lineitem_profile"] = lineitem_profile

    # ---- ordered multi-step funnel over events ----
    def events_funnel(spark, sf):
        return funnel(
            load_table(spark, sf, "events"), ["view", "click", "purchase"]
        )

    q["events_funnel"] = events_funnel

    # ---- weekly cohort retention triangle over events ----
    def events_cohort_retention(spark, sf):
        return cohort_retention(load_table(spark, sf, "events"))

    q["events_cohort_retention"] = events_cohort_retention

    # ---- k-distance diagnostic for choosing eps (Ester et al. §4.2;
    # the reference hand-picks its eps range instead, DBSCAN.py:29-43) ----
    def eps_k_distance(spark, sf):
        from dbscan_pyspark_spark.operators.eps_join import k_distance

        return k_distance(
            points_from_customer(spark, sf), k=MINPTS_C, n_samples=64
        )

    q["eps_k_distance"] = eps_k_distance

    # ---- int8 embedding quantization (vector-store compression):
    # per-vector scale + integer checksum stats, engine-exact ----
    def embedding_quantization(spark, sf):
        from dbscan_pyspark_spark.operators.similarity import quantize_embeddings

        emb = load_table(spark, sf, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        qd = quantize_embeddings(emb)
        return qd.select(
            "vec_id",
            F.round("scale", 9).alias("scale"),
            F.aggregate("q", F.lit(0), lambda a, v: a + v).alias("q_sum"),
            F.size(F.filter("q", lambda v: F.abs(v) == 127)).alias("n_sat"),
        )

    q["embedding_quantization"] = embedding_quantization

    # ---- sparse TF-IDF cosine pairs via inverted-index join (the
    # sparse complement to embedding_near_dups) ----
    def doc_tfidf_cosine_pairs(spark, sf):
        from dbscan_pyspark_spark.operators.similarity import tfidf_cosine_pairs

        return tfidf_cosine_pairs(
            load_table(spark, sf, "documents"), threshold=0.6
        )

    q["doc_tfidf_cosine_pairs"] = doc_tfidf_cosine_pairs

    # ---- heavy-hitter key-skew diagnostic (salting/AQE-skew decision
    # input) over the orders fact key ----
    def orders_custkey_skew(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import key_skew_stats

        return key_skew_stats(load_table(spark, sf, "orders"), "o_custkey")

    q["orders_custkey_skew"] = orders_custkey_skew

    # ---- fixed-width histogram over l_quantity (fixed range so the
    # binning is closed-form in both engines) ----
    def quantity_histogram(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import histogram

        return histogram(
            load_table(spark, sf, "lineitem"), "l_quantity",
            n_bins=10, lo=0.0, hi=50.0,
        )

    q["quantity_histogram"] = quantity_histogram

    # ---- relational division: customers who ordered at EVERY priority
    # level — count-distinct-equality against the dimension's own
    # distinct count (broadcast 1-row), no iterative anti-join chain ----
    def customers_all_priorities(spark, sf):
        o = load_table(spark, sf, "orders")
        n_prio = o.select("o_orderpriority").distinct().agg(
            F.count(F.lit(1)).alias("_n_prio")
        )
        per_cust = o.groupBy("o_custkey").agg(
            F.count_distinct("o_orderpriority").alias("n_prio")
        )
        return (
            per_cust.crossJoin(F.broadcast(n_prio))
            .where(F.col("n_prio") == F.col("_n_prio"))
            .select("o_custkey", "n_prio")
        )

    q["customers_all_priorities"] = customers_all_priorities

    # ---- per-user funnel step times (the conversion-delay relation
    # behind events_funnel) ----
    def events_funnel_times(spark, sf):
        from dbscan_pyspark_spark.operators.events import funnel_user_times

        return funnel_user_times(
            load_table(spark, sf, "events"), ["view", "click", "purchase"]
        )

    q["events_funnel_times"] = events_funnel_times

    # ---- conversion-delay stats over completed funnels: integer-second
    # deltas so min/median/max are engine-exact ----
    def events_conversion_delay(spark, sf):
        from dbscan_pyspark_spark.operators.events import funnel_user_times

        t = funnel_user_times(
            load_table(spark, sf, "events"), ["view", "click", "purchase"]
        ).where(F.col("t3").isNotNull())
        delay = (F.unix_timestamp("t3") - F.unix_timestamp("t1")).alias("_d")
        return t.select(delay).agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.min("_d").alias("min_delay_s"),
            F.expr("percentile(_d, 0.5)").alias("median_delay_s"),
            F.max("_d").alias("max_delay_s"),
        )

    q["events_conversion_delay"] = events_conversion_delay

    # ---- train/eval contamination: 3-gram collisions between the
    # doc_id%10 split halves of the documents corpus ----
    def doc_contamination(spark, sf):
        from dbscan_pyspark_spark.operators.dedup import cross_contamination

        d = load_table(spark, sf, "documents")
        return cross_contamination(
            d.where(F.col("doc_id") % 10 != 0),
            d.where(F.col("doc_id") % 10 == 0),
            n=3,
        )

    q["doc_contamination"] = doc_contamination

    # ---- intra-doc repeated-3-gram ratio (Gopher-style quality signal;
    # pure projection, no explode/shuffle) ----
    def doc_repetition(spark, sf):
        from dbscan_pyspark_spark.functions.text import repetition_ratio

        return (
            load_table(spark, sf, "documents")
            .select(
                "doc_id", F.split(normalized("text"), " ").alias("_toks")
            )
            .select(
                "doc_id",
                F.round(repetition_ratio("_toks", 3), 6).alias("rep_ratio"),
            )
        )

    q["doc_repetition"] = doc_repetition

    # ---- token-window chunking (RAG/pretraining chunker); chunk text
    # pinned by md5 so the compare stays compact ----
    def doc_chunks(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import chunk_documents

        return chunk_documents(
            load_table(spark, sf, "documents"), chunk_tokens=64, stride=48
        ).select(
            "doc_id",
            "chunk",
            "n_tokens",
            F.md5("chunk_text").alias("chunk_md5"),
        )

    q["doc_chunks"] = doc_chunks

    # ---- regex scrubbing with match counts (digit runs stand in for
    # the PII patterns) ----
    def doc_redactions(spark, sf):
        from dbscan_pyspark_spark.functions.text import redactions

        r = redactions("text", "[0-9]+")
        return load_table(spark, sf, "documents").select(
            "doc_id",
            r["n_redactions"].alias("n_redactions"),
            F.md5(r["redacted"]).alias("redacted_md5"),
        )

    q["doc_redactions"] = doc_redactions

    # ---- volume-anomaly detection: hourly counts per event type vs
    # that type's own mean/stddev; |z| >= 1.5 flags the hour. Two
    # cheap aggs over post-agg data; stddev rounded so the FP sum of
    # squares hashes identically across engines ----
    def events_hourly_anomalies(spark, sf):
        ev = load_table(spark, sf, "events")
        hourly = ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n"))
        stats = hourly.groupBy("event_type").agg(
            F.avg("n").alias("_mu"),
            F.stddev_samp("n").alias("_sd"),
        )
        z = (F.col("n") - F.col("_mu")) / F.col("_sd")
        return (
            hourly.join(F.broadcast(stats), "event_type")
            .where(F.col("_sd") > 0)
            .select(
                "event_type",
                "hour",
                "n",
                F.round(z, 4).alias("z"),
            )
            .where(F.abs(F.col("z")) >= 1.5)
        )

    q["events_hourly_anomalies"] = events_hourly_anomalies

    # ---- lag-window growth: month-over-month revenue change per
    # nation; decimal-exact monthly sums, growth ratio rounded ----
    def nation_monthly_growth(spark, sf):
        o = load_table(spark, sf, "orders")
        c = load_table(spark, sf, "customer")
        n = load_table(spark, sf, "nation")
        monthly = (
            o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
            .groupBy(
                "n_name", F.date_trunc("month", "o_orderdate").alias("month")
            )
            .agg(F.sum(_dec("o_totalprice", "decimal(16,2)")).alias("_rev"))
        )
        w = Window.partitionBy("n_name").orderBy("month")
        prev = F.lag("_rev").over(w)
        return monthly.select(
            "n_name",
            F.col("month").cast("date").alias("month"),
            F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
            F.round(
                ((F.col("_rev") - prev) / prev).cast("double"), 6
            ).alias("mom_growth"),
        )

    q["nation_monthly_growth"] = nation_monthly_growth

    # ---- deterministic fixed-k per-group sample (balanced subset):
    # 5 customers per nation by portable hash order ----
    def customer_group_sample(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import group_sample

        return group_sample(
            load_table(spark, sf, "customer"),
            "c_nationkey",
            k=5,
            id_col="c_custkey",
        ).select("c_nationkey", "c_custkey", "c_name")

    q["customer_group_sample"] = customer_group_sample

    # ---- equi-depth (quantile) histogram over o_totalprice ----
    def totalprice_equidepth(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import equi_depth_histogram

        return equi_depth_histogram(
            load_table(spark, sf, "orders"), "o_totalprice", n_bins=8
        )

    q["totalprice_equidepth"] = totalprice_equidepth

    # ---- rank() with ties (vs the row_number top-k family): top
    # quantity tiers per return flag, ALL tied rows kept ----
    def top_quantity_tiers(spark, sf):
        li = load_table(spark, sf, "lineitem")
        w = Window.partitionBy("l_returnflag").orderBy(
            F.col("l_quantity").desc()
        )
        return (
            li.withColumn("tier", F.rank().over(w))
            .where(F.col("tier") <= 3)
            .groupBy("l_returnflag", "tier", "l_quantity")
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )

    q["top_quantity_tiers"] = top_quantity_tiers

    # ---- round-2 additions: deterministic k-means, sub-document dedup,
    # token entropy, Markov transitions, revenue concentration, dup-
    # cluster histogram ----
    def embedding_kmeans(spark, sf):
        from dbscan_pyspark_spark.operators.kmeans import kmeans_quantized

        return kmeans_quantized(
            load_table(spark, sf, "embeddings"), k=8, n_iter=3, scale=1000
        )

    q["embedding_kmeans"] = embedding_kmeans

    def kmember_quantized_embeddings(spark, sf):
        # deterministic exactly-oracled twin of the randomized
        # kmember_clusters (reference pipeline 2): integer grid +
        # lowest-id init + fixed repair rounds -> bit-exact replay
        from dbscan_pyspark_spark.operators.kmember import (
            kmember_quantized,
        )

        return kmember_quantized(
            load_table(spark, sf, "embeddings"),
            k=50,
            n_clusters=8,
            n_iter=2,
            repair_rounds=2,
            id_col="vec_id",
            features="embedding",
            scale=1000,
        )

    q["kmember_quantized_embeddings"] = kmember_quantized_embeddings

    def kmember_search_quantized_embeddings(spark, sf):
        # the reference's cluster-count sweep + seeded restarts
        # (k-means.ipynb cell0:L12-15,75-77,129-133) over the quantized
        # twin: every run shares one persisted scan; the metrics
        # relation (cost per config/restart + accepted argmin) replays
        # exactly in SQL — restart init is portable-hash ranked
        from dbscan_pyspark_spark.operators.kmember import (
            kmember_search_quantized,
        )

        metrics, _best = kmember_search_quantized(
            load_table(spark, sf, "embeddings"),
            k=50,
            candidates=[5, 8],
            restarts=2,
            n_iter=1,
            repair_rounds=2,
            id_col="vec_id",
            features="embedding",
            scale=1000,
        )
        return metrics

    q["kmember_search_quantized_embeddings"] = (
        kmember_search_quantized_embeddings
    )

    def doc_chunk_dedup(spark, sf):
        from dbscan_pyspark_spark.operators.dedup import chunk_dedup_stats

        return chunk_dedup_stats(
            load_table(spark, sf, "documents"), chunk_tokens=10
        )

    q["doc_chunk_dedup"] = doc_chunk_dedup

    def doc_dup_spans(spark, sf):
        # variable-length exact substring dedup (suffix-array-lite
        # k-gram span merge, Lee et al. 2022): one row per maximal
        # span whose every 10-token window occurs >=2 times in the
        # corpus — the alignment-free complement of doc_chunk_dedup's
        # fixed disjoint windows
        from dbscan_pyspark_spark.operators.dedup import duplicated_spans

        return duplicated_spans(
            load_table(spark, sf, "documents"), k=10
        ).select("doc_id", "span_start", "span_len")

    q["doc_dup_spans"] = doc_dup_spans

    def doc_dup_span_strip(spark, sf):
        # Lee et al. removal step: drop every token inside any
        # duplicated span, reassemble; clean_text hashed to keep the
        # compare row slim (the doc_boilerplate_strip convention)
        from dbscan_pyspark_spark.operators.dedup import (
            strip_duplicated_spans,
        )

        out = strip_duplicated_spans(
            load_table(spark, sf, "documents"), k=10
        )
        return out.select(
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            "n_tokens",
            "n_dropped",
        )

    q["doc_dup_span_strip"] = doc_dup_span_strip

    def doc_dup_span_strip_keep_first(spark, sf):
        # keep-one-copy reading of Lee et al.: each duplicated gram's
        # corpus-first occurrence (min (doc, pos)) is exempt from
        # anchoring, so rare-but-duplicated content survives once;
        # the occurrence rank rides the count window's exchange
        from dbscan_pyspark_spark.operators.dedup import (
            strip_duplicated_spans,
        )

        out = strip_duplicated_spans(
            load_table(spark, sf, "documents"), k=10, keep_first=True
        )
        return out.select(
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            "n_tokens",
            "n_dropped",
        )

    q["doc_dup_span_strip_keep_first"] = doc_dup_span_strip_keep_first

    def doc_boilerplate_strip(spark, sf):
        # CCNet-style boilerplate removal: drop 3-token segments
        # occurring in > 3 distinct docs, reassemble survivors in
        # order; clean_text hashed (md5) to keep the compare row slim
        from dbscan_pyspark_spark.operators.dedup import (
            strip_frequent_segments,
        )

        out = strip_frequent_segments(
            load_table(spark, sf, "documents"), max_doc_freq=3,
            seg_tokens=3,
        )
        return out.select(
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            "n_segments",
            "n_dropped",
        )

    q["doc_boilerplate_strip"] = doc_boilerplate_strip

    def doc_token_entropy(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import (
            token_entropy_stats,
        )

        return token_entropy_stats(load_table(spark, sf, "documents"))

    q["doc_token_entropy"] = doc_token_entropy

    def events_transitions(spark, sf):
        from dbscan_pyspark_spark.operators.events import transition_counts

        return transition_counts(load_table(spark, sf, "events"))

    q["events_transitions"] = events_transitions

    def revenue_concentration(spark, sf):
        # Pareto check: how concentrated is revenue across customer
        # deciles (decile 1 = highest-revenue customers).
        o = load_table(spark, sf, "orders")
        per_cust = o.groupBy("o_custkey").agg(
            F.sum(_dec("o_totalprice")).alias("_rev")
        )
        # distributed NTILE: range-partitioned rank + prefix offsets,
        # never an unpartitioned window over the per-customer relation
        from dbscan_pyspark_spark.operators.windows import global_ntile

        dec = global_ntile(
            per_cust,
            10,
            [F.col("_rev").desc(), F.col("o_custkey")],
            out_col="decile",
        ).select("decile", "_rev")
        agg = dec.groupBy("decile").agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("_rev").alias("_revd"),
        )
        total = F.sum("_revd").over(Window.partitionBy())
        return agg.select(
            "decile",
            "n_customers",
            F.round(F.col("_revd").cast("double"), 4).alias("revenue"),
            F.round(
                F.col("_revd").cast("double") / total.cast("double"), 6
            ).alias("share"),
        )

    q["revenue_concentration"] = revenue_concentration

    def dedup_cluster_sizes(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import near_dup_dedup

        out = near_dup_dedup(
            load_table(spark, sf, "documents"),
            threshold=0.3,
            num_hashes=16,
            rows_per_band=4,
            n=3,
        )
        # one output row per dup_group (keep-best) -> count() is the
        # number of groups at each size
        return out.groupBy("dup_group_size").agg(
            F.count(F.lit(1)).alias("n_groups")
        )

    q["dedup_cluster_sizes"] = dedup_cluster_sizes

    def embedding_covariance(spark, sf):
        from dbscan_pyspark_spark.operators.similarity import (
            embedding_covariance as cov,
        )

        return cov(load_table(spark, sf, "embeddings"), scale=1000)

    q["embedding_covariance"] = embedding_covariance

    def embedding_pca(spark, sf):
        # rows-only: the eigensolve isn't SQL-replayable; invariants
        # (orthonormality, variance ordering, numpy equivalence) are
        # pinned in tests/test_similarity.py. The pc array is emitted
        # as a comma-joined string (house pattern of eps_neighbor_ids):
        # array columns crash the driver's pandas canonicalizer.
        from dbscan_pyspark_spark.operators.similarity import pca_project

        proj = pca_project(
            load_table(spark, sf, "embeddings"), n_components=8
        )
        return proj.select(
            "vec_id",
            F.array_join(
                F.transform(
                    "pc", lambda x: (x + F.lit(0.0)).cast("string")
                ),
                ",",
            ).alias("pc"),
        )

    q["embedding_pca"] = embedding_pca

    def embedding_pca_trace(spark, sf):
        # the eigensolve's conservation laws, exactly oracled where
        # the eigensolve itself can't be: sum(eigenvalues) == trace of
        # the integer-grid covariance (DuckDB computes the trace from
        # the same exact moments), PSD spectrum, top-k explained
        # variance <= trace — the minhash_jaccard_error pattern for
        # the PCA family
        from dbscan_pyspark_spark.operators.similarity import (
            pca_trace_check,
        )

        return pca_trace_check(load_table(spark, sf, "embeddings"))

    q["embedding_pca_trace"] = embedding_pca_trace

    def events_scd2(spark, sf):
        from dbscan_pyspark_spark.operators.events import scd2_intervals

        return scd2_intervals(
            load_table(spark, sf, "events"),
            key_col="user_id",
            ts_col="ts",
            attr_cols=["event_type"],
            order_cols=("event_id",),
        )

    q["events_scd2"] = events_scd2

    def nation_pagerank(spark, sf):
        from dbscan_pyspark_spark.operators.components import pagerank

        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        c = load_table(spark, sf, "customer")
        s = load_table(spark, sf, "supplier")
        edges = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .join(s, li["l_suppkey"] == s["s_suppkey"])
            .select(
                F.col("s_nationkey").alias("src"),
                F.col("c_nationkey").alias("dst"),
            )
        )
        return pagerank(edges, n_iter=3)

    q["nation_pagerank"] = nation_pagerank

    def events_user_intervals(spark, sf):
        from dbscan_pyspark_spark.operators.events import merge_intervals

        ev = load_table(spark, sf, "events").select(
            "user_id",
            F.col("ts").alias("s"),
            (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
        )
        return merge_intervals(ev, "user_id", "s", "e")

    q["events_user_intervals"] = events_user_intervals

    def fk_integrity(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import integrity_check

        o = load_table(spark, sf, "orders")
        c = load_table(spark, sf, "customer")
        li = load_table(spark, sf, "lineitem")
        a = integrity_check(o, c, ["o_custkey"], ["c_custkey"]).select(
            F.lit("orders->customer").alias("relationship"), "*"
        )
        b = integrity_check(li, o, ["l_orderkey"], ["o_orderkey"]).select(
            F.lit("lineitem->orders").alias("relationship"), "*"
        )
        return a.unionByName(b)

    q["fk_integrity"] = fk_integrity

    def doc_corpus_filter(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import corpus_filter

        return corpus_filter(
            load_table(spark, sf, "documents"),
            min_tokens=25,
            min_quality=0.9,
            max_repetition=0.05,
        )

    q["doc_corpus_filter"] = doc_corpus_filter

    def clean_corpus_splits(spark, sf):
        # end-to-end pipeline composition: filter -> deterministic split
        # -> per-split volume accounting, one DAG
        from dbscan_pyspark_spark.operators.pipeline import (
            corpus_filter,
            hash_split,
        )

        kept = (
            corpus_filter(
                load_table(spark, sf, "documents"),
                min_tokens=25,
                min_quality=0.9,
                max_repetition=0.05,
            )
            .where("keep")
            .select("doc_id", "n_tokens")
        )
        split = hash_split(kept, splits=[("train", 8), ("val", 1), ("test", 1)])
        return split.groupBy("split").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )

    q["clean_corpus_splits"] = clean_corpus_splits

    def events_first_touch(spark, sf):
        # first-touch attribution: credit each user's first purchase to
        # the user's FIRST event type observed before (or at) it
        ev = load_table(spark, sf, "events")
        buys = ev.where(F.col("event_type") == "purchase").groupBy(
            "user_id"
        ).agg(
            F.min("ts").alias("_buy_ts")
        )
        first_touch = (
            ev.join(buys, "user_id")
            .where(F.col("ts") <= F.col("_buy_ts"))
            .groupBy("user_id")
            .agg(
                F.min_by(
                    "event_type", F.struct(F.col("ts"), F.col("event_id"))
                ).alias("channel")
            )
        )
        return first_touch.groupBy("channel").agg(
            F.count(F.lit(1)).alias("n_conversions")
        )

    q["events_first_touch"] = events_first_touch

    def customer_rfm_segments(spark, sf):
        # classic RFM: quartile-code each customer on recency /
        # frequency / monetary, count customers per segment code
        o = load_table(spark, sf, "orders")
        per_cust = o.groupBy("o_custkey").agg(
            F.max("o_orderdate").alias("_last"),
            F.count(F.lit(1)).alias("_freq"),
            F.sum(_dec("o_totalprice")).alias("_spend"),
        )
        # three distributed NTILEs (one per RFM dimension), chained —
        # each pass ranks the previous pass's (already checkpointed)
        # output, so per_cust itself is read exactly once
        from dbscan_pyspark_spark.operators.windows import global_ntile

        tiled = global_ntile(
            per_cust, 4,
            [F.col("_last").desc(), F.col("o_custkey")], out_col="_rt",
        )
        tiled = global_ntile(
            tiled, 4,
            [F.col("_freq").desc(), F.col("o_custkey")], out_col="_ft",
        )
        tiled = global_ntile(
            tiled, 4,
            [F.col("_spend").desc(), F.col("o_custkey")], out_col="_mt",
        )
        coded = tiled.select(
            F.concat(
                F.lit("R"), F.col("_rt").cast("string"),
                F.lit("F"), F.col("_ft").cast("string"),
                F.lit("M"), F.col("_mt").cast("string"),
            ).alias("segment")
        )
        return coded.groupBy("segment").agg(
            F.count(F.lit(1)).alias("n_customers")
        )

    q["customer_rfm_segments"] = customer_rfm_segments

    def customer_revenue_percentile(spark, sf):
        # exact percentile rank (cume_dist) of each customer's revenue,
        # bucketed to a compact relation: top-decile flag + percentile
        o = load_table(spark, sf, "orders")
        per_cust = o.groupBy("o_custkey").agg(
            F.sum(_dec("o_totalprice")).alias("_rev")
        )
        # under a TOTAL order cume_dist == rn/n exactly, so the
        # distributed global rank replaces the unpartitioned window
        from dbscan_pyspark_spark.operators.windows import global_row_number

        ranked, n = global_row_number(
            per_cust, [F.col("_rev"), F.col("o_custkey")], out_col="_rn"
        )
        return ranked.select(
            "o_custkey",
            F.round(F.col("_rev").cast("double"), 4).alias("revenue"),
            F.round(F.col("_rn") / F.lit(float(n)), 6).alias("pct_rank"),
        )

    q["customer_revenue_percentile"] = customer_revenue_percentile

    def events_rolling_active_users(spark, sf):
        # 7-day rolling distinct actives per day: day-grain distinct
        # relation first (bounds every operand by users x days), then a
        # bounded range self-join re-counts the window exactly —
        # rolling COUNT DISTINCT is not window-able, this is the
        # standard exact formulation
        ev = load_table(spark, sf, "events")
        du = ev.select(
            F.col("user_id"), F.to_date("ts").alias("_day")
        ).distinct()
        days = du.select("_day").distinct().alias("d")
        dj = days.join(
            du.alias("u"),
            (F.col("u._day") <= F.col("d._day"))
            & (F.col("u._day") >= F.date_sub(F.col("d._day"), 6)),
        )
        return dj.groupBy(F.col("d._day").alias("day")).agg(
            F.count_distinct("u.user_id").alias("wau")
        )

    q["events_rolling_active_users"] = events_rolling_active_users

    def nation_supplier_hhi(spark, sf):
        # Herfindahl-Hirschman concentration of supplier revenue within
        # each nation — exact decimal shares, rounded once at the end
        li = load_table(spark, sf, "lineitem")
        s = load_table(spark, sf, "supplier")
        rev = (
            li.join(s, li["l_suppkey"] == s["s_suppkey"])
            .groupBy("s_nationkey", "s_suppkey")
            .agg(
                F.sum(
                    _dec("l_extendedprice") * (1 - _dec("l_discount"))
                ).alias("_rev")
            )
        )
        tot = Window.partitionBy("s_nationkey")
        share = F.col("_rev").cast("double") / F.sum("_rev").over(tot).cast(
            "double"
        )
        return (
            rev.select("s_nationkey", (share * share).alias("_sq"))
            .groupBy("s_nationkey")
            .agg(
                F.round(
                    F.sum(
                        F.round(F.col("_sq") * 1e12, 0).cast("long")
                    ) / F.lit(1e12),
                    6,
                ).alias("hhi")
            )
        )

    q["nation_supplier_hhi"] = nation_supplier_hhi

    def sql_priority_share_rank(spark, sf):
        # pure-SQL surface: the SAME text runs on Spark (temp views) and
        # DuckDB (oracle) — windowed share + rank in one dialect-shared
        # statement
        load_table(spark, sf, "orders").createOrReplaceTempView("v_orders")
        return spark.sql(
            _SQL_PRIORITY_SHARE_RANK.replace("orders", "v_orders")
        )

    q["sql_priority_share_rank"] = sql_priority_share_rank

    def dbscan_assign_customer(spark, sf):
        # DBSCAN inference: train on even-id customers, classify odd-id
        # customers against the trained clusters
        from dbscan_pyspark_spark.operators.dbscan import dbscan_assign
        from dbscan_pyspark_spark.sources.tables import (
            points_from_customer,
        )

        pts = points_from_customer(spark, sf)
        train = pts.where(F.col("id") % 2 == 0)
        new = pts.where(F.col("id") % 2 == 1)
        labels = dbscan(train, eps=3.0, min_pts=4)
        return dbscan_assign(new, train, labels, eps=3.0)

    q["dbscan_assign_customer"] = dbscan_assign_customer

    def ivf_ann_topk_exact(spark, sf):
        # approximate ANN with an EXACT oracle: deterministic quantized
        # coarse quantizer + integer-cosine scoring (see _ivf_oracle)
        from dbscan_pyspark_spark.operators.similarity import (
            ivf_quantized_topk,
        )

        e = load_table(spark, sf, "embeddings")
        return ivf_quantized_topk(
            e,
            e.where(F.col("vec_id") % 100 == 0),
            k=5,
            n_cells=8,
            nprobe=3,
            n_iter=2,
        )

    q["ivf_ann_topk_exact"] = ivf_ann_topk_exact

    def embedding_near_dups_lsh_exact(spark, sf):
        # RP-LSH with integer-quantized planes AND vectors: exact signs,
        # exact candidate set, exact verification -> full oracle
        e = load_table(spark, sf, "embeddings").select(
            "vec_id",
            F.transform(
                "embedding", lambda x: F.round(x * 1000, 0).cast("long")
            ).alias("qemb"),
        )
        return rp_lsh_near_dup_pairs(
            e,
            threshold=0.4,
            n_planes=16,
            rows_per_band=4,
            vec_col="qemb",
            plane_scale=1000,
        )

    q["embedding_near_dups_lsh_exact"] = embedding_near_dups_lsh_exact

    def embedding_semantic_dedup(spark, sf):
        # SemDeDup-shaped corpus dedup in embedding space: exact-replay
        # LSH pairs (integer planes + quantized vectors, the lsh_exact
        # trick) -> connected components -> keep the min-id
        # representative per duplicate group
        from dbscan_pyspark_spark.operators.similarity import (
            semantic_dedup,
        )

        e = load_table(spark, sf, "embeddings").select(
            "vec_id",
            F.transform(
                "embedding", lambda x: F.round(x * 1000, 0).cast("long")
            ).alias("qemb"),
        )
        out = semantic_dedup(
            e, threshold=0.4, vec_col="qemb", plane_scale=1000
        )
        return out.select("vec_id", "dup_group", "dup_group_size")

    q["embedding_semantic_dedup"] = embedding_semantic_dedup

    def events_asof_next_view(spark, sf):
        # FORWARD as-of: for each error, the first view at-or-after it
        # for the same user (the "what did the user see next" join)
        ev = load_table(spark, sf, "events")
        errors = ev.where(F.col("event_type") == "error").select(
            "event_id", "user_id", "ts"
        )
        views = (
            ev.where(F.col("event_type") == "view")
            .groupBy("user_id", "ts")
            .agg(F.min("event_id").alias("view_event_id"))
        )
        out = asof_join(
            errors,
            views,
            on=["user_id"],
            value_cols=["view_event_id"],
            direction="forward",
        )
        return out.select(
            "event_id",
            "user_id",
            "ts",
            F.col("ts_r").alias("view_ts"),
            F.col("view_event_id_r").alias("view_event_id"),
        )

    q["events_asof_next_view"] = events_asof_next_view

    def part_cooccurrence(spark, sf):
        # market-basket co-occurrence: top part pairs ordered together.
        # Candidate pairs are bounded by lines-per-order (~7), so the
        # self-join on the order key is safe at any order count.
        li = load_table(spark, sf, "lineitem").select(
            "l_orderkey", "l_partkey"
        ).distinct()
        a = li.alias("a")
        b = li.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(
                F.col("a.l_partkey").alias("part_a"),
                F.col("b.l_partkey").alias("part_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_orders"))
        )
        # TakeOrdered shape (the build_vocab/category_drift pattern):
        # sort-limit plans as per-partition top-N + driver merge; the
        # rank window then runs over the 20-row head, never the full
        # pair-count relation
        order = [F.col("n_orders").desc(), F.col("part_a"), F.col("part_b")]
        top = pairs.orderBy(*order).limit(20)
        return top.withColumn(
            "rnk", F.row_number().over(Window.orderBy(*order))
        )

    q["part_cooccurrence"] = part_cooccurrence

    def events_session_histogram(spark, sf):
        # distribution of session lengths (events per 30-min-gap
        # session) — the engagement-shape profile over the session op
        s = session_agg(load_table(spark, sf, "events"), gap="30 minutes")
        return s.groupBy("n_events").agg(
            F.count(F.lit(1)).alias("n_sessions")
        )

    q["events_session_histogram"] = events_session_histogram

    def dedup_savings(spark, sf):
        # bytes removed by exact dedup: per-source kept/dropped chars
        d = load_table(spark, sf, "documents")
        w = Window.partitionBy(F.md5(normalized("text"))).orderBy("doc_id")
        marked = d.select(
            "source",
            F.col("n_chars"),
            (F.row_number().over(w) > 1).cast("int").alias("_dup"),
        )
        return marked.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_dup").alias("n_dropped"),
            F.sum(F.col("n_chars") * F.col("_dup")).alias("chars_dropped"),
            F.round(
                F.sum(F.col("n_chars") * F.col("_dup"))
                / F.sum("n_chars"),
                6,
            ).alias("savings_ratio"),
        )

    q["dedup_savings"] = dedup_savings

    def doc_weighted_sample(spark, sf):
        # char-count-weighted deterministic sample (quality-biased
        # subset selection without an RNG)
        from dbscan_pyspark_spark.operators.pipeline import weighted_sample

        return weighted_sample(
            load_table(spark, sf, "documents"), "n_chars", k=50
        ).select("doc_id", "n_chars")

    q["doc_weighted_sample"] = doc_weighted_sample

    def events_resampled(spark, sf):
        # pandas-style resample().ffill() as a relation: per-user
        # 1-hour grid, last value per bucket, gaps forward-filled
        from dbscan_pyspark_spark.operators.events import resample_ffill

        return resample_ffill(
            load_table(spark, sf, "events"),
            "user_id",
            "ts",
            ["value"],
            step="1 hour",
        )

    q["events_resampled"] = events_resampled

    def pretraining_report(spark, sf):
        # end-to-end pipeline accounting in ONE relation: how much
        # survives each stage (the readout a data-curation run ships)
        from dbscan_pyspark_spark.operators.pipeline import (
            corpus_filter,
            hash_split,
        )

        d = load_table(spark, sf, "documents")
        filt = corpus_filter(
            d, min_tokens=25, min_quality=0.9, max_repetition=0.05
        ).localCheckpoint(eager=False)
        kept = filt.where("keep")

        def stage(df, name):
            return df.agg(
                F.lit(name).alias("stage"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
            )

        input_row = stage(
            filt, "0_input"
        )  # filt carries n_tokens for every doc
        kept_row = stage(kept, "1_filtered")
        splits = hash_split(
            kept, splits=[("train", 8), ("val", 1), ("test", 1)]
        )
        split_rows = splits.groupBy(
            F.concat(F.lit("2_split_"), "split").alias("stage")
        ).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        return input_row.unionByName(kept_row).unionByName(split_rows)

    q["pretraining_report"] = pretraining_report

    def part_name_fuzzy_pairs(spark, sf):
        # entity-resolution primitive: near-identical catalog names
        from dbscan_pyspark_spark.operators.dedup import fuzzy_pairs

        return fuzzy_pairs(
            load_table(spark, sf, "part"), "p_name", max_dist=3
        )

    q["part_name_fuzzy_pairs"] = part_name_fuzzy_pairs

    def lineitem_winsorized_stats(spark, sf):
        # per-flag 1%/99% winsorization report: the clip bounds and how
        # many rows each tail clamps (all deterministic outputs)
        from dbscan_pyspark_spark.operators.pipeline import winsorize

        li = load_table(spark, sf, "lineitem").select(
            "l_returnflag", F.col("l_extendedprice").cast("double").alias("p")
        )
        w = winsorize(
            li, "p", lo_q=0.01, hi_q=0.99,
            group_cols=["l_returnflag"], out_col="p_w",
        )
        return (
            w.groupBy("l_returnflag")
            .agg(
                F.round(F.min("p_w"), 4).alias("lo_bound"),
                F.round(F.max("p_w"), 4).alias("hi_bound"),
                F.sum((F.col("p") < F.col("p_w")).cast("long")).alias(
                    "n_clamped_lo"
                ),
                F.sum((F.col("p") > F.col("p_w")).cast("long")).alias(
                    "n_clamped_hi"
                ),
            )
        )

    q["lineitem_winsorized_stats"] = lineitem_winsorized_stats

    def events_imputed_values(spark, sf):
        # median imputation demo: error events carry no value -> impute
        # with the user's median; report per-user imputation counts
        from dbscan_pyspark_spark.operators.pipeline import (
            impute_group_median,
        )

        ev = load_table(spark, sf, "events").select(
            "user_id",
            F.when(F.col("event_type") != "error", F.col("value")).alias(
                "v"
            ),
        )
        imp = impute_group_median(ev, ["user_id"], "v", out_col="v_f")
        return (
            imp.groupBy("user_id")
            .agg(
                F.sum(F.col("v").isNull().cast("long")).alias("n_imputed"),
                F.round(
                    F.max(F.when(F.col("v").isNull(), F.col("v_f"))), 4
                ).alias("imputed_value"),
            )
            .where(F.col("n_imputed") > 0)
        )

    q["events_imputed_values"] = events_imputed_values

    def shipping_delay_stats(spark, sf):
        # order-to-ship latency distribution per priority: integer-day
        # deltas make mean/percentile cross-engine exact
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        d = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
            "o_orderpriority",
            F.datediff("l_shipdate", "o_orderdate").alias("_delay"),
        )
        return d.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.avg("_delay"), 4).alias("avg_delay_days"),
            F.round(F.expr("percentile(_delay, 0.9)"), 4).alias(
                "p90_delay_days"
            ),
            F.max("_delay").alias("max_delay_days"),
        )

    q["shipping_delay_stats"] = shipping_delay_stats

    def order_value_outliers(spark, sf):
        # per-month z-score outliers on order value: decimal-exact
        # moments -> deterministic doubles -> rounded z threshold
        o = load_table(spark, sf, "orders")
        base = o.select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
            _dec("o_totalprice").alias("_p"),
        )
        stats = base.groupBy("m").agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_p").alias("_s"),
            F.sum(F.col("_p") * F.col("_p")).alias("_ss"),
        )
        var = (
            F.col("_ss").cast("double") / F.col("_n")
            - (F.col("_s").cast("double") / F.col("_n"))
            * (F.col("_s").cast("double") / F.col("_n"))
        )
        z = base.join(stats, "m").select(
            "m",
            # zero/degenerate variance -> no z (guarded identically in
            # the oracle: engines disagree on double division by zero)
            F.when(
                var > 0,
                (
                    F.col("_p").cast("double")
                    - F.col("_s").cast("double") / F.col("_n")
                )
                / F.sqrt(var),
            ).alias("_z"),
        )
        return z.groupBy("m").agg(
            F.sum(
                F.coalesce(
                    (F.round(F.abs("_z"), 6) > 3.0).cast("long"), F.lit(0)
                )
            ).alias("n_outliers"),
            F.round(F.max(F.abs("_z")), 4).alias("max_abs_z"),
        )

    q["order_value_outliers"] = order_value_outliers

    def multimodal_frame_samples(spark, sf):
        # frame-sampling plumbing under the ORACLE gate: the fake
        # decoder slices payload bytes deterministically, so the Arrow
        # mapInPandas stage replays exactly in SQL (frames pinned by
        # md5 so the compare stays compact)
        from dbscan_pyspark_spark.operators.multimodal import (
            media_from_documents,
            sample_frames,
        )

        docs = load_table(spark, sf, "documents").where(
            # frames slice BYTES; the SQL oracle can only slice CHARS
            # (DuckDB has no blob substring), so the gate runs on the
            # domain where they coincide: bytes == chars (ASCII text)
            F.length(F.encode("text", "utf-8")) == F.length("text")
        )
        media = media_from_documents(docs).where(
            F.col("modality") == "video"
        )
        return sample_frames(media, every_ms=1000, max_frames=8).select(
            "media_id",
            "frame_index",
            "frame_offset_ms",
            F.md5("frame").alias("frame_md5"),
        )

    q["multimodal_frame_samples"] = multimodal_frame_samples

    def events_stickiness(spark, sf):
        # DAU/MAU stickiness per month: distinct-first day-grain
        # relation bounds everything by users x days
        ev = load_table(spark, sf, "events")
        du = ev.select(
            "user_id",
            F.to_date("ts").alias("_day"),
            F.date_trunc("month", "ts").cast("date").alias("_month"),
        ).distinct()
        dau = du.groupBy("_month", "_day").agg(
            F.count_distinct("user_id").alias("_dau")
        )
        mau = du.groupBy("_month").agg(
            F.count_distinct("user_id").alias("mau")
        )
        avg_dau = dau.groupBy("_month").agg(
            F.round(F.avg("_dau"), 4).alias("avg_dau")
        )
        return (
            avg_dau.join(mau, "_month")
            .select(
                F.col("_month").alias("month"),
                "avg_dau",
                "mau",
                F.round(F.col("avg_dau") / F.col("mau"), 6).alias(
                    "stickiness"
                ),
            )
        )

    q["events_stickiness"] = events_stickiness

    # ---- round-3 additions ----
    def part_brand_mode(spark, sf):
        # deterministic per-group mode (built-in `mode` is
        # tie-nondeterministic, so it can never oracle-match)
        from dbscan_pyspark_spark.operators.windows import mode_per_group

        return mode_per_group(
            load_table(spark, sf, "part"), ["p_type"], "p_brand",
            out_col="mode_brand",
        )

    q["part_brand_mode"] = part_brand_mode

    def events_dedup_window(spark, sf):
        # debounce dedup: drop events firing < 5 min after the previous
        # event of the same (user, type) — the batch twin of a
        # streaming throttle; summary per type
        from dbscan_pyspark_spark.operators.events import throttle_dedup

        ev = load_table(spark, sf, "events")
        flagged = throttle_dedup(ev, min_gap_seconds=300)
        return flagged.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("is_kept").cast("int")).alias("n_kept"),
            F.sum((~F.col("is_kept")).cast("int")).alias("n_dropped"),
        )

    q["events_dedup_window"] = events_dedup_window

    def doc_gopher_filters(spark, sf):
        # Gopher-rule corpus quality summary (Rae et al. 2021): per
        # source, how many docs pass each filter and all of them
        from dbscan_pyspark_spark.operators.pipeline import gopher_quality

        d = gopher_quality(load_table(spark, sf, "documents"))
        return d.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("pass_word_count").cast("int")).alias("n_pass_word_count"),
            F.sum(F.col("pass_mean_word_len").cast("int")).alias("n_pass_mean_word_len"),
            F.sum(F.col("pass_stopwords").cast("int")).alias("n_pass_stopwords"),
            F.sum(F.col("pass_gopher").cast("int")).alias("n_pass_gopher"),
        )

    q["doc_gopher_filters"] = doc_gopher_filters

    def embedding_label_cohesion(spark, sf):
        # per-label within-class variance from exact integer moments —
        # single groupBy shuffle, k-means-update profile
        from dbscan_pyspark_spark.operators.similarity import label_cohesion

        return label_cohesion(load_table(spark, sf, "embeddings"))

    q["embedding_label_cohesion"] = embedding_label_cohesion

    def orders_open_backlog(spark, sf):
        # month-grain open-order backlog: an order is open from its
        # orderdate month through its last shipdate month (interval
        # expansion — the time-dimension explode is bounded by span
        # months, not rows, so the relation stays linear in orders)
        o = load_table(spark, sf, "orders")
        li = load_table(spark, sf, "lineitem")
        span = (
            o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.max("l_shipdate").alias("_last_ship"))
        )
        # the synthetic lineitem can ship BEFORE the orderdate — clamp
        # so the month sequence never runs backwards
        months = F.sequence(
            F.trunc("o_orderdate", "month"),
            F.trunc(
                F.greatest("o_orderdate", "_last_ship"), "month"
            ),
            F.expr("INTERVAL 1 MONTH"),
        )
        return (
            span.select(F.explode(months).alias("month"))
            .groupBy("month")
            .agg(F.count(F.lit(1)).alias("n_open"))
        )

    q["orders_open_backlog"] = orders_open_backlog

    def lang_id_confusion(spark, sf):
        # evaluation-style confusion matrix: the documents table's lang
        # column is ground truth; rows are (actual, predicted) counts
        d = load_table(spark, sf, "documents")
        return (
            d.select("lang", lang_id("text").alias("lang_pred"))
            .groupBy(F.col("lang").alias("lang_actual"), "lang_pred")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )

    q["lang_id_confusion"] = lang_id_confusion

    def minhash_jaccard_error(spark, sf):
        # estimator calibration: |signature-estimate - exact Jaccard|
        # histogram over the banded candidate pairs, bucketed at the
        # 1/16 signature granularity (est is an exact multiple of 1/16,
        # so bucket boundaries are exactly representable doubles)
        from dbscan_pyspark_spark.operators.dedup import (
            minhash_estimate_errors,
        )

        e = minhash_estimate_errors(
            load_table(spark, sf, "documents"),
            num_hashes=16, rows_per_band=4, n=3,
        )
        bucket = F.floor(
            F.abs(F.col("est_jaccard") - F.col("exact_jaccard")) * 16
        ).cast("int")
        return (
            e.select(bucket.alias("err_bucket"))
            .groupBy("err_bucket")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
        )

    q["minhash_jaccard_error"] = minhash_jaccard_error

    def part_bfs_hops(spark, sf):
        # minimum-hop BFS over the part co-occurrence graph (parts
        # sharing an order) from the p_size=1 seed set — fourth
        # iterative operator with an exact unrolled-CTE oracle (after
        # DBSCAN, k-means, PageRank)
        from dbscan_pyspark_spark.operators.components import bfs_hops

        li = load_table(spark, sf, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        a, b = li.alias("a"), li.alias("b")
        edges = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias("src"),
                F.col("b.l_partkey").alias("dst"),
            )
            .distinct()
        )
        seeds = (
            load_table(spark, sf, "part")
            .where(F.col("p_size") == 1)
            .select(F.col("p_partkey").alias("id"))
        )
        return bfs_hops(edges, seeds, max_hops=3).select(
            F.col("node").alias("p_partkey"), "hop"
        )

    q["part_bfs_hops"] = part_bfs_hops

    def ivf_recall_eval(spark, sf):
        # ANN quality evaluation: recall@5 of the 3-probe IVF against
        # the exhaustive (nprobe = n_cells) run of the SAME quantized
        # pipeline — per-query overlap histogram. Both sides are
        # deterministic, so even this evaluation hash-matches its
        # oracle.
        from dbscan_pyspark_spark.operators.kmeans import kmeans_fit
        from dbscan_pyspark_spark.operators.similarity import (
            ivf_quantized_topk,
        )

        e = load_table(spark, sf, "embeddings")
        qs = e.where(F.col("vec_id") % 100 == 0)
        # one shared coarse quantizer: both probes use the identical
        # deterministic index, so training runs once, not twice
        model = kmeans_fit(e, k=8, n_iter=2)
        approx = ivf_quantized_topk(
            e, qs, k=5, n_cells=8, nprobe=3, n_iter=2, model=model
        )
        exact = ivf_quantized_topk(
            e, qs, k=5, n_cells=8, nprobe=8, n_iter=2, model=model
        )
        ov = (
            approx.join(exact, ["query_id", "vec_id"], "inner")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("_m"))
        )
        # per-query relation comes from the SEED query set (mirroring
        # the oracle's qsel LEFT JOIN ov), not from exact's output: a
        # query with zero exact top-k rows (degenerate corpus) must
        # still count in the n_matched=0 bucket
        per_query = (
            qs.select(F.col("vec_id").alias("query_id"))
            .join(ov, "query_id", "left")
            .select(F.coalesce(F.col("_m"), F.lit(0)).alias("n_matched"))
        )
        return per_query.groupBy("n_matched").agg(
            F.count(F.lit(1)).alias("n_queries")
        )

    q["ivf_recall_eval"] = ivf_recall_eval

    def ivf_two_level_topk(spark, sf):
        # rows-only: the hierarchical quantizer's per-cell Lloyd fit
        # (applyInPandas over coarse cells) isn't SQL-replayable —
        # an unrolled-CTE oracle would need k1 independent k-means
        # unrollings. Determinism, exhaustive-probe == brute-force
        # equality, and the 5M-vector population bar are pinned in
        # tests/test_similarity.py + the ivf_two_level_5m_auto stress
        # stage; this entry runs the two-level path (forced past
        # _FLAT_MAX_CELLS, since sf-scale corpora resolve flat) in the
        # driver harness end-to-end.
        from dbscan_pyspark_spark.operators.similarity import (
            ivf_fit_two_level,
            ivf_quantized_topk,
        )

        e = load_table(spark, sf, "embeddings")
        qs = e.where(F.col("vec_id") % 100 == 0)
        # n_iter=1: this entry is a liveness probe of the two-level
        # path, and one Lloyd update per level already runs every step
        # of both fits; quality is the stress stage's job, not this
        # entry's. The rows depend on n_iter, so it stays fixed.
        model = ivf_fit_two_level(e, 4100, n_iter=1)
        return ivf_quantized_topk(
            e, qs, k=5, nprobe=64, model=model, nprobe_l1=4
        )

    q["ivf_two_level_topk"] = ivf_two_level_topk

    def doc_bigram_fluency(spark, sf):
        # log-free n-gram-LM stand-in: per-doc mean bit-length of its
        # bigrams' corpus counts (floor(log2)+1 — exact integers, so
        # the score oracles bit-for-bit where a float ln cannot)
        from dbscan_pyspark_spark.operators.pipeline import bigram_fluency

        return bigram_fluency(load_table(spark, sf, "documents"))

    q["doc_bigram_fluency"] = doc_bigram_fluency

    # ---- PMI collocations (operators/pipeline.py): top-k adjacent
    # word pairs by pointwise mutual information — the phrase-mining /
    # tokenizer-seeding primitive; one identically-structured log
    # ratio in both engines, 1e-9-grid rank, round-4 emit (the bm25
    # ln discipline) ----
    def doc_pmi_collocations(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import (
            pmi_collocations,
        )

        return pmi_collocations(
            load_table(spark, sf, "documents"), k=20, min_count=5
        )

    q["doc_pmi_collocations"] = doc_pmi_collocations

    # ---- Count-Min Sketch over part demand (operators/pipeline.py):
    # md5-derived hashes make the sketch and every point estimate
    # exactly reproducible cross-engine — unlike the engine-native
    # HLL/KLL sketches, the CMS carries a value-hash oracle; 20k
    # distinct parts into 4x64 counters guarantees real collision
    # mass, and overestimate >= 0 is the CMS bound the oracle pins ----
    def part_demand_cms(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import cms_estimates

        return cms_estimates(
            load_table(spark, sf, "lineitem"), "l_partkey",
            depth=4, width=64,
        )

    q["part_demand_cms"] = part_demand_cms

    # ---- add-1 bigram-LM perplexity (operators/pipeline.py): the
    # real KenLM-style quality score (ln-based, decimal-grid summed),
    # next to the ln-free magnitude-bucket doc_bigram_fluency ----
    def doc_lm_perplexity(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import lm_perplexity

        return lm_perplexity(load_table(spark, sf, "documents"))

    q["doc_lm_perplexity"] = doc_lm_perplexity

    # ---- linear probabilistic counting (operators/pipeline.py):
    # distinct users per event type via an m-bit bitmap — portable md5
    # bits, so the estimate itself is value-hash-oracled next to the
    # exact count (the CMS discipline; engine-native HLL stays
    # rows-only by nature) ----
    def event_user_lpc(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import (
            linear_count_distinct,
        )

        return linear_count_distinct(
            load_table(spark, sf, "events"), "user_id",
            group_cols=["event_type"], m=1024,
        )

    q["event_user_lpc"] = event_user_lpc

    # ---- Bloom-filter join pruning (operators/pipeline.py): filter
    # built over high-balance customers, probed by order custkeys —
    # the no-false-negatives guarantee is what the oracle pins ----
    def order_bloom_probe(spark, sf):
        from dbscan_pyspark_spark.operators.pipeline import bloom_probe

        c = load_table(spark, sf, "customer").where(
            F.col("c_acctbal") > 5000
        )
        return bloom_probe(
            load_table(spark, sf, "orders"), c,
            "o_custkey", "c_custkey", m=4096, k=4,
        )

    q["order_bloom_probe"] = order_bloom_probe

    def part_triangle_histogram(spark, sf):
        # triangle participation histogram over the part co-occurrence
        # graph — degree-oriented wedge join (Suri & Vassilvitskii),
        # exact integer counts
        from dbscan_pyspark_spark.operators.components import (
            triangle_counts,
        )

        li = load_table(spark, sf, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        a, b = li.alias("a"), li.alias("b")
        edges = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias("src"),
                F.col("b.l_partkey").alias("dst"),
            )
            # no .distinct() here: triangle_counts canonicalizes and
            # dedups internally — a second pass over the largest
            # intermediate would be a pure extra exchange
        )
        return (
            triangle_counts(edges)
            .groupBy("n_triangles")
            .agg(F.count(F.lit(1)).alias("n_parts"))
        )

    q["part_triangle_histogram"] = part_triangle_histogram

    def events_user_ewma(spark, sf):
        # order-dependent EWMA recurrence, exactly oracled: the 'exact'
        # method replays alpha*v + (1-alpha)*e in the same IEEE op
        # order as the DuckDB recursive-CTE replica — the FIFTH
        # iterative family with a bit-exact oracle (alpha=0.5 keeps
        # every step a clean halving)
        from dbscan_pyspark_spark.operators.events import user_ewma

        ev = load_table(spark, sf, "events")
        out = user_ewma(ev, alpha=0.5, method="exact")
        return out.select(
            "user_id",
            "n_events",
            (F.round("ewma", 6) + F.lit(0.0)).alias("ewma"),
        )

    q["events_user_ewma"] = events_user_ewma

    def events_pit_join(spark, sf):
        # point-in-time (temporal validity) join: each non-click event
        # looks up the click-value-band STATE its user was in at event
        # time — the feature-store/SCD2-lookup shape, no future leakage
        from dbscan_pyspark_spark.operators.events import (
            point_in_time_join,
            scd2_intervals,
        )

        ev = load_table(spark, sf, "events")
        clicks = ev.where(F.col("event_type") == "click").withColumn(
            "band",
            F.floor(F.col("value").cast("double") / 10).cast("long"),
        )
        dim = scd2_intervals(
            clicks,
            key_col="user_id",
            ts_col="ts",
            attr_cols=["band"],
            order_cols=("event_id",),
        ).select("user_id", "band", "valid_from", "valid_to")
        facts = ev.where(F.col("event_type") != "click").select(
            "user_id", "ts", "event_type"
        )
        return (
            point_in_time_join(facts, dim)
            .groupBy("event_type", "band")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    q["events_pit_join"] = events_pit_join

    def part_k_core(spark, sf):
        # k-core peeling of the part co-occurrence graph — sixth
        # iterative operator with an exact unrolled-CTE oracle. k=80
        # CONVERGES to a nonempty core in 6 rounds at sf0.01 AND sf0.1
        # (verified by an independent Python peel), so the 10-round
        # unroll is past the fixpoint and the output is the true
        # 80-core, not a truncation artifact
        from dbscan_pyspark_spark.operators.components import k_core

        li = load_table(spark, sf, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        a, b = li.alias("a"), li.alias("b")
        edges = a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        ).select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        return k_core(edges, k=80, max_rounds=10).select(
            F.col("node").alias("p_partkey"), "degree"
        )

    q["part_k_core"] = part_k_core

    def part_sssp(spark, sf):
        # bounded Bellman-Ford association distance from the p_size=1
        # seed set: strong co-occurrence links (>= 3 shared orders)
        # cost 1, weak links cost 3 — SEVENTH iterative family with an
        # exact unrolled-CTE oracle. Fixpoint in 3 rounds at sf0.01 AND
        # sf0.1 (independent Python replay in the tests), so the
        # 6-round unroll is past convergence.
        from dbscan_pyspark_spark.operators.components import bounded_sssp

        li = load_table(spark, sf, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        a, b = li.alias("a"), li.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(
                F.col("a.l_partkey").alias("src"),
                F.col("b.l_partkey").alias("dst"),
            )
            .agg(F.countDistinct("a.l_orderkey").alias("_c"))
        )
        edges = pairs.select(
            "src", "dst",
            F.when(F.col("_c") >= 3, 1).otherwise(3).alias("weight"),
        )
        seeds = (
            load_table(spark, sf, "part")
            .where(F.col("p_size") == 1)
            .select(F.col("p_partkey").alias("id"))
        )
        return bounded_sssp(edges, seeds, rounds=6).select(
            F.col("node").alias("p_partkey"), "dist"
        )

    q["part_sssp"] = part_sssp

    def near_dup_jaccard_prefix(spark, sf):
        # EXACT Jaccard pairs via prefix filtering (AllPairs/PPJoin
        # family): bit-identical output to near_dup_jaccard, candidate
        # join restricted to each doc's rarest shingles — the
        # no-recall-loss twin of the MinHash scale path. Same oracle
        # SQL as near_dup_jaccard by construction.
        from dbscan_pyspark_spark.operators.dedup import (
            jaccard_prefix_filter_pairs,
        )

        return jaccard_prefix_filter_pairs(
            load_table(spark, sf, "documents"), threshold=0.3, n=3
        )

    q["near_dup_jaccard_prefix"] = near_dup_jaccard_prefix

    def doc_vocab(spark, sf):
        # deterministic vocabulary induction: top-500 tokens with dense
        # ids by (count DESC, token) — the word-level tokenizer-
        # training step; TakeOrdered top-N, no global vocabulary sort
        from dbscan_pyspark_spark.operators.pipeline import build_vocab

        return build_vocab(load_table(spark, sf, "documents"), size=500)

    q["doc_vocab"] = doc_vocab

    def doc_shard_order(spark, sf):
        # deterministic global shuffle + sharding (training export):
        # portable-hash shard + within-shard rank — per-shard windows,
        # never a global sort
        from dbscan_pyspark_spark.operators.pipeline import shard_order

        return shard_order(load_table(spark, sf, "documents"), n_shards=8).select(
            "doc_id", "shard", "pos"
        )

    q["doc_shard_order"] = doc_shard_order

    def source_ngram_overlap(spark, sf):
        # inter-source duplication matrix: shared 3-shingles per source
        # pair, boilerplate-capped — the drop-this-source diagnostic
        # that runs BEFORE per-doc dedup
        from dbscan_pyspark_spark.operators.pipeline import (
            source_ngram_overlap as _overlap,
        )

        return _overlap(load_table(spark, sf, "documents"), max_sources=10)

    q["source_ngram_overlap"] = source_ngram_overlap

    def source_caps(spark, sf):
        # C4/RefinedWeb-style domain cap: keep the 15 longest docs per
        # source (hash+id tie-break) — two-phase top-k so a mega-domain
        # never becomes one task's sort
        from dbscan_pyspark_spark.operators.pipeline import source_cap

        return source_cap(
            load_table(spark, sf, "documents"), cap=15, score_col="n_chars"
        ).select("doc_id", "source", "src_rank")

    q["source_caps"] = source_caps

    def source_token_waterfill(spark, sf):
        # data-mixing budget split: fair-share (max-min) waterfill of a
        # 12007-token training budget across sources from each
        # source's available token mass; all integer -> hash-exact
        from dbscan_pyspark_spark.operators.pipeline import (
            budget_waterfill,
        )

        avail = (
            load_table(spark, sf, "documents")
            .groupBy("source")
            .agg(F.sum(token_count("text")).cast("long").alias("avail"))
        )
        return budget_waterfill(avail, 12007)

    q["source_token_waterfill"] = source_token_waterfill

    def source_budget_sample(spark, sf):
        # the waterfill APPLY step: deterministic hash-ordered greedy
        # prefix per source until the allocated token budget is full
        from dbscan_pyspark_spark.functions.text import token_count
        from dbscan_pyspark_spark.operators.pipeline import (
            apply_allocation,
            budget_waterfill,
        )

        docs = load_table(spark, sf, "documents")
        avail = docs.groupBy("source").agg(
            F.sum(token_count("text")).cast("long").alias("avail")
        )
        return apply_allocation(docs, budget_waterfill(avail, 12007))

    q["source_budget_sample"] = source_budget_sample

    def source_temperature_sample(spark, sf):
        # alpha=0.5 temperature mixing: rates DERIVED from per-source
        # counts (sqrt law, bit-exact across engines), broadcast back,
        # hash filter rides the scan
        from dbscan_pyspark_spark.operators.pipeline import temperature_sample

        return temperature_sample(
            load_table(spark, sf, "documents"), per_source_target=10
        ).select("doc_id", "source")

    q["source_temperature_sample"] = source_temperature_sample

    def orders_expectations(spark, sf):
        # Deequ/dbt-test-shaped rule suite: every row-predicate rule is
        # one conditional sum in a single agg over a single scan
        from dbscan_pyspark_spark.operators.pipeline import validate

        return validate(
            load_table(spark, sf, "orders"),
            [
                ("not_null", "o_custkey"),
                ("in_range", "o_totalprice", 0, 400000),
                ("accepted_values", "o_orderstatus", ["O", "F", "P"]),
                ("matches", "o_orderpriority", "^[1-5]-"),
                ("unique", "o_orderkey"),
            ],
        )

    q["orders_expectations"] = orders_expectations

    def totalprice_drift(spark, sf):
        # train/serve-skew detector: order-value distribution shift,
        # pre-1998 vs 1998+ cohorts, shared fixed edges, per-bin TVD
        # terms (division+abs only — no libm log, bit-exact both
        # engines)
        from dbscan_pyspark_spark.operators.pipeline import column_drift

        o = load_table(spark, sf, "orders")
        early = o.where(F.year("o_orderdate") < 1998)
        late = o.where(F.year("o_orderdate") >= 1998)
        return column_drift(early, late, "o_totalprice", 0.0, 500000.0, 10)

    q["totalprice_drift"] = totalprice_drift

    def totalprice_ks_drift(spark, sf):
        # CDF-shaped drift twin of totalprice_drift: exact two-sample
        # Kolmogorov-Smirnov distance on integer cents, urgent-priority
        # orders vs the rest — integer numerator max|sa*nb - sb*na| over
        # the merged value grid via ONE distributed prefix-sum pass
        # (global_cumsums), never an unpartitioned window
        from dbscan_pyspark_spark.operators.pipeline import ks_drift

        o = load_table(spark, sf, "orders").withColumn(
            "_cents", F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
        )
        urgent = o.where(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        rest = o.where(
            ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        return ks_drift(urgent, rest, "_cents")

    q["totalprice_ks_drift"] = totalprice_ks_drift

    def priority_totalprice_ttest(spark, sf):
        # the A/B mean-shift gate next to the distribution-shaped KS:
        # Welch t on integer cents, urgent-priority vs the rest —
        # decimal-exact moments feed a fixed IEEE expression tree, so
        # the statistic replays bit-for-bit in DuckDB
        from dbscan_pyspark_spark.operators.pipeline import welch_t_test

        o = load_table(spark, sf, "orders").where(
            F.col("o_orderpriority").isNotNull()
        ).withColumn(
            "_cents", F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
        )
        hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        return welch_t_test(o.where(hi), o.where(~hi), "_cents")

    q["priority_totalprice_ttest"] = priority_totalprice_ttest

    def totalprice_quantile_drift(spark, sf):
        # WHERE the distribution moved: exact p50/p90/p99 per side
        # (discrete order statistics, integer rank arithmetic) and the
        # per-percentile shift — one CDF pass per side, all percents
        # from the same prefix sums
        from dbscan_pyspark_spark.operators.pipeline import quantile_drift

        o = load_table(spark, sf, "orders").where(
            F.col("o_orderpriority").isNotNull()
        ).withColumn(
            "_cents", F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
        )
        hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        return quantile_drift(o.where(hi), o.where(~hi), "_cents")

    q["totalprice_quantile_drift"] = totalprice_quantile_drift

    def lang_nchars_ks_drift(spark, sf):
        # stratified KS: per-language doc-length distribution shift
        # between source cohorts — partitioned windows (scale-safe by
        # construction: distributed across languages)
        from dbscan_pyspark_spark.operators.pipeline import (
            ks_drift_by_group,
        )

        d = load_table(spark, sf, "documents")
        return ks_drift_by_group(
            d.where(F.length("source") == 4),
            d.where(F.length("source") == 5),
            "n_chars",
            "lang",
        )

    q["lang_nchars_ks_drift"] = lang_nchars_ks_drift

    def lang_source_drift(spark, sf):
        # categorical mix shift between source cohorts (top-3 langs +
        # __other__): one value-keyed groupBy, TVD terms engine-exact
        from dbscan_pyspark_spark.operators.pipeline import category_drift

        d = load_table(spark, sf, "documents")
        return category_drift(
            d.where(F.length("source") == 4),
            d.where(F.length("source") == 5),
            "lang",
            top_n=3,
        )

    q["lang_source_drift"] = lang_source_drift

    def events_user_state_diff(spark, sf):
        # CDC snapshot diff: per-user last-event-type state mid-month vs
        # end of month — one full-outer key join, change is a projection
        from pyspark.sql import Window

        from dbscan_pyspark_spark.operators.pipeline import snapshot_diff

        ev = load_table(spark, sf, "events")

        def state(df):
            w = Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
            return (
                df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select("user_id", "event_type")
            )

        old = state(ev.where(F.col("ts") < F.lit("2024-01-16").cast("timestamp")))
        new = state(ev)
        return snapshot_diff(old, new, ["user_id"], ["event_type"])

    q["events_user_state_diff"] = events_user_state_diff

    def part_order_hits(spark, sf):
        # EIGHTH exactly-oracled iterative family: integer HITS over
        # the order->part bipartite graph — part keys offset by 1e12,
        # far above any TPC-H orderkey at any SF (orderkeys grow
        # ~6M*SF, so a 10M offset would collide from SF~1.7 up) —
        # max-normalized hub/authority mutual reinforcement, 2 rounds
        from dbscan_pyspark_spark.operators.components import hits

        li = load_table(spark, sf, "lineitem")
        edges = li.select(
            F.col("l_orderkey").alias("src"),
            (F.col("l_partkey") + F.lit(1_000_000_000_000)).alias("dst"),
        )
        return hits(edges, n_iter=2)

    q["part_order_hits"] = part_order_hits

    def dedup_vs_reference(spark, sf):
        # incremental-crawl dedup: odd doc_ids are the fresh batch,
        # even doc_ids the already-deduped corpus; reference touched as
        # signatures only, candidates via LSH band collision
        from dbscan_pyspark_spark.operators.dedup import near_dup_vs_reference

        d = load_table(spark, sf, "documents")
        return near_dup_vs_reference(
            d.where(F.col("doc_id") % 2 == 1),
            d.where(F.col("doc_id") % 2 == 0),
            threshold=0.5,
        )

    q["dedup_vs_reference"] = dedup_vs_reference

    def lineitem_measures_unpivot(spark, sf):
        # native unpivot (melt): wide measure columns -> long
        # (measure, value) relation, then a per-measure profile — the
        # wide-to-long reshape every metrics pipeline needs
        li = load_table(spark, sf, "lineitem")
        long = li.select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
        ).unpivot(
            ids=["l_orderkey"],
            values=["l_quantity", "l_extendedprice", "l_discount"],
            variableColumnName="measure",
            valueColumnName="value",
        )
        # integer-grid sum (playbook): a raw double SUM is
        # aggregation-order-dependent; round(v*1e4) -> long sums
        # exactly, min/max are order-free
        iv = F.round(F.col("value") * F.lit(10_000.0), 0).cast("long")
        return long.groupBy("measure").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(iv) / F.lit(10_000.0), 2).alias("total"),
            F.round(F.min("value").cast("double"), 4).alias("lo"),
            F.round(F.max("value").cast("double"), 4).alias("hi"),
        )

    q["lineitem_measures_unpivot"] = lineitem_measures_unpivot

    def events_trailing_hour_load(spark, sf):
        # RANGE-frame window (value-based, not row-based): per event,
        # count + integer-grid sum of the same user's values in the
        # trailing hour — epoch-seconds order key truncated identically
        # in both engines, tie rows are frame peers either way
        from pyspark.sql import Window

        ev = load_table(spark, sf, "events")
        # NTZ -> epoch seconds: session TZ is pinned UTC, so
        # unix_timestamp == DuckDB floor(epoch(ts)); ANSI forbids a
        # direct ntz->long cast
        epoch = F.unix_timestamp("ts")
        w = (
            Window.partitionBy("user_id")
            .orderBy(epoch)
            .rangeBetween(-3600, 0)
        )
        iv = F.round(F.col("value") * F.lit(10_000.0), 0).cast("long")
        return ev.select(
            "event_id",
            F.count(F.lit(1)).over(w).alias("n_trailing"),
            F.round(F.sum(iv).over(w) / F.lit(10_000.0), 2).alias(
                "trailing_load"
            ),
        )

    q["events_trailing_hour_load"] = events_trailing_hour_load

    def doc_lang_heavy_hitters(spark, sf):
        # Misra-Gries heavy hitters with exact recount: candidates from
        # the map-side-mergeable sketch, exact counts on the candidate
        # set, kept iff count*(k+1) > n — the MG guarantee makes the
        # output the deterministic SQL threshold set (round-5 sketch op)
        from dbscan_pyspark_spark.operators.pipeline import approx_top_k

        d = load_table(spark, sf, "documents")
        return approx_top_k(d, "lang", k=6, exact_recount=True)

    q["doc_lang_heavy_hitters"] = doc_lang_heavy_hitters

    def lang_char_heavy_hitters(spark, sf):
        # WEIGHTED heavy hitters: languages whose n_chars MASS exceeds
        # 1/(k+1) of the corpus — the token-budget question, not the
        # doc-count one. Same deterministic recount contract with the
        # threshold on summed weight (round-5 weighted MG)
        from dbscan_pyspark_spark.operators.pipeline import approx_top_k

        d = load_table(spark, sf, "documents")
        return approx_top_k(
            d, "lang", k=4, exact_recount=True, weight_col="n_chars"
        )

    q["lang_char_heavy_hitters"] = lang_char_heavy_hitters

    def revenue_lorenz_top100(spark, sf):
        # Lorenz/Pareto curve head: the 100 highest-revenue customers
        # with their cumulative share of all revenue — exact
        # integer-cent prefix sums via the distributed global cumsum
        # (range-partitioned running sum + broadcast offsets, never an
        # unpartitioned running-sum window; round-5 ranking family)
        from dbscan_pyspark_spark.operators.windows import global_cumsum

        o = load_table(spark, sf, "orders")
        cents = F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
        per_cust = o.groupBy("o_custkey").agg(
            F.sum(cents).alias("_cents")
        )
        ranked, _, total = global_cumsum(
            per_cust,
            [F.col("_cents").desc(), F.col("o_custkey")],
            "_cents",
            out_col="_cs",
            rn_col="_rn",
        )
        return ranked.where(F.col("_rn") <= 100).select(
            F.col("_rn").alias("rnk"),
            "o_custkey",
            F.round(F.col("_cents") / F.lit(100.0), 2).alias("revenue"),
            F.round(
                F.col("_cs") / F.lit(float(total)), 6
            ).alias("cum_share"),
        )

    q["revenue_lorenz_top100"] = revenue_lorenz_top100

    def approx_event_type_topk(spark, sf):
        # pure-sketch mode: top-k candidates with lower-bound counts;
        # candidate membership/estimates depend on partitioning ->
        # rows-only (bound n/(k+1), test_approx_top_k_error_bound).
        # NOTE on a near-uniform key domain wider than k the MG
        # decrements can legitimately empty the summary — that's the
        # sketch telling you there are NO heavy hitters, not a bug
        # (documents.source, 20 uniform values, does exactly this)
        from dbscan_pyspark_spark.operators.pipeline import approx_top_k

        ev = load_table(spark, sf, "events")
        return approx_top_k(ev, "event_type", k=8)

    q["approx_event_type_topk"] = approx_event_type_topk

    # ---- BM25 ranked retrieval (operators/search.py): fixed keyword
    # probes against the documents corpus; probe 3 is all
    # out-of-vocabulary so the no-match path is pinned too. Scores are
    # decimal-grid-exact by construction (see bm25_topk docstring), so
    # the ranking replays bit-for-bit on DuckDB ----
    def doc_bm25_topk(spark, sf):
        from dbscan_pyspark_spark.operators.search import bm25_topk

        probes = spark.createDataFrame(
            _BM25_PROBES, "query_id int, query_text string"
        )
        return bm25_topk(
            load_table(spark, sf, "documents"), probes, k=5
        )

    q["doc_bm25_topk"] = doc_bm25_topk

    # ---- BM25 served from a MAINTAINED index (the incremental-index
    # path, streaming/index.py): postings + doc lengths built once,
    # scored by bm25_topk_from_postings — which bm25_topk itself
    # delegates to, so this must hash-match the SAME oracle as
    # doc_bm25_topk, proving index-served == batch re-index ----
    def doc_bm25_from_index(spark, sf):
        from dbscan_pyspark_spark.operators.search import (
            _terms,
            bm25_topk_from_postings,
            inverted_postings,
        )

        docs = load_table(spark, sf, "documents")
        postings = inverted_postings(docs)
        doclens = (
            _terms(docs, "text", "doc_id")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("dl"))
        )
        probes = spark.createDataFrame(
            _BM25_PROBES, "query_id int, query_text string"
        )
        return bm25_topk_from_postings(postings, doclens, probes, k=5)

    q["doc_bm25_from_index"] = doc_bm25_from_index

    # ---- inverted-index postings with positions (operators/search.py);
    # the positions array is comma-joined to a string because the
    # driver canonicalizer rejects array cells ----
    def doc_inverted_postings(spark, sf):
        from dbscan_pyspark_spark.operators.search import inverted_postings

        p = inverted_postings(
            load_table(spark, sf, "documents"), with_positions=True
        )
        return p.select(
            "term",
            "doc_id",
            "tf",
            F.array_join(
                F.transform("positions", lambda x: x.cast("string")), ","
            ).alias("positions"),
        )

    q["doc_inverted_postings"] = doc_inverted_postings

    # ---- sorted-neighborhood candidate pairs (operators/dedup.py):
    # window-3 neighbors in normalized-text order with exact edit
    # distance ----
    def doc_sorted_neighbors(spark, sf):
        from dbscan_pyspark_spark.operators.dedup import (
            sorted_neighborhood_pairs,
        )

        return sorted_neighborhood_pairs(
            load_table(spark, sf, "documents"), window=3
        )

    q["doc_sorted_neighbors"] = doc_sorted_neighbors

    # ---- label-propagation communities (operators/components.py) over
    # the supplier->customer nation trade graph (the pagerank edge
    # relation), 3 synchronous rounds — eleventh iterative family with
    # an exact unrolled-CTE oracle ----
    def nation_communities(spark, sf):
        from dbscan_pyspark_spark.operators.components import (
            label_propagation,
        )

        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        c = load_table(spark, sf, "customer")
        s = load_table(spark, sf, "supplier")
        edges = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .join(s, li["l_suppkey"] == s["s_suppkey"])
            .select(
                F.col("s_nationkey").alias("src"),
                F.col("c_nationkey").alias("dst"),
            )
        )
        return label_propagation(edges, n_iter=3)

    q["nation_communities"] = nation_communities

    # ---- exact token-phrase search (operators/search.py): anchor-
    # vote matching over the positional token stream; probes cover a
    # repeated-token phrase, normalization-crossing phrases, a
    # single-token phrase (occurrences == tf) and an absent phrase ----
    def doc_phrase_search(spark, sf):
        from dbscan_pyspark_spark.operators.search import phrase_search

        probes = spark.createDataFrame(
            _PHRASE_PROBES, "phrase_id int, phrase_text string"
        )
        return phrase_search(load_table(spark, sf, "documents"), probes)

    q["doc_phrase_search"] = doc_phrase_search

    # ---- BPE tokenizer induction (operators/tokenize.py): 8 merge
    # rounds over the corpus word-frequency relation — twelfth
    # iterative family with an exact unrolled-CTE oracle (integer pair
    # counts, total tie order, deterministic greedy fold) ----
    def doc_bpe_merges(spark, sf):
        from dbscan_pyspark_spark.operators.tokenize import bpe_learn

        return bpe_learn(
            load_table(spark, sf, "documents"),
            n_merges=8,
            min_pair_count=2,
        )

    q["doc_bpe_merges"] = doc_bpe_merges

    # ---- Deep BPE induction (256 merge rounds) over the customer-name
    # corpus — the documents vocabulary saturates after 89 merges, but
    # c_name's ~|customers| distinct digit-words keep pair counts alive
    # for thousands of rounds, so all 256 rounds fire for real.  Runs
    # the driver-local merge loop (auto mode picks it at this |V|): one
    # Spark pass for word counts, then incremental pair-count rounds
    # locally — the only shape that survives a production 32k-merge
    # vocabulary.  Oracle: the same unrolled MATERIALIZED-CTE replica,
    # 256 rounds deep. ----
    def doc_bpe_merges_deep(spark, sf):
        from dbscan_pyspark_spark.operators.tokenize import bpe_learn

        return bpe_learn(
            load_table(spark, sf, "customer"),
            n_merges=256,
            min_pair_count=1,
            text_col="c_name",
        )

    q["doc_bpe_merges_deep"] = doc_bpe_merges_deep

    # ---- BPE application with a FIXED merge table (so the oracle can
    # replay the folds without re-learning); token arrays emitted as
    # count + space-joined string (canonicalizer rejects arrays) ----
    def doc_bpe_tokens(spark, sf):
        from dbscan_pyspark_spark.operators.tokenize import bpe_apply

        toks = bpe_apply(
            load_table(spark, sf, "documents"),
            _BPE_FIXED_MERGES,
            chunk=4,
        )
        return toks.select(
            "doc_id",
            F.size("bpe_tokens").cast("long").alias("n_tokens"),
            F.array_join("bpe_tokens", " ").alias("tokens_str"),
        )

    q["doc_bpe_tokens"] = doc_bpe_tokens

    # ---- personalized PageRank (operators/components.py): random
    # walk with restart to the region-0 nations over the trade graph —
    # the related-items primitive, same integer grid as nation_pagerank
    # with teleport restricted to the seed set ----
    def nation_ppr(spark, sf):
        from dbscan_pyspark_spark.operators.components import pagerank

        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        c = load_table(spark, sf, "customer")
        s = load_table(spark, sf, "supplier")
        edges = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .join(s, li["l_suppkey"] == s["s_suppkey"])
            .select(
                F.col("s_nationkey").alias("src"),
                F.col("c_nationkey").alias("dst"),
            )
        )
        seeds = (
            load_table(spark, sf, "nation")
            .where(F.col("n_regionkey") == 0)
            .select(F.col("n_nationkey").alias("node"))
        )
        return pagerank(edges, n_iter=3, seeds=seeds)

    q["nation_ppr"] = nation_ppr

    # ---- subword vocabulary after the fixed merges: the corpus token
    # distribution a tokenizer report needs (composition: bpe_apply ->
    # explode -> count) ----
    def doc_bpe_vocab(spark, sf):
        from dbscan_pyspark_spark.operators.tokenize import bpe_apply

        toks = bpe_apply(
            load_table(spark, sf, "documents"), _BPE_FIXED_MERGES, chunk=4
        )
        return (
            toks.select(F.explode("bpe_tokens").alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    q["doc_bpe_vocab"] = doc_bpe_vocab

    # ---- kNN graph over the embedding corpus (operators/similarity.py)
    # — queries == vectors, probes through the cell-keyed shuffle join
    # (never broadcast); the fully deterministic IVF pipeline keeps the
    # approximate graph exactly oracle-able ----
    def embedding_knn_graph(spark, sf):
        from dbscan_pyspark_spark.operators.similarity import ivf_knn_graph

        return ivf_knn_graph(
            load_table(spark, sf, "embeddings"),
            k=3,
            n_cells=8,
            nprobe=2,
            n_iter=2,
        )

    q["embedding_knn_graph"] = embedding_knn_graph

    # ---- mutual-kNN clustering (operators/similarity.py): reciprocal
    # top-k edges -> connected components, singletons self-labeled —
    # a clustering of an approximate graph that still replays exactly
    # (recursive-CTE oracle over the same deterministic IVF graph) ----
    def embedding_mutual_knn_clusters(spark, sf):
        from dbscan_pyspark_spark.operators.similarity import (
            mutual_knn_clusters,
        )

        return mutual_knn_clusters(
            load_table(spark, sf, "embeddings"),
            k=3,
            n_cells=8,
            nprobe=2,
            n_iter=2,
        )

    q["embedding_mutual_knn_clusters"] = embedding_mutual_knn_clusters

    # ---- weighted PageRank over the trade graph: one weight unit per
    # lineitem row, so parallel supplier->customer edges carry their
    # multiplicity instead of being DISTINCTed away ----
    def nation_weighted_pagerank(spark, sf):
        from dbscan_pyspark_spark.operators.components import pagerank

        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders")
        c = load_table(spark, sf, "customer")
        s = load_table(spark, sf, "supplier")
        edges = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .join(s, li["l_suppkey"] == s["s_suppkey"])
            .select(
                F.col("s_nationkey").alias("src"),
                F.col("c_nationkey").alias("dst"),
                F.lit(1).alias("w"),
            )
        )
        return pagerank(edges, n_iter=3, weight_col="w")

    q["nation_weighted_pagerank"] = nation_weighted_pagerank

    return _reorder_for_driver_window(q)


# BM25 probe relation — shared verbatim by doc_bm25_topk and its
# oracle's VALUES list
_BM25_PROBES = [
    (0, "spark join filter"),
    (1, "window merge sort table"),
    (2, "customer order"),
    (3, "qqq zzz unseenword"),
]

# Phrase probes — shared verbatim by doc_phrase_search and its oracle
_PHRASE_PROBES = [
    (0, "batch batch"),
    (1, "the fast"),
    (2, "join order"),
    (3, "spark"),
    (4, "qqq zzz"),
]

# Fixed merge table for doc_bpe_tokens (rank order) — fixed so the
# oracle replays the folds without re-deriving the learned table
_BPE_FIXED_MERGES = [
    ("t", "h"),
    ("th", "e"),
    ("e", "r"),
    ("s", "t"),
    ("o", "r"),
    ("or", "d"),
]


# Names the driver already verified green (cumulative CORRECTNESS_r01
# ∪ … ∪ r06 — every oracled query has a green driver record as of
# round 6; new queries are NOT added here until their first driver
# green, which auto-fronts them).
# The driver oracles the FIRST 50 entries of queries() each round, so
# we rotate: (1) a changed-since-last-check tier (_FLAGSHIP_FIRST) —
# queries whose plan or operator internals changed AFTER their most
# recent driver check; (2) oracled queries with no driver record yet;
# (3) rows-only queries with no green driver record (_ROWS_ONLY minus
# _ROWS_ONLY_GREEN) — rows-only checks are cheap (rows+schema) and
# every registry entry deserves a green record (round-6 verdict:
# kmember_clusters / embedding_pca carried r2-FAIL records for four
# rounds under the old park-at-the-back policy); (4) a regression-
# recheck tier (_REGRESSION_RECHECK), strictly oldest-last-check-
# first. tests/test_entry_contract.py::
# test_rotation_wastes_no_checked_slot pins that nothing green
# displaces a waiting non-green query.
_DRIVER_CHECKED_GREEN = {
    # round-9 late additions, all hash-green in CORRECTNESS_r09
    "part_demand_cms", "doc_bm25_from_index", "doc_pmi_collocations",
    "doc_lm_perplexity", "event_user_lpc", "order_bloom_probe",
    "doc_bpe_merges_deep",
    "anonymize_cells", "busy_customers", "clean_corpus_splits",
    "cube_order_status", "cumulative_customer_revenue",
    "customer_balance_quartiles", "customer_group_sample",
    "customer_order_distribution", "customer_revenue_percentile",
    "customer_rfm_segments", "customers_all_priorities",
    "customers_with_big_orders", "customers_without_orders",
    "dbscan_assign_customer", "dbscan_customer", "dbscan_scc_customer",
    "dedup_cluster_sizes", "dedup_exact_docs", "dedup_keep_best_docs",
    "dedup_near_docs", "dedup_savings", "dedup_vs_reference",
    "disjunctive_part_revenue", "distinct_nations_per_segment",
    "doc_bigram_fluency", "doc_boilerplate_strip", "doc_chunk_dedup",
    "doc_chunks", "doc_contamination", "doc_corpus_filter",
    "doc_fingerprints", "doc_gopher_filters", "doc_lang_heavy_hitters",
    "doc_pack_bins", "doc_quality", "doc_redactions", "doc_repetition",
    "doc_shard_order", "doc_splits", "doc_stratified_sample",
    "doc_tfidf_cosine_pairs", "doc_tfidf_top_terms",
    "doc_token_entropy", "doc_vocab", "doc_weighted_sample",
    "doc_winnow_fingerprints", "embedding_cosine_topk",
    "embedding_covariance", "embedding_kmeans",
    "embedding_label_cohesion", "embedding_near_dups",
    "embedding_near_dups_lsh_exact", "embedding_norm_stats",
    "embedding_quantization", "embedding_semantic_dedup",
    "eps_core_points", "eps_k_distance", "eps_neighbor_counts",
    "eps_neighbor_ids", "eps_pairs", "eps_sweep_metrics",
    "events_asof_error", "events_asof_next_view",
    "events_cohort_retention", "events_conversion_delay",
    "events_dedup_window", "events_error_context",
    "events_first_touch", "events_funnel", "events_funnel_times",
    "events_hourly", "events_hourly_anomalies",
    "events_imputed_values", "events_pit_join", "events_prev_gap",
    "events_props_extract", "events_resampled",
    "events_rolling_active_users", "events_rollup_cascade",
    "events_scd2", "events_session_histogram", "events_sessions",
    "events_sliding", "events_stickiness", "events_trailing_hour_load",
    "events_transitions", "events_user_ewma", "events_user_intervals",
    "events_user_state_diff", "fk_integrity", "forecast_revenue",
    "group_centroids", "group_cost", "grouping_sets_pricing",
    "ivf_ann_topk_exact", "ivf_recall_eval", "knn_assign",
    "lang_char_heavy_hitters", "lang_id_confusion",
    "lang_id_heuristic", "lang_nchars_ks_drift", "lang_source_drift",
    "large_order_customers", "lineitem_measures_unpivot",
    "lineitem_profile", "lineitem_winsorized_stats",
    "market_share_by_year", "minhash_band_signatures",
    "minhash_jaccard_error", "minhash_near_dups",
    "multimodal_frame_samples", "multimodal_stats",
    "nation_monthly_growth", "nation_pagerank", "nation_pair_trade",
    "nation_revenue", "nation_supplier_hhi", "near_dup_jaccard",
    "near_dup_jaccard_prefix", "order_value_outliers",
    "orders_by_month", "orders_custkey_skew", "orders_expectations",
    "orders_open_backlog", "orders_rank_in_month", "part_bfs_hops",
    "part_brand_mode", "part_cooccurrence", "part_k_core",
    "part_name_fuzzy_pairs", "part_order_hits", "part_sssp",
    "part_triangle_histogram", "part_types_except",
    "part_types_intersect", "pivot_orders_priority",
    "poorest_customer", "pretraining_report",
    "priority_linestatus_counts", "priority_order_check",
    "priority_totalprice_ttest", "profit_by_nation_year",
    "promo_revenue_share", "q1_pricing_summary", "quantity_histogram",
    "quantity_percentiles", "released_lineitems",
    "returned_item_customers", "revenue_concentration",
    "revenue_lorenz_top100", "rollup_pricing", "shipping_delay_stats",
    "shipping_priority", "simhash_docs", "small_qty_revenue",
    "sole_returner_suppliers", "source_caps", "source_ngram_overlap",
    "source_temperature_sample", "sql_priority_share_rank",
    "sql_segment_revenue", "supplier_nation_revenue", "token_stats",
    "top_quantity_tiers", "top_revenue_supplier",
    "top_supplier_per_brand", "topk_lineitems_per_order",
    "totalprice_drift", "totalprice_equidepth", "totalprice_ks_drift",
    "totalprice_quantile_drift", "union_segments",
    "users_click_then_error", "wealthy_inactive_customers",
    # round-8 window greens (CORRECTNESS_r08.json, 50/50 hash-green)
    "approx_event_error_buckets", "doc_bm25_topk", "doc_bpe_merges",
    "doc_bpe_tokens", "doc_bpe_vocab", "doc_dup_span_strip",
    "doc_dup_span_strip_keep_first", "doc_dup_spans",
    "doc_inverted_postings", "doc_phrase_search", "doc_sorted_neighbors",
    "embedding_knn_graph", "embedding_mutual_knn_clusters",
    "embedding_pca_trace", "kmember_quantized_embeddings",
    "kmember_search_quantized_embeddings", "multimodal_real_dimensions",
    "nation_communities", "nation_ppr", "nation_weighted_pagerank",
    "simhash_near_dup_pairs", "source_budget_sample",
    "source_token_waterfill",
}

# Queries with no exact oracle possible (randomized k-member, float
# eigensolve, engine-specific sketch estimates): the driver records a
# weaker rows+schema check. They rotate like everything else (tier 3
# above until first green, then via _REGRESSION_RECHECK), but never
# ahead of a changed oracled query. ONE source of truth — the ordered
# list (the two r2-FAIL records first, oldest debt); the set is
# derived, so a name can never be rows-only-parked without also
# holding a tier-3 slot (the round-7 review trap).
_ROWS_ONLY_ORDER = [
    "kmember_clusters", "embedding_pca", "approx_event_stats",
    "approx_event_type_topk", "ivf_two_level_topk",
]
_ROWS_ONLY = frozenset(_ROWS_ONLY_ORDER)
# rows-only names whose LATEST driver record is green (rows+schema
# match): none yet — round 7 fronts all four for their first green
_ROWS_ONLY_GREEN: set = set()

# The driver's round-7 checked window, in order: every query whose
# operator internals changed AFTER its most recent (round-6) driver
# check — the round-7 ADVICE hardening touched rp_lsh_near_dup_pairs'
# n_planes/rows_per_band contract (embedding_near_dups_lsh_exact,
# embedding_semantic_dedup) and global_cumsums' out_col/order_by
# shadow guard (revenue_lorenz_top100 and the ks/quantile drift
# family). New round-7 additions auto-front behind these.
# Tier 0 of the driver window: queries whose BEHAVIOR-RELEVANT code
# changed this round (the freshness history can't see code changes, so
# these are hand-listed per round; everything else rotates
# data-driven via tools/window_order.txt). Round 8: the regexp-path
# rewrite (normalized / punct / redactions / matches-rule), the span
# operator's plan rebuild, the chunked waterfill apply, and the
# kmember core refactor.
_FLAGSHIP_FIRST = [
    # round-10 changed tier: queries whose operator internals (or
    # oracle!) changed this round, every one locally re-verified green
    # via tools/check_oracle.py, so the r10 driver window re-checks
    # exactly what moved.
    # new ORACLED queries first (a rows-only entry must never sit
    # ahead of an oracled not-yet-green one — the rotation invariant)
    "multimodal_mjpeg_frames",  # new: MP4 video sample decode (MJPEG)
    "multimodal_frame_sampling_real",  # new: stts timing contract
    "doc_unicode_nfc",  # new: Unicode NFC canonicalization stage
    "doc_html_strip",  # new: markup strip + entity decode
    "doc_url_domains",  # new: URL extraction + domain blocklist
    "ivf_two_level_topk",  # new this round (rows-only by nature)
    "multimodal_real_dimensions",  # id%8 recipe + palette/16-bit/Adam7
    "multimodal_stats",  # decode stage over the reworked codecs
    "minhash_near_dups", "dedup_near_docs",  # adaptive contraction gate
    "ivf_ann_topk_exact", "ivf_recall_eval",  # ivf_quantized_topk rework
    "embedding_knn_graph", "embedding_mutual_knn_clusters",
    "part_demand_cms",  # cms_estimates sketch-shape validation
    "doc_bm25_from_index",  # read_index validate flag
]

# Oldest driver greens re-entered for a regression re-check, strictly
# oldest-last-check-first: the 34 oracled queries last checked in
# round 3 (round 7's window takes all of them), then rounds 4, 5 and
# 6 so the rotation is self-sustaining with no list rebuild needed.
# These fill the checked slots left over AFTER every non-green query
# and the changed-since-check tier, so they can never displace a
# query that still needs its first check.
_REGRESSION_RECHECK = [
    # last checked round 3
    "embedding_norm_stats", "embedding_quantization",
    "events_cohort_retention", "events_conversion_delay",
    "events_dedup_window", "events_funnel_times", "events_hourly",
    "events_hourly_anomalies", "events_rollup_cascade",
    "events_sessions", "events_sliding", "events_stickiness",
    "large_order_customers", "lineitem_profile",
    "market_share_by_year", "minhash_jaccard_error",
    "multimodal_frame_samples", "multimodal_stats",
    "nation_monthly_growth", "nation_pair_trade", "orders_by_month",
    "orders_custkey_skew", "orders_open_backlog", "part_bfs_hops",
    "profit_by_nation_year", "promo_revenue_share",
    "quantity_histogram", "sole_returner_suppliers",
    "sql_segment_revenue", "top_quantity_tiers",
    "top_supplier_per_brand", "totalprice_equidepth",
    "users_click_then_error", "wealthy_inactive_customers",
    # last checked round 4
    "anonymize_cells", "busy_customers", "cube_order_status",
    "cumulative_customer_revenue", "customers_with_big_orders",
    "customers_without_orders", "dedup_vs_reference",
    "distinct_nations_per_segment", "doc_bigram_fluency",
    "doc_shard_order", "doc_vocab", "eps_core_points",
    "eps_neighbor_counts", "eps_neighbor_ids", "eps_pairs",
    "events_pit_join", "events_prev_gap", "events_props_extract",
    "events_trailing_hour_load", "events_user_ewma",
    "events_user_state_diff", "group_centroids", "group_cost",
    "grouping_sets_pricing", "knn_assign", "lang_id_confusion",
    "lineitem_measures_unpivot", "nation_revenue",
    "near_dup_jaccard_prefix", "orders_expectations",
    "orders_rank_in_month", "part_brand_mode", "part_k_core",
    "part_order_hits", "part_sssp", "part_triangle_histogram",
    "part_types_except", "part_types_intersect",
    "pivot_orders_priority", "priority_linestatus_counts",
    "q1_pricing_summary", "released_lineitems", "rollup_pricing",
    "source_caps", "source_ngram_overlap", "source_temperature_sample",
    "topk_lineitems_per_order", "totalprice_drift", "union_segments",
    # last checked round 5
    "clean_corpus_splits", "dbscan_assign_customer", "dbscan_customer",
    "dbscan_scc_customer", "dedup_exact_docs", "dedup_keep_best_docs",
    "dedup_savings", "doc_chunk_dedup", "doc_contamination",
    "doc_corpus_filter", "doc_fingerprints", "doc_pack_bins",
    "doc_quality", "doc_splits", "doc_tfidf_cosine_pairs",
    "doc_tfidf_top_terms", "doc_token_entropy", "doc_weighted_sample",
    "doc_winnow_fingerprints", "embedding_cosine_topk",
    "embedding_kmeans", "embedding_near_dups", "eps_k_distance",
    "eps_sweep_metrics", "events_asof_error", "events_asof_next_view",
    "events_error_context", "ivf_recall_eval", "lang_id_heuristic",
    "lang_source_drift", "minhash_band_signatures",
    "minhash_near_dups", "near_dup_jaccard", "part_cooccurrence",
    "poorest_customer", "quantity_percentiles", "shipping_priority",
    "simhash_docs", "small_qty_revenue", "supplier_nation_revenue",
    "token_stats",
    # last checked round 6
    "customer_balance_quartiles", "customer_group_sample",
    "customer_order_distribution", "customer_revenue_percentile",
    "customer_rfm_segments", "customers_all_priorities",
    "dedup_cluster_sizes", "dedup_near_docs",
    "disjunctive_part_revenue", "doc_boilerplate_strip", "doc_chunks",
    "doc_gopher_filters", "doc_lang_heavy_hitters", "doc_redactions",
    "doc_repetition", "doc_stratified_sample", "embedding_covariance",
    "embedding_label_cohesion", "events_first_touch", "events_funnel",
    "events_imputed_values", "events_resampled",
    "events_rolling_active_users", "events_scd2",
    "events_session_histogram", "events_transitions",
    "events_user_intervals", "fk_integrity", "forecast_revenue",
    "ivf_ann_topk_exact", "lang_char_heavy_hitters",
    "lineitem_winsorized_stats", "nation_pagerank",
    "nation_supplier_hhi", "order_value_outliers",
    "part_name_fuzzy_pairs", "pretraining_report",
    "priority_order_check", "priority_totalprice_ttest",
    "returned_item_customers", "revenue_concentration",
    "shipping_delay_stats", "sql_priority_share_rank",
    "top_revenue_supplier",
]


def _reorder_for_driver_window(q):
    """Front the queries the driver's 50-query window should check
    next: flagships first (benched every round), then the DATA-DRIVEN
    rotation from ``tools/window_order.txt`` — generated by
    ``tools/check_oracle.py --freshness`` from the full
    CORRECTNESS_r*.json history (never-checked first, then stalest
    last-green) — falling back to the hand-maintained round lists if
    the file is absent."""
    import os

    front = [n for n in _FLAGSHIP_FIRST if n in q]
    order_file = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tools",
        "window_order.txt",
    )
    try:
        with open(order_file) as f:
            rec = [ln.strip() for ln in f if ln.strip()]
        front += [n for n in rec if n in q and n not in front]
    except OSError:
        front += [
            n for n in q
            if n not in _DRIVER_CHECKED_GREEN
            and n not in _ROWS_ONLY
            and n not in front
        ]
        front += [
            n for n in _ROWS_ONLY_ORDER
            if n in q and n not in _ROWS_ONLY_GREEN
        ]
        front += [
            n for n in _REGRESSION_RECHECK if n in q and n not in front
        ]
    seen = set(front)
    back = [n for n in q if n not in seen]
    return {n: q[n] for n in front + back}


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-compatible ANSI)

_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)

# Shared by the waterfill allocation oracle and its apply-step oracle:
# CTE-for-CTE replica of pipeline.budget_waterfill at budget 12007 over
# the documents table's per-source token mass (sort by (avail, source),
# prefix sums, largest fully-affordable prefix j*, integer-div/mod
# remainder placement).
_WATERFILL_CTES = r"""avail AS (
  SELECT source,
         CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS avail
  FROM documents GROUP BY source
),
ranked AS (
  SELECT source, avail,
         CAST(row_number() OVER (ORDER BY avail, source) AS BIGINT) AS j,
         CAST(sum(avail) OVER (
           ORDER BY avail, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS s,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM avail
),
lev AS (
  SELECT *,
         coalesce(max(CASE WHEN s + avail * (n - j) <= 12007 THEN j END)
                  OVER (), 0) AS jstar,
         coalesce(max(CASE WHEN s + avail * (n - j) <= 12007 THEN s END)
                  OVER (), 0) AS sstar
  FROM ranked
),
walloc AS (
  SELECT source, avail,
         CAST(CASE WHEN j <= jstar THEN avail
              ELSE (12007 - sstar) // (n - jstar)
                   + CASE WHEN j - jstar <= (12007 - sstar) % (n - jstar)
                          THEN 1 ELSE 0 END
         END AS BIGINT) AS alloc
  FROM lev
)"""

_SHINGLES_CTE = f"""
norm AS (SELECT doc_id, {_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
sh AS (
    SELECT DISTINCT doc_id,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM toks, unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)
)
"""

_SIZES_CTE = "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)"


def _minhash_ctes(num_hashes: int = 16, rows_per_band: int = 4) -> str:
    """sig + bands CTEs mirroring dedup.minhash_signatures /
    minhash_bands bit-for-bit: one md5-derived integer per shingle
    (DuckDB hex-cast == Spark conv base 16), the same fixed-seed
    (A_i, B_i) universal-hash constants, min per hash in a single wide
    GROUP BY, band hash = md5 of the '|'-joined minhash ints."""
    from dbscan_pyspark_spark.operators.dedup import MINHASH_P, minhash_params

    params = minhash_params(num_hashes)
    mins = ",\n         ".join(
        f"min(({a} * x + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    n_bands = num_hashes // rows_per_band
    band_rows = "\n  UNION ALL ".join(
        "SELECT doc_id, {band} AS band, md5(concat_ws('|', {cols})) AS band_hash FROM sig".format(
            band=b,
            cols=", ".join(
                f"m{b * rows_per_band + i}" for i in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
based AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT) % {MINHASH_P} AS x
  FROM sh
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM based GROUP BY doc_id
),
bands AS (
  {band_rows}
)"""


def _lang_case() -> str:
    hits = {
        lang: (
            "len(list_filter(string_split_regex(trim(text), '\\s+'), "
            f"t -> lower(t) IN ({', '.join(repr(w) for w in words)})))"
        )
        for lang, words in LANG_PROFILES.items()
    }
    langs = sorted(hits)  # alphabetical tie-break
    cols = ", ".join(f"{hits[lang]} AS h_{lang}" for lang in langs)
    total = " + ".join(f"h_{lang}" for lang in langs)
    case = "CASE WHEN " + " <= 0 AND ".join(f"h_{lang}" for lang in langs)
    # argmax, alphabetical tie-break: first lang whose hits >= all others
    conds = []
    for lang in langs:
        ge = " AND ".join(
            f"h_{lang} >= h_{other}" for other in langs if other != lang
        )
        conds.append(f"WHEN {ge} THEN '{lang}'")
    return f"""
SELECT doc_id,
       CASE WHEN ({total}) = 0 THEN 'und' {' '.join(conds)} END AS lang_pred
FROM (SELECT doc_id, {cols} FROM documents) s
"""


def _eps_sweep_oracle(eps_values: list[float], k: int) -> str:
    """Recursive-CTE replica of anonymize.eps_sweep: one DBSCAN +
    centroid/noise-error block per ε, UNION ALL of the metric rows.
    Centroid means are exact (integer-valued features, exact double
    numerators), so only the final error sums carry FP noise — absorbed
    by the 4-digit rounding both engines apply."""
    blocks, selects = [], []
    for s, e in enumerate(sorted(eps_values)):
        blocks.append(f"""
nc{s} AS (
  SELECT a.id, count(*) AS n FROM pts a JOIN pts b
    ON abs(a.f0 - b.f0) + abs(a.f1 - b.f1) < {e} GROUP BY a.id
),
cores{s} AS (SELECT id FROM nc{s} WHERE n >= {k}),
ed{s} AS (
  SELECT a.id AS u, b.id AS v FROM pts a
  JOIN cores{s} c ON a.id = c.id
  JOIN pts b ON abs(a.f0 - b.f0) + abs(a.f1 - b.f1) < {e}
),
edges{s} AS (SELECT u, v FROM ed{s} UNION SELECT v, u FROM ed{s}),
reach{s}(u, v) AS (
  SELECT u, v FROM edges{s}
  UNION
  SELECT r.u, e.v FROM reach{s} r JOIN edges{s} e ON r.v = e.u
),
comp{s} AS (SELECT u AS id, min(v) AS component FROM reach{s} GROUP BY u),
mass{s} AS (SELECT component, count(*) AS m FROM comp{s} GROUP BY component),
clus{s} AS (
  SELECT c.id, c.component FROM comp{s} c
  JOIN mass{s} m ON c.component = m.component WHERE m.m >= {k}
),
cents{s} AS (
  SELECT component, avg(p.f0) AS c0, avg(p.f1) AS c1
  FROM clus{s} JOIN pts p USING (id) GROUP BY component
),
cerr{s} AS (
  SELECT count(DISTINCT cl.component) AS n_clusters,
         sum(abs(p.f0 - ce.c0) + abs(p.f1 - ce.c1)) AS err
  FROM clus{s} cl
  JOIN pts p USING (id)
  JOIN cents{s} ce ON cl.component = ce.component
),
noise{s} AS (
  SELECT p.id, p.f0, p.f1 FROM pts p
  LEFT JOIN clus{s} c ON p.id = c.id WHERE c.id IS NULL
),
nassign{s} AS (
  SELECT n.id, min(abs(n.f0 - ce.c0) + abs(n.f1 - ce.c1)) AS d
  FROM noise{s} n CROSS JOIN cents{s} ce GROUP BY n.id
),
nerr{s} AS (
  SELECT (SELECT count(*) FROM noise{s}) AS n_noise, sum(d) AS err
  FROM nassign{s}
),
row{s} AS (
  SELECT CAST({float(e)} AS DOUBLE) AS eps,
         coalesce(c.n_clusters, 0) AS n_clusters,
         n.n_noise,
         CASE WHEN coalesce(c.n_clusters, 0) = 0 THEN 0.0
              ELSE round(coalesce(c.err, 0.0), 4) END AS cluster_error,
         CASE WHEN coalesce(c.n_clusters, 0) = 0
              THEN CAST('infinity' AS DOUBLE)
              ELSE round(coalesce(n.err, 0.0), 4) END AS noise_error,
         CASE WHEN coalesce(c.n_clusters, 0) = 0
              THEN CAST('infinity' AS DOUBLE)
              ELSE round(coalesce(c.err, 0.0) + coalesce(n.err, 0.0), 4)
              END AS total_error
  FROM cerr{s} c CROSS JOIN nerr{s} n
)""")
        selects.append(f"SELECT * FROM row{s}")
    return (
        f"WITH RECURSIVE pts AS ({PTS_CUSTOMER_SQL}),"
        + ",".join(blocks)
        + "\n"
        + "\nUNION ALL\n".join(selects)
    )


_CORPUS_FILTER_CTES = f"""s AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS punct,
         md5({_NORM}) AS fp
  FROM documents
),
qual AS (
  SELECT doc_id, n_tokens, fp,
         round((
             (CASE WHEN n_chars >= 100 AND n_chars <= 2000 THEN 1.0
                   WHEN n_chars >= 30 THEN 0.5 ELSE 0.0 END)
           + (CASE WHEN (CASE WHEN n_tokens > 0 THEN n_chars / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) >= 3.0
                    AND (CASE WHEN n_tokens > 0 THEN n_chars / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) <= 12.0
                   THEN 1.0 ELSE 0.5 END)
           + (1.0 - CASE WHEN n_chars > 0 THEN punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END)
         ) / 3.0, 4) AS quality
  FROM s
),
norm AS (SELECT doc_id, {_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
tot AS (SELECT doc_id, greatest(len(t) - 2, 0) AS total FROM toks),
sh AS (
    SELECT DISTINCT doc_id,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM toks, unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)
),
ds AS (SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY doc_id),
rep AS (
  SELECT tot.doc_id,
         CASE WHEN tot.total <= 0 THEN 0.0
              ELSE round(1 - coalesce(ds.n_distinct, 0) / CAST(tot.total AS DOUBLE), 6)
         END AS rep_ratio
  FROM tot LEFT JOIN ds ON tot.doc_id = ds.doc_id
),
dup AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) > 1 AS is_dup
  FROM s
),
labeled AS (
  SELECT q.doc_id, CAST(q.n_tokens AS BIGINT) AS n_tokens, q.quality,
         r.rep_ratio,
         CASE WHEN q.n_tokens < 25 THEN 'too_short'
              WHEN q.quality < 0.9 THEN 'low_quality'
              WHEN r.rep_ratio > 0.05 THEN 'repetitive'
              WHEN d.is_dup THEN 'duplicate'
              ELSE 'kept' END AS reason
  FROM qual q
  JOIN rep r ON q.doc_id = r.doc_id
  JOIN dup d ON q.doc_id = d.doc_id
)"""


def _kmeans_ctes(
    k: int = 8, n_iter: int = 3, dim: int = 64, scale: int = 1000
) -> str:
    """CTE chain replaying operators.kmeans.kmeans_fit: v (quantized
    vectors), c0..c{n_iter} (centroids), a0..a{n_iter} (assignments —
    a{n_iter} is the final model assignment). Shared by the k-means and
    exact-IVF oracles."""
    dist = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (t.v[i]-c.c[i])*(t.v[i]-c.c[i])))"
    )

    def assign(i: int, cents: str) -> str:
        return f"""
a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT t.vec_id, c.cid,
           row_number() OVER (PARTITION BY t.vec_id ORDER BY {dist}, c.cid) AS rn
    FROM v t, {cents} c
  ) WHERE rn = 1
)"""

    def update(i: int, prev_assign: str) -> str:
        return f"""
c{i} AS (
  SELECT cid, list(cv ORDER BY pos) AS c FROM (
    -- exact integer floor division (not float floor(), which rounds
    -- past 2^53): subtract the nonnegative remainder, then divide
    SELECT a.cid, u.pos,
           CAST((sum(u.val)
                 - ((sum(u.val) % count(*)) + count(*)) % count(*))
                // count(*) AS BIGINT) AS cv
    FROM (SELECT t.vec_id, unnest(t.v) AS val,
                 generate_subscripts(t.v, 1) AS pos FROM v t) u
    JOIN {prev_assign} a USING (vec_id)
    GROUP BY a.cid, u.pos
  ) GROUP BY cid
)"""

    parts = [
        f"""v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * {scale}) AS BIGINT)) AS v
  FROM embeddings
)""",
        f"""c0 AS (
  SELECT cid, c FROM (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
           v AS c FROM v
  ) WHERE cid < {k}
)""",
    ]
    for i in range(n_iter):
        parts.append(assign(i, f"c{i}"))
        parts.append(update(i + 1, f"a{i}"))
    parts.append(assign(n_iter, f"c{n_iter}"))
    return ",".join(parts)


def _kmeans_oracle(
    k: int = 8, n_iter: int = 3, dim: int = 64, scale: int = 1000
) -> str:
    """Unrolled-CTE replica of operators.kmeans.kmeans_quantized: the
    same integer grid, the same lowest-id init, the same
    floor(sum/count) centroid snap, the same (distance, cid) tie-break
    — so the iterative algorithm is bit-exact across engines."""
    ctes = _kmeans_ctes(k, n_iter, dim, scale)
    return f"WITH {ctes}\nSELECT vec_id, cid AS cluster FROM a{n_iter}"


def _kmember_chain(
    prefix: str,
    k_anon: int,
    n_clusters: int,
    n_iter: int,
    repair_rounds: int,
    dim: int,
    init_order_sql: str,
) -> tuple[list[str], str]:
    """The CTE chain of ONE kmember_quantized run (init -> assign ->
    fixed repair rounds -> centroid snap, iterated), name-prefixed so
    several runs can share one WITH clause (the search-sweep oracle).
    Returns (parts, final_assignment_cte). Expects a ``v`` CTE
    (vec_id, v) in scope; ``init_order_sql`` is the ORDER BY of the
    init ranking (lowest-id for the single-run contract, the
    portable-hash restart ranking for the sweep)."""

    def dist(t: str, c: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> abs({t}.v[i]-{c}.c[i])))"
        )

    def argmin(out: str, points: str, cents: str) -> str:
        return f"""{out} AS MATERIALIZED (
  SELECT vec_id, cid, d FROM (
    SELECT t.vec_id, c.cid, {dist('t', 'c')} AS d,
           row_number() OVER (
             PARTITION BY t.vec_id ORDER BY {dist('t', 'c')}, c.cid
           ) AS rn
    FROM {points} t, {cents} c
  ) WHERE rn = 1
)"""

    p = prefix
    parts = [
        f"""{p}c0 AS (
  SELECT cid, c FROM (
    SELECT CAST(row_number() OVER (ORDER BY {init_order_sql}) - 1 AS INT) AS cid,
           v AS c FROM v
  ) WHERE cid < {n_clusters}
)""",
    ]
    for t in range(n_iter + 1):
        parts.append(argmin(f"{p}a{t}r0", "v", f"{p}c{t}"))
        for j in range(1, repair_rounds + 1):
            prev = f"{p}a{t}r{j - 1}"
            parts.append(
                f"""{p}cnt{t}r{j} AS MATERIALIZED (
  SELECT cid, count(*) AS cnt FROM {prev} GROUP BY cid
)"""
            )
            parts.append(
                f"""{p}rel{t}r{j} AS MATERIALIZED (
  SELECT vec_id FROM (
    SELECT a.vec_id,
           row_number() OVER (
             PARTITION BY a.cid ORDER BY a.d, a.vec_id
           ) AS rn
    FROM {prev} a JOIN {p}cnt{t}r{j} x ON a.cid = x.cid AND x.cnt > {k_anon}
  ) WHERE rn > {k_anon}
)"""
            )
            parts.append(
                argmin(
                    f"{p}clm{t}r{j}",
                    f"(SELECT t.* FROM v t JOIN {p}rel{t}r{j} USING (vec_id))",
                    f"""(SELECT c.cid, c.c FROM {p}c{t} c
       JOIN {p}cnt{t}r{j} x ON c.cid = x.cid AND x.cnt < {k_anon})""",
                )
            )
            parts.append(
                f"""{p}acc{t}r{j} AS MATERIALIZED (
  SELECT vec_id, cid, d FROM (
    SELECT m.vec_id, m.cid, m.d, x.cnt,
           row_number() OVER (
             PARTITION BY m.cid ORDER BY m.d, m.vec_id
           ) AS rn
    FROM {p}clm{t}r{j} m JOIN {p}cnt{t}r{j} x USING (cid)
  ) WHERE rn <= {k_anon} - cnt
)"""
            )
            parts.append(
                f"""{p}a{t}r{j} AS MATERIALIZED (
  SELECT a.vec_id, a.cid, a.d FROM {prev} a
  WHERE a.vec_id NOT IN (SELECT vec_id FROM {p}acc{t}r{j})
  UNION ALL SELECT vec_id, cid, d FROM {p}acc{t}r{j}
)"""
            )
        if t < n_iter:
            parts.append(
                f"""{p}c{t + 1} AS MATERIALIZED (
  SELECT cid, list(cv ORDER BY pos) AS c FROM (
    SELECT a.cid, u.pos,
           CAST((sum(u.val)
                 - ((sum(u.val) % count(*)) + count(*)) % count(*))
                // count(*) AS BIGINT) AS cv
    FROM (SELECT t.vec_id, unnest(t.v) AS val,
                 generate_subscripts(t.v, 1) AS pos FROM v t) u
    JOIN {p}a{t}r{repair_rounds} a USING (vec_id)
    GROUP BY a.cid, u.pos
  ) GROUP BY cid
)"""
            )
    return parts, f"{p}a{n_iter}r{repair_rounds}"


def _kmember_oracle(
    k_anon: int = 50,
    n_clusters: int = 8,
    n_iter: int = 2,
    repair_rounds: int = 2,
    dim: int = 64,
    scale: int = 1000,
) -> str:
    """Unrolled-CTE replica of operators.kmember.kmember_quantized —
    the NINTH exactly-oracled iterative family: same integer grid,
    lowest-id init, integer-L1 (distance, cid) argmin, the SAME fixed
    repair rounds (release beyond-k of surplus clusters -> claim to
    nearest deficient centroid -> cap at need; a fixpoint round is the
    identity, the k-core-peel unroll argument), same floor(sum/count)
    centroid snap. Deficiency is derived from the assignment counts in
    both engines, so zero-member clusters are (identically) never
    repaired. MATERIALIZED per step — DuckDB would otherwise inline
    the chain exponentially."""
    v_cte = f"""v AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * {scale}) AS BIGINT)) AS v
  FROM embeddings
)"""
    chain, final = _kmember_chain(
        "", k_anon, n_clusters, n_iter, repair_rounds, dim, "vec_id"
    )
    return (
        "WITH "
        + ",\n".join([v_cte] + chain)
        + f"""
SELECT vec_id, cid AS cluster, CAST(d AS BIGINT) AS distance
FROM {final}"""
    )


def _kmember_search_oracle(
    k_anon: int = 50,
    candidates: tuple[int, ...] = (5, 8),
    restarts: int = 2,
    n_iter: int = 1,
    repair_rounds: int = 2,
    dim: int = 64,
    scale: int = 1000,
    seed_salt: str = "kmsearch",
) -> str:
    """The cluster-count sweep + seeded restarts of
    operators.kmember.kmember_search_quantized, replayed exactly: one
    name-prefixed :func:`_kmember_chain` per (n_clusters, restart) over
    a SHARED quantized ``v`` CTE, restart init ranked by the
    engine-portable md5 hash (pipeline.portable_hash), per-run integer
    cost summed from the final assignment, and the accepted flag as
    the (cost, n_clusters, restart)-argmin window."""
    v_cte = f"""v AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * {scale}) AS BIGINT)) AS v
  FROM embeddings
)"""
    parts = [v_cte]
    cost_selects = []
    for c in sorted(set(candidates)):
        for r in range(restarts):
            init = (
                "CAST(concat('0x', substring(md5("
                f"'{seed_salt}:{r}:' || CAST(vec_id AS VARCHAR)"
                "), 1, 15)) AS BIGINT), vec_id"
            )
            chain, final = _kmember_chain(
                f"k{c}x{r}_", k_anon, c, n_iter, repair_rounds, dim, init
            )
            parts.extend(chain)
            cost_selects.append(
                f"SELECT {c} AS n_clusters, {r} AS restart, "
                f"CAST(sum(d) AS BIGINT) AS cost FROM {final}"
            )
    parts.append(
        "costs AS (" + "\nUNION ALL\n".join(cost_selects) + ")"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT n_clusters, restart, cost,
       CASE WHEN row_number() OVER (
         ORDER BY cost, n_clusters, restart
       ) = 1 THEN 1 ELSE 0 END AS accepted
FROM costs"""
    )


def _bfs_oracle(max_hops: int = 3) -> str:
    """Unrolled-CTE replica of operators.components.bfs_hops over the
    part co-occurrence graph from the p_size=1 seed set: one
    frontier-expansion CTE pair per hop (expanding from the whole
    visited set is equivalent to expanding from the frontier — any
    neighbor of an older layer is already visited). Hop labels are
    exact integers, so this fourth iterative operator hash-matches."""
    parts = [
        """e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)""",
        "e AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0)",
        "h0 AS (SELECT DISTINCT p_partkey AS node, 0 AS hop"
        " FROM part WHERE p_size = 1)",
    ]
    for i in range(1, max_hops + 1):
        parts.append(
            f"""n{i} AS (
  SELECT DISTINCT e.v AS node FROM e JOIN h{i - 1} f ON e.u = f.node
  WHERE e.v NOT IN (SELECT node FROM h{i - 1})
)"""
        )
        parts.append(
            f"h{i} AS (SELECT node, hop FROM h{i - 1}"
            f" UNION ALL SELECT node, {i} FROM n{i})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node AS p_partkey, hop FROM h{max_hops}"
    )


def _hits_oracle(n_iter: int) -> str:
    """Unrolled-CTE replica of operators.components.hits over the
    order->part bipartite graph (part keys offset by 1e12 — above any
    TPC-H orderkey at any SF, so the two key spaces cannot collide).
    All integer: scores on a 1e6 micro-unit
    grid, per-round normalization = (x * 1e6) // max(x) — max is
    aggregation-order-free and // is exact, so a fixed-round run
    replays bit-for-bit. MATERIALIZED per round (DuckDB would inline
    plain CTEs and re-evaluate the chain exponentially)."""
    parts = [
        """e AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS src, l_partkey + 1000000000000 AS dst FROM lineitem
)""",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "a0 AS (SELECT node, CAST(1000000 AS BIGINT) AS a FROM nodes)",
    ]
    prev_a = "a0"
    for i in range(1, n_iter + 1):
        parts.append(
            f"""h{i}r AS MATERIALIZED (
  SELECT e.src AS node, CAST(sum({prev_a}.a) AS BIGINT) AS hr
  FROM e JOIN {prev_a} ON e.dst = {prev_a}.node GROUP BY e.src
)"""
        )
        parts.append(
            f"""h{i} AS MATERIALIZED (
  SELECT n.node,
         CAST(coalesce((h{i}r.hr * 1000000) // (SELECT max(hr) FROM h{i}r), 0) AS BIGINT) AS h
  FROM nodes n LEFT JOIN h{i}r ON n.node = h{i}r.node
)"""
        )
        parts.append(
            f"""a{i}r AS MATERIALIZED (
  SELECT e.dst AS node, CAST(sum(h{i}.h) AS BIGINT) AS ar
  FROM e JOIN h{i} ON e.src = h{i}.node GROUP BY e.dst
)"""
        )
        parts.append(
            f"""a{i} AS MATERIALIZED (
  SELECT n.node,
         CAST(coalesce((a{i}r.ar * 1000000) // (SELECT max(ar) FROM a{i}r), 0) AS BIGINT) AS a
  FROM nodes n LEFT JOIN a{i}r ON n.node = a{i}r.node
)"""
        )
        prev_a = f"a{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT n.node,
       round(coalesce(h{n_iter}.h, 0) / 1000000.0, 6) AS hub,
       round(coalesce(a{n_iter}.a, 0) / 1000000.0, 6) AS authority
FROM nodes n
LEFT JOIN h{n_iter} ON n.node = h{n_iter}.node
LEFT JOIN a{n_iter} ON n.node = a{n_iter}.node
"""
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled-CTE replica of operators.components.k_core over the
    part co-occurrence graph: one (degree -> keep -> filter) CTE triple
    per peel round. Peeling is monotone — rounds past the fixpoint are
    identity — so a fixed unroll equals the operator's early-stopping
    loop exactly."""
    parts = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""
    ]
    prev = "e0"
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS (
  SELECT u AS node, count(*) AS d
  FROM (SELECT u, v FROM {prev} UNION ALL SELECT v, u FROM {prev}) b
  GROUP BY u
)"""
        )
        parts.append(f"k{i} AS (SELECT node FROM d{i} WHERE d >= {k})")
        # MATERIALIZED: each e{{i}} is referenced three times by the next
        # round (degree union x2 + filter); DuckDB inlines plain CTEs,
        # which re-evaluates the whole peel chain exponentially
        parts.append(
            f"""e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  WHERE e.u IN (SELECT node FROM k{i})
    AND e.v IN (SELECT node FROM k{i})
)"""
        )
        prev = f"e{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node AS p_partkey, count(*) AS degree
FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}) b
GROUP BY node"""
    )


def _sssp_oracle(rounds: int) -> str:
    """Unrolled-CTE replica of operators.components.bounded_sssp over
    the weighted part co-occurrence graph: one min-relaxation CTE per
    round. Relaxation is monotone (fixpoint rounds are identity), so
    the fixed unroll equals the operator's early-stopping loop; weights
    and distances are exact integers. MATERIALIZED per round — DuckDB
    would otherwise inline and re-evaluate the chain exponentially."""
    parts = [
        """e0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v,
         CASE WHEN count(DISTINCT a.l_orderkey) >= 3 THEN 1 ELSE 3 END AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
)""",
        "e AS MATERIALIZED (SELECT u, v, w FROM e0"
        " UNION ALL SELECT v, u, w FROM e0)",
        """d0 AS (
  SELECT DISTINCT p_partkey AS node, CAST(0 AS BIGINT) AS dist
  FROM part WHERE p_size = 1
)""",
    ]
    prev = "d0"
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.v, {prev}.dist + e.w FROM {prev} JOIN e ON e.u = {prev}.node
  ) b GROUP BY node
)"""
        )
        prev = f"d{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node AS p_partkey, dist FROM {prev}"
    )


def _ivf_recall_tail(dim: int, topk: int) -> str:
    """Extra CTEs for _ivf_oracle(recall_eval=True): the exhaustive
    integer-cosine ranking (no cell pruning — what nprobe = n_cells
    degenerates to) and the per-query top-k overlap with the probed
    run."""
    def idot(a, b):
        return (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> {a}[i]*{b}[i]))"
        )
    return f""",
scoredx AS (
  SELECT q.query_id, t.vec_id,
         round(CASE WHEN {idot('t.v', 't.v')} != 0 AND {idot('q.qv', 'q.qv')} != 0
               THEN {idot('t.v', 'q.qv')}
                    / (sqrt(CAST({idot('t.v', 't.v')} AS DOUBLE))
                       * sqrt(CAST({idot('q.qv', 'q.qv')} AS DOUBLE)))
               END, 6) AS score
  FROM v t, qsel q WHERE t.vec_id != q.query_id
),
rankedx AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scoredx
),
ov AS (
  SELECT r.query_id, count(*) AS m
  FROM ranked r JOIN rankedx x
    ON x.query_id = r.query_id AND x.vec_id = r.vec_id
  WHERE r.rank <= {topk} AND x.rank <= {topk}
  GROUP BY r.query_id
),
perq AS (
  SELECT coalesce(ov.m, 0) AS n_matched
  FROM qsel LEFT JOIN ov ON ov.query_id = qsel.query_id
)"""


def _ivf_oracle(
    n_cells: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    scale: int = 1000,
    nprobe: int = 3,
    topk: int = 5,
    query_mod: int = 100,
    recall_eval: bool = False,
    graph_names: bool = False,
) -> str:
    """Unrolled replica of operators.similarity.ivf_quantized_topk: the
    deterministic coarse quantizer (kmeans CTEs), sort-and-slice cell
    probing, and round-6 integer-cosine scoring — an APPROXIMATE
    operator with an EXACT oracle, because every stage is
    bit-reproducible.

    ``recall_eval``: instead of the top-k rows, emit the recall@k
    histogram of this nprobe-probed run against the exhaustive
    (nprobe = n_cells) run of the same pipeline — the
    `ivf_recall_eval` oracle."""
    ctes = _kmeans_ctes(n_cells, n_iter, dim, scale)
    pdist = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (q.qv[i]-c.c[i])*(q.qv[i]-c.c[i])))"
    )
    def idot(a, b):
        return (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> {a}[i]*{b}[i]))"
        )
    return f"""WITH {ctes},
qsel AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id % {query_mod} = 0),
probe AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id ORDER BY {pdist}, c.cid) AS rn
    FROM qsel q, c{n_iter} c
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM probe p JOIN a{n_iter} a ON a.cid = p.cid
  WHERE a.vec_id != p.query_id
),
scored AS (
  SELECT cand.query_id, cand.vec_id,
         round(CASE WHEN {idot('t.v', 't.v')} != 0 AND {idot('q.qv', 'q.qv')} != 0
               THEN {idot('t.v', 'q.qv')}
                    / (sqrt(CAST({idot('t.v', 't.v')} AS DOUBLE))
                       * sqrt(CAST({idot('q.qv', 'q.qv')} AS DOUBLE)))
               END, 6) AS score
  FROM cand
  JOIN v t ON t.vec_id = cand.vec_id
  JOIN qsel q ON q.query_id = cand.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
){_ivf_recall_tail(dim, topk) if recall_eval else ''}
{f'''SELECT n_matched, count(*) AS n_queries FROM perq GROUP BY n_matched'''
 if recall_eval else
 (f'SELECT query_id AS src, vec_id AS dst, score, rank FROM ranked WHERE rank <= {topk}'
  if graph_names else
  f'SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= {topk}')}"""


def _mutual_knn_oracle(**ivf_kwargs) -> str:
    """Replica of operators.similarity.mutual_knn_clusters: the
    graph-named IVF oracle as a subquery, a reciprocity self-join, and
    a recursive-CTE connected components with singletons self-labeled
    (component = min member id = least(u, min reachable))."""
    graph_sql = _ivf_oracle(graph_names=True, **ivf_kwargs)
    return f"""
WITH RECURSIVE g AS (
  SELECT src, dst FROM ({graph_sql}) q
),
mutual AS (
  SELECT a.src, a.dst FROM g a JOIN g b ON a.src = b.dst AND a.dst = b.src
  WHERE a.src < a.dst
),
und AS (SELECT src, dst FROM mutual UNION SELECT dst AS src, src AS dst FROM mutual),
reach(u, v) AS (
  SELECT src, dst FROM und
  UNION
  SELECT r.u, e.dst FROM reach r JOIN und e ON r.v = e.src
),
comp AS (SELECT u, min(v) AS mn FROM reach GROUP BY u)
SELECT e.vec_id,
       CAST(coalesce(least(c.u, c.mn), e.vec_id) AS BIGINT) AS cluster_id
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.u
"""


def _pagerank_oracle(
    edges_sql: str,
    n_iter: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
    seeds_sql: str | None = None,
    weighted: bool = False,
) -> str:
    """Unrolled-CTE replica of operators.components.pagerank: the same
    integer micro-unit grid, the same truncating integer divisions —
    bit-exact across engines (third iterative op with an exact oracle,
    after DBSCAN and k-means). With ``seeds_sql`` (one column ``node``)
    it replays the PERSONALIZED variant: initial mass and per-round
    teleport restricted to seed nodes present in the graph, n = |S|.
    With ``weighted`` (edges_sql yields src, dst, w) it replays the
    WEIGHTED variant's two-step division ``((p*d)//100) * w // W``."""
    d = damping_pct
    if weighted:
        parts = [
            f"""e AS (
  SELECT src, dst, sum(w) AS w FROM ({edges_sql}) ge
  GROUP BY 1, 2 HAVING sum(w) > 0
)""",
            "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
            "outdeg AS (SELECT src, sum(w) AS deg FROM e GROUP BY src)",
        ]
    else:
        parts = [
            f"e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
            "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
            "outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)",
        ]
    if seeds_sql is None:
        parts += [
            "nn AS (SELECT count(*) AS n FROM nodes)",
            f"p0 AS (SELECT node, CAST({scale} // nn.n AS BIGINT) AS p FROM nodes, nn)",
        ]
        teleport = f"(({scale} - {scale} * {d} // 100) // nn.n)"
        seed_join = ""
    else:
        parts += [
            f"""sd AS (
  SELECT DISTINCT n.node FROM nodes n
  JOIN ({seeds_sql}) s ON n.node = CAST(s.node AS BIGINT)
)""",
            "nn AS (SELECT count(*) AS n FROM sd)",
            f"""p0 AS (
  SELECT n2.node,
         CAST(CASE WHEN sd.node IS NOT NULL THEN {scale} // nn.n ELSE 0 END AS BIGINT) AS p
  FROM nodes n2 LEFT JOIN sd ON n2.node = sd.node, nn
)""",
        ]
        teleport = (
            f"(CASE WHEN sd.node IS NOT NULL THEN "
            f"({scale} - {scale} * {d} // 100) // nn.n ELSE 0 END)"
        )
        seed_join = " LEFT JOIN sd ON n2.node = sd.node"
    contrib = (
        f"((p.p * {d}) // 100) * e.w // o.deg"
        if weighted
        else f"(p.p * {d}) // (100 * o.deg)"
    )
    for i in range(n_iter):
        parts.append(
            f"""c{i} AS (
  SELECT e.dst, sum({contrib}) AS s
  FROM e JOIN p{i} p ON e.src = p.node JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""p{i + 1} AS (
  SELECT n2.node,
         CAST({teleport} + coalesce(c.s, 0) AS BIGINT) AS p
  FROM nodes n2 LEFT JOIN c{i} c ON n2.node = c.dst{seed_join}, nn
)"""
        )
    ctes = ",\n".join(parts)
    return (
        f"WITH {ctes}\n"
        f"SELECT node, round(p / {float(scale)}, 8) AS pagerank FROM p{n_iter}"
    )


def _label_prop_oracle(edges_sql: str, n_iter: int = 3) -> str:
    """Unrolled-CTE replica of operators.components.label_propagation:
    same canonical undirected neighbor relation (both orientations,
    self-loops dropped), same synchronous mode update with the
    (count desc, label asc) tie-break, same keep-old-label fallback
    for neighborless nodes — deterministic, so a fixed-round run
    replays exactly (eleventh iterative family with an exact oracle)."""
    parts = [
        f"raw AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM ({edges_sql}))",
        """e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM raw UNION ALL SELECT dst AS src, src AS dst FROM raw
  ) u WHERE u.src <> u.dst
)""",
        """nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM raw UNION ALL SELECT dst FROM raw
  ) v
)""",
        "l0 AS (SELECT node, node AS lbl FROM nodes)",
    ]
    for i in range(n_iter):
        parts.append(
            f"""c{i} AS (
  SELECT e.src AS node, l.lbl, count(*) AS cnt
  FROM e JOIN l{i} l ON e.dst = l.node GROUP BY 1, 2
)"""
        )
        parts.append(
            f"""p{i} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
    FROM c{i}
  ) rr WHERE rn = 1
)"""
        )
        parts.append(
            f"""l{i + 1} AS (
  SELECT l.node, coalesce(p.lbl, l.lbl) AS lbl
  FROM l{i} l LEFT JOIN p{i} p ON l.node = p.node
)"""
        )
    ctes = ",\n".join(parts)
    return f"WITH {ctes}\nSELECT node, lbl AS community FROM l{n_iter}"


def _bm25_oracle(probes: list[tuple[int, str]], k: int = 5) -> str:
    """CTE-for-CTE replica of operators.search.bm25_topk at k1=1.2,
    b=0.75: same single tokenization, same smoothed idf, same 1e-9
    decimal-grid weight sum (order-independent — the reason the
    ranking is cross-engine exact), same (score desc, doc_id) rank."""
    values = ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''")) for i, t in probes
    )
    qnorm = _NORM.replace("text", "query_text")
    return f"""
WITH base AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
tok AS (
  SELECT doc_id, unnest(toks) AS term FROM base
),
tokf AS (SELECT * FROM tok WHERE term <> ''),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tokf GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tokf GROUP BY 1),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
probes(query_id, query_text) AS (VALUES {values}),
qterms AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, unnest(string_split({qnorm}, ' ')) AS term FROM probes
  ) qq WHERE term <> ''
),
scored AS (
  SELECT q.query_id, t.doc_id,
         CAST(round(
           ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (t.tf * (1.2 + 1.0))
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)),
         9) AS DECIMAL(28,9)) AS w
  FROM qterms q
  JOIN tf t ON q.term = t.term
  JOIN dl d ON t.doc_id = d.doc_id
  JOIN dfreq f ON t.term = f.term
  CROSS JOIN stats s
),
per AS (SELECT query_id, doc_id, sum(w) AS s FROM scored GROUP BY 1, 2),
r AS (
  SELECT query_id, doc_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rn
  FROM per
)
SELECT query_id, doc_id, round(CAST(s AS DOUBLE), 4) AS score, CAST(rn AS INT) AS rank
FROM r WHERE rn <= {k}
"""


_INVERTED_POSTINGS_ORACLE = f"""
WITH base AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
tok AS (
  SELECT doc_id, unnest(toks) AS term,
         unnest(range(len(toks))) AS pos
  FROM base
)
SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
       array_to_string(list_sort(list(pos)), ',') AS positions
FROM tok WHERE term <> ''
GROUP BY term, doc_id
"""

def _phrase_oracle(probes: list[tuple[int, str]]) -> str:
    """Replica of operators.search.phrase_search: same anchor-vote
    matching (slot row (doc, pos, slot) votes for anchor pos - slot;
    an anchor with all m slot votes is one contiguous occurrence)."""
    values = ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''")) for i, t in probes
    )
    pnorm = _NORM.replace("text", "phrase_text")
    return f"""
WITH base AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
tok AS (
  SELECT doc_id, unnest(toks) AS term,
         CAST(unnest(range(len(toks))) AS BIGINT) AS pos
  FROM base
),
tokf AS (SELECT * FROM tok WHERE term <> ''),
phr(phrase_id, phrase_text) AS (VALUES {values}),
pbase AS (SELECT phrase_id, string_split({pnorm}, ' ') AS toks FROM phr),
slots AS (
  SELECT phrase_id, term, slot FROM (
    SELECT phrase_id, unnest(toks) AS term,
           CAST(unnest(range(len(toks))) AS BIGINT) AS slot
    FROM pbase
  ) s WHERE term <> ''
),
nslots AS (SELECT phrase_id, count(*) AS m FROM slots GROUP BY 1),
votes AS (
  SELECT s.phrase_id, t.doc_id, t.pos - s.slot AS anchor, s.slot
  FROM slots s JOIN tokf t ON s.term = t.term
),
anchors AS (
  SELECT phrase_id, doc_id, anchor, count(DISTINCT slot) AS v
  FROM votes GROUP BY 1, 2, 3
)
SELECT a.phrase_id, a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
FROM anchors a JOIN nslots n ON a.phrase_id = n.phrase_id
WHERE a.v = n.m AND a.anchor >= 0
GROUP BY 1, 2
"""


def _bpe_fold_sql(symbols_expr: str, left: str, right: str) -> str:
    """One greedy left-to-right merge pass as a DuckDB list fold —
    the exact twin of tokenize._merge_fold (leftmost-first overlap
    resolution falls out of the same fold shape in both engines)."""
    return (
        f"list_reduce(list_transform({symbols_expr}, s -> [s]), "
        f"(acc, x) -> CASE WHEN acc[-1] = '{left}' AND x[1] = '{right}' "
        f"THEN list_concat(acc[1:len(acc)-1], ['{left}{right}']) "
        f"ELSE list_concat(acc, x) END)"
    )


_CMS_ORACLE = """
WITH keyed AS (
  SELECT l_partkey AS k FROM lineitem WHERE l_partkey IS NOT NULL
),
cells AS (
  SELECT r.range AS row,
         CAST(concat('0x', substring(md5(concat(r.range, ':',
              CAST(k AS VARCHAR))), 1, 15)) AS BIGINT) % 64 AS bucket
  FROM keyed, range(0, 4) r
),
cms AS (
  SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY row, bucket
),
truth AS (
  SELECT k, CAST(count(*) AS BIGINT) AS true_n FROM keyed GROUP BY k
),
probes AS (
  SELECT t.k, t.true_n, r.range AS row,
         CAST(concat('0x', substring(md5(concat(r.range, ':',
              CAST(t.k AS VARCHAR))), 1, 15)) AS BIGINT) % 64 AS bucket
  FROM truth t, range(0, 4) r
)
SELECT p.k AS l_partkey, p.true_n,
       min(c.cnt) AS cms_estimate,
       min(c.cnt) - p.true_n AS overestimate
FROM probes p JOIN cms c ON c.row = p.row AND c.bucket = p.bucket
GROUP BY p.k, p.true_n
"""

_LM_PERPLEXITY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split({_NORM}, ' '), t -> t <> '') AS t
  FROM documents
),
occ AS (
  SELECT doc_id, p.x, p.y FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                  i -> struct_pack(x := t[i], y := t[i + 1]))) AS p
    FROM toks WHERE len(t) >= 2
  ) o
),
bg AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS cxy FROM occ GROUP BY x, y
),
uni AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cx
  FROM (SELECT unnest(t) AS term FROM toks) u GROUP BY term
),
vocab AS (SELECT CAST(count(*) AS BIGINT) AS V FROM uni),
lnp AS (
  SELECT occ.doc_id,
         CAST(round(ln((bg.cxy + 1.0) / (uni.cx + vocab.V)), 9)
              AS DECIMAL(28,9)) AS lnp
  FROM occ
  JOIN bg ON bg.x = occ.x AND bg.y = occ.y
  JOIN uni ON uni.term = occ.x
  CROSS JOIN vocab
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(exp(-(CAST(sum(lnp) AS DOUBLE)) / count(*)), 4) AS ppl
FROM lnp GROUP BY doc_id
"""


_LPC_ORACLE = """
WITH keyed AS (
  SELECT event_type AS g, user_id AS k FROM events WHERE user_id IS NOT NULL
),
bits AS (
  SELECT g, k,
         CAST(concat('0x', substring(md5(concat('0:',
              CAST(k AS VARCHAR))), 1, 15)) AS BIGINT) % 1024 AS bit
  FROM keyed
),
agg AS (
  SELECT g, count(DISTINCT bit) AS n_set,
         CAST(count(DISTINCT k) AS BIGINT) AS true_distinct
  FROM bits GROUP BY g
)
SELECT g AS event_type,
       CAST(1024 - n_set AS BIGINT) AS n_zero_bits,
       CASE WHEN 1024 - n_set > 0
            THEN round(-1024.0 * ln((1024 - n_set) / 1024.0), 4)
       END AS lpc_estimate,
       true_distinct
FROM agg
"""

_BLOOM_ORACLE = """
WITH build AS (
  SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal > 5000
),
fbits AS (
  SELECT DISTINCT CAST(concat('0x', substring(md5(concat(r.range, ':',
         CAST(k AS VARCHAR))), 1, 15)) AS BIGINT) % 4096 AS bit
  FROM build, range(0, 4) r
),
probes AS (
  SELECT DISTINCT o_custkey AS p FROM orders WHERE o_custkey IS NOT NULL
),
exploded AS (
  SELECT p, CAST(concat('0x', substring(md5(concat(r.range, ':',
         CAST(p AS VARCHAR))), 1, 15)) AS BIGINT) % 4096 AS bit
  FROM probes, range(0, 4) r
),
hits AS (
  SELECT p, CAST(count(*) AS BIGINT) AS h
  FROM exploded WHERE bit IN (SELECT bit FROM fbits) GROUP BY p
)
SELECT pr.p AS o_custkey,
       coalesce(h.h, 0) = 4 AS bloom_maybe,
       pr.p IN (SELECT k FROM build) AS actually_present
FROM probes pr LEFT JOIN hits h ON h.p = pr.p
"""


_PMI_COLLOCATIONS_ORACLE = f"""
WITH toks AS (
  SELECT list_filter(string_split({_NORM}, ' '), t -> t <> '') AS t
  FROM documents
),
uni AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n_term
  FROM (SELECT unnest(t) AS term FROM toks) u GROUP BY term
),
bg AS (
  SELECT p.x, p.y, CAST(count(*) AS BIGINT) AS n_xy FROM (
    SELECT unnest(list_transform(range(1, len(t)),
           i -> struct_pack(x := t[i], y := t[i + 1]))) AS p
    FROM toks WHERE len(t) >= 2
  ) b GROUP BY p.x, p.y
),
tot AS (
  SELECT (SELECT CAST(sum(n_term) AS DOUBLE) FROM uni) AS N,
         (SELECT CAST(sum(n_xy) AS DOUBLE) FROM bg) AS M
),
scored AS (
  SELECT bg.x, bg.y, bg.n_xy,
         ln((bg.n_xy / tot.M) / ((ux.n_term / tot.N) * (uy.n_term / tot.N)))
           AS pmi_raw
  FROM bg, tot
  JOIN uni ux ON ux.term = bg.x
  JOIN uni uy ON uy.term = bg.y
  WHERE bg.n_xy >= 5
),
top AS (
  SELECT *, round(pmi_raw, 9) AS q FROM scored
  ORDER BY q DESC, x, y LIMIT 20
)
SELECT x, y, n_xy, round(pmi_raw, 4) AS pmi,
       CAST(row_number() OVER (ORDER BY q DESC, x, y) AS INT) AS rnk
FROM top
"""


def _bpe_learn_oracle(
    n_merges: int,
    min_pair_count: int,
    table: str = "documents",
    col: str = "text",
) -> str:
    """Unrolled-CTE replica of operators.tokenize.bpe_learn: the same
    word-frequency relation, adjacent-pair integer counts, argmax with
    the (count desc, left, right) total tie order, and greedy
    re-segmentation fold per round (twelfth iterative family with an
    exact oracle). Early stop replays too: an empty b{{i}} empties
    every later round via its cross join, so the merge union matches
    the driver loop's break.

    Every CTE is MATERIALIZED: each w{{i}} is referenced twice (the
    round's argmax and the next round's fold), so letting DuckDB
    inline would double the scan tree per round — exponential at the
    realistic merge counts this oracle now runs at.  The pair-count
    aggregate is inlined into b{{i}} (rather than a separate p{{i}}
    CTE) to halve the binder's reference-chain depth per round, which
    is what bounds how many rounds fit under DuckDB's expression-depth
    limit (measured: 256 rounds fail with the 4-hop chain, pass with
    this 2-hop one)."""
    norm = _NORM.replace("lower(text)", f"lower({col})")
    parts = [
        f"""wc AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS count FROM (
    SELECT unnest(string_split({norm}, ' ')) AS w FROM {table}
  ) t WHERE w <> '' GROUP BY w
)""",
        "w0 AS MATERIALIZED (SELECT count, string_split(w, '') AS syms FROM wc)",
    ]
    for i in range(n_merges):
        parts.append(
            f"""b{i} AS MATERIALIZED (
  SELECT l, r, cnt, {i} AS rank FROM (
    SELECT p.l, p.r, sum(count) AS cnt FROM (
      SELECT count,
             unnest(list_transform(range(1, len(syms)),
                    j -> struct_pack(l := syms[j], r := syms[j + 1]))) AS p
      FROM w{i}
    ) t GROUP BY p.l, p.r
  ) g WHERE cnt >= {min_pair_count}
  ORDER BY cnt DESC, l, r LIMIT 1
)"""
        )
        if i + 1 < n_merges:
            fold = (
                "list_reduce(list_transform(syms, s -> [s]), "
                "(acc, x) -> CASE WHEN acc[-1] = b.l AND x[1] = b.r "
                "THEN list_concat(acc[1:len(acc)-1], [b.l || b.r]) "
                "ELSE list_concat(acc, x) END)"
            )
            parts.append(
                f"""w{i + 1} AS MATERIALIZED (
  SELECT count,
         CASE WHEN len(syms) < 2 THEN syms ELSE {fold} END AS syms
  FROM w{i}, b{i} b
)"""
            )
    union = " UNION ALL ".join(f"SELECT * FROM b{i}" for i in range(n_merges))
    ctes = ",\n".join(parts)
    return (
        f"WITH {ctes}\n"
        f'SELECT rank, l AS "left", r AS "right", '
        f"CAST(cnt AS BIGINT) AS pair_count FROM ({union}) u"
    )


def _bpe_apply_oracle(merges: list[tuple[str, str]]) -> str:
    """Replica of operators.tokenize.bpe_apply with a fixed merge
    table: the same fold chain per word, word order preserved, docs
    whose normalized text is empty kept with zero tokens."""
    fold = "string_split(w, '')"
    for left, right in merges:
        fold = _bpe_fold_sql(fold, left, right)
    return f"""
WITH words AS (
  SELECT doc_id, pos, w FROM (
    SELECT doc_id,
           unnest(string_split({_NORM}, ' ')) AS w,
           unnest(range(len(string_split({_NORM}, ' ')))) AS pos
    FROM documents
  ) t WHERE w <> ''
),
segd AS (SELECT doc_id, pos, {fold} AS toks FROM words),
per_doc AS (
  SELECT doc_id,
         CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         string_agg(array_to_string(toks, ' '), ' ' ORDER BY pos) AS tokens_str
  FROM segd GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(t.n_tokens, 0) AS n_tokens,
       coalesce(t.tokens_str, '') AS tokens_str
FROM documents d LEFT JOIN per_doc t ON d.doc_id = t.doc_id
"""


def _bpe_vocab_oracle(merges: list[tuple[str, str]]) -> str:
    """Subword vocabulary counts after the fixed merge folds — the
    doc_bpe_tokens segmentation exploded and counted."""
    fold = "string_split(w, '')"
    for left, right in merges:
        fold = _bpe_fold_sql(fold, left, right)
    return f"""
WITH words AS (
  SELECT w FROM (
    SELECT unnest(string_split({_NORM}, ' ')) AS w FROM documents
  ) t WHERE w <> ''
),
segd AS (SELECT {fold} AS toks FROM words)
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(toks) AS token FROM segd) u
GROUP BY token
"""


_SORTED_NEIGHBORS_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, {_NORM} AS k FROM documents WHERE {_NORM} IS NOT NULL
),
r AS (
  SELECT doc_id, k, row_number() OVER (ORDER BY k, doc_id) AS rn FROM keyed
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(levenshtein(a.k, b.k) AS INT) AS dist
FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3
"""


# Dialect-shared SQL (runs verbatim on Spark AND DuckDB): monthly
# order-priority share + within-month rank.
_SQL_PRIORITY_SHARE_RANK = """
WITH monthly AS (
  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
         o_orderpriority AS pri,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
)
SELECT ym, pri, n,
       round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY ym) AS DOUBLE), 6) AS share,
       CAST(rank() OVER (PARTITION BY ym ORDER BY n DESC, pri) AS INT) AS rnk
FROM monthly
"""

_NATION_EDGES_SQL = """
SELECT s.s_nationkey AS src, c.c_nationkey AS dst
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
"""


def _rp_lsh_pair_ctes(
    n_planes: int = 16,
    rows_per_band: int = 4,
    dim: int = 64,
    scale: int = 1000,
    plane_scale: int = 1000,
    threshold: float = 0.4,
    seed: int = 42,
) -> tuple[str, str]:
    """Replica of similarity.rp_lsh_near_dup_pairs with integer planes:
    the same fixed-seed hyperplanes quantized to ints, so sign bits,
    banding, candidates, and round-6 integer-cosine verification all
    replay bit-exact — an LSH with an exact oracle. Returns
    ``(cte_chain, pair_select)`` so composite oracles (semantic dedup's
    connected components) can build on the verified pair set."""
    import numpy as np

    planes = np.round(
        np.random.RandomState(seed).randn(n_planes, dim) * plane_scale
    ).astype(np.int64)
    bit_cols = []
    for p in range(n_planes):
        lit = "[" + ",".join(str(int(w)) for w in planes[p]) + "]"
        proj = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> v[i] * ({lit})[i]))"
        )
        bit_cols.append(
            f"CASE WHEN {proj} > 0 THEN '1' ELSE '0' END AS b{p}"
        )
    n_bands = n_planes // rows_per_band
    band_selects = " UNION ALL ".join(
        "SELECT vec_id, v, {bd} AS band, {bits} AS bits FROM sig".format(
            bd=bd,
            bits="||".join(
                f"b{i}"
                for i in range(bd * rows_per_band, (bd + 1) * rows_per_band)
            ),
        )
        for bd in range(n_bands)
    )
    idot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> x.v[i] * y.v[i]))"
    )
    inorm = lambda t: (
        f"sqrt(CAST(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> {t}.v[i] * {t}.v[i])) AS DOUBLE))"
    )
    ctes = f"""qe AS (
  SELECT vec_id,
         list_transform(embedding, e -> CAST(round(e * {scale}) AS BIGINT)) AS v
  FROM embeddings
),
sig AS (SELECT vec_id, v, {", ".join(bit_cols)} FROM qe),
banded AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bits = b.bits AND a.vec_id < b.vec_id
)"""
    pair_select = f"""SELECT c.a_id, c.b_id,
       round({idot} / ({inorm('x')} * {inorm('y')}), 6) AS score
FROM cand c JOIN qe x ON x.vec_id = c.a_id JOIN qe y ON y.vec_id = c.b_id
WHERE round({idot} / ({inorm('x')} * {inorm('y')}), 6) >= {threshold}"""
    return ctes, pair_select


def _rp_lsh_oracle(**kwargs) -> str:
    ctes, pair_select = _rp_lsh_pair_ctes(**kwargs)
    return f"WITH {ctes}\n{pair_select}"


def _semantic_dedup_oracle(**kwargs) -> str:
    """semantic_dedup replica: the exact LSH pair set above, transitive
    closure via recursive CTE (the dedup_near_docs shape), min-id
    component labels, survivors = the labels themselves."""
    ctes, pair_select = _rp_lsh_pair_ctes(**kwargs)
    return f"""WITH RECURSIVE {ctes},
lshp AS ({pair_select}),
edges AS (
  SELECT a_id AS u, b_id AS v FROM lshp
  UNION SELECT b_id, a_id FROM lshp
  UNION SELECT a_id, a_id FROM lshp
  UNION SELECT b_id, b_id FROM lshp
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS vec_id, min(v) AS dup_group FROM reach GROUP BY u),
labeled AS (
  SELECT e.vec_id, coalesce(c.dup_group, e.vec_id) AS dup_group
  FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.vec_id
),
sized AS (
  SELECT dup_group, CAST(count(*) AS BIGINT) AS dup_group_size
  FROM labeled GROUP BY dup_group
)
SELECT l.vec_id, l.dup_group, s.dup_group_size
FROM labeled l JOIN sized s ON l.dup_group = s.dup_group
WHERE l.vec_id = l.dup_group"""


def oracle_sql() -> dict[str, str]:
    sw = ", ".join(repr(w) for w in STOPWORDS)
    oracles = {
        "eps_sweep_metrics": _eps_sweep_oracle([2.0, 3.0], MINPTS_C),
        # SCC variant oracle: directed edges core -> neighbor are mutual
        # exactly when BOTH endpoints are cores (L1 is symmetric), so the
        # strongly-connected clusters are the components of the
        # core-core eps-graph; border points fall out as noise.
        "dbscan_scc_customer": f"""
WITH RECURSIVE pts AS ({PTS_CUSTOMER_SQL}),
nc AS (
  SELECT a.id, count(*) AS n FROM pts a JOIN pts b
    ON abs(a.f0 - b.f0) + abs(a.f1 - b.f1) < {EPS_C}
  GROUP BY a.id
),
cores AS (SELECT id FROM nc WHERE n >= {MINPTS_C}),
edges AS (
  SELECT a.id AS u, b.id AS v FROM pts a
  JOIN cores ca ON a.id = ca.id
  JOIN pts b ON abs(a.f0 - b.f0) + abs(a.f1 - b.f1) < {EPS_C}
  JOIN cores cb ON b.id = cb.id
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS id, min(v) AS component FROM reach GROUP BY u),
mass AS (SELECT component, count(*) AS m FROM comp GROUP BY component)
SELECT p.id,
       CASE WHEN mass.m >= {MINPTS_C} THEN comp.component END AS cluster_id,
       (CASE WHEN mass.m >= {MINPTS_C} THEN comp.component END) IS NULL
         AS is_noise
FROM pts p
LEFT JOIN comp ON p.id = comp.id
LEFT JOIN mass ON comp.component = mass.component
""",
        # Full DBSCAN oracle: the same quirk-preserving semantics as
        # operators/dbscan.py (self-counting neighbors, core -> every
        # eps-neighbor edges, component = min member id, mass >= k else
        # noise) in recursive-CTE SQL. The reach relation is
        # sum(|component|^2) rows — exact and fine at oracle scale.
        "dbscan_customer": f"""
WITH RECURSIVE pts AS ({PTS_CUSTOMER_SQL}),
nc AS (
  SELECT a.id, count(*) AS n FROM pts a JOIN pts b
    ON abs(a.f0 - b.f0) + abs(a.f1 - b.f1) < {EPS_C}
  GROUP BY a.id
),
cores AS (SELECT id FROM nc WHERE n >= {MINPTS_C}),
ed AS (
  SELECT a.id AS u, b.id AS v FROM pts a
  JOIN cores c ON a.id = c.id
  JOIN pts b ON abs(a.f0 - b.f0) + abs(a.f1 - b.f1) < {EPS_C}
),
edges AS (SELECT u, v FROM ed UNION SELECT v, u FROM ed),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS id, min(v) AS component FROM reach GROUP BY u),
mass AS (SELECT component, count(*) AS m FROM comp GROUP BY component)
SELECT p.id,
       CASE WHEN mass.m >= {MINPTS_C} THEN comp.component END AS cluster_id,
       (CASE WHEN mass.m >= {MINPTS_C} THEN comp.component END) IS NULL
         AS is_noise
FROM pts p
LEFT JOIN comp ON p.id = comp.id
LEFT JOIN mass ON comp.component = mass.component
""",
        "customers_all_priorities": """
WITH n AS (SELECT count(DISTINCT o_orderpriority) AS n_prio FROM orders),
pc AS (
  SELECT o_custkey, count(DISTINCT o_orderpriority) AS n_prio
  FROM orders GROUP BY o_custkey
)
SELECT pc.o_custkey, pc.n_prio
FROM pc CROSS JOIN n
WHERE pc.n_prio = n.n_prio
""",
        "orders_custkey_skew": """
WITH c AS (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1),
t AS (SELECT sum(cnt) AS total, count(*) AS n_keys FROM c)
SELECT o_custkey, cnt,
       round(cnt / CAST(total AS DOUBLE), 6) AS share,
       round(cnt / (CAST(total AS DOUBLE) / n_keys), 4) AS skew
FROM c CROSS JOIN t
ORDER BY cnt DESC, o_custkey ASC
LIMIT 10
""",
        "quantity_histogram": """
SELECT bin,
       round(bin * CAST(5.0 AS DOUBLE), 6) AS bin_lo,
       round((bin + 1) * CAST(5.0 AS DOUBLE), 6) AS bin_hi,
       count(*) AS cnt
FROM (
  SELECT CAST(greatest(0, least(9, floor(CAST(l_quantity AS DOUBLE) / 50.0 * 10))) AS INT)
           AS bin
  FROM lineitem
) s
GROUP BY bin
""",
        "doc_tfidf_cosine_pairs": f"""
WITH norm AS (SELECT doc_id, {_NORM} AS nt FROM documents),
tok AS (
  SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM norm
),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
n AS (SELECT count(*) AS n FROM documents),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY term
),
kept AS (SELECT term, df FROM dfreq CROSS JOIN n WHERE df <= n * 0.5),
w AS (
  SELECT doc_id, tf.term,
         CAST(round(tf * ln((n + 1.0) / (df + 1.0)), 8) AS DECIMAL(20,8)) AS w
  FROM tf JOIN kept USING (term) CROSS JOIN n
),
norms AS (
  SELECT doc_id, sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm FROM w GROUP BY 1
),
dots AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, sum(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cosine
FROM dots
JOIN norms na ON a_id = na.doc_id
JOIN norms nb ON b_id = nb.doc_id
WHERE round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) >= 0.6
""",
        "embedding_quantization": """
WITH t AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
),
a AS (
  SELECT vec_id, x,
         list_aggregate(list_transform(x, v -> abs(v)), 'max') AS amax
  FROM t
),
qq AS (
  SELECT vec_id, amax,
         CASE WHEN amax = 0 THEN list_transform(x, v -> 0)
              ELSE list_transform(x, v -> CAST(round(v / (amax / 127.0)) AS INT))
         END AS q
  FROM a
)
SELECT vec_id,
       round(amax / 127.0, 9) AS scale,
       CAST(list_aggregate(q, 'sum') AS INT) AS q_sum,
       len(list_filter(q, v -> abs(v) = 127)) AS n_sat
FROM qq
""",
        "eps_k_distance": f"""
WITH pts AS ({PTS_CUSTOMER_SQL}),
sample AS (
  SELECT id AS sample_id, f0 AS sf0, f1 AS sf1
  FROM pts
  ORDER BY CAST(concat('0x',
             substring(md5('kdist:' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT),
           id
  LIMIT 64
),
d AS (
  SELECT s.sample_id,
         abs(p.f0 - s.sf0) + abs(p.f1 - s.sf1) AS dd,
         p.id AS nid
  FROM pts p CROSS JOIN sample s
),
r AS (
  SELECT sample_id, dd,
         row_number() OVER (PARTITION BY sample_id
                            ORDER BY dd ASC, nid ASC) AS rn
  FROM d
)
SELECT sample_id, CAST(dd AS DOUBLE) AS kth_dist FROM r WHERE rn = {MINPTS_C}
""",
        "events_funnel": """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM s1
UNION ALL
SELECT 2 AS step, 'click' AS event_type, count(*) AS n_users FROM s2
UNION ALL
SELECT 3 AS step, 'purchase' AS event_type, count(*) AS n_users FROM s3
""",
        "top_quantity_tiers": """
WITH r AS (
  SELECT l_returnflag, l_quantity,
         rank() OVER (PARTITION BY l_returnflag
                      ORDER BY l_quantity DESC) AS tier
  FROM lineitem
)
SELECT l_returnflag, tier, l_quantity, count(*) AS n_rows
FROM r WHERE tier <= 3
GROUP BY 1, 2, 3
""",
        "totalprice_equidepth": """
WITH b AS (
  SELECT quantile_cont(CAST(o_totalprice AS DOUBLE),
                       [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
  FROM orders
)
SELECT len(list_filter(b.bs, x -> x <= CAST(o_totalprice AS DOUBLE))) AS bin,
       count(*) AS cnt
FROM orders CROSS JOIN b
GROUP BY 1
""",
        "customer_group_sample": """
WITH h AS (
  SELECT c_nationkey, c_custkey, c_name,
         row_number() OVER (
           PARTITION BY c_nationkey
           ORDER BY CAST(concat('0x',
                      substring(md5('gsample:' || CAST(c_custkey AS VARCHAR)),
                                1, 15)) AS BIGINT),
                    c_custkey
         ) AS rn
  FROM customer
)
SELECT c_nationkey, c_custkey, c_name FROM h WHERE rn <= 5
""",
        "nation_monthly_growth": """
WITH monthly AS (
  SELECT n_name, date_trunc('month', o_orderdate) AS month,
         sum(CAST(o_totalprice AS DECIMAL(16,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT n_name,
       CAST(month AS DATE) AS month,
       round(CAST(rev AS DOUBLE), 2) AS revenue,
       round(CAST((rev - lag(rev) OVER (PARTITION BY n_name ORDER BY month))
                  / lag(rev) OVER (PARTITION BY n_name ORDER BY month)
                  AS DOUBLE), 6) AS mom_growth
FROM monthly
""",
        "events_hourly_anomalies": """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
  FROM hourly GROUP BY event_type
)
SELECT h.event_type, h.hour, h.n,
       round((h.n - s.mu) / s.sd, 4) AS z
FROM hourly h JOIN stats s USING (event_type)
WHERE s.sd > 0 AND abs(round((h.n - s.mu) / s.sd, 4)) >= 1.5
""",
        "doc_chunks": """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
),
w AS (
  SELECT doc_id, toks, len(toks) AS n,
         CAST(1 + ceil(greatest(len(toks) - 64, 0) / 48.0) AS INT) AS n_win
  FROM t
),
c AS (
  SELECT doc_id, CAST(u.i AS INT) AS chunk,
         list_slice(toks, u.i * 48 + 1, least(u.i * 48 + 64, n)) AS sl
  FROM w, unnest(range(0, n_win)) AS u(i)
)
SELECT doc_id, chunk, len(sl) AS n_tokens,
       md5(array_to_string(sl, ' ')) AS chunk_md5
FROM c
""",
        "doc_boilerplate_strip": """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
),
w AS (
  SELECT doc_id, toks, len(toks) AS n,
         CAST(1 + ceil(greatest(len(toks) - 3, 0) / 3.0) AS INT) AS n_win
  FROM t
),
segs AS (
  SELECT doc_id, CAST(u.i AS INT) AS pos,
         array_to_string(list_slice(toks, u.i * 3 + 1, least(u.i * 3 + 3, n)), ' ') AS seg
  FROM w, unnest(range(0, n_win)) AS u(i)
),
freq AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) > 3),
flagged AS (
  SELECT s.doc_id, s.pos, s.seg, f.seg IS NOT NULL AS dropped
  FROM segs s LEFT JOIN freq f ON s.seg = f.seg
)
SELECT doc_id,
       md5(coalesce(string_agg(CASE WHEN NOT dropped THEN seg END, ' ' ORDER BY pos), '')) AS clean_md5,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM flagged GROUP BY doc_id
""",
        "doc_redactions": """
SELECT doc_id,
       len(regexp_extract_all(text, '[0-9]+')) AS n_redactions,
       md5(regexp_replace(text, '[0-9]+', '[REDACTED]', 'g')) AS redacted_md5
FROM documents
""",
        "doc_contamination": f"""
WITH {_SHINGLES_CTE},
tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 10 <> 0),
ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 10 = 0)
SELECT train_id, eval_id, count(*) AS n_shared
FROM tr JOIN ev USING (shingle)
GROUP BY train_id, eval_id
""",
        "doc_repetition": f"""
WITH norm AS (SELECT doc_id, {_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
tot AS (SELECT doc_id, greatest(len(t) - 2, 0) AS total FROM toks),
sh AS (
    SELECT DISTINCT doc_id,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM toks, unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)
),
ds AS (SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY doc_id)
SELECT tot.doc_id,
       CASE WHEN tot.total <= 0 THEN 0.0
            ELSE round(1 - coalesce(ds.n_distinct, 0) / CAST(tot.total AS DOUBLE), 6)
       END AS rep_ratio
FROM tot LEFT JOIN ds ON tot.doc_id = ds.doc_id
""",
        "events_conversion_delay": """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
d AS (
  SELECT date_diff('second', s1.t, s3.t) AS dd
  FROM s3 JOIN s1 ON s3.user_id = s1.user_id
)
SELECT count(*) AS n_converted,
       min(dd) AS min_delay_s,
       quantile_cont(dd, 0.5) AS median_delay_s,
       max(dd) AS max_delay_s
FROM d
""",
        "events_funnel_times": """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT s1.user_id, s1.t AS t1, s2.t AS t2, s3.t AS t3
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
""",
        "events_cohort_retention": """
WITH weeks AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
),
cohort AS (
  SELECT user_id, min(wk) AS cohort_week FROM weeks GROUP BY user_id
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, wk) / 7 AS INT) AS week_offset,
       count(*) AS n_users
FROM weeks JOIN cohort USING (user_id)
GROUP BY 1, 2
""",
        "market_share_by_year": """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       round(CAST(sum(CASE WHEN r_name = 'ASIA'
                           THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) END)
                  AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
             6) AS asia_share,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
             4) AS total_revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1
""",
        "profit_by_nation_year": """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           - l_quantity * p_retailprice / 10.0
                           AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'PROMO'
GROUP BY 1, 2
""",
        "customer_order_distribution": """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count
""",
        "lineitem_profile": "\nUNION ALL\n".join(
            f"""
SELECT '{c}' AS col_name, count(*) AS n_rows,
       count(*) - count({c}) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       min(CAST({c} AS DOUBLE)) AS min_val,
       max(CAST({c} AS DOUBLE)) AS max_val,
       round(CAST(sum(CAST({c} AS DECIMAL(28,6))) AS DOUBLE) / count({c}), 4)
         AS avg_val
FROM lineitem
"""
            for c in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
        ),
        "top_supplier_per_brand": """
WITH brand_sup AS (
  SELECT p_brand, l_suppkey,
         round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                    AS DOUBLE), 4) AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, l_suppkey
),
ranked AS (
  SELECT p_brand, l_suppkey AS s_suppkey, revenue,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY revenue DESC, l_suppkey) AS rn
  FROM brand_sup
)
SELECT p_brand, s_suppkey, revenue FROM ranked WHERE rn = 1
""",
        "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
        "nation_revenue": """
SELECT r_name, n_name,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(16,2))) AS DOUBLE), 2) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
        "small_qty_revenue": """
WITH pa AS (
  SELECT l_partkey, avg(l_quantity) * 0.5 AS half_avg
  FROM lineitem GROUP BY l_partkey
)
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE), 2)
         AS small_qty_revenue,
       count(*) AS n_items
FROM lineitem JOIN pa USING (l_partkey)
WHERE l_quantity < half_avg
""",
        "returned_item_customers": """
SELECT c_custkey, c_name,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
        "users_click_then_error": """
SELECT DISTINCT c.user_id
FROM events c
WHERE c.event_type = 'click'
  AND EXISTS (
    SELECT 1 FROM events e
    WHERE e.user_id = c.user_id AND e.event_type = 'error' AND e.ts > c.ts
  )
""",
        "customers_with_big_orders": """
SELECT c_custkey, c_nationkey FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
""",
        "customers_without_orders": """
SELECT c_custkey, c_acctbal FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
""",
        "eps_neighbor_counts": f"""
WITH pts AS ({PTS_CUSTOMER_SQL})
SELECT a.id, count(*) AS n_neighbors
FROM pts a JOIN pts b
  ON abs(a.f0 - b.f0) + abs(a.f1 - b.f1) < {EPS_C}
GROUP BY a.id
""",
        "eps_neighbor_ids": f"""
WITH pts AS ({PTS_CUSTOMER_SQL})
SELECT a.id,
       string_agg(CAST(b.id AS VARCHAR), ',' ORDER BY CAST(b.id AS VARCHAR))
         AS neighbor_ids
FROM pts a JOIN pts b
  ON abs(a.f0 - b.f0) + abs(a.f1 - b.f1) < {EPS_C}
GROUP BY a.id
""",
        "eps_core_points": f"""
WITH pts AS ({PTS_CUSTOMER_SQL})
SELECT a.id, count(*) AS n_neighbors
FROM pts a JOIN pts b
  ON abs(a.f0 - b.f0) + abs(a.f1 - b.f1) < {EPS_C}
GROUP BY a.id HAVING count(*) >= {MINPTS_C}
""",
        "eps_pairs": f"""
WITH pts AS ({PTS_CUSTOMER_SQL})
SELECT a.id AS a_id, b.id AS b_id,
       abs(a.f0 - b.f0) + abs(a.f1 - b.f1) AS distance
FROM pts a JOIN pts b
  ON a.id < b.id
 AND abs(a.f0 - b.f0) + abs(a.f1 - b.f1) < {EPS_C}
""",
        "anonymize_cells": f"""
WITH pts AS ({PTS_CUSTOMER_SQL}),
cells AS (
  SELECT id, f0, f1, sensitive,
         concat(CAST(floor(f0 / {ANON_W}) AS BIGINT), ':',
                CAST(floor(f1 / {ANON_W}) AS BIGINT)) AS cell
  FROM pts
),
sizes AS (
  SELECT cell, count(*) AS n, avg(f0) AS c0, avg(f1) AS c1
  FROM cells GROUP BY cell
),
cents AS (SELECT cell AS cluster_id, c0, c1 FROM sizes WHERE n >= {ANON_K}),
clustered AS (
  SELECT c.id, c.sensitive, c.cell AS cluster_id, s.c0, s.c1
  FROM cells c JOIN sizes s USING (cell) WHERE s.n >= {ANON_K}
),
noise AS (
  SELECT c.id, c.f0, c.f1, c.sensitive
  FROM cells c JOIN sizes s USING (cell) WHERE s.n < {ANON_K}
),
assigned AS (
  SELECT id, sensitive, cluster_id, c0, c1 FROM (
    SELECT n.id, n.sensitive, ct.cluster_id, ct.c0, ct.c1,
           row_number() OVER (
             PARTITION BY n.id
             ORDER BY abs(n.f0 - ct.c0) + abs(n.f1 - ct.c1), ct.cluster_id
           ) AS rn
    FROM noise n CROSS JOIN cents ct
  ) WHERE rn = 1
)
SELECT id, round(c0, 4) AS an0, round(c1, 4) AS an1, sensitive, cluster_id,
       0 AS is_noise
FROM clustered
UNION ALL
SELECT id, round(c0, 4) AS an0, round(c1, 4) AS an1, sensitive, cluster_id,
       1 AS is_noise
FROM assigned
""",
        "knn_assign": f"""
WITH pts AS ({PTS_CUSTOMER_SQL}),
c(cid, c0, c1) AS (VALUES {', '.join(f'({cid}, {c0}, {c1})' for cid, c0, c1 in KNN_CENTROIDS)}),
d AS (
  SELECT pts.id, c.cid, abs(f0 - c0) + abs(f1 - c1) AS dist FROM pts, c
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn FROM d
)
SELECT id, CAST(cid AS INTEGER) AS cluster_id, dist AS distance FROM r WHERE rn = 1
""",
        "group_centroids": f"""
WITH pts AS ({PTS_CUSTOMER_SQL})
SELECT sensitive, round(avg(f0), 4) AS c0, round(avg(f1), 4) AS c1,
       count(*) AS n_members
FROM pts GROUP BY sensitive
""",
        "group_cost": f"""
WITH pts AS ({PTS_CUSTOMER_SQL}),
cents AS (SELECT sensitive, avg(f0) AS c0, avg(f1) AS c1 FROM pts GROUP BY sensitive)
SELECT pts.sensitive,
       round(sum(abs(f0 - c0) + abs(f1 - c1)), 4) AS l1_cost
FROM pts JOIN cents ON pts.sensitive = cents.sensitive
GROUP BY pts.sensitive
""",
        "topk_lineitems_per_order": """
WITH r AS (
  SELECT l_orderkey, l_linenumber,
         round(l_extendedprice, 2) AS price,
         row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_extendedprice DESC, l_quantity DESC, l_discount DESC, l_linenumber
         ) AS rank
  FROM lineitem
)
SELECT * FROM r WHERE rank <= 2
""",
        "released_lineitems": """
WITH r AS (
  SELECT l_orderkey, l_quantity,
         row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_extendedprice DESC, l_quantity DESC, l_discount DESC, l_linenumber
         ) AS rank
  FROM lineitem
)
SELECT l_orderkey, count(*) AS n_released,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS released_qty
FROM r WHERE rank > 2 GROUP BY l_orderkey
""",
        "union_segments": """
SELECT c_custkey, 'high' AS band FROM customer WHERE c_acctbal >= 5000
UNION ALL
SELECT c_custkey, 'negative' AS band FROM customer WHERE c_acctbal < 0
""",
        "busy_customers": """
SELECT o_custkey, count(*) AS n_orders FROM orders
GROUP BY o_custkey HAVING count(*) >= 12
""",
        "events_prev_gap": """
SELECT event_id, user_id, event_type,
       lag(event_type) OVER w AS prev_type,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
       lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
        "orders_rank_in_month": """
SELECT * FROM (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         o_orderkey, o_totalprice,
         dense_rank() OVER (
           PARTITION BY date_trunc('month', o_orderdate)
           ORDER BY o_totalprice DESC
         ) AS rnk
  FROM orders
) s WHERE rnk <= 3
""",
        "cumulative_customer_revenue": """
SELECT o_custkey, o_orderkey,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(16,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE), 2) AS cum_spend
FROM orders
""",
        "grouping_sets_pricing": """
SELECT l_returnflag, l_linestatus, count(*) AS n_items,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
        "pivot_orders_priority": """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
FROM orders GROUP BY o_orderpriority
""",
        "rollup_pricing": """
SELECT l_returnflag, l_linestatus, count(*) AS n_items,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
        "cube_order_status": """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(16,2))) AS DOUBLE), 2) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
        "part_types_intersect": """
SELECT p_name FROM part WHERE p_size > 40
INTERSECT
SELECT p_name FROM part WHERE p_retailprice > 995
""",
        "part_types_except": """
SELECT p_name FROM part WHERE p_size > 40
EXCEPT
SELECT p_name FROM part WHERE p_retailprice > 995
""",
        "distinct_nations_per_segment": """
SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
       count(*) AS n_customers
FROM customer GROUP BY c_mktsegment
""",
        "quantity_percentiles": """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 4) AS p50,
       round(quantile_cont(l_quantity, 0.9), 4) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS price_p99
FROM lineitem GROUP BY l_returnflag
""",
        "poorest_customer": """
SELECT c_custkey, round(c_acctbal, 2) AS acctbal
FROM customer ORDER BY acctbal, c_custkey LIMIT 1
""",
        "doc_fingerprints": f"""
SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents
""",
        "doc_winnow_fingerprints": f"""
WITH d AS (
  SELECT doc_id, {_NORM} AS norm FROM documents WHERE doc_id < 500
),
gi AS (
  SELECT doc_id, norm, unnest(generate_series(1, length(norm) - 7)) AS i
  FROM d WHERE length(norm) >= 8
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(substr(norm, CAST(i AS INTEGER), 8)), 1, 8))::BIGINT AS h
  FROM gi
),
s AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
  FROM g
)
SELECT doc_id,
       string_agg(DISTINCT CAST(m AS VARCHAR), ',' ORDER BY CAST(m AS VARCHAR))
         AS fingerprints,
       count(DISTINCT m) AS n_selected
FROM s GROUP BY doc_id
""",
        "dedup_exact_docs": f"""
SELECT md5({_NORM}) AS fingerprint, min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
""",
        "dedup_keep_best_docs": f"""
WITH f AS (
  SELECT *, md5({_NORM}) AS fp, length(text) AS score FROM documents
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY fp ORDER BY score DESC, doc_id ASC
  ) AS rn FROM f
)
SELECT doc_id, text, lang, source, n_chars FROM r WHERE rn = 1
""",
        "doc_splits": """
SELECT doc_id,
       CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST(concat('0x', substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 10 AS b
  FROM documents
) s
""",
        "doc_pack_bins": """
WITH t AS (
  SELECT doc_id,
         CAST(doc_id % 8 AS INTEGER) AS shard,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents
)
SELECT doc_id, shard,
       CAST(floor(coalesce(sum(n_tokens) OVER (
         PARTITION BY shard ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ), 0) / 512.0) AS BIGINT) AS bin,
       n_tokens
FROM t
""",
        "token_stats": f"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       CAST(length(text) AS INTEGER) AS n_chars,
       round(length(text) / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 4) AS avg_token_len,
       round(
         CASE WHEN len(string_split_regex(trim(text), '\\s+')) > 0
              THEN len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   t -> lower(t) IN ({sw})))
                   / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
              ELSE 0.0 END, 4) AS stopword_ratio
FROM documents
""",
        "doc_quality": """
WITH s AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\\s+')) AS n_toks,
         length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS punct
  FROM documents
),
m AS (
  SELECT doc_id, n_chars, punct,
         CASE WHEN n_toks > 0 THEN n_chars / CAST(n_toks AS DOUBLE) ELSE 0.0 END AS mean_tok,
         CASE WHEN n_chars > 0 THEN punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio
  FROM s
)
SELECT doc_id,
       round((
           (CASE WHEN n_chars >= 100 AND n_chars <= 2000 THEN 1.0
                 WHEN n_chars >= 30 THEN 0.5 ELSE 0.0 END)
         + (CASE WHEN mean_tok >= 3.0 AND mean_tok <= 12.0 THEN 1.0 ELSE 0.5 END)
         + (1.0 - punct_ratio)
       ) / 3.0, 4) AS quality,
       round(punct_ratio, 4) AS punct_ratio
FROM m
""",
        "lang_id_heuristic": _lang_case(),
        "doc_tfidf_top_terms": f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents
),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * ln((n.n_docs + 1) / CAST(dfreq.df + 1 AS DOUBLE)) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, round(score, 4) AS tfidf, rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
WHERE rank <= 3
""",
        "near_dup_jaccard": f"""
WITH {_SHINGLES_CTE}, {_SIZES_CTE},
common AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id,
       round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) >= 0.3
""",
        "minhash_band_signatures": f"""
WITH {_SHINGLES_CTE}, {_minhash_ctes(16, 4)}
SELECT doc_id, band, band_hash FROM bands
""",
        "dedup_vs_reference": f"""
WITH {_SHINGLES_CTE}, {_minhash_ctes(16, 4)},
nb AS (SELECT doc_id, band, band_hash FROM bands WHERE doc_id % 2 = 1),
rb AS (SELECT doc_id AS rid, band, band_hash FROM bands WHERE doc_id % 2 = 0),
cand AS (SELECT DISTINCT nb.doc_id, rb.rid FROM nb JOIN rb USING (band, band_hash)),
est AS (
  SELECT c.doc_id,
         ({" + ".join(f"CASE WHEN l.m{i} = r.m{i} THEN 1 ELSE 0 END" for i in range(16))}) / 16.0 AS e
  FROM cand c
  JOIN sig l ON c.doc_id = l.doc_id
  JOIN sig r ON c.rid = r.doc_id
),
dup AS (SELECT DISTINCT doc_id FROM est WHERE e >= 0.5)
SELECT d.doc_id, (dup.doc_id IS NOT NULL) AS is_dup_of_ref
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN dup USING (doc_id)
""",
        "events_trailing_hour_load": """
SELECT event_id,
       CAST(count(*) OVER w AS BIGINT) AS n_trailing,
       round(CAST(sum(CAST(round(value * 10000.0, 0) AS BIGINT)) OVER w AS BIGINT)
             / 10000.0, 2) AS trailing_load
FROM events
WINDOW w AS (
  PARTITION BY user_id
  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
)
""",
        "doc_lang_heavy_hitters": """
SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS value,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM documents
GROUP BY 1
HAVING count(*) * 7 > (SELECT count(*) FROM documents)
""",
        "lang_char_heavy_hitters": """
SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS value,
       CAST(sum(n_chars) AS BIGINT) AS n_occurrences
FROM documents
GROUP BY 1
HAVING sum(n_chars) * 5 > (SELECT sum(n_chars) FROM documents)
""",
        "revenue_lorenz_top100": """
WITH pc AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
),
r AS (
  SELECT o_custkey, cents,
         CAST(row_number() OVER w AS BIGINT) AS rnk,
         CAST(sum(cents) OVER w AS BIGINT) AS cs
  FROM pc
  WINDOW w AS (ORDER BY cents DESC, o_custkey)
),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM pc)
SELECT rnk, o_custkey,
       round(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
       round(CAST(cs AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE), 6)
         AS cum_share
FROM r WHERE rnk <= 100
""",
        "lineitem_measures_unpivot": """
WITH long AS (
  SELECT l_orderkey, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
)
SELECT measure,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(value * 10000.0, 0) AS BIGINT)) AS BIGINT) / 10000.0, 2) AS total,
       round(CAST(min(value) AS DOUBLE), 4) AS lo,
       round(CAST(max(value) AS DOUBLE), 4) AS hi
FROM long
GROUP BY measure
""",
        "minhash_near_dups": f"""
WITH {_SHINGLES_CTE}, {_SIZES_CTE}, {_minhash_ctes(16, 4)},
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
common AS (
  SELECT cand.a_id, cand.b_id, count(*) AS n_common
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.a_id
  JOIN sh sb ON sb.doc_id = cand.b_id AND sb.shingle = sa.shingle
  GROUP BY cand.a_id, cand.b_id
)
SELECT common.a_id, common.b_id,
       round(n_common / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE), 6) AS jaccard
FROM common
JOIN sizes za ON za.doc_id = common.a_id
JOIN sizes zb ON zb.doc_id = common.b_id
WHERE round(n_common / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE), 6) >= 0.3
""",
        "dedup_near_docs": f"""
WITH RECURSIVE {_SHINGLES_CTE}, {_SIZES_CTE}, {_minhash_ctes(16, 4)},
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
common AS (
  SELECT cand.a_id, cand.b_id, count(*) AS n_common
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.a_id
  JOIN sh sb ON sb.doc_id = cand.b_id AND sb.shingle = sa.shingle
  GROUP BY cand.a_id, cand.b_id
),
pairs AS (
  SELECT common.a_id, common.b_id
  FROM common
  JOIN sizes za ON za.doc_id = common.a_id
  JOIN sizes zb ON zb.doc_id = common.b_id
  WHERE round(n_common / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE), 6) >= 0.3
),
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION SELECT b_id, a_id FROM pairs
  UNION SELECT a_id, a_id FROM pairs
  UNION SELECT b_id, b_id FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS doc_id, min(v) AS dup_group FROM reach GROUP BY u),
labeled AS (
  SELECT d.doc_id, coalesce(c.dup_group, d.doc_id) AS dup_group,
         length(d.text) AS sc
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
sized AS (SELECT dup_group, count(*) AS dup_group_size FROM labeled GROUP BY dup_group),
best AS (
  SELECT doc_id, dup_group,
         row_number() OVER (PARTITION BY dup_group ORDER BY sc DESC, doc_id) AS rn
  FROM labeled
)
SELECT b.doc_id, b.dup_group, s.dup_group_size
FROM best b JOIN sized s ON b.dup_group = s.dup_group
WHERE b.rn = 1
""",
        "simhash_docs": f"""
WITH norm AS (SELECT doc_id, {_NORM} AS nt FROM documents),
tok AS (SELECT DISTINCT doc_id, unnest(string_split(nt, ' ')) AS tok FROM norm),
hashed AS (SELECT doc_id, md5(tok) AS hhex FROM tok),
bits AS (
  SELECT doc_id, u.b,
         CASE WHEN (
           (strpos('0123456789abcdef', substr(hhex, CAST(u.b // 4 AS INTEGER) + 1, 1)) - 1)
           & (1 << CAST(3 - u.b % 4 AS INTEGER))
         ) > 0 THEN 1 ELSE -1 END AS w
  FROM hashed, unnest(range(0, 64)) AS u(b)
),
agg AS (SELECT doc_id, b, sum(w) AS s FROM bits GROUP BY doc_id, b)
SELECT doc_id,
       string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
FROM agg GROUP BY doc_id
""",
        "simhash_near_dup_pairs": f"""
WITH norm AS (SELECT doc_id, {_NORM} AS nt FROM documents),
tok AS (SELECT DISTINCT doc_id, unnest(string_split(nt, ' ')) AS tok FROM norm),
hashed AS (SELECT doc_id, md5(tok) AS hhex FROM tok),
bits AS (
  SELECT doc_id, u.b,
         CASE WHEN (
           (strpos('0123456789abcdef', substr(hhex, CAST(u.b // 4 AS INTEGER) + 1, 1)) - 1)
           & (1 << CAST(3 - u.b % 4 AS INTEGER))
         ) > 0 THEN 1 ELSE -1 END AS w
  FROM hashed, unnest(range(0, 64)) AS u(b)
),
agg AS (SELECT doc_id, b, sum(w) AS s FROM bits GROUP BY doc_id, b),
sh AS (
  SELECT doc_id,
         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b)
           AS simhash
  FROM agg GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, u.i AS blk,
         substring(simhash, CAST(u.i * 16 + 1 AS INTEGER), 16) AS bits
  FROM sh, unnest(range(0, 4)) AS u(i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.bits = b.bits AND a.doc_id < b.doc_id
),
scored AS (
  SELECT c.a_id, c.b_id,
         CAST(list_sum(list_transform(range(1, 65),
           i -> CASE WHEN substring(sa.simhash, CAST(i AS INTEGER), 1)
                       != substring(sb.simhash, CAST(i AS INTEGER), 1)
                THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a_id
  JOIN sh sb ON sb.doc_id = c.b_id
)
SELECT a_id, b_id, hamming FROM scored WHERE hamming <= 3
""",
        "embedding_cosine_topk": """
WITH qe AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS qemb
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, qemb AS qv FROM qe WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(
           list_sum(list_transform(range(1, 65), i -> e.qemb[i] * q.qv[i]))
           / (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> e.qemb[i] * e.qemb[i])) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])) AS DOUBLE))),
           6) AS score
  FROM qe e, q WHERE e.vec_id != q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 5
""",
        "embedding_near_dups": """
WITH qe AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS qemb
  FROM embeddings
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(
         list_sum(list_transform(range(1, 65), i -> a.qemb[i] * b.qemb[i]))
         / (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> a.qemb[i] * a.qemb[i])) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(range(1, 65), i -> b.qemb[i] * b.qemb[i])) AS DOUBLE))),
         6) AS score
FROM qe a JOIN qe b ON a.vec_id < b.vec_id
WHERE round(
         list_sum(list_transform(range(1, 65), i -> a.qemb[i] * b.qemb[i]))
         / (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> a.qemb[i] * a.qemb[i])) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(range(1, 65), i -> b.qemb[i] * b.qemb[i])) AS DOUBLE))),
         6) >= 0.4
""",
        "events_stickiness": """
WITH du AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
         date_trunc('month', ts)::DATE AS month
  FROM events
),
dau AS (SELECT month, day, count(DISTINCT user_id) AS d FROM du GROUP BY 1, 2),
mau AS (SELECT month, CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM du GROUP BY 1),
a AS (SELECT month, round(avg(d), 4) AS avg_dau FROM dau GROUP BY month)
SELECT a.month, a.avg_dau, mau.mau,
       round(a.avg_dau / mau.mau, 6) AS stickiness
FROM a JOIN mau USING (month)
""",
        "part_brand_mode": """
SELECT p_type, p_brand AS mode_brand, n
FROM (
  SELECT p_type, p_brand, count(*) AS n,
         row_number() OVER (
           PARTITION BY p_type ORDER BY count(*) DESC, p_brand
         ) AS r
  FROM part GROUP BY p_type, p_brand
) s
WHERE r = 1
""",
        "events_dedup_window": """
WITH d AS (
  SELECT event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts >= lag(ts) OVER w + INTERVAL '300 seconds'
              THEN 1 ELSE 0 END AS kept
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(kept) AS BIGINT) AS n_dropped
FROM d GROUP BY event_type
""",
        "doc_gopher_filters": f"""
WITH w AS (
  SELECT source,
         list_filter(string_split({_NORM}, ' '), x -> x <> '') AS w
  FROM documents
),
f AS (
  SELECT source,
         len(w) AS nw,
         list_aggregate(list_transform(w, x -> strlen(x)), 'sum') AS sl,
         len(list_intersect(
           list_distinct(w),
           ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it']
         )) AS nstop
  FROM w
),
fl AS (
  SELECT source,
         CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END AS pwc,
         CASE WHEN nw > 0 AND sl >= 3.0 * nw AND sl <= 10.0 * nw
              THEN 1 ELSE 0 END AS pml,
         CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS pst
  FROM f
)
SELECT source, count(*) AS n_docs,
       CAST(sum(pwc) AS BIGINT) AS n_pass_word_count,
       CAST(sum(pml) AS BIGINT) AS n_pass_mean_word_len,
       CAST(sum(pst) AS BIGINT) AS n_pass_stopwords,
       CAST(sum(pwc * pml * pst) AS BIGINT) AS n_pass_gopher
FROM fl GROUP BY source
""",
        "embedding_label_cohesion": """
WITH v AS (
  SELECT label,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS v
  FROM embeddings
),
flat AS (
  SELECT label, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM v
),
per AS (SELECT label, pos, sum(val) AS s FROM flat GROUP BY 1, 2),
tot AS (
  SELECT label, count(*) AS n,
         sum(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS ssq
  FROM v GROUP BY 1
),
s2 AS (SELECT label, sum(s * s) AS sum_s2 FROM per GROUP BY 1)
SELECT t.label, CAST(t.n AS BIGINT) AS n_vecs,
       round((CAST(t.ssq AS DOUBLE) / t.n
              - CAST(s2.sum_s2 AS DOUBLE) / t.n / t.n) / 1000000.0, 6)
         + 0.0 AS within_var
FROM tot t JOIN s2 USING (label)
""",
        "orders_open_backlog": """
WITH span AS (
  SELECT o_orderkey, o_orderdate, max(l_shipdate) AS last_ship
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_orderkey, o_orderdate
),
m AS (
  SELECT CAST(unnest(generate_series(
           date_trunc('month', o_orderdate),
           date_trunc('month', greatest(o_orderdate, last_ship)),
           INTERVAL '1 month')) AS DATE) AS month
  FROM span
)
SELECT month, count(*) AS n_open FROM m GROUP BY month
""",
        "events_pit_join": """
WITH clicks AS (
  SELECT user_id, ts, event_id,
         CAST(floor(CAST(value AS DOUBLE) / 10) AS BIGINT) AS band
  FROM events WHERE event_type = 'click'
),
marked AS (
  SELECT user_id, band, ts, event_id,
         CASE WHEN row_number() OVER w = 1
                   OR lag(band) OVER w IS DISTINCT FROM band
              THEN 1 ELSE 0 END AS new_run
  FROM clicks
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (SELECT user_id, band, ts, event_id FROM marked WHERE new_run = 1),
dim AS (
  SELECT user_id, band, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM runs
),
facts AS (
  SELECT user_id, ts, event_type FROM events WHERE event_type <> 'click'
)
SELECT f.event_type, d.band, count(*) AS n_events
FROM facts f LEFT JOIN dim d
  ON d.user_id = f.user_id AND d.valid_from <= f.ts
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
GROUP BY 1, 2
""",
        "events_user_ewma": """
WITH RECURSIVE o AS (
  SELECT user_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT user_id, rn, v AS ew FROM o WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, 0.5 * o.v + 0.5 * r.ew
  FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
),
last AS (SELECT user_id AS uid, max(rn) AS n FROM o GROUP BY user_id)
SELECT r.user_id, last.n AS n_events, round(r.ew, 6) + 0.0 AS ewma
FROM r JOIN last ON r.user_id = last.uid AND r.rn = last.n
""",
        "doc_vocab": f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split({_NORM}, ' '), x -> x <> '')) AS token
  FROM documents
),
counts AS (SELECT token, count(*) AS n_occurrences FROM toks GROUP BY token)
SELECT row_number() OVER (ORDER BY n_occurrences DESC, token) AS token_id,
       token, n_occurrences
FROM counts
ORDER BY n_occurrences DESC, token
LIMIT 500
""",
        "doc_shard_order": """
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hh
  FROM documents
)
SELECT doc_id, CAST(hh % 8 AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) AS BIGINT) AS pos
FROM h
""",
        "source_ngram_overlap": f"""
WITH norm AS (SELECT doc_id, source, {_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, source, string_split(nt, ' ') AS t FROM norm),
sh AS (
  SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)
),
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 10)
SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
FROM sh a
JOIN keep USING (shingle)
JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
GROUP BY 1, 2
""",
        "source_caps": """
WITH h AS (
  SELECT doc_id, source, n_chars,
         CAST(concat('0x', substring(md5('srccap:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hh
  FROM documents
),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, hh, doc_id) AS rk
  FROM h
)
SELECT doc_id, source, CAST(rk AS BIGINT) AS src_rank
FROM r WHERE rk <= 15
""",
        "source_temperature_sample": """
WITH n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
r AS (
  SELECT source,
         least(1.0, sqrt(CAST(10 AS DOUBLE) / CAST(n_docs AS DOUBLE))) AS rate
  FROM n
),
h AS (
  SELECT doc_id, source,
         CAST(concat('0x', substring(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000000 AS hh
  FROM documents
)
SELECT h.doc_id, h.source
FROM h JOIN r USING (source)
WHERE hh < rate * 1000000.0
""",
        "orders_expectations": """
WITH s AS (
  SELECT CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
         CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0 OR o_totalprice > 400000
                       THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         CAST(sum(CASE WHEN o_orderstatus IS NULL OR o_orderstatus NOT IN ('O','F','P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS v2,
         CAST(sum(CASE WHEN o_orderpriority IS NULL OR NOT regexp_matches(o_orderpriority, '^[1-5]-')
                       THEN 1 ELSE 0 END) AS BIGINT) AS v3,
         CAST(count(*) - (SELECT count(*) FROM (SELECT DISTINCT o_orderkey FROM orders) u)
              AS BIGINT) AS v4
  FROM orders
)
SELECT 'not_null:o_custkey' AS rule, v0 AS violations, v0 = 0 AS passed FROM s
UNION ALL SELECT 'in_range:o_totalprice', v1, v1 = 0 FROM s
UNION ALL SELECT 'accepted_values:o_orderstatus', v2, v2 = 0 FROM s
UNION ALL SELECT 'matches:o_orderpriority', v3, v3 = 0 FROM s
UNION ALL SELECT 'unique:o_orderkey', v4, v4 = 0 FROM s
""",
        "totalprice_drift": """
WITH tagged AS (
  SELECT CAST(least(greatest(CAST(floor((o_totalprice - 0.0) / 50000.0) AS INTEGER), 0), 9)
              AS INTEGER) AS bin,
         CASE WHEN year(o_orderdate) < 1998 THEN 0 ELSE 1 END AS side
  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
),
c AS (
  SELECT bin,
         CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM tagged GROUP BY bin
),
t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM c)
SELECT bin, n_a, n_b,
       round(CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE), 6) AS rate_a,
       round(CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE), 6) AS rate_b,
       round(abs(CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
               - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)), 6) AS tvd_term
FROM c, t
""",
        "totalprice_ks_drift": """
WITH tagged AS (
  SELECT CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS v,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 0 ELSE 1 END AS side
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
),
c AS (
  SELECT v,
         CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM tagged GROUP BY v
),
cum AS (
  SELECT CAST(sum(ca) OVER w AS BIGINT) AS sa,
         CAST(sum(cb) OVER w AS BIGINT) AS sb
  FROM c WINDOW w AS (ORDER BY v)
),
t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM c)
SELECT CAST(max(abs(sa * (SELECT nb FROM t) - sb * (SELECT na FROM t)))
            AS BIGINT) AS ks_num,
       (SELECT na FROM t) AS n_a,
       (SELECT nb FROM t) AS n_b,
       round(CAST(max(abs(sa * (SELECT nb FROM t) - sb * (SELECT na FROM t)))
                  AS DOUBLE)
             / (CAST((SELECT na FROM t) AS DOUBLE)
                * CAST((SELECT nb FROM t) AS DOUBLE)), 6) AS ks_stat
FROM cum
""",
        "priority_totalprice_ttest": """
WITH tagged AS (
  SELECT CAST(round(o_totalprice * 100.0, 0) AS HUGEINT) AS v,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 0 ELSE 1 END AS side
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
),
s AS (
  SELECT CAST(count(CASE WHEN side = 0 THEN 1 END) AS BIGINT) AS n_a,
         CAST(count(CASE WHEN side = 1 THEN 1 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN side = 0 THEN v END) AS DOUBLE) AS sa,
         CAST(sum(CASE WHEN side = 1 THEN v END) AS DOUBLE) AS sb,
         CAST(sum(CASE WHEN side = 0 THEN v * v END) AS DOUBLE) AS qa,
         CAST(sum(CASE WHEN side = 1 THEN v * v END) AS DOUBLE) AS qb
  FROM tagged
),
e AS (
  SELECT n_a, n_b,
         sa / CAST(n_a AS DOUBLE) AS ma,
         sb / CAST(n_b AS DOUBLE) AS mb,
         ((qa - (sa * (sa / CAST(n_a AS DOUBLE)))) / (CAST(n_a AS DOUBLE) - 1))
           / CAST(n_a AS DOUBLE) AS se2a,
         ((qb - (sb * (sb / CAST(n_b AS DOUBLE)))) / (CAST(n_b AS DOUBLE) - 1))
           / CAST(n_b AS DOUBLE) AS se2b
  FROM s
)
SELECT n_a, n_b,
       round(ma, 6) AS mean_a,
       round(mb, 6) AS mean_b,
       round((ma - mb) / sqrt(se2a + se2b), 6) AS t_stat,
       round(((se2a + se2b) * (se2a + se2b))
             / (((se2a * se2a) / (CAST(n_a AS DOUBLE) - 1))
                + ((se2b * se2b) / (CAST(n_b AS DOUBLE) - 1))), 6) AS dof
FROM e
""",
        "totalprice_quantile_drift": """
WITH tagged AS (
  SELECT CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS v,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 0 ELSE 1 END AS side
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
),
c AS (
  SELECT side, v, CAST(count(*) AS BIGINT) AS cnt
  FROM tagged GROUP BY side, v
),
cum AS (
  SELECT side, v,
         CAST(sum(cnt) OVER (PARTITION BY side ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cs,
         CAST(sum(cnt) OVER (PARTITION BY side) AS BIGINT) AS n
  FROM c
),
p(pct) AS (VALUES (50), (90), (99)),
q AS (
  SELECT p.pct, cum.side, min(cum.v) AS value
  FROM p JOIN cum ON cum.cs >= ((cum.n * p.pct + 99) // 100)
  GROUP BY p.pct, cum.side
)
SELECT pct,
       max(CASE WHEN side = 0 THEN value END) AS val_a,
       max(CASE WHEN side = 1 THEN value END) AS val_b,
       max(CASE WHEN side = 1 THEN value END)
         - max(CASE WHEN side = 0 THEN value END) AS shift
FROM q GROUP BY pct
""",
        "lang_nchars_ks_drift": """
WITH tagged AS (
  SELECT lang AS g, CAST(n_chars AS BIGINT) AS v,
         CASE WHEN length(source) = 4 THEN 0 ELSE 1 END AS side
  FROM documents
  WHERE length(source) IN (4, 5)
    AND n_chars IS NOT NULL AND lang IS NOT NULL
),
c AS (
  SELECT g, v,
         CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM tagged GROUP BY g, v
),
cum AS (
  SELECT g,
         CAST(sum(ca) OVER wc AS BIGINT) AS sa,
         CAST(sum(cb) OVER wc AS BIGINT) AS sb,
         CAST(sum(ca) OVER wg AS BIGINT) AS na,
         CAST(sum(cb) OVER wg AS BIGINT) AS nb
  FROM c
  WINDOW wc AS (PARTITION BY g ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wg AS (PARTITION BY g)
)
SELECT g AS lang,
       CAST(max(abs(sa * nb - sb * na)) AS BIGINT) AS ks_num,
       max(na) AS n_a, max(nb) AS n_b,
       round(CAST(max(abs(sa * nb - sb * na)) AS DOUBLE)
             / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)), 6)
         AS ks_stat
FROM cum WHERE na > 0 AND nb > 0
GROUP BY g
""",
        "lang_source_drift": """
WITH tagged AS (
  SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS value,
         CASE WHEN length(source) = 4 THEN 0 ELSE 1 END AS side
  FROM documents WHERE length(source) IN (4, 5)
),
c AS (
  SELECT value,
         CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM tagged GROUP BY value
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY n_a + n_b DESC, value) AS rk FROM c
),
folded AS (
  SELECT CASE WHEN rk <= 3 THEN value ELSE '__other__' END AS value,
         CAST(sum(n_a) AS BIGINT) AS n_a, CAST(sum(n_b) AS BIGINT) AS n_b
  FROM ranked GROUP BY 1
),
t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM folded)
SELECT value, n_a, n_b,
       round(CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE), 6) AS rate_a,
       round(CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE), 6) AS rate_b,
       round(abs(CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
               - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)), 6) AS tvd_term
FROM folded, t
""",
        "events_user_state_diff": """
WITH old_s AS (
  SELECT user_id, event_type FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00') x
  WHERE rn = 1
),
new_s AS (
  SELECT user_id, event_type FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) x
  WHERE rn = 1
)
SELECT coalesce(o.user_id, n.user_id) AS user_id,
       CASE WHEN o.o_present IS NULL THEN 'added'
            WHEN n.n_present IS NULL THEN 'removed'
            WHEN o.event_type IS NOT DISTINCT FROM n.event_type THEN 'same'
            ELSE 'changed' END AS change
FROM (SELECT *, TRUE AS o_present FROM old_s) o
FULL OUTER JOIN (SELECT *, TRUE AS n_present FROM new_s) n
  ON o.user_id = n.user_id
""",
        "part_order_hits": _hits_oracle(2),
        "doc_bigram_fluency": f"""
WITH norm AS (SELECT doc_id, {_NORM} AS nt FROM documents),
toks AS (
  SELECT doc_id, list_filter(string_split(nt, ' '), x -> x <> '') AS t
  FROM norm
),
occ AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
  FROM toks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
counts AS (SELECT bg, count(*) AS c FROM occ GROUP BY bg)
SELECT doc_id, count(*) AS n_bigrams,
       round(CAST(sum(length(bin(c))) AS DOUBLE) / count(*), 4) AS fluency
FROM occ JOIN counts USING (bg)
GROUP BY doc_id
""",
        "lang_id_confusion": f"""
WITH p AS ({_lang_case()})
SELECT d.lang AS lang_actual, p.lang_pred, count(*) AS n_docs
FROM documents d JOIN p ON d.doc_id = p.doc_id
GROUP BY 1, 2
""",
        "minhash_jaccard_error": f"""
WITH {_SHINGLES_CTE}, {_SIZES_CTE}, {_minhash_ctes(16, 4)},
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
common AS (
  SELECT c.a_id, c.b_id, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a_id
  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
  GROUP BY c.a_id, c.b_id
),
err AS (
  SELECT c.a_id, c.b_id,
         ({' + '.join(f'CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END' for i in range(16))}) / 16.0 AS est,
         coalesce(cm.n_common, 0)
           / CAST(na.n_sh + nb.n_sh - coalesce(cm.n_common, 0) AS DOUBLE) AS exact
  FROM cand c
  JOIN sig x ON x.doc_id = c.a_id
  JOIN sig y ON y.doc_id = c.b_id
  JOIN sizes na ON na.doc_id = c.a_id
  JOIN sizes nb ON nb.doc_id = c.b_id
  LEFT JOIN common cm ON cm.a_id = c.a_id AND cm.b_id = c.b_id
)
SELECT CAST(floor(abs(est - exact) * 16) AS INT) AS err_bucket,
       count(*) AS n_pairs
FROM err GROUP BY 1
""",
        "multimodal_frame_samples": """
WITH media AS (
  SELECT doc_id AS media_id, text, length(text) AS len
  FROM documents
  WHERE doc_id % 3 = 2 AND octet_length(encode(text)) = length(text)
),
p AS (
  SELECT media_id, text, len,
         least(greatest((len * 10) // 1000, 1), 8) AS n
  FROM media
),
f AS (
  SELECT media_id, text, n, greatest(len // n, 1) AS step,
         unnest(range(0, n)) AS i
  FROM p
)
SELECT media_id, CAST(i AS INT) AS frame_index,
       CAST(i * 1000 AS BIGINT) AS frame_offset_ms,
       md5(substring(text, CAST(i * step + 1 AS INT), CAST(step AS INT))) AS frame_md5
FROM f
""",
        "shipping_delay_stats": """
WITH d AS (
  SELECT o_orderpriority,
         date_diff('day', o_orderdate, l_shipdate) AS delay
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
       round(avg(delay), 4) AS avg_delay_days,
       round(quantile_cont(delay, 0.9), 4) AS p90_delay_days,
       CAST(max(delay) AS INT) AS max_delay_days
FROM d GROUP BY o_orderpriority
""",
        "order_value_outliers": """
WITH base AS (
  SELECT date_trunc('month', o_orderdate)::DATE AS m,
         CAST(o_totalprice AS DECIMAL(18,4)) AS p
  FROM orders
),
stats AS (
  SELECT m, count(*) AS n, sum(p) AS s,
         sum(CAST(p AS DECIMAL(38,8)) * p) AS ss
  FROM base GROUP BY m
),
z AS (
  SELECT base.m,
         CASE WHEN CAST(ss AS DOUBLE) / n
                   - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) > 0
              THEN (CAST(p AS DOUBLE) - CAST(s AS DOUBLE) / n)
                   / sqrt(CAST(ss AS DOUBLE) / n
                          - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
         END AS zval
  FROM base JOIN stats USING (m)
)
SELECT m,
       CAST(sum(CASE WHEN round(abs(zval), 6) > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(max(abs(zval)), 4) AS max_abs_z
FROM z GROUP BY m
""",
        "lineitem_winsorized_stats": """
WITH li AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS p FROM lineitem
),
b AS (
  SELECT l_returnflag, quantile_cont(p, 0.01) AS lo, quantile_cont(p, 0.99) AS hi
  FROM li GROUP BY 1
),
w AS (
  SELECT li.l_returnflag, p, least(greatest(p, lo), hi) AS pw
  FROM li JOIN b USING (l_returnflag)
)
SELECT l_returnflag, round(min(pw), 4) AS lo_bound, round(max(pw), 4) AS hi_bound,
       CAST(sum(CASE WHEN p < pw THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo,
       CAST(sum(CASE WHEN p > pw THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi
FROM w GROUP BY l_returnflag
""",
        "events_imputed_values": """
WITH ev AS (
  SELECT user_id, CASE WHEN event_type != 'error' THEN value END AS v
  FROM events
),
med AS (SELECT user_id, quantile_cont(v, 0.5) AS m FROM ev GROUP BY user_id),
imp AS (
  SELECT ev.user_id, v, coalesce(v, m) AS vf FROM ev JOIN med USING (user_id)
)
SELECT user_id,
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
       round(max(CASE WHEN v IS NULL THEN vf END), 4) AS imputed_value
FROM imp GROUP BY user_id
HAVING sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) > 0
""",
        "part_name_fuzzy_pairs": """
WITH vals AS (SELECT DISTINCT CAST(p_name AS VARCHAR) AS v FROM part WHERE p_name IS NOT NULL),
a AS (
  SELECT v AS a_value, unnest(generate_series(length(v) - 3, length(v) + 3)) AS probe_len
  FROM vals
),
b AS (SELECT v AS b_value, length(v) AS lb FROM vals),
cand AS (
  SELECT DISTINCT a.a_value, b.b_value
  FROM a JOIN b ON a.probe_len = b.lb AND a.a_value < b.b_value
)
SELECT a_value, b_value, CAST(levenshtein(a_value, b_value) AS INT) AS dist
FROM cand WHERE levenshtein(a_value, b_value) <= 3
""",
        "pretraining_report": f"""
WITH {_CORPUS_FILTER_CTES},
kept AS (SELECT doc_id, n_tokens FROM labeled WHERE reason = 'kept'),
sp AS (
  SELECT doc_id, n_tokens,
         CAST(concat('0x', substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 10 AS b
  FROM kept
)
SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM labeled
UNION ALL
SELECT '1_filtered', CAST(count(*) AS BIGINT), CAST(sum(n_tokens) AS BIGINT) FROM kept
UNION ALL
SELECT '2_split_' || CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END,
       CAST(count(*) AS BIGINT), CAST(sum(n_tokens) AS BIGINT)
FROM sp GROUP BY 1
""",
        "events_resampled": """
WITH pb AS (
  SELECT user_id, bucket, value FROM (
    SELECT user_id, date_trunc('hour', ts) AS bucket, ts, value,
           row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                              ORDER BY ts DESC, value DESC) AS rn
    FROM events
  ) WHERE rn = 1
),
spans AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM pb GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM spans
)
SELECT g.user_id, g.bucket AS bucket_ts,
       last_value(pb.value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
FROM grid g LEFT JOIN pb ON pb.user_id = g.user_id AND pb.bucket = g.bucket
""",
        "doc_weighted_sample": """
WITH keyed AS (
  SELECT doc_id, n_chars,
         ln((CAST(concat('0x', substring(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) + 1) / CAST(1152921504606846976 AS DOUBLE)) / n_chars AS wkey
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars FROM keyed
ORDER BY wkey DESC, doc_id LIMIT 50
""",
        "part_cooccurrence": """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_orders, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (ORDER BY n_orders DESC, part_a, part_b) AS rnk
  FROM pairs
) WHERE rnk <= 20
""",
        "events_session_histogram": """
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
),
sess AS (SELECT user_id, sid, count(*) AS n_events FROM s GROUP BY user_id, sid)
SELECT n_events, CAST(count(*) AS BIGINT) AS n_sessions
FROM sess GROUP BY n_events
""",
        "dedup_savings": f"""
WITH norm AS (
  SELECT doc_id, source, n_chars, md5({_NORM}) AS fp FROM documents
),
marked AS (
  SELECT source, n_chars,
         CASE WHEN row_number() OVER (PARTITION BY fp ORDER BY doc_id) > 1
              THEN 1 ELSE 0 END AS dup
  FROM norm
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(dup) AS BIGINT) AS n_dropped,
       CAST(sum(n_chars * dup) AS BIGINT) AS chars_dropped,
       round(CAST(sum(n_chars * dup) AS DOUBLE) / sum(n_chars), 6) AS savings_ratio
FROM marked GROUP BY source
""",
        "events_asof_next_view": """
WITH err AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
v AS (
  SELECT user_id, ts, min(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT e.event_id, e.user_id, e.ts, v.ts AS view_ts, v.view_event_id
FROM err e ASOF LEFT JOIN v
  ON e.user_id = v.user_id AND e.ts <= v.ts
""",
        "events_asof_error": """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
err AS (
  SELECT user_id, ts, max(value) AS err_value
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts, e.ts AS err_ts, e.err_value
FROM clicks c ASOF LEFT JOIN err e
  ON c.user_id = e.user_id AND c.ts >= e.ts
""",
        "events_error_context": """
SELECT a.event_id, count(*) AS n_prior,
       round(CAST(sum(CAST(b.value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts - INTERVAL 300 SECOND
 AND b.ts < a.ts
WHERE a.event_type = 'error'
GROUP BY a.event_id
""",
        "priority_order_check": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
""",
        "forecast_revenue": """
SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
        "top_revenue_supplier": """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(CAST(r AS DOUBLE), 4) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE r = (SELECT max(r) FROM rev)
""",
        "sole_returner_suppliers": """
WITH per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_r,
         max(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS offender
  FROM lineitem GROUP BY l_orderkey
)
SELECT s_suppkey, s_name, count(*) AS numwait
FROM per_order JOIN supplier ON offender = s_suppkey
WHERE n_supp > 1 AND n_r = 1
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 20
""",
        "supplier_nation_revenue": """
SELECT n_name,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""",
        "shipping_priority": """
SELECT l_orderkey, o_orderdate,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate >= TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
        "events_hourly": """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2
""",
        "events_rollup_cascade": """
SELECT '1 minute' AS grain, date_trunc('minute', ts) AS window_start,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 2
UNION ALL
SELECT '1 hour', date_trunc('hour', ts), count(*),
       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
FROM events GROUP BY 2
UNION ALL
SELECT '1 day', date_trunc('day', ts), count(*),
       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
FROM events GROUP BY 2
""",
        "events_sliding": """
WITH w AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) - u.k * INTERVAL '30 minutes' AS window_start,
         value
  FROM events, unnest(range(0, 2)) AS u(k)
)
SELECT window_start, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
FROM w GROUP BY 1
""",
        "events_props_extract": """
SELECT event_type, count(*) AS n_events,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
""",
        "orders_by_month": """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(16,2))) AS DOUBLE), 2) AS revenue
FROM orders GROUP BY 1
""",
        "multimodal_mjpeg_frames": """
SELECT doc_id AS media_id,
       CAST(8 * (1 + doc_id % 3) AS INT) AS width,
       CAST(8 * (1 + doc_id % 2) AS INT) AS height,
       CAST(2 + doc_id % 4 AS INT) AS n_frames,
       CAST(8 * (1 + doc_id % 3) * 8 * (1 + doc_id % 2) * 3
            * (2 + doc_id % 4) AS BIGINT) AS n_vals
FROM documents WHERE doc_id < 400
""",
        "doc_html_strip": """
WITH h AS (
  SELECT doc_id,
         '<p id="' || doc_id || '">' || text || '</p> &amp; <b>tail'
           || (doc_id % 7) || '</b> 1 &lt; 2' AS html
  FROM documents
)
SELECT doc_id,
       replace(replace(replace(replace(replace(
           regexp_replace(html, '</?[A-Za-z!][^<>]*>', '', 'g'),
         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         '&#39;', chr(39)), '&amp;', '&') AS clean_text,
       CAST(len(regexp_extract_all(html, '</?[A-Za-z!][^<>]*>')) AS INT)
         AS n_tags
FROM h
""",
        "doc_url_domains": r"""
WITH t AS (
  SELECT doc_id,
         text || ' see https://sub' || (doc_id % 5) || '.example'
              || (doc_id % 3) || '.com/p/' || doc_id
              || ' and http://Mirror' || (doc_id % 7)
              || '.Test.org:8080/x?q=' || (doc_id % 11) || ' end' AS t2
  FROM documents
), u AS (
  SELECT doc_id,
         unnest(regexp_extract_all(t2,
           'https?://(?:[^ \t\n\x0B\f\r<>@/\x22\x27]*@)?[\w.\-]+(?::\d+)?(?:/[^ \t\n\x0B\f\r<>\x22\x27]*)?'))
           AS url
  FROM t
), hu AS (
  SELECT doc_id, url,
         lower(regexp_extract(url,
           'https?://(?:[^ \t\n\x0B\f\r<>@/\x22\x27]*@)?([\w.\-]+)', 1)) AS host
  FROM u
)
SELECT doc_id, url, host,
       regexp_extract(host, '([\w\-]+\.[\w\-]+)$', 1) AS domain,
       CAST(regexp_extract(host, '([\w\-]+\.[\w\-]+)$', 1)
            IN ('test.org', 'example2.com') AS INT) AS blocked
FROM hu
""",
        "doc_unicode_nfc": """
SELECT doc_id,
       nfc_normalize(text || ' e' || chr(CAST(769 + doc_id % 5 AS INTEGER))) AS norm_text,
       CAST(length(nfc_normalize(text || ' e' || chr(CAST(769 + doc_id % 5 AS INTEGER))))
            AS BIGINT) AS n_chars_nfc
FROM documents
""",
        "multimodal_frame_sampling_real": """
WITH v AS (
  SELECT doc_id AS media_id, 2 + doc_id % 4 AS nf
  FROM documents WHERE doc_id < 300
),
i AS (SELECT range AS fi FROM range(0, 8))
SELECT v.media_id,
       CAST(i.fi AS INT) AS frame_index,
       CAST((i.fi * 250) // 100 * 100 AS BIGINT) AS frame_offset_ms
FROM v, i
WHERE i.fi = 0 OR i.fi * 250 <= (v.nf - 1) * 100
""",
        "multimodal_real_dimensions": """
WITH m AS (SELECT doc_id AS media_id FROM documents),
rgb AS (
  -- id%8=0: binary PPM; id%8=2: 8-bit RGB PNG — same pixel recipe
  SELECT m.media_id,
         CASE WHEN m.media_id % 8 = 2 THEN 'png' ELSE 'ppm' END AS fmt,
         CAST(4 + m.media_id % 5 AS INT) AS width,
         CAST(3 + m.media_id % 4 AS INT) AS height,
         CAST(NULL AS INT) AS sample_rate,
         CAST((4 + m.media_id % 5) * (3 + m.media_id % 4) * 3 AS BIGINT)
           AS n_vals,
         CAST(sum((m.media_id * 7 + r.range) % 256) AS BIGINT) AS sum_vals
  FROM m, range(0, 200) r
  WHERE m.media_id % 8 IN (0, 2)
    AND r.range < (4 + m.media_id % 5) * (3 + m.media_id % 4) * 3
  GROUP BY m.media_id
),
g16 AS (
  -- id%8=4: 16-bit grayscale PNG; the decoder emits the HIGH byte of
  -- each big-endian sample, which the recipe plants as (id*7+j)%256
  SELECT m.media_id, 'png' AS fmt,
         CAST(4 + m.media_id % 5 AS INT) AS width,
         CAST(3 + m.media_id % 4 AS INT) AS height,
         CAST(NULL AS INT) AS sample_rate,
         CAST((4 + m.media_id % 5) * (3 + m.media_id % 4) AS BIGINT)
           AS n_vals,
         CAST(sum((m.media_id * 7 + r.range) % 256) AS BIGINT) AS sum_vals
  FROM m, range(0, 200) r
  WHERE m.media_id % 8 = 4
    AND r.range < (4 + m.media_id % 5) * (3 + m.media_id % 4)
  GROUP BY m.media_id
),
pal AS (
  -- id%8=6: palette PNG; the decoder expands index (id*7+j)%16
  -- through PLTE entry channels (id*11 + idx*3 + c) % 256
  SELECT m.media_id, 'png' AS fmt,
         CAST(4 + m.media_id % 5 AS INT) AS width,
         CAST(3 + m.media_id % 4 AS INT) AS height,
         CAST(NULL AS INT) AS sample_rate,
         CAST((4 + m.media_id % 5) * (3 + m.media_id % 4) * 3 AS BIGINT)
           AS n_vals,
         CAST(sum(
             (m.media_id * 11 + ((m.media_id * 7 + r.range) % 16) * 3) % 256
           + (m.media_id * 11 + ((m.media_id * 7 + r.range) % 16) * 3 + 1) % 256
           + (m.media_id * 11 + ((m.media_id * 7 + r.range) % 16) * 3 + 2) % 256
         ) AS BIGINT) AS sum_vals
  FROM m, range(0, 200) r
  WHERE m.media_id % 8 = 6
    AND r.range < (4 + m.media_id % 5) * (3 + m.media_id % 4)
  GROUP BY m.media_id
),
aud AS (
  SELECT m.media_id, 'wav' AS fmt,
         CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
         CAST(8000 + (m.media_id % 3) * 4000 AS INT) AS sample_rate,
         CAST(50 + m.media_id % 30 AS BIGINT) AS n_vals,
         CAST(sum((m.media_id * 31 + r.range * 17) % 4096 - 2048) AS BIGINT)
           AS sum_vals
  FROM m, range(0, 80) r
  WHERE m.media_id % 2 = 1 AND r.range < 50 + m.media_id % 30
  GROUP BY m.media_id
)
SELECT * FROM rgb UNION ALL SELECT * FROM g16
UNION ALL SELECT * FROM pal UNION ALL SELECT * FROM aud
""",
        "multimodal_stats": """
WITH media AS (
  SELECT doc_id AS media_id,
         ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS modality,
         octet_length(encode(text)) AS n_bytes
  FROM documents
)
SELECT modality, count(*) AS n_items,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       round(avg(n_bytes), 4) AS avg_bytes
FROM media GROUP BY modality
""",
        "events_sessions": """
WITH d AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
FROM s GROUP BY user_id, sid
""",
        "nation_pair_trade": """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(extract(year FROM o_orderdate) AS INTEGER) AS o_year,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS volume,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
""",
        "priority_linestatus_counts": """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_linestatus
""",
        "promo_revenue_share": """
SELECT round(
         100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
       6) AS promo_share_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
""",
        "large_order_customers": """
WITH big AS (
  SELECT l_orderkey,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) > 300
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders JOIN big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
""",
        "disjunctive_part_revenue": """
SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
""",
        "wealthy_inactive_customers": """
SELECT c_nationkey, count(*) AS n_custs,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE), 2) AS total_bal
FROM customer
WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
GROUP BY c_nationkey
""",
        "embedding_norm_stats": """
WITH n AS (
  SELECT label,
         round(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')), 6) AS norm
  FROM embeddings
)
SELECT label, count(*) AS n_vecs,
       round(avg(norm), 4) AS avg_norm,
       round(max(norm), 4) AS max_norm,
       round(min(norm), 4) AS min_norm
FROM n GROUP BY label
""",
        "doc_stratified_sample": """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         CAST(concat('0x', substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 AS b
  FROM documents
) s
WHERE b < CASE lang WHEN 'en' THEN 25 WHEN 'de' THEN 100 WHEN 'zh' THEN 50 ELSE 10 END
""",
        "sql_segment_revenue": """
SELECT c_mktsegment, count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(16,2))) AS DOUBLE), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
        "customer_balance_quartiles": """
WITH q AS (
  SELECT c_nationkey, c_acctbal,
         ntile(4) OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal DESC, c_custkey) AS quartile
  FROM customer
)
SELECT c_nationkey, quartile, count(*) AS n_custs,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE), 2) AS total_bal
FROM q GROUP BY c_nationkey, quartile
""",
        "embedding_kmeans": _kmeans_oracle(k=8, n_iter=3, dim=64, scale=1000),
        "kmember_quantized_embeddings": _kmember_oracle(
            k_anon=50, n_clusters=8, n_iter=2, repair_rounds=2, dim=64,
            scale=1000,
        ),
        "kmember_search_quantized_embeddings": _kmember_search_oracle(
            k_anon=50, candidates=(5, 8), restarts=2, n_iter=1,
            repair_rounds=2, dim=64, scale=1000,
        ),
        "doc_chunk_dedup": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
ch AS (
  SELECT doc_id, CAST(i AS INT) AS chunk,
         md5(array_to_string(list_slice(t, i * 10 + 1, i * 10 + 10), ' ')) AS fp
  FROM (
    SELECT doc_id, t,
           unnest(range(0, CAST(1 + ceil(greatest(len(t) - 10, 0) / 10.0) AS BIGINT))) AS i
    FROM toks
  )
),
marked AS (
  SELECT doc_id,
         CASE WHEN row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk) > 1
              THEN 1 ELSE 0 END AS dup
  FROM ch
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(dup) AS BIGINT) AS n_dup_chunks,
       round(CAST(sum(dup) AS DOUBLE) / count(*), 4) AS dup_ratio
FROM marked GROUP BY doc_id
""",
        "doc_dup_spans": f"""
WITH norm AS (SELECT doc_id, {_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
grams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         md5(array_to_string(t[i:i+9], ' ')) AS fp
  FROM toks, unnest(range(1, len(t) - 10 + 2)) AS u(i)
  WHERE len(t) >= 10
),
anch AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY fp) AS c FROM grams
  ) WHERE c >= 2
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM anch
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) - min(pos) + 10 AS BIGINT) AS span_len
FROM isl GROUP BY doc_id, grp
""",
        "doc_dup_span_strip": f"""
WITH norm AS (SELECT doc_id, {_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
grams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         md5(array_to_string(t[i:i+9], ' ')) AS fp
  FROM toks, unnest(range(1, len(t) - 10 + 2)) AS u(i)
  WHERE len(t) >= 10
),
anch AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY fp) AS c FROM grams
  ) WHERE c >= 2
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM anch
),
spans AS (
  SELECT doc_id, min(pos) AS span_start,
         max(pos) - min(pos) + 10 AS span_len
  FROM isl GROUP BY doc_id, grp
),
cov AS (
  SELECT DISTINCT spans.doc_id, CAST(u.p AS BIGINT) AS i
  FROM spans, unnest(range(span_start, span_start + span_len)) AS u(p)
),
tokpos AS (
  SELECT doc_id, unnest(t) AS tok,
         CAST(generate_subscripts(t, 1) - 1 AS BIGINT) AS i
  FROM toks
)
SELECT tp.doc_id,
       md5(coalesce(
         string_agg(CASE WHEN c.i IS NULL THEN tp.tok END, ' ' ORDER BY tp.i),
         '')) AS clean_md5,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(c.i) AS BIGINT) AS n_dropped
FROM tokpos tp LEFT JOIN cov c ON tp.doc_id = c.doc_id AND tp.i = c.i
GROUP BY tp.doc_id
""",
        "doc_dup_span_strip_keep_first": f"""
WITH norm AS (SELECT doc_id, {_NORM} AS nt FROM documents),
toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
grams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         md5(array_to_string(t[i:i+9], ' ')) AS fp
  FROM toks, unnest(range(1, len(t) - 10 + 2)) AS u(i)
  WHERE len(t) >= 10
),
anch AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY fp) AS c,
           row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS occ
    FROM grams
  ) WHERE c >= 2 AND occ > 1
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM anch
),
spans AS (
  SELECT doc_id, min(pos) AS span_start,
         max(pos) - min(pos) + 10 AS span_len
  FROM isl GROUP BY doc_id, grp
),
cov AS (
  SELECT DISTINCT spans.doc_id, CAST(u.p AS BIGINT) AS i
  FROM spans, unnest(range(span_start, span_start + span_len)) AS u(p)
),
tokpos AS (
  SELECT doc_id, unnest(t) AS tok,
         CAST(generate_subscripts(t, 1) - 1 AS BIGINT) AS i
  FROM toks
)
SELECT tp.doc_id,
       md5(coalesce(
         string_agg(CASE WHEN c.i IS NULL THEN tp.tok END, ' ' ORDER BY tp.i),
         '')) AS clean_md5,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(c.i) AS BIGINT) AS n_dropped
FROM tokpos tp LEFT JOIN cov c ON tp.doc_id = c.doc_id AND tp.i = c.i
GROUP BY tp.doc_id
""",
        "source_token_waterfill": f"""
WITH {_WATERFILL_CTES}
SELECT source, avail, alloc FROM walloc
""",
        "source_budget_sample": f"""
WITH {_WATERFILL_CTES},
toks AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens,
         CAST(concat('0x',
              substring(md5('waterfill:' || CAST(doc_id AS VARCHAR)), 1, 15))
           AS BIGINT) AS h
  FROM documents
),
run AS (
  SELECT t.doc_id, t.source, t.n_tokens,
         CAST(sum(t.n_tokens) OVER (
           PARTITION BY t.source ORDER BY t.h, t.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens,
         a.alloc
  FROM toks t JOIN walloc a USING (source)
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM run WHERE cum_tokens <= alloc
""",
        "doc_token_entropy": r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
),
counts AS (
  SELECT doc_id, tok, count(*) AS c FROM tok WHERE tok != '' GROUP BY doc_id, tok
),
per AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(CAST(round(c * ln(c) * 1e9) AS BIGINT)) AS BIGINT) AS s
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       round(ln(n_tokens) - (s / 1e9) / n_tokens, 6) AS entropy
FROM per
""",
        "events_transitions": """
WITH seq AS (
  SELECT event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n,
       round(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE), 6) AS share
FROM pairs
""",
        "revenue_concentration": """
WITH per_cust AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY o_custkey
),
dec AS (
  SELECT rev, ntile(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
  FROM per_cust
),
agg AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers, sum(rev) AS revd
  FROM dec GROUP BY decile
)
SELECT decile, n_customers,
       round(CAST(revd AS DOUBLE), 4) AS revenue,
       round(CAST(revd AS DOUBLE) / CAST(sum(revd) OVER () AS DOUBLE), 6) AS share
FROM agg
""",
        "nation_pagerank": _pagerank_oracle(_NATION_EDGES_SQL, n_iter=3),
        "nation_communities": _label_prop_oracle(_NATION_EDGES_SQL, n_iter=3),
        "nation_weighted_pagerank": _pagerank_oracle(
            f"SELECT src, dst, 1 AS w FROM ({_NATION_EDGES_SQL}) we",
            n_iter=3,
            weighted=True,
        ),
        "nation_ppr": _pagerank_oracle(
            _NATION_EDGES_SQL,
            n_iter=3,
            seeds_sql=(
                "SELECT n_nationkey AS node FROM nation WHERE n_regionkey = 0"
            ),
        ),
        "doc_pmi_collocations": _PMI_COLLOCATIONS_ORACLE,
        "part_demand_cms": _CMS_ORACLE,
        "doc_lm_perplexity": _LM_PERPLEXITY_ORACLE,
        "event_user_lpc": _LPC_ORACLE,
        "order_bloom_probe": _BLOOM_ORACLE,
        "doc_bm25_topk": _bm25_oracle(_BM25_PROBES, k=5),
        "doc_bm25_from_index": _bm25_oracle(_BM25_PROBES, k=5),
        "doc_inverted_postings": _INVERTED_POSTINGS_ORACLE,
        "doc_sorted_neighbors": _SORTED_NEIGHBORS_ORACLE,
        "doc_phrase_search": _phrase_oracle(_PHRASE_PROBES),
        "doc_bpe_merges": _bpe_learn_oracle(n_merges=8, min_pair_count=2),
        "doc_bpe_merges_deep": _bpe_learn_oracle(
            n_merges=256, min_pair_count=1, table="customer", col="c_name"
        ),
        "doc_bpe_tokens": _bpe_apply_oracle(_BPE_FIXED_MERGES),
        "doc_bpe_vocab": _bpe_vocab_oracle(_BPE_FIXED_MERGES),
        "clean_corpus_splits": f"""
WITH {_CORPUS_FILTER_CTES},
kept AS (SELECT doc_id, n_tokens FROM labeled WHERE reason = 'kept'),
sp AS (
  SELECT doc_id, n_tokens,
         CAST(concat('0x', substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 10 AS b
  FROM kept
)
SELECT CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM sp GROUP BY 1
""",
        "sql_priority_share_rank": _SQL_PRIORITY_SHARE_RANK,
        "embedding_near_dups_lsh_exact": _rp_lsh_oracle(
            n_planes=16, rows_per_band=4, dim=64, scale=1000,
            plane_scale=1000, threshold=0.4,
        ),
        "embedding_semantic_dedup": _semantic_dedup_oracle(
            n_planes=16, rows_per_band=4, dim=64, scale=1000,
            plane_scale=1000, threshold=0.4,
        ),
        "ivf_ann_topk_exact": _ivf_oracle(
            n_cells=8, n_iter=2, dim=64, scale=1000, nprobe=3, topk=5,
            query_mod=100,
        ),
        "embedding_knn_graph": _ivf_oracle(
            n_cells=8, n_iter=2, dim=64, scale=1000, nprobe=2, topk=3,
            query_mod=1, graph_names=True,
        ),
        "embedding_mutual_knn_clusters": _mutual_knn_oracle(
            n_cells=8, n_iter=2, dim=64, scale=1000, nprobe=2, topk=3,
            query_mod=1,
        ),
        "ivf_recall_eval": _ivf_oracle(
            n_cells=8, n_iter=2, dim=64, scale=1000, nprobe=3, topk=5,
            query_mod=100, recall_eval=True,
        ),
        "part_bfs_hops": _bfs_oracle(max_hops=3),
        "part_k_core": _kcore_oracle(k=80, rounds=10),
        "part_sssp": _sssp_oracle(rounds=6),
        "part_triangle_histogram": """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
nodes AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
pern AS (SELECT node, count(*) AS n_triangles FROM nodes GROUP BY node)
SELECT n_triangles, count(*) AS n_parts FROM pern GROUP BY n_triangles
""",
        "dbscan_assign_customer": f"""
WITH RECURSIVE pts AS ({PTS_CUSTOMER_SQL}),
train AS (SELECT * FROM pts WHERE id % 2 = 0),
newpts AS (SELECT * FROM pts WHERE id % 2 = 1),
nc AS (
  SELECT a.id, count(*) AS n FROM train a JOIN train b
    ON abs(a.f0 - b.f0) + abs(a.f1 - b.f1) < {EPS_C}
  GROUP BY a.id
),
cores AS (SELECT id FROM nc WHERE n >= {MINPTS_C}),
ed AS (
  SELECT a.id AS u, b.id AS v FROM train a
  JOIN cores c ON a.id = c.id
  JOIN train b ON abs(a.f0 - b.f0) + abs(a.f1 - b.f1) < {EPS_C}
),
edges AS (SELECT u, v FROM ed UNION SELECT v, u FROM ed),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS id, min(v) AS component FROM reach GROUP BY u),
mass AS (SELECT component, count(*) AS m FROM comp GROUP BY component),
labeled AS (
  SELECT t.id, t.f0, t.f1, comp.component AS cluster_id
  FROM train t
  JOIN comp ON t.id = comp.id
  JOIN mass ON comp.component = mass.component
  WHERE mass.m >= {MINPTS_C}
),
cand AS (
  SELECT n.id, l.cluster_id,
         abs(n.f0 - l.f0) + abs(n.f1 - l.f1) AS d, l.id AS mid
  FROM newpts n
  JOIN labeled l ON abs(n.f0 - l.f0) + abs(n.f1 - l.f1) < {EPS_C}
),
best AS (
  SELECT id, cluster_id FROM (
    SELECT id, cluster_id,
           row_number() OVER (PARTITION BY id ORDER BY d, cluster_id, mid) AS rn
    FROM cand
  ) WHERE rn = 1
)
SELECT n.id, best.cluster_id, best.cluster_id IS NULL AS is_noise
FROM newpts n LEFT JOIN best ON n.id = best.id
""",
        "customer_revenue_percentile": """
WITH per_cust AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, round(CAST(rev AS DOUBLE), 4) AS revenue,
       round(cume_dist() OVER (ORDER BY rev, o_custkey), 6) AS pct_rank
FROM per_cust
""",
        "events_rolling_active_users": """
WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
days AS (SELECT DISTINCT day FROM du)
SELECT d.day AS day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
FROM days d JOIN du u ON u.day <= d.day AND u.day >= d.day - 6
GROUP BY d.day
""",
        "nation_supplier_hhi": """
WITH rev AS (
  SELECT s_nationkey, s_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,4))
             * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS rev
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey, s_suppkey
),
sq AS (
  SELECT s_nationkey,
         CAST(rev AS DOUBLE)
           / CAST(sum(rev) OVER (PARTITION BY s_nationkey) AS DOUBLE) AS sh
  FROM rev
)
SELECT s_nationkey,
       round(sum(CAST(round(sh * sh * 1e12) AS BIGINT)) / 1e12, 6) AS hhi
FROM sq GROUP BY s_nationkey
""",
        "customer_rfm_segments": """
WITH per_cust AS (
  SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS freq,
         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
  FROM orders GROUP BY o_custkey
),
coded AS (
  SELECT 'R' || CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS VARCHAR)
      || 'F' || CAST(ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS VARCHAR)
      || 'M' || CAST(ntile(4) OVER (ORDER BY spend DESC, o_custkey) AS VARCHAR)
      AS segment
  FROM per_cust
)
SELECT segment, CAST(count(*) AS BIGINT) AS n_customers
FROM coded GROUP BY segment
""",
        "events_first_touch": """
WITH buys AS (
  SELECT user_id, min(ts) AS buy_ts FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
),
ft AS (
  SELECT user_id, event_type AS channel FROM (
    SELECT e.user_id, e.event_type,
           row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
    FROM events e JOIN buys b ON e.user_id = b.user_id AND e.ts <= b.buy_ts
  ) WHERE rn = 1
)
SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions
FROM ft GROUP BY channel
""",
        "doc_corpus_filter": f"""
WITH {_CORPUS_FILTER_CTES}
SELECT doc_id, n_tokens, quality, rep_ratio, reason,
       reason = 'kept' AS keep
FROM labeled
""",
        "fk_integrity": """
WITH oc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orphans
  FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
),
lo AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orphans
  FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
)
SELECT 'orders->customer' AS relationship,
       CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_child,
       oc.n_orphans,
       round(CAST(oc.n_orphans AS DOUBLE) / (SELECT count(*) FROM orders), 6) AS orphan_ratio
FROM oc
UNION ALL
SELECT 'lineitem->orders',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       lo.n_orphans,
       round(CAST(lo.n_orphans AS DOUBLE) / (SELECT count(*) FROM lineitem), 6)
FROM lo
""",
        "events_user_intervals": """
WITH iv AS (
  SELECT user_id, ts AS s, ts + INTERVAL 5 MINUTE AS e FROM events
),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT user_id, CAST(island AS BIGINT) AS island,
       min(s) AS island_start, max(e) AS island_end,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM islands GROUP BY user_id, island
""",
        "events_scd2": """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN row_number() OVER w = 1
                   OR lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS new_run
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (SELECT user_id, event_type, ts, event_id FROM marked WHERE new_run = 1)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       lead(ts) OVER w2 IS NULL AS is_current
FROM runs
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
        "embedding_pca_trace": """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS v
  FROM embeddings
),
flat AS (
  SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM v
),
diag AS (
  SELECT pos,
         (CAST(sum(val * val) AS DOUBLE) / count(*)
          - (CAST(sum(val) AS DOUBLE) / count(*))
            * (CAST(sum(val) AS DOUBLE) / count(*))) / 1000000.0 AS var
  FROM flat GROUP BY pos
)
SELECT CAST(count(*) AS INT) AS dim,
       round(sum(var), 4) + 0.0 AS trace_q,
       0 AS psd_violations,
       1 AS explained_top_le_trace
FROM diag
""",
        "approx_event_error_buckets": """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       0 AS acd_err_bucket,
       0 AS hll_err_bucket,
       0 AS p50_rank_err_bucket,
       0 AS p95_rank_err_bucket
FROM events GROUP BY event_type
""",
        "embedding_covariance": """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS v
  FROM embeddings
),
flat AS (
  SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM v
),
m AS (
  SELECT CAST(a.pos - 1 AS INT) AS i, CAST(b.pos - 1 AS INT) AS j,
         sum(a.val * b.val) AS s, count(*) AS n
  FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND b.pos >= a.pos
  GROUP BY 1, 2
),
sums AS (SELECT CAST(pos - 1 AS INT) AS p, sum(val) AS sv FROM flat GROUP BY 1)
SELECT m.i, m.j,
       round((CAST(m.s AS DOUBLE) / m.n
              - (CAST(si.sv AS DOUBLE) / m.n) * (CAST(sj.sv AS DOUBLE) / m.n))
             / 1000000.0, 6) + 0.0 AS cov
FROM m JOIN sums si ON si.p = m.i JOIN sums sj ON sj.p = m.j
""",
        "dedup_cluster_sizes": f"""
WITH RECURSIVE {_SHINGLES_CTE}, {_SIZES_CTE}, {_minhash_ctes(16, 4)},
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
common AS (
  SELECT cand.a_id, cand.b_id, count(*) AS n_common
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.a_id
  JOIN sh sb ON sb.doc_id = cand.b_id AND sb.shingle = sa.shingle
  GROUP BY cand.a_id, cand.b_id
),
pairs AS (
  SELECT common.a_id, common.b_id
  FROM common
  JOIN sizes za ON za.doc_id = common.a_id
  JOIN sizes zb ON zb.doc_id = common.b_id
  WHERE round(n_common / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE), 6) >= 0.3
),
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION SELECT b_id, a_id FROM pairs
  UNION SELECT a_id, a_id FROM pairs
  UNION SELECT b_id, b_id FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS doc_id, min(v) AS dup_group FROM reach GROUP BY u),
labeled AS (
  SELECT d.doc_id, coalesce(c.dup_group, d.doc_id) AS dup_group
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
sized AS (SELECT dup_group, count(*) AS dup_group_size FROM labeled GROUP BY dup_group)
SELECT dup_group_size, CAST(count(*) AS BIGINT) AS n_groups
FROM sized GROUP BY dup_group_size
""",
    }
    # prefix filtering changes CANDIDATE GENERATION, not the result —
    # one shared exact-Jaccard oracle statement, never two copies to
    # drift apart
    oracles["near_dup_jaccard_prefix"] = oracles["near_dup_jaccard"]
    return oracles
