"""Isolated A/B for the duplicated_spans gram-exchange plan (round-8
item 1): replicates the stress suite's dup_spans_2m stage exactly and
times only the spans job. Usage: python tools/ab_dup_spans.py [n_docs].
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators.dedup import duplicated_spans
from dbscan_pyspark_spark.session import get_session


def main() -> None:
    n_span_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    spark = get_session("ab-dup-spans")
    doc_tokens = 30
    planted_frac_mod = 50
    planted = F.pmod("id", F.lit(planted_frac_mod)) < 5
    span_docs = spark.range(n_span_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(doc_tokens - 1)),
                lambda j: F.when(
                    planted & j.between(9, 20),
                    F.concat(
                        F.lit("d"),
                        F.pmod("id", F.lit(5)).cast("string"),
                        F.lit("x"),
                        j.cast("string"),
                    ),
                ).otherwise(
                    F.concat(
                        F.lit("w"),
                        F.pmod(
                            F.xxhash64(F.col("id") * 37 + j),
                            F.lit(10**12),
                        ).cast("string"),
                    )
                ),
            ),
        ).alias("text"),
    )
    t0 = time.time()
    spans = duplicated_spans(span_docs, k=10)
    span_agg = spans.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("span_start").alias("mn_s"),
        F.max("span_start").alias("mx_s"),
        F.min("span_len").alias("mn_l"),
        F.max("span_len").alias("mx_l"),
    ).collect()[0]
    n_planted_spans = n_span_docs // planted_frac_mod * 5
    assert (
        span_agg["n"],
        span_agg["mn_s"],
        span_agg["mx_s"],
        span_agg["mn_l"],
        span_agg["mx_l"],
    ) == (n_planted_spans, 9, 9, 12, 12), span_agg
    print(
        json.dumps(
            {
                "stage": "dup_spans_ab",
                "n_docs": n_span_docs,
                "n_spans": span_agg["n"],
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
