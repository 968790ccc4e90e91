"""Record the ε-join plan of the paper's 6-d anonymization shape.

Usage: python tools/eps_join_plan.py [seed] > plans/eps_join_6d/<name>.txt

Builds the anon_6d benchmark input (2 000 seeded integer rows in the
data10k_6attr quasi-identifier ranges, the same draw as perfbench's
``_write_points_csv``), contracts it to reps and runs the ε-sweep's
symmetric max-ε join (ε = 20, ``_mult`` as probe payload) to a count.
Prints the Spark jobs the join took (its span aggregate included), the
probe Generate's "number of output rows" SQL metric, the pair count,
the Exchange count and the AQE-final physical plan.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# data10k_6attr.csv column ranges (inclusive): 6 quasi-identifiers + sensitive
RANGES = [(15, 90), (130, 190), (30, 100), (2, 23), (0, 5), (0, 20), (1, 5)]
N_ROWS = 2000
EPS = 20.0


def main() -> None:
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.operators.eps_join import _contract, eps_join
    from dbscan_pyspark_spark.plans.inspect import _executed_plan_str, node_metrics
    from dbscan_pyspark_spark.session import get_session

    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    rng = np.random.default_rng(seed)
    cols = [rng.integers(lo, hi + 1, size=N_ROWS) for lo, hi in RANGES]
    rows = [(i, [float(c[i]) for c in cols[:6]]) for i in range(N_ROWS)]

    spark = get_session("eps_join_plan")
    sc = spark.sparkContext
    pts = spark.createDataFrame(rows, "id long, features array<double>")
    reps = _contract(pts, "features", "id", 6).persist()
    n_reps = reps.count()

    sc.setJobGroup("eps_join_plan", "anon_6d eps_join")
    pairs = eps_join(reps, reps, EPS, dim=6, payload_b=["_mult"])
    counted = pairs.agg(F.count(F.lit(1)).alias("n"))
    n_pairs = counted.collect()[0]["n"]
    jobs = len(sc.statusTracker().getJobIdsForGroup("eps_join_plan"))
    sc.setJobGroup("", "")

    print(f"seed: {seed}, rows: {N_ROWS}, reps: {n_reps}, eps: {EPS:g}")
    print(f"jobs of eps_join and the count: {jobs}")
    print(f"probe Generate number of output rows: {node_metrics(counted, 'Generate')}")
    print(f"pairs: {n_pairs}")
    # one dataSize value per exchange node of the join's own plan (the
    # cached contraction's plan is not a child of its table scan)
    for node in ("Exchange", "BroadcastExchange"):
        print(f"{node} data size, bytes: {node_metrics(counted, node, 'dataSize')}")
    print()
    # the AQE-final plan, without the initial plan printed after it
    print(_executed_plan_str(counted).split("\n+- == Initial Plan ==")[0])
    reps.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
