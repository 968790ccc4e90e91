"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, compares row count, column names, and an
order-insensitive value hash (rows sorted, values stringified).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py --freshness [window_size]

``--freshness`` reads every CORRECTNESS_r*.json and prints, in
``queries()`` registry order, each query's last hash-green round, last
rows-only-checked round, and never-checked status — then emits the
recommended next driver window (never-checked and stalest-green first)
to ``tools/window_order.txt``. Keeps the rotation data-driven as the
registry outgrows the 50-query/round driver check (SURVEY §12).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def freshness(window_size: int = 50) -> None:
    import glob
    import json
    import re

    import __spark_entry__ as entrymod

    history: dict[str, dict[int, dict]] = {}
    rounds = []
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)", path).group(1))
        rounds.append(rnd)
        for name, rec in json.load(open(path)).items():
            history.setdefault(name, {})[rnd] = rec

    qnames = list(entrymod.queries().keys())
    oracles = set(entrymod.oracle_sql().keys())
    rows = []
    for name in qnames:
        recs = history.get(name, {})
        # A rows-only query's best possible record is spark_rows > 0
        # with err == "no_oracle" (the driver's weaker check); count
        # that as its green so staleness ranking treats the four
        # rows-only entries like everything else instead of parking
        # them forever in the "never green" tier.
        green = [
            r
            for r, v in recs.items()
            if v.get("hash_match")
            or (
                name not in oracles
                and (v.get("spark_rows") or 0) > 0
                and v.get("err") == "no_oracle"
            )
        ]
        checked = sorted(recs)
        rows.append(
            {
                "query": name,
                "oracled": name in oracles,
                "last_green": max(green) if green else None,
                "last_checked": max(checked) if checked else None,
                "ever_failed": any(
                    v.get("hash_match") is False for v in recs.values()
                ),
            }
        )
    w = max(len(r["query"]) for r in rows) + 1
    print(f"{'query':<{w}} oracled last_green last_checked flags")
    for r in rows:
        flags = []
        if r["last_checked"] is None:
            flags.append("NEVER-CHECKED")
        if r["ever_failed"]:
            flags.append("had-red")
        print(
            f"{r['query']:<{w}} {str(r['oracled']):<7} "
            f"{str(r['last_green']):<10} {str(r['last_checked']):<12} "
            f"{','.join(flags)}"
        )
    # recommended window: never-checked first (registry order), then
    # stalest last_checked; ties keep registry order (stable sort)
    order = sorted(
        rows,
        key=lambda r: (
            r["last_checked"] is not None,
            r["last_checked"] if r["last_checked"] is not None else 0,
        ),
    )
    window = [r["query"] for r in order[:window_size]]
    with open(os.path.join(ROOT, "tools", "window_order.txt"), "w") as f:
        f.write("\n".join(window) + "\n")
    n_never = sum(1 for r in rows if r["last_checked"] is None)
    print(
        f"\n{len(rows)} queries ({len(rows) - n_never} checked at least "
        f"once, {n_never} never); recommended {window_size}-query window "
        "written to tools/window_order.txt"
    )


def to_pandas_frame(cols, rows):
    """Build the pandas frame the driver builds from collected Spark
    rows: plain ``pd.DataFrame`` construction, so pandas type inference
    applies — a bigint column containing a NULL becomes float64 (NaN),
    exactly like DuckDB's ``.df()`` on the oracle side."""
    import pandas as pd

    return pd.DataFrame(list(rows), columns=list(cols))


def frame_sig(pdf):
    """Emulate the DRIVER's pandas canonicalizer END-TO-END.

    Input is a pandas DataFrame (Spark side: ``pd.DataFrame`` over the
    collected rows; oracle side: DuckDB ``.df()`` — NOT ``fetchall()``,
    whose exact Python ints masked the HUGEINT->float64 coercion that
    caused the two CORRECTNESS_r03 reds). Canonicalization is pandas
    ``astype(str)`` per column, which reproduces the driver's observed
    stringifications:
    - HUGEINT / nullable BIGINT -> float64 -> '99111.0' / 'nan';
    - DATE (datetime64 at midnight) -> '1995-01-01' (time part dropped
      by pandas datetime64 str-casting — why date-output queries were
      driver-GREEN while HUGEINT sums were RED);
    - list/array/struct cells crash the driver (unhashable in
      factorize) -> raise here too, so local green predicts driver
      green;
    - Decimals stringify WITH their scale ('1.5000' != '1.5') -> no
      float round-trip (the contract bans decimal outputs anyway).
    """
    import hashlib

    import numpy as np

    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    for c in cols:
        if pdf[c].dtype == object:
            for v in pdf[c]:
                if isinstance(v, (list, tuple, set, dict)) or (
                    hasattr(v, "__array__") and not isinstance(v, (str, bytes))
                ):
                    raise TypeError(
                        f"unhashable contract value {type(v).__name__} in "
                        f"column {c}: the driver canonicalizer crashes on "
                        "array/map/struct columns"
                    )
    str_df = pdf.astype(str)
    canon_rows = sorted(
        "|".join(r) for r in str_df.itertuples(index=False, name=None)
    )
    h = hashlib.md5("\n".join(canon_rows).encode()).hexdigest()
    return cols, h, canon_rows


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--freshness":
        freshness(int(sys.argv[2]) if len(sys.argv) > 2 else 50)
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from dbscan_pyspark_spark.session import get_session

    spark = get_session("oracle-check")
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            spdf = to_pandas_frame(scols, [tuple(r) for r in sdf.collect()])
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        dt_spark = time.time() - t0
        if name not in oracles:
            # the driver canonicalizes rows-only outputs too (r2:
            # kmember_clusters crashed it) — so crash-check them here
            try:
                frame_sig(spdf)
            except TypeError as e:
                print(f"FAIL  {name}: CANON-CRASH (driver would red): {e}")
                n_fail += 1
                continue
            print(f"rows-only  {name}: {len(spdf)} rows  ({dt_spark:.1f}s)")
            continue
        t0 = time.time()
        try:
            # the driver's path: DuckDB -> pandas (HUGEINT becomes
            # float64 here; fetchall()'s exact ints would mask that)
            opdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        dt_duck = time.time() - t0

        try:
            sc, sh, srows_c = frame_sig(spdf)
            oc, oh, orows_c = frame_sig(opdf)
        except TypeError as e:
            print(f"FAIL  {name}: CANON-CRASH (driver would red): {e}")
            n_fail += 1
            continue
        status = []
        if len(spdf) != len(opdf):
            status.append(f"ROWCOUNT {len(spdf)} vs {len(opdf)}")
        if sc != oc:
            status.append(f"SCHEMA {sc} vs {oc}")
        if sh != oh:
            status.append("HASH")
        if status:
            print(f"FAIL  {name}: {'; '.join(status)}  (spark {dt_spark:.1f}s duck {dt_duck:.1f}s)")
        if "HASH" in status and len(spdf) == len(opdf):
            diff_s = [r for r in srows_c if r not in set(orows_c)][:3]
            diff_o = [r for r in orows_c if r not in set(srows_c)][:3]
            print(f"      spark-only: {diff_s}")
            print(f"      duck-only:  {diff_o}")
        if status:
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(spdf)} rows  (spark {dt_spark:.1f}s duck {dt_duck:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
