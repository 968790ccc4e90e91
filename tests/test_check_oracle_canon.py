"""Pins the local checker's driver-emulation semantics (no Spark).

CORRECTNESS_r03 proved the driver stringifies through pandas frames:
HUGEINT and nullable BIGINT coerce to float64 ('99111.0' / 'nan'),
while DATE columns (datetime64 at midnight) cast to date-only strings —
which is why date-output queries were driver-GREEN but uncast integer
sums were RED. These tests feed the checker's ``frame_sig`` the exact
frames each side produces and assert it reproduces both behaviors.
"""

from __future__ import annotations

import datetime
import os
import sys

import duckdb
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_oracle import frame_sig, to_pandas_frame  # noqa: E402


def test_uncast_hugeint_sum_mismatches_spark_long():
    # oracle side: DuckDB integer sum() -> HUGEINT -> .df() float64
    opdf = duckdb.sql("SELECT sum(x) AS s FROM (SELECT 99111 AS x)").df()
    # spark side: LongType collect -> Python int -> int64
    spdf = to_pandas_frame(["s"], [(99111,)])
    _, oh, orows = frame_sig(opdf)
    _, sh, srows = frame_sig(spdf)
    assert orows == ["99111.0"] and srows == ["99111"]
    assert oh != sh  # the r3 red class — must stay visible locally


def test_bigint_cast_restores_parity():
    opdf = duckdb.sql(
        "SELECT CAST(sum(x) AS BIGINT) AS s FROM (SELECT 99111 AS x)"
    ).df()
    spdf = to_pandas_frame(["s"], [(99111,)])
    assert frame_sig(opdf)[1] == frame_sig(spdf)[1]


def test_date_columns_hash_equal_across_engines():
    opdf = duckdb.sql(
        "SELECT DATE '1995-01-01' AS d UNION ALL SELECT DATE '1995-02-01'"
    ).df()
    spdf = to_pandas_frame(
        ["d"], [(datetime.date(1995, 1, 1),), (datetime.date(1995, 2, 1),)]
    )
    oc, oh, orows = frame_sig(opdf)
    sc, sh, srows = frame_sig(spdf)
    assert orows == srows == ["1995-01-01", "1995-02-01"]
    assert oh == sh


def test_nullable_bigint_hash_equal_across_engines():
    opdf = duckdb.sql(
        "SELECT CAST(NULL AS BIGINT) AS g UNION ALL SELECT 44295990495"
    ).df()
    # Spark LongType with a None: pd.DataFrame inference -> float64/NaN
    spdf = to_pandas_frame(["g"], [(None,), (44295990495,)])
    _, oh, orows = frame_sig(opdf)
    _, sh, srows = frame_sig(spdf)
    assert sorted(orows) == sorted(srows) == ["44295990495.0", "nan"]
    assert oh == sh


def test_timestamp_with_time_keeps_time_part():
    opdf = duckdb.sql("SELECT TIMESTAMP '2024-01-01 10:30:00' AS t").df()
    spdf = to_pandas_frame(["t"], [(datetime.datetime(2024, 1, 1, 10, 30),)])
    _, oh, orows = frame_sig(opdf)
    _, sh, _ = frame_sig(spdf)
    assert orows == ["2024-01-01 10:30:00"]
    assert oh == sh


def test_array_cells_raise_like_the_driver():
    spdf = to_pandas_frame(["a"], [([1, 2],)])
    with pytest.raises(TypeError, match="array/map/struct"):
        frame_sig(spdf)
