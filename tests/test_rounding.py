"""The snap rule (``rounding.py``) gives the same doubles as SQL text in
Spark and in DuckDB and as numpy, on and next to ties; Spark's ``round()``,
which rounds the decimal string HALF_UP, differs on some of them."""

import struct

import duckdb
import numpy as np

from steampipe_plugin_terraform_spark import rounding

# decimal ties whose double sits below or above the tie, exact binary ties,
# and negatives (the snap rounds half toward +inf)
CASES = [(0.37625, 4), (1.005, 2), (2.675, 2), (0.285, 2), (1.0005, 3), (0.125, 2),
         (-0.125, 2), (-0.37625, 4), (123.4567895, 6)]


def test_snap_is_bit_identical_in_spark_duckdb_and_numpy(spark):
    bits = lambda v: struct.pack("<d", v)  # noqa: E731
    df = spark.createDataFrame([(x,) for x, _ in CASES], "x double")
    con = duckdb.connect()
    rounds_differ = False
    for x, d in CASES:
        s, r = df.filter(df.x == x).selectExpr(rounding.snap_sql("x", d), f"round(x, {d})").first()
        (duck,) = con.execute(f"SELECT {rounding.snap_sql('x', d)} FROM (SELECT ?::DOUBLE x)", [x]).fetchone()
        assert bits(s) == bits(duck) == bits(float(rounding.snap_np(np.array([x]), d)[0])), (x, d)
        rounds_differ |= bits(r) != bits(s)
    con.close()
    assert rounds_differ
