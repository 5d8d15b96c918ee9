"""The engine-portable power-of-ten snap, ``floor(x·10^d + 0.5) / 10^d``.

Spark's ``round()`` rounds the decimal string HALF_UP while DuckDB rounds
the double, so they disagree on exact-rational ties (0.37625 at d=4); the
snap is plain IEEE double arithmetic, the same bits in every engine. This
is the only place the Spark and Python sides write it: as SQL text, a
``Column`` or numpy, and as the un-divided integer units
``floor(x·10^d + 0.5)`` that cents columns cast to BIGINT. A call site keeps
the form it had, so plans do not change. The DuckDB oracles keep the literal
text on purpose: sharing this module with the reference they are compared
against would let one bug pass on both sides.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def units_sql(x: str, digits: int) -> str:
    return f"floor(({x}) * {10 ** digits} + 0.5)"


def snap_sql(x: str, digits: int) -> str:
    return f"{units_sql(x, digits)} / {10 ** digits}"


def units(x: Column, digits: int) -> Column:
    return F.floor(x * 10 ** digits + 0.5)


def snap(x: Column, digits: int) -> Column:
    return units(x, digits) / 10 ** digits


def units_np(x, digits: int):
    return np.floor(x * 10.0 ** digits + 0.5)


def snap_np(x, digits: int):
    return units_np(x, digits) / 10.0 ** digits
