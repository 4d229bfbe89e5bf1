"""Vector helpers for embedding columns (array<float>).

Exact fixed-point arithmetic (portable.int_vec/int_dot) keeps cosine
scores bit-identical across engines and across Spark partition orders —
float summation order never matters because the sums are integers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from uda_spark.functions import portable


def int_vec(col: str) -> Column:
    return F.expr(portable.int_vec(col, "spark"))


def cosine(a: str, b: str, na_sq: str, nb_sq: str) -> Column:
    """Deterministic double cosine from fixed-point vectors + cached norms."""
    dot = portable.int_dot(a, b, "spark")
    return F.expr(portable.cosine_from_ints(dot, na_sq, nb_sq))
