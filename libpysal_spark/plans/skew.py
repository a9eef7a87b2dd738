"""Explicit skew handling: salted self-joins for heavy-hitter keys.

AQE's skew-join splitting handles most runtime skew, but the *quadratic*
self-joins in this engine (block/regime weights, coincident-geocode cliques)
can have single keys whose pair-count alone exceeds a task's capacity — at
web scale one host-label or one downtown tile can hold millions of rows, and
AQE cannot split a single build-side key.

``salted_self_join`` implements the classic replicate-and-salt scheme for a
self-join on a key: the left side gets a random-free, DETERMINISTIC salt
``pmod(hash(id), s)``; the right side is replicated s times; the join key
becomes (key, salt). Output is identical to the unsalted join (verified in
tests), but the biggest shuffle partition shrinks by ~s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_self_join(
    labels: DataFrame,
    key_col: str,
    id_col: str = "id",
    salt: int = 8,
) -> DataFrame:
    """All ordered pairs (focal != neighbor) sharing ``key_col`` — salted.

    Equivalent to ``a JOIN b ON a.key = b.key AND a.id != b.id`` with the
    left side salted and the right side replicated; deterministic (salt from
    xxhash64 of the id, not rand()) so output is cluster-size-invariant.
    """
    a = labels.select(
        F.col(key_col).alias("__k"),
        F.col(id_col).alias("focal"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)).alias("__salt"),
    )
    b = (
        labels.select(F.col(key_col).alias("__k"), F.col(id_col).alias("neighbor"))
        .withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    )
    return (
        a.join(b, ["__k", "__salt"])
        .filter(F.col("focal") != F.col("neighbor"))
        .select("focal", "neighbor")
    )
