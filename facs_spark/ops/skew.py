"""Explicit skew handling (north rule: "partitioning / shuffle / skew
handled explicitly").

Three layers, used in this order:

1. **Map-side partials** (ops/sketch_agg.py): sketch aggregations
   never shuffle raw rows, so a 60%-mass ``lang='en'`` key costs one
   blob row per partition like any other key — skew is structurally
   absent.  This is the preferred path.
2. **AQE** (session.py enables ``skewJoin`` + partition coalescing)
   re-splits skewed shuffle partitions at runtime for plain joins.
3. **Explicit salting** (this module's ``salted_join``) for a join
   whose key is hot enough to straggle and whose small side is too
   big to broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_join(big: DataFrame, small: DataFrame, key: str,
                nsalt: int = 16, how: str = "inner") -> DataFrame:
    """Skew-safe equi-join: salt the big side, replicate the small side
    per salt value, join on (key, salt).

    The hot key's rows spread over ``nsalt`` reducers instead of one.
    Use when the small side is too big to broadcast but the key
    distribution is hot enough to straggle.

    Only inner/left are supported: the small side is replicated per
    salt, so right/full outer would emit ``nsalt`` copies of every
    unmatched small-side row.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(f"salted_join supports inner/left only, got {how!r}")
    big_s = big.withColumn("_salt", F.pmod(F.monotonically_increasing_id(),
                                           F.lit(nsalt)))
    # salt replication as explode(sequence) — pure codegen fan-out,
    # no BroadcastNestedLoopJoin node (the crossJoin-with-range shape
    # this replaces planned one; bounded, but a join node for nothing)
    small_r = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(nsalt - 1))))
    out = big_s.join(small_r, [key, "_salt"], how)
    return out.drop("_salt")

