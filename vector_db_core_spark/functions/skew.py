"""Skew mitigation: salted two-phase aggregation.

At 100 TB a handful of hot keys can pin an aggregation or join to a
few straggler tasks. Joins get runtime skew-splitting from AQE
(``spark.sql.adaptive.skewJoin``, on by Spark's default); aggregations
over DECOMPOSABLE functions (count/sum/min/max) can always be salted
by hand: spread each key over N salt buckets, partially aggregate on
(key, salt) — at most N rows per hot key survive per partition after
map-side combine — then aggregate the N partials per key.

Note Spark's partial aggregation already handles *most* agg skew
(map-side combine bounds reducer input by distinct-keys-per-partition,
not rows). Salting matters for the second-order case: when even the
per-key partials concentrate (e.g. huge distinct sub-keys per hot key,
or combine disabled) — and for teaching the pattern joins need when
AQE can't see the skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_counts_sums(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, Column | None] | list[str],
    n_salts: int = 16,
) -> DataFrame:
    """groupBy(keys) with count(*) + SUMs, skew-proofed by salting.

    Phase 1 groups by (keys..., salt) — the hot key's rows split over
    ``n_salts`` reducers; phase 2 re-aggregates the tiny partials.
    Results are identical to the unsalted aggregate for decomposable
    functions (tested); cost is one extra (cheap) shuffle over
    ``n_salts x |keys|`` partial rows.

    The salt is derived from a hash of the whole row's partition
    position, not rand(), so the plan stays deterministic.
    """
    if not isinstance(sums, dict):
        sums = {c: None for c in sums}
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts)).alias("_salt")
    partial = (
        df.select(*keys, salt, *[(expr if expr is not None else F.col(c)).alias(c) for c, expr in sums.items()])
        .groupBy(*keys, "_salt")
        .agg(
            F.count("*").alias("_pn"),
            *[F.sum(c).alias(f"_ps_{c}") for c in sums],
        )
    )
    return (
        partial.groupBy(*keys)
        .agg(
            F.sum("_pn").alias("n"),
            *[F.sum(f"_ps_{c}").alias(f"sum_{c}") for c in sums],
        )
    )
