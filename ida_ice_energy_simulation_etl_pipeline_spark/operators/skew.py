"""Skew mitigation: two-phase salted aggregation.

AQE's skew handling (enabled in session.py) splits oversized shuffle
partitions, but a single pathological hot key — one building_id with
half the rows, one document shingle shared corpus-wide — still lands
all its rows on one reducer of a plain GROUP BY.  Salting is the
explicit remedy: ``salted_agg`` pre-aggregates on (keys, salt), then
finishes on keys.  Both phases are hash aggregates with map-side
combine; the salt bounds the per-reducer group size in phase 1.

It is a pure DataFrame composition — no RDDs, no UDFs — so Catalyst
still prunes/pushes through it.  Salt values never reach the result,
so determinism of outputs is unaffected by the RNG.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.core import QuerySpec, load_table

DEFAULT_SALTS = 8
_SALT = "__salt"


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, Column],
    *,
    n_salts: int = DEFAULT_SALTS,
    seed: int = 42,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    ``aggs`` maps output column name → aggregate over the input (only
    decomposable aggregates: sum / count / min / max).  Phase 1 computes
    them per (keys, salt); phase 2 re-combines per keys with ``sum`` for
    sum/count outputs and min/max for the rest — pass ``combine`` names
    via the column's metadata-free convention: this helper recombines
    everything with SUM except columns named ``min_*`` / ``max_*``.
    """
    salted = df.withColumn(_SALT, F.floor(F.rand(seed) * n_salts).cast("int"))
    phase1 = salted.groupBy(*keys, _SALT).agg(
        *[c.alias(name) for name, c in aggs.items()]
    )

    def _combine(name: str) -> Column:
        if name.startswith("min_"):
            return F.min(name).alias(name)
        if name.startswith("max_"):
            return F.max(name).alias(name)
        return F.sum(name).alias(name)

    return phase1.groupBy(*keys).agg(*[_combine(name) for name in aggs])


# --------------------------------------------------------------------------
# Registered query: the salted rollup as a driver-verifiable operator.
# The salt is rand(seed) — partition-layout-dependent — but the OUTPUT is
# salt-invariant (sums/counts/min/max recombine exactly), so a plain
# GROUP BY oracle hash-matches it: the determinism claim in the module
# docstring gets a cross-engine proof, not just a local equivalence test.
def skew_resilient_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": F.count(F.lit(1)),
            "sum_value": F.sum("value"),
            "min_value": F.min("value"),
            "max_value": F.max("value"),
        },
    )
    return out.select(
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
        F.round(F.col("sum_value") / F.col("n_events"), 4).alias("avg_value"),
    )


SKEW_RESILIENT_ROLLUP_SQL = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value,
       round(sum(value) / count(*), 4) AS avg_value
FROM events
GROUP BY event_type
"""


# Promoted into the driver window in round 7 (second wave): the salted
# two-phase aggregate earns its first independent driver row.
SPECS: list[QuerySpec] = [
    QuerySpec(
        "skew_resilient_rollup",
        skew_resilient_rollup,
        SKEW_RESILIENT_ROLLUP_SQL,
        "ext:skew,salting,A1",
    ),
]
