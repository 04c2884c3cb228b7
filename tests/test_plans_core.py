"""plans/core.py unit coverage that does not fit the parity suites.

The one resident today is the ``free_local_checkpoint`` regression
test the r14 verdict asked for (item 4): the function reaches through
private JVM internals (``_jdf.queryExecution().analyzed().rdd()``)
with a swallow-all except, so a PySpark upgrade that moves any link in
that chain would silently turn the block release into a no-op and the
"Not enough memory to build and broadcast" flake it fixes would
quietly return.  This test makes that drift LOUD: it asserts the
reach-through actually removes a localCheckpoint's cached blocks from
the block manager on the pinned Spark version.
"""

from __future__ import annotations

import time

from ida_ice_energy_simulation_etl_pipeline_spark.plans.core import (
    checkpointed_bytes,
    free_local_checkpoint,
    local_checkpoint_partitioned,
    outgrows_broadcast,
)


def _cached_rdd_ids(spark) -> set[int]:
    """Ids of RDDs currently holding cached partitions, straight from
    the JVM block-manager view (getRDDStorageInfo lists only persisted
    RDDs; an unpersisted one drops out or reports zero partitions)."""
    return {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.numCachedPartitions() > 0
    }


def test_free_local_checkpoint_releases_blocks(spark):
    base = _cached_rdd_ids(spark)
    df = spark.range(10_000).localCheckpoint(eager=True)
    created = _cached_rdd_ids(spark) - base
    # eager localCheckpoint MUST cache blocks; if this fails the API
    # changed underneath us and the whole release discipline needs a
    # fresh look, not just this helper
    assert created, "localCheckpoint(eager=True) cached no RDD blocks"

    # the reach-through path itself must resolve on this Spark version
    # (the function swallows failures by design, so probe it directly)
    jrdd = df._jdf.queryExecution().analyzed().rdd()
    assert jrdd is not None

    free_local_checkpoint(df)
    # unpersist(blocking=False): poll briefly for the async removal
    deadline = time.monotonic() + 20.0
    while time.monotonic() < deadline:
        if not (created & _cached_rdd_ids(spark)):
            break
        time.sleep(0.2)
    leftover = created & _cached_rdd_ids(spark)
    assert not leftover, (
        f"free_local_checkpoint left blocks cached for RDDs {leftover} — "
        "the private-API reach-through no longer unpersists; update "
        "plans/core.py::free_local_checkpoint for this Spark version"
    )


def test_local_checkpoint_partitioned_keeps_hash_partitioning(spark):
    """The r15 iterative-kernel contract: a checkpoint captured through
    local_checkpoint_partitioned KEEPS its HashPartitioning visible to
    downstream planning (a plain localCheckpoint under AQE degrades to
    UnknownPartitioning — the motivating defect, asserted below), so a
    downstream aggregate keyed on the preserved key plans WITHOUT an
    Exchange.  pagerank_frame's per-round zero-exchange join rests on
    exactly this property."""
    from pyspark.sql import functions as F

    base = spark.range(2_000).select(
        (F.col("id") % 37).alias("k"), F.col("id").alias("v")
    )

    def _fmt_plan(df) -> str:
        jvm = df.sparkSession._jvm
        return jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    kept = local_checkpoint_partitioned(base.repartition(4, "k"))
    plan = _fmt_plan(kept.groupBy("k").count())
    assert "hashpartitioning(k" in plan, (
        "partitioned checkpoint lost its HashPartitioning:\n" + plan
    )
    assert "Exchange" not in plan, (
        "groupBy on the preserved key still plans an Exchange:\n" + plan
    )
    # release discipline unchanged: the helper's output is a plain
    # checkpoint frame that free_local_checkpoint can unpersist
    free_local_checkpoint(kept)

    # the motivating defect, pinned as an OBSOLESCENCE CANARY (r15
    # ADVICE: a warning, not a hard failure, so an upgrade triage reads
    # it as "remove the helper", not as a regression): a Spark version
    # that fixes AQE partitioning capture makes the helper redundant.
    plain = base.repartition(4, "k").localCheckpoint(eager=True)
    plain_plan = _fmt_plan(plain.groupBy("k").count())
    if "UnknownPartitioning" not in plain_plan:
        import warnings

        warnings.warn(
            "plain localCheckpoint now keeps partitioning under AQE — "
            "local_checkpoint_partitioned is likely obsolete on this "
            "Spark version and can be retired",
            stacklevel=1,
        )
    free_local_checkpoint(plain)


def test_local_checkpoint_partitioned_survives_prior_compile(spark):
    """A Dataset memoizes its QueryExecution: a frame that was already
    explained (or executed) before the capture would otherwise reuse its
    AQE-compiled plan and silently lose the partitioning.  The helper
    re-wraps into a fresh Dataset, so a pre-compiled input still keeps
    its HashPartitioning."""
    from pyspark.sql import functions as F

    base = spark.range(1_000).select(
        (F.col("id") % 13).alias("k"), F.col("id").alias("v")
    ).repartition(4, "k")
    base.explain()  # memoize an AQE-compiled QueryExecution first
    kept = local_checkpoint_partitioned(base)
    plan = spark._jvm.PythonSQLUtils.explainString(
        kept.groupBy("k").count()._jdf.queryExecution(), "formatted"
    )
    assert "hashpartitioning(k" in plan and "Exchange" not in plan, (
        "pre-compiled input lost its partitioning through the capture:\n"
        + plan
    )
    free_local_checkpoint(kept)


def test_local_checkpoint_partitioned_restores_aqe_conf(spark):
    """The helper toggles spark.sql.adaptive.enabled around the compile;
    the session value must come back for both eager and lazy modes."""
    before = spark.conf.get("spark.sql.adaptive.enabled")
    eager = local_checkpoint_partitioned(spark.range(100).repartition(2))
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    lazy = local_checkpoint_partitioned(
        spark.range(100).repartition(2), eager=False
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    assert lazy.count() == 100  # lazy compiles here, materializes now
    free_local_checkpoint(eager)
    free_local_checkpoint(lazy)


def test_free_local_checkpoint_is_noop_on_plain_frames(spark):
    """A non-checkpointed frame (or any projection on top of one) lands
    in the except path by design: no exception escapes, nothing else's
    blocks are touched."""
    base = _cached_rdd_ids(spark)
    keep = spark.range(1_000).localCheckpoint(eager=True)
    kept_ids = _cached_rdd_ids(spark) - base
    assert kept_ids
    free_local_checkpoint(spark.range(50).selectExpr("id * 2 AS x"))
    assert kept_ids <= _cached_rdd_ids(spark)
    free_local_checkpoint(keep)  # cleanup


def test_regime_probe_reads_checkpoint_size(spark):
    """API-drift canary for the CC/LPA regime selector: the storage-info
    reach-through must see an eager localCheckpoint's bytes, and the
    regime must flip with the broadcast threshold.  A probe that fell
    back to -1 would silently pin every kernel to the plain regime."""
    df = spark.range(1000).localCheckpoint(eager=True)
    try:
        assert checkpointed_bytes(df) > 0
        assert not outgrows_broadcast(df)
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "1b")
        try:
            assert outgrows_broadcast(df)
        finally:
            spark.conf.set(key, old)
    finally:
        free_local_checkpoint(df)
