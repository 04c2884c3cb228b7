"""Load: star schema → parquet / warehouse tables + analytical views.

Reference sinks re-expressed (src/etl/load/__init__.py):

* S8 — ``load_to_parquet`` (:15-33): one parquet directory per table.
  Facts are Spark writes and can partition by building_id so keyed
  lookups prune partitions (off by default — tiny fixtures would
  fragment); the driver-built dims are Arrow tables, each written as one
  file by pyarrow without a Spark job.
* S9/S10 — ``load_to_warehouse`` (:36-64, :188-220): saveAsTable into the
  session catalog, then the three analytical views.
* S11 — ``query`` (:167-185): ``spark.sql`` with the same identifier
  guard (:209-210).
* The views (:75-163) become Spark SQL views — Catalyst re-optimizes them
  per query exactly as DuckDB does, with dims broadcast and the fact↔fact
  joins left to AQE.
"""

from __future__ import annotations

import re
import shutil
from collections.abc import Callable, Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_IDENTIFIER = re.compile(r"^[a-zA-Z0-9_]+$")

# Fact tables that benefit from partition pruning on keyed lookups.
PARTITION_COLUMNS: dict[str, list[str]] = {
    "fact_meters": ["building_id"],
    "fact_weather": ["building_id"],
}

# The three analytical views (semantics of reference load/__init__.py:75-163,
# re-stated as Spark SQL over the star schema).
VIEW_DDL: dict[str, str] = {
    # J5 — zone comfort joined to outdoor conditions (reference :83-103).
    # Full column parity with the reference view, including the time
    # breakdown and building convenience columns a dashboard query
    # would select (year/month/day/hour/is_weekend, building_name,
    # location, relhum_pct) under the reference's own names.
    "vw_zone_with_weather": """
        SELECT t.timestamp,
               t.year,
               t.month,
               t.day,
               t.hour,
               t.is_weekend,
               b.building_id,
               b.building_name,
               b.location,
               z.zone_id,
               z.zone_name,
               f.scenario_id,
               f.air_temp_C,
               f.setpoint_C,
               f.air_temp_C - f.setpoint_C AS temp_deviation,
               f.co2_ppm,
               f.rh_pct,
               w.drybulb_C,
               w.relhum_pct,
               w.ghi_W_m2
        FROM fact_zone_conditions f
        JOIN dim_time t      ON f.time_key = t.time_key
        JOIN dim_zone z      ON f.zone_key = z.zone_key
        JOIN dim_building b  ON z.building_id = b.building_id
        JOIN fact_weather w  ON w.time_key = f.time_key
                            AND w.building_id = b.building_id
    """,
    # J6 — the flagship 5-way join: HVAC × meters × weather (reference
    # :106-138), same full-column parity (electric_kwh, outdoor_rh_pct
    # and the time/building convenience columns use the reference names).
    "vw_hvac_with_meters": """
        SELECT t.timestamp,
               t.year,
               t.month,
               t.day,
               t.hour,
               t.is_weekend,
               b.building_id,
               b.building_name,
               a.ahu_id,
               h.scenario_id,
               h.supply_temp_C,
               h.return_temp_C,
               h.power_kw,
               h.cooling_kw,
               h.heating_kw,
               h.cop_proxy,
               m.electric_kwh,
               m.heating_kwh  AS meter_heating_kwh,
               m.cooling_kwh  AS meter_cooling_kwh,
               w.drybulb_C    AS outdoor_temp_C,
               w.relhum_pct   AS outdoor_rh_pct
        FROM fact_hvac h
        JOIN dim_time t      ON h.time_key = t.time_key
        JOIN dim_ahu a       ON h.ahu_key = a.ahu_key
        JOIN dim_building b  ON a.building_id = b.building_id
        JOIN fact_meters m   ON m.time_key = h.time_key
                            AND m.building_id = b.building_id
                            AND m.scenario_id = h.scenario_id
        JOIN fact_weather w  ON w.time_key = h.time_key
                            AND w.building_id = b.building_id
    """,
    # J7/A1 — per-building/scenario energy rollup (reference :141-163),
    # column names matching the reference view exactly (num_hours,
    # scenario_description, avg_*_kw) so ported queries run unchanged.
    "vw_energy_summary": """
        SELECT b.building_id,
               b.building_name,
               s.scenario_id,
               s.description               AS scenario_description,
               COUNT(DISTINCT t.time_key)  AS num_hours,
               SUM(m.electric_kwh)         AS total_electric_kwh,
               SUM(m.heating_kwh)          AS total_heating_kwh,
               SUM(m.cooling_kwh)          AS total_cooling_kwh,
               AVG(m.electric_kwh)         AS avg_electric_kw,
               AVG(m.heating_kwh)          AS avg_heating_kw,
               AVG(m.cooling_kwh)          AS avg_cooling_kw
        FROM fact_meters m
        JOIN dim_building b ON m.building_id = b.building_id
        JOIN dim_scenario s ON m.scenario_id = s.scenario_id
        JOIN dim_time t     ON m.time_key = t.time_key
        GROUP BY b.building_id, b.building_name, s.scenario_id, s.description
    """,
}


def _check_identifier(name: str) -> None:
    if not _IDENTIFIER.match(name):
        raise ValueError(f"invalid table identifier: {name!r}")


def range_clustered(df: DataFrame, cols: list[str]) -> DataFrame:
    """``df`` ``repartitionByRange`` + ``sortWithinPartitions`` on
    ``cols`` — the data-skipping layout for a following write.  Parquet
    records min/max stats per file and per row group; range-clustering
    makes every output file's key interval NARROW and pairwise disjoint,
    so a reader's pushed-down range predicate prunes whole files (and row
    groups inside the survivors) instead of scanning them.  At 100 TB this
    is the second pruning dimension after partitionBy (partition pruning
    cuts directories; clustered files cut within the survivors), bought
    with ONE range shuffle at write time and amortized over every
    subsequent time-range query."""
    return df.repartitionByRange(*cols).sortWithinPartitions(*cols)


def load_to_parquet(
    star: Mapping[str, DataFrame | pa.Table],
    out_dir: str | Path,
    *,
    partition_facts: bool = False,
) -> dict[str, str]:
    """Write every star table as parquet (reference load:15-33), one
    directory per table.  A DataFrame is a Spark write (facts may
    partition by building_id); an Arrow table — a driver-built dim — is
    ONE ``part-00000.parquet`` written with pyarrow, no Spark job.  Either
    replaces what the directory held.  Returns {table: path}."""
    out_dir = Path(out_dir)
    paths = {}

    def write(table: str, data: DataFrame | pa.Table) -> None:
        path = out_dir / table
        if isinstance(data, pa.Table):
            shutil.rmtree(path, ignore_errors=True)
            path.mkdir(parents=True)
            # Spark rejects TIMESTAMP(NANOS); it reads micros as TimestampType.
            pq.write_table(data, path / "part-00000.parquet", coerce_timestamps="us")
        else:
            writer = data.write.mode("overwrite")
            if partition_facts and table in PARTITION_COLUMNS:
                writer = writer.partitionBy(*PARTITION_COLUMNS[table])
            writer.parquet(str(path))
        paths[table] = str(path)

    for table in star:
        _check_identifier(table)
    # The Spark writes are independent jobs; driver threads let Spark
    # schedule them side by side instead of paying serial job latencies.
    with ThreadPoolExecutor(max_workers=min(4, len(star) or 1)) as pool:
        list(pool.map(lambda kv: write(*kv), star.items()))
    return paths


def load_to_warehouse(
    spark: SparkSession,
    star: dict[str, DataFrame],
    *,
    database: str = "energy",
    with_views: bool = True,
    bucket_specs: dict[str, tuple[int, list[str]]] | None = None,
) -> None:
    """Register the star schema as catalog tables + views (reference
    load:36-64).

    ``bucket_specs`` maps table → (n_buckets, bucket_columns): the table is
    written ``bucketBy(n, cols).sortBy(cols)``.  Two fact tables bucketed
    on their join key with the same bucket count join WITHOUT any exchange
    — the shuffle is paid once at write time and amortized over every
    subsequent join (the co-location contract a 100 TB fact⋈fact workload
    needs; pinned by ``test_bucketed_join_avoids_shuffle``).
    """
    _check_identifier(database)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for table, df in star.items():
        _check_identifier(table)
        writer = df.write.mode("overwrite")
        spec = (bucket_specs or {}).get(table)
        if spec is not None:
            n_buckets, cols = spec
            writer = writer.bucketBy(n_buckets, *cols).sortBy(*cols)
        writer.saveAsTable(f"{database}.{table}")
    if with_views:
        create_views(spark, database=database)


def register_temp_views(spark: SparkSession, star: dict[str, DataFrame]) -> None:
    """Session-scoped alternative to a persistent warehouse: temp views +
    the analytical views on top (no filesystem writes)."""
    for table, df in star.items():
        _check_identifier(table)
        df.createOrReplaceTempView(table)
    for view, body in VIEW_DDL.items():
        spark.sql(f"CREATE OR REPLACE TEMP VIEW {view} AS {body}")


def create_views(spark: SparkSession, *, database: str = "energy") -> None:
    """The three analytical views (reference load:67-164)."""
    _check_identifier(database)
    spark.sql(f"USE {database}")
    for view, body in VIEW_DDL.items():
        spark.sql(f"CREATE OR REPLACE VIEW {view} AS {body}")


def query(spark: SparkSession, sql: str) -> DataFrame:
    """Ad-hoc SQL entry point (reference query_duckdb, load:167-185)."""
    return spark.sql(sql)


def merge_upsert_parquet(
    spark: SparkSession,
    batch: DataFrame,
    path: str | Path,
    keys: list[str],
    partition_col: str,
) -> list[str]:
    """Incrementally MERGE a batch into a partitioned parquet table.

    The reference's only incremental behavior is a daily FULL re-run with
    a content-hash publish skip (SURVEY §2.10); at 100 TB a full rewrite
    per day is untenable, so this is the hand-rolled equivalent of a
    table-format MERGE (Delta/Iceberg upsert), built from Spark
    primitives:

    1. partitions touched by the batch = its distinct ``partition_col``
       values (a tiny driver-side list — partition values are
       low-cardinality by design);
    2. survivors = existing rows of ONLY those partitions (partition
       pruning keeps the read proportional to the batch, not the table)
       minus rows whose key is replaced (left-anti join on ``keys``);
    3. survivors ∪ batch written with dynamic
       ``partitionOverwriteMode`` — Spark replaces exactly the touched
       partition directories and leaves every other partition's files
       untouched on disk.

    The survivor set is ``localCheckpoint``-ed before the write: Spark
    (correctly) refuses to overwrite a path that its own read lineage
    depends on, and the checkpoint cuts that lineage.  The materialized
    set is bounded by the touched partitions' size — the same working
    set a real MERGE holds.  Returns the touched partition values.
    """
    path = Path(path)
    # A crashed compaction may have left the live table under ._retired:
    # roll it back (or refuse on ambiguity) BEFORE the empty-table branch
    # below could recreate the table from just this batch and strand the
    # pre-crash rows.
    retired = path.with_name(path.name + "._retired")
    if retired.exists():
        if not path.exists():
            retired.rename(path)
        else:
            raise RuntimeError(
                f"{retired} and {path} both exist — reconcile the crashed "
                "compaction before merging"
            )
    writer_cols = batch.columns
    if not path.exists():
        batch.write.partitionBy(partition_col).parquet(str(path))
        return sorted(
            str(r[0]) for r in batch.select(partition_col).distinct().collect()
        )
    touched = [
        r[0] for r in batch.select(partition_col).distinct().collect()
    ]
    # NULL-safe membership: isin() never matches NULL, but dynamic
    # overwrite WILL replace __HIVE_DEFAULT_PARTITION__ when the batch
    # carries null partition values — without this, null-partition
    # survivors would be silently deleted instead of preserved.
    member = F.col(partition_col).isin([t for t in touched if t is not None])
    if any(t is None for t in touched):
        member = member | F.col(partition_col).isNull()
    existing = spark.read.parquet(str(path)).filter(member)
    survivors = existing.join(
        batch.select(*keys).distinct(), keys, "left_anti"
    )
    out = survivors.select(*writer_cols).unionByName(
        batch
    ).localCheckpoint()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.mode("overwrite").partitionBy(partition_col).parquet(str(path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return sorted(str(t) for t in touched)


def compact_parquet(
    spark: SparkSession,
    path: str | Path,
    *,
    target_mb: int = 128,
    sort_by: list[str] | None = None,
) -> dict[str, int]:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(bytes / target_mb)`` right-sized files.

    Streaming sinks and frequent MERGE batches accrete small files; at
    100 TB a scan pays per-file open/footer costs and the scheduler pays
    per-split overhead, so periodic compaction is standard table
    maintenance (what OPTIMIZE does in table formats).  ``sort_by``
    additionally range-clusters during the rewrite (the
    ``range_clustered`` data-skipping layout), so one
    maintenance pass buys both fewer files AND narrow per-file min/max
    stats.  A Hive-partitioned layout (``col=value`` directories — what
    ``merge_upsert_parquet`` and the streaming upsert sink write) is
    detected from the data-file paths and PRESERVED: each partition
    directory is compacted in place, so partition pruning and subsequent
    dynamic-partition merges keep working.

    The rewrite is staged next to the target and swapped in with two
    renames.  Readers can hit a brief not-found window between them
    (local-FS rename gives no atomic directory swap; a table format's
    metadata pointer is the real fix).  Crash recovery is CONSERVATIVE:
    a leftover ``._retired`` directory rolls back automatically only
    when the table path itself is missing (crash exactly between the two
    renames); if BOTH exist — e.g. another writer recreated the table
    after the crash — the function refuses to run rather than guess
    which copy is authoritative, because deleting ``._retired`` on a
    guess would silently discard the pre-crash table.  Returns
    {"files_before", "files_after", "bytes"}.
    """
    path = Path(path)
    staging = path.with_name(path.name + "._compacting")
    retired = path.with_name(path.name + "._retired")
    shutil.rmtree(staging, ignore_errors=True)  # staged data is never unique
    if retired.exists():
        if not path.exists():
            retired.rename(path)  # crashed between the two renames: roll back
        else:
            raise RuntimeError(
                f"{retired} and {path} both exist (crash followed by new "
                "writes?) — reconcile manually before compacting; refusing "
                "to delete either copy"
            )

    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    total = sum(p.stat().st_size for p in files)
    target_bytes = target_mb * 1024 * 1024
    n_out = max(1, -(-total // target_bytes))
    # partition columns, in nesting order, from any data file's dirs
    part_cols: list[str] = []
    if files:
        for seg in files[0].relative_to(path).parts[:-1]:
            if "=" in seg:
                part_cols.append(seg.split("=", 1)[0])
    df = spark.read.parquet(str(path))
    if part_cols:
        # Distribute WITHIN each Hive partition too: hashing on the
        # partition columns alone would land a whole partition value in
        # one task (one arbitrarily large output file, zero rewrite
        # parallelism), so a deterministic row-hash salt sized from the
        # LARGEST partition directory spreads each value over enough
        # tasks that every output file still targets ~target_mb.
        by_dir: dict[str, int] = {}
        for f in files:
            by_dir[f.relative_to(path).parts[0]] = (
                by_dir.get(f.relative_to(path).parts[0], 0) + f.stat().st_size
            )
        max_part = max(by_dir.values(), default=0)
        salt_n = max(1, -(-max_part // target_bytes))
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_n))
        keys = [F.col(c) for c in (sort_by or [])] or [salt]
        df = df.repartitionByRange(
            n_out, *[F.col(c) for c in part_cols], *keys
        )
        if sort_by:
            df = df.sortWithinPartitions(*part_cols, *sort_by)
    elif sort_by:
        df = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.repartition(n_out)
    writer = df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(str(staging))
    path.rename(retired)
    staging.rename(path)
    shutil.rmtree(retired)
    after = len([p for p in path.rglob("*.parquet") if p.is_file()])
    return {"files_before": len(files), "files_after": after, "bytes": total}


def zorder_cluster(
    df: DataFrame,
    cols: list[str],
    *,
    bits: int = 8,
    n_files: int | None = None,
) -> DataFrame:
    """Z-order (Morton-curve) clustering for MULTI-column data skipping.

    ``repartitionByRange(sort_col)`` (``range_clustered``)
    narrows per-file min/max stats on ONE column; queries filtering the
    second column still scan everything.  Z-ordering interleaves the bit
    patterns of each column's normalized bucket, so files cover a small
    hyper-rectangle of the combined key space and parquet min/max stats
    stay narrow on EVERY participating column — the multi-dimension
    layout OPTIMIZE ZORDER BY provides in table formats.

    Buckets are value-normalized against broadcast per-column min/max
    (one tiny extra aggregate over the input — no driver collect), the
    interleave is a folded shift/or expression (pure codegen), and the
    result is range-partitioned + sorted on the z-value, ready to write.
    Skewed columns get skewed buckets — production would swap the linear
    normalization for quantile buckets; the interleave is unchanged.
    """
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    )
    out = df.crossJoin(F.broadcast(stats))
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i in range(bits - 1, -1, -1):  # high bits first
        for j, c in enumerate(cols):
            span = F.col(f"mx_{c}") - F.col(f"mn_{c}")
            bucket = F.least(
                F.lit(top),
                F.floor(
                    (F.col(c).cast("double") - F.col(f"mn_{c}"))
                    / F.when(span > 0, span).otherwise(F.lit(1.0))
                    * (top + 1)
                ),
            ).cast("long")
            bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1))
            z = F.shiftleft(z, 1).bitwiseOR(bit)
    out = out.withColumn("_z", z).drop(
        *[f"mn_{c}" for c in cols], *[f"mx_{c}" for c in cols]
    )
    parts = [n_files] if n_files else []
    return (
        out.repartitionByRange(*parts, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def vacuum_partitions(
    path: str | Path,
    partition_col: str,
    keep: Callable[[str], bool],
) -> list[str]:
    """Retention sweep over a Hive-partitioned table: drop every
    ``partition_col=value`` directory whose value fails ``keep``.

    Pure directory-level deletes — no Spark job, no data rewrite: with a
    date-valued partition column this is the O(1)-per-partition retention
    pass (e.g. ``keep=lambda ds: ds >= cutoff``) that pairs with the
    MERGE/compaction maintenance suite.  Values are the raw Hive
    directory-name strings (dates in ISO form order correctly), INCLUDING
    the ``__HIVE_DEFAULT_PARTITION__`` sentinel for null partition values
    — a date-parsing ``keep`` must handle it explicitly or it is retained
    forever.  All ``keep`` decisions are made BEFORE the first delete, so
    a raising callback aborts the sweep cleanly instead of leaving a
    half-vacuumed table.  A missing table is a no-op.  Returns the
    dropped partition values.
    """
    path = Path(path)
    if not path.exists():
        return []
    prefix = f"{partition_col}="
    # two-phase: decide everything first, then delete — keep() errors
    # must not strand a partially-swept table
    doomed = [
        d
        for d in sorted(path.iterdir())
        if d.is_dir()
        and d.name.startswith(prefix)
        and not keep(d.name[len(prefix):])
    ]
    dropped = []
    for d in doomed:
        shutil.rmtree(d)
        dropped.append(d.name[len(prefix):])
    return dropped


def snapshot_diff(
    spark: SparkSession,
    old_path: str | Path,
    new_path: str | Path,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """CDC-style diff of two parquet snapshots of the same table.

    Returns one row per key present in either snapshot, with ``status`` ∈
    {added, removed, changed, unchanged} — ``changed`` compares an md5
    over the row's JSON encoding (``to_json`` of a struct with
    ``ignoreNullFields=false``): NULLs are encoded explicitly and
    strings are quoted, so a NULL↔value swap between columns or a
    separator character inside a value can never collide (both
    ``concat_ws`` AND Spark's ``hash``/``xxhash64`` silently SKIP null
    inputs and would miss such changes).  ``compare_cols`` defaults to
    the non-key columns present in
    BOTH snapshots (sorted) — columns added or dropped between versions
    are excluded from the comparison (schema evolution must not crash
    the diff; pass ``compare_cols`` explicitly to fail on asymmetry).
    Shape: two column-pruned scans + ONE key-aligned full outer join;
    the hash collapses arbitrary row width to 8 bytes before the
    exchange, so the shuffle moves keys + hashes, never payloads — the
    diff of two 100 TB snapshots costs two scans and one keyed shuffle.
    (For partitioned tables, diff partition by partition and skip
    partitions whose file listings are identical — the vacuum/compact
    maintenance pattern above.)
    """
    key_cols = list(key_cols)
    old = spark.read.parquet(str(old_path))
    new = spark.read.parquet(str(new_path))
    if compare_cols is None:
        compare_cols = sorted(
            (set(new.columns) & set(old.columns)) - set(key_cols)
        )
    compare_cols = list(compare_cols)
    if not compare_cols:
        raise ValueError("snapshot_diff: no shared non-key columns to compare")

    def hashed(df: DataFrame, out: str) -> DataFrame:
        h = F.md5(
            F.to_json(
                F.struct(*[F.col(c) for c in compare_cols]),
                {"ignoreNullFields": "false"},
            ).cast("binary")
        )
        return df.select(*key_cols, h.alias(out))

    o = hashed(old, "h_old")
    n = hashed(new, "h_new")
    status = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, key_cols, "full_outer").select(
        *key_cols, status.alias("status")
    )
