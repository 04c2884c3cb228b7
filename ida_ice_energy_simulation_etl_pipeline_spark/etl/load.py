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
from collections.abc import Mapping
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
) -> None:
    """Register the star schema as catalog tables + views (reference
    load:36-64)."""
    _check_identifier(database)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for table, df in star.items():
        _check_identifier(table)
        df.write.mode("overwrite").saveAsTable(f"{database}.{table}")
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
    """The three analytical views (reference load:67-164), created in
    ``database`` over its tables.  Every name is qualified, so temp views
    named like the star tables cannot shadow the tables, and the
    session's current database is left as it was."""
    _check_identifier(database)
    for view, body in VIEW_DDL.items():
        body = re.sub(r"\b(FROM|JOIN)(\s+)(\w+)", rf"\1\2{database}.\3", body)
        spark.sql(f"CREATE OR REPLACE VIEW {database}.{view} AS {body}")


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

