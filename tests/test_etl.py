"""ETL pipeline tests over reference-shaped fixtures (SURVEY.md §5 model:
fixture-in / DataFrame-out assertions + mutation testing for validators)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ida_ice_energy_simulation_etl_pipeline_spark.etl.export import (
    build_summary,
    validate_summary,
)
from ida_ice_energy_simulation_etl_pipeline_spark.etl.extract import (
    ExtractionError,
    check_run_coverage,
    extract_run_by_id,
    extract_runs,
    extract_runs_from_zips,
    parse_run_id,
)
from ida_ice_energy_simulation_etl_pipeline_spark.etl.load import (
    load_to_parquet,
    load_to_warehouse,
    query,
    range_clustered,
    register_temp_views,
)
from ida_ice_energy_simulation_etl_pipeline_spark.etl.pipeline import (
    ValidationGateError,
    run_pipeline,
)
from ida_ice_energy_simulation_etl_pipeline_spark.etl.transform import transform_all
from ida_ice_energy_simulation_etl_pipeline_spark.etl.validate import validate_all
from ida_ice_energy_simulation_etl_pipeline_spark.fixtures import generate_dataset

HOURS = 48
N_ZONES = 3
N_AHUS = 2
BUILDINGS = ("BLDG_01", "BLDG_02")
SCENARIOS = ("BASE", "RETROFIT")
N_RUNS = len(BUILDINGS) * len(SCENARIOS)


@pytest.fixture(scope="module")
def runs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("runs")
    generate_dataset(
        d, buildings=BUILDINGS, scenarios=SCENARIOS, hours=HOURS,
        n_zones=N_ZONES, n_ahus=N_AHUS,
    )
    return d


@pytest.fixture(scope="module")
def entities(spark, runs_dir):
    return extract_runs(spark, runs_dir)


@pytest.fixture(scope="module")
def star(entities):
    return transform_all(entities)


def test_parse_run_id():
    assert parse_run_id("run_BLDG_01_BASE") == ("BLDG_01", "BASE")
    assert parse_run_id("run_B_RETROFIT") == ("B", "RETROFIT")


def test_extract_counts(entities):
    assert entities["zones"].count() == N_RUNS * HOURS * N_ZONES
    assert entities["hvac"].count() == N_RUNS * HOURS * N_AHUS
    assert entities["meters"].count() == N_RUNS * HOURS
    assert entities["metadata"].count() == N_RUNS
    # timestamps parsed, not strings
    assert dict(entities["zones"].dtypes)["timestamp"] == "timestamp"


def test_extract_zip_roundtrip(spark, tmp_path):
    generate_dataset(
        tmp_path, buildings=("BLDG_09",), scenarios=("BASE",), hours=12,
        n_zones=2, n_ahus=1, as_zip=True,
    )
    assert (tmp_path / "run_BLDG_09_BASE.zip").exists()
    ents = extract_runs_from_zips(spark, tmp_path, staging_dir=tmp_path / "staged")
    assert ents["zones"].count() == 12 * 2


def test_extract_missing_dir(spark, tmp_path):
    with pytest.raises(ExtractionError):
        extract_runs(spark, tmp_path / "nope")


def test_run_coverage_breaker(star):
    # the runs with meter rows come with the dim key set, with their sums
    assert star.meter_runs.keys() == {(b, s) for b in BUILDINGS for s in SCENARIOS}
    # all expected runs present → no trip
    check_run_coverage(star.meter_runs, ["run_BLDG_01_BASE"])
    # majority missing → trips with a bounded failure sample
    phantom = [f"run_PHANTOM_{i:02d}_BASE" for i in range(9)]
    with pytest.raises(ExtractionError, match=r"9/10 runs unreadable .*'PHANTOM_04'"):
        check_run_coverage(star.meter_runs, ["run_BLDG_01_BASE", *phantom])


def test_run_coverage_empty_manifest(star):
    # Empty expected set: nothing can have failed — must return cleanly.
    check_run_coverage(star.meter_runs, [])


def test_extract_run_by_id(spark, runs_dir):
    one = extract_run_by_id(spark, runs_dir, "BLDG_01", "BASE")
    assert one["meters"].count() == HOURS
    with pytest.raises(FileNotFoundError):
        extract_run_by_id(spark, runs_dir, "BLDG_99", "BASE")


def test_dims(star):
    assert star["dim_building"].count() == len(BUILDINGS)
    assert star["dim_scenario"].count() == len(SCENARIOS)
    assert star["dim_zone"].count() == len(BUILDINGS) * N_ZONES
    assert star["dim_ahu"].count() == len(BUILDINGS) * N_AHUS
    assert star["dim_time"].count() == HOURS
    # dense surrogate keys are 1..n
    keys = [r["zone_key"] for r in star["dim_zone"].orderBy("zone_key").collect()]
    assert keys == list(range(1, len(keys) + 1))


def test_dim_time_fields(star):
    row = star["dim_time"].orderBy("time_key").first()
    assert row["time_key"] == 1
    assert row["dow"] == 0  # 2024-01-01 is a Monday (pandas convention)
    assert row["is_weekend"] is False
    assert row["hour"] == 0


def test_dim_time_derived_strategy(entities):
    dt = transform_all(entities, time_key_strategy="derived")["dim_time"]
    rows = dt.orderBy("timestamp").collect()
    # derived keys are consecutive hours since epoch: join-stable arithmetic
    assert rows[1]["time_key"] - rows[0]["time_key"] == 1
    assert rows[0]["time_key"] == rows[0]["timestamp"].timestamp() // 3600


def test_facts(star):
    assert star["fact_zone_conditions"].count() == N_RUNS * HOURS * N_ZONES
    assert star["fact_hvac"].count() == N_RUNS * HOURS * N_AHUS
    assert star["fact_meters"].count() == N_RUNS * HOURS
    assert star["fact_weather"].count() == len(BUILDINGS) * HOURS
    # no dangling dim keys (left-join RI preserved)
    assert star["fact_zone_conditions"].filter(F.col("zone_key").isNull()).count() == 0
    assert star["fact_hvac"].filter(F.col("time_key").isNull()).count() == 0


def test_cop_proxy_null_semantics(star):
    hv = star["fact_hvac"]
    assert hv.filter((F.col("power_kw") < 1.0) & F.col("cop_proxy").isNotNull()).count() == 0
    assert hv.filter((F.col("power_kw") >= 1.0) & F.col("cop_proxy").isNull()).count() == 0


def test_validate_clean(star):
    report = validate_all(star)
    assert report["is_valid"], json.dumps(report, indent=2)


def test_validate_mutations(spark, star):
    # out-of-range temperature
    bad = dict(star)
    bad["fact_zone_conditions"] = star["fact_zone_conditions"].withColumn(
        "air_temp_C", F.lit(99.0)
    )
    rep = validate_all(bad)
    assert not rep["is_valid"]
    assert not rep["checks"]["ranges"]["valid"]

    # nulls in a required column
    bad2 = dict(star)
    bad2["fact_meters"] = star["fact_meters"].withColumn(
        "electric_kwh", F.lit(None).cast("double")
    )
    rep2 = validate_all(bad2)
    assert not rep2["checks"]["nulls"]["valid"]

    # temporal gap: drop half the hours from one fact
    bad3 = dict(star)
    bad3["fact_meters"] = star["fact_meters"].filter(F.col("time_key") <= HOURS // 2)
    rep3 = validate_all(bad3)
    assert not rep3["checks"]["temporal"]["valid"]

    # implausible energy: electric zeroed
    bad4 = dict(star)
    bad4["fact_meters"] = star["fact_meters"].withColumn("electric_kwh", F.lit(0.0))
    rep4 = validate_all(bad4)
    assert not rep4["checks"]["plausibility"]["valid"]


def test_validate_malformed_star_fails_report(star):
    """A star missing a table or a column is a failed report, not a crash
    (KeyError, UNRESOLVED_COLUMN): check_schema names what is missing, and
    the checks that need it are skipped."""
    no_meters = {t: df for t, df in star.items() if t != "fact_meters"}
    no_time = {t: df for t, df in star.items() if t != "dim_time"}
    no_co2 = dict(star)
    no_co2["fact_zone_conditions"] = star["fact_zone_conditions"].drop("co2_ppm")
    for bad, schema_error in (
        (no_meters, "missing table: fact_meters"),
        (no_time, "missing table: dim_time"),
        (no_co2, "fact_zone_conditions: missing columns ['co2_ppm']"),
    ):
        rep = validate_all(bad)
        assert not rep["is_valid"]
        assert rep["checks"]["schema"]["errors"] == [schema_error]
    # the null/range scan still runs on the columns that are there
    assert rep["checks"]["nulls"]["valid"]
    assert rep["checks"]["ranges"]["errors"] == [
        "fact_zone_conditions.co2_ppm: column missing, range not checked"
    ]


def test_views_and_query(spark, star):
    register_temp_views(spark, star)
    zw = query(spark, "SELECT * FROM vw_zone_with_weather")
    assert zw.count() == N_RUNS * HOURS * N_ZONES
    assert "temp_deviation" in zw.columns and "drybulb_C" in zw.columns
    assert "is_weekend" in zw.columns and "building_name" in zw.columns

    hm = query(spark, "SELECT * FROM vw_hvac_with_meters")
    assert hm.count() == N_RUNS * HOURS * N_AHUS
    assert "electric_kwh" in hm.columns and "outdoor_rh_pct" in hm.columns

    es = query(
        spark,
        "SELECT * FROM vw_energy_summary ORDER BY building_id, scenario_id",
    ).collect()
    assert len(es) == N_RUNS
    assert all(r["num_hours"] == HOURS for r in es)
    assert all(r["total_electric_kwh"] > 0 for r in es)

    # README-style analysis queries run through the same entry point
    comfort = query(
        spark,
        """
        SELECT building_id, zone_id, scenario_id,
               SUM(CASE WHEN ABS(temp_deviation) > 1.0 THEN 1 ELSE 0 END) AS n_violations
        FROM vw_zone_with_weather
        GROUP BY building_id, zone_id, scenario_id
        """,
    )
    assert comfort.count() == len(BUILDINGS) * N_ZONES * len(SCENARIOS)

    cop = query(
        spark,
        """
        SELECT ROUND(outdoor_temp_C, 0) AS temp_bin, AVG(cop_proxy) AS avg_cop, COUNT(*) AS n
        FROM vw_hvac_with_meters WHERE power_kw > 0
        GROUP BY ROUND(outdoor_temp_C, 0) ORDER BY temp_bin
        """,
    )
    assert cop.count() > 0


def test_load_to_warehouse_saves_tables_and_views(spark, star):
    """The ``--warehouse`` sink: every star table becomes a catalog table
    of the database, with the three views over them.  Empty temp views
    named like the star tables are registered first in the same session,
    as a plain run does before a ``--warehouse`` run: the warehouse views
    must still read the catalog tables, and the session's current
    database must not change."""
    import shutil
    from pathlib import Path

    # a previous session's warehouse dir would collide with the in-memory
    # catalog (LOCATION_ALREADY_EXISTS), so clean both sides first
    spark.sql("DROP DATABASE IF EXISTS etl_wh CASCADE")
    wh = Path(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
    shutil.rmtree(wh / "etl_wh.db", ignore_errors=True)
    current = spark.catalog.currentDatabase()
    register_temp_views(spark, {t: df.limit(0) for t, df in star.items()})
    try:
        load_to_warehouse(spark, star, database="etl_wh")
        assert spark.catalog.currentDatabase() == current
        assert {t.name for t in spark.catalog.listTables("etl_wh")} >= set(star)
        assert spark.table("etl_wh.fact_meters").count() == N_RUNS * HOURS
        es = spark.sql("SELECT * FROM etl_wh.vw_energy_summary").collect()
        assert len(es) == N_RUNS
        assert all(r["num_hours"] == HOURS for r in es)
        assert spark.sql("SELECT * FROM vw_energy_summary").count() == 0
    finally:
        spark.sql("DROP DATABASE IF EXISTS etl_wh CASCADE")
        register_temp_views(spark, star)


def test_parquet_roundtrip(spark, star, tmp_path):
    paths = load_to_parquet(star, tmp_path, partition_facts=True)
    back = spark.read.parquet(paths["fact_meters"])
    assert back.count() == star["fact_meters"].count()
    assert "building_id" in back.columns  # partition column round-trips


def test_sorted_write_produces_disjoint_file_ranges(spark, tmp_path):
    """range_clustered lays the table out on the key: every output
    file's [min, max] key interval must be pairwise disjoint (that is
    what lets a pushed-down range predicate prune whole files), where an
    unclustered write leaves overlapping file ranges."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from ida_ice_energy_simulation_etl_pipeline_spark.plans.core import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "value"
    )
    # round-robin partitions: the unclustered baseline layout
    scattered = events.repartition(4)

    def file_ranges(path):
        ranges = []
        for f in sorted(Path(path).glob("part-*.parquet")):
            md = pq.ParquetFile(str(f)).metadata
            idx = md.schema.to_arrow_schema().get_field_index("event_id")
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            ranges.append((min(mins), max(maxs)))
        return sorted(ranges)

    def n_overlaps(ranges):
        return sum(
            1
            for i in range(len(ranges) - 1)
            if ranges[i + 1][0] <= ranges[i][1]
        )

    load_to_parquet({"ev_plain": scattered}, tmp_path)
    # at fixture size AQE rightly coalesces the tiny range shuffle to one
    # partition; disable coalescing so the multi-file layout is visible
    old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        load_to_parquet(
            {"ev_sorted": range_clustered(scattered, ["event_id"])}, tmp_path
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old)
    plain = file_ranges(tmp_path / "ev_plain")
    clustered = file_ranges(tmp_path / "ev_sorted")
    assert len(clustered) > 1, "need multiple files to show clustering"
    assert n_overlaps(clustered) == 0, f"clustered files overlap: {clustered}"
    assert n_overlaps(plain) > 0, "baseline already disjoint; test is vacuous"
    # row counts survive the re-layout
    assert (
        spark.read.parquet(str(tmp_path / "ev_sorted")).count() == events.count()
    )


def test_export_summary(star):
    doc = build_summary(star, scenario_id="BASE")
    assert validate_summary(doc) == []
    assert doc["scenario"]["name"] == "BASE"
    assert doc["annual"]["total_kwh"] > 0
    assert len(doc["monthly_breakdown"]) == 1  # 48h span = one month
    assert doc["kpis"]["peak_demand_kw"] > 0
    assert 0 <= doc["kpis"]["comfort_hours_percent"] <= 100
    # retrofit uses less energy than base (generator scales by 0.85)
    retro = build_summary(star, scenario_id="RETROFIT")
    assert retro["annual"]["total_kwh"] < doc["annual"]["total_kwh"]


def test_export_annual_includes_null_time_key_rows(spark, star):
    """fact_meters is time-keyed by a LEFT join, so rows can carry a null
    time_key; the annual figures must still count them (the reference's
    annual numbers are whole-table sums), while the monthly breakdown
    keeps only real months."""
    from pyspark.sql import functions as F

    base = build_summary(star, scenario_id="BASE")
    meters = star["fact_meters"]
    extra = (
        meters.filter(F.col("scenario_id") == "BASE")
        .limit(1)
        .withColumn("time_key", F.lit(None).cast(dict(meters.dtypes)["time_key"]))
        .withColumn("electric_kwh", F.lit(1000.0))
        .withColumn("heating_kwh", F.lit(0.0))
        .withColumn("cooling_kwh", F.lit(0.0))
    )
    doc = build_summary(
        dict(star, fact_meters=meters.unionByName(extra)), scenario_id="BASE"
    )
    assert doc["annual"]["electric_kwh"] == pytest.approx(
        base["annual"]["electric_kwh"] + 1000.0, abs=0.2
    )
    assert doc["monthly_breakdown"] == base["monthly_breakdown"]


def test_summary_counts_each_meter_row_once_under_derived_keys(spark, tmp_path):
    """Under time_key_strategy="derived" two dim_time stamps in one hour
    (23:00 and 23:30) share a key.  Each meter row must still count once:
    the annual and monthly figures equal the raw meter sums.  (Joined to
    dim_time on the key, the 23:00 row counted twice.)"""
    from datetime import datetime, timedelta, timezone

    import pandas as pd

    from ida_ice_energy_simulation_etl_pipeline_spark.fixtures import (
        generate_run,
        write_run_dir,
    )

    start = datetime(2024, 1, 31, 22, tzinfo=timezone.utc)
    run = generate_run("BLDG_01", "BASE", start=start, hours=4, n_zones=1, n_ahus=1)
    zones = run["zones"]
    half = zones.iloc[[1]].assign(timestamp=zones["timestamp"][1] + timedelta(minutes=30))
    run["zones"] = pd.concat([zones, half], ignore_index=True)
    meters = run["meters"].assign(electric_kwh=1.0, heating_kwh=2.0, cooling_kwh=3.0)
    run["meters"] = meters
    write_run_dir(run, tmp_path / "runs")
    doc = run_pipeline(
        spark, tmp_path / "runs", tmp_path / "out", time_key_strategy="derived",
        force=True,  # the 23:30 stamp is a non-hourly gap
    )["summary"]
    # two meter rows in January (22:00, 23:00), two in February
    month = {"heating_kwh": 4.0, "cooling_kwh": 6.0, "total_kwh": 12.0}
    assert doc["monthly_breakdown"] == [{"month": 1, **month}, {"month": 2, **month}]
    assert (doc["annual"]["electric_kwh"], doc["annual"]["heating_kwh"],
            doc["annual"]["cooling_kwh"]) == (4.0, 8.0, 12.0)


def test_pipeline_writes_reports_when_a_meter_column_is_all_null(spark, tmp_path):
    """A meter column null in every row of a month bucket sums to null in
    SQL.  The bucket counts it as 0.0, as a whole-column sum and the
    reference's pandas sum do, so a forced run still writes both JSON
    files.  (float(None) raised after the star was published.)"""
    from ida_ice_energy_simulation_etl_pipeline_spark.fixtures import (
        generate_run,
        write_run_dir,
    )

    run = generate_run("BLDG_01", "BASE", hours=6, n_zones=1, n_ahus=1)
    run["meters"]["heating_kwh"] = None
    write_run_dir(run, tmp_path / "runs")
    out = tmp_path / "out"
    result = run_pipeline(spark, tmp_path / "runs", out, force=True)
    report = json.loads((out / "validation_report.json").read_text())
    assert report == result["validation"]
    assert "fact_meters.heating_kwh: 6 null values" in report["checks"]["nulls"]["errors"]
    summary = json.loads((out / "summary.json").read_text())
    assert summary["annual"]["heating_kwh"] == 0.0
    assert [m["heating_kwh"] for m in summary["monthly_breakdown"]] == [0.0]
    electric = run["meters"]["electric_kwh"].sum() + run["meters"]["cooling_kwh"].sum()
    assert summary["annual"]["total_kwh"] == pytest.approx(electric, abs=0.1)


def test_plausibility_prints_a_null_sum():
    """A run whose sum is null and that trips a rule prints the sum as
    null (a ':.1f' of None raised)."""
    from ida_ice_energy_simulation_etl_pipeline_spark.etl.validate import (
        _plausibility_errors,
    )

    assert _plausibility_errors({("B1", "S"): (0.0, None, 1.0)}) == {
        "plausibility": [
            "(B1, S): implausible energy totals electric=0.0 heating=null cooling=1.0"
        ]
    }


def test_summary_exports_a_scenario_id_that_needs_quoting(spark, tmp_path):
    """Scenario ids are spliced into the aggregates' SQL text as string
    literals: one holding a quote, a backslash, a double quote or a
    non-ASCII letter must select its own rows, observed on the land write
    and scanned standalone."""
    from ida_ice_energy_simulation_etl_pipeline_spark.fixtures import (
        generate_run,
        write_run_dir,
    )

    weird = "O'B\\ü"
    for s in ("BASE", weird):
        write_run_dir(generate_run("BLDG_01", s, hours=6, n_zones=1, n_ahus=1),
                      tmp_path / "runs")
    result = run_pipeline(spark, tmp_path / "runs", tmp_path / "out", scenario_id=weird)
    landed = {t: spark.read.parquet(p) for t, p in result["parquet"].items()}
    doc, base = result["summary"], build_summary(landed, scenario_id="BASE")
    assert doc["scenario"]["name"] == weird
    assert doc["annual"]["total_kwh"] > 0
    assert doc["annual"] != base["annual"]
    for d in (doc, base):
        d.pop("generated_at")
    standalone = build_summary(landed, scenario_id=weird)
    standalone.pop("generated_at")
    assert standalone == doc
    # the same rows under an id a CSV cannot carry unquoted
    quoted = 'say "\\\'hi\'" ü'
    renamed = {
        t: df.withColumn("scenario_id", F.when(F.col("scenario_id") == weird, quoted)
                         .otherwise(F.col("scenario_id")))
        if "scenario_id" in df.columns else df
        for t, df in landed.items()
    }
    again = build_summary(renamed, scenario_id=quoted)
    again.pop("generated_at")
    assert again["scenario"]["name"] == quoted
    assert again["annual"] == doc["annual"]
    assert again["monthly_breakdown"] == doc["monthly_breakdown"]
    assert again["kpis"] == doc["kpis"]


def test_pipeline_end_to_end(spark, runs_dir, tmp_path):
    # cluster_facts exercises the range-clustered write path end-to-end
    result = run_pipeline(spark, runs_dir, tmp_path / "out", cluster_facts=True)
    assert result["validation"]["is_valid"]
    assert (tmp_path / "out" / "summary.json").exists()
    assert (tmp_path / "out" / "validation_report.json").exists()
    assert spark.read.parquet(result["parquet"]["fact_hvac"]).count() > 0


def test_pipeline_zipped_leaves_no_unzip_dir(spark, tmp_path, monkeypatch):
    """A zipped run unzips into a temporary runs_* directory it owns and
    removes it — after a successful run and after a failed extract."""
    import tempfile

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    zips = tmp_path / "zips"
    generate_dataset(
        zips, buildings=("BLDG_09",), scenarios=("BASE",), hours=24,
        n_zones=2, n_ahus=1, as_zip=True,
    )
    result = run_pipeline(spark, zips, tmp_path / "out", zipped=True)
    assert result["validation"]["is_valid"]
    assert not list(tmp.glob("runs_*"))

    (zips / "run_BLDG_09_BASE.zip").write_bytes(b"not a zip")
    with pytest.raises(ExtractionError):
        run_pipeline(spark, zips, tmp_path / "out2", zipped=True)
    assert not list(tmp.glob("runs_*"))


def test_pipeline_gate_blocks(spark, tmp_path):
    # a dataset whose meters are implausible (electric ~ 0) must be gated
    import pandas as pd

    from ida_ice_energy_simulation_etl_pipeline_spark.fixtures import (
        generate_run,
        write_run_dir,
    )

    run = generate_run("BLDG_BAD", "BASE", hours=12, n_zones=1, n_ahus=1)
    meters = run["meters"]
    assert isinstance(meters, pd.DataFrame)
    meters["electric_kwh"] = 0.0
    write_run_dir(run, tmp_path)
    with pytest.raises(ValidationGateError):
        run_pipeline(spark, tmp_path, tmp_path / "out")


def _mutated_runs(out_dir):
    """Two run bundles with one out-of-range air_temp_C, one null
    electric_kwh, one negative cooling_kw, a null building_name on
    BLDG_01's first-seen run (a null in a dim), an hour no hvac row covers,
    implausible meters in both runs and an off-grid meter stamp (a null
    time_key)."""
    from datetime import timedelta

    from ida_ice_energy_simulation_etl_pipeline_spark.fixtures import (
        generate_run,
        write_run_dir,
    )

    for b in ("BLDG_01", "BLDG_02"):
        run = generate_run(b, "BASE", hours=24, n_zones=2, n_ahus=1)
        hvac, meters = run["hvac"], run["meters"]
        run["hvac"] = hvac[hvac["timestamp"] != hvac["timestamp"][9]].copy()
        if b == "BLDG_01":
            run["metadata"]["building_name"] = None
            meters["electric_kwh"] = 0.0
        if b == "BLDG_02":
            run["zones"].loc[3, "air_temp_C"] = 99.0
            meters.loc[5, "electric_kwh"] = None
            meters.loc[6, "timestamp"] += timedelta(minutes=30)
            meters[["heating_kwh", "cooling_kwh"]] = 0.0
            run["hvac"].loc[7, "cooling_kw"] = -4.0
        write_run_dir(run, out_dir)
    return out_dir


@pytest.mark.parametrize("cluster_facts", [False, True])
def test_pipeline_observed_integrity_matches_standalone(spark, tmp_path, cluster_facts):
    """run_pipeline observes the facts' checks and summary figures on the
    land write, counts the dims' null/range checks on the driver and takes
    the plausibility sums from the key-set query; standalone validate_all
    and build_summary compute them all with df.agg (and one groupBy).  On
    the same star, both paths must give the same report and summary —
    also when the facts are range-clustered, whose shuffle samples its
    input in a job of its own, and for range rules on dims with a NaN
    bound (Spark orders NaN above every number)."""
    _observed_matches_standalone(spark, tmp_path, cluster_facts=cluster_facts)


def test_pipeline_observed_checks_match_standalone_partitioned(spark, tmp_path):
    """As above with partitioned facts, whose landed read puts the
    partition column last: the observed values still meet their own
    columns."""
    _observed_matches_standalone(spark, tmp_path, partition_facts=True)


def _observed_matches_standalone(spark, tmp_path, **layout):
    from ida_ice_energy_simulation_etl_pipeline_spark.etl.validate import RANGE_RULES

    nan = float("nan")
    rules = {
        **RANGE_RULES,
        "dim_building": [("floor_area_m2", nan, None), ("floor_area_m2", None, nan)],
        "dim_time": [("hour", 0.0, 20.0)],
    }
    runs = _mutated_runs(tmp_path / "runs")
    out = tmp_path / "out"
    result = run_pipeline(spark, runs, out, force=True, range_rules=rules, **layout)
    written = json.loads((out / "validation_report.json").read_text())
    assert written == result["validation"]
    errors = written["checks"]
    assert errors["ranges"]["errors"] == [
        "dim_building.floor_area_m2: 2 rows outside [nan, None]",
        "dim_time.hour: 3 rows outside [0.0, 20.0]",
        "fact_zone_conditions.air_temp_C: 1 rows outside [10.0, 35.0]",
        "fact_hvac.cooling_kw: 1 rows outside [0.0, None]",
    ]
    assert errors["nulls"]["errors"] == [
        "dim_building.building_name: 1 null values",
        "fact_meters.time_key: 1 null values",
        "fact_meters.electric_kwh: 1 null values",
    ]
    assert errors["temporal"]["errors"] == ["fact_hvac: 1 time periods uncovered"]
    assert [e.split(":")[0] for e in errors["plausibility"]["errors"]] == [
        "(BLDG_01, BASE)", "(BLDG_02, BASE)"
    ]
    landed = {t: spark.read.parquet(p) for t, p in result["parquet"].items()}
    assert validate_all(landed, range_rules=rules) == written
    summary = json.loads((out / "summary.json").read_text())
    standalone = build_summary(landed)
    assert summary.pop("generated_at") and standalone.pop("generated_at")
    assert summary == standalone
    # the off-grid meter row is in no month, but in the annual total
    months = sum(m["total_kwh"] for m in summary["monthly_breakdown"])
    assert summary["annual"]["total_kwh"] > months


def test_pipeline_partitioned_reads_keep_inferred_schema(spark, runs_dir, tmp_path):
    """The published tables are read back with the schema of the DataFrame
    that was written.  Under partition_facts that must still be the schema
    inference gives: same names, order and types, partition column last."""
    result = run_pipeline(spark, runs_dir, tmp_path / "out", partition_facts=True)

    def shape(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    for table, path in result["parquet"].items():
        inferred = spark.read.parquet(path).schema
        assert shape(spark.table(table).schema) == shape(inferred), table
    assert spark.table("fact_meters").columns[-1] == "building_id"


def _next_job_id(tracker, first: int) -> int:
    """Id one past the last Spark job registered, probing ``getJobInfo``
    upward from ``first`` (a retained job).  The status store is fed
    asynchronously, so the probe runs twice."""
    import time

    nxt = first
    for _ in range(2):
        time.sleep(0.2)
        while tracker.getJobInfo(nxt) is not None:
            nxt += 1
    return nxt


def test_pipeline_job_count_guard(spark, runs_dir, tmp_path):
    """A warm run_pipeline with the CLI defaults stays within 7 Spark
    jobs: the key-set query (2) and the land writes (5).  The dims are
    written, checked and read on the driver, the facts are keyed without
    broadcast joins, every fact check and summary figure rides on the land
    write, and the re-reads infer no schema.  Another per-table action
    fails here, not only in the benchmark.  Standalone validate_all on the
    published star stays within 21: one dim_time collect, one df.agg per
    table (2 jobs each) and the plausibility groupBy (2) — no coverage
    query (24 with it)."""
    tracker = spark.sparkContext.statusTracker()
    result = run_pipeline(spark, runs_dir, tmp_path / "out")
    # run_pipeline's jobs carry no job group, so the newest of them is
    # among the ungrouped ids the tracker still retains.
    start = _next_job_id(tracker, max(tracker.getJobIdsForGroup(None)))
    run_pipeline(spark, runs_dir, tmp_path / "out")
    end = _next_job_id(tracker, start)
    assert end - start <= 7, f"{end - start} Spark jobs in one warm pass"

    published = {t: spark.read.parquet(p) for t, p in result["parquet"].items()}
    start = _next_job_id(tracker, end)
    assert validate_all(published) == result["validation"]
    jobs = _next_job_id(tracker, start) - start
    assert jobs <= 21, f"{jobs} Spark jobs in a standalone validate_all"


def test_pipeline_py4j_round_trip_guard(spark, runs_dir, tmp_path, monkeypatch):
    """A warm run_pipeline stays within 753 py4j round trips (6,028 when
    every aggregate, key struct and fact select was built from Column
    calls, each call a round trip or more).  Every driver-to-JVM call goes
    through the gateway client's send_command, on every thread.  The
    deletes py4j's finalizer thread sends for released Java references
    are left out: when they go depends on Python's garbage collector, not
    on the pass."""
    import threading
    from itertools import count

    from py4j.clientserver import FinalizerWorker

    run_pipeline(spark, runs_dir, tmp_path / "out")
    client = spark.sparkContext._gateway._gateway_client
    calls = count()
    send = client.send_command

    def counted(*args, **kwargs):
        if not isinstance(threading.current_thread(), FinalizerWorker):
            next(calls)  # atomic under the GIL: pool threads call too
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    run_pipeline(spark, runs_dir, tmp_path / "out")
    monkeypatch.undo()
    trips = next(calls)
    assert trips > 0, "the counting hook saw no call: it no longer sits on the path"
    assert trips <= 753, f"{trips} py4j round trips in one warm pass"


def test_pipeline_coverage_breaker_publishes_nothing(spark, tmp_path):
    """Three of four runs have a header-only meters.csv: the circuit
    breaker trips before anything is written, so neither a published nor
    a staged star is left behind."""
    runs = tmp_path / "runs"
    generate_dataset(
        runs, buildings=("BLDG_01", "BLDG_02"), scenarios=SCENARIOS, hours=6,
        n_zones=1, n_ahus=1,
    )
    for run in ("run_BLDG_01_RETROFIT", "run_BLDG_02_BASE", "run_BLDG_02_RETROFIT"):
        meters = runs / run / "meters.csv"
        meters.write_text(meters.read_text().splitlines()[0] + "\n")
    out = tmp_path / "out"
    with pytest.raises(ExtractionError, match="3/4 runs unreadable"):
        run_pipeline(spark, runs, out)
    assert not (out / "parquet").exists()
    assert not (out / "parquet._staging").exists()


def test_merge_upsert_parquet_touches_only_batch_partitions(spark, tmp_path):
    import os

    from ida_ice_energy_simulation_etl_pipeline_spark.etl.load import (
        merge_upsert_parquet,
    )

    path = tmp_path / "meters"
    base = spark.createDataFrame(
        [
            ("B1", "t1", 10.0, "2026-01-01"),
            ("B1", "t2", 11.0, "2026-01-01"),
            ("B2", "t1", 20.0, "2026-01-02"),
            ("B2", "t2", 21.0, "2026-01-02"),
        ],
        ["building_id", "ts", "kwh", "ds"],
    )
    touched = merge_upsert_parquet(
        spark, base, path, keys=["building_id", "ts"], partition_col="ds"
    )
    assert touched == ["2026-01-01", "2026-01-02"]

    def files_of(ds):
        d = path / f"ds={ds}"
        return {
            f: os.path.getmtime(d / f)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    day1_before = files_of("2026-01-01")
    # batch: update one key in day 2, insert one new key in day 2
    batch = spark.createDataFrame(
        [
            ("B2", "t2", 99.0, "2026-01-02"),  # update
            ("B2", "t3", 22.0, "2026-01-02"),  # insert
        ],
        ["building_id", "ts", "kwh", "ds"],
    )
    touched = merge_upsert_parquet(
        spark, batch, path, keys=["building_id", "ts"], partition_col="ds"
    )
    assert touched == ["2026-01-02"]
    # untouched partition: same files, same mtimes (no rewrite)
    assert files_of("2026-01-01") == day1_before
    got = {
        (r["building_id"], r["ts"]): r["kwh"]
        for r in spark.read.parquet(str(path)).collect()
    }
    assert got == {
        ("B1", "t1"): 10.0,
        ("B1", "t2"): 11.0,
        ("B2", "t1"): 20.0,  # survivor in the touched partition
        ("B2", "t2"): 99.0,  # updated
        ("B2", "t3"): 22.0,  # inserted
    }


def test_merge_upsert_preserves_null_partition_survivors(spark, tmp_path):
    from ida_ice_energy_simulation_etl_pipeline_spark.etl.load import (
        merge_upsert_parquet,
    )

    path = tmp_path / "t"
    base = spark.createDataFrame(
        [("A", 1.0, None), ("B", 2.0, None), ("C", 3.0, "2026-01-01")],
        "k string, v double, ds string",
    )
    merge_upsert_parquet(spark, base, path, keys=["k"], partition_col="ds")
    batch = spark.createDataFrame([("D", 4.0, None)], "k string, v double, ds string")
    merge_upsert_parquet(spark, batch, path, keys=["k"], partition_col="ds")
    got = {r["k"]: r["v"] for r in spark.read.parquet(str(path)).collect()}
    # A and B lived in the null partition the batch touched: they must
    # survive the dynamic overwrite of __HIVE_DEFAULT_PARTITION__
    assert got == {"A": 1.0, "B": 2.0, "C": 3.0, "D": 4.0}


def _assert_columns_match(a, b, label):
    """Dtype-dispatched column-by-column equality for two row-aligned
    pandas frames (floats at atol=1e-9, timestamps tz-normalized) —
    shared by every cross-implementation parity test."""
    import pandas as pd

    assert len(a) == len(b), label
    for c in b.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(bv):
            pd.testing.assert_series_equal(
                av.astype("float64"), bv.astype("float64"),
                check_names=False, rtol=0, atol=1e-9, obj=f"{label}.{c}",
            )
        elif pd.api.types.is_datetime64_any_dtype(bv):
            # same UTC instants; the reference keeps pandas tz-aware UTC
            # while Spark->pandas yields naive UTC wall clock
            norm = lambda s: [  # noqa: E731
                t.tz_localize(None) if t.tzinfo else t
                for t in pd.to_datetime(s)
            ]
            assert norm(av) == norm(bv), f"{label}.{c}"
        else:
            assert list(av) == list(bv), f"{label}.{c}"


def _import_reference(*names):
    """Import symbols from the reference repo read-only, without leaving
    its 'src' package importable afterwards."""
    import sys

    sys.path.insert(0, "/root/reference")
    try:
        import importlib

        mods = {
            "extract": importlib.import_module("src.etl.extract"),
            "transform": importlib.import_module("src.etl.transform"),
            "load": importlib.import_module("src.etl.load"),
            "validate": importlib.import_module("src.etl.validate"),
        }
        out = []
        for n in names:
            mod, attr = n.split(".")
            out.append(getattr(mods[mod], attr))
        return out
    finally:
        sys.path.remove("/root/reference")
        for m in [m for m in sys.modules if m == "src" or m.startswith("src.")]:
            del sys.modules[m]


@pytest.fixture(scope="module")
def ref_star(tmp_path_factory):
    """The reference implementation's star schema, computed by RUNNING
    the reference pandas pipeline on a byte-identical zipped fixture
    (same generator params + seed as runs_dir)."""
    ref_extract_runs, ref_transform_all = _import_reference(
        "extract.extract_runs", "transform.transform_all"
    )
    zdir = tmp_path_factory.mktemp("ref_zips")
    generate_dataset(
        zdir, buildings=BUILDINGS, scenarios=SCENARIOS, hours=HOURS,
        n_zones=N_ZONES, n_ahus=N_AHUS, as_zip=True,
    )
    return ref_transform_all(ref_extract_runs(str(zdir)))


def test_star_schema_matches_reference_implementation(spark, star, ref_star):
    """Cross-IMPLEMENTATION parity: execute the reference's own pandas
    pipeline (imported read-only from /root/reference) on an identical
    fixture and compare every dim and fact table value-for-value.  This
    is the strongest parity statement the repo can make about the ETL
    surface — not "matches an oracle we wrote", but "matches the system
    being cloned, run live on the same input"."""
    import pandas as pd

    assert set(ref_star) == set(star)
    for name in sorted(ref_star):
        ref_pdf = ref_star[name]
        ours = star[name].toPandas()
        assert set(ours.columns) == set(ref_pdf.columns), name
        key_cols = [
            c for c in ref_pdf.columns
            if c.endswith("_key") or c.endswith("_id") or c == "timestamp"
        ]
        a = (
            ours[list(ref_pdf.columns)]
            .sort_values(key_cols)
            .reset_index(drop=True)
        )
        b = ref_pdf.sort_values(key_cols).reset_index(drop=True)
        _assert_columns_match(a, b, name)


_VIEWS = ["vw_zone_with_weather", "vw_hvac_with_meters", "vw_energy_summary"]


def test_views_match_reference_implementation(spark, star, ref_star, tmp_path):
    """View-layer cross-implementation parity (J5-J7): load the
    reference's star into DuckDB with the reference's OWN load_to_duckdb
    + create_views, query each view, and compare against our Spark views
    over our star — FULL column-set parity (every column the reference
    view exposes must exist under the same name in ours), value-for-value
    on every reference column."""
    import duckdb
    import pandas as pd

    (ref_load_to_duckdb,) = _import_reference("load.load_to_duckdb")
    db = tmp_path / "ref.duckdb"
    ref_load_to_duckdb(ref_star, str(db))

    register_temp_views(spark, star)
    with duckdb.connect(str(db)) as con:
        for view in _VIEWS:
            ref_pdf = con.execute(f"SELECT * FROM {view}").fetchdf()
            ours = spark.sql(f"SELECT * FROM {view}").toPandas()
            missing = set(ref_pdf.columns) - set(ours.columns)
            assert not missing, (
                f"{view}: reference columns missing from our view: {missing}"
            )
            cols = list(ref_pdf.columns)
            keys = [
                c for c in cols if c.endswith("_id") or c == "timestamp"
            ]
            a = ours[cols].sort_values(keys).reset_index(drop=True)
            b = ref_pdf.sort_values(keys).reset_index(drop=True)
            _assert_columns_match(a, b, view)


# Check-family name map: {reference check key: our check key}.
_VALIDATE_CHECKMAP = {
    "schema": "schema",
    "value_ranges": "ranges",
    "temporal_coverage": "temporal",
    "energy_plausibility": "plausibility",
}


def test_validate_verdicts_match_reference_implementation(spark, star, ref_star):
    """QA-layer cross-implementation parity: the reference's own
    validate_all (pandas) and ours (Spark) must agree check-for-check —
    all green on the clean star, and the SAME family flags under an
    identical planted mutation.  (Our extra 'nulls' family has no
    reference twin; the reference folds null checks into ranges.)"""
    (ref_validate_all,) = _import_reference("validate.validate_all")

    ref_clean = ref_validate_all(ref_star)
    our_clean = validate_all(star)
    assert ref_clean["is_valid"] and our_clean["is_valid"]
    for ref_k, our_k in _VALIDATE_CHECKMAP.items():
        assert ref_clean["checks"][ref_k]["valid"] is True, ref_k
        assert our_clean["checks"][our_k]["valid"] is True, our_k

    # identical mutation on both sides: impossible zone temperature
    ref_bad = dict(ref_star)
    ref_bad["fact_zone_conditions"] = ref_star["fact_zone_conditions"].assign(
        air_temp_C=99.0
    )
    our_bad = dict(star)
    our_bad["fact_zone_conditions"] = star["fact_zone_conditions"].withColumn(
        "air_temp_C", F.lit(99.0)
    )
    ref_rep = ref_validate_all(ref_bad)
    our_rep = validate_all(our_bad)
    assert not ref_rep["is_valid"] and not our_rep["is_valid"]
    assert ref_rep["checks"]["value_ranges"]["valid"] is False
    assert our_rep["checks"]["ranges"]["valid"] is False
    # and the mutation must not bleed into other families on either side
    for ref_k, our_k in _VALIDATE_CHECKMAP.items():
        if ref_k == "value_ranges":
            continue
        assert ref_rep["checks"][ref_k]["valid"] is True, ref_k
        assert our_rep["checks"][our_k]["valid"] is True, our_k


def test_dim_scenario_first_seen_matches_zip_sort_on_prefix_ids(spark, tmp_path):
    """'run_B10_BASE.zip' sorts before 'run_B1_BASE.zip' ('0' < '_'), so
    the reference's seen-set walk keeps B10's description; the first-seen
    order key must reconstruct the filename, not compare bare ids."""
    generate_dataset(
        tmp_path, buildings=("B1", "B10"), scenarios=("BASE",), hours=2,
        n_zones=1, n_ahus=1,
    )
    got = transform_all(extract_runs(spark, tmp_path))["dim_scenario"].collect()
    assert len(got) == 1
    assert got[0]["description"] == "BASE scenario for B10"

