"""The five dims against an independent bar: DuckDB SQL over the raw run
bundles, written from SURVEY D1–D4 and the transform docstrings (first
seen in zip-name order, dense keys nulls first), hash-compared with the
dims ``run_pipeline`` publishes.  Plus what the driver-side dim build
must not depend on: shuffle partitioning, AQE, and the driver's own time
zone.  And the join-free fact keys built from the dims against the
broadcast LEFT joins they replace."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from datetime import datetime, timezone
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from ida_ice_energy_simulation_etl_pipeline_spark.etl.extract import extract_runs
from ida_ice_energy_simulation_etl_pipeline_spark.etl.pipeline import run_pipeline
from ida_ice_energy_simulation_etl_pipeline_spark.etl.transform import transform_all
from ida_ice_energy_simulation_etl_pipeline_spark.fixtures import (
    generate_run,
    write_run_dir,
)
from ida_ice_energy_simulation_etl_pipeline_spark.schemas import STAR_SCHEMAS

HOURS = 6

# The raw bundles as DuckDB relations (declared types, as the Spark
# readers declare them).
_RAW = {
    "meta": """read_json('{runs}/run_*/metadata.json', columns={{
        building_id: 'VARCHAR', scenario_id: 'VARCHAR',
        building_name: 'VARCHAR', location: 'VARCHAR',
        floor_area_m2: 'BIGINT', description: 'VARCHAR'}})""",
    "zones": "read_csv('{runs}/run_*/zones.csv', header=true, "
             "types={{'timestamp': 'TIMESTAMPTZ'}})",
    "hvac": "read_csv('{runs}/run_*/hvac.csv', header=true)",
}

_ZIP_NAME = "'run_' || building_id || '_' || scenario_id || '.zip'"

# D1: first seen in sorted zip-name order (arg_min over a struct keeps a
# null attribute of the first run, and skips a null order key, as
# Spark's min_by does).  D2/D3: distinct keys.  D4: dense keys 1..n over
# the sorted keys, nulls first.
ORACLE_SQL = {
    "dim_building": f"""
        SELECT building_id, f.building_name, f.location, f.floor_area_m2
        FROM (SELECT building_id,
                     arg_min({{'building_name': building_name, 'location': location,
                               'floor_area_m2': floor_area_m2}}, {_ZIP_NAME}) AS f
              FROM meta GROUP BY building_id)""",
    "dim_scenario": f"""
        SELECT scenario_id, f.description
        FROM (SELECT scenario_id, arg_min({{'description': description}}, {_ZIP_NAME}) AS f
              FROM meta GROUP BY scenario_id)""",
    "dim_zone": """
        SELECT row_number() OVER (ORDER BY building_id NULLS FIRST,
                                  zone_id NULLS FIRST, zone_name NULLS FIRST) AS zone_key,
               building_id, zone_id, zone_name
        FROM (SELECT DISTINCT building_id, zone_id, zone_name FROM zones)""",
    "dim_ahu": """
        SELECT row_number() OVER (ORDER BY building_id NULLS FIRST,
                                  ahu_id NULLS FIRST) AS ahu_key,
               building_id, ahu_id
        FROM (SELECT DISTINCT building_id, ahu_id FROM hvac)""",
    "dim_time": """
        SELECT row_number() OVER (ORDER BY timestamp NULLS FIRST) AS time_key,
               timestamp, year(timestamp) AS year, month(timestamp) AS month,
               day(timestamp) AS day, hour(timestamp) AS hour,
               isodow(timestamp) - 1 AS dow, isodow(timestamp) >= 6 AS is_weekend
        FROM (SELECT DISTINCT timestamp FROM zones)""",
}


def _projection(table: str) -> str:
    """The dim's columns with engine-neutral types: timestamps as epoch
    microseconds, integers as BIGINT."""
    cols = []
    for f in STAR_SCHEMAS[table].fields:
        if f.name == "timestamp":
            cols.append("epoch_us(timestamp) AS timestamp_us")
        elif f.dataType.simpleString() == "bigint":
            cols.append(f"{f.name}::BIGINT AS {f.name}")
        else:
            cols.append(f.name)
    return ", ".join(cols)


def _digest(con, relation: str, table: str) -> tuple:
    rows = con.execute(f"SELECT {_projection(table)} FROM {relation}").fetchall()
    (h,) = con.execute(
        f"SELECT sum(hash(q))::HUGEINT FROM (SELECT {_projection(table)} FROM {relation}) q"
    ).fetchone()
    return len(rows), h, sorted(rows, key=repr)


def _write_runs(out: Path, buildings, scenarios, mutate=None) -> Path:
    for b in buildings:
        for s in scenarios:
            run = generate_run(b, s, hours=HOURS, n_zones=2, n_ahus=1)
            if mutate:
                mutate(run)
            write_run_dir(run, out)
    return out


def _null_first_building_name(run):
    # run_BLDG_01_BASE.zip is BLDG_01's first run: its null name wins
    if run["run_id"] == "run_BLDG_01_BASE":
        run["metadata"]["building_name"] = None


def _two_name_zone(run):
    if run["run_id"] == "run_BLDG_01_RETROFIT":
        z = run["zones"]
        z.loc[z["zone_id"] == "Z1", "zone_name"] = "Zone 1 (east wing)"


CASES = {
    "clean": (("BLDG_01", "BLDG_02"), ("BASE", "RETROFIT"), None),
    "null_building_name": (("BLDG_01", "BLDG_02"), ("BASE", "RETROFIT"),
                           _null_first_building_name),
    "two_name_zone": (("BLDG_01", "BLDG_02"), ("BASE", "RETROFIT"), _two_name_zone),
    "prefix_ids": (("B1", "B10"), ("BASE",), None),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_published_dims_match_duckdb_oracle(spark, tmp_path, case):
    buildings, scenarios, mutate = CASES[case]
    runs = _write_runs(tmp_path / "runs", buildings, scenarios, mutate)
    out = tmp_path / "out"
    run_pipeline(spark, runs, out, force=True)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name, rel in _RAW.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {rel.format(runs=runs)}")
    for table, sql in ORACLE_SQL.items():
        published = f"read_parquet('{out}/parquet/{table}/*.parquet')"
        got = _digest(con, published, table)
        want = _digest(con, f"({sql})", table)
        assert got[:2] == want[:2], f"{case} {table}:\n{got[2]}\n!=\n{want[2]}"
    # the anomalies each case plants are visible in the oracle's answer
    if case == "null_building_name":
        assert con.execute(
            f"SELECT building_name FROM ({ORACLE_SQL['dim_building']}) "
            "WHERE building_id = 'BLDG_01'"
        ).fetchone() == (None,)
    if case == "two_name_zone":
        assert con.execute(
            f"SELECT zone_key, zone_name FROM ({ORACLE_SQL['dim_zone']}) "
            "WHERE building_id = 'BLDG_01' AND zone_id = 'Z1' ORDER BY zone_key"
        ).fetchall() == [(1, "Zone 1"), (2, "Zone 1 (east wing)")]
    if case == "prefix_ids":
        assert con.execute(
            f"SELECT description FROM ({ORACLE_SQL['dim_scenario']})"
        ).fetchall() == [("BASE scenario for B10",)]


@contextmanager
def _conf(spark, **conf):
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_dim_zone_keys_do_not_depend_on_partitioning(spark, tmp_path):
    """A zone whose rows carry two names gets two dim rows; their keys
    follow (building_id, zone_id, zone_name), so the star built under 1
    and under 37 shuffle partitions numbers them alike."""
    runs = _write_runs(tmp_path, ("BLDG_01", "BLDG_02"), ("BASE", "RETROFIT"),
                       _two_name_zone)
    keys = []
    for n in ("1", "37"):
        with _conf(spark, **{"spark.sql.shuffle.partitions": n}):
            star = transform_all(extract_runs(spark, runs))
            keys.append(sorted(star["dim_zone"].collect()))
    assert keys[0] == keys[1]
    assert [tuple(r) for r in keys[0][:2]] == [
        (1, "BLDG_01", "Z1", "Zone 1"),
        (2, "BLDG_01", "Z1", "Zone 1 (east wing)"),
    ]


def test_dim_time_is_utc_hourly_across_driver_dst_fall_back(spark, tmp_path, monkeypatch):
    """New York falls back at 2024-11-03 06:00 UTC, so two UTC hours share
    the local wall time 01:00.  With the driver process in that zone, the
    dims must still give one row per UTC hour, with the keys and fields
    they have with the driver in UTC."""
    start = datetime(2024, 11, 3, 2, tzinfo=timezone.utc)
    write_run_dir(
        generate_run("BLDG_01", "BASE", start=start, hours=8, n_zones=1, n_ahus=1),
        tmp_path,
    )
    cols = ("time_key", F.unix_micros("timestamp"), "year", "month", "day", "hour",
            "dow", "is_weekend")

    def dim_time():
        star = transform_all(extract_runs(spark, tmp_path))
        return sorted(tuple(r) for r in star["dim_time"].select(*cols).collect())

    utc = dim_time()
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        fold = [time.localtime(start.timestamp() + h * 3600) for h in (3, 4)]
        assert [t.tm_hour for t in fold] == [1, 1]  # 05:00 and 06:00 UTC
        new_york = dim_time()
    finally:
        monkeypatch.undo()
        time.tzset()
    first_us = int(start.timestamp()) * 1_000_000
    assert [r[1] for r in utc] == [first_us + h * 3_600_000_000 for h in range(8)]
    assert [r[0] for r in utc] == list(range(1, 9))
    assert [r[5] for r in utc] == list(range(2, 10))  # UTC hours
    assert new_york == utc


def _star_digest(parquet_dir: Path) -> dict:
    con = duckdb.connect()
    return {
        t: con.execute(
            f"SELECT count(*), sum(hash(t))::HUGEINT::VARCHAR "
            f"FROM read_parquet('{parquet_dir}/{t}/**/*.parquet') t"
        ).fetchone()
        for t in STAR_SCHEMAS
    }


def test_published_star_invariant_to_partitioning_and_aqe(spark, tmp_path):
    """The published star and validation_report.json are the same under 1
    and 37 shuffle partitions and with AQE off as under the defaults."""
    runs = _write_runs(tmp_path / "runs", ("BLDG_01", "BLDG_02"), ("BASE", "RETROFIT"))
    outputs = []
    for i, conf in enumerate((
        {},
        {"spark.sql.shuffle.partitions": "1"},
        {"spark.sql.shuffle.partitions": "37"},
        {"spark.sql.adaptive.enabled": "false"},
    )):
        out = tmp_path / f"out{i}"
        with _conf(spark, **conf):
            run_pipeline(spark, runs, out)
        report = json.loads((out / "validation_report.json").read_text())
        outputs.append((conf, _star_digest(out / "parquet"), report))
    base = outputs[0]
    assert base[2]["is_valid"]
    for conf, digest, report in outputs[1:]:
        assert digest == base[1], conf
        assert report == base[2], conf


# --- the join-free fact keys against the broadcast LEFT join they replace --

_T0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
_H = 3_600_000_000
_HOURLY = [_T0 + i * _H for i in range(8)]

# dim_time timestamp sets (epoch microseconds)
TIME_GRIDS = {
    "hourly": _HOURLY,
    "every_other_hour": [_T0 + 2 * i * _H for i in range(6)],
    "off_grid_stamp": [*_HOURLY, _T0 + 3 * _H + 30 * 60_000_000],  # 03:30:00
    "two_stamps_in_one_hour": [*_HOURLY[:2], *_HOURLY[3:],
                               _T0 + 2 * _H + 600_000_000, _T0 + 2 * _H + 2_400_000_000],
    "null_timestamp_row": [None, *_HOURLY],
    # derived keys truncate seconds toward zero: -3599.5 s keys as -3599 s
    "before_epoch": [-2 * _H, -_H - 500_000, -_H, -_H + 500_000, 0, _H],
    "single": [_T0],
    "empty": [],
}


def _fact_stamps(dim: list[int | None]) -> list[int | None]:
    """Every dim stamp, plus stamps before, after and off the dim's grid."""
    us = sorted(u for u in dim if u is not None) or [_T0]
    lo, hi = us[0], us[-1]
    extra = [lo - 100 * _H, lo - _H, lo - 1, hi + 1, hi + _H, hi + 10_000 * _H, None]
    for u in us:
        extra += [u + 1_000_000, u + _H // 2, u + _H - 1]
    return [*dim, *dim, *extra]  # repeated stamps: more than one fact row


@pytest.mark.parametrize("strategy", ["dense", "derived"])
@pytest.mark.parametrize("grid", sorted(TIME_GRIDS))
def test_time_key_kernel_matches_left_join(spark, grid, strategy):
    from ida_ice_energy_simulation_etl_pipeline_spark.etl.transform import (
        _dim_time,
        _local,
        _time_key,
    )

    dim = _dim_time(TIME_GRIDS[grid], strategy, "UTC")
    facts = spark.createDataFrame(
        [(u,) for u in _fact_stamps(TIME_GRIDS[grid])], "us long"
    ).select(F.timestamp_micros("us").alias("timestamp"))
    got = facts.selectExpr("timestamp", f"{_time_key(dim, strategy)} AS time_key")
    want = facts.join(
        F.broadcast(_local(spark, dim).select("time_key", "timestamp")), "timestamp", "left"
    )

    def rows(df):
        return sorted(
            map(tuple, df.select(F.unix_micros("timestamp"), "time_key").collect()),
            key=repr,
        )

    assert rows(got) == rows(want)
    assert dict(got.dtypes)["time_key"] == "bigint"


# dim_time key columns: the grids' dense and derived keys (duplicate
# derived keys, a null key, negative keys), and keys spanning four
# 32,768-key bitmap buckets.
COVERAGE_KEYS = {
    **{f"{grid}-{strategy}": (grid, strategy)
       for grid in ("hourly", "two_stamps_in_one_hour", "null_timestamp_row",
                    "before_epoch", "empty")
       for strategy in ("dense", "derived")},
    "four_buckets": [None, 7, 7, 8, 40_000, 70_000, 100_000],
}


@pytest.mark.parametrize("case", sorted(COVERAGE_KEYS))
def test_coverage_kernel_matches_anti_join(spark, case):
    """CoverageCheck's bitmaps, decoded on the driver, count the dim_time
    rows no fact row covers, as the left-anti join did: a fact that holds
    every other key, keys off the dim and a null; then an empty fact."""
    from ida_ice_energy_simulation_etl_pipeline_spark.etl.transform import _dim_time
    from ida_ice_energy_simulation_etl_pipeline_spark.etl.validate import CoverageCheck

    keys = COVERAGE_KEYS[case]
    if isinstance(keys, tuple):
        grid, strategy = keys
        keys = _dim_time(TIME_GRIDS[grid], strategy, "UTC").column("time_key").to_pylist()
    present = sorted({k for k in keys if k is not None}) or [0]
    fact_keys = [*present[::2], None, present[0] - 1, present[-1] + 1, 10**12]
    dim = spark.createDataFrame([(k,) for k in keys], "time_key long")
    check = CoverageCheck(tuple(keys))
    for fact in (fact_keys, []):
        facts = spark.createDataFrame([(k,) for k in fact], "time_key long")
        want = dim.join(facts, "time_key", "left_anti").count()
        values = facts.selectExpr(*check.aggs).first().asDict() if check.aggs else {}
        assert check.errors("fact", values) == {
            "temporal": [f"fact: {want} time periods uncovered"] if want else []
        }


_BOUNDS = [float("nan"), float("inf"), float("-inf"), -1.5, 2, 1e-300, 0.1, None]
_VALUES = [None, float("nan"), float("inf"), float("-inf"), -2.0, -1.5, -1e-300, -0.0,
           0.0, 1e-300, 0.1, 0.10000000000000002, 1.0, 2.0, 2.5]


def test_integrity_sql_text_counts_as_counted(spark):
    """Range bounds and a column name are spliced into the null/range
    aggregates' SQL text: NaN, the infinities, a negative, an int, a tiny
    and an inexact double must each bound as the number itself, and a
    name with a backtick must name its column.  Observed on a write and
    run as one aggregate, the counts equal the driver's ``counted`` over
    the same values (nulls, NaN and the infinities among them)."""
    from pyspark.sql import Observation

    from ida_ice_energy_simulation_etl_pipeline_spark.etl.validate import IntegrityCheck

    col = "v`x"
    rules = {"t": [(col, lo, hi) for lo in _BOUNDS for hi in _BOUNDS]}
    check = IntegrityCheck.of("t", [col], rules)
    want = check.counted({col: _VALUES})
    assert len(set(want.values())) > 5  # the grid tells the bounds apart
    df = spark.createDataFrame([(v,) for v in _VALUES], f"`{col.replace('`', '``')}` double")
    assert df.selectExpr(*check.aggs).first().asDict() == want
    observation = Observation()
    df.observe(observation, *map(F.expr, check.aggs)).write.format("noop").mode(
        "overwrite"
    ).save()
    assert observation.get == want


def test_month_ranges_give_a_shared_derived_key_one_month():
    """At +05:30 the derived key (the UTC hour) of 18:00 UTC, 23:30 on
    Jan 31, is also the key of 18:30 UTC, 00:00 on Feb 1.  The month
    buckets must not both hold it, or export counts its meter rows twice:
    the first month keeps it."""
    from ida_ice_energy_simulation_etl_pipeline_spark.etl.export import _month_ranges
    from ida_ice_energy_simulation_etl_pipeline_spark.etl.transform import _dim_time

    t17 = int(datetime(2024, 1, 31, 17, tzinfo=timezone.utc).timestamp()) * 1_000_000
    stamps = [t17, t17 + _H, t17 + _H + _H // 2, t17 + 2 * _H]
    dim = _dim_time(stamps, "derived", "Asia/Kolkata")
    k = dim.column("time_key")[0].as_py()
    assert dim.column("month").to_pylist() == [1, 1, 2, 2]
    assert _month_ranges(dim) == {1: [(k, k + 1)], 2: [(k + 2, k + 2)]}


_DIM_ZONE_ROWS = [
    (1, "B1", "Z1", "a"),
    (2, "B1", "Z1", "b"),  # one zone, two names: two dim rows
    (3, "B1", "Z2", "c"),
    (4, "B2", "Z1", "d"),
    (5, None, "Z1", "e"),  # null key parts never match an equi-join
    (6, "B2", None, "f"),
    (7, "B'1", "Z1", "g"),  # quotes and backslashes read back as themselves
    (8, "B\\2", "Z'1", "h"),
]
_FACT_KEYS = [("B1", "Z1"), ("B1", "Z2"), ("B1", "Z9"), ("B2", "Z1"), (None, "Z1"),
              ("B2", None), (None, None), ("B3", "Z1"), ("B1", "Z1"),
              ("null", "Z1"), ("B2", "null"),  # JSON spells a null map key "null"
              ("B'1", "Z1"), ("B\\2", "Z'1"), ("B\\2", "Z1"), ("B\\'1", "Z1")]


@pytest.mark.parametrize("dim_rows", [_DIM_ZONE_ROWS, []], ids=["zones", "empty"])
def test_fanned_key_kernel_matches_left_join(spark, dim_rows):
    from ida_ice_energy_simulation_etl_pipeline_spark.etl.transform import (
        _arrow,
        _fanned_key,
        _local,
    )

    dim = _arrow("dim_zone", [*zip(*dim_rows)], "zone_key")
    facts = spark.createDataFrame(_FACT_KEYS, "building_id string, zone_id string")
    got = facts.selectExpr(
        "building_id", "zone_id", f"{_fanned_key(dim, 'zone_key', 'zone_id')} AS zone_key"
    )
    want = facts.join(
        F.broadcast(_local(spark, dim).select("zone_key", "building_id", "zone_id")),
        ["building_id", "zone_id"],
        "left",
    ).select("building_id", "zone_id", "zone_key")
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
    if dim_rows:
        keys = [(r.building_id, r.zone_id, r.zone_key) for r in got.collect()]
        assert sorted(k for b, z, k in keys if (b, z) == ("B1", "Z1")) == [1, 1, 2, 2]
        assert {(b, z, k) for b, z, k in keys if k in (7, 8)} == {
            ("B'1", "Z1", 7), ("B\\2", "Z'1", 8)
        }


@pytest.mark.parametrize(
    "buildings", [["B1", None, "B2"], []], ids=["with_null_id", "empty"]
)
def test_weather_fan_out_matches_cross_join(spark, buildings):
    from ida_ice_energy_simulation_etl_pipeline_spark.etl.transform import (
        _arrow,
        _dim_time,
        _local,
        _time_key,
        build_fact_weather,
    )

    dim_time = _dim_time(_HOURLY[:4], "dense", "UTC")
    dim_building = _arrow("dim_building", [buildings, *[[None] * len(buildings)] * 3])
    weather = spark.createDataFrame(
        # every run carries the same series: duplicates are identical rows
        [(u, 1.0 * i, 50.0, 0.0) for i, u in [*enumerate(_HOURLY[:5])] * 2],
        "us long, drybulb_C double, relhum_pct double, ghi_W_m2 double",
    ).select(F.timestamp_micros("us").alias("timestamp"), "drybulb_C", "relhum_pct",
             "ghi_W_m2")
    got = build_fact_weather(weather, _time_key(dim_time, "dense"), buildings)
    want = (
        weather.dropDuplicates(["timestamp"])
        .join(F.broadcast(_local(spark, dim_time).select("time_key", "timestamp")),
              "timestamp", "left")
        .crossJoin(F.broadcast(_local(spark, dim_building).select("building_id")))
        .select(*got.columns)
    )
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
    assert got.count() == 5 * len(buildings)
