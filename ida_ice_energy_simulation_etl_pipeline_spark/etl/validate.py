"""Validation suite: schema, nulls, ranges, temporal coverage, plausibility.

The reference runs one pandas filter per rule (src/etl/validate/__init__.py:
49-137) — a full scan each.  Here every table's rules collapse into ONE
conditional-aggregate pass (A7), and coverage checks are anti-joins (J8) —
at 100 TB the whole suite is a handful of scans, not dozens.

Report shape mirrors the reference (validate/__init__.py:242-296):
``{"is_valid": bool, "checks": {name: {"valid": bool, "errors": [...]}}}``.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..schemas import NULLABLE_WHITELIST, STAR_SCHEMAS


# Value-range rules (reference validate/__init__.py:77-137; FIXTURES.md §1).
# table -> [(column, lo, hi)] — None bound = unchecked side.
RANGE_RULES: dict[str, list[tuple[str, float | None, float | None]]] = {
    "fact_zone_conditions": [
        ("air_temp_C", 10.0, 35.0),
        ("co2_ppm", 400.0, 2500.0),
        ("rh_pct", 0.0, 100.0),
    ],
    "fact_weather": [
        ("drybulb_C", -30.0, 40.0),
        ("relhum_pct", 0.0, 100.0),
        ("ghi_W_m2", 0.0, None),
    ],
    "fact_hvac": [
        ("power_kw", 0.0, None),
        ("heating_kw", 0.0, None),
        ("cooling_kw", 0.0, None),
    ],
    "fact_meters": [
        ("electric_kwh", 0.0, None),
        ("heating_kwh", 0.0, None),
        ("cooling_kwh", 0.0, None),
    ],
}

FACT_TABLES = ("fact_zone_conditions", "fact_hvac", "fact_meters", "fact_weather")


def check_schema(star: dict[str, DataFrame]) -> dict:
    """Expected tables/columns present (reference validate:242-296)."""
    errors: list[str] = []
    for table, expected in STAR_SCHEMAS.items():
        if table not in star:
            errors.append(f"missing table: {table}")
            continue
        actual = set(star[table].columns)
        wanted = {f.name for f in expected.fields}
        if missing := wanted - actual:
            errors.append(f"{table}: missing columns {sorted(missing)}")
        if extra := actual - wanted:
            errors.append(f"{table}: unexpected columns {sorted(extra)}")
    return {"valid": not errors, "errors": errors}


Errors = dict[str, list[str]]  # report check name -> error lines


def _integrity_errors(
    table: str,
    df: DataFrame,
    rules: list[tuple[str, float | None, float | None]],
) -> Errors:
    """Null counts and range violations in ONE conditional-aggregate scan
    of one table (the reference runs one pandas filter per rule,
    validate:49-137 — a full scan each); both report families come from
    the same pass.  Every column outside the whitelist (cop_proxy) must
    be non-null (reference validate:49-55, whitelist :32-34)."""
    # (kind, column, lo, hi) per aggregate, aliased positionally so rule
    # columns can never collide with data columns.
    specs: list[tuple[str, str, float | None, float | None]] = []
    conds = []
    allowed = NULLABLE_WHITELIST.get(table, set())
    for c in df.columns:
        if c not in allowed:
            specs.append(("nulls", c, None, None))
            conds.append(F.col(c).isNull())
    for col, lo, hi in rules:
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (F.col(col) < lo)
        if hi is not None:
            cond = cond | (F.col(col) > hi)
        specs.append(("ranges", col, lo, hi))
        conds.append(cond)
    errors: Errors = {"nulls": [], "ranges": []}
    if not conds:
        return errors
    row = df.agg(
        *(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"a{i}")
            for i, cond in enumerate(conds)
        )
    ).collect()[0]
    for i, (kind, col, lo, hi) in enumerate(specs):
        if n := row[f"a{i}"]:
            errors[kind].append(
                f"{table}.{col}: {n} null values"
                if kind == "nulls"
                else f"{table}.{col}: {n} rows outside [{lo}, {hi}]"
            )
    return errors


def _gap_errors(dim_time: DataFrame) -> Errors:
    """Continuity: hourly with no gaps (lag window, reference
    validate:159-168)."""
    gaps = (
        dim_time.select("timestamp")
        .withColumn(
            "gap_s",
            F.unix_timestamp("timestamp")
            - F.unix_timestamp(F.lag("timestamp").over(Window.orderBy("timestamp"))),
        )
        .filter(F.col("gap_s") != 3600)
        .count()
    )
    msg = f"dim_time: {gaps} non-hourly gaps in timestamp sequence"
    return {"temporal": [msg] if gaps else []}


def _coverage_errors(table: str, df: DataFrame, keys: DataFrame) -> Errors:
    """Coverage: the fact covers every time_key (anti-join, reference
    validate:171-180)."""
    missing = keys.join(
        df.select("time_key").distinct(), "time_key", "left_anti"
    ).count()
    msg = f"{table}: {missing} time periods uncovered"
    return {"temporal": [msg] if missing else []}


def _plausibility_errors(fact_meters: DataFrame) -> Errors:
    """Per-(building, scenario) energy sums must be physically plausible
    (reference validate:204-227): electric > 0, heating+cooling > 0,
    electric >= 0.2 × (heating+cooling)."""
    sums = fact_meters.groupBy("building_id", "scenario_id").agg(
        F.sum("electric_kwh").alias("electric"),
        F.sum("heating_kwh").alias("heating"),
        F.sum("cooling_kwh").alias("cooling"),
    )
    bad = sums.filter(
        (F.col("electric") <= 0)
        | ((F.col("heating") + F.col("cooling")) <= 0)
        | (F.col("electric") < 0.2 * (F.col("heating") + F.col("cooling")))
    ).collect()
    return {
        "plausibility": [
            f"({r['building_id']}, {r['scenario_id']}): implausible energy totals "
            f"electric={r['electric']:.1f} heating={r['heating']:.1f} "
            f"cooling={r['cooling']:.1f}"
            for r in bad
        ]
    }


def validate_all(
    star: dict[str, DataFrame],
    *,
    range_rules: dict[str, list[tuple[str, float | None, float | None]]]
    | None = None,
) -> dict:
    """Run all five check families (reference validate_all,
    validate:232-296).  This is the pipeline gate: load only proceeds when
    ``is_valid`` (or the caller explicitly overrides).  ``range_rules``
    overrides the defaults (config surface, reference config.yaml:40-55).

    The suite is a pile of SMALL independent aggregate jobs — one fused
    null+range scan per table, the dim_time gap check, one coverage
    anti-join per fact table and the plausibility sums.  Executed serially
    each pays full job-submission latency, which dominates wall time on
    landed parquet; Spark's scheduler runs concurrent jobs from separate
    driver threads side by side, so all of them go to ONE driver pool and
    the suite costs ~the slowest single check instead of the sum."""
    rules = range_rules or RANGE_RULES
    keys = star["dim_time"].select("time_key")
    actions = (
        [
            partial(_integrity_errors, t, star[t], rules.get(t, []))
            for t in STAR_SCHEMAS
            if t in star
        ]
        + [partial(_gap_errors, star["dim_time"])]
        + [
            partial(_coverage_errors, t, star[t], keys)
            for t in FACT_TABLES
            if t in star
        ]
        + [partial(_plausibility_errors, star["fact_meters"])]
    )
    errors: Errors = {"nulls": [], "ranges": [], "temporal": [], "plausibility": []}
    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        for found in pool.map(lambda run: run(), actions):
            for name, errs in found.items():
                errors[name].extend(errs)
    checks = {
        "schema": check_schema(star),
        **{name: {"valid": not e, "errors": e} for name, e in errors.items()},
    }
    return {"is_valid": all(c["valid"] for c in checks.values()), "checks": checks}
