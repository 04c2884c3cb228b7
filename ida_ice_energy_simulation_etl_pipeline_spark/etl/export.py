"""Export: aggregated JSON summary — computed HONESTLY.

The reference hard-codes its monthly breakdown, peak demand (156.8 kW) and
comfort hours (94.2 %) and fabricates values when tables are missing
(src/export_json.py:148-227 — SURVEY §4 caveat 1).  Here every figure is a
real aggregate over the star schema; only the lighting/equipment split
constants (35 % / 45 % of electric, reference src/export_json.py:140-141)
are preserved as constants, because they are modeling assumptions, not
measurements.  The multi-source fallback chain (export_json.py:64-119) is
replaced by explicit catalog reads.

The scenario, buildings and month buckets are read off the dims; the
fact figures are one aggregate list per fact table (``summary_aggs``,
SQL text with the scenario id quoted by ``sqltext``), which
``run_pipeline`` observes on the land writes, so the summary costs no
Spark job there.  A month bucket is a set of ``time_key`` ranges, so
each meter row counts in one bucket, with no join to dim_time.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Mapping
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame

from .sqltext import number, string
from .transform import _nulls_first, dim_table

LIGHTING_SHARE = 0.35
EQUIPMENT_SHARE = 0.45
COMFORT_BAND_C = 1.0

REQUIRED_FIELDS = ("pipeline", "generated_at", "scenario", "annual", "kpis")


def _sorted_by(rows: list[dict], key: str) -> list[dict]:
    """``rows`` ordered as ``orderBy(key)`` orders them, nulls first.  The
    rows are a dim's, and sorting them here spares the sort's Spark
    jobs."""
    return sorted(rows, key=lambda r: _nulls_first((r[key],)))


def _exported(dim_scenario: pa.Table, scenario_id: str | None) -> dict:
    """The dim_scenario row the summary describes: ``scenario_id``'s, or
    the first (nulls first) when it is None."""
    rows = _sorted_by(dim_scenario.to_pylist(), "scenario_id")
    scenarios = [r["scenario_id"] for r in rows]
    if scenario_id is None:
        scenario_id = scenarios[0]
    if scenario_id not in scenarios:
        raise ValueError(f"unknown scenario {scenario_id!r}; have {scenarios}")
    return next(r for r in rows if r["scenario_id"] == scenario_id)


def _month_ranges(dim_time: pa.Table) -> dict[int, list[tuple[int, int]]]:
    """Each month's ``time_key`` ranges, read off dim_time: one per (year,
    month) the dim spans, from its smallest key to its largest, so a
    month costs a few literals, not one per hour.  Keys follow the
    timestamps, so a range holds its month's keys only; a range starts
    past the one before it, so a key two months share (two stamps in one
    derived hour) counts in the first.  A key outside every range (null,
    or of a row with no timestamp) belongs to no month."""
    spans: dict[tuple, tuple[int, int]] = {}
    columns = (dim_time.column(c).to_pylist() for c in ("time_key", "year", "month"))
    for key, year, month in zip(*columns):
        if key is not None and month is not None:
            lo, hi = spans.get((year, month), (key, key))
            spans[year, month] = (min(lo, key), max(hi, key))
    ranges: dict[int, list[tuple[int, int]]] = defaultdict(list)
    end = None
    for (_, month), (lo, hi) in sorted(spans.items(), key=lambda kv: kv[1]):
        lo = lo if end is None else max(lo, end + 1)
        if lo <= hi:
            ranges[month].append((lo, hi))
            end = hi
    return dict(sorted(ranges.items()))


ENERGY = ("heating", "cooling", "electric")
FACT_TABLES = ("fact_zone_conditions", "fact_hvac", "fact_meters")  # the summary reads


def _aggs(
    scenario_id: str | None, months: dict[int, list[tuple[int, int]]]
) -> dict[str, tuple[str, ...]]:
    """The summary's figures for one scenario as aggregates (SQL text) per
    fact table.  fact_meters gets a row count and the three sums per
    bucket: bucket 0 holds the rows in no month (a null ``time_key``),
    bucket ``i`` the ``i``-th month of ``months``.  Every row counts in
    exactly one bucket, and a bucket is reported only if it has rows."""
    scen = "scenario_id = " + ("NULL" if scenario_id is None else string(scenario_id))
    in_month = [
        "(" + " OR ".join(
            f"(time_key >= {number(lo)} AND time_key <= {number(hi)})" for lo, hi in ranges
        ) + ")"
        for ranges in months.values()
    ]
    no_month = f"(NOT coalesce({' OR '.join(['false', *in_month])}, false))"
    meters = []
    for i, bucket in enumerate([no_month, *in_month]):
        hit = f"{scen} AND {bucket}"
        meters += [
            f"count(CASE WHEN {hit} THEN 1 END) AS m{i}_rows",
            *(f"sum(CASE WHEN {hit} THEN {e}_kwh END) AS m{i}_{e}" for e in ENERGY),
        ]
    comfortable = f"abs(air_temp_C - setpoint_C) <= {number(COMFORT_BAND_C)}"
    return {
        # Comfort: share of zone-hours within ±1 °C of setpoint — computed
        # from fact_zone_conditions instead of the reference's constant 94.2.
        "fact_zone_conditions": (
            f"count(CASE WHEN {scen} THEN 1 END) AS zone_hours",
            f"sum(CASE WHEN {scen} AND {comfortable} THEN 1 ELSE 0 END) AS comfort_hours",
        ),
        # Peak demand: real max over hourly HVAC power (the reference admits
        # "Would compute from hourly data" and hard-codes — export_json.py:188).
        "fact_hvac": (f"max(CASE WHEN {scen} THEN power_kw END) AS peak_kw",),
        "fact_meters": tuple(meters),
    }


def summary_aggs(
    star: dict[str, DataFrame], scenario_id: str | None = None
) -> dict[str, tuple[str, ...]]:
    """Per fact table, the aggregates ``build_summary`` reads for the
    exported scenario, which ``run_pipeline`` observes on the land
    writes.  None when ``scenario_id`` names no scenario: ``build_summary``
    raises then, after publishing, as it always has."""
    try:
        scenario = _exported(dim_table(star, "dim_scenario"), scenario_id)
    except (ValueError, IndexError):
        return {}
    return _aggs(scenario["scenario_id"], _month_ranges(dim_table(star, "dim_time")))


def build_summary(
    star: dict[str, DataFrame],
    *,
    scenario_id: str | None = None,
    pipeline_name: str = "ida-ice-energy-spark",
    observed: Mapping[str, Mapping[str, object]] | None = None,
) -> dict:
    """Canonical summary document (shape: FIXTURES.md §3, reference
    src/export_json.py:49-62) — every number computed from the data.

    The scenario, the buildings and the month buckets come from the dims,
    each read once on the driver (``dim_table``); every fact figure from
    the aggregates of ``summary_aggs``.  ``observed`` carries their values
    per table (``run_pipeline`` observes them on the land writes, so the
    summary runs no Spark job); every fact table it lacks runs its list as
    one aggregate, the three side by side on one driver pool.  The
    reference's annual figures are whole-table sums (export_json.py
    get_sum), so the annual totals add up every bucket, the rows in no
    month included, while the monthly breakdown lists the months.  A
    bucket sum over only nulls counts as 0.0, as a whole-column sum and
    the reference's pandas sum count it.
    """
    scenario = _exported(dim_table(star, "dim_scenario"), scenario_id)
    months = _month_ranges(dim_table(star, "dim_time"))
    observed = observed or {}
    aggs = _aggs(scenario["scenario_id"], months)
    with ThreadPoolExecutor(max_workers=len(FACT_TABLES)) as pool:
        scans = {
            t: pool.submit(lambda t: star[t].selectExpr(*aggs[t]).first().asDict(), t)
            for t in FACT_TABLES if t not in observed
        }
        buildings = _sorted_by(dim_table(star, "dim_building").to_pylist(), "building_id")
        values = {
            t: observed[t] if t in observed else scans[t].result() for t in FACT_TABLES
        }

    meters = values["fact_meters"]
    sums = {k: 0.0 if v is None else v for k, v in meters.items()}
    buckets = [
        {"month": month, **{e: sums[f"m{i}_{e}"] for e in ENERGY}}
        for i, month in enumerate([None, *months])
        if meters[f"m{i}_rows"]
    ]
    monthly = [
        {
            "month": int(r["month"]),
            "heating_kwh": round(float(r["heating"]), 1),
            "cooling_kwh": round(float(r["cooling"]), 1),
            "total_kwh": round(float(r["heating"] + r["cooling"] + r["electric"]), 1),
        }
        for r in buckets
        if r["month"] is not None
    ]
    electric = float(sum(r["electric"] for r in buckets))
    heating = float(sum(r["heating"] for r in buckets))
    cooling = float(sum(r["cooling"] for r in buckets))
    total = electric + heating + cooling

    floor_area = float(sum(b["floor_area_m2"] or 0.0 for b in buildings))
    zones = values["fact_zone_conditions"]
    comfort_pct = (
        100.0 * zones["comfort_hours"] / zones["zone_hours"] if zones["zone_hours"] else 0.0
    )
    peak_kw = float(values["fact_hvac"]["peak_kw"] or 0.0)

    return {
        "pipeline": pipeline_name,
        "generated_at": datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
        "scenario": {
            "name": scenario["scenario_id"],
            "building_type": scenario["description"] or "unspecified",
            "location": buildings[0]["location"] if buildings else "unknown",
            "floor_area_m2": floor_area,
        },
        "annual": {
            "total_kwh": round(total, 1),
            "heating_kwh": round(heating, 1),
            "cooling_kwh": round(cooling, 1),
            "electric_kwh": round(electric, 1),
            "lighting_kwh": round(electric * LIGHTING_SHARE, 1),
            "equipment_kwh": round(electric * EQUIPMENT_SHARE, 1),
        },
        "monthly_breakdown": monthly,
        "kpis": {
            "energy_intensity_kwh_m2": round(total / floor_area, 2)
            if floor_area
            else None,
            "peak_demand_kw": round(peak_kw, 1),
            "comfort_hours_percent": round(comfort_pct, 1),
        },
    }


def validate_summary(doc: dict) -> list[str]:
    """Schema check on the exported document (reference
    src/validate_json.py:29-79)."""
    errors = [f"missing required field: {f}" for f in REQUIRED_FIELDS if f not in doc]
    annual = doc.get("annual", {})
    for k in ("total_kwh", "heating_kwh", "cooling_kwh"):
        v = annual.get(k)
        if v is None:
            errors.append(f"annual.{k} missing")
        elif not isinstance(v, (int, float)) or v < 0:
            errors.append(f"annual.{k} must be a non-negative number, got {v!r}")
    gen = doc.get("generated_at", "")
    try:
        datetime.fromisoformat(gen.replace("Z", "+00:00"))
    except ValueError:
        errors.append(f"generated_at is not ISO-8601: {gen!r}")
    if "kpis" in doc and "comfort_hours_percent" in doc["kpis"]:
        pct = doc["kpis"]["comfort_hours_percent"]
        if not (0 <= pct <= 100):
            errors.append(f"kpis.comfort_hours_percent out of [0,100]: {pct}")
    return errors


def export_summary(
    star: dict[str, DataFrame],
    out_path: str | Path,
    *,
    scenario_id: str | None = None,
    observed: Mapping[str, Mapping[str, object]] | None = None,
) -> dict:
    """Build, validate, and write the summary JSON (reference
    src/export_json.py:229-232)."""
    doc = build_summary(star, scenario_id=scenario_id, observed=observed)
    errors = validate_summary(doc)
    if errors:
        raise ValueError(f"summary failed schema validation: {errors}")
    out_path = Path(out_path)
    out_path.parent.mkdir(parents=True, exist_ok=True)
    out_path.write_text(json.dumps(doc, indent=2))
    return doc
