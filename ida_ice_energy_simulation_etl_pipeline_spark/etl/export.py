"""Export: aggregated JSON summary — computed HONESTLY.

The reference hard-codes its monthly breakdown, peak demand (156.8 kW) and
comfort hours (94.2 %) and fabricates values when tables are missing
(src/export_json.py:148-227 — SURVEY §4 caveat 1).  Here every figure is a
real aggregate over the star schema; only the lighting/equipment split
constants (35 % / 45 % of electric, reference src/export_json.py:140-141)
are preserved as constants, because they are modeling assumptions, not
measurements.  The multi-source fallback chain (export_json.py:64-119) is
replaced by explicit catalog reads.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

LIGHTING_SHARE = 0.35
EQUIPMENT_SHARE = 0.45
COMFORT_BAND_C = 1.0

REQUIRED_FIELDS = ("pipeline", "generated_at", "scenario", "annual", "kpis")


def _sorted_by(rows: list[Row], key: str) -> list[Row]:
    """``rows`` ordered as ``orderBy(key)`` orders them, nulls first, so
    driver-side float sums add up in the same order.  The rows are few
    (a dim, or one per month), and sorting them here spares the sort's
    Spark jobs."""
    return sorted(rows, key=lambda r: (r[key] is not None, r[key]))


def build_summary(
    star: dict[str, DataFrame],
    *,
    scenario_id: str | None = None,
    pipeline_name: str = "ida-ice-energy-spark",
) -> dict:
    """Canonical summary document (shape: FIXTURES.md §3, reference
    src/export_json.py:49-62) — every number computed from the data.

    FIVE collects total, and the three fact-side aggregates overlap as
    concurrent jobs with the dim_building collect (same pool pattern as
    ``validate_all``): the scenario-id gate collects dim_scenario once (its
    rows also serve the description lookup), dim_building is collected once
    (floor-area summed driver-side — it is a dim), annual figures derive
    from the monthly breakdown instead of a second meters pass, and
    peak/comfort run concurrently with it.  The collected rows are sorted
    on the driver (``_sorted_by``), not by ``orderBy``.  Wall time is
    max(fact scans), not their sum.
    """
    dim_building = star["dim_building"]
    scen_rows = _sorted_by(star["dim_scenario"].collect(), "scenario_id")
    scenarios = [r["scenario_id"] for r in scen_rows]
    if scenario_id is None:
        scenario_id = scenarios[0]
    if scenario_id not in scenarios:
        raise ValueError(f"unknown scenario {scenario_id!r}; have {scenarios}")
    scen_desc = next(r for r in scen_rows if r["scenario_id"] == scenario_id)

    meters = star["fact_meters"].filter(F.col("scenario_id") == scenario_id)
    # LEFT join: fact_meters is time-keyed by a LEFT join upstream
    # (transform._time_key), so a row can carry a null time_key.  The
    # reference's annual figures are whole-table sums (export_json.py
    # get_sum), so such rows must still count toward ANNUAL totals — they
    # land in a null-month bucket here, which the monthly breakdown skips
    # but the annual roll-forward includes.
    time_keyed = meters.join(
        F.broadcast(star["dim_time"].select("time_key", "month")),
        "time_key",
        "left",
    )

    def _monthly_rows():
        return (
            time_keyed.groupBy("month")
            .agg(
                F.sum("heating_kwh").alias("heating"),
                F.sum("cooling_kwh").alias("cooling"),
                F.sum("electric_kwh").alias("electric"),
            )
            .collect()
        )

    def _peak_kw():
        # Peak demand: real max over hourly HVAC power (the reference admits
        # "Would compute from hourly data" and hard-codes — export_json.py:188).
        return float(
            star["fact_hvac"]
            .filter(F.col("scenario_id") == scenario_id)
            .agg(F.max("power_kw"))
            .collect()[0][0]
            or 0.0
        )

    def _comfort_row():
        # Comfort: share of zone-hours within ±1 °C of setpoint — computed
        # from fact_zone_conditions instead of the reference's constant 94.2.
        return (
            star["fact_zone_conditions"]
            .filter(F.col("scenario_id") == scenario_id)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.when(
                        F.abs(F.col("air_temp_C") - F.col("setpoint_C"))
                        <= COMFORT_BAND_C,
                        1,
                    ).otherwise(0)
                ).alias("ok"),
            )
            .collect()[0]
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        monthly_f = pool.submit(_monthly_rows)
        peak_f = pool.submit(_peak_kw)
        comfort_f = pool.submit(_comfort_row)
        buildings = _sorted_by(dim_building.collect(), "building_id")
        monthly_rows = _sorted_by(monthly_f.result(), "month")
        peak_kw = peak_f.result()
        comfort_row = comfort_f.result()

    monthly = [
        {
            "month": int(r["month"]),
            "heating_kwh": round(float(r["heating"]), 1),
            "cooling_kwh": round(float(r["cooling"]), 1),
            "total_kwh": round(float(r["heating"] + r["cooling"] + r["electric"]), 1),
        }
        for r in monthly_rows
        if r["month"] is not None
    ]
    # Annual sums include the null-month bucket (rows with no time_key) —
    # reconciling with the reference's whole-table sums.
    electric = float(sum(r["electric"] for r in monthly_rows))
    heating = float(sum(r["heating"] for r in monthly_rows))
    cooling = float(sum(r["cooling"] for r in monthly_rows))
    total = electric + heating + cooling

    floor_area = float(sum(b["floor_area_m2"] or 0.0 for b in buildings))
    comfort_pct = (
        100.0 * comfort_row["ok"] / comfort_row["n"] if comfort_row["n"] else 0.0
    )

    return {
        "pipeline": pipeline_name,
        "generated_at": datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
        "scenario": {
            "name": scenario_id,
            "building_type": scen_desc["description"] or "unspecified",
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
) -> dict:
    """Build, validate, and write the summary JSON (reference
    src/export_json.py:229-232)."""
    doc = build_summary(star, scenario_id=scenario_id)
    errors = validate_summary(doc)
    if errors:
        raise ValueError(f"summary failed schema validation: {errors}")
    out_path = Path(out_path)
    out_path.parent.mkdir(parents=True, exist_ok=True)
    out_path.write_text(json.dumps(doc, indent=2))
    return doc
