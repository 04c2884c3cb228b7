"""Output checks computed by DuckDB, independently of Spark.

Each check returns a list of error strings; an empty list is a pass.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import duckdb
import numpy as np

STAR_TABLES = (
    "dim_building",
    "dim_scenario",
    "dim_zone",
    "dim_ahu",
    "dim_time",
    "fact_zone_conditions",
    "fact_hvac",
    "fact_meters",
    "fact_weather",
)


def _parquet(path: Path | str) -> str:
    return f"read_parquet('{Path(path)}/**/*.parquet')"


def expected_row_counts(m: dict) -> dict[str, int]:
    """Row counts the generator arithmetic gives for a manifest."""
    runs = m["buildings"] * m["scenarios"]
    h = m["hours"]
    return {
        "dim_building": m["buildings"],
        "dim_scenario": m["scenarios"],
        "dim_zone": m["buildings"] * m["zones"],
        "dim_ahu": m["buildings"] * m["ahus"],
        "dim_time": h,
        "fact_zone_conditions": runs * m["zones"] * h,
        "fact_hvac": runs * m["ahus"] * h,
        "fact_meters": runs * h,
        "fact_weather": m["buildings"] * h,
    }


def star_digest(con: duckdb.DuckDBPyConnection, parquet_dir: Path) -> dict[str, list]:
    """Per published table: [rows, order-independent sum of row hashes]."""
    out = {}
    for t in STAR_TABLES:
        rows, h = con.execute(
            f"SELECT count(*), sum(hash(t)::HUGEINT) FROM {_parquet(parquet_dir / t)} t"
        ).fetchone()
        out[t] = [int(rows), str(h)]
    return out


def check_etl_pass(
    con: duckdb.DuckDBPyConnection,
    manifest: dict,
    inputs: Path,
    out_dir: Path,
    result: dict,
    digest: dict,
) -> list[str]:
    """One run_pipeline pass: validation verdict, star row counts, and
    summary.json's annual figures against the raw meters.csv."""
    errors = []
    report = result["validation"]
    if not report.get("is_valid"):
        failed = [k for k, v in report["checks"].items() if not v["valid"]]
        errors.append(f"validation report is_valid=false: {failed}")
    for t, want in expected_row_counts(manifest).items():
        got = digest[t][0]
        if got != want:
            errors.append(f"{t}: {got} rows, generator arithmetic gives {want}")
    summary = json.loads((out_dir / "summary.json").read_text())
    scenario = summary["scenario"]["name"]
    sums = con.execute(
        "SELECT sum(electric_kwh), sum(heating_kwh), sum(cooling_kwh) "
        f"FROM read_csv('{inputs}/raw_meters/*.csv', header=true) "
        "WHERE scenario_id = ?",
        [scenario],
    ).fetchone()
    for key, want in zip(("electric_kwh", "heating_kwh", "cooling_kwh"), sums):
        got = summary["annual"][key]
        if not _within_rounding(got, want):
            errors.append(f"summary annual.{key}={got}, DuckDB over meters.csv={want:.4f}")
    return errors


def register_star(con: duckdb.DuckDBPyConnection, parquet_dir: Path) -> None:
    """The published star plus the package's own view SQL, in DuckDB."""
    from ida_ice_energy_simulation_etl_pipeline_spark.etl.load import VIEW_DDL

    for t in STAR_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {_parquet(parquet_dir / t)}")
    for view, body in VIEW_DDL.items():
        con.execute(f"CREATE OR REPLACE VIEW {view} AS {body}")


def _canon(v):
    """One Python form for a value from either engine: Spark's toPandas
    gives numpy scalars, numpy arrays for array columns and NaN for a null
    in a numeric column; DuckDB gives Python scalars, lists and None."""
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare_rows(
    name: str, spark_rows: list[tuple], duck_rows: list[tuple], *, exact: bool = False
) -> list[str]:
    """Order-insensitive compare.  Unless ``exact``, floats agree to 1e-9
    relative: each engine sums an aggregate in its own order."""
    same = (lambda a, b: a == b) if exact else _close
    s = sorted((tuple(_canon(v) for v in r) for r in spark_rows), key=repr)
    d = sorted((tuple(_canon(v) for v in r) for r in duck_rows), key=repr)
    if len(s) != len(d):
        return [f"{name}: {len(s)} rows, DuckDB {len(d)}"]
    bad = [(a, b) for a, b in zip(s, d) if len(a) != len(b) or not all(map(same, a, b))]
    return [f"{name}: {len(bad)} rows differ from DuckDB, first {bad[0]}"] if bad else []


def pandas_rows(pdf) -> list[tuple]:
    return list(pdf.itertuples(index=False, name=None))


def check_kernel(con: duckdb.DuckDBPyConnection, spec, pdf) -> list[str]:
    """A QuerySpec result (materialized with toPandas) against its oracle,
    with columns matched by name and values equal, as the repo's oracle
    parity tests require."""
    res = con.execute(spec.oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(dcols) != sorted(pdf.columns):
        return [f"{spec.name}: columns {sorted(pdf.columns)} vs oracle {sorted(dcols)}"]
    order = [dcols.index(c) for c in sorted(dcols)]
    pdf = pdf[sorted(pdf.columns)]
    srows = pandas_rows(pdf)
    drows = [tuple(r[i] for i in order) for r in drows]
    return compare_rows(spec.name, srows, drows, exact=True)


def _within_rounding(got: float, want: float) -> bool:
    """``got`` is ``want`` rounded to 0.1, up to float summation order."""
    return abs(got - want) <= 0.05 + 1e-9 * abs(want)


def check_summary_against_star(con: duckdb.DuckDBPyConnection, doc: dict) -> list[str]:
    """export_summary's figures against DuckDB aggregates over the star
    registered by ``register_star``."""
    scenario = doc["scenario"]["name"]
    e, h, c = con.execute(
        "SELECT sum(electric_kwh), sum(heating_kwh), sum(cooling_kwh) "
        "FROM fact_meters WHERE scenario_id = ?",
        [scenario],
    ).fetchone()
    (peak,) = con.execute(
        "SELECT max(power_kw) FROM fact_hvac WHERE scenario_id = ?", [scenario]
    ).fetchone()
    (comfort,) = con.execute(
        "SELECT 100.0 * sum(CASE WHEN abs(air_temp_C - setpoint_C) <= 1.0 "
        "THEN 1 ELSE 0 END) / count(*) FROM fact_zone_conditions "
        "WHERE scenario_id = ?",
        [scenario],
    ).fetchone()
    pairs = {
        "annual.electric_kwh": (doc["annual"]["electric_kwh"], e),
        "annual.heating_kwh": (doc["annual"]["heating_kwh"], h),
        "annual.cooling_kwh": (doc["annual"]["cooling_kwh"], c),
        "kpis.peak_demand_kw": (doc["kpis"]["peak_demand_kw"], peak),
        "kpis.comfort_hours_percent": (doc["kpis"]["comfort_hours_percent"], comfort),
    }
    return [
        f"summary_export {k}={got}, DuckDB {want:.4f}"
        for k, (got, want) in pairs.items()
        if not _within_rounding(got, want)
    ]


def check_view_extract(con: duckdb.DuckDBPyConnection, path: Path, view: str) -> list[str]:
    """The view written by Spark against the same view computed by DuckDB:
    row count and order-independent row-hash sum."""
    written = con.execute(
        f"SELECT count(*), sum(hash(t)::HUGEINT) FROM {_parquet(path)} t"
    ).fetchone()
    computed = con.execute(
        f"SELECT count(*), sum(hash(t)::HUGEINT) FROM (SELECT * FROM {view}) t"
    ).fetchone()
    if written != computed:
        return [f"view_extract: written {written} vs DuckDB {computed} (rows, hash)"]
    return []
