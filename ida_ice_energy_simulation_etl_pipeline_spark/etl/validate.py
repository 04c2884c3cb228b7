"""Validation suite: schema, nulls, ranges, temporal coverage, plausibility.

The reference runs one pandas filter per rule (src/etl/validate/__init__.py:
49-137) — a full scan each.  Here every table's null and range rules
collapse into ONE list of conditional aggregates (A7, ``IntegrityCheck``).
``run_pipeline`` attaches that list to each fact's land write with
``DataFrame.observe`` and counts the same specs over the dims it holds on
the driver (``IntegrityCheck.counted``), so the checks cost no job of
their own; standalone ``validate_all`` runs the list as one ``df.agg`` per
table.  Temporal coverage of
all four facts is ONE anti-join query (J8) — at 100 TB the whole suite is a
handful of scans, not dozens.

A malformed star (a missing table or column) fails ``check_schema``; the
other checks skip what is missing instead of raising, so the outcome is a
failed report, never a crash.

Report shape mirrors the reference (validate/__init__.py:242-296):
``{"is_valid": bool, "checks": {name: {"valid": bool, "errors": [...]}}}``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial, reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import NULLABLE_WHITELIST, STAR_SCHEMAS


Rules = dict[str, list[tuple[str, float | None, float | None]]]

# Value-range rules (reference validate/__init__.py:77-137; FIXTURES.md §1).
# table -> [(column, lo, hi)] — None bound = unchecked side.
RANGE_RULES: Rules = {
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


@dataclass(frozen=True)
class IntegrityCheck:
    """Null counts and range violations of one table as ONE list of
    conditional aggregates (the reference runs one pandas filter per rule,
    validate:49-137 — a full scan each).  Every column outside the
    whitelist (cop_proxy) must be non-null (reference validate:49-55,
    whitelist :32-34).

    ``aggs`` are aliased positionally (``a0``, ``a1``, …) so rule columns
    can never collide with data columns; ``errors`` turns their values —
    a ``df.agg`` row or an ``Observation.get`` dict — into report lines.
    A range rule on a column the table lacks is reported, not run."""

    table: str
    specs: tuple[tuple[str, str, float | None, float | None], ...]
    aggs: tuple[Column, ...]
    unchecked: tuple[str, ...]

    @classmethod
    def of(cls, table: str, columns: list[str], rules: Rules) -> IntegrityCheck:
        allowed = NULLABLE_WHITELIST.get(table, set())
        specs = [("nulls", c, None, None) for c in columns if c not in allowed]
        conds = [F.col(c).isNull() for _, c, _, _ in specs]
        unchecked = []
        for col, lo, hi in rules.get(table, []):
            if col not in columns:
                unchecked.append(col)
                continue
            cond = F.lit(False)
            if lo is not None:
                cond = cond | (F.col(col) < lo)
            if hi is not None:
                cond = cond | (F.col(col) > hi)
            specs.append(("ranges", col, lo, hi))
            conds.append(cond)
        aggs = tuple(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"a{i}")
            for i, cond in enumerate(conds)
        )
        return cls(table, tuple(specs), aggs, tuple(unchecked))

    def errors(self, values: Mapping[str, int | None]) -> Errors:
        errors: Errors = {"nulls": [], "ranges": []}
        for i, (kind, col, lo, hi) in enumerate(self.specs):
            if n := values[f"a{i}"]:
                errors[kind].append(
                    f"{self.table}.{col}: {n} null values"
                    if kind == "nulls"
                    else f"{self.table}.{col}: {n} rows outside [{lo}, {hi}]"
                )
        errors["ranges"] += [
            f"{self.table}.{col}: column missing, range not checked"
            for col in self.unchecked
        ]
        return errors

    def scan(self, df: DataFrame) -> Errors:
        """The standalone path: the aggregates as one ``df.agg`` action."""
        return self.errors(df.agg(*self.aggs).collect()[0] if self.aggs else {})

    def counted(self, columns: Mapping[str, Sequence]) -> Errors:
        """The driver path, for a table whose values are already on the
        driver (``{column: values}``): each spec counted as its aggregate
        counts it.  A null is never out of range, and NaN sorts above
        every number, as in Spark's comparisons."""

        def order(v):
            return (v != v, 0 if v != v else v)

        def count(kind: str, col: str, lo: float | None, hi: float | None) -> int:
            values = columns[col]
            if kind == "nulls":
                return sum(v is None for v in values)
            return sum(
                v is not None
                and (
                    (lo is not None and order(v) < order(lo))
                    or (hi is not None and order(v) > order(hi))
                )
                for v in values
            )

        return self.errors({f"a{i}": count(*spec) for i, spec in enumerate(self.specs)})


def integrity_checks(
    star: dict[str, DataFrame], range_rules: Rules | None = None
) -> dict[str, IntegrityCheck]:
    """One ``IntegrityCheck`` per star table present, in report order."""
    rules = range_rules or RANGE_RULES
    return {
        t: IntegrityCheck.of(t, star[t].columns, rules)
        for t in STAR_SCHEMAS
        if t in star
    }


def _gap_errors(dim_time: DataFrame) -> Errors:
    """Continuity: hourly with no gaps (reference validate:159-168).
    Decided on the driver from the dim's timestamps in whole seconds: one
    step per consecutive non-null pair in ascending order.  Collecting
    the local dim ``run_pipeline`` hands over costs no job."""
    seconds = sorted(
        s for (s,) in dim_time.select(F.unix_timestamp("timestamp")).collect()
        if s is not None
    )
    gaps = sum(b - a != 3600 for a, b in zip(seconds, seconds[1:]))
    msg = f"dim_time: {gaps} non-hourly gaps in timestamp sequence"
    return {"temporal": [msg] if gaps else []}


def _coverage_errors(facts: dict[str, DataFrame], dim_time: DataFrame) -> Errors:
    """Coverage: every fact covers every time_key (reference
    validate:171-180).  One query for all facts: the expected
    (table, time_key) pairs anti-joined against the distinct observed
    ones, counted per table."""
    covered = reduce(
        DataFrame.unionByName,
        (df.select(F.lit(t).alias("table"), "time_key") for t, df in facts.items()),
    ).distinct()
    expected = dim_time.select(
        F.explode(F.array(*(F.lit(t) for t in facts))).alias("table"), "time_key"
    )
    missing = dict(
        expected.join(covered, ["table", "time_key"], "left_anti")
        .groupBy("table")
        .count()
        .collect()
    )
    return {
        "temporal": [
            f"{t}: {missing[t]} time periods uncovered" for t in facts if t in missing
        ]
    }


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


def _has(star: dict[str, DataFrame], table: str, *columns: str) -> bool:
    return table in star and set(columns) <= set(star[table].columns)


def validate_all(
    star: dict[str, DataFrame],
    *,
    range_rules: Rules | None = None,
    integrity: dict[str, Errors] | None = None,
) -> dict:
    """Run all five check families (reference validate_all,
    validate:232-296).  This is the pipeline gate: load only proceeds when
    ``is_valid`` (or the caller explicitly overrides).  ``range_rules``
    overrides the defaults (config surface, reference config.yaml:40-55).
    ``integrity`` carries per-table null/range errors already computed from
    the same ``IntegrityCheck`` (``run_pipeline`` observes them on the land
    write); every star table it lacks is scanned here with one ``df.agg``.

    What remains is a few SMALL independent jobs — the unobserved
    null+range scans, the dim_time gap check (no job on a local dim), the
    one coverage query and the plausibility sums.  Executed serially each
    pays full
    job-submission latency, which dominates wall time on landed parquet;
    Spark's scheduler runs concurrent jobs from separate driver threads
    side by side, so all of them go to ONE driver pool and the suite costs
    ~the slowest single check instead of the sum.  Checks whose table or
    columns are missing are skipped; ``check_schema`` fails the report."""
    given = integrity or {}
    checks = integrity_checks(star, range_rules)
    actions = []
    if _has(star, "dim_time", "timestamp"):
        actions.append(partial(_gap_errors, star["dim_time"]))
    facts = {t: star[t] for t in FACT_TABLES if _has(star, t, "time_key")}
    if facts and _has(star, "dim_time", "time_key"):
        actions.append(partial(_coverage_errors, facts, star["dim_time"]))
    meter_cols = ("building_id", "scenario_id", "electric_kwh", "heating_kwh", "cooling_kwh")
    if _has(star, "fact_meters", *meter_cols):
        actions.append(partial(_plausibility_errors, star["fact_meters"]))
    errors: Errors = {"nulls": [], "ranges": [], "temporal": [], "plausibility": []}
    with ThreadPoolExecutor(max_workers=len(checks) + len(actions) or 1) as pool:
        scanned = {
            t: pool.submit(c.scan, star[t]) for t, c in checks.items() if t not in given
        }
        rest = [pool.submit(run) for run in actions]
        found = [given[t] if t in given else scanned[t].result() for t in checks]
        found += [f.result() for f in rest]
    for part in found:
        for name, errs in part.items():
            errors[name].extend(errs)
    report = {
        "schema": check_schema(star),
        **{name: {"valid": not e, "errors": e} for name, e in errors.items()},
    }
    return {"is_valid": all(c["valid"] for c in report.values()), "checks": report}
