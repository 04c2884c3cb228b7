"""Validation suite: schema, nulls, ranges, temporal coverage, plausibility.

The reference runs one pandas filter per rule (src/etl/validate/__init__.py:
49-137) — a full scan each.  Here each check is ONE kernel: a list of
aggregates plus a formatter that turns their values into report lines.
A table's null and range rules are conditional counts (A7,
``IntegrityCheck``); coverage of dim_time by a fact (J8,
``CoverageCheck``) is a bitmap of the keys it holds, decoded on the
driver; plausibility formats per-run meter sums; the dim_time gap check
reads the dim's timestamps on the driver.  The aggregates are SQL text
(names and bounds quoted by ``sqltext``): a table's list costs one
driver round trip as a select, a few per aggregate as observed Columns.

``run_pipeline`` attaches each fact's aggregates (``fact_aggs``) to its
land write with ``DataFrame.observe``, counts the same specs over the dims
it holds on the driver (``IntegrityCheck.counted``) and has the meter sums
from the transform's key-set query, so the gate costs no Spark job.
Standalone, ``validate_all`` runs each table's list as one aggregate and
the sums as one ``groupBy`` — at 100 TB a handful of scans, not dozens.

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
from operator import le, lt

import pyarrow as pa
from pyspark.sql import DataFrame

from ..schemas import NULLABLE_WHITELIST, STAR_SCHEMAS
from .sqltext import ident, number
from .transform import _nulls_first, dim_table


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


def _order(v: float) -> tuple:
    """Sort key of a non-null number in Spark's order: NaN above all."""
    return (v != v, 0 if v != v else v)


@dataclass(frozen=True)
class IntegrityCheck:
    """Null counts and range violations of one table as ONE list of
    conditional aggregates (the reference runs one pandas filter per rule,
    validate:49-137 — a full scan each).  Every column outside the
    whitelist (cop_proxy) must be non-null (reference validate:49-55,
    whitelist :32-34).

    ``aggs`` are SQL text, aliased positionally (``a0``, ``a1``, …) so
    rule columns can never collide with data columns; ``errors`` turns
    their values — an aggregate row or an ``Observation.get`` dict — into
    report lines.
    A range rule on a column the table lacks is reported, not run."""

    table: str
    specs: tuple[tuple[str, str, float | None, float | None], ...]
    unchecked: tuple[str, ...]

    @classmethod
    def of(cls, table: str, columns: list[str], rules: Rules) -> IntegrityCheck:
        allowed = NULLABLE_WHITELIST.get(table, set())
        specs = [("nulls", c, None, None) for c in columns if c not in allowed]
        unchecked = []
        for col, lo, hi in rules.get(table, []):
            if col not in columns:
                unchecked.append(col)
                continue
            specs.append(("ranges", col, lo, hi))
        return cls(table, tuple(specs), tuple(unchecked))

    @property
    def aggs(self) -> tuple[str, ...]:
        def cond(kind: str, col: str, lo: float | None, hi: float | None) -> str:
            if kind == "nulls":
                return f"{ident(col)} IS NULL"
            bounds = [
                f"{ident(col)} {op} {number(v)}" for op, v in (("<", lo), (">", hi))
                if v is not None
            ]
            return " OR ".join(bounds) or "false"

        return tuple(
            f"CAST(sum(CASE WHEN {cond(*spec)} THEN 1 ELSE 0 END) AS BIGINT) AS a{i}"
            for i, spec in enumerate(self.specs)
        )

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

    def counted(self, columns: Mapping[str, Sequence]) -> dict[str, int]:
        """The driver path, for a table whose values are already on the
        driver (``{column: values}``): the aggregates' values, each spec
        counted as its aggregate counts it.  A null is never out of range,
        and NaN sorts above every number, as in Spark's comparisons."""

        def count(kind: str, col: str, lo: float | None, hi: float | None) -> int:
            values = columns[col]
            if kind == "nulls":
                return sum(v is None for v in values)
            return sum(
                v is not None
                and (
                    (lo is not None and _order(v) < _order(lo))
                    or (hi is not None and _order(v) > _order(hi))
                )
                for v in values
            )

        return {f"a{i}": count(*spec) for i, spec in enumerate(self.specs)}


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


def _gap_errors(seconds: list[int | None]) -> Errors:
    """Continuity: hourly with no gaps (reference validate:159-168).
    Decided on the driver from the dim's timestamps in whole seconds: one
    step per consecutive non-null pair in ascending order."""
    seconds = sorted(s for s in seconds if s is not None)
    gaps = sum(b - a != 3600 for a, b in zip(seconds, seconds[1:]))
    msg = f"dim_time: {gaps} non-hourly gaps in timestamp sequence"
    return {"temporal": [msg] if gaps else []}


BITMAP_BITS = 32_768  # positions in one bitmap_construct_agg bucket (4 KiB)


@dataclass(frozen=True)
class CoverageCheck:
    """Coverage (J8, reference validate:171-180): every fact covers every
    dim_time row.  ``keys`` is dim_time's ``time_key`` column.

    The aggregates set one bit per fact row at ``time_key`` offset from the
    dim's smallest key, one ``bitmap_construct_agg`` per
    ``bitmap_bucket_number`` bucket (a span of 32,768 keys, 4 KiB); a null
    or off-dim key sets none.  ``errors`` decodes the bitmaps on the
    driver and counts the dim rows whose key is not set: the anti-join's
    answer, duplicate keys and a null-key row included (a null key is
    never covered)."""

    keys: tuple[int | None, ...]

    @property
    def _base(self) -> int | None:
        return min((k for k in self.keys if k is not None), default=None)

    @property
    def aggs(self) -> tuple[str, ...]:
        if self._base is None:
            return ()
        buckets = (max(k for k in self.keys if k is not None) - self._base) // BITMAP_BITS
        offset = f"time_key - {number(self._base)} + 1"
        return tuple(
            f"bitmap_construct_agg(CASE WHEN bitmap_bucket_number({offset}) = {b} "
            f"THEN bitmap_bit_position({offset}) END) AS t{b}"
            for b in range(1, buckets + 2)
        )

    def errors(self, table: str, values: Mapping[str, object]) -> Errors:
        base = self._base

        def covered(key: int | None) -> bool:
            if key is None:
                return False
            bucket, bit = divmod(key - base, BITMAP_BITS)
            bitmap = values[f"t{bucket + 1}"]
            return bool(bitmap[bit >> 3] >> (bit & 7) & 1)

        missing = sum(not covered(k) for k in self.keys)
        msg = f"{table}: {missing} time periods uncovered"
        return {"temporal": [msg] if missing else []}


def _plausibility_errors(sums: Mapping[tuple, tuple]) -> Errors:
    """Per-(building, scenario) energy sums must be physically plausible
    (reference validate:204-227): electric > 0, heating+cooling > 0,
    electric >= 0.2 × (heating+cooling).  ``sums`` maps each pair to its
    ``(electric, heating, cooling)`` sums; a comparison with a null sum
    fails no rule, and NaN sorts above every number, as in Spark; a null
    sum prints as ``null``.  Lines are sorted by pair, nulls first."""

    def holds(a, op, b) -> bool:
        return a is not None and b is not None and op(_order(a), _order(b))

    def implausible(electric, heating, cooling) -> bool:
        both = None if heating is None or cooling is None else heating + cooling
        return (
            holds(electric, le, 0.0)
            or holds(both, le, 0.0)
            or holds(electric, lt, None if both is None else 0.2 * both)
        )

    def fmt(v: float | None) -> str:
        return "null" if v is None else f"{v:.1f}"

    return {
        "plausibility": [
            f"({b}, {s}): implausible energy totals "
            f"electric={fmt(e)} heating={fmt(h)} cooling={fmt(c)}"
            for (b, s), (e, h, c) in sorted(
                sums.items(), key=lambda item: _nulls_first(item[0])
            )
            if implausible(e, h, c)
        ]
    }


def meter_sums(fact_meters: DataFrame) -> dict[tuple, tuple]:
    """The plausibility check's input from ``fact_meters`` itself: one
    ``groupBy`` of the per-run sums (``run_pipeline`` has them from the
    key-set query, ``Star.meter_runs``)."""
    rows = fact_meters.groupBy("building_id", "scenario_id").sum(
        "electric_kwh", "heating_kwh", "cooling_kwh"
    )
    return {(b, s): (e, h, c) for b, s, e, h, c in rows.collect()}


def _has(star: dict[str, DataFrame], table: str, *columns: str) -> bool:
    return table in star and set(columns) <= set(star[table].columns)


def _dim_time(star: dict[str, DataFrame]) -> dict[str, list]:
    """dim_time's ``time_key`` and ``timestamp`` (in epoch seconds, as
    ``unix_timestamp`` floors them) columns, those the star has, read on
    the driver (``dim_table``)."""
    if "dim_time" not in star:
        return {}
    dim = dim_table(star, "dim_time")
    out = {}
    if "time_key" in dim.column_names:
        out["time_key"] = dim.column("time_key").to_pylist()
    if "timestamp" in dim.column_names:
        micros = dim.column("timestamp").cast(pa.int64()).to_pylist()
        out["timestamp"] = [None if u is None else u // 1_000_000 for u in micros]
    return out


def _suite(star: dict[str, DataFrame], range_rules: Rules | None):
    """The checks of ``star``: its integrity checks, the coverage check of
    each time-keyed fact, dim_time's timestamps for the gap check (None
    without them) and a function giving a table's aggregates (integrity,
    then coverage).  A check whose table or columns are missing is left
    out."""
    checks = integrity_checks(star, range_rules)
    time = _dim_time(star)
    coverage = {}
    if "time_key" in time:
        check = CoverageCheck(tuple(time["time_key"]))
        coverage = {t: check for t in FACT_TABLES if _has(star, t, "time_key")}

    def aggs(table: str) -> tuple[str, ...]:
        return (*checks[table].aggs, *(coverage[table].aggs if table in coverage else ()))

    return checks, coverage, aggs, time.get("timestamp")


def _aggregated(df: DataFrame, aggs: Sequence[str]) -> dict[str, object]:
    """The values of ``aggs`` over ``df``: one global aggregate action
    (none for an empty list)."""
    return df.selectExpr(*aggs).first().asDict() if aggs else {}


def fact_aggs(
    star: dict[str, DataFrame], range_rules: Rules | None = None
) -> dict[str, tuple[str, ...]]:
    """Per fact table, every aggregate ``validate_all`` reads from it: its
    null/range counts and, if time-keyed, the coverage bitmaps.
    ``run_pipeline`` observes the list on the fact's land write;
    standalone, ``validate_all`` runs it as one aggregate."""
    checks, _, aggs, _ = _suite(star, range_rules)
    return {t: aggs(t) for t in FACT_TABLES if t in checks}


def validate_all(
    star: dict[str, DataFrame],
    *,
    range_rules: Rules | None = None,
    observed: Mapping[str, Mapping[str, object]] | None = None,
    meter_runs: Mapping[tuple, tuple] | None = None,
) -> dict:
    """Run all five check families (reference validate_all,
    validate:232-296).  This is the pipeline gate: load only proceeds when
    ``is_valid`` (or the caller explicitly overrides).  ``range_rules``
    overrides the defaults (config surface, reference config.yaml:40-55).

    ``observed`` carries, per table, the values of its aggregates already
    computed (``run_pipeline`` observes the facts' ``fact_aggs`` on the
    land write and counts the dims' on the driver); every table it lacks
    is scanned here with one aggregate of its list.  ``meter_runs`` carries
    the per-run meter sums (``Star.meter_runs``); without it they are one
    ``groupBy`` of fact_meters.  So a pipeline gate runs no Spark job, and
    a standalone suite one aggregate per table, the dim_time collect and
    the ``groupBy``; the scans go to ONE driver pool, where Spark runs
    them side by side and the suite costs ~the slowest instead of the
    sum.  Checks whose table or columns are missing are skipped;
    ``check_schema`` fails the report."""
    checks, coverage, aggs, seconds = _suite(star, range_rules)
    observed = observed or {}
    meter_cols = ("building_id", "scenario_id", "electric_kwh", "heating_kwh", "cooling_kwh")
    with ThreadPoolExecutor(max_workers=len(checks) or 1) as pool:
        scans = {
            t: pool.submit(_aggregated, star[t], aggs(t))
            for t in checks if t not in observed
        }
        if meter_runs is None and _has(star, "fact_meters", *meter_cols):
            meter_runs = meter_sums(star["fact_meters"])
        values = {t: observed[t] if t in observed else scans[t].result() for t in checks}
    found = [checks[t].errors(values[t]) for t in checks]
    if seconds is not None:
        found.append(_gap_errors(seconds))
    found += [coverage[t].errors(t, values[t]) for t in coverage]
    if meter_runs is not None:
        found.append(_plausibility_errors(meter_runs))
    errors: Errors = {"nulls": [], "ranges": [], "temporal": [], "plausibility": []}
    for part in found:
        for name, errs in part.items():
            errors[name].extend(errs)
    report = {
        "schema": check_schema(star),
        **{name: {"valid": not e, "errors": e} for name, e in errors.items()},
    }
    return {"is_valid": all(c["valid"] for c in report.values()), "checks": report}
