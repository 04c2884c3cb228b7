"""The benchmark workloads: what one pass runs, how its outputs are
checked, and which per-layer metrics a traced run gives."""

from __future__ import annotations

import importlib
import json
import shutil
from pathlib import Path

import duckdb

import checks

PKG = "ida_ice_energy_simulation_etl_pipeline_spark"

# etl.pipeline's module-level names for its layers → span names.
PIPELINE_LAYERS = {
    "extract_runs_from_zips": "extract",
    "extract_runs": "extract",
    "transform_all": "transform",
    "load_to_parquet": "load",
    "check_run_coverage": "coverage",
    "validate_all": "validate",
    "register_temp_views": "views",
    "load_to_warehouse": "views",
    "export_summary": "export",
}

# Reads of the published star, run as SQL over the views run_pipeline
# registered; DuckDB runs the same SQL over the package's VIEW_DDL.
READ_SQL = {
    "zone_monthly_comfort": """
        SELECT building_id, scenario_id, month, COUNT(*) AS zone_hours,
               AVG(air_temp_C) AS avg_air_temp_C,
               SUM(CASE WHEN ABS(temp_deviation) <= 1.0 THEN 1 ELSE 0 END)
                   AS comfort_hours,
               MAX(co2_ppm) AS max_co2_ppm, AVG(drybulb_C) AS avg_drybulb_C
        FROM vw_zone_with_weather
        GROUP BY building_id, scenario_id, month""",
    "hvac_daily_energy": """
        SELECT building_id, scenario_id, year, month, day,
               SUM(power_kw) AS ahu_kwh, SUM(cooling_kw) AS ahu_cooling_kwh,
               SUM(heating_kw) AS ahu_heating_kwh,
               SUM(electric_kwh) AS electric_kwh,
               AVG(outdoor_temp_C) AS avg_outdoor_temp_C
        FROM vw_hvac_with_meters
        GROUP BY building_id, scenario_id, year, month, day""",
    "energy_summary": "SELECT * FROM vw_energy_summary",
    # The inputs span one week, so the time slice is one day of it.
    "zone_day_slice": """
        SELECT building_id, zone_id, scenario_id, day, hour, air_temp_C,
               setpoint_C, temp_deviation, co2_ppm, rh_pct, drybulb_C
        FROM vw_zone_with_weather WHERE month = 1 AND day = 3""",
}
READ_OPS = (*READ_SQL, "summary_export", "view_extract")

# Min-label connected components under the dedup census, and label
# propagation: graph kernels whose rounds the roadmap's graph work changes.
# A traced run sweeps them once cold and once warm after its ETL passes.
KERNELS = ("dedup_clusters", "dup_communities")
READS_PASS = 10_000
KERNELS_COLD_PASS = 10_001
KERNELS_WARM_PASS = 10_002

ETL_LAYER_METRICS = {
    "extract.wall_s": "s",
    "extract.jobs": "count",
    "extract.staging_left_mb": "MB",
    "transform.wall_s": "s",
    "load.wall_s": "s",
    "load.jobs": "count",
    "load.tasks": "count",
    "load.output_files": "count",
    "load.output_mb": "MB",
    "load.stored_bytes_ratio": "ratio",
    "coverage.wall_s": "s",
    "coverage.jobs": "count",
    "validate.wall_s": "s",
    "validate.jobs": "count",
    "validate.stages": "count",
    "validate.stages_skipped": "count",
    "export.wall_s": "s",
    "export.jobs": "count",
    "views.wall_s": "s",
    "pipeline.other_s": "s",
    "pipeline.other_jobs": "count",
}
READ_LAYER_METRICS = {
    f"reads.{op}.{m}": u
    for op in READ_OPS
    for m, u in (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"))
}
KERNEL_LAYER_METRICS = {
    f"kernels.{q}.{m}": u
    for q in KERNELS
    for m, u in (("wall_s", "s"), ("build_s", "s"), ("jobs", "count"), ("stages", "count"))
}
# Every per-layer metric; a traced run of either workload measures each.
LAYER_METRICS = {
    "session.start_s": "s",
    **ETL_LAYER_METRICS,
    **READ_LAYER_METRICS,
    **KERNEL_LAYER_METRICS,
    # The traced counterpart of pass_s (tracing overhead = trace.pass_s
    # minus the untraced run's pass_s), and the time spent probing jobs.
    "trace.pass_s": "s",
    "trace.probing_s": "s",
}


def _dir_stats(path: Path, suffix: str) -> tuple[int, int]:
    files = [p for p in path.rglob(f"*{suffix}") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


class Etl:
    """One pass = one run_pipeline over the generated run bundles, with the
    CLI defaults."""

    def __init__(self, zipped: bool, inputs: Path, manifest: dict, work: Path, tmp: Path):
        self.zipped = zipped
        self.inputs = inputs
        self.manifest = manifest
        self.runs_dir = inputs / manifest["input_dir"]
        self.out = work / "etl_out"
        self.tmp = tmp
        self.pipeline = importlib.import_module(f"{PKG}.etl.pipeline")
        self.con = duckdb.connect()
        self.kernels = KernelSweep(inputs / manifest["docs_dir"])
        self.digests: list[dict] = []
        self.staging_left_mb: dict[int, float] = {}
        self.output: dict[int, tuple[int, int]] = {}
        self.result = None
        self.tracer = None
        if self.out.exists():
            shutil.rmtree(self.out)

    def layers(self) -> tuple[object, dict[str, str]]:
        return self.pipeline, PIPELINE_LAYERS

    def run_pass(self, spark, tracer) -> None:
        self.result = None
        self.result = self.pipeline.run_pipeline(
            spark, self.runs_dir, self.out, zipped=self.zipped
        )

    def after_pass(self, pass_id: int) -> dict[str, list[str]]:
        return {"run_pipeline": self._check_pass(pass_id)}

    def _check_pass(self, pass_id: int) -> list[str]:
        # Known defect: extract_runs_from_zips leaves its mkdtemp runs_*
        # staging directory behind on every call.  Record its size, then
        # delete it so repeated passes do not fill the disk.
        left = [p for p in self.tmp.glob("runs_*") if p.is_dir()]
        self.staging_left_mb[pass_id] = sum(
            _dir_stats(p, "")[1] for p in left
        ) / 1e6
        for p in left:
            shutil.rmtree(p)
        if self.result is None:
            return ["run_pipeline returned no result"]
        published = self.out / "parquet"
        self.output[pass_id] = _dir_stats(published, ".parquet")
        digest = checks.star_digest(self.con, published)
        errors = checks.check_etl_pass(
            self.con, self.manifest, self.inputs, self.out, self.result, digest
        )
        if self.digests and digest != self.digests[0]:
            errors.append("published star digest differs from the run's first pass")
        self.digests.append(digest)
        return errors

    def layer_metrics(self, pass_id: int, totals: dict) -> dict[str, float]:
        def t(span: str, key: str) -> float:
            return totals.get(span, {}).get(key, 0)

        files, nbytes = self.output.get(pass_id, (0, 0))
        out = {}
        for key in ETL_LAYER_METRICS:
            layer, m = key.split(".", 1)
            if m in ("wall_s", "jobs", "tasks", "stages", "stages_skipped"):
                out[key] = t(layer, m)
        out.update(
            {
                "extract.staging_left_mb": self.staging_left_mb.get(pass_id, 0.0),
                "load.output_files": files,
                "load.output_mb": nbytes / 1e6,
                "load.stored_bytes_ratio": nbytes / self.manifest["input_bytes"],
                "pipeline.other_s": t("pass", "self_s"),
                "pipeline.other_jobs": t("pass", "jobs"),
            }
        )
        return out

    def finish(self, spark, tracer, traced: bool) -> dict[str, list[str]]:
        """Checks after the passes, with the errors of each: the published
        star must be the one earlier runs with this seed published.  A
        traced run also runs each read op once on the last published star
        and sweeps the graph kernels cold, then warm, checking both."""
        errors = {"star_digest_across_runs": self._check_across_runs()}
        if traced:
            self.tracer = tracer
            tracer.pass_id = READS_PASS
            errors.update(self._reads(spark, tracer))
            for pass_id, label in ((KERNELS_COLD_PASS, "cold"), (KERNELS_WARM_PASS, "warm")):
                tracer.pass_id = pass_id
                try:
                    self.kernels.run(spark, tracer)
                except Exception as exc:  # noqa: BLE001 — check() counts what is missing
                    print(f"kernel sweep ({label}) failed: {type(exc).__name__}: {exc}")
                errors.update(
                    {f"{q} ({label})": e for q, e in self.kernels.check().items()}
                )
        return errors

    def finish_metrics(self) -> dict[str, float]:
        """Per-layer metrics of a traced run's reads and warm kernel sweep."""
        out = {}
        for span, row in self.tracer.layer_totals(READS_PASS).items():
            for m in ("wall_s", "jobs", "tasks"):
                out[f"{span}.{m}"] = row[m]
        out.update(self.kernels.layer_metrics(self.tracer.layer_totals(KERNELS_WARM_PASS)))
        return out

    def _check_across_runs(self) -> list[str]:
        if not self.digests:
            return ["no published star to compare"]
        path = self.inputs / "star_digest.json"
        if not path.is_file():
            path.write_text(json.dumps(self.digests[0]))
        elif json.loads(path.read_text()) != self.digests[0]:
            return ["published star differs from an earlier run with this seed"]
        return []

    def _reads(self, spark, tracer) -> dict[str, list[str]]:
        """Each read op once on the last published star, checked against
        DuckDB."""
        checks.register_star(self.con, self.out / "parquet")
        errors = {}
        for op in READ_OPS:
            try:
                with tracer.span(f"reads.{op}"):
                    got = self._read_op(spark, op)
                errors[op] = self._check_read(op, got)
            except Exception as exc:  # noqa: BLE001 — an op failure is a counted result
                errors[op] = [f"{op}: {type(exc).__name__}: {exc}"]
        return errors

    def _read_op(self, spark, op: str):
        if op in READ_SQL:
            return spark.sql(READ_SQL[op]).toPandas()
        if op == "summary_export":
            from ida_ice_energy_simulation_etl_pipeline_spark.etl.export import (
                export_summary,
            )

            star = {t: spark.read.parquet(str(self.out / "parquet" / t))
                    for t in checks.STAR_TABLES}
            return export_summary(star, self.out / "reads" / "summary.json")
        # view_extract: the whole view written to parquet, not collected.
        # A toPandas() of a whole view on a year-long star (1,051,200 rows)
        # has killed the driver JVM with the session's default memory.
        path = self.out / "reads" / "view_extract"
        spark.table("vw_hvac_with_meters").write.mode("overwrite").parquet(str(path))
        return path

    def _check_read(self, op: str, got) -> list[str]:
        if op in READ_SQL:
            duck = self.con.execute(READ_SQL[op]).fetchall()
            return checks.compare_rows(op, checks.pandas_rows(got), duck)
        if op == "summary_export":
            return checks.check_summary_against_star(self.con, got)
        return checks.check_view_extract(self.con, got, "vw_hvac_with_meters")

    def close(self) -> None:
        self.con.close()
        self.kernels.close()


class KernelSweep:
    """Each kernel's QuerySpec, materialized with toPandas()."""

    def __init__(self, sf_dir: Path):
        from ida_ice_energy_simulation_etl_pipeline_spark.plans.registry import (
            ALL_QUERIES,
        )

        self.sf_dir = str(sf_dir)
        self.specs = [ALL_QUERIES[q] for q in KERNELS]
        self.results: dict[str, object] = {}
        self.first: dict[str, list[tuple]] = {}
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{self.sf_dir}/documents.parquet')"
        )

    def run(self, spark, tracer) -> None:
        self.results = {}
        for spec in self.specs:
            with tracer.span(f"kernels.{spec.name}"):
                with tracer.span(f"kernels.{spec.name}.build"):
                    df = spec.fn(spark, self.sf_dir)
                self.results[spec.name] = df.toPandas()

    def check(self) -> dict[str, list[str]]:
        """The first sweep is checked against each QuerySpec's oracle; a
        later sweep must reproduce the first one's rows."""
        errors = {}
        for spec in self.specs:
            pdf = self.results.get(spec.name)
            if pdf is None:
                errors[spec.name] = [f"{spec.name}: no result"]
                continue
            rows = checks.pandas_rows(pdf[sorted(pdf.columns)])
            if spec.name not in self.first:
                self.first[spec.name] = rows
                errors[spec.name] = checks.check_kernel(self.con, spec, pdf)
            else:
                errors[spec.name] = checks.compare_rows(
                    spec.name, rows, self.first[spec.name], exact=True
                )
        return errors

    def layer_metrics(self, totals: dict) -> dict[str, float]:
        out = {}
        for q in KERNELS:
            whole = totals.get(f"kernels.{q}", {})
            build = totals.get(f"kernels.{q}.build", {})
            out[f"kernels.{q}.wall_s"] = whole.get("wall_s", 0.0)
            out[f"kernels.{q}.build_s"] = build.get("wall_s", 0.0)
            out[f"kernels.{q}.jobs"] = whole.get("jobs", 0) + build.get("jobs", 0)
            out[f"kernels.{q}.stages"] = whole.get("stages", 0) + build.get("stages", 0)
        return out

    def close(self) -> None:
        self.con.close()


# Workload name → whether its run bundles are zipped.
WORKLOADS = {"etl_zipped": True, "etl_dirs": False}
