"""Pipeline orchestration: extract → transform → land (staging parquet, the
checks and summary figures observed on the write) → validate (gate) →
publish (rename) → views → export (reference run_pipeline.py:25-157).

The interactive continue-despite-validation prompt (run_pipeline.py:106-120)
has no place in a cluster job — only the explicit ``force`` flag overrides
the gate (the reference's ``--non-interactive`` abort semantics otherwise).
"""

from __future__ import annotations

import argparse
import json
import shutil
import tempfile
from contextlib import nullcontext
from pathlib import Path

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ..session import get_spark
from .export import export_summary, summary_aggs
from .extract import (
    check_run_coverage,
    extract_runs,
    extract_runs_from_zips,
    list_runs,
)
from .load import (
    load_to_parquet,
    load_to_warehouse,
    range_clustered,
    register_temp_views,
)
from .transform import transform_all
from .validate import fact_aggs, integrity_checks, validate_all


class ValidationGateError(RuntimeError):
    def __init__(self, report: dict):
        self.report = report
        failed = [k for k, v in report["checks"].items() if not v["valid"]]
        super().__init__(f"validation failed: {failed}")


def run_pipeline(
    spark: SparkSession,
    input_dir: str | Path,
    output_dir: str | Path,
    *,
    zipped: bool = False,
    force: bool = False,
    to_warehouse: bool = False,
    partition_facts: bool = False,
    cluster_facts: bool = False,
    time_key_strategy: str = "dense",
    scenario_id: str | None = None,
    range_rules: dict | None = None,
) -> dict:
    """Full batch run; returns the validation report + artifact paths."""
    output_dir = Path(output_dir)
    # A zipped run unzips into a directory this run owns.  Every action
    # after landing reads the landed parquet, so the unzipped bundles are
    # removed as soon as the star has landed — and also when extract,
    # transform or landing fail.
    unzip = tempfile.TemporaryDirectory(prefix="runs_") if zipped else nullcontext()
    with unzip as unzip_dir:
        # check_runs=False: the >50%-unreadable circuit breaker is decided
        # below from the runs the dim key set saw with meter rows — same
        # gate, but no query of its own.
        if zipped:
            entities = extract_runs_from_zips(
                spark, input_dir, staging_dir=unzip_dir, check_runs=False
            )
        else:
            entities = extract_runs(spark, input_dir, check_runs=False)

        # One key-set query decides the five dims on the driver; the facts
        # stay lazy.  The breaker trips before anything is written.
        star = transform_all(entities, time_key_strategy=time_key_strategy)
        check_run_coverage(star.meter_runs, list_runs(input_dir))

        # Land → validate → publish.  The conformed star is computed EXACTLY
        # once — written straight to a staging directory — and every
        # downstream fact read (validation aggregates, views, export) reads
        # the landed parquet, which is columnar, pruned, and ~10× faster to
        # re-scan than re-running the CSV conform lineage per action.  The
        # validation gate then decides whether staging is PUBLISHED (atomic
        # directory rename) — same observable contract as the reference's
        # validate-before-load (run_pipeline.py:95-125): nothing appears at
        # the published path unless the gate passes.  This is also the shape
        # that survives 100 TB, where caching the star in executor memory is
        # not an option.
        staging = output_dir / "parquet._staging"
        # Every check and summary figure over the facts rides on the land
        # write: each fact's aggregates are observed while its rows stream
        # to parquet, so they cost no job of their own.  The dims' checks
        # are counted on the driver, which holds their values, and the
        # per-run meter sums came with the dim key set.  An unknown
        # scenario observes no summary figures; export raises after
        # publishing.
        checks = integrity_checks(star, range_rules)
        aggs = fact_aggs(star, range_rules)
        summary = summary_aggs(star, scenario_id)
        observations = {t: Observation() for t in star if t not in star.dims}
        # Time-range queries dominate the analytic surface (monthly rollups,
        # gap scans, as-of lookups), so fact files are range-clustered on
        # time_key when requested: disjoint per-file min/max intervals let
        # pushed-down time predicates skip whole files (see range_clustered).
        clustered = (
            ("fact_meters", "fact_hvac", "fact_zone_conditions") if cluster_facts else ()
        )
        written = dict(star.dims)
        for t, observation in observations.items():
            df = star[t]
            if t in clustered:
                df = range_clustered(df, ["time_key"])
            # Observed ABOVE the range shuffle, in the write's own stage: the
            # shuffle samples its input in a job of its own, and an
            # observation below it would count the sampled rows again.
            figures = (*aggs[t], *summary.get(t, ()))
            written[t] = df.observe(observation, *map(F.expr, figures))
        # The dims are written from the driver; the fact writes go out
        # together.
        load_to_parquet(written, staging, partition_facts=partition_facts)
    # Observation.get blocks until its write has finished; the writes have.
    observed = {
        t: observations[t].get if t in observations
        else checks[t].counted(star.dims[t].to_pydict())
        for t in checks
    }
    # Every check over the facts was observed, so the gate reads only the
    # star's columns (the observed aggregates are named by the position of
    # their column) and its dims, which it reads as the Arrow tables the
    # star holds.
    report = validate_all(
        star, range_rules=range_rules, observed=observed, meter_runs=star.meter_runs
    )
    if not report["is_valid"] and not force:
        raise ValidationGateError(report)  # staging left behind for triage

    final = output_dir / "parquet"
    if final.exists():
        shutil.rmtree(final)
    staging.rename(final)
    paths = {t: str(final / t) for t in star}
    # The re-reads carry the schema of the DataFrame that was written,
    # which spares one schema-inference job per read.
    published = {
        t: spark.read.schema(df.schema).parquet(paths[t]) for t, df in star.items()
    }

    if to_warehouse:
        load_to_warehouse(spark, published)
    else:
        register_temp_views(spark, published)

    # Every summary figure over the facts was observed too (none for an
    # unknown scenario, which raises before any is read).
    summary = export_summary(
        star,
        output_dir / "summary.json",
        scenario_id=scenario_id,
        observed=observed,
    )
    (output_dir / "validation_report.json").write_text(json.dumps(report, indent=2))
    return {
        "validation": report,
        "parquet": paths,
        "summary": summary,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="IDA-ICE energy ETL (PySpark)")
    ap.add_argument("--config", default=None, help="YAML config (CLI flags override)")
    ap.add_argument("--input", default=None, help="directory of run_* bundles")
    ap.add_argument("--output", default=None, help="output directory")
    ap.add_argument("--zipped", action="store_true", help="inputs are run_*.zip")
    ap.add_argument("--force", action="store_true", help="load despite validation failures")
    ap.add_argument("--warehouse", action="store_true", help="saveAsTable instead of temp views")
    ap.add_argument("--partition-facts", action="store_true")
    ap.add_argument(
        "--cluster-facts",
        action="store_true",
        help="range-cluster time-keyed fact files on time_key (file-level skipping)",
    )
    ap.add_argument("--time-key-strategy", choices=("dense", "derived"), default=None)
    ap.add_argument("--scenario", default=None)
    args = ap.parse_args(argv)

    from ..config import PipelineConfig, load_config, range_rules_from_config

    cfg = load_config(args.config) if args.config else PipelineConfig()
    input_dir = args.input or cfg.input_dir
    output_dir = args.output or cfg.output_dir
    if not input_dir or not output_dir:
        ap.error("--input/--output required (directly or via --config)")

    spark = get_spark(
        app_name="ida-ice-etl", shuffle_partitions=cfg.shuffle_partitions
    )
    spark.sparkContext.setLogLevel("WARN")
    try:
        result = run_pipeline(
            spark,
            input_dir,
            output_dir,
            zipped=args.zipped or cfg.zipped,
            force=args.force or cfg.force,
            to_warehouse=args.warehouse or cfg.to_warehouse,
            partition_facts=args.partition_facts or cfg.partition_facts,
            cluster_facts=args.cluster_facts or cfg.cluster_facts,
            time_key_strategy=args.time_key_strategy or cfg.time_key_strategy,
            scenario_id=args.scenario or cfg.scenario_id,
            range_rules=range_rules_from_config(cfg),
        )
    except ValidationGateError as exc:
        print(json.dumps(exc.report, indent=2))
        return 1
    print(json.dumps({"ok": True, "parquet": result["parquet"]}, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
