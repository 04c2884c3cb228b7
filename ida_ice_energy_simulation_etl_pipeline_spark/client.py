"""Simulation-client API parity (C3).

The reference ships a mock cloud client (reference src/idaice_client.py:
16-116) plus a local-files client (:118-218).  The cloud side is out of
engine scope (SURVEY §2.12); the local client is real and Spark-backed.
"""

from __future__ import annotations

import json
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .etl.extract import extract_run_by_id, list_runs, parse_run_id


class LocalSimulationClient:
    """Run discovery + metadata-only reads over a directory of bundles
    (reference LocalSimulationClient, src/idaice_client.py:118-218)."""

    def __init__(self, spark: SparkSession, runs_dir: str | Path):
        self.spark = spark
        self.runs_dir = Path(runs_dir)

    def list_runs(self) -> list[dict[str, str]]:
        """(building_id, scenario_id) for every bundle (reference :141-166)."""
        out = []
        for run_id in list_runs(self.runs_dir):
            building_id, scenario_id = parse_run_id(run_id)
            out.append(
                {
                    "run_id": run_id,
                    "building_id": building_id,
                    "scenario_id": scenario_id,
                }
            )
        return out

    def get_run_metadata(self, building_id: str, scenario_id: str) -> dict:
        """Metadata WITHOUT extracting the full bundle (reference :192-218
        reads the one JSON member from inside the ZIP — projection pushdown
        at the archive level)."""
        run_id = f"run_{building_id}_{scenario_id}"
        zip_path = self.runs_dir / f"{run_id}.zip"
        dir_path = self.runs_dir / run_id
        if zip_path.exists():
            with zipfile.ZipFile(zip_path) as zf:
                member = next(
                    n for n in zf.namelist() if n.endswith("metadata.json")
                )
                return json.loads(zf.read(member))
        if dir_path.is_dir():
            return json.loads((dir_path / "metadata.json").read_text())
        raise FileNotFoundError(f"no bundle for ({building_id}, {scenario_id})")

    def get_run(self, building_id: str, scenario_id: str) -> dict[str, DataFrame]:
        """Full single-run extraction (exploded-directory bundles)."""
        return extract_run_by_id(self.spark, self.runs_dir, building_id, scenario_id)
