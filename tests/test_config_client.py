"""Config surface + client API tests (C2/C3)."""

from __future__ import annotations

import pytest

from ida_ice_energy_simulation_etl_pipeline_spark.client import LocalSimulationClient
from ida_ice_energy_simulation_etl_pipeline_spark.config import (
    load_config,
    range_rules_from_config,
)
from ida_ice_energy_simulation_etl_pipeline_spark.etl.pipeline import main as cli_main
from ida_ice_energy_simulation_etl_pipeline_spark.fixtures import generate_dataset

CONFIG_YAML = """
input_dir: {input_dir}
output_dir: {output_dir}
time_key_strategy: derived
validation_ranges:
  fact_zone_conditions:
    air_temp_C: [5.0, 40.0]
"""


def test_load_config_and_overrides(tmp_path):
    cfg_path = tmp_path / "config.yaml"
    cfg_path.write_text(CONFIG_YAML.format(input_dir="in", output_dir="out"))
    cfg = load_config(cfg_path)
    assert cfg.time_key_strategy == "derived"
    rules = range_rules_from_config(cfg)
    assert rules == {"fact_zone_conditions": [("air_temp_C", 5.0, 40.0)]}


def test_load_config_rejects_unknown_keys(tmp_path):
    p = tmp_path / "bad.yaml"
    p.write_text("not_a_real_key: 1")
    with pytest.raises(ValueError, match="unknown config keys"):
        load_config(p)


def test_cli_with_config(tmp_path, spark):
    runs = tmp_path / "runs"
    generate_dataset(
        runs, buildings=("BLDG_01",), scenarios=("BASE",), hours=24,
        n_zones=2, n_ahus=1,
    )
    cfg_path = tmp_path / "config.yaml"
    cfg_path.write_text(
        CONFIG_YAML.format(input_dir=str(runs), output_dir=str(tmp_path / "out"))
    )
    assert cli_main(["--config", str(cfg_path)]) == 0
    assert (tmp_path / "out" / "summary.json").exists()


def test_local_client(tmp_path, spark):
    generate_dataset(
        tmp_path, buildings=("BLDG_01", "BLDG_02"), scenarios=("BASE",),
        hours=12, n_zones=1, n_ahus=1,
    )
    client = LocalSimulationClient(spark, tmp_path)
    runs = client.list_runs()
    assert len(runs) == 2
    assert runs[0]["building_id"] == "BLDG_01"

    meta = client.get_run_metadata("BLDG_01", "BASE")
    assert meta["building_id"] == "BLDG_01"
    assert meta["floor_area_m2"] > 0

    one = client.get_run("BLDG_02", "BASE")
    assert one["meters"].count() == 12


def test_local_client_zip_metadata(tmp_path, spark):
    generate_dataset(
        tmp_path, buildings=("BLDG_Z",), scenarios=("BASE",), hours=6,
        n_zones=1, n_ahus=1, as_zip=True,
    )
    client = LocalSimulationClient(spark, tmp_path)
    meta = client.get_run_metadata("BLDG_Z", "BASE")
    assert meta["scenario_id"] == "BASE"
    with pytest.raises(FileNotFoundError):
        client.get_run_metadata("NOPE", "BASE")


