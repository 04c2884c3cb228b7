"""Seeded benchmark inputs, generated once per (workload, seed) and reused.

``prepare()`` runs the generator below in a child interpreter with
``PYTHONHASHSEED`` pinned: ``fixtures.generate_run`` seeds each run's RNG
and ``floor_area_m2`` from Python's ``hash()``, which is randomized per
process, so an unpinned generator gives different bytes for one seed.

Each input directory holds a ``manifest.json`` with the generated shape,
the raw byte count and a digest of the file contents.  The digest of a
zip bundle covers its members' names and bytes, not the archive bytes,
whose entry timestamps change on every write.

Run directly (the child side):
    python3 perfbench/inputs.py <workload> <seed> <out_dir>
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

# The ETL inputs: 6 buildings × 2 scenarios of run bundles, as a week of
# hours in run_*.zip files (the reference's packaging) or as two weeks in
# run_* directories (the layout the CLI reads by default).
ETL_BUILDINGS = tuple(f"BLDG_{i:02d}" for i in range(1, 7))
ETL_SCENARIOS = ("BASE", "RETROFIT")
ETL_ZONES = 5
ETL_AHUS = 2
ETL_SHAPES = {"etl_zipped": (True, 168), "etl_dirs": (False, 336)}

# The graph-kernel input, swept by traced runs: a documents table shaped
# like the repo's sf fixtures (bag-of-words text, near-duplicates carrying
# a " dup" suffix).  The duplicate structure is the same for every
# seed: in each block of ten docs the last is a near-duplicate of the
# first, and every fifth block adds a third member.  A seed changes the
# text, not the components, so the kernels run the same number of rounds.
DOCS = 500
# 64 words: with 3-word shingles, two unrelated docs share almost none,
# so chance LSH collisions between them stay rare.
DOC_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector index cache page block file disk node "
    "task stage job plan rule cost rank score label edge graph path star "
    "tree leaf root set map list queue heap lock time date year month user"
).split()
DOC_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
DOC_SOURCES = 20


def _digest_files(root: Path) -> tuple[str, int]:
    """(sha256 over every input file's relative name and content bytes,
    total content bytes); zip archives contribute their members."""
    h = hashlib.sha256()
    total = 0
    for p in sorted(root.rglob("*")):
        if not p.is_file():
            continue
        if p.suffix == ".zip":
            with zipfile.ZipFile(p) as zf:
                members = [(n, zf.read(n)) for n in sorted(zf.namelist())]
        else:
            members = [(str(p.relative_to(root)), p.read_bytes())]
        for name, data in members:
            h.update(name.encode() + b"\0" + data)
            total += len(data)
    return h.hexdigest(), total


def _generate_etl(workload: str, seed: int, out: Path) -> dict:
    from ida_ice_energy_simulation_etl_pipeline_spark.fixtures import (
        generate_dataset,
    )

    zipped, hours = ETL_SHAPES[workload]
    runs_dir = out / "runs"
    generate_dataset(
        runs_dir,
        buildings=ETL_BUILDINGS,
        scenarios=ETL_SCENARIOS,
        hours=hours,
        n_zones=ETL_ZONES,
        n_ahus=ETL_AHUS,
        seed=seed,
        as_zip=zipped,
    )
    # The raw meters.csv of every bundle, for the DuckDB check of
    # summary.json's annual figures.
    raw = out / "raw_meters"
    raw.mkdir()
    for zp in sorted(runs_dir.glob("run_*.zip")):
        with zipfile.ZipFile(zp) as zf:
            (raw / f"{zp.stem}.csv").write_bytes(zf.read(f"{zp.stem}/meters.csv"))
    for d in sorted(p for p in runs_dir.glob("run_*") if p.is_dir()):
        shutil.copyfile(d / "meters.csv", raw / f"{d.name}.csv")
    digest, raw_bytes = _digest_files(runs_dir)
    return {
        "input_dir": "runs",
        "buildings": len(ETL_BUILDINGS),
        "scenarios": len(ETL_SCENARIOS),
        "hours": hours,
        "zones": ETL_ZONES,
        "ahus": ETL_AHUS,
        "input_bytes": raw_bytes,
        "input_digest": digest,
        **_generate_docs(seed, out),
    }


def _generate_docs(seed: int, out: Path) -> dict:
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(DOCS):
        block, k = divmod(i, 10)
        if k == 9:
            texts.append(texts[10 * block] + " dup")
        elif k == 8 and block % 5 == 0:
            texts.append(texts[10 * block] + " dup dup")
        else:
            n = int(rng.integers(30, 90))
            texts.append(" ".join(rng.choice(DOC_VOCAB, n)))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(DOCS, dtype="int64"),
            "text": texts,
            "lang": rng.choice(DOC_LANGS, DOCS),
            "source": [f"src{i % DOC_SOURCES}" for i in range(DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    sf_dir = out / "sf"
    sf_dir.mkdir()
    docs.to_parquet(sf_dir / "documents.parquet", index=False)
    digest, raw_bytes = _digest_files(sf_dir)
    return {"docs_dir": "sf", "docs": DOCS, "docs_bytes": raw_bytes, "docs_digest": digest}


def prepare(workload: str, seed: int, cache: Path, root: Path) -> Path:
    """Directory of the inputs for (workload, seed), generating them on
    first use.  A half-written directory (no manifest) is regenerated."""
    out = cache / f"{workload}-{seed}"
    if (out / "manifest.json").is_file():
        return out
    if out.exists():
        shutil.rmtree(out)
    tmp = cache / f".{workload}-{seed}.partial"
    if tmp.exists():
        shutil.rmtree(tmp)
    env = {**os.environ, "PYTHONHASHSEED": "0", "PYTHONPATH": str(root)}
    subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), workload, str(seed), str(tmp)],
        env=env,
        check=True,
        timeout=300,
    )
    tmp.rename(out)
    return out


def main(argv: list[str]) -> int:
    workload, seed, out = argv[0], int(argv[1]), Path(argv[2])
    out.mkdir(parents=True)
    manifest = {"workload": workload, "seed": seed, **_generate_etl(workload, seed, out)}
    (out / "manifest.json").write_text(json.dumps(manifest, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
