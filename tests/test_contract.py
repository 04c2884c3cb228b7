"""Driver-contract and bench-CLI guards.

The external driver consumes exactly two surfaces: the three functions in
``__spark_entry__.py`` and the ONE JSON line ``bench.py`` prints.  A
breakage in either silently costs the round its CORRECTNESS / BENCH
record, so both are pinned here.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

import __spark_entry__ as entry_mod

from ida_ice_energy_simulation_etl_pipeline_spark.plans import QUERIES

REPO = os.path.dirname(os.path.abspath(entry_mod.__file__))


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"r_name", "n_name", "revenue", "n_orders"}


def test_queries_and_oracles_align():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(q) == set(QUERIES)
    # every oracle key must name a query; non-oracle queries are the
    # declared rows-only set
    assert set(o) <= set(q)
    # r8: the rows-only-by-design table_profile_approx left the driver
    # window (judge-prescribed rotation) so EVERY driver slot is
    # hash-verifiable — the driver window must stay 100% oracle-backed.
    rows_only = set(q) - set(o)
    assert rows_only == set()
    assert all(callable(fn) for fn in q.values())
    assert all(isinstance(sql, str) and sql.strip() for sql in o.values())


def test_bench_headline_names_resolve():
    """A registry rename must never silently break the driver's bench
    run: every headline name resolves, and each has an oracle so the
    self-grading DuckDB column stays complete."""
    import bench

    from ida_ice_energy_simulation_etl_pipeline_spark.plans import ALL_QUERIES

    missing = [n for n in bench.HEADLINE if n not in ALL_QUERIES]
    assert not missing, f"headline names not in registry: {missing}"
    no_oracle = [n for n in bench.HEADLINE if ALL_QUERIES[n].oracle is None]
    assert not no_oracle, f"headline queries without oracles: {no_oracle}"


def test_bench_explain_mode(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--explain", "keyed_lookup"],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    assert "===== keyed_lookup =====" in out.stdout
    assert "Physical Plan" in out.stdout
    assert "PushedFilters" in out.stdout  # the property the mode exists to show


def test_bench_cli_emits_one_json_line(tmp_path):
    """Run the real bench CLI end-to-end (subprocess: bench stops its own
    SparkSession) on a 3-query subset at the smallest fixture, and check
    the driver-facing JSON contract."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_REPEATS="1",
        SPARK_GRAFT_BENCH_QUERIES="pricing_summary,time_dim,dedup_exact",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
        check=True,
    )
    # r3's official bench record came back unparseable because extra stdout
    # grew past the driver's capture window — stdout must be EXACTLY one
    # compact JSON line (diagnostics go to bench_detail.json).
    stdout_lines = [ln for ln in out.stdout.strip().splitlines() if ln]
    assert len(stdout_lines) == 1, f"bench stdout must be 1 line, got {stdout_lines}"
    line = stdout_lines[-1]
    assert len(line) < 1900, (
        "headline JSON must fit the driver's 2000-char stdout tail capture "
        "(BENCH_r03 came back parsed:null when the line outgrew it)"
    )
    doc = json.loads(line)
    assert doc["metric"] == "headline_queries_total"
    assert doc["unit"] == "sec"
    assert set(doc["queries"]) == {"pricing_summary", "time_dim", "dedup_exact"}
    assert all(isinstance(v, float) and v >= 0 for v in doc["queries"].values())
    assert doc["value"] >= 0
    # the self-grading DuckDB total ran; the per-query DuckDB column
    # lives in the side file to keep the stdout line inside the capture
    assert isinstance(doc["duckdb_total"], float)
    assert "duckdb_queries" not in doc
    detail = json.load(open(os.path.join(REPO, "bench_detail.json")))
    assert set(detail["duckdb_queries"]) == set(doc["queries"])
    assert all(isinstance(v, float) for v in detail["duckdb_queries"].values())
    assert doc["sf"] == 0.001


def test_bench_job_probe_sees_grouped_jobs(spark):
    """bench.py counts floor jobs by probing getJobInfo upward, so a job
    run under a job group counts (getJobIdsForGroup(None) misses it)."""
    import bench

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spark.range(1).collect()  # an ungrouped job: a retained id to start from
    j0 = bench._next_job_id(tracker, max(tracker.getJobIdsForGroup(None)), 0.05)
    sc.setJobGroup("bench-probe", "a grouped job")
    try:
        spark.range(3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    j1 = bench._next_job_id(tracker, j0, settle=0.05)
    assert j1 > j0
    assert set(range(j0, j1)) <= set(tracker.getJobIdsForGroup("bench-probe"))


def test_session_conf_local_vs_cluster():
    """Uncompressed shuffle + zero locality wait apply ONLY to known-local
    masters; a cluster deploy (master=None, injected by spark-submit)
    keeps Spark's network-appropriate defaults.  extra_conf overrides
    everything."""
    from ida_ice_energy_simulation_etl_pipeline_spark.session import build_conf

    local = build_conf("local[32]")
    assert local["spark.shuffle.compress"] == "false"
    assert local["spark.locality.wait"] == "0ms"

    for cluster_master in (None, "yarn", "spark://host:7077", "k8s://https://h"):
        conf = build_conf(cluster_master)
        assert "spark.shuffle.compress" not in conf, cluster_master
        assert "spark.locality.wait" not in conf, cluster_master
        assert conf["spark.sql.adaptive.enabled"] == "true"

    over = build_conf("local[4]", extra_conf={"spark.shuffle.compress": "true"})
    assert over["spark.shuffle.compress"] == "true"
    assert build_conf(None, shuffle_partitions=2000)[
        "spark.sql.shuffle.partitions"
    ] == "2000"


def test_session_runs_ansi_on_everywhere():
    """ANSI mode must be ON in every session shape — the verification
    driver runs Spark 4's ANSI-on default, and a local ANSI-off pin let a
    LongType overflow wrap silently here while throwing
    ARITHMETIC_OVERFLOW there (CORRECTNESS_r06 dedup_clusters_star).
    Local sessions must match the strictest session the queries meet."""
    from ida_ice_energy_simulation_etl_pipeline_spark.session import build_conf

    for master in ("local[32]", None, "yarn"):
        assert build_conf(master)["spark.sql.ansi.enabled"] == "true", master


def test_live_session_is_ansi_on(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_bench_full_headline_fits_capture_window():
    """The FULL headline set must produce a stdout line under the
    driver's 2000-char tail capture even with worst-case float widths."""
    import json as _json

    import bench

    qs = {n: 12.3456 for n in bench.HEADLINE}
    h = {
        "metric": "headline_queries_total",
        "value": 1234.5678,
        "unit": "sec",
        "queries": qs,
        "repeats": 3,
        "max_rel_spread": 1.2345,
        "noisy_queries": {n: 1.2345 for n in list(bench.HEADLINE)[:8]},
        "duckdb_total": 1234.5678,
        "sf": 0.1,
    }
    assert len(_json.dumps(h)) < 1900


def _env_reads(tree) -> set[str]:
    """Environment variable names read anywhere in ``tree``: the key of
    every ``os.environ[...]`` / ``os.environ.get(...)`` /
    ``... in os.environ`` / ``os.getenv(...)``.  Any other use of the
    environment (a computed key, the mapping passed along whole) is
    reported by its source text so it cannot slip past the guard."""

    def is_env(node) -> bool:
        if isinstance(node, ast.Attribute):
            return node.attr in ("environ", "getenv")
        return getattr(node, "id", None) in ("environ", "getenv")

    parents = {
        child: node
        for node in ast.walk(tree)
        for child in ast.iter_child_nodes(node)
    }
    reads = set()
    for node in ast.walk(tree):
        if not is_env(node):
            continue
        parent = parents.get(node)
        key = None
        if isinstance(parent, ast.Subscript) and parent.value is node:
            key = parent.slice
        elif isinstance(parent, ast.Compare) and node in parent.comparators:
            key = parent.left
        elif isinstance(parent, ast.Call) and parent.func is node:
            key = parent.args[0] if parent.args else None
        elif isinstance(parent, ast.Attribute) and parent.attr in (
            "get",
            "setdefault",
            "pop",
        ):
            call = parents.get(parent)
            if isinstance(call, ast.Call) and call.args:
                key = call.args[0]
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            reads.add(key.value)
        else:
            reads.add(ast.unparse(parent or node))
    return reads


def test_package_reads_no_env_knobs():
    """A measured-and-rejected path is deleted, not kept behind an
    environment flag: the only variable the package reads is the core
    count for local sessions."""
    pkg = Path(REPO) / "ida_ice_energy_simulation_etl_pipeline_spark"
    reads = {
        f"{path.relative_to(REPO)}: {name}"
        for path in sorted(pkg.rglob("*.py"))
        for name in _env_reads(ast.parse(path.read_text(), str(path)))
        if name != "SPARK_GRAFT_CPUS"
    }
    assert not reads, sorted(reads)
    # the guard itself must see the reads it allows
    session = (pkg / "session.py").read_text()
    assert _env_reads(ast.parse(session)) == {"SPARK_GRAFT_CPUS"}


# Top-level definitions that only tests reach and that stay on purpose,
# keyed "<module path under the package>::<name>", each with why.
_TWIN = "streaming twin COVERAGE names"
TEST_ONLY_KEPT = {
    "client.py::LocalSimulationClient": "the local simulation client (COVERAGE C3, S6)",
    "streaming/corpus.py::corpus_ingest_stream": _TWIN,
    "streaming/corpus.py::run_incremental_dedup_stream": _TWIN,
    "streaming/corpus.py::run_decontamination_stream": _TWIN,
    "streaming/corpus.py::run_eval_leak_stream": _TWIN,
    "streaming/corpus.py::corpus_drift_stream": _TWIN,
    "streaming/corpus.py::source_baseline_frame": _TWIN,
    "streaming/corpus.py::read_document_stream": "the corpus twins' file source",
    "streaming/corpus.py::drift_vocab": "fits the vocabulary corpus_drift_stream tracks",
    "streaming/hourly.py::run_to_memory": "the streaming tests' sink; a copy in tests/ "
    "would not be smaller",
    "operators/similarity.py::kmeans_centroids": "builds the trained codebook that "
    "ivf_topk(codebook=) and semantic dedup take",
}


def _span(node: ast.AST) -> tuple[int, int]:
    """First and last line of a definition, its decorators included."""
    return min([node.lineno] + [d.lineno for d in node.decorator_list]), node.end_lineno


def _unreached(pkg: Path, readers: list[Path]) -> set[str]:
    """Top-level functions and classes of ``pkg`` whose name no file of
    ``readers`` mentions as an identifier (a name, an attribute or an
    imported name) outside the definition's own lines.  Strings,
    comments and docstrings are not mentions."""
    mentions: dict[str, list[tuple[Path, int]]] = {}
    defs = []
    for path in readers:
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            else:
                continue
            for name in names:
                mentions.setdefault(name, []).append((path, node.lineno))
        if path.is_relative_to(pkg):
            defs += [
                (path, node)
                for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.ClassDef))
                and not node.name.startswith("__")
            ]
    unreached = set()
    for path, node in defs:
        start, end = _span(node)
        if all(
            p == path and start <= line <= end
            for p, line in mentions.get(node.name, [])
        ):
            unreached.add(f"{path.relative_to(pkg).as_posix()}::{node.name}")
    return unreached


def test_package_defines_nothing_only_tests_reach():
    """A definition stays only if non-test code (the package with its
    ``__init__`` exports, bench.py, scripts/, perfbench/ and the driver
    entry) names it outside its own body, or if it is a kept exception
    above: code that only tests reach is deleted with its tests."""
    root = Path(REPO)
    pkg = root / "ida_ice_energy_simulation_etl_pipeline_spark"
    readers = [
        *sorted(pkg.rglob("*.py")),
        root / "bench.py",
        root / "__spark_entry__.py",
        *sorted((root / "scripts").glob("*.py")),
        *sorted((root / "perfbench").glob("*.py")),
    ]
    unreached = _unreached(pkg, readers)
    only_tests = sorted(unreached - TEST_ONLY_KEPT.keys())
    assert not only_tests, "only tests reach:\n" + "\n".join(only_tests)
    stale = sorted(TEST_ONLY_KEPT.keys() - unreached)
    assert not stale, "kept but reached or gone:\n" + "\n".join(stale)
    # the scan itself must tell a kept exception from a user path
    assert "streaming/hourly.py::run_to_memory" in unreached
    assert "etl/pipeline.py::run_pipeline" not in unreached


# The queries whose Python lives in operators/multimodal.py.
_MULTIMODAL_QUERIES = (
    "multimodal_features",
    "multimodal_frames",
    "multimodal_pipeline",
    "exif_census",
    "lzw_tiff_census",
)


def _never_entered():
    """Canary for the execution rule below: nothing calls this."""


def _unentered(path: Path, entered: set[tuple[str, int]]) -> set[str]:
    """Top-level functions and classes of the module at ``path`` whose
    lines start no code object in ``entered`` (pairs of file name and
    first line, as ``sys.settrace`` saw them called)."""
    lines = [line for file, line in entered if file == str(path)]
    tree = ast.parse(path.read_text(), str(path))
    unentered = set()
    for node in tree.body:
        if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            continue
        start, end = _span(node)
        if not any(start <= line <= end for line in lines):
            unentered.add(node.name)
    return unentered


def test_multimodal_queries_enter_every_definition(spark):
    """Execution rule for operators/multimodal.py: a definition stays only
    if one of the five multimodal queries runs it; a name in a dispatch
    chain does not count.  Building each query's DataFrame runs its
    driver-side Python, and the row kernels its ``mapInPandas`` closures
    call run here over the same doc ids, all under ``sys.settrace`` (the
    kernels are pure Python, so no coverage tool is needed).  A closure
    that starts calling another function of the module must add it to
    the kernel loop, or the test lists it."""
    import pyarrow.parquet as pq

    from ida_ice_energy_simulation_etl_pipeline_spark.operators import (
        multimodal as mm,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.plans import ALL_QUERIES

    sf_dir = "/root/testdata/sf0.001"
    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    entered: set[tuple[str, int]] = set()

    def tracer(frame, event, arg):
        entered.add((frame.f_code.co_filename, frame.f_code.co_firstlineno))

    sys.settrace(tracer)
    try:
        for name in _MULTIMODAL_QUERIES:
            ALL_QUERIES[name].fn(spark, sf_dir)
        for doc in docs:
            mm.parse_exif(mm.synth_exif_tiff(doc["doc_id"]))
            mm.decode_tiff_pixels(mm.synth_lzw_tiff(doc["doc_id"]))
            for frame in mm.frame_sample((doc["text"] or "").encode()):
                mm.resize_bytes(frame)
    finally:
        sys.settrace(None)

    unentered = sorted(_unentered(Path(mm.__file__), entered))
    assert not unentered, "no multimodal query enters:\n" + "\n".join(unentered)
    # the probe itself must see what ran and list what did not
    for fn in (mm.decode_tiff_pixels, mm.parse_exif):
        assert (fn.__code__.co_filename, fn.__code__.co_firstlineno) in entered
    assert "_never_entered" in _unentered(Path(__file__), entered)
