"""Benchmark of the IDA-ICE ETL pipeline and the graph kernels.

Run from the repository root:

    python3 perfbench/run.py --workload etl_zipped --seed 1 --seconds 5 --trace 0

One process is one client in a closed loop on a fresh ``local[4]`` Spark
session: it sets the session up, runs one cold pass, then warm passes
back to back until ``--seconds`` have passed and the workload's minimum
pass count is met.  It checks every pass's outputs against DuckDB and
prints each metric with its unit and sample count.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` re-runs the passes with span
wrappers around each layer call and reports the per-layer metrics.
Inputs are generated from ``--seed`` into ``.perfbench-work/`` and
reused; see README.md for the workloads and what each metric measures.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import resource
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

PACKAGE = "ida_ice_energy_simulation_etl_pipeline_spark"
MASTER = "local[4]"
E2E_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "spark_jobs": "count",
    "peak_rss_mb": "MB",
}
# No pass starts after this many seconds of a run, so that a run ends well
# inside three minutes even on a slow host.
RUN_BUDGET_S = 90.0


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_zipped", "etl_dirs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Session:
    """The Spark session under test, from start to a stopped JVM."""

    def __init__(self) -> None:
        from ida_ice_energy_simulation_etl_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=MASTER)
        t1 = time.perf_counter()
        self.spark.range(1).count()
        t2 = time.perf_counter()
        self.start_s = t1 - t0  # get_spark alone
        self.setup_s = t2 - t0  # until the session has run an action
        self.spark.sparkContext.setLogLevel("ERROR")

    def peak_rss_mb(self) -> float:
        """The JVM's peak resident set plus this interpreter's."""
        from pyspark import SparkContext

        jvm_kb = 0
        pid = SparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        # The JVM exits when its stdin closes; wait for it.
        proc.stdin.close()
        proc.wait(timeout=60)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def run(args: argparse.Namespace, root: Path, work: Path) -> dict:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # The JVM's temp files and perf-data files go inside the work dir too.
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    sys.path.insert(0, str(root))

    from inputs import prepare
    from spans import JobLedger, Tracer, patched
    from workloads import LAYER_METRICS, WORKLOADS, Etl

    inputs = prepare(args.workload, args.seed, work / "inputs", root)
    manifest = json.loads((inputs / "manifest.json").read_text())
    print(
        f"workload {args.workload} seed {args.seed}: "
        f"{manifest['input_bytes'] / 1e6:.2f} MB raw input, "
        f"digest {manifest['input_digest'][:16]}; closed loop, 1 client, {MASTER}"
    )
    wl = Etl(WORKLOADS[args.workload], inputs, manifest, work / "out", tmp)
    traced_run = bool(args.trace)

    run_start = time.perf_counter()
    session = Session()
    try:
        spark = session.spark
        ledger = JobLedger(spark.sparkContext)
        tracer = Tracer(ledger, enabled=traced_run)
        layers = wl.layers()

        passes: list[dict] = []
        attempted = failed = 0
        failures: list[str] = []

        def count(errors: dict[str, list[str]]) -> None:
            nonlocal attempted, failed
            attempted += len(errors)
            failed += sum(1 for e in errors.values() if e)
            for e in errors.values():
                failures.extend(e)

        def one_pass(pid: int, kind: str) -> None:
            tracer.pass_id = pid
            probing_before = ledger.bookkeeping_s
            patch = patched(*layers, tracer) if traced_run else nullcontext()
            with patch, tracer.span("pass", always=True) as root_span:
                try:
                    wl.run_pass(spark, tracer)
                except Exception as exc:  # noqa: BLE001 — after_pass counts what is missing
                    traceback.print_exc(file=sys.stderr)
                    failures.append(f"pass {pid}: {type(exc).__name__}: {exc}")
            totals = tracer.layer_totals(pid)
            errors = wl.after_pass(pid)
            count(errors)
            rec = {
                "pass": pid,
                "kind": kind,
                "wall_s": root_span.wall,
                "probing_s": ledger.bookkeeping_s - probing_before,
                "jobs": sum(v["jobs"] for v in totals.values()),
                "ok": not any(errors.values()),
            }
            if traced_run:
                rec["layers"] = wl.layer_metrics(pid, totals)
            passes.append(rec)
            print(
                f"pass {pid} ({kind}{', traced' if traced_run else ''}): {rec['wall_s']:.3f} s, "
                f"{rec['jobs']} jobs, {'ok' if rec['ok'] else 'FAILED'}",
                flush=True,
            )

        one_pass(0, "cold")
        warm_start = time.perf_counter()
        for pid in itertools.count(1):
            one_pass(pid, "warm")
            now = time.perf_counter()
            if now - warm_start >= args.seconds or now - run_start > RUN_BUDGET_S:
                break

        count(wl.finish(spark, tracer, traced_run))
        finish_metrics = wl.finish_metrics() if traced_run else {}

        peak_rss = session.peak_rss_mb()
    finally:
        wl.close()
        session.stop()

    warm = [p for p in passes if p["kind"] == "warm" and p["ok"]]
    if traced_run:
        metrics = {name: 0.0 for name in LAYER_METRICS}
        for name in warm[0]["layers"] if warm else []:
            metrics[name] = _median([p["layers"][name] for p in warm])
        metrics.update(finish_metrics)
        metrics["session.start_s"] = session.start_s
        metrics["trace.pass_s"] = _median([p["wall_s"] for p in warm])
        metrics["trace.probing_s"] = _median([p["probing_s"] for p in warm])
        units = LAYER_METRICS
        counts = {name: len(warm) for name in metrics}
        for name in metrics:
            if name.startswith(("reads.", "kernels.", "session.")):
                counts[name] = 1
        if passes[0].get("layers"):
            cold = ", ".join(
                f"{k} {v:.4g}" for k, v in passes[0]["layers"].items() if v
            )
            print(f"cold pass layers: {cold}")
        write_spans(work, args, tracer, passes)
    else:
        metrics = {
            "setup_s": session.setup_s,
            "first_pass_s": passes[0]["wall_s"],
            "pass_s": _median([p["wall_s"] for p in warm]),
            "spark_jobs": _median([p["jobs"] for p in warm]),
            "peak_rss_mb": peak_rss,
        }
        units = E2E_UNITS
        counts = {name: 1 for name in metrics}
        counts["pass_s"] = counts["spark_jobs"] = len(warm)

    for name, value in metrics.items():
        print(f"metric {name} = {value:.6g} {units[name]} (n={counts[name]})")
    print(f"error_rate = {failed}/{attempted} = {failed / attempted:.4g}")
    print(
        f"run wall {time.perf_counter() - run_start:.1f} s after input preparation; "
        f"job probing took {ledger.bookkeeping_s:.3f} s"
    )
    for f in failures:
        print(f"check failed: {f}")
    print(f"output check: {'PASS' if not failed else 'FAIL'}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }


def write_spans(work: Path, args: argparse.Namespace, tracer, passes: list[dict]) -> None:
    out = work / "traces" / f"{args.workload}-seed{args.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({"passes": passes, "spans": tracer.records()}, indent=1))
    print(f"spans written to {out.relative_to(work.parent)}")


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / PACKAGE / "__init__.py").is_file():
        print(
            f"perfbench: {PACKAGE}/ not found under {root}; "
            "run from the repository root",
            file=sys.stderr,
        )
        return 2
    result = run(args, root, root / ".perfbench-work")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
