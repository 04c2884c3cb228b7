#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "duckdb_total": sec, "sf": ...} — kept slim
enough for the driver's 2000-char stdout tail capture; the per-query
DuckDB column and all other diagnostics go to bench_detail.json.

Noise robustness: each query is timed over REPEATS (default 3) passes at
steady state — one untimed warmup pass first (JVM startup, whole-stage
codegen compilation, OS page cache), then the MEDIAN per-query time is
reported, with the max relative spread across queries recorded so a
contended box is visible in the output instead of silently rewriting the
round's headline number.

The reference publishes no benchmark numbers (BASELINE.md), so the
"within 2× of baseline" bar would otherwise be unfalsifiable — the
``duckdb_queries`` column runs each query's own DuckDB oracle SQL on the
SAME parquet, same box, same thread count, making every bench run
self-grading against a strong single-node engine.  The DuckDB pass runs
AFTER spark.stop() so the idle JVM heap doesn't skew it, and each oracle
is wrapped per-query: a missing table or SQL error records an "error:"
marker instead of killing the whole bench line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from ida_ice_energy_simulation_etl_pipeline_spark.plans import ALL_QUERIES
from ida_ice_energy_simulation_etl_pipeline_spark.session import get_spark

REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

HEADLINE = [
    "pricing_summary",
    "segment_revenue",
    "region_revenue",
    "quality_scan",
    "customers_without_orders",
    "monthly_revenue",
    "hourly_event_rollup",
    "multires_rollup",
    "priority_price_quantiles",
    "time_dim",
    "dedup_exact",
    "minhash_signatures",
    "dedup_ngram_jaccard",
    "dedup_passages",
    "dedup_embedding",
    "similarity_topk",
    "similarity_ivf",
    "sessionize",
    "asof_last_error",
    "error_click_window",
    "text_quality",
    "token_count",
    "dataset_split",
    "contamination_check",
    "repetition_stats",
    "lm_perplexity",
    "tfidf_top_terms",
    "seq_packing",
    "event_pivot",
    "orders_rollup",
    "cube_summary",
    "text_clean",
    "top_tokens",
    "pii_scrub",
    "data_mix",
    "similarity_pq",
    "table_profile",
    "event_funnel",
    "doc_chunks",
    "bpe_merge_candidates",
    "dup_span_stats",
    "gap_fill",
    "fuzzy_part_matches",
    "rolling_anomaly",
    "quality_classifier",
    "customer_deciles",
    "yoy_customer_revenue",
]

# EXTENDED gated group (r14 verdict item 2): the post-r9 operator
# families — iterative graph kernels, the winnow near-dup family, the
# eval-leak profile and the end-to-end corpus build — previously had no
# per-round wall/floor record (their only timing evidence was one-off
# FLOOR_AMORT captures), so the perf-weak audit could not see a
# regression in the newest (and most expensive) third of the registry.
# They are measured with the SAME machinery as HEADLINE (warmup,
# interleaved repeats, spread gate, sf0.001 floors + job counts, same-
# run DuckDB twins) and land in bench_detail.json's per-query fields,
# which scripts/perf_weak.py ingests unchanged.  The stdout line keeps
# "value"/"queries" as the frozen 47-query HEADLINE set so the headline
# total stays comparable across rounds, and adds the extended group as
# two scalars (extended_total / extended_duckdb_total).
EXTENDED = [
    "dup_communities",       # LPA communities (bounded-round iterative)
    "community_bridges",     # CC closure + LPA agreement composition
    "kcore_decomposition",   # synchronous peel
    "ktruss_decomposition",  # support peel over the triangle set
    "pagerank_parts",        # power iteration, per-round checkpoints
    "winnow_pairs",          # winnowed-fingerprint near-dup self-join
    "eval_leak_profile",     # eval-grain winnow probe
    "corpus_pipeline_e2e",   # full corpus build (dedup+decon+pack)
]

# EXTRA gated group (r16, r15 verdict item 6): one representative per
# still-unmeasured operator family — the ANN acceptance harness (brute
# ground truth + all three approximate paths), the iterative BPE merge
# trainer, a binary multimodal codec, and the Louvain-style community
# refinement.  Same additive pattern as EXTENDED: measured with the
# identical machinery (warmup, interleaved repeats, spread gate, floors
# + job counts, same-run DuckDB twins), per-query record in
# bench_detail.json, two scalars on stdout; the frozen HEADLINE
# "value"/"queries" and the EXTENDED scalars are untouched so every
# existing number stays comparable across rounds.
EXTRA = [
    "ann_recall",            # recall@k of lsh/ivf/pq vs brute truth
    "bpe_train",             # iterative merge training loop
    "lzw_tiff_census",       # LZW TIFF decode census (binary codec)
    "community_refine",      # one-level modularity refinement over LPA
]

# Optional subset for iteration / CI smoke: comma-separated query names.
_subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
if _subset:
    _wanted = [n.strip() for n in _subset.split(",") if n.strip()]
    _unknown = [n for n in _wanted if n not in ALL_QUERIES]
    if _unknown:
        raise SystemExit(f"unknown bench queries: {_unknown}")
    HEADLINE = _wanted
    EXTENDED = []
    EXTRA = []

# every query this bench run measures, in one pass order
MEASURED = HEADLINE + EXTENDED + EXTRA

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _timed(run) -> float:
    start = time.perf_counter()
    run()
    return time.perf_counter() - start


def _next_job_id(tracker, start: int, settle: float = 0.0) -> int:
    """Id one past the last Spark job registered, probing ``getJobInfo``
    upward from ``start`` (a retained id, or the next one).  Unlike
    ``getJobIdsForGroup(None)`` this sees jobs run under any job group.
    The status store is fed asynchronously: with ``settle`` the probe
    waits that long and runs once more, so an action that has just
    returned has all its jobs seen."""
    nxt = start
    while True:
        while tracker.getJobInfo(nxt) is not None:
            nxt += 1
        if settle <= 0:
            return nxt
        time.sleep(settle)
        settle = 0.0


def _summarize(samples: dict[str, list[float]]) -> tuple[dict, dict]:
    timings, spreads = {}, {}
    for name, ts in samples.items():
        med = statistics.median(ts)
        timings[name] = round(med, 4)
        spreads[name] = round((max(ts) - min(ts)) / med, 4) if med > 0 else 0.0
    return timings, spreads


def _duckdb_timings(
    sf_dir: str, threads: int
) -> tuple[dict[str, float | str], dict[str, float]]:
    """BEST (minimum) wall time of each headline query's DuckDB oracle on
    the same data, over the interleaved passes, materializing to Arrow
    (``.arrow()`` — DuckDB's fastest fetch, mirroring the Spark side's
    Arrow ``toPandas``; see the materialization note in main).
    Min, not median, and
    deliberately so: the DuckDB phase runs right after ``spark.stop()``,
    and transient OS churn from the JVM teardown (page-cache eviction,
    memory release) occasionally poisons a majority of one heavy query's
    samples — a median then inflates the DuckDB column (observed:
    ``similarity_pq`` 3.95 s median vs a stable 0.6 s isolated).  Taking
    DuckDB's best case is the CONSERVATIVE comparator: noise can only
    shrink the denominator and make the Spark/DuckDB ratio look worse,
    never better, so the self-graded number cannot be flattered by a
    contended box.  A settle barrier (gc + sleep) also runs before the
    first sample.  Per-query failures (and a missing duckdb module)
    degrade to "error:..." markers — the Spark column still prints.
    Returns (min_timings, median_timings): the median column goes to
    the detail side file so the asymmetric aggregation choice (Spark
    median vs DuckDB min) is fully auditable from the round record."""
    try:
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads={threads}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
    except Exception as exc:  # pragma: no cover - environment-dependent
        return (
            {name: f"error:{type(exc).__name__}" for name in MEASURED},
            {},
        )
    # Interleaved passes (see main): a load spike lands on ONE sample of
    # many queries, not every sample of one query — and min-aggregation
    # (docstring above) rejects it even when it spans a whole pass.
    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for rep in range(REPEATS + 1):  # pass 0 = warmup (page cache, plan cache)
        for name in MEASURED:
            sql = ALL_QUERIES[name].oracle
            if not sql or name in errors:
                continue
            try:
                t = _timed(lambda: con.execute(sql).arrow())
                if rep > 0:
                    samples.setdefault(name, []).append(t)
            except Exception as exc:
                errors[name] = f"error:{type(exc).__name__}"
    con.close()
    timings = {n: round(min(ts), 4) for n, ts in samples.items()}
    medians = {
        n: round(statistics.median(ts), 4) for n, ts in samples.items()
    }
    return {**timings, **errors}, medians


def explain(names: list[str]) -> None:
    """Print the formatted physical plan for each named query — the
    iterate-on-.explain loop: run after any plan change and check the
    pushdown/broadcast/codegen properties the shape tests pin."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_spark(app_name="bench-explain", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        if name not in ALL_QUERIES:
            raise SystemExit(f"unknown query {name!r}")
        print(f"===== {name} =====")
        ALL_QUERIES[name].fn(spark, sf_dir).explain("formatted")
    spark.stop()


def _wait_for_quiet_window() -> None:
    """Opt-in quiet-window gate (SPARK_GRAFT_QUIET_LOADAVG=<threshold>):
    block until the 1-min loadavg drops below the threshold, or the
    SPARK_GRAFT_QUIET_TIMEOUT (default 600 s) deadline passes.  The
    criterion is empirical from round 9: the only capture of eight that
    met the <0.3 max_rel_spread reproducibility target started at
    loadavg < 0.5 — this VM's contention is external, so starting quiet
    is the ONE lever that moves spread (conf levers measured dead, see
    SCALE.md).  Off by default: a driver-invoked bench must never sleep
    through its capture window."""
    quiet = os.environ.get("SPARK_GRAFT_QUIET_LOADAVG")
    if not quiet:
        return
    threshold = float(quiet)
    deadline = time.monotonic() + float(
        os.environ.get("SPARK_GRAFT_QUIET_TIMEOUT", "600")
    )
    while os.getloadavg()[0] > threshold and time.monotonic() < deadline:
        time.sleep(5.0)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--explain":
        explain(sys.argv[2:] or list(MEASURED))
        return
    _wait_for_quiet_window()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    n_cpus = int(cpus) if cpus.isdigit() else 32
    # Size the shuffle partitioning to the WORKLOAD, not the box: at bench
    # scale (sf0.1 ≈ 17 MB of parquet) a 32-task wave per exchange costs
    # more in scheduling than it returns in parallelism (measured ~25% of
    # wall on the weak set).  ~1 MB of source parquet per partition,
    # clamped to [8, n_cpus]; a real deployment sets this from cluster
    # size (SCALE.md §3) and the clamp ceiling keeps the rule from ever
    # UNDER-parallelizing relative to the old cpu-count default.
    try:
        input_mb = sum(
            os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES
        ) / (1024 * 1024)
        shuffle_parts = max(8, min(n_cpus, int(input_mb)))
    except OSError:
        shuffle_parts = n_cpus  # unknown layout: fall back to cpu sizing
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=shuffle_parts,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Job ids are probed upward from a cursor that every query advances
    # (untimed): the status store keeps only the newest jobs
    # (spark.ui.retainedJobs), so the cursor must never fall that far back.
    tracker = spark.sparkContext.statusTracker()
    job_cursor = 0

    # Untimed warmup pass: JIT + codegen compile + OS page cache.
    for name in MEASURED:
        ALL_QUERIES[name].fn(spark, sf_dir).toPandas()
        job_cursor = _next_job_id(tracker, job_cursor)

    # REPEATS full passes, INTERLEAVED (pass 1 runs every query, then pass
    # 2, ...): back-to-back samples of one query share any transient load
    # spike, so per-query medians of consecutive runs inherit the spike —
    # round-robin decorrelates the samples and the median rejects it.
    #
    # Each sample is split into plan-BUILD time (fn(): DataFrame
    # construction + eager per-op analysis) and the materialize.
    # "queries" stays build+execute for cross-round comparability;
    # "build_sec" exposes the fixed compile component, which DOMINATES
    # several sub-2s fixture-scale entries (measured: re-collecting an
    # already-built text_quality DataFrame takes 0.09s where the
    # rebuilt query takes ~1.1s — the delta is Catalyst work that a
    # real deployment pays once per query shape, then amortizes).
    #
    # Result materialization is ARROW-COLUMNAR on BOTH engines (r6):
    # Spark ``toPandas()`` (spark.sql.execution.arrow enabled
    # session-wide) beside DuckDB ``.arrow()`` below — each engine's
    # own fastest fetch (measured at sf0.1: DuckDB sessionize fetchall
    # 0.065 s vs .arrow() 0.027 s, never slower elsewhere; Spark
    # sessionize collect 0.47 s vs toPandas 0.26 s).  The old row-tuple
    # pair (collect()/fetchall()) benchmarked each engine's legacy
    # row-pickle path instead of its columnar one.  The residual
    # asymmetry is DELIBERATE and conservative for our claims: DuckDB
    # stops at an Arrow table while Spark's toPandas() additionally
    # pays the Arrow→pandas conversion, so the Spark column can only be
    # OVERSTATED relative to a strictly symmetric contract (Spark has
    # no faster public full-materialization than toPandas — the
    # Arrow-batch collector is a private API).
    # Opt-in mid-run burst detector (r11): the quiet-window START gate
    # cannot see a burst that lands mid-capture, so when
    # SPARK_GRAFT_ABORT_SPREAD=<x> is set, a full measurement pass whose
    # max per-query rel-spread exceeds x is DISCARDED and re-run (up to
    # SPARK_GRAFT_ABORT_RETRIES attempts, default 3; the last attempt is
    # kept regardless so the bench always reports).  Off by default — a
    # driver-invoked bench must never multiply its own runtime.
    abort_spread = float(os.environ.get("SPARK_GRAFT_ABORT_SPREAD", "0"))
    abort_retries = int(os.environ.get("SPARK_GRAFT_ABORT_RETRIES", "3"))
    attempts = 0
    while True:
        attempts += 1
        samples: dict[str, list[float]] = {n: [] for n in MEASURED}
        build_samples: dict[str, list[float]] = {n: [] for n in MEASURED}
        for _ in range(REPEATS):
            for name in MEASURED:
                t0 = time.perf_counter()
                df = ALL_QUERIES[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
                df.toPandas()
                t2 = time.perf_counter()
                build_samples[name].append(t1 - t0)
                samples[name].append(t2 - t0)
                job_cursor = _next_job_id(tracker, job_cursor)
        timings, spreads = _summarize(samples)
        builds, _ = _summarize(build_samples)
        worst = max(spreads.values()) if spreads else 0.0
        if (
            abort_spread <= 0
            or worst <= abort_spread
            or attempts >= abort_retries
        ):
            break
        print(
            f"# burst detected (max_rel_spread {worst:.3f} > "
            f"{abort_spread}); discarding pass {attempts} and retrying",
            file=sys.stderr,
        )
        _wait_for_quiet_window()

    # Per-query FLOOR: the same query shape on the near-empty sf0.001
    # fixture measures Spark's fixed cost (job cadence, task scheduling,
    # result fetch) with the data path amortized to ~nothing — the honest
    # denominator when reading the DuckDB ratio on sub-second entries.
    # Side-file diagnostic only; stdout stays one line.
    floor_dir = os.environ.get(
        "SPARK_GRAFT_FLOOR_SF_DIR", "/root/testdata/sf0.001"
    )
    floors: dict[str, float | None] = {}
    floor_jobs: dict[str, int | None] = {}
    if os.path.isdir(floor_dir):
        for name in MEASURED:
            try:
                fn = ALL_QUERIES[name].fn
                fn(spark, floor_dir).toPandas()  # warm this shape at this sf
                # Spark JOB COUNT of one execution: the host-noise-IMMUNE
                # floor signal (wall-clock floors below drift ±25% with
                # box contention; the job count is a property of the
                # plan).  Judge-auditable across rounds.
                j0 = _next_job_id(tracker, job_cursor, settle=0.05)
                fn(spark, floor_dir).toPandas()
                job_cursor = _next_job_id(tracker, j0, settle=0.05)
                floor_jobs[name] = job_cursor - j0
                floors[name] = round(
                    min(
                        _timed(lambda: fn(spark, floor_dir).toPandas())
                        for _ in range(2)
                    ),
                    4,
                )
            except Exception:
                floors[name] = None
                floor_jobs[name] = None
    # Tear the JVM down COMPLETELY before the DuckDB pass: spark.stop()
    # alone leaves the py4j gateway JVM alive, and its resident heap
    # (tens of GB after a full bench) starves the memory-heavy oracles —
    # observed: similarity_pq at 3.6-4.5 s beside the live JVM vs a
    # stable 0.6 s isolated.  Kill the gateway process and wait, then a
    # short settle for the OS to reclaim.
    gateway = spark.sparkContext._gateway
    spark.stop()
    try:
        gateway.shutdown()
        gateway.proc.kill()
        gateway.proc.wait()
    except Exception:
        pass  # already gone, or a cluster deploy where the JVM is remote
    import gc
    import time as _time

    gc.collect()
    _time.sleep(2.0)
    n_threads = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
    duck, duck_medians = _duckdb_timings(sf_dir, n_threads)
    duck_ok = [v for v in duck.values() if isinstance(v, float)]

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The driver records only the LAST 2000 characters of stdout
    # (BENCH_r0{1,2}.json "tail" fields are exactly 2000 chars; round 3's
    # longer line came back "parsed: null").  The stdout line therefore
    # stays SLIM: per-query Spark times, the DuckDB total, and the
    # per-query DuckDB MIN (best-case) timings as the COMPACT
    # ``duckdb_q`` array (the conservative aggregation — medians ride
    # BENCH_DETAIL's ``duckdb_queries_median``) —
    # values aligned positionally with the ``queries`` dict's key order
    # (JSON objects preserve insertion order), -1 marking an oracle
    # error — so the round record itself carries the full comparator,
    # not just its sum.  Everything else (build/floor decomposition,
    # spreads) stays in the side file, committed as BENCH_DETAIL_r{N}.json.
    # stdout keeps "value"/"queries"/"duckdb_total" scoped to the frozen
    # HEADLINE set so the headline total stays comparable across rounds;
    # the EXTENDED group rides as two scalars here and per-query (walls,
    # floors, builds, spreads, duckdb twins) in the detail side file.
    head_timings = {n: timings[n] for n in HEADLINE}
    head_duck_ok = [
        duck[n] for n in HEADLINE if isinstance(duck.get(n), float)
    ]
    ext_duck_ok = [
        duck[n] for n in EXTENDED if isinstance(duck.get(n), float)
    ]
    extra_duck_ok = [
        duck[n] for n in EXTRA if isinstance(duck.get(n), float)
    ]
    headline = {
        "metric": "headline_queries_total",
        "value": round(sum(head_timings.values()), 4),
        "unit": "sec",
        "queries": head_timings,
        "repeats": REPEATS,
        # the spread gate (and this figure) covers EVERY measured query,
        # extended group included — a noisy extended sample voids the
        # run the same way a noisy headline sample does
        "max_rel_spread": round(max(spreads.values()), 4),
        "noisy_queries": {n: s for n, s in spreads.items() if s > 0.5},
        "duckdb_total": round(sum(head_duck_ok), 4),
        "duckdb_q": [
            round(duck[n], 3) if isinstance(duck.get(n), float) else -1
            for n in head_timings
        ],
        "extended_total": round(
            sum(timings[n] for n in EXTENDED), 4
        ),
        "extended_duckdb_total": round(sum(ext_duck_ok), 4),
        "extra_total": round(sum(timings[n] for n in EXTRA), 4),
        "extra_duckdb_total": round(sum(extra_duck_ok), 4),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    detail = {
        "generated_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "build_sec": builds,
        "floor_sec": floors,
        "floor_jobs": floor_jobs,
        # mid-run burst detector (SPARK_GRAFT_ABORT_SPREAD): how many
        # measurement passes this record took (1 = no aborts)
        "measurement_attempts": attempts,
        # host contention context for the wall-clock columns
        "loadavg": list(os.getloadavg()),
        "rel_spread": spreads,
        "duckdb_queries": duck,
        "duckdb_queries_median": duck_medians,
        "notes": {
            "text_quality": (
                "applies to rounds 1-2 only (noted 2026-08-14): since r3 "
                "text_quality computes quality AND repetition signals in one "
                "scan; compare r1/r2 text_quality+repetition_stats combined"
            ),
        },
        **headline,
        # the detail record's per-query fields cover HEADLINE + EXTENDED
        # (scripts/perf_weak.py reads exactly these keys); "queries" here
        # therefore OVERRIDES the headline-scoped dict spread above
        "queries": timings,
        "extended": list(EXTENDED),
        "extra": list(EXTRA),
    }
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"),
            "w",
        ) as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # diagnostics are best-effort; the stdout line is the record
    line = json.dumps(headline)
    if len(line) >= 1900:  # stay inside the 2000-char capture, with margin
        headline.pop("noisy_queries", None)
        line = json.dumps(headline)
    if len(line) >= 1900:  # still long (many queries): keep duckdb_total
        headline.pop("duckdb_q", None)
        line = json.dumps(headline)
    print(line)


if __name__ == "__main__":
    sys.exit(main())
