#!/usr/bin/env python
"""Deploy-scale A/B for the CC/LPA partition-preserving sym capture
(r16, r15 verdict item 1).

The bench fixtures live entirely in AQE's broadcast regime: the
vertex-grain label frame of every graph kernel stays far under the
64 MB auto-broadcast threshold, so the per-round edge⋈label join never
shuffles the 2|E|-row sym side and a keyed sym capture is pure setup
cost (the measured r15 rejection).  This script builds the ≥10×
coordinate the r15 verdict asked for — a synthetic star-forest graph
whose label frame EXCEEDS the threshold, so the per-round join is a
shuffle join and the plain (UnknownPartitioning) checkpoint re-exchanges
sym every round — and measures both regimes on it:

* wall + Spark job count for the full kernel (CC and LPA), interleaved
  A/B in one JVM, results asserted identical (count + double xor digest)
  before any timing is trusted;
* the per-round physical plan under each regime (the committed
  plans/r16/{cc,lpa}_deploy_round_{plain,partitioned}.txt evidence),
  reconstructed exactly as the kernels build a round — checkpointed sym
  + checkpointed label frame + the round composition.

Graph: a two-level star forest over N vertices (v → v−v%64 → parent
−parent%4096): |E| ≈ N·(1+1/64), min-label CC converges in ≲3 rounds,
LPA's bounded 4 rounds apply as usual.  N defaults to 4M, putting the
two-int64 label frame (and the edge checkpoint proxy the auto switch
reads) well past 64 MB.

Usage: python scripts/graph_deploy_ab.py [N] [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

import contextlib
import io

from pyspark.sql import functions as F

from ida_ice_energy_simulation_etl_pipeline_spark.operators import graph
from ida_ice_energy_simulation_etl_pipeline_spark.session import get_spark

# a regime is forced by replacing the kernels' selector; "auto" is the
# shipped checkpoint-size probe
REGIMES = {
    "plain": lambda _ckpt: False,
    "partitioned": lambda _ckpt: True,
    "auto": graph._deploy_regime,
}


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def build_graph(spark, n: int):
    r = spark.range(n)
    e1 = r.select(
        F.col("id").alias("doc_a"), (F.col("id") - F.col("id") % 64).alias("doc_b")
    ).filter(F.col("doc_a") != F.col("doc_b"))
    parents = spark.range(0, n, 64)
    e2 = parents.select(
        F.col("id").alias("doc_a"),
        (F.col("id") - F.col("id") % 4096).alias("doc_b"),
    ).filter(F.col("doc_a") != F.col("doc_b"))
    # canonical doc_a < doc_b is not needed by CC/LPA (they symmetrize);
    # order endpoints anyway so the frame matches the kernels' contract
    pairs = e1.union(e2).select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
    )
    return pairs.localCheckpoint(eager=True)


def digest(df, cols):
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("h"),
        F.bit_xor(F.xxhash64(*list(reversed(cols)))).alias("h2"),
    ).collect()[0]
    return (row["n"], row["h"], row["h2"])


def latest_job_id(tracker) -> int:
    ids = tracker.getJobIdsForGroup(None) or []
    return max(ids) if ids else -1


def run_kernel(spark, kernel, pairs, mode: str):
    graph._deploy_regime = REGIMES[mode]
    tracker = spark.sparkContext.statusTracker()
    j0 = latest_job_id(tracker)
    t0 = time.perf_counter()
    if kernel == "cc":
        from ida_ice_energy_simulation_etl_pipeline_spark.operators.graph import (
            connected_components,
        )

        verts = (
            pairs.select(F.col("doc_a").alias("vertex_id"))
            .union(pairs.select(F.col("doc_b").alias("vertex_id")))
            .distinct()
        )
        out = connected_components(
            verts, pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        )
        d = digest(out, ["vertex_id", "component"])
    else:
        from ida_ice_energy_simulation_etl_pipeline_spark.operators.graph import (
            lpa_labels,
        )

        out = lpa_labels(pairs)
        d = digest(out, ["v", "label"])
    wall = time.perf_counter() - t0
    jobs = latest_job_id(tracker) - j0
    return {"wall_sec": round(wall, 3), "jobs": jobs, "digest": list(d)}


def capture_round_plans(spark, pairs, out_dir: str) -> None:
    """One representative CC round and one LPA round, composed exactly
    as the kernels compose them, explained under each regime."""
    from ida_ice_energy_simulation_etl_pipeline_spark.plans.core import (
        free_local_checkpoint,
        local_checkpoint_partitioned,
    )

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for mode in ("plain", "partitioned"):
        edges0 = pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).localCheckpoint(eager=True)
        sym0 = edges0.union(
            edges0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        if mode == "partitioned":
            sym = local_checkpoint_partitioned(sym0.repartition(parts, "dst"))
        else:
            sym = sym0.localCheckpoint(eager=True)
        # CC round: labels is a checkpointed (vertex_id, component)
        # frame the way round ≥ 2 sees it.  component is a COMPUTED
        # column there (least/coalesce over the join), so it carries its
        # own attribute — mimic that (a bare re-alias of vertex_id would
        # make the captured partitioning read "component" and hide the
        # zero-exchange property the real rounds have).
        lbls0 = sym.select(F.col("src").alias("vertex_id")).distinct().select(
            "vertex_id",
            F.least("vertex_id", "vertex_id").alias("component"),
        )
        labels = (
            local_checkpoint_partitioned(lbls0)
            if mode == "partitioned"
            else lbls0.localCheckpoint(eager=True)
        )
        lbl = labels.hint("shuffle_hash") if mode == "partitioned" else labels
        neighbor_votes = (
            sym.join(lbl, sym.dst == lbl.vertex_id)
            .select(F.col("src").alias("vertex_id"), "component")
            .withColumn("_self", F.lit(False))
        )
        cc_votes = neighbor_votes.unionAll(
            labels.select("vertex_id", "component").withColumn("_self", F.lit(True))
        )
        updated = (
            cc_votes.groupBy("vertex_id")
            .agg(
                F.min("component").alias("component"),
                F.max(F.when(F.col("_self"), F.col("component"))).alias("_prev"),
            )
            .filter(F.col("_prev").isNotNull())
            .select(
                "vertex_id",
                "component",
                (F.col("component") < F.col("_prev")).alias("_changed"),
            )
        )
        with open(os.path.join(out_dir, f"cc_deploy_round_{mode}.txt"), "w") as f:
            f.write(f"===== one CC round, sym capture mode = {mode} =====\n")
            f.write(formatted_plan(updated))
        # LPA round: cur is a checkpointed (v, label) frame (label is a
        # computed argmax in the real rounds — same aliasing note as CC)
        cur0 = sym.select(F.col("src").alias("v")).distinct().select(
            "v", F.least("v", "v").alias("label")
        )
        cur = (
            local_checkpoint_partitioned(cur0)
            if mode == "partitioned"
            else cur0.localCheckpoint(eager=True)
        )
        nbr = cur.select(F.col("v").alias("dst"), "label")
        neighbor_votes = (
            sym.join(nbr.hint("shuffle_hash") if mode == "partitioned" else nbr, "dst")
            .select(F.col("src").alias("v"), "label")
            .withColumn("is_self", F.lit(False))
        )
        votes = neighbor_votes.unionAll(cur.withColumn("is_self", F.lit(True)))
        counts = votes.groupBy("v", "label").agg(
            F.count(F.lit(1)).alias("cnt"), F.max("is_self").alias("is_prev")
        )
        new_labels = counts.groupBy("v").agg(
            F.min_by(
                "label", F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
            ).alias("label"),
            F.max(F.when(F.col("is_prev"), F.col("label"))).alias("prev"),
        )
        with open(os.path.join(out_dir, f"lpa_deploy_round_{mode}.txt"), "w") as f:
            f.write(f"===== one LPA round, sym capture mode = {mode} =====\n")
            f.write(formatted_plan(new_labels))
        for fr in (labels, cur, sym, edges0):
            free_local_checkpoint(fr)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graph_deploy_ab.json"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="graph-deploy-ab",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        # the PLAIN regime at this coordinate makes AQE attempt a
        # vertex-grain label broadcast every round; at the 1g driver
        # default that dies with "Not enough memory to build and
        # broadcast" (recorded in the round doc — it is the deploy
        # failure mode the partitioned regime removes).  The A/B needs
        # both arms to finish, so the driver gets headroom here.
        extra_conf={"spark.driver.memory": "12g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from ida_ice_energy_simulation_etl_pipeline_spark.plans.core import (
        checkpointed_bytes,
        outgrows_broadcast,
    )

    pairs = build_graph(spark, n)
    edge_bytes = checkpointed_bytes(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .localCheckpoint(eager=True)
    )
    record = {
        "n_vertices": n,
        "n_edges": pairs.count(),
        "edge_ckpt_bytes": edge_bytes,
        "auto_broadcast_threshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "auto_regime_flips": outgrows_broadcast(pairs),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "cpus": cpus,
        "runs": [],
    }
    # interleaved A/B, two passes each, results asserted identical
    for rep in range(2):
        for kernel in ("cc", "lpa"):
            for mode in ("plain", "partitioned", "auto"):
                spark.sparkContext.setJobDescription(
                    f"{kernel} mode={mode} rep={rep}"
                )
                r = run_kernel(spark, kernel, pairs, mode)
                r.update({"kernel": kernel, "mode": mode, "rep": rep})
                record["runs"].append(r)
                print(json.dumps(r), flush=True)
    graph._deploy_regime = REGIMES["auto"]
    # digests must agree across modes per kernel
    for kernel in ("cc", "lpa"):
        ds = {tuple(r["digest"]) for r in record["runs"] if r["kernel"] == kernel}
        assert len(ds) == 1, f"{kernel} results differ across modes: {ds}"
    record["results_identical"] = True
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r16",
    )
    os.makedirs(plans_dir, exist_ok=True)
    capture_round_plans(spark, pairs, plans_dir)
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: v for k, v in record.items() if k != "runs"}))
    spark.stop()


if __name__ == "__main__":
    main()
