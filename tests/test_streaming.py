"""Streaming operator tests: windowed rollup parity with batch, and
watermarked dedup."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from ida_ice_energy_simulation_etl_pipeline_spark.streaming import (
    dedup_stream,
    hourly_rollup_stream,
    read_event_stream,
)
from ida_ice_energy_simulation_etl_pipeline_spark.streaming.hourly import (
    run_to_memory,
)

BASE_TS = datetime(2024, 3, 1, 0, 0, 0)


def _event(i: int, minutes: int, etype: str = "click", value: float = 1.5):
    return {
        "event_id": i,
        "ts": (BASE_TS + timedelta(minutes=minutes)).strftime("%Y-%m-%dT%H:%M:%S"),
        "user_id": i % 7,
        "event_type": etype,
        "value": value,
        "props": "{}",
    }


@pytest.fixture()
def event_dir(tmp_path):
    rows = [
        *(_event(i, 5 * i, "click", 2.0) for i in range(12)),      # hours 0..1
        *(_event(100 + i, 60 + 5 * i, "view", 1.0) for i in range(6)),
    ]
    (tmp_path / "batch1.json").write_text("\n".join(json.dumps(r) for r in rows))
    return tmp_path


def test_hourly_rollup_matches_batch(spark, event_dir):
    stream = read_event_stream(spark, str(event_dir))
    rollup = hourly_rollup_stream(stream)
    run_to_memory(rollup, "rollup_t", output_mode="complete")
    got = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("rollup_t").collect()
    }
    # hour 0: 12 clicks at 5-min spacing = minutes 0..55
    assert got[(0, "click")] == (12, 24.0)
    # hour 1: 6 views at minutes 60..85
    assert got[(1, "view")] == (6, 6.0)


def test_sessionize_stream_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: in-batch gap close + event-time
    timeout close across micro-batches."""
    import os

    from ida_ice_energy_simulation_etl_pipeline_spark.streaming import (
        sessionize_stream,
    )

    # Batch 1 — user 0: two events 5 min apart, then a 90-min gap, then one
    # more event (closes session 1 IN-BATCH; session 2 stays open in state).
    b1 = [
        _event(0, 0, "click", 1.0) | {"user_id": 0},
        _event(1, 5, "click", 2.0) | {"user_id": 0},
        _event(2, 95, "click", 4.0) | {"user_id": 0},
    ]
    # Batch 2 — user 1 far in the future: advances the watermark past
    # (batch-1 last ts + gap), so user 0's open session closes BY TIMEOUT.
    b2 = [_event(3, 24 * 60, "click", 8.0) | {"user_id": 1}]
    f1, f2 = tmp_path / "b1.json", tmp_path / "b2.json"
    f1.write_text("\n".join(json.dumps(r) for r in b1))
    f2.write_text("\n".join(json.dumps(r) for r in b2))
    # force file order → two micro-batches (watermark advances between them)
    now = f1.stat().st_mtime
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    stream = spark.readStream.schema(
        read_event_stream(spark, str(tmp_path)).schema
    ).option("maxFilesPerTrigger", 1).json(str(tmp_path))
    sessions = sessionize_stream(stream, gap_min=30, watermark="0 seconds")
    run_to_memory(sessions, "sessions_t")

    rows = {
        (r["user_id"], r["session_start"].minute): (r["n_events"], r["sum_value"])
        for r in spark.table("sessions_t").collect()
    }
    # in-batch close: events at minutes 0 and 5
    assert rows[(0, 0)] == (2, 3.0)
    # timeout close: the single event at minute 95
    assert rows[(0, 35)] == (1, 4.0)  # 95 min → 01:35


def test_sessionize_stream_matches_batch(spark, tmp_path, sf_dir):
    """Replay the whole events fixture through the stateful streaming
    sessionizer and assert it produces EXACTLY the batch ``sessionize``
    query's sessions — the reference check for watermark-closure edge
    cases (in-batch gap closes + event-time timeout closes must together
    partition the feed identically to the batch lag/cumsum plan)."""
    import os
    from collections import defaultdict
    from datetime import datetime

    from ida_ice_energy_simulation_etl_pipeline_spark.plans import ALL_QUERIES
    from ida_ice_energy_simulation_etl_pipeline_spark.plans.core import load_table
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming import (
        sessionize_stream,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.hourly import (
        EVENT_SCHEMA,
    )

    in_dir = tmp_path / "in"
    ev = load_table(spark, str(sf_dir), "events").select(
        *(f.name for f in EVENT_SCHEMA.fields)
    )
    ev.coalesce(1).write.parquet(str(in_dir))
    # Sentinel far past max(ts) + gap: advances the watermark so every
    # real session still open in state closes by event-time timeout.
    sentinel = spark.createDataFrame(
        [(10**9, datetime(2024, 6, 1), -1, "click", 0.0, "{}")], EVENT_SCHEMA
    )
    sentinel.coalesce(1).write.mode("append").parquet(str(in_dir))
    # File order = micro-batch order: fixture first, sentinel second.
    parts = sorted(in_dir.glob("part-*.parquet"), key=lambda p: p.stat().st_mtime)
    now = parts[-1].stat().st_mtime
    for i, p in enumerate(parts):
        os.utime(p, (now - 60 * (len(parts) - i), now - 60 * (len(parts) - i)))

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    sessions = sessionize_stream(stream, gap_min=30, watermark="0 seconds")
    run_to_memory(sessions, "sessions_vs_batch_t")

    by_user = defaultdict(list)
    for r in spark.table("sessions_vs_batch_t").collect():
        if r["user_id"] >= 0:  # drop the sentinel user
            by_user[r["user_id"]].append(r)
    stream_rows = set()
    for user, rs in by_user.items():
        for i, r in enumerate(sorted(rs, key=lambda x: x["session_start"]), 1):
            dur = int((r["session_end"] - r["session_start"]).total_seconds())
            stream_rows.add((user, i, r["n_events"], dur))

    batch_rows = {
        (r["user_id"], r["session_id"], r["n_events"], r["duration_s"])
        for r in ALL_QUERIES["sessionize"].fn(spark, str(sf_dir)).collect()
    }
    assert stream_rows == batch_rows


def test_dedup_stream_drops_duplicates(spark, tmp_path):
    rows = [_event(1, 0), _event(1, 1), _event(2, 2), _event(2, 3), _event(3, 4)]
    (tmp_path / "dups.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = read_event_stream(spark, str(tmp_path))
    run_to_memory(dedup_stream(stream), "dedup_t")
    ids = sorted(r["event_id"] for r in spark.table("dedup_t").collect())
    assert ids == [1, 2, 3]


def test_parquet_sink_exactly_once_on_restart(spark, tmp_path):
    """Native file sink: restarting the drained query against the SAME
    checkpoint must add zero rows (the sink log already committed every
    batch)."""
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming import (
        stream_to_parquet,
    )

    rows = [_event(i, i) for i in range(10)]
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows))
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"

    stream_to_parquet(read_event_stream(spark, str(src)), out, ckpt)
    first = spark.read.parquet(str(out)).count()
    assert first == 10
    # restart with no new input: exactly-once means nothing is re-landed
    stream_to_parquet(read_event_stream(spark, str(src)), out, ckpt)
    assert spark.read.parquet(str(out)).count() == first


def test_hourly_rollup_appends_closed_windows_to_parquet(spark, tmp_path):
    """The deployment shape end-to-end: watermarked rollup → append-mode
    file sink.  Append emits a window only once the watermark passes its
    end, so after a far-future batch advances the watermark, hour 0's
    finalized row must be IN the parquet output exactly once."""
    import os

    from ida_ice_energy_simulation_etl_pipeline_spark.streaming import (
        hourly_rollup_stream,
        stream_to_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()
    b1 = [_event(i, 5 * i, "click", 2.0) for i in range(6)]  # hour 0
    b2 = [_event(99, 48 * 60, "view", 1.0)]  # far future → closes hour 0
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))
    now = (src / "b2.json").stat().st_mtime
    os.utime(src / "b1.json", (now - 60, now - 60))

    stream = (
        spark.readStream.schema(read_event_stream(spark, str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    rollup = hourly_rollup_stream(stream, watermark="0 seconds")
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    stream_to_parquet(rollup, out, ckpt, query_name="rollup_sink")

    rows = [
        (r["window_start"].hour, r["event_type"], r["n_events"], r["sum_value"])
        for r in spark.read.parquet(str(out)).collect()
    ]
    assert (0, "click", 6, 12.0) in rows  # hour 0 finalized exactly once
    assert len([r for r in rows if r[0] == 0 and r[1] == "click"]) == 1


def test_foreach_batch_sink_idempotent_replay(spark, tmp_path):
    """foreachBatch sink: a replayed batch id (fresh checkpoint, same
    input, same output dir) overwrites/skips instead of duplicating."""
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming import (
        stream_to_parquet_batches,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.sink import (
        idempotent_batch_writer,
    )

    rows = [_event(i, i) for i in range(8)]
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows))
    out = tmp_path / "out"

    stream_to_parquet_batches(
        read_event_stream(spark, str(src)), out, tmp_path / "ckpt1"
    )
    landed = spark.read.parquet(str(out / "batch_id=0"))
    assert landed.count() == 8

    # simulate a crash-replay: a fresh checkpoint re-delivers batch 0 to
    # the same target — the committed _SUCCESS marker makes it a no-op
    stream_to_parquet_batches(
        read_event_stream(spark, str(src)), out, tmp_path / "ckpt2"
    )
    assert spark.read.parquet(str(out / "batch_id=0")).count() == 8

    # and a half-written batch (no _SUCCESS) is atomically re-overwritten
    import shutil

    target = out / "batch_id=0"
    (target / "_SUCCESS").unlink()
    batch_df = spark.read.schema(
        read_event_stream(spark, str(src)).schema
    ).json(str(src))
    idempotent_batch_writer(out)(batch_df, 0)
    assert spark.read.parquet(str(target)).count() == 8
    assert (target / "_SUCCESS").exists()
    shutil.rmtree(str(tmp_path / "ckpt2"), ignore_errors=True)


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream interval join agrees with the batch banded range join
    on the same data, including both boundary sides."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.temporal import (
        banded_range_join,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming import (
        interval_join_stream,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.hourly import (
        EVENT_SCHEMA,
        run_to_memory,
    )

    rows = [
        {**_event(0, 0, "error", 0.0), "user_id": 1},
        {**_event(1, 30, "click", 2.0), "user_id": 1},   # inside
        {**_event(2, 60, "click", 3.0), "user_id": 1},   # exactly window end → in
        {**_event(3, 61, "click", 4.0), "user_id": 1},   # outside
        {**_event(4, 10, "click", 5.0), "user_id": 2},   # wrong user
    ]
    (tmp_path / "b.json").write_text("\n".join(json.dumps(r) for r in rows))

    stream = read_event_stream(spark, str(tmp_path))
    joined = interval_join_stream(
        stream.filter("event_type = 'error'"),
        stream.filter("event_type = 'click'"),
    )
    run_to_memory(joined, "ivj_t")
    got = sorted(
        (r.err_id, r.user_id, r.c_value) for r in spark.table("ivj_t").collect()
    )
    assert got == [(0, 1, 2.0), (0, 1, 3.0)]

    # batch twin over the identical rows
    batch = spark.read.schema(EVENT_SCHEMA).json(str(tmp_path))
    b = banded_range_join(
        batch.filter("event_type = 'error'").select(
            F.col("event_id").alias("err_id"), "user_id", F.col("ts").alias("e_ts")
        ),
        batch.filter("event_type = 'click'").select(
            "user_id", F.col("ts").alias("c_ts"), F.col("value").alias("c_value")
        ),
        on=["user_id"],
        left_ts="e_ts",
        right_ts="c_ts",
        window_us=60 * 60 * 1_000_000,
    )
    bgot = sorted((r.err_id, r.user_id, r.c_value) for r in b.collect())
    assert bgot == got


def test_corpus_ingest_stream_filters_dedups_scrubs(spark, tmp_path):
    """Streaming corpus ingest: quality filter, in-horizon exact dedup,
    PII scrub, and split assignment all apply per micro-batch; the
    surviving rows match what the batch operators would keep."""
    from ida_ice_energy_simulation_etl_pipeline_spark.corpus.pipeline import (
        CorpusConfig,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.corpus import (
        corpus_ingest_stream,
        read_document_stream,
    )

    good = (
        "the quick brown fox jumps over the lazy dog near the old oak tree "
        "while children play by the river bank every afternoon"
    )
    rows = [
        {"doc_id": 1, "text": good, "source": "s1",
         "ingest_ts": "2024-03-01T00:00:00"},
        {"doc_id": 2, "text": good, "source": "s2",          # exact dup
         "ingest_ts": "2024-03-01T00:01:00"},
        {"doc_id": 3, "text": good + " reach me at a@b.co today",
         "source": "s1", "ingest_ts": "2024-03-01T00:02:00"},
        {"doc_id": 4, "text": "tiny", "source": "s2",        # fails filter
         "ingest_ts": "2024-03-01T00:03:00"},
    ]
    ingest = tmp_path / "incoming"
    ingest.mkdir()
    (ingest / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))

    stream = corpus_ingest_stream(
        read_document_stream(spark, str(ingest)), CorpusConfig()
    )
    run_to_memory(stream, "corpus_ingest")
    got = {r["doc_id"]: r for r in spark.sql("SELECT * FROM corpus_ingest").collect()}

    assert set(got) == {1, 3}  # dup 2 dropped in-horizon, 4 filtered
    assert "a@b.co" not in got[3]["text"] and "<EMAIL>" in got[3]["text"]
    assert got[3]["pii_redactions"] == 1
    assert all(r["split"] in ("train", "val", "test") for r in got.values())


def test_corpus_ingest_dedup_state_spans_micro_batches(spark, tmp_path):
    """A duplicate arriving in a LATER micro-batch (within the watermark
    horizon) is still dropped — the dedup state is streaming state, not
    per-batch dedup."""
    from ida_ice_energy_simulation_etl_pipeline_spark.corpus.pipeline import (
        CorpusConfig,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.corpus import (
        DOC_STREAM_SCHEMA,
        corpus_ingest_stream,
    )

    good = (
        "the quick brown fox jumps over the lazy dog near the old oak tree "
        "while children play by the river bank every afternoon"
    )
    other = (
        "a completely different second document about engines and shuffles "
        "with plenty of distinct tokens to clear the quality bar easily"
    )
    ingest = tmp_path / "incoming2"
    ingest.mkdir()
    (ingest / "b1.json").write_text(
        json.dumps({"doc_id": 1, "text": good, "source": "s1",
                    "ingest_ts": "2024-03-01T00:00:00"})
    )
    (ingest / "b2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 2, "text": good, "source": "s2",  # cross-batch dup
                 "ingest_ts": "2024-03-01T00:05:00"},
                {"doc_id": 3, "text": other, "source": "s2",
                 "ingest_ts": "2024-03-01T00:06:00"},
            ]
        )
    )
    docs = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .json(str(ingest))
    )
    stream = corpus_ingest_stream(docs, CorpusConfig(scrub=False))
    run_to_memory(stream, "corpus_ingest2")
    got = sorted(
        r["doc_id"] for r in spark.sql("SELECT doc_id FROM corpus_ingest2").collect()
    )
    assert got == [1, 3]  # doc 2 deduped against batch-1 state


def test_streaming_upsert_rollup_converges_with_late_data(spark, tmp_path):
    """Update-mode rollup merged into a partitioned serving table: a late
    event re-emits its window and the MERGE replaces the stale row, so
    the table equals the batch recomputation after every drain."""
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.sink import (
        stream_upsert_rollup,
    )

    src = tmp_path / "events"
    src.mkdir()
    table = tmp_path / "serving"
    ckpt = tmp_path / "ckpt"

    def drain():
        stream = read_event_stream(spark, str(src))
        rollup = hourly_rollup_stream(stream).withColumn(
            "ds", F.to_date("window_start")
        )
        stream_upsert_rollup(
            rollup,
            table,
            ckpt,
            keys=["window_start", "event_type"],
            partition_col="ds",
        )

    rows = [_event(i, 5 * i, "click", 2.0) for i in range(6)]  # hour 0
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    drain()
    got = {
        (r["window_start"].hour, r["event_type"]): r["n_events"]
        for r in spark.read.parquet(str(table)).collect()
    }
    assert got == {(0, "click"): 6}

    # second drain: a LATE hour-0 click (within watermark) plus hour-1 views
    late = [_event(50, 10, "click", 2.0)]
    views = [_event(100 + i, 60 + 5 * i, "view", 1.0) for i in range(3)]
    (src / "b2.json").write_text(
        "\n".join(json.dumps(r) for r in late + views)
    )
    drain()
    got = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(str(table)).collect()
    }
    # hour-0 row REPLACED (6 -> 7), not duplicated; hour-1 row inserted
    assert got == {(0, "click"): (7, 14.0), (1, "view"): (3, 3.0)}
    assert spark.read.parquet(str(table)).count() == 2


def test_merge_upsert_rollup_converges_to_batch(spark, sf_dir):
    """The registry query merge_upsert_rollup (plans/analytics.py) states
    one MERGE step of stream_upsert_rollup relationally; its correctness
    claim is the streaming sink's: the merged serving state equals the
    plain batch rollup of ALL events, late ones included."""
    from ida_ice_energy_simulation_etl_pipeline_spark.plans.analytics import (
        merge_upsert_rollup,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.plans.relational import (
        hourly_event_rollup,
    )

    merged = sorted(map(tuple, merge_upsert_rollup(spark, sf_dir).collect()))
    batch = sorted(map(tuple, hourly_event_rollup(spark, sf_dir).collect()))
    assert merged == batch and len(batch) > 0


def test_funnel_stream_matches_batch(spark, tmp_path, sf_dir):
    """Replay the events fixture through the stateful streaming funnel
    and assert the emitted episode rows EXACTLY match the batch
    funnel_episodes twin, and that their earliest-episode-per-user
    collapse reproduces the batch event_funnel per-step counts — the
    watermark-finalization logic (anchor chain, step windows, timeout
    drain) must reproduce the batch semantics on real data."""
    import os
    from datetime import datetime

    from ida_ice_energy_simulation_etl_pipeline_spark.plans import ALL_QUERIES
    from ida_ice_energy_simulation_etl_pipeline_spark.plans.core import load_table
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming import (
        funnel_stream,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.hourly import (
        EVENT_SCHEMA,
    )

    in_dir = tmp_path / "in"
    ev = load_table(spark, str(sf_dir), "events").select(
        *(f.name for f in EVENT_SCHEMA.fields)
    )
    ev.coalesce(1).write.parquet(str(in_dir))
    # sentinel far past max(ts) + 2*window: every funnel finalizes
    fixture_parts = set(in_dir.glob("part-*.parquet"))
    sentinel = spark.createDataFrame(
        [(10**9, datetime(2024, 9, 1), -1, "click", 0.0, "{}")], EVENT_SCHEMA
    )
    sentinel.coalesce(1).write.mode("append").parquet(str(in_dir))
    # deterministic micro-batch order (mtime ties would be arbitrary):
    # fixture parts strictly older than the sentinel part
    sentinel_parts = set(in_dir.glob("part-*.parquet")) - fixture_parts
    parts = sorted(fixture_parts) + sorted(sentinel_parts)
    now = parts[-1].stat().st_mtime
    for i, p in enumerate(parts):
        os.utime(p, (now - 60 * (len(parts) - i), now - 60 * (len(parts) - i)))

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    run_to_memory(
        funnel_stream(stream, watermark="0 seconds"), "funnel_t"
    )
    rows = [
        r for r in spark.table("funnel_t").collect() if r["user_id"] >= 0
    ]
    # one final row per EPISODE, equal to the batch twin row-for-row
    got = sorted(
        (r["user_id"], r["t_view"], r["t_click"], r["t_purchase"], r["step"])
        for r in rows
    )
    twin = sorted(
        (r["user_id"], r["t_view"], r["t_click"], r["t_purchase"], r["step"])
        for r in ALL_QUERIES["funnel_episodes"].fn(spark, str(sf_dir)).collect()
    )
    assert got == twin
    # the earliest episode per user is the batch global-first-view row
    first = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["t_view"])):
        first.setdefault(r["user_id"], r)
    stream_counts = {
        1: len(first),
        2: sum(1 for r in first.values() if r["step"] >= 2),
        3: sum(1 for r in first.values() if r["step"] >= 3),
    }
    batch = {
        r["step_no"]: r["n_users"]
        for r in ALL_QUERIES["event_funnel"].fn(spark, str(sf_dir)).collect()
    }
    assert stream_counts == batch
    # spot-check the timestamps agree with batch semantics for one user
    for r in rows:
        if r["step"] == 3:
            assert r["t_view"] < r["t_click"] < r["t_purchase"]
            break


def test_funnel_stream_out_of_order_view_reclaims_buffered_click(
    spark, tmp_path
):
    """A click delivered BEFORE its (event-time-earlier) view must be
    buffered and claimed once the view arrives in a later micro-batch —
    the no-view-yet branch may only discard sub-watermark events."""
    import os

    from ida_ice_energy_simulation_etl_pipeline_spark.streaming import (
        funnel_stream,
    )

    # event times: view at minute 0, click at minute 30 — delivered in
    # reverse order across micro-batches, within a 2h watermark
    b1 = [_event(0, 30, "click", 1.0) | {"user_id": 7}]
    b2 = [_event(1, 0, "view", 1.0) | {"user_id": 7}]
    b3 = [_event(2, 60 * 24 * 3, "view", 0.0) | {"user_id": 999}]  # finalizer
    for i, rows in enumerate([b1, b2, b3], 1):
        (tmp_path / f"b{i}.json").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
    now = (tmp_path / "b3.json").stat().st_mtime
    for i in (1, 2, 3):
        os.utime(tmp_path / f"b{i}.json", (now - 60 * (4 - i),) * 2)

    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.hourly import (
        EVENT_SCHEMA,
    )

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path))
    )
    run_to_memory(funnel_stream(stream, watermark="2 hours"), "funnel_ooo_t")
    rows = {
        r["user_id"]: r for r in spark.table("funnel_ooo_t").collect()
    }
    assert rows[7]["step"] == 2  # the pre-delivered click was claimed
    assert rows[7]["t_click"].minute == 30


def test_funnel_stream_earlier_view_reclaims_sub_t1_click(spark, tmp_path):
    """A click BELOW the current t1 (but above the watermark) must stay
    buffered: a later micro-batch can deliver an even earlier view that
    shifts t1 left and makes the click window-eligible."""
    import os

    from ida_ice_energy_simulation_etl_pipeline_spark.streaming import (
        funnel_stream,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.hourly import (
        EVENT_SCHEMA,
    )

    # batch 1: view@100min and click@50min (click < t1 — would be lost to
    # an unguarded lower-bound prune); batch 2: earlier view@10min shifts
    # t1 so the click lands in (t1, t1+W]; batch 3: far-future finalizer
    b1 = [
        _event(0, 100, "view", 1.0) | {"user_id": 7},
        _event(1, 50, "click", 1.0) | {"user_id": 7},
    ]
    b2 = [_event(2, 10, "view", 1.0) | {"user_id": 7}]
    b3 = [_event(3, 60 * 24 * 3, "view", 0.0) | {"user_id": 999}]
    for i, rows in enumerate([b1, b2, b3], 1):
        (tmp_path / f"b{i}.json").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
    now = (tmp_path / "b3.json").stat().st_mtime
    for i in (1, 2, 3):
        os.utime(tmp_path / f"b{i}.json", (now - 60 * (4 - i),) * 2)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path))
    )
    run_to_memory(funnel_stream(stream, watermark="2 hours"), "funnel_shift_t")
    rows = {r["user_id"]: r for r in spark.table("funnel_shift_t").collect()}
    assert rows[7]["step"] == 2
    assert rows[7]["t_view"].minute == 10
    assert rows[7]["t_click"].minute == 50


def test_funnel_stream_episode_semantics_match_batch_twin(spark, tmp_path):
    """A feed with ≥2W-resumption activity, delivered in event-time order
    so the watermark finalizes each episode before the next one's events
    arrive, must emit one row PER EPISODE — and those rows must equal the
    funnel_episodes batch twin (plans/analytics.py) on the same data.
    This is the regime where streaming and batch event_funnel diverge
    (stream: one row per episode; batch global report: one per user), so
    the twin is the only batch surface that can verify it."""
    import os

    from ida_ice_energy_simulation_etl_pipeline_spark.plans import ALL_QUERIES
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming import (
        funnel_stream,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.hourly import (
        EVENT_SCHEMA,
    )

    # W = 24 h = 1440 min; resumption horizon 2W = 2880 min.
    feed = [
        # u7 episode 1: full conversion
        _event(1, 0, "view", 1.0) | {"user_id": 7},
        # u8 episode 1: second view INSIDE the horizon is not an anchor,
        # and its nearby click is outside (t1, t1+W] — step stays 1
        _event(2, 0, "view", 1.0) | {"user_id": 8},
        _event(3, 300, "click", 1.0) | {"user_id": 7},
        _event(4, 1200, "purchase", 1.0) | {"user_id": 7},
        _event(5, 1800, "view", 1.0) | {"user_id": 8},
        _event(6, 1860, "click", 1.0) | {"user_id": 8},
        # u8 episode 2: view past the 2W horizon anchors a new episode;
        # a purchase without a click stays step 1
        _event(7, 3000, "view", 1.0) | {"user_id": 8},
        _event(8, 3060, "purchase", 1.0) | {"user_id": 8},
        # u7 episode 2: click in window, purchase outside → step 2
        _event(9, 3600, "view", 1.0) | {"user_id": 7},
        _event(10, 3660, "click", 1.0) | {"user_id": 7},
        _event(11, 7200, "purchase", 1.0) | {"user_id": 7},
        # far-future finalizer for everything above
        _event(12, 20000, "view", 0.0) | {"user_id": 999},
    ]
    for i, row in enumerate(feed):
        (tmp_path / f"f{i:02d}.json").write_text(json.dumps(row))
    files = sorted(tmp_path.glob("f*.json"))
    now = files[-1].stat().st_mtime
    for i, p in enumerate(files):
        os.utime(p, (now - 60 * (len(files) - i),) * 2)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path))
    )
    run_to_memory(funnel_stream(stream, watermark="0 seconds"), "funnel_ep_t")
    got = {
        (r["user_id"], r["t_view"]): (r["step"], r["t_click"], r["t_purchase"])
        for r in spark.table("funnel_ep_t").collect()
        if r["user_id"] in (7, 8)
    }

    # batch twin over the identical events (u999 included there; the
    # stream never finalizes it — nothing arrives after its horizon)
    sf = tmp_path / "sf"
    (
        spark.read.schema(EVENT_SCHEMA)
        .json(str(tmp_path))
        .write.parquet(str(sf / "events.parquet"))
    )
    twin = {
        (r["user_id"], r["t_view"]): (r["step"], r["t_click"], r["t_purchase"])
        for r in ALL_QUERIES["funnel_episodes"].fn(spark, str(sf)).collect()
        if r["user_id"] in (7, 8)
    }
    assert got == twin
    assert len(got) == 4  # two episodes per user
    steps = {k[0]: sorted(v[0] for kk, v in got.items() if kk[0] == k[0]) for k in got}
    assert steps[7] == [2, 3] and steps[8] == [1, 1]


def test_funnel_stream_state_survives_checkpointed_restart(spark, tmp_path):
    """Stop the funnel query mid-funnel, add the finalizing batch, and
    RESTART from the same checkpoint: the open funnel state (view +
    buffered click) must be recovered and emit exactly one final row —
    the operational property of applyInPandasWithState recovery."""
    import os

    from ida_ice_energy_simulation_etl_pipeline_spark.streaming import (
        funnel_stream,
        stream_to_parquet,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.hourly import (
        EVENT_SCHEMA,
    )

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"

    def drain():
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        funnel = funnel_stream(stream, watermark="0 seconds")
        stream_to_parquet(funnel, out, ckpt, query_name="funnel_sink")

    # run 1: view then click arrive; funnel stays OPEN in state
    b1 = [
        _event(0, 0, "view", 1.0) | {"user_id": 3},
        _event(1, 30, "click", 1.0) | {"user_id": 3},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    drain()
    assert spark.read.schema(
        "user_id long, t_view timestamp, t_click timestamp, "
        "t_purchase timestamp, step long"
    ).parquet(str(out)).count() == 0  # nothing finalized yet

    # run 2 (restarted from checkpoint): far-future batch fires the timeout
    b2 = [_event(2, 60 * 24 * 5, "view", 0.0) | {"user_id": 999}]
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))
    now = (src / "b2.json").stat().st_mtime
    os.utime(src / "b1.json", (now - 60, now - 60))
    drain()
    rows = [
        r
        for r in spark.read.parquet(str(out)).collect()
        if r["user_id"] == 3
    ]
    assert len(rows) == 1  # recovered state finalized exactly once
    assert rows[0]["step"] == 2 and rows[0]["t_click"].minute == 30


def test_enriched_rollup_stream_matches_batch(spark, tmp_path):
    """Stream-static enrichment join + windowed rollup equals the batch
    join+groupBy over the same rows — the serving-layer dim-enrichment
    shape (static side holds no stream state)."""
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming import (
        enriched_rollup_stream,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.hourly import (
        EVENT_SCHEMA,
        run_to_memory,
    )

    rows = [
        *(_event(i, 5 * i, "click", 2.0) for i in range(12)),
        *(_event(100 + i, 60 + 5 * i, "view", 1.0) for i in range(6)),
    ]
    (tmp_path / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    dim = spark.createDataFrame(
        [(u, "gold" if u % 2 == 0 else "basic") for u in range(7)],
        ["user_id", "segment"],
    )
    stream = read_event_stream(spark, str(tmp_path))
    run_to_memory(
        enriched_rollup_stream(stream, dim), "enr_t", output_mode="complete"
    )
    got = sorted(
        (r.window_start.hour, r.segment, r.n_events, r.sum_value)
        for r in spark.table("enr_t").collect()
    )
    batch = spark.read.schema(EVENT_SCHEMA).json(str(tmp_path))
    expect = sorted(
        (r.window_start.hour, r.segment, r.n_events, r.sum_value)
        for r in batch.join(dim, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("win"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "segment",
            "n_events",
            "sum_value",
        )
        .collect()
    )
    assert got == expect and len(got) >= 4


def _write_alert_batches(ingest):
    ingest.mkdir()
    (ingest / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"user_id": 1, "ts": "2024-03-01T00:00:00", "event_id": 1, "value": 10.0},
                {"user_id": 1, "ts": "2024-03-01T00:01:00", "event_id": 2, "value": 95.0},
            ]
        )
    )
    (ingest / "b2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                # still above threshold: NO new row (state remembered)
                {"user_id": 1, "ts": "2024-03-01T00:02:00", "event_id": 3, "value": 96.0},
                # recovery: one ALERT -> OK row
                {"user_id": 1, "ts": "2024-03-01T00:03:00", "event_id": 4, "value": 20.0},
                # fresh key crossing up in its first observed event
                {"user_id": 2, "ts": "2024-03-01T00:02:30", "event_id": 5, "value": 99.0},
            ]
        )
    )


ALERT_EVENT_SCHEMA = "user_id bigint, ts timestamp, event_id bigint, value double"

EXPECTED_ALERT_TRANSITIONS = {
    (1, "ALERT", "OK"): 95.0,
    (1, "OK", "ALERT"): 20.0,
    (2, "ALERT", "OK"): 99.0,
}


def test_threshold_alert_transitions_span_micro_batches(spark, tmp_path):
    """Transition-only alerting (applyInPandasWithState path): only level
    TRANSITIONS are emitted, and the remembered level survives
    micro-batch boundaries — a still-high reading in batch 2 stays
    silent, recovery emits exactly one ALERT→OK row."""
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.alerts import (
        threshold_alert_stream,
    )

    ingest = tmp_path / "alerts_in"
    _write_alert_batches(ingest)
    events = (
        spark.readStream.schema(ALERT_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(ingest))
    )
    run_to_memory(threshold_alert_stream(events), "alerts_t")
    rows = {
        (r["user_id"], r["level"], r["prev_level"]): r["value"]
        for r in spark.sql("SELECT * FROM alerts_t").collect()
    }
    assert rows == EXPECTED_ALERT_TRANSITIONS


def test_alert_transitions_batch_twin_matches_stream(spark, tmp_path):
    """The registry query alert_transitions (plans/analytics.py) states
    the SAME semantics relationally: the streaming run over micro-batched
    files and the batch lag-window over the union of those files emit
    identical transition sets — the stream==batch parity that earns the
    streaming operator its driver CORRECTNESS row."""
    from ida_ice_energy_simulation_etl_pipeline_spark.plans.analytics import (
        alert_transitions_frame,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.alerts import (
        ALERT_THRESHOLD,
        threshold_alert_stream,
    )

    ingest = tmp_path / "alerts_in_twin"
    _write_alert_batches(ingest)
    events = (
        spark.readStream.schema(ALERT_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(ingest))
    )
    run_to_memory(threshold_alert_stream(events), "alerts_twin_t")
    streamed = sorted(
        (r["user_id"], r["ts"], r["value"], r["level"], r["prev_level"])
        for r in spark.sql("SELECT * FROM alerts_twin_t").collect()
    )
    batch = spark.read.schema(ALERT_EVENT_SCHEMA).json(str(ingest))
    batched = sorted(
        (r["user_id"], r["ts"], r["value"], r["level"], r["prev_level"])
        for r in alert_transitions_frame(batch, ALERT_THRESHOLD).collect()
    )
    assert streamed == batched and len(batched) == 3


def test_threshold_alert_sorts_across_arrow_chunks(spark, tmp_path):
    """A key's micro-batch spanning multiple Arrow chunks must be sorted
    GLOBALLY by (ts, event_id) before classification — chunk-local sort
    would classify an out-of-order later chunk against the wrong running
    level and emit spurious transitions."""
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.alerts import (
        threshold_alert_stream,
    )

    ingest = tmp_path / "alerts_chunks"
    ingest.mkdir()
    # ONE file (one micro-batch), events written ts-DESC so tiny Arrow
    # chunks deliver later timestamps first
    rows = [
        {"user_id": 1, "ts": "2024-03-01T00:04:00", "event_id": 5, "value": 10.0},
        {"user_id": 1, "ts": "2024-03-01T00:03:00", "event_id": 4, "value": 95.0},
        {"user_id": 1, "ts": "2024-03-01T00:02:00", "event_id": 3, "value": 97.0},
        {"user_id": 1, "ts": "2024-03-01T00:01:00", "event_id": 2, "value": 96.0},
        {"user_id": 1, "ts": "2024-03-01T00:00:00", "event_id": 1, "value": 5.0},
    ]
    (ingest / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        events = spark.readStream.schema(ALERT_EVENT_SCHEMA).json(str(ingest))
        run_to_memory(threshold_alert_stream(events), "alerts_chunked_t")
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = sorted(
        (str(r["ts"]), r["prev_level"], r["level"])
        for r in spark.sql("SELECT * FROM alerts_chunked_t").collect()
    )
    # time order: 5(OK) 96(ALERT) 97 95 10(OK): exactly two transitions
    assert got == [
        ("2024-03-01 00:01:00", "OK", "ALERT"),
        ("2024-03-01 00:04:00", "ALERT", "OK"),
    ]


def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """Stream-static incremental dedup: two micro-batches of incoming
    docs probed per-epoch against a static index produce EXACTLY the
    flags the batch probe computes over the union — per-doc flags
    depend only on (doc, index), so micro-batching is loss-free."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.dedup import (
        incremental_flags,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.corpus import (
        DOC_STREAM_SCHEMA,
        run_incremental_dedup_stream,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the old oak "
        "tree while children play by the river bank every afternoon"
    )
    other = (
        "a completely different second document about engines and "
        "shuffles with plenty of distinct tokens to clear the bar"
    )
    index_rows = [(100, base, "idx"), (101, other, "idx")]
    index = spark.createDataFrame(
        index_rows, "doc_id long, text string, source string"
    )
    incoming = [
        {"doc_id": 1, "text": base, "source": "s1",            # exact dup
         "ingest_ts": "2024-03-01T00:00:00"},
        {"doc_id": 2, "text": base + " extra tail words here", # near dup
         "source": "s1", "ingest_ts": "2024-03-01T00:01:00"},
        {"doc_id": 3, "text": "totally novel content with many unique "
         "tokens nothing shares any shingle with this document at all "
         "zebra quartz fjord", "source": "s2",
         "ingest_ts": "2024-03-01T00:02:00"},
    ]
    ingest = tmp_path / "incr_in"
    ingest.mkdir()
    (ingest / "b1.json").write_text(json.dumps(incoming[0]))
    (ingest / "b2.json").write_text(
        "\n".join(json.dumps(r) for r in incoming[1:])
    )
    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(ingest))
    )
    out = tmp_path / "incr_out"
    q = run_incremental_dedup_stream(
        stream, index, str(out), str(tmp_path / "incr_ckpt")
    )
    q.awaitTermination()

    got = {
        r["doc_id"]: (r["exact_dup"], r["n_near_index"], r["is_new"])
        for r in spark.read.parquet(str(out)).collect()
    }
    batch_in = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in incoming], "doc_id long, text string"
    )
    want = {
        r["doc_id"]: (r["exact_dup"], r["n_near_index"], r["is_new"])
        for r in incremental_flags(batch_in, index).collect()
    }
    assert got == want
    assert got[1][0] == 1 and got[1][2] == 0   # exact dup of index
    assert got[2][1] >= 1 and got[2][2] == 0   # near dup via LSH bands
    assert got[3] == (0, 0, 1)                 # genuinely new


def test_corpus_drift_stream_flags_and_matches_batch(spark, tmp_path):
    """Streaming drift monitor: (a) the windowed stats + baseline
    enrichment flag a source whose token mix moved and pass a stable
    one; (b) the streaming result EQUALS the batch result of the SAME
    corpus_drift_frame builder — one definition, twin parity."""
    import json as _json

    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.corpus import (
        corpus_drift_frame,
        corpus_drift_stream,
        read_document_stream,
        source_baseline_frame,
    )

    # Baseline snapshot: s1 and s2 both average 6 tokens/doc with one
    # stopword ('the') per doc.
    base_docs = spark.createDataFrame(
        [
            ("the alpha beta gamma delta epsilon", "s1"),
            ("the zeta eta theta iota kappa", "s1"),
            ("the one two three four five", "s2"),
            ("the six seven eight nine ten", "s2"),
        ],
        ["text", "source"],
    )
    baseline = source_baseline_frame(base_docs)

    # Live window: s1 stays at 6 tokens; s2 drifts to 12-token docs with
    # zero stopwords.
    drifted = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    rows = [
        {"doc_id": 1, "text": "the alpha beta gamma delta epsilon",
         "source": "s1", "ingest_ts": "2024-03-01T00:00:10"},
        {"doc_id": 2, "text": "the zeta eta theta iota kappa",
         "source": "s1", "ingest_ts": "2024-03-01T00:01:10"},
        {"doc_id": 3, "text": drifted, "source": "s2",
         "ingest_ts": "2024-03-01T00:02:10"},
        {"doc_id": 4, "text": drifted, "source": "s2",
         "ingest_ts": "2024-03-01T00:03:10"},
    ]
    ingest = tmp_path / "drift_in"
    ingest.mkdir()
    (ingest / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))

    stream = corpus_drift_stream(
        read_document_stream(spark, str(ingest)), baseline
    )
    # complete mode: windows emit as they fill (production append mode
    # emits on watermark close; the frame is identical either way)
    run_to_memory(stream, "drift_t", output_mode="complete")
    got = {
        r["source"]: r for r in spark.sql("SELECT * FROM drift_t").collect()
    }
    assert set(got) == {"s1", "s2"}
    assert not got["s1"]["tokens_drifted"] and not got["s1"]["stopwords_drifted"]
    assert got["s2"]["tokens_drifted"] and got["s2"]["stopwords_drifted"]
    assert got["s1"]["n_docs"] == 2 and got["s2"]["n_docs"] == 2

    # twin parity: the SAME rows through the SAME builder, batch-side
    batch_docs = spark.createDataFrame(
        [
            (r["doc_id"], r["text"], r["source"], r["ingest_ts"])
            for r in rows
        ],
        ["doc_id", "text", "source", "ingest_ts"],
    ).withColumn("ingest_ts", F.to_timestamp("ingest_ts"))
    batch_rows = sorted(
        map(tuple, corpus_drift_frame(batch_docs, baseline).collect())
    )
    stream_rows = sorted(
        map(tuple, spark.sql("SELECT * FROM drift_t").collect())
    )
    assert stream_rows == batch_rows


def test_corpus_drift_stream_js_divergence_matches_batch(spark, tmp_path):
    """The vocab-armed drift monitor: per-window Jensen-Shannon
    divergence against the static baseline distribution (closed-form
    'other' bucket) — a source whose unigram MIX moved flags
    dist_drifted even with stable token counts, a stable source reads
    ~0; and the streaming rows EQUAL the batch rows of the SAME
    corpus_drift_frame builder including the JS column."""
    import json as _json
    import math

    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.corpus import (
        corpus_drift_frame,
        corpus_drift_stream,
        drift_vocab,
        read_document_stream,
        source_baseline_frame,
    )

    # Baseline: both sources speak 6-token docs over {alpha..kappa}.
    base_docs = spark.createDataFrame(
        [
            ("the alpha beta gamma delta epsilon", "s1"),
            ("the zeta eta theta iota kappa", "s1"),
            ("the alpha beta gamma delta epsilon", "s2"),
            ("the zeta eta theta iota kappa", "s2"),
        ],
        ["text", "source"],
    )
    vocab = drift_vocab(base_docs, top_v=8)
    assert "the" in vocab and len(vocab) == 8
    baseline = source_baseline_frame(base_docs, vocab)
    assert "base_probs" in baseline.columns

    # Live: s1 repeats the baseline mix exactly (JS = 0); s2 keeps the
    # SAME doc length (token-count drift stays quiet) but swaps the
    # vocabulary for out-of-baseline words (distribution drift).
    rows = [
        {"doc_id": 1, "text": "the alpha beta gamma delta epsilon",
         "source": "s1", "ingest_ts": "2024-03-01T00:00:10"},
        {"doc_id": 2, "text": "the zeta eta theta iota kappa",
         "source": "s1", "ingest_ts": "2024-03-01T00:01:10"},
        {"doc_id": 3, "text": "the nu xi omicron pi rho",
         "source": "s2", "ingest_ts": "2024-03-01T00:02:10"},
        {"doc_id": 4, "text": "the sigma tau upsilon phi chi",
         "source": "s2", "ingest_ts": "2024-03-01T00:03:10"},
    ]
    ingest = tmp_path / "drift_js_in"
    ingest.mkdir()
    (ingest / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))

    stream = corpus_drift_stream(
        read_document_stream(spark, str(ingest)), baseline, vocab=vocab
    )
    run_to_memory(stream, "drift_js_t", output_mode="complete")
    got = {
        r["source"]: r
        for r in spark.sql("SELECT * FROM drift_js_t").collect()
    }
    assert set(got) == {"s1", "s2"}
    # s1: identical mix → zero divergence, no flags
    assert got["s1"]["js_divergence"] == 0.0
    assert not got["s1"]["dist_drifted"]
    assert not got["s1"]["tokens_drifted"]
    # s2: same length (no token drift) but the mix moved
    assert not got["s2"]["tokens_drifted"]
    assert got["s2"]["dist_drifted"]
    assert 0.0 < got["s2"]["js_divergence"] <= math.log(2) + 1e-9
    # per-window vocab entropy (r12): bounded by ln(V+1); s1 speaks 11
    # distinct outcomes of the tracked 8+other, s2 concentrates all
    # non-'the' mass in the other bucket → strictly lower entropy
    for r in got.values():
        assert 0.0 < r["vocab_entropy"] <= math.log(len(vocab) + 1) + 1e-9
    assert got["s2"]["vocab_entropy"] < got["s1"]["vocab_entropy"]
    # per-window burstiness (r13, health-panel member #5's streaming
    # twin): every tracked token in this fixture appears exactly once
    # per containing doc, so mean tf/df is exactly 1.0 in both windows
    # — the unstamped floor the boilerplate test below moves off
    assert got["s1"]["vocab_burstiness"] == 1.0
    assert got["s2"]["vocab_burstiness"] == 1.0
    # twin parity including the JS column, through the SAME builder
    batch_docs = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["source"], r["ingest_ts"]) for r in rows],
        ["doc_id", "text", "source", "ingest_ts"],
    ).withColumn("ingest_ts", F.to_timestamp("ingest_ts"))
    batch_rows = sorted(
        map(
            tuple,
            corpus_drift_frame(batch_docs, baseline, vocab=vocab).collect(),
        )
    )
    stream_rows = sorted(
        map(tuple, spark.sql("SELECT * FROM drift_js_t").collect())
    )
    assert stream_rows == batch_rows


def test_corpus_drift_burstiness_arm_flags_stamped_boilerplate(spark):
    """The burstiness arm's reason to exist: a live window whose docs
    carry a tracked token STAMPED several times each (injected
    boilerplate) reads mean tf/df > 1 while token-count/JS arms can
    stay quiet if lengths and mix otherwise hold; a window with no
    tracked token reads NULL rather than 0."""
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.corpus import (
        corpus_drift_frame,
        drift_vocab,
        source_baseline_frame,
    )

    base_docs = spark.createDataFrame(
        [("alpha beta gamma", "s1"), ("alpha delta epsilon", "s1")],
        ["text", "source"],
    )
    vocab = drift_vocab(base_docs, top_v=2)
    assert vocab == ["alpha", "beta"]  # count desc, token asc
    baseline = source_baseline_frame(base_docs, vocab)
    live = spark.createDataFrame(
        [
            # 'alpha' stamped 3x per doc: tf=6, df=2 -> tf/df = 3;
            # 'beta' appears once in one doc -> tf/df = 1; window mean
            # over the present tracked tokens = (3 + 1) / 2 = 2
            (1, "alpha alpha alpha beta gamma", "s1",
             "2024-03-01T00:00:10"),
            (2, "alpha alpha alpha delta epsilon", "s1",
             "2024-03-01T00:01:10"),
        ],
        ["doc_id", "text", "source", "ingest_ts"],
    ).withColumn("ingest_ts", F.to_timestamp("ingest_ts"))
    row = corpus_drift_frame(live, baseline, vocab=vocab).collect()[0]
    assert row["vocab_burstiness"] == 2.0

    # no tracked token in the window -> NULL, not 0
    blank = spark.createDataFrame(
        [(3, "zeta eta theta", "s1", "2024-03-01T00:02:10")],
        ["doc_id", "text", "source", "ingest_ts"],
    ).withColumn("ingest_ts", F.to_timestamp("ingest_ts"))
    row2 = corpus_drift_frame(blank, baseline, vocab=vocab).collect()[0]
    assert row2["vocab_burstiness"] is None


def test_decontamination_stream_matches_batch(spark, tmp_path):
    """Streaming eval-set protection: micro-batched winnow probes
    against a static eval index produce EXACTLY the per-doc flags the
    batch criterion (winnow_contamination's shared-fingerprint rule,
    via decontamination_flags) computes over the union — verdicts
    depend only on (doc, eval index), so micro-batching is loss-free."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        decon_eval_index,
        decontamination_flags,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.corpus import (
        DOC_STREAM_SCHEMA,
        run_decontamination_stream,
    )

    leak = " ".join(f"zeta{i}" for i in range(12))  # >= w+k-1 = 8 run
    eval_docs = spark.createDataFrame(
        [(900, "the answer key is " + leak, "eval")],
        "doc_id long, text string, source string",
    )
    incoming = [
        {"doc_id": 1, "text": "the cat sat on the mat and then " + leak,
         "source": "s1", "ingest_ts": "2024-03-01T00:00:00"},  # contaminated
        {"doc_id": 2, "text": "the cat sat on the mat and then some "
         "other tail words entirely", "source": "s1",
         "ingest_ts": "2024-03-01T00:01:00"},                  # clean
        {"doc_id": 3, "text": "too short for one window", "source": "s2",
         "ingest_ts": "2024-03-01T00:02:00"},                  # no fps
    ]
    ingest = tmp_path / "decon_in"
    ingest.mkdir()
    (ingest / "b1.json").write_text(json.dumps(incoming[0]))
    (ingest / "b2.json").write_text(
        "\n".join(json.dumps(r) for r in incoming[1:])
    )
    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(ingest))
    )
    out = tmp_path / "decon_out"
    q = run_decontamination_stream(
        stream, eval_docs, str(out), str(tmp_path / "decon_ckpt")
    )
    q.awaitTermination()

    got = {
        r["doc_id"]: (r["source"], r["contaminated"])
        for r in spark.read.parquet(str(out)).collect()
    }
    # batch twin over the union of all micro-batches, same criterion
    union = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["source"]) for r in incoming],
        "doc_id long, text string, source string",
    )
    want = {
        r["doc_id"]: (r["source"], r["contaminated"])
        for r in decontamination_flags(
            union, decon_eval_index(eval_docs, "winnow"), "winnow"
        ).collect()
    }
    assert got == want
    assert got[1] == ("s1", True)
    assert got[2] == ("s1", False)
    assert got[3] == ("s2", False)


def test_eval_leak_stream_counters_accumulate_to_batch(spark, tmp_path):
    """Streaming eval-leak monitor (r14, the --leak-report twin):
    single-batch drain equals the batch operator EXACTLY, and across
    micro-batches the additive counters (n_train_docs, n_hits) sum to
    the batch operator over the union — a train doc lives in exactly
    one micro-batch, so its distinct contribution never double-counts."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        eval_leak_profile_frame,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.corpus import (
        DOC_STREAM_SCHEMA,
        run_eval_leak_stream,
    )

    leak_a = " ".join(f"iota{i}" for i in range(12))
    leak_b = " ".join(f"kappa{i}" for i in range(12))
    eval_docs = spark.createDataFrame(
        [(900, "the answer key is " + leak_a, "eval"),
         (901, "the second benchmark item says " + leak_b, "eval"),
         (902, "a fully clean benchmark question with fresh words", "eval")],
        "doc_id long, text string, source string",
    )
    incoming = [
        {"doc_id": 1, "text": "the cat sat on the mat and then " + leak_a,
         "source": "s1", "ingest_ts": "2024-03-01T00:00:00"},
        {"doc_id": 2, "text": "another training doc quoting " + leak_a,
         "source": "s1", "ingest_ts": "2024-03-01T00:01:00"},
        {"doc_id": 3, "text": "this one instead carries " + leak_b,
         "source": "s2", "ingest_ts": "2024-03-01T00:02:00"},
        {"doc_id": 4, "text": "a clean training doc with its own words only",
         "source": "s2", "ingest_ts": "2024-03-01T00:03:00"},
    ]
    ingest = tmp_path / "leak_in"
    ingest.mkdir()
    # two micro-batches splitting the leak-a quoters apart
    (ingest / "b1.json").write_text(
        "\n".join(json.dumps(r) for r in incoming[:2])
    )
    (ingest / "b2.json").write_text(
        "\n".join(json.dumps(r) for r in incoming[2:])
    )
    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(ingest))
    )
    out = tmp_path / "leak_out"
    q = run_eval_leak_stream(
        stream, eval_docs, str(out), str(tmp_path / "leak_ckpt")
    )
    q.awaitTermination()

    landed = spark.read.parquet(str(out)).collect()
    # every epoch reports the full eval universe (explicit zeros)
    assert {r["eval_doc_id"] for r in landed} == {900, 901, 902}
    got: dict[int, list[int]] = {}
    for r in landed:
        acc = got.setdefault(r["eval_doc_id"], [0, 0])
        acc[0] += r["n_train_docs"]
        acc[1] += r["n_hits"]
    union = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in incoming],
        "doc_id long, text string",
    )
    want = {
        r["eval_doc_id"]: [r["n_train_docs"], r["n_hits"]]
        for r in eval_leak_profile_frame(
            union, eval_docs.select("doc_id", "text")
        ).collect()
    }
    assert got == want
    assert got[900][0] == 2  # both leak-a quoters, one per micro-batch
    assert got[901][0] == 1
    assert got[902] == [0, 0]


def test_corpus_ingest_stream_gopher_gate_applies(spark, tmp_path):
    """gopher_gate flows into the streaming ingest twin through the SAME
    _keep_pred definition the batch pipeline filters on: a symbol-heavy
    doc that passes the base filter is dropped in-stream when the gate
    is armed, and kept when it is not."""
    from ida_ice_energy_simulation_etl_pipeline_spark.corpus.pipeline import (
        CorpusConfig,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.streaming.corpus import (
        corpus_ingest_stream,
        read_document_stream,
    )

    clean = (
        "the quick brown fox jumps over the lazy dog near the old oak tree "
        "while children play by the river bank every afternoon"
    )
    symbolic = clean + " #tag1 #tag2 #tag3"  # >10% symbol words
    rows = [
        {"doc_id": 1, "text": clean, "source": "s1",
         "ingest_ts": "2024-03-01T00:00:00"},
        {"doc_id": 2, "text": symbolic, "source": "s2",
         "ingest_ts": "2024-03-01T00:01:00"},
    ]
    ingest = tmp_path / "incoming_g"
    ingest.mkdir()
    (ingest / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))

    gated = corpus_ingest_stream(
        read_document_stream(spark, str(ingest)),
        CorpusConfig(gopher_gate=True, scrub=False),
    )
    run_to_memory(gated, "ingest_gopher_on")
    assert {
        r["doc_id"]
        for r in spark.sql("SELECT * FROM ingest_gopher_on").collect()
    } == {1}

    open_stream = corpus_ingest_stream(
        read_document_stream(spark, str(ingest)),
        CorpusConfig(scrub=False),
    )
    run_to_memory(open_stream, "ingest_gopher_off")
    assert {
        r["doc_id"]
        for r in spark.sql("SELECT * FROM ingest_gopher_off").collect()
    } == {1, 2}
