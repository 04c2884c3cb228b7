"""End-to-end tests for the composed corpus pipeline — planted
duplicates, planted PII, packing arithmetic, and the publish gate."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ida_ice_energy_simulation_etl_pipeline_spark.corpus import (
    CorpusConfig,
    run_corpus_pipeline,
)
from ida_ice_energy_simulation_etl_pipeline_spark.corpus.pipeline import (
    CorpusGateError,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the old oak tree"
)
OTHER = (
    "completely different text about query engines shuffles partitions "
    "joins aggregates windows and the optimizer that plans them well"
)


@pytest.fixture()
def corpus_input(spark, tmp_path):
    rows = [
        (0, BASE, "src0"),
        (1, BASE, "src1"),  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy"), "src0"),  # near dup of 0
        (3, OTHER + " reach me at someone@example.org today", "src1"),
        (4, OTHER.replace("joins", "merges") + " extra tail words here", "src2"),
        (5, "tiny", "src2"),  # fails min_tokens
        (6, "der hund und die katze und der vogel und das haus und der baum und das auto", "src0"),  # de
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    return path


def test_corpus_pipeline_end_to_end(spark, corpus_input, tmp_path):
    out = tmp_path / "out"
    manifest = run_corpus_pipeline(
        spark, corpus_input, out, CorpusConfig(pack_budget=16)
    )
    st = manifest["stages"]
    # 7 raw; doc 5 (too short) and doc 6 (German) filtered; exact dedup
    # folds 0/1; near dedup folds 2 into 0's cluster (and 4 stays: its
    # text legitimately differs).
    assert st["n_raw"] == 7
    assert st["n_filtered"] == 5
    assert st["n_exact_deduped"] == 4
    assert st["n_written"] <= 4 and st["n_written"] >= 3
    assert manifest["gate"] == {
        "counts_monotonic": True,
        "no_duplicate_hashes": True,
        "splits_valid": True,
        "nonempty": True,
    }

    landed = spark.read.parquet(str(out / "corpus"))
    rows = {r["doc_id"]: r for r in landed.collect()}
    assert 0 in rows and 1 not in rows  # exact dup dropped, min id kept
    assert 2 not in rows  # near dup dropped
    # PII scrubbed in the surviving text
    assert 3 in rows and "someone@example.org" not in rows[3]["text"]
    assert "<EMAIL>" in rows[3]["text"]
    assert rows[3]["pii_redactions"] == 1
    # packing: chunk_id = floor(tokens_before/budget), per source shard
    for r in rows.values():
        assert r["chunk_id"] >= 0 and r["n_tokens"] > 0
    # manifest persisted and equals the returned dict
    on_disk = json.loads((out / "corpus_manifest.json").read_text())
    assert on_disk == manifest


def test_corpus_span_scrub_stage_excises_unaligned_boilerplate(spark, tmp_path):
    """--span-scrub removes a passage repeated at DIFFERENT offsets (which
    block-aligned passage dedup misses) from every occurrence; a doc left
    with zero tokens exits the corpus."""
    boiler = " ".join(f"b{i}" for i in range(10))
    tail_a = " ".join(f"alpha{i}" for i in range(12))
    tail_b = " ".join(f"beta{i}" for i in range(12))
    rows = [
        (0, boiler + " " + tail_a, "src0"),
        (1, "pre1 pre2 pre3 " + boiler + " " + tail_b, "src1"),
        (2, OTHER, "src2"),
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out",
        CorpusConfig(near_dedup=False, scrub=False, span_scrub=True, min_ttr=0.0),
    )
    landed = spark.read.parquet(manifest["output"])
    texts = {r["doc_id"]: r["text"] for r in landed.collect()}
    assert "b0" not in texts[0] and texts[0].endswith(tail_a)
    assert "b0" not in texts[1] and texts[1].startswith("pre1 pre2 pre3")
    assert texts[2] == OTHER  # untouched
    assert manifest["config"]["span_scrub"] is True


def test_corpus_semantic_dedup_stage_drops_semantic_twin(spark, tmp_path):
    """--semantic-dedup (over --embed vectors) drops one member of a
    high-cosine pair that EXACT dedup cannot see (texts differ)."""
    near = BASE.replace("lazy", "sleepy")  # token overlap ~ all but one
    rows = [
        (0, BASE, "src0"),
        (1, near, "src1"),
        (2, OTHER, "src2"),
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out",
        CorpusConfig(
            near_dedup=False,
            scrub=False,
            embed=True,
            semantic_dedup=True,
            semantic_clusters=1,  # k << n; k >= n is singleton cells
        ),
    )
    landed = spark.read.parquet(manifest["output"])
    ids = {r["doc_id"] for r in landed.select("doc_id").collect()}
    assert 2 in ids  # unrelated doc survives
    assert len(ids & {0, 1}) == 1  # exactly one of the semantic twins
    # embed still lands ANN-ready vectors for the survivors
    assert all(
        r["embedding"] is not None for r in landed.select("embedding").collect()
    )


def test_corpus_semantic_dedup_requires_embed(spark, corpus_input, tmp_path):
    with pytest.raises(ValueError, match="embed"):
        run_corpus_pipeline(
            spark,
            corpus_input,
            tmp_path / "x",
            CorpusConfig(semantic_dedup=True),
        )


def test_corpus_pipeline_jsonl_in_jsonl_out(spark, tmp_path):
    """JSONL at both ends: explicit-schema read (bare {"text": ...}
    records tolerated, content-addressed ids derived), split-partitioned
    JSONL landing readable back with the written schema."""
    import json as _json

    src = tmp_path / "docs.jsonl"
    lines = [
        _json.dumps({"doc_id": 0, "text": BASE, "source": "src0"}),
        _json.dumps({"doc_id": 1, "text": BASE, "source": "src1"}),  # exact dup
        _json.dumps({"text": OTHER}),  # bare record: no id/lang/source/n_chars
        _json.dumps({"doc_id": 4, "text": "tiny"}),  # fails min_tokens
        '{"doc_id": 5, "text": "unterminated',  # corrupt line: PERMISSIVE
        # read nulls every field; the filter stage owns the drop
    ]
    src.write_text("\n".join(lines) + "\n")
    out = tmp_path / "out_jsonl"
    manifest = run_corpus_pipeline(
        spark,
        src,
        out,
        CorpusConfig(
            near_dedup=False, input_format="jsonl", output_format="jsonl"
        ),
    )
    assert manifest["gate"]["nonempty"] is True
    assert manifest["stages"]["n_raw"] == 5  # corrupt line still scans
    assert manifest["stages"]["n_filtered"] == 3  # ...but never lands
    # (both BASE copies + OTHER pass the filter; the null-text corrupt
    # row and the too-short doc do not)
    assert manifest["stages"]["n_exact_deduped"] == 2  # BASE folded, OTHER
    # landing is split-partitioned JSON text files, not parquet
    part_files = list((out / "corpus").rglob("part-*"))
    assert part_files and all(p.suffix == ".json" for p in part_files)
    assert any("split=" in str(p) for p in part_files)
    # readable back as plain JSONL: every line parses, bare record got a
    # derived (content-hash) id and defaulted metadata
    landed = [
        _json.loads(ln)
        for p in part_files
        for ln in p.read_text().splitlines()
    ]
    by_text = {r["text"]: r for r in landed}
    other_scrubbed = [r for r in landed if r["text"].startswith("completely")]
    assert other_scrubbed and other_scrubbed[0]["doc_id"] is not None
    assert other_scrubbed[0]["source"] == "unknown"
    assert len(by_text) == len(landed)  # no duplicate texts landed


def test_corpus_pipeline_rejects_unknown_formats(spark, corpus_input, tmp_path):
    with pytest.raises(ValueError, match="input_format"):
        run_corpus_pipeline(
            spark, corpus_input, tmp_path / "x", CorpusConfig(input_format="csv")
        )
    with pytest.raises(ValueError, match="output_format"):
        run_corpus_pipeline(
            spark, corpus_input, tmp_path / "y", CorpusConfig(output_format="orc")
        )


def test_corpus_pipeline_no_near_dedup_keeps_near_dups(spark, corpus_input, tmp_path):
    manifest = run_corpus_pipeline(
        spark,
        corpus_input,
        tmp_path / "out2",
        CorpusConfig(near_dedup=False, scrub=False),
    )
    landed = spark.read.parquet(manifest["output"])
    ids = {r["doc_id"] for r in landed.select("doc_id").collect()}
    assert 2 in ids  # near-dup survives without the LSH stage
    assert 1 not in ids  # exact dedup still applies
    # scrub off: original text intact
    texts = {r["doc_id"]: r["text"] for r in landed.collect()}
    assert "someone@example.org" in texts[3]


def test_corpus_near_dedup_method_winnow_catches_containment_pair(
    spark, tmp_path
):
    """near_dedup_method="winnow" (r12 verdict item 3): a short doc
    fully CONTAINED in a long doc shares every winnowed fingerprint
    but has tiny symmetric shingle-set Jaccard — the exact pair class
    MinHash-LSH banding misses (near_dup_agreement demonstrated the
    only-winnow class exists; this plants one).  The winnow criterion
    must cluster and dedup it; the LSH criterion must keep both; the
    manifest must record which criterion ran."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        winnow_candidate_pairs,
    )

    short = (
        "the committee reviewed the annual budget report and approved the "
        "new funding plan for the public library renovation project next "
        "spring"
    )
    filler = (
        "meanwhile the harbor traffic grew steadily as cargo ships arrived "
        "from distant ports carrying grain timber machinery and textiles "
        "for local merchants who organized weekly markets near the old "
        "stone bridge where travelers gathered to trade stories about "
        "mountain roads river crossings and the changing weather patterns "
        "that shaped every season of rural life across the valley "
        "farmers tended orchards vineyards and wide fields of barley "
        "while children walked to the village school past the mill "
        "whose great wheel turned slowly in the cold clear current"
    )
    rows = [
        (10, short, "srcA"),
        (11, short + " " + filler, "srcB"),  # contains all of doc 10
        (
            12,
            "completely unrelated text about query engines and shuffle "
            "partitions in distributed systems",
            "srcC",
        ),
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(
        str(path)
    )

    # pin the generator-level premise: banding misses the pair, the
    # winnowed index certifies it (containment 1.0 at pair grain)
    docs = spark.read.parquet(str(path))
    assert lsh_candidate_pairs(docs).count() == 0
    wp = winnow_candidate_pairs(docs.select("doc_id", "text")).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in wp] == [(10, 11)]

    m_win = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out_winnow",
        CorpusConfig(near_dedup_method="winnow", scrub=False),
    )
    assert m_win["config"]["near_dedup_method"] == "winnow"
    ids_win = {
        r["doc_id"]
        for r in spark.read.parquet(m_win["output"]).select("doc_id").collect()
    }
    assert ids_win == {10, 12}  # containment pair folded, min doc_id kept

    m_lsh = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out_lsh",
        CorpusConfig(scrub=False),  # default criterion stays "lsh"
    )
    assert m_lsh["config"]["near_dedup_method"] == "lsh"
    ids_lsh = {
        r["doc_id"]
        for r in spark.read.parquet(m_lsh["output"]).select("doc_id").collect()
    }
    assert ids_lsh == {10, 11, 12}  # banding cannot see the pair

    with pytest.raises(ValueError, match="near_dedup_method"):
        run_corpus_pipeline(
            spark,
            path,
            tmp_path / "out_bad",
            CorpusConfig(near_dedup_method="simhash"),
        )


def test_corpus_winnow_criterion_df_cap_blind_spot(spark):
    """Pins the DOCUMENTED blind spot of near_dedup_method="winnow"
    (see the CorpusConfig comment): a template family LARGER than
    WINNOW_PAIR_DF_CAP produces zero winnow pairs (every shared
    fingerprint's df exceeds the cap that bounds the self-join) while
    LSH banding clusters it — the cap is a deliberate boundedness
    trade, and this test is what fails if that trade ever silently
    changes."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        WINNOW_PAIR_DF_CAP,
        winnow_candidate_pairs,
    )

    template = (
        "breaking news from the valley today as the council approved "
        "the new riverside development plan after months of public "
        "hearings and detailed environmental review sessions"
    )
    n = WINNOW_PAIR_DF_CAP + 5
    rows = [(i, f"{template} item{i}", "src0") for i in range(n)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    # every template fingerprint is shared by all n > cap docs -> the
    # cap drops them all; the per-doc unique tail yields no pairs
    assert winnow_candidate_pairs(docs).count() == 0
    # LSH banding clusters the family fine (near-identical shingle sets)
    assert lsh_candidate_pairs(docs).count() > 0


def test_corpus_gate_blocks_empty_output(spark, tmp_path):
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(
        [(0, "zu kurz", "src0")], ["doc_id", "text", "source"]
    ).write.parquet(str(path))
    out = tmp_path / "out3"
    with pytest.raises(CorpusGateError) as exc:
        run_corpus_pipeline(spark, path, out, CorpusConfig())
    assert exc.value.report["nonempty"] is False
    # nothing published, staging cleaned up
    assert not (out / "corpus").exists()
    assert not (out / "corpus._staging").exists()


def test_corpus_health_failure_cleans_staging(spark, corpus_input, tmp_path, monkeypatch):
    """A health-panel failure (transient Spark error, schema surprise)
    must remove the staging dir before re-raising — same contract as the
    gate-failure path."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators import text as text_mod

    def boom(_landed):
        raise RuntimeError("synthetic health-panel failure")

    monkeypatch.setattr(text_mod, "zipf_fit_frame", boom)
    out = tmp_path / "out_healthfail"
    with pytest.raises(RuntimeError, match="synthetic health-panel failure"):
        run_corpus_pipeline(
            spark, corpus_input, out, CorpusConfig(health_report=True)
        )
    assert not (out / "corpus").exists()
    assert not (out / "corpus._staging").exists()


def test_corpus_split_fractions_at_scale(spark, tmp_path):
    """Content-hash split lands near 80/10/10 on a bigger corpus and is
    disjoint+exhaustive."""
    rows = [
        (i, f"unique document number {i} with sufficiently many distinct tokens alpha{i} beta{i} gamma{i}", f"src{i%3}")
        for i in range(600)
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    manifest = run_corpus_pipeline(
        spark, path, tmp_path / "out4", CorpusConfig(near_dedup=False, scrub=False)
    )
    per = manifest["output_stats"]["per_split"]
    total = sum(per.values())
    assert total == manifest["stages"]["n_written"]
    assert 0.7 < per["train"] / total < 0.9
    assert 0.05 < per["val"] / total < 0.16
    assert 0.05 < per["test"] / total < 0.16


def test_corpus_shuffle_output_deterministic_decorrelated(spark, tmp_path):
    """--shuffle-output: the landed row order is a pure function of the
    content hash (two builds agree) and decorrelated from doc_id order."""
    rows = [
        (i, f"document {i} has plenty of distinct tokens alpha{i} beta{i} gamma{i} delta{i}", "src0")
        for i in range(300)
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    cfg = CorpusConfig(near_dedup=False, scrub=False, shuffle_output=True)
    orders = []
    for out in ("s1", "s2"):
        run_corpus_pipeline(spark, path, tmp_path / out, cfg)
        landed = spark.read.parquet(str(tmp_path / out / "corpus"))
        # reading back in shuffle_key order reproduces the written order
        orders.append(
            [r["doc_id"] for r in landed.orderBy("shuffle_key").collect()]
        )
    assert orders[0] == orders[1]  # deterministic across builds
    ids = orders[0]
    assert sorted(ids) != ids  # decorrelated from ingest order
    # Spearman-ish check: adjacent written docs are not adjacent doc_ids
    adjacent_gaps = [abs(a - b) for a, b in zip(ids, ids[1:])]
    assert sum(g == 1 for g in adjacent_gaps) < len(ids) * 0.05


def test_corpus_gate_handles_zero_row_input(spark, tmp_path):
    """A ZERO-ROW input must fail the gate cleanly (nonempty=False), not
    crash on NULL stage sums, and must leave no staging directory."""
    path = tmp_path / "docs.parquet"
    spark.createDataFrame([], "doc_id long, text string, source string").write.parquet(
        str(path)
    )
    out = tmp_path / "out_empty"
    with pytest.raises(CorpusGateError) as exc:
        run_corpus_pipeline(spark, path, out, CorpusConfig(near_dedup=False))
    assert exc.value.report["nonempty"] is False
    assert not (out / "corpus").exists()
    assert not (out / "corpus._staging").exists()


def test_corpus_embed_stage_lands_ann_ready_vectors(spark, corpus_input, tmp_path):
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.inference import (
        EMBED_DIM,
    )

    m = run_corpus_pipeline(
        spark,
        corpus_input,
        tmp_path / "out_emb",
        CorpusConfig(near_dedup=False, embed=True),
    )
    landed = spark.read.parquet(m["output"])
    rows = landed.select("doc_id", "embedding").collect()
    assert all(len(r["embedding"]) == EMBED_DIM for r in rows)
    for r in rows:
        assert abs(sum(x * x for x in r["embedding"]) - 1.0) < 1e-5


def test_corpus_passage_dedup_stage_strips_repeated_blocks(spark, tmp_path):
    # block dedup is ALIGNMENT-sensitive (fixed 8-token windows), so the
    # planted boilerplate sits at an 8-token phase in both docs: at
    # offset 0 in doc 0 and offset 16 in doc 1
    boiler = " ".join(f"license term {i} applies here now ok yes" for i in (1, 2))
    fluent_a = (
        "the engine reads the table and joins rows "
        "and writes the result to the store today"
    )  # 16 tokens
    fluent_b = (
        "an optimizer prunes unused columns while a scheduler "
        "assigns many pending tasks across executor slots quickly"
    )  # 16 tokens
    rows = [
        (0, boiler + " " + fluent_a, "src0"),              # first boiler copy kept
        (1, fluent_b + " " + boiler + " again ok", "src1"),  # later copy stripped
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    out = tmp_path / "out"
    manifest = run_corpus_pipeline(
        spark,
        path,
        out,
        CorpusConfig(
            langs=("en", "unknown"),
            min_tokens=5,
            min_ttr=0.0,
            near_dedup=False,
            passage_dedup=True,
            scrub=False,
        ),
    )
    landed = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(str(out / "corpus")).collect()
    }
    assert boiler in landed[0]       # first occurrence kept
    assert boiler not in landed[1]   # later occurrence stripped
    assert manifest["config"]["passage_dedup"] is True


def test_corpus_ppl_gate_drops_gibberish(spark, tmp_path):
    """--max-ppl drops the high-perplexity doc; the threshold is derived
    from the operator itself (midpoint between fluent and gibberish
    scores) so the test pins the GATING behavior, not a magic number."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        bigram_ppl,
    )

    fluent = (
        "the engine reads the table and joins the rows and writes the "
        "result to the store while the planner prunes the columns"
    )
    gibberish = "zq xv jk wp qn rl tb md cf gh bn vc xs ze rq wt yu io pl km"
    rows = [(i, fluent + f" tail word {i} ok", "src0") for i in range(4)]
    rows.append((9, gibberish, "src2"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    ppls = {r["doc_id"]: r["ppl"] for r in bigram_ppl(docs).collect()}
    fluent_max = max(v for k, v in ppls.items() if k != 9)
    assert ppls[9] > fluent_max  # the corpus separates at all
    threshold = (fluent_max + ppls[9]) / 2

    path = tmp_path / "docs.parquet"
    docs.write.parquet(str(path))
    out = tmp_path / "out"
    manifest = run_corpus_pipeline(
        spark,
        path,
        out,
        CorpusConfig(
            langs=("en", "unknown"),
            min_tokens=5,
            min_ttr=0.0,
            near_dedup=False,
            max_ppl=threshold,
            scrub=False,
        ),
    )
    landed = {r["doc_id"] for r in spark.read.parquet(str(out / "corpus")).collect()}
    assert 9 not in landed, "gibberish doc survived the perplexity gate"
    assert landed == {0, 1, 2, 3}
    assert manifest["config"]["max_ppl"] == threshold


def test_corpus_ppl_gate_passes_docs_without_bigrams(spark, tmp_path):
    """A doc too short to have bigrams has UNDEFINED perplexity — it must
    pass the ppl gate (length gates own short docs), not be dropped."""
    rows = [
        (0, "one", "src0"),  # 1 token: no bigrams
        (1, "the engine reads the table and joins the rows", "src0"),
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    out = tmp_path / "out"
    run_corpus_pipeline(
        spark,
        path,
        out,
        CorpusConfig(
            langs=("en", "unknown"),
            min_tokens=1,
            min_ttr=0.0,
            near_dedup=False,
            max_ppl=1e9,
            scrub=False,
        ),
    )
    landed = {r["doc_id"] for r in spark.read.parquet(str(out / "corpus")).collect()}
    assert landed == {0, 1}


def test_corpus_chunk_mode_builds_rag_chunks(spark, tmp_path):
    """--chunk-tokens explodes docs into overlapping windows AFTER scrub
    and BEFORE embed: chunks inherit the doc's split (no leakage), carry
    chunk-level embeddings, and the gate holds at doc grain."""
    long_text = " ".join(f"w{j}" for j in range(20))
    rows = [(i, long_text + f" tail{i}", "src0") for i in range(4)]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    out = tmp_path / "out"
    manifest = run_corpus_pipeline(
        spark,
        path,
        out,
        CorpusConfig(
            langs=("en", "unknown"),
            min_tokens=5,
            min_ttr=0.0,
            near_dedup=False,
            scrub=False,
            chunk_tokens=8,  # stride 6: 21 tokens -> 1 + ceil(13/6) = 4 chunks
            embed=True,
        ),
    )
    landed = spark.read.parquet(str(out / "corpus"))
    rows_out = landed.collect()
    by_doc = {}
    for r in rows_out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(chunks) == 4 for chunks in by_doc.values())
    # chunks of one doc share its split; embeddings are chunk-level
    for chunks in by_doc.values():
        assert len({r["split"] for r in chunks}) == 1
        assert all(r["embedding"] is not None for r in chunks)
    assert manifest["stages"]["n_docs_written"] == 4
    assert manifest["stages"]["n_written"] == 16
    assert manifest["gate"]["counts_monotonic"] is True
    assert manifest["gate"]["no_duplicate_hashes"] is True


def test_corpus_pipeline_min_quality_gate_drops_low_score_docs(
    spark, tmp_path
):
    """A min_quality threshold keeps fluent docs and drops a stopword-free
    punctuation-heavy doc whose classifier score sits below it; the
    threshold is validated up front."""
    import math

    from pyspark.sql import functions as F

    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        quality_logit,
    )

    junk = "!!! ??? ;;; ... zzz qqq xxx !!! ??? ;;; ... zzz qqq xxx !!! ???"
    rows = [
        (0, BASE, "src0"),
        (1, OTHER, "src1"),
        (2, junk, "src2"),
    ]
    path = tmp_path / "docs.parquet"
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    df.write.parquet(str(path))
    # pick a threshold strictly between the junk doc's score and the
    # fluent docs' scores so the test pins ordering, not magic numbers
    z = {
        r["doc_id"]: r["z"]
        for r in df.select("doc_id", quality_logit(F.col("text")).alias("z")).collect()
    }
    sig = lambda v: 1.0 / (1.0 + math.exp(-v))
    assert sig(z[2]) < min(sig(z[0]), sig(z[1]))
    thr = (sig(z[2]) + min(sig(z[0]), sig(z[1]))) / 2
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out",
        CorpusConfig(
            langs=("en", "xx"), near_dedup=False, min_quality=thr, scrub=False
        ),
    )
    assert manifest["stages"]["n_docs_written"] == 2
    assert manifest["config"]["min_quality"] == thr
    with pytest.raises(ValueError):
        run_corpus_pipeline(
            spark, path, tmp_path / "out2", CorpusConfig(min_quality=1.5)
        )


def test_corpus_span_scrub_rededups_converged_residues(spark, tmp_path):
    """Docs that differ only in (differently-)duplicated spans converge
    to the same residue after scrubbing — the stage must re-dedup on the
    post-scrub text so the landed corpus carries no silent text dups."""
    b1 = " ".join(f"x{i}" for i in range(10))
    b2 = " ".join(f"y{i}" for i in range(10))
    residue = "r1 r2"  # shorter than the span width: its windows straddle
    rows = [
        (0, residue + " " + b1, "s"),            # residue + dup-span 1
        (1, residue + " " + b2, "s"),            # residue + dup-span 2
        (2, " ".join(f"c{i}" for i in range(3)) + " " + b1, "s"),  # b1 elsewhere
        (3, " ".join(f"d{i}" for i in range(3)) + " " + b2, "s"),  # b2 elsewhere
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out",
        CorpusConfig(near_dedup=False, scrub=False, span_scrub=True, min_ttr=0.0, min_tokens=1),
    )
    landed = spark.read.parquet(manifest["output"])
    texts = {r["doc_id"]: r["text"] for r in landed.collect()}
    # docs 0 and 1 both scrub to "r1 r2 <straddle tokens>"? — the windows
    # fully inside b1/b2 are duplicated, so all 10 span tokens beyond the
    # straddle region are cut; whatever each residue is, docs 0/1 must
    # not BOTH land if their residues are equal, and the gate must hold
    assert manifest["gate"]["no_duplicate_hashes"] is True
    assert len(set(texts.values())) == len(texts)  # no silent text dups
    assert not ({0, 1} <= set(texts))  # converged pair collapsed to one


def test_corpus_semantic_dedup_chunk_mode_drops_one_chunk_not_the_doc(
    spark, tmp_path
):
    """Chunk mode: identity is (doc_id, chunk_idx) — an internally
    repeated passage makes two identical chunks, and the semantic stage
    must drop exactly the dominated CHUNK, never the whole doc."""
    p = " ".join(f"p{i}" for i in range(24))  # period 24 = 2x stride(16->12)
    rows = [
        (0, p + " " + p, "s"),  # 48 tokens: chunk@0 == chunk@24
        (1, OTHER, "s"),
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out",
        CorpusConfig(
            near_dedup=False,
            scrub=False,
            min_tokens=1,
            min_ttr=0.0,
            chunk_tokens=16,
            embed=True,
            semantic_dedup=True,
            semantic_clusters=1,
        ),
    )
    landed = spark.read.parquet(manifest["output"])
    chunks = {
        (r["doc_id"], r["chunk_idx"]): r["text"] for r in landed.collect()
    }
    doc0_chunks = {k for k in chunks if k[0] == 0}
    assert doc0_chunks, "doc 0 must survive chunk-grain dedup"
    # exactly one of the two identical chunks remains
    texts0 = [chunks[k] for k in doc0_chunks]
    assert len(set(texts0)) == len(texts0)
    # doc 1's chunks untouched
    assert any(k[0] == 1 for k in chunks)


def test_corpus_pii_converged_duplicates_collapse(spark, tmp_path):
    """Two docs identical except for different PII become byte-identical
    after redaction — the post-mutation re-dedup must collapse them and
    the landed gate must certify the SHIPPED text's hashes."""
    t1 = OTHER + " contact someone@example.org for details"
    t2 = OTHER + " contact other@example.net for details"
    rows = [(0, t1, "s"), (1, t2, "s"), (2, BASE, "s")]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    manifest = run_corpus_pipeline(
        spark, path, tmp_path / "out", CorpusConfig(near_dedup=False)
    )
    landed = spark.read.parquet(manifest["output"])
    texts = [r["text"] for r in landed.collect()]
    assert len(texts) == 2  # the PII-converged pair collapsed to one
    assert len(set(texts)) == 2
    assert manifest["gate"]["no_duplicate_hashes"] is True


def test_corpus_boilerplate_stage_scrubs_per_source_footer(spark, tmp_path):
    """--boilerplate-scrub removes the footer shared by 3 of source A's
    4 docs but keeps the SAME footer in source B (1 of 2 docs, below the
    min_docs gate) — per-source document frequency, not global
    occurrence.  Docs differing only in boilerplate converge after the
    scrub and the immediate re-dedup collapses them."""
    footer = " join our newsletter now"
    body_a = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, body_a + footer, "sA"),
        (1, "eta theta iota kappa" + footer, "sA"),
        (2, "lambda mu nu xi omicron" + footer, "sA"),
        (3, body_a, "sA"),  # boilerplate-only delta vs doc 0
        (4, "pi rho sigma tau" + footer, "sB"),
        (5, "upsilon phi chi psi", "sB"),
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out",
        CorpusConfig(
            near_dedup=False,
            scrub=False,
            boilerplate_scrub=True,
            min_tokens=1,
            min_ttr=0.0,
        ),
    )
    landed = spark.read.parquet(manifest["output"])
    texts = {r["doc_id"]: r["text"] for r in landed.collect()}
    # source A: footer scrubbed from the 3 docs that carried it
    assert texts[0] == body_a
    assert texts[1] == "eta theta iota kappa"
    assert texts[2] == "lambda mu nu xi omicron"
    # doc 3 converged with doc 0's residue; re-dedup kept the min id
    assert 3 not in texts
    # source B: same footer, 1 of 2 docs — below min_docs, intact
    assert texts[4] == "pi rho sigma tau" + footer
    assert texts[5] == "upsilon phi chi psi"
    assert manifest["config"]["boilerplate_scrub"] is True
    assert manifest["gate"]["no_duplicate_hashes"] is True


def test_corpus_dsir_gate_matches_frame_and_null_passes(spark, tmp_path):
    """--min-dsir-weight keeps exactly the docs dsir_weights_frame scores
    at/above the bound; a doc with < 2 tokens has no features and passes
    through (the length gates own short docs)."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        dsir_weights_frame,
    )

    target = [
        (i, BASE.replace("fox", f"fox{i}"), "en", "s0") for i in range(4)
    ]
    pool = [
        (10, BASE.replace("dog", "dog10"), "und", "s1"),  # target-style
        (11, OTHER, "und", "s1"),  # out-of-distribution
        (12, "hello", "und", "s1"),  # single token: no bigrams
    ]
    rows = target + pool
    path = tmp_path / "docs.parquet"
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    df.write.parquet(str(path))

    # the pipeline's filter stage is what the self-trained models see —
    # reproduce it, score, and pick a threshold that splits the corpus
    kept_input = df.filter(F.col("doc_id") != 12)  # all multi-token docs pass
    weights = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_weights_frame(
            kept_input.select("doc_id", "lang", "text")
        ).collect()
    }
    thr = sorted(weights.values())[len(weights) // 2]
    expected = {d for d, w in weights.items() if w >= thr} | {12}

    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out",
        CorpusConfig(
            near_dedup=False,
            scrub=False,
            min_dsir_weight=thr,
            min_tokens=1,
            min_ttr=0.0,
        ),
    )
    landed = spark.read.parquet(manifest["output"])
    assert {r["doc_id"] for r in landed.collect()} == expected
    assert manifest["config"]["min_dsir_weight"] == thr


def test_corpus_dsir_gate_requires_lang_column(spark, tmp_path):
    rows = [(0, BASE, "s0")]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    with pytest.raises(ValueError, match="lang"):
        run_corpus_pipeline(
            spark, path, tmp_path / "out", CorpusConfig(min_dsir_weight=0.0)
        )


def test_corpus_epoch_shuffle_contiguous_order_drives_packing(spark, tmp_path):
    """--epoch-shuffle assigns a contiguous 0..n-1 global position with
    shard = position mod N, and --pack-budget consumes the SHUFFLED
    order: within each shard, chunk_id equals the running-token-sum
    arithmetic over docs sorted by position."""
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(5 + i % 3)), "s%d" % (i % 2))
        for i in range(12)
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out",
        CorpusConfig(
            near_dedup=False,
            scrub=False,
            epoch_shuffle=True,
            epoch_shards=4,
            pack_budget=8,
            min_tokens=1,
            min_ttr=0.0,
        ),
    )
    landed = spark.read.parquet(manifest["output"])
    got = sorted(
        (r["position"], r["shard"], r["n_tokens"], r["chunk_id"])
        for r in landed.collect()
    )
    n = len(got)
    assert [g[0] for g in got] == list(range(n))  # contiguous permutation
    assert all(g[1] == g[0] % 4 for g in got)  # shard derivation
    # packing rides the shuffled order: recompute per shard by position
    for shard in range(4):
        before = 0
        for pos, _sh, n_tok, chunk_id in (g for g in got if g[1] == shard):
            assert chunk_id == before // 8
            before += n_tok


def test_corpus_epoch_shuffle_chunk_mode_is_chunk_grain(spark, tmp_path):
    """In RAG chunk mode the shuffle identity is (doc_id, chunk_idx) —
    every chunk gets its own position and the permutation stays
    contiguous at chunk grain."""
    long_text = " ".join(f"tok{j}" for j in range(30))
    rows = [(i, long_text.replace("tok0", f"doc{i}"), "s") for i in range(3)]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out",
        CorpusConfig(
            near_dedup=False,
            scrub=False,
            chunk_tokens=8,
            epoch_shuffle=True,
            min_tokens=1,
            min_ttr=0.0,
        ),
    )
    landed = spark.read.parquet(manifest["output"])
    got = [(r["position"], r["doc_id"], r["chunk_idx"]) for r in landed.collect()]
    assert sorted(p for p, _, _ in got) == list(range(len(got)))
    assert len({(d, c) for _, d, c in got}) == len(got)


def test_corpus_pack_tokenizer_bpe_budgets_on_real_tokens(spark, tmp_path):
    """pack_tokenizer='bpe' budgets chunks on BPE token counts (a merge
    table self-trained on the curated corpus, applied in-row): the
    landed chunk assignment equals the test's independent recomputation
    from bpe_merge_table + bpe_encode_tokens, and differs from the
    whitespace-proxy assignment."""
    from pyspark.sql import functions as F

    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        bpe_encode_tokens,
        bpe_merge_table,
    )

    # few whitespace words, many chars -> BPE counts >> whitespace counts
    # (texts all distinct so exact dedup drops nothing; every predicted
    # lang accepted so the filter stage drops nothing)
    rows = [
        (i, " ".join("abcdefgh"[: 4 + (i * 3 + j) % 7] for j in range(3)), "s0")
        for i in range(6)
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    cfgkw = dict(
        near_dedup=False,
        scrub=False,
        min_tokens=1,
        min_ttr=0.0,
        langs=("en", "de", "fr", "es"),
    )
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out",
        CorpusConfig(pack_budget=16, pack_tokenizer="bpe", **cfgkw),
    )
    landed = spark.read.parquet(manifest["output"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["chunk_id"]) for r in landed.collect()
    }

    # independent recomputation: same survivors (no dedup drops anything
    # here), same self-trained table, same running-sum arithmetic
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    merges = bpe_merge_table(docs.select("text"))
    counts = {
        r["doc_id"]: r["n"]
        for r in docs.crossJoin(F.broadcast(merges))
        .select(
            "doc_id",
            F.size(bpe_encode_tokens(F.col("text"), F.col("merges"))).alias("n"),
        )
        .collect()
    }
    before = 0
    for doc_id in sorted(counts):
        assert got[doc_id] == (counts[doc_id], before // 16)
        before += counts[doc_id]
    # the whitespace proxy (3 tokens/doc) would pack everything in chunk 0
    ws = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out_ws",
        CorpusConfig(pack_budget=16, **cfgkw),
    )
    ws_landed = spark.read.parquet(ws["output"])
    assert {r["chunk_id"] for r in ws_landed.collect()} == {0}
    assert len({c for _, c in got.values()}) > 1
    assert manifest["config"]["pack_tokenizer"] == "bpe"


def test_corpus_pack_tokenizer_rejects_unknown(spark, corpus_input, tmp_path):
    with pytest.raises(ValueError, match="pack_tokenizer"):
        run_corpus_pipeline(
            spark,
            corpus_input,
            tmp_path / "out",
            CorpusConfig(pack_budget=16, pack_tokenizer="unigram"),
        )


def test_corpus_pack_tokenizer_without_budget_fails_loudly(
    spark, corpus_input, tmp_path
):
    """pack_tokenizer='bpe' with no pack_budget used to validate and then
    be silently ignored (the BPE branch lives inside the pack stage) —
    it must raise instead."""
    with pytest.raises(ValueError, match="requires pack_budget"):
        run_corpus_pipeline(
            spark,
            corpus_input,
            tmp_path / "out",
            CorpusConfig(pack_tokenizer="bpe"),
        )
    with pytest.raises(ValueError, match="requires pack_tokenizer='bpe'"):
        run_corpus_pipeline(
            spark,
            corpus_input,
            tmp_path / "out",
            CorpusConfig(pack_budget=16, bpe_merges_path="/nonexistent"),
        )


def test_corpus_bpe_merges_path_trains_offline_then_packs(spark, tmp_path):
    """The full production tokenizer story as real plumbing: bpe_train
    (iterative, recount-per-merge) writes a rank-grain merge table to
    parquet offline; the pipeline ships it via bpe_merges_path and packs
    on ITS token counts — verified against an independent recomputation
    through merge_table_from_ranks + bpe_encode_tokens, and shown to
    differ from the self-trained one-round table's assignment."""
    from pyspark.sql import functions as F

    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        bpe_encode_tokens,
        bpe_train_frame,
        merge_table_from_ranks,
    )

    rows = [
        (i, " ".join("abcdefgh"[: 4 + (i * 3 + j) % 7] for j in range(3)), "s0")
        for i in range(6)
    ]
    path = tmp_path / "docs.parquet"
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    docs.write.parquet(str(path))

    # offline training step: iterative table -> parquet artifact
    ranks = bpe_train_frame(docs, n_merges=5)
    merges_path = tmp_path / "merges.parquet"
    ranks.write.parquet(str(merges_path))

    cfgkw = dict(
        near_dedup=False,
        scrub=False,
        min_tokens=1,
        min_ttr=0.0,
        langs=("en", "de", "fr", "es"),
    )
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out",
        CorpusConfig(
            pack_budget=16,
            pack_tokenizer="bpe",
            bpe_merges_path=str(merges_path),
            **cfgkw,
        ),
    )
    landed = spark.read.parquet(manifest["output"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["chunk_id"]) for r in landed.collect()
    }

    # independent recomputation from the artifact itself
    table = merge_table_from_ranks(spark.read.parquet(str(merges_path)))
    counts = {
        r["doc_id"]: r["n"]
        for r in docs.crossJoin(F.broadcast(table))
        .select(
            "doc_id",
            F.size(bpe_encode_tokens(F.col("text"), F.col("merges"))).alias("n"),
        )
        .collect()
    }
    before = 0
    for doc_id in sorted(counts):
        assert got[doc_id] == (counts[doc_id], before // 16)
        before += counts[doc_id]

    # the iterative table (recounts let it learn multi-char merges the
    # one-round table cannot) yields different token counts than the
    # self-trained one-round branch on the same corpus
    selftrained = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out_selftrained",
        CorpusConfig(pack_budget=16, pack_tokenizer="bpe", **cfgkw),
    )
    st = {
        r["doc_id"]: r["n_tokens"]
        for r in spark.read.parquet(selftrained["output"]).collect()
    }
    assert {d: n for d, (n, _) in got.items()} != st
    assert manifest["config"]["bpe_merges_path"] == str(merges_path)


def test_merge_table_from_ranks_rejects_hostile_operands(spark):
    """An offline table is an external input: NULL, empty, or
    '|'-bearing operands must fail the job, not corrupt every encoded
    word."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        merge_table_from_ranks,
    )

    for a, b in [("a|", "b"), ("a", None), ("", "b")]:
        hostile = spark.createDataFrame(
            [(1, a, b)], "rank BIGINT, a STRING, b STRING"
        )
        with pytest.raises(SparkRuntimeException, match="illegal merge operand"):
            merge_table_from_ranks(hostile).collect()
    # clean table round-trips in rank order regardless of partitioning
    clean = spark.createDataFrame(
        [(2, "th", "e"), (1, "t", "h")], "rank BIGINT, a STRING, b STRING"
    ).repartition(4)
    [row] = merge_table_from_ranks(clean).collect()
    assert [(m["a"], m["b"]) for m in row["merges"]] == [("t", "h"), ("th", "e")]
    # a zero-row rank frame (wrong parquet path, empty artifact) fails
    # loudly instead of degrading packing to character-grain counts
    empty = spark.createDataFrame([], "rank BIGINT, a STRING, b STRING")
    with pytest.raises(SparkRuntimeException, match="rank frame is empty"):
        merge_table_from_ranks(empty).collect()


def test_corpus_pipeline_health_report_in_manifest(spark, corpus_input, tmp_path):
    """--health-report lands the per-source corpus-health panel (Zipf
    fit + KL/JS divergence) in the manifest, computed over the LANDED
    output and matching a direct recomputation of the same frames."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        heaps_fit_frame,
        source_divergence_frame,
        term_burstiness_frame,
        token_entropy_frame,
        zipf_fit_frame,
    )

    out = tmp_path / "out_health"
    manifest = run_corpus_pipeline(
        spark, corpus_input, out, CorpusConfig(health_report=True)
    )
    health = manifest["corpus_health"]
    assert health, "health panel missing"
    landed = spark.read.parquet(str(out / "corpus"))
    want_sources = {r["source"] for r in landed.select("source").distinct().collect()}
    assert set(health) == want_sources
    zipf = {r["source"]: r for r in zipf_fit_frame(landed).collect()}
    heaps = {r["source"]: r for r in heaps_fit_frame(landed).collect()}
    div = {r["source"]: r for r in source_divergence_frame(landed).collect()}
    ent = {r["source"]: r for r in token_entropy_frame(landed).collect()}
    burst = {r["source"]: r for r in term_burstiness_frame(landed).collect()}
    for src, h in health.items():
        assert h["zipf_slope"] == zipf[src]["zipf_slope"]
        assert h["zipf_r2"] == zipf[src]["r2"]
        assert h["kl_divergence"] == div[src]["kl_divergence"]
        assert h["js_divergence"] == div[src]["js_divergence"]
        assert h["n_tokens"] == div[src]["n_tokens"]
        assert h["js_divergence"] >= 0
        assert h["entropy"] == ent[src]["entropy"]
        assert h["norm_entropy"] == ent[src]["norm_entropy"]
        assert h["vocab_size"] == ent[src]["vocab_size"]
        assert h["heaps_beta"] == heaps[src]["heaps_beta"]
        assert h["heaps_r2"] == heaps[src]["r2"]
        # member #5 (r13): Church–Gale burstiness summary
        assert h["n_burst_terms"] == burst[src]["n_burst_terms"]
        assert h["mean_burstiness"] == burst[src]["mean_burstiness"]
        assert h["max_burstiness"] == burst[src]["max_burstiness"]
        if h["mean_burstiness"] is not None:
            # tf/df >= 1 by construction; max bounds mean
            assert 1 <= h["mean_burstiness"] <= h["max_burstiness"]
        assert 0 <= (h["norm_entropy"] or 0) <= 1
    # default stays off and serializes as null
    out2 = tmp_path / "out_nohealth"
    m2 = run_corpus_pipeline(spark, corpus_input, out2, CorpusConfig())
    assert m2["corpus_health"] is None


def test_health_panel_survives_source_missing_from_burstiness(
    spark, corpus_input, tmp_path, monkeypatch
):
    """Burstiness is LEFT-joined into the panel, not intersected (r13
    ADVICE): a landed source with no burstiness row at all (every doc
    tokenizes to zero qualifying words under a stricter tokenizer) must
    keep its panel row and report the documented 0/NULL/NULL burstiness
    instead of silently disappearing from the manifest."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators import text as text_mod

    real = text_mod.term_burstiness_frame

    def drop_one_source(landed, *a, **kw):
        out = real(landed, *a, **kw)
        first = out.select("source").orderBy("source").limit(1).collect()
        assert first, "fixture landed no sources"
        return out.filter(F.col("source") != first[0]["source"])

    monkeypatch.setattr(text_mod, "term_burstiness_frame", drop_one_source)
    out = tmp_path / "out_health_leftjoin"
    manifest = run_corpus_pipeline(
        spark, corpus_input, out, CorpusConfig(health_report=True)
    )
    health = manifest["corpus_health"]
    landed = spark.read.parquet(str(out / "corpus"))
    want = {r["source"] for r in landed.select("source").distinct().collect()}
    assert set(health) == want, "a source vanished from the panel"
    dropped = sorted(want)[0]
    h = health[dropped]
    assert h["n_burst_terms"] == 0
    assert h["mean_burstiness"] is None
    assert h["max_burstiness"] is None
    # the other panel members still report real values for that source
    assert h["n_tokens"] > 0


def test_term_burstiness_frame_flags_stamped_boilerplate(spark):
    """Panel member #5 semantics: a phrase stamped several times into
    many docs of one source drives that source's burstiness (tf/df)
    up; a source where no term reaches the df floor reports 0 burst
    terms with NULL mean/max instead of vanishing from the panel."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        term_burstiness_frame,
    )

    stamp = "subscribe now " * 3  # 3 occurrences per containing doc
    rows = [
        (0, stamp + "alpha beta gamma", "stamped"),
        (1, stamp + "delta epsilon zeta", "stamped"),
        (2, "unique words only here", "clean"),
        (3, "entirely different tokens again", "clean"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r for r in term_burstiness_frame(docs).collect()}
    # 'subscribe' and 'now' each: df=2 (>= floor), tf=6 → burstiness 3.0
    assert out["stamped"]["n_burst_terms"] == 2
    assert out["stamped"]["mean_burstiness"] == 3.0
    assert out["stamped"]["max_burstiness"] == 3.0
    # no clean-source term reaches df >= 2 → explicit empty row
    assert out["clean"]["n_burst_terms"] == 0
    assert out["clean"]["mean_burstiness"] is None
    assert out["clean"]["max_burstiness"] is None


def test_corpus_gopher_gate_drops_rule_violators(spark, tmp_path):
    """--gopher-gate ANDs the five published rules into the filter
    stage: a symbol-heavy doc and an over-length doc that both pass
    the base lang/length/TTR filter are dropped, the clean twin lands,
    and the manifest counts exactly the gopher-only rejections."""
    symbolic = BASE + " #tag1 #tag2 #tag3"  # >10% symbol words
    too_long = "the a " + " ".join(f"alpha{i}" for i in range(79))  # 81 words
    rows = [
        (0, BASE, "src0"),
        (1, symbolic, "src1"),
        (2, too_long, "src2"),
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))

    # without the gate all three land (they pass the base filter)
    m_off = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out_off",
        CorpusConfig(near_dedup=False, scrub=False),
    )
    assert m_off["stages"]["n_filtered"] == 3
    assert m_off["stages"]["n_gopher_fail"] is None

    m_on = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out_on",
        CorpusConfig(near_dedup=False, scrub=False, gopher_gate=True),
    )
    assert m_on["stages"]["n_filtered"] == 1
    assert m_on["stages"]["n_gopher_fail"] == 2
    assert m_on["config"]["gopher_gate"] is True
    landed = spark.read.parquet(m_on["output"])
    assert {r["doc_id"] for r in landed.collect()} == {0}


def test_corpus_decontaminate_winnow_drops_planted_contamination(
    spark, tmp_path
):
    """--decontaminate winnow with a held-out eval SOURCE: the benchmark
    source leaves the training corpus outright, a training doc sharing a
    >= w+k-1 token run with an eval doc is dropped, and its clean twin
    (no shared run) lands; the manifest records the flagged count."""
    leak = " ".join(f"zeta{i}" for i in range(12))  # 12-token eval run
    eval_doc = "the answer key is " + leak
    contaminated = "the cat sat on the mat and then " + leak
    clean = "the cat sat on the mat and then some other tail words here"
    rows = [
        (0, contaminated, "train_a"),
        (1, clean, "train_a"),
        (2, OTHER, "train_b"),
        (3, eval_doc, "heldout"),
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out",
        CorpusConfig(
            near_dedup=False,
            scrub=False,
            min_ttr=0.0,
            decontaminate="winnow",
            decontaminate_eval_source="heldout",
        ),
    )
    assert manifest["stages"]["n_decon_flagged"] == 1
    landed = spark.read.parquet(manifest["output"])
    kept = {r["doc_id"] for r in landed.collect()}
    assert kept == {1, 2}  # contaminated 0 dropped, eval source 3 removed
    assert manifest["config"]["decontaminate"] == "winnow"
    assert manifest["config"]["decontaminate_eval_source"] == "heldout"


def test_corpus_leak_report_planted_leak_without_decon(spark, tmp_path):
    """--leak-report WITHOUT --decontaminate (r13 verdict item 4): the
    manifest's eval_leak block profiles every held-out eval doc against
    the kept training set — the planted leak shows up with exact counts,
    the clean eval doc counts toward n_eval_docs but not n_leaked_docs,
    and nothing is scrubbed (the report exists to DECIDE whether to)."""
    leak = " ".join(f"omega{i}" for i in range(12))  # >= w+k-1 token run
    rows = [
        (0, "the cat sat on the mat and then " + leak, "train_a"),
        (1, "the cat sat on the mat and then some other tail words here", "train_a"),
        (2, OTHER, "train_b"),
        (3, "the answer key is " + leak, "heldout"),
        (4, "a perfectly clean benchmark question with fresh words only", "heldout"),
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out_leak",
        CorpusConfig(
            near_dedup=False,
            scrub=False,
            min_ttr=0.0,
            leak_report=True,
            decontaminate_eval_source="heldout",
        ),
    )
    el = manifest["eval_leak"]
    assert el["method"] == "winnow"
    assert el["n_eval_docs"] == 2
    assert el["n_leaked_docs"] == 1
    assert len(el["leaked"]) == 1
    hit = el["leaked"][0]
    assert hit["eval_doc_id"] == 3
    assert hit["n_train_docs"] == 1  # exactly the planted train doc
    assert hit["n_shared_fps"] >= 1
    assert hit["n_hits"] >= hit["n_shared_fps"]
    # nothing was dropped for it: the contaminated train doc still lands
    landed = spark.read.parquet(manifest["output"])
    assert 0 in {r["doc_id"] for r in landed.collect()}
    assert manifest["config"]["leak_report"] is True
    assert manifest["stages"]["n_decon_flagged"] is None
    # the manifest JSON round-trips (ints, not numpy/Row types)
    json.loads(json.dumps(manifest))


def test_corpus_leak_report_residual_zero_after_decon(spark, tmp_path):
    """--leak-report WITH --decontaminate winnow: the report profiles the
    post-decon kept set, so the planted leak is gone — residual leakage
    is zero under the same criterion that scrubbed it."""
    leak = " ".join(f"psi{i}" for i in range(12))
    rows = [
        (0, "the cat sat on the mat and then " + leak, "train_a"),
        (1, "the cat sat on the mat and then some other tail words here", "train_a"),
        (3, "the answer key is " + leak, "heldout"),
    ]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out_leak2",
        CorpusConfig(
            near_dedup=False,
            scrub=False,
            min_ttr=0.0,
            decontaminate="winnow",
            decontaminate_eval_source="heldout",
            leak_report=True,
        ),
    )
    assert manifest["stages"]["n_decon_flagged"] == 1
    el = manifest["eval_leak"]
    assert el["n_eval_docs"] == 1
    assert el["n_leaked_docs"] == 0
    assert el["leaked"] == []


def test_corpus_leak_report_external_eval_path(spark, tmp_path):
    """--leak-report with an EXTERNAL id-less eval file: surrogate ids
    are synthesized deterministically and the planted leak is found."""
    shared = " ".join(f"chi{i}" for i in range(12))
    rows = [(0, "the cat sat on the mat near " + shared, "src_a"),
            (1, "the cat sat on the mat near some other words entirely here", "src_a")]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    eval_path = tmp_path / "eval.parquet"
    spark.createDataFrame(
        [("benchmark question about " + shared,), ("a clean item",)], ["text"]
    ).write.parquet(str(eval_path))
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out_leak3",
        CorpusConfig(
            near_dedup=False,
            scrub=False,
            min_ttr=0.0,
            leak_report=True,
            decontaminate_eval_path=str(eval_path),
        ),
    )
    el = manifest["eval_leak"]
    assert el["n_eval_docs"] == 2
    assert el["n_leaked_docs"] == 1
    assert el["leaked"][0]["n_train_docs"] == 1


def test_corpus_leak_report_jsonl_eval_keeps_real_ids(spark, tmp_path):
    """--leak-report with a JSONL eval file that CARRIES item ids: the
    manifest's eval_doc_id must be the benchmark's own id, not a
    surrogate row number (r14 ADVICE: the text-only JSON schema made
    the id branch unreachable for JSONL)."""
    import json as _json

    shared = " ".join(f"psi{i}" for i in range(12))
    rows = [(0, "the cat sat on the mat near " + shared, "src_a"),
            (1, "the cat sat on the mat near some other words entirely here", "src_a")]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    eval_path = tmp_path / "eval.jsonl"
    eval_path.write_text(
        _json.dumps({"doc_id": 7070, "text": "benchmark question about " + shared})
        + "\n"
        + _json.dumps({"doc_id": 4141, "text": "a clean item"})
        + "\n"
    )
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out_leak4",
        CorpusConfig(
            near_dedup=False,
            scrub=False,
            min_ttr=0.0,
            leak_report=True,
            decontaminate_eval_path=str(eval_path),
        ),
    )
    el = manifest["eval_leak"]
    assert el["n_eval_docs"] == 2
    assert el["n_leaked_docs"] == 1
    # the benchmark's OWN id survives into the manifest
    assert el["leaked"][0]["eval_doc_id"] == 7070


def test_corpus_leak_report_jsonl_eval_without_ids_gets_surrogates(
    spark, tmp_path
):
    """--leak-report with an id-LESS JSONL eval file: the explicit
    doc_id schema yields an all-null column, and the has_ids probe must
    route it to deterministic surrogate ids (never null ids)."""
    import json as _json

    shared = " ".join(f"omi{i}" for i in range(12))
    rows = [(0, "the cat sat on the mat near " + shared, "src_a")]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    eval_path = tmp_path / "eval_noid.jsonl"
    eval_path.write_text(
        _json.dumps({"text": "benchmark question about " + shared})
        + "\n"
        + _json.dumps({"text": "a clean item"})
        + "\n"
    )
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out_leak5",
        CorpusConfig(
            near_dedup=False,
            scrub=False,
            min_ttr=0.0,
            leak_report=True,
            decontaminate_eval_path=str(eval_path),
        ),
    )
    el = manifest["eval_leak"]
    assert el["n_eval_docs"] == 2
    assert el["n_leaked_docs"] == 1
    assert el["leaked"][0]["eval_doc_id"] is not None


def test_corpus_decontaminate_ngram_external_eval_path(spark, tmp_path):
    """--decontaminate ngram with an EXTERNAL eval parquet: a training
    doc sharing a 4-gram with the eval set is dropped; the clean twin
    stays; the eval file itself is never part of the corpus."""
    shared = "gamma one gamma two gamma three"
    contaminated = "the cat sat on the mat near " + shared
    clean = "the cat sat on the mat near some other words entirely here"
    rows = [(0, contaminated, "src_a"), (1, clean, "src_a")]
    path = tmp_path / "docs.parquet"
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(str(path))
    eval_path = tmp_path / "eval.parquet"
    spark.createDataFrame(
        [("benchmark question about " + shared,)], ["text"]
    ).write.parquet(str(eval_path))
    manifest = run_corpus_pipeline(
        spark,
        path,
        tmp_path / "out",
        CorpusConfig(
            near_dedup=False,
            scrub=False,
            min_ttr=0.0,
            decontaminate="ngram",
            decontaminate_eval_path=str(eval_path),
        ),
    )
    assert manifest["stages"]["n_decon_flagged"] == 1
    landed = spark.read.parquet(manifest["output"])
    assert {r["doc_id"] for r in landed.collect()} == {1}


def test_corpus_decontaminate_config_validation(spark, corpus_input, tmp_path):
    """Misconfigured decontamination fails loudly before any job runs."""
    with pytest.raises(ValueError, match="exactly one of"):
        run_corpus_pipeline(
            spark,
            corpus_input,
            tmp_path / "o1",
            CorpusConfig(decontaminate="winnow"),
        )
    with pytest.raises(ValueError, match="exactly one of"):
        run_corpus_pipeline(
            spark,
            corpus_input,
            tmp_path / "o2",
            CorpusConfig(
                decontaminate="winnow",
                decontaminate_eval_path="/tmp/x.parquet",
                decontaminate_eval_source="src0",
            ),
        )
    with pytest.raises(ValueError, match="'winnow' or 'ngram'"):
        run_corpus_pipeline(
            spark,
            corpus_input,
            tmp_path / "o3",
            CorpusConfig(
                decontaminate="simhash", decontaminate_eval_source="src0"
            ),
        )
    with pytest.raises(ValueError, match="require"):
        run_corpus_pipeline(
            spark,
            corpus_input,
            tmp_path / "o4",
            CorpusConfig(decontaminate_eval_source="src0"),
        )
