"""Property-based tests (hypothesis) for the shared column expressions —
each Spark expression is checked against a plain-Python reference model
over generated inputs."""

from __future__ import annotations

import math
from datetime import datetime, timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ida_ice_energy_simulation_etl_pipeline_spark.functions import (
    cosine_similarity,
    dow_monday0,
    occurrence_count,
    punct_ratio,
    word_shingles,
    word_tokens,
)

WORDS = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=5), min_size=0, max_size=12
)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.fixture(scope="module")
def sql(spark):
    def run(expr_fn, rows, schema):
        df = spark.createDataFrame(rows, schema)
        return [r["out"] for r in df.select(expr_fn(df).alias("out")).collect()]

    return run


@given(words=WORDS, n=st.integers(2, 4))
@SLOW
def test_word_shingles_matches_python(sql, words, n):
    text = " ".join(words)
    expected = (
        [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
        if len(words) >= n and words
        else []
    )
    # NB: split("", " ") yields [""] — mirror the engine's tokenizer model
    toks = text.split(" ")
    expected = (
        [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        if len(toks) >= n
        else []
    )
    [got] = sql(
        lambda df: word_shingles(word_tokens(df.text), n), [(text,)], ["text"]
    )
    assert got == expected


@given(
    text=st.text(alphabet="ab c", max_size=30),
    needle=st.sampled_from(["a", "ab", "b c", "c"]),
)
@SLOW
def test_occurrence_count_matches_str_count(sql, text, needle):
    # replace-based counting == non-overlapping left-to-right count
    expected = text.count(needle)
    [got] = sql(
        lambda df: occurrence_count(df.text, needle), [(text,)], ["text"]
    )
    assert got == expected


@given(text=st.text(alphabet="ab .,;:!?", min_size=1, max_size=40))
@SLOW
def test_punct_ratio_matches_python(sql, text):
    expected = sum(c in ".,;:!?" for c in text) / len(text)
    [got] = sql(lambda df: punct_ratio(df.text), [(text,)], ["text"])
    assert got == pytest.approx(expected, abs=1e-12)


@given(
    vec=st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False), min_size=2, max_size=8
    )
)
@SLOW
def test_cosine_self_similarity_is_one(sql, vec):
    if not any(abs(v) > 1e-6 for v in vec):
        return  # zero vector: cosine undefined
    [got] = sql(
        lambda df: cosine_similarity(df.a, df.b), [(vec, vec)], ["a", "b"]
    )
    assert got == pytest.approx(1.0, abs=1e-9)


@given(
    epoch_day=st.integers(0, 30000),
)
@SLOW
def test_dow_monday0_matches_python_weekday(sql, epoch_day):
    dt = datetime.fromtimestamp(epoch_day * 86400, tz=timezone.utc)
    [got] = sql(
        lambda df: dow_monday0(df.ts),
        [(dt.replace(tzinfo=None),)],
        ["ts"],
    )
    assert got == dt.weekday()  # python weekday(): Monday=0


def test_cosine_known_value(sql):
    [got] = sql(
        lambda df: cosine_similarity(df.a, df.b),
        [([1.0, 0.0], [0.0, 1.0])],
        ["a", "b"],
    )
    assert got == pytest.approx(0.0, abs=1e-12)
    [got2] = sql(
        lambda df: cosine_similarity(df.a, df.b),
        [([1.0, 2.0], [2.0, 4.0])],
        ["a", "b"],
    )
    assert got2 == pytest.approx(1.0, abs=1e-12)


def test_word_shingles_short_input_empty(sql):
    [got] = sql(lambda df: word_shingles(word_tokens(df.t), 3), [("one two",)], ["t"])
    assert got == []


# --------------------------------------------------------------------------
# PII scrubbing properties
PII_FRAGMENTS = st.lists(
    st.sampled_from(
        [
            "plain words here",
            "a@b.co",
            "x.y+z@mail-host.org",
            "10.0.0.1",
            "255.255.255.255",
            "555-123-4567",
            "not@tld",
            "1.2.3",
            "12-34-56",
            "trailing dot 1.2.3.4.",
        ]
    ),
    min_size=1,
    max_size=6,
)


@given(frags=PII_FRAGMENTS)
@SLOW
def test_scrub_pii_idempotent_and_clean(spark, frags):
    """Scrubbing is idempotent (replacement tokens contain no matchable
    PII) and the scrubbed text never matches any rule."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        PII_RULES,
        scrub_pii,
    )

    text = " ".join(frags)
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    once = scrub_pii(df).select(F.col("scrubbed").alias("text"), "doc_id")
    row = scrub_pii(once).collect()[0]
    assert row["scrubbed"] == row["text"]  # idempotent
    assert row["n_email"] == row["n_ip"] == row["n_phone"] == 0


@given(doc_ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=8, unique=True))
@SLOW
def test_mix_copies_matches_python_model(spark, doc_ids):
    """mix_copies_col == the plain-Python md5 model for arbitrary doc ids."""
    import hashlib

    from ida_ice_energy_simulation_etl_pipeline_spark.operators.text import (
        MIX_WEIGHT_CYCLE,
        MIX_WEIGHT_STEP,
        mix_copies_col,
    )

    rows = [(i, f"src{i % 5}") for i in doc_ids]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", mix_copies_col(F.col("source"), F.col("doc_id")).alias("c")
        ).collect()
    }
    for i in doc_ids:
        w = ((i % 5) % MIX_WEIGHT_CYCLE + 1) * MIX_WEIGHT_STEP
        h = int(hashlib.md5(f"mix{i}".encode()).hexdigest()[:4], 16)
        expected = int(w // 1) + (1 if h < int((w - w // 1) * 65536) else 0)
        assert got[i] == expected


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=14).map(
            lambda chars: " ".join(chars)
        ),
        min_size=1,
        max_size=4,
    ),
)
@SLOW
def test_span_scrub_matches_python_model(spark, docs):
    """span_scrub vs a direct python model over tiny 2-letter-token
    corpora (worst case for window collisions): every output doc keeps
    exactly the tokens not covered by a corpus-duplicated window, in
    order."""
    from collections import Counter

    from ida_ice_energy_simulation_etl_pipeline_spark.operators.dedup import (
        span_scrub_frame,
    )

    span = 3
    rows = [(i, t, "s") for i, t in enumerate(docs)]
    toks = {i: t.split(" ") for i, t, _ in rows}
    windows = Counter()
    for w in toks.values():
        if len(w) >= span:
            for i in range(len(w) - span + 1):
                windows[" ".join(w[i : i + span])] += 1
    expected = {}
    for doc_id, w in toks.items():
        covered = set()
        if len(w) >= span:
            for i in range(len(w) - span + 1):
                if windows[" ".join(w[i : i + span])] >= 2:
                    covered.update(range(i, i + span))
        kept = [t for j, t in enumerate(w) if j not in covered]
        expected[doc_id] = (len(w), len(w) - len(kept), " ".join(kept))

    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_scrubbed"], r["text_scrubbed"])
        for r in span_scrub_frame(df, span=span).collect()
    }
    assert got == expected


# --------------------------------------------------------------------------
# TIFF-variant LZW codec (r12): round-trip over arbitrary byte strings.
# Hypothesis drives the boundary cases a hand-written test can miss —
# long single-symbol runs (KwKwK chains), inputs crossing the 9→10 and
# 10→11 bit early-change boundaries, empty input — all pure Python, no
# Spark session.
@given(st.binary(max_size=4000))
@settings(max_examples=200, deadline=None)
def test_tiff_lzw_roundtrip_property(data):
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.multimodal import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
    )

    assert _tiff_lzw_decode(_tiff_lzw_encode(data), len(data)) == data


@given(st.binary(min_size=64, max_size=512), st.integers(1, 40))
@settings(max_examples=60, deadline=None)
def test_tiff_lzw_truncation_fails_closed_property(data, cut):
    """A stream truncated anywhere strictly inside the payload must
    yield None (never a wrong-but-plausible byte string of full
    length)."""
    from ida_ice_energy_simulation_etl_pipeline_spark.operators.multimodal import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
    )

    enc = _tiff_lzw_encode(data)
    cut = min(cut, len(enc) - 1)
    out = _tiff_lzw_decode(enc[:cut], len(data))
    assert out is None or len(out) == len(data) and out == data
