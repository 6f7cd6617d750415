"""Span-sequence equality — THE correctness gate of BASELINE.json:
per-document output spans must match input on (kind, text, media_ref,
order), media spans untouched (FIXTURES.md §1.1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from textalyzer_spark.corpus import build_spans, nested_from_flat, nested_from_texts
from textalyzer_spark.operators.frequency import word_frequency
from textalyzer_spark.operators.spans import (
    process_spans,
    process_spans_arrow,
    span_word_frequency,
)

TEXTS = {
    "doc1": "This test is a test to test the frequency map.",
    "doc2": "Hello World! A warm welcome to the world.",
    "doc3": "the quick brown fox jumps over the lazy dog and runs far away "
    "into the deep green forest tonight",
    "empty": "",
}


def test_build_spans_deterministic_and_lossless():
    for doc_id, text in TEXTS.items():
        s1 = build_spans(doc_id, text)
        s2 = build_spans(doc_id, text)
        assert s1 == s2  # deterministic
        recon = "".join(s["text"] for s in s1 if s["kind"] == "text")
        assert recon.split() == text.split()  # whitespace-boundary splits
        for i, s in enumerate(s1):
            assert s["offset"] == i
            if s["kind"] == "media":
                assert s["media_ref"] == f"media://{doc_id}/{i}"
                assert s["text"] is None


def _seq(rows):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], i)
            for i, s in enumerate(r["spans"])
        ]
        for r in rows
    }


def test_span_sequence_equality(spark):
    nested = nested_from_texts(spark, TEXTS)
    out = process_spans(nested)
    got = _seq(out.collect())
    want = _seq(nested.collect())
    assert got == want  # exact (kind, text, media_ref, order) equality


def test_span_sequence_equality_distributed(spark):
    # same invariant via the distributed mapInPandas synthesis path,
    # with a repartition in between to force a real shuffle, through
    # the production mapInArrow variant
    flat = spark.createDataFrame(list(TEXTS.items()), "doc_id string, text string")
    nested = nested_from_flat(flat).repartition(7)
    out = process_spans_arrow(nested).collect()
    assert _seq(out) == _seq(nested.collect())


def test_all_variants_agree(spark):
    nested = nested_from_texts(spark, TEXTS)
    cols = ["doc_id", "n_text_spans", "n_media_spans", "n_tokens", "n_syllables"]
    a = {tuple(r[c] for c in cols) for r in process_spans(nested).collect()}
    d = {
        tuple(r[c] for c in cols)
        for r in process_spans(nested, use_pandas_udf=False).collect()
    }
    e = {tuple(r[c] for c in cols) for r in process_spans_arrow(nested).collect()}
    assert a == d == e


def test_arrow_span_sequence_equality(spark):
    nested = nested_from_texts(spark, TEXTS)
    assert _seq(process_spans_arrow(nested).collect()) == _seq(nested.collect())


def test_span_metrics(spark):
    nested = nested_from_texts(spark, {"doc1": TEXTS["doc1"]})
    row = process_spans(nested).collect()[0]
    assert row["n_tokens"] == 10
    assert row["n_text_spans"] >= 1
    assert row["n_syllables"] > 0


def test_span_frequency_equals_flat_frequency(spark):
    flat = spark.createDataFrame(list(TEXTS.items()), "doc_id string, text string")
    nested = nested_from_flat(flat)
    a = {(r["word"], r["count"]) for r in span_word_frequency(nested).collect()}
    b = {(r["word"], r["count"]) for r in word_frequency(flat, use_pandas_udf=True).collect()}
    assert a == b


def test_media_spans_untouched_under_repartition(spark):
    texts = {f"d{i}": f"word{i} alpha beta gamma delta epsilon" for i in range(50)}
    nested = nested_from_texts(spark, texts, seed=1)
    out = process_spans(nested.repartition(13)).collect()
    media_in = {
        (r["doc_id"], i, s["media_ref"])
        for r in nested.collect()
        for i, s in enumerate(r["spans"])
        if s["kind"] == "media"
    }
    media_out = {
        (r["doc_id"], i, s["media_ref"])
        for r in out
        for i, s in enumerate(r["spans"])
        if s["kind"] == "media"
    }
    assert media_in == media_out
    assert len(media_in) > 0  # corpus actually contains media spans
