"""Span-sequence equality — THE correctness gate of BASELINE.json:
per-document output spans must match input on (kind, text, media_ref,
order), media spans untouched (FIXTURES.md §1.1)."""

from __future__ import annotations

import random
from contextlib import contextmanager

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from textalyzer_spark.corpus import (
    NESTED_SCHEMA,
    build_spans,
    nested_from_flat,
    nested_from_texts,
)
from textalyzer_spark.functions.syllables import count_syllables
from textalyzer_spark.functions.tokenize import SLICE_ROWS, tokenize_text
from textalyzer_spark.operators.frequency import word_frequency
from textalyzer_spark.operators.spans import (
    _span_metrics,
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


METRICS = ["n_text_spans", "n_media_spans", "n_tokens", "n_syllables"]


def _metrics(df):
    return {r["doc_id"]: tuple(r[c] for c in METRICS) for r in df.collect()}


def _python_metrics(spans):
    """METRICS of one doc in plain Python, as process_spans defines them."""
    if spans is None:
        return (None, None, 0, 0)
    text = [s for s in spans if s and s["kind"] == "text"]
    toks = tokenize_text("".join(s["text"] or "" for s in text))
    n_media = sum(1 for s in spans if s and s["kind"] == "media")
    return (len(text), n_media, len(toks), sum(map(count_syllables, toks)))


def _span(i, kind, text=None):
    ref = None if kind == "text" else f"media://{i}"
    return {"kind": kind, "text": text, "media_ref": ref, "offset": i}


def _spans(*parts):
    """A str part is a text span, None a media span."""
    return [
        _span(i, "media") if p is None else _span(i, "text", p)
        for i, p in enumerate(parts)
    ]


def test_arrow_kernel_matches_twin_on_hostile_spans(spark):
    rows = [
        # a text span with NULL text joins as "" in both variants
        ("null_text", [_span(0, "text", "Hello"), _span(1, "text")]),
        # only kind == "media" counts as media
        ("other_kinds", [_span(0, "image"), _span(1, None)]),
        ("null_spans", None),
    ]
    nested = spark.createDataFrame(rows, NESTED_SCHEMA)
    want = {
        "null_text": (2, 0, 1, 2),
        "other_kinds": (0, 0, 0, 0),
        "null_spans": (None, None, 0, 0),
    }
    assert _metrics(process_spans(nested)) == want
    assert _metrics(process_spans_arrow(nested)) == want


@contextmanager
def _arrow_batch_rows(spark, n):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="session")
def mixed_corpus(spark):
    """One partition of ASCII and non-ASCII docs, more rows than one
    kernel slice, with the hostile docs on both sides of the first
    slice seam; plus the per-doc metrics summed in plain Python."""
    special = [
        ("caps", _spans("HELLO World, it's 42 o'clock!! ", "Don't-stop x2y.")),
        ("split", _spans("a won", None, "derful DAY")),
        # empty rows between two letters: the row boundary still splits
        ("no_spans", []),
        ("empty_text", _spans("")),
        (
            "long",
            _spans(" ".join(f"Word{i % 7} it's, STRING" for i in range(1500))),
        ),
        ("split_utf8", _spans("na", None, "ïve café")),
        ("whitespace", _spans("  \t\n ", None, " ")),
        ("greek", _spans("ΟΔΥΣΣΕΥΣ ", "σοφός")),
    ]
    rng = random.Random(7)
    vocab = ["the", "Quick", "brown", "fox's", "jumps", "over", "lazy", "dog."]
    filler = [
        (
            f"f{i}",
            build_spans(
                f"f{i}",
                " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
                + (" Ζεύς" if i % 50 == 0 else ""),
            ),
        )
        for i in range(SLICE_ROWS + 40)
    ]
    rows = special + filler[: SLICE_ROWS - 4] + special + filler[SLICE_ROWS - 4 :]
    rows = [(f"{k}_{i}", v) for i, (k, v) in enumerate(rows)]
    want = {doc_id: _python_metrics(spans) for doc_id, spans in rows}
    return spark.createDataFrame(rows, NESTED_SCHEMA).coalesce(1), want


def test_columnar_and_fallback_rows_agree_with_twin(spark, mixed_corpus):
    nested, want = mixed_corpus
    assert _metrics(process_spans(nested)) == want
    # 7-row batches mix ASCII and fallback rows in every batch; the
    # default batch puts all rows in one, across a slice seam
    for batch_rows in (7, 8192):
        with _arrow_batch_rows(spark, batch_rows):
            assert _metrics(process_spans_arrow(nested)) == want, batch_rows


def test_span_kernel_matches_python_on_random_slices():
    """The kernel body alone (no Spark) on random slices of random
    hostile rows: NULL spans, NULL spans inside, other kinds, NULL
    text, empty rows between letters, words split across spans."""
    parts = ["Hello", "wor", "ld", "Σίσυφος", "it's", "3abc", " ", "", "naïve", "le"]
    kinds = ["text", "text", "text", "media", "image", None]
    s = pa.string()
    span_type = pa.list_(
        pa.struct([("kind", s), ("text", s), ("media_ref", s), ("offset", pa.int32())])
    )
    for seed in range(20):
        rng = random.Random(seed)
        rows = []
        for _ in range(rng.randint(1, 300)):
            if rng.random() < 0.05:
                rows.append(None)
                continue
            spans = []
            for i in range(rng.randint(0, 5)):
                kind = rng.choice(kinds)
                text = None
                if kind == "text" and rng.random() > 0.1:
                    text = "".join(
                        rng.choice(parts) + rng.choice(["", " ", "."])
                        for _ in range(rng.randint(0, 4))
                    )
                spans.append(
                    None
                    if rng.random() < 0.05
                    else {"kind": kind, "text": text, "media_ref": None, "offset": i}
                )
            rows.append(spans)
        arr = pa.array(rows, span_type)
        lo = rng.randrange(len(rows))
        hi = rng.randint(lo, len(rows))
        got = list(zip(*(a.to_pylist() for a in _span_metrics(arr.slice(lo, hi - lo)))))
        assert got == [_python_metrics(r) for r in rows[lo:hi]], seed
