"""Span pipeline over the canonical nested table
``documents(doc_id, spans array<struct<kind,text,media_ref,offset>>)``.

North_star contract: text-kind spans flow through the Arrow-batched
tokenizer into frequency maps and syllable-count readability metrics;
media-kind spans are carried through UNTOUCHED; the emitted
per-document span sequence must satisfy exact
``(kind, text, media_ref, order)`` equality against the input.

The pipeline deliberately explodes spans, processes them, and
reassembles the sequence (rather than passing the array column through
opaquely) — that is the shape the 100 TB job has, and the equality
invariant then actually proves order preservation across the shuffle.

Reference analog: per-file analysis loops in
/root/reference/textalyzer/src/lib.rs:35-56 (histogram) — the
reference has no media concept; media passthrough is the north_star
extension for interleaved corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from textalyzer_spark.functions.syllables import syllables_col
from textalyzer_spark.functions.tokenize import SLICE_ROWS, tokens_udf


def explode_spans(nested: DataFrame) -> DataFrame:
    """``(doc_id, pos, kind, text, media_ref, offset)`` — one row per
    span, ``pos`` = 0-based position in the original array (the
    ``order`` of the equality invariant)."""
    return nested.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select("doc_id", "pos", "span.kind", "span.text", "span.media_ref", "span.offset")


def process_spans(nested: DataFrame, use_pandas_udf: bool = True) -> DataFrame:
    """Tokenize text spans (Arrow-batched pandas UDF — the mandated
    no-per-row-Python path), pass media spans through untouched.

    Returns ``(doc_id, spans, n_text_spans, n_media_spans, n_tokens,
    n_syllables)`` where ``spans`` is bit-identical to the input
    sequence on (kind, text, media_ref, order).

    ZERO-SHUFFLE plan: the spans column is carried through untouched
    (equality by construction) and all metrics are higher-order
    functions + one Arrow-batched UDF over the row — the whole
    pipeline is narrow, so at 10^12 documents it is a single
    map-stage with no exchange at all. Spans were synthesized at
    whitespace boundaries (corpus.py), so tokenizing the concatenated
    text spans equals tokenizing per-span.

    :func:`process_spans_arrow` is the mapInArrow production twin
    (same output schema and values).
    """
    text_concat = F.array_join(
        F.transform(
            F.filter("spans", lambda s: s["kind"] == "text"),
            lambda s: s["text"],
        ),
        "",
    )
    kinds = F.transform("spans", lambda s: s["kind"])
    # the Arrow-batched UDF is the default (input_hint mandate); the
    # JVM tokenizer is the all-codegen variant for comparison —
    # identical output on any corpus both Unicode tables agree on
    from textalyzer_spark.functions.tokenize import tokens_col

    tokens = tokens_udf(text_concat) if use_pandas_udf else tokens_col(text_concat)
    toked = nested.select(
        "doc_id",
        "spans",
        F.size(F.filter(kinds, lambda k: k == "text")).alias("n_text_spans"),
        F.size(F.filter(kinds, lambda k: k == "media")).alias("n_media_spans"),
        tokens.alias("tokens"),
    )
    return toked.select(
        "doc_id",
        "spans",
        F.col("n_text_spans").cast("bigint"),
        F.col("n_media_spans").cast("bigint"),
        F.size("tokens").cast("bigint").alias("n_tokens"),
        F.aggregate(
            F.transform("tokens", syllables_col), F.lit(0), lambda acc, x: acc + x
        )
        .cast("bigint")
        .alias("n_syllables"),
    )


def _span_metrics(spans):
    """``(n_text_spans, n_media_spans, n_tokens, n_syllables)`` arrays
    for one ListArray of span structs, with :func:`process_spans`'
    values: kinds other than text/media count in neither span column,
    a NULL ``spans`` row has NULL span counts and no tokens, and a NULL
    text inside a text span joins as ``""``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from textalyzer_spark.functions.syllables import count_syllables
    from textalyzer_spark.functions.tokenize import token_table

    n = len(spans)
    lengths = pc.list_value_length(spans).fill_null(0).to_numpy()
    span_at = np.zeros(n + 1, np.int32)
    np.cumsum(lengths, out=span_at[1:])
    flat = pc.list_flatten(spans)
    # flatten() merges a NULL span's validity into its fields
    fields = flat.flatten()
    kind, text = (fields[flat.type.get_field_index(f)] for f in ("kind", "text"))
    is_text = pc.fill_null(pc.equal(kind, "text"), False)
    is_media = pc.fill_null(pc.equal(kind, "media"), False)
    null_spans = spans.is_null().to_numpy(zero_copy_only=False)
    n_spans = []
    for is_kind in (is_text, is_media):
        cum = np.zeros(len(flat) + 1, np.int64)
        np.cumsum(is_kind.to_numpy(zero_copy_only=False), out=cum[1:])
        n_spans.append(pa.array(np.diff(cum[span_at]), pa.int64(), mask=null_spans))

    text = pc.if_else(is_text, pc.fill_null(text, ""), "")
    joined = pc.binary_join(pa.ListArray.from_arrays(pa.array(span_at), text), "")
    tokens, row_tok = token_table(joined)
    # count_syllables runs once per distinct token
    enc = pc.dictionary_encode(tokens)
    syl_of = np.fromiter(
        (count_syllables(w) for w in enc.dictionary.to_pylist()),
        np.int64,
        count=len(enc.dictionary),
    )
    syl_cum = np.zeros(len(tokens) + 1, np.int64)
    np.cumsum(syl_of[enc.indices.to_numpy()], out=syl_cum[1:])
    return (*n_spans, pa.array(np.diff(row_tok)), pa.array(np.diff(syl_cum[row_tok])))


def process_spans_arrow(nested: DataFrame) -> DataFrame:
    """mapInArrow production twin of :func:`process_spans` (same output
    schema and values): tokenize + syllables + span passthrough in ONE
    python pass per Arrow batch, without a per-document Python loop.

    The spans column stays a pyarrow ListArray end to end (zero-copy
    passthrough): a pandas UDF would queue every ORIGINAL row (the heavy
    spans array) in ArrowEvalPython's HybridRowQueue while the python
    result is awaited, and mapInPandas would build a python dict per
    span struct in both directions. Each batch is cut into zero-copy slices of
    ``SLICE_ROWS`` rows, which bound the kernel's per-byte temporaries.
    Per slice, each document's text-kind children are joined with
    ``binary_join`` (media and NULL text join as ``""``, so a word split
    across two text spans counts once), and the joined texts go through
    :func:`~textalyzer_spark.functions.tokenize.token_table`. Rows whose
    joined text is ASCII are tokenized with numpy over their UTF-8 buffer, and
    :func:`count_syllables` runs once per distinct token; per-document
    totals are differences of cumulative sums. A non-ASCII row falls
    back, alone, to :func:`tokenize_text`, whose ``jvm_lower`` casing is
    Unicode-exact; one such row does not take its batch off the
    columnar path.
    """
    import pyarrow as pa

    # id type follows the input (string fixtures AND bigint ids, e.g.
    # the html_to_spans corpus) — a hardcoded string schema makes the
    # JVM read an int64 arrow vector as UTF8 and fail
    id_type = dict(nested.dtypes).get("doc_id", "string")
    schema_str = (
        f"doc_id {id_type}, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, n_text_spans bigint, "
        "n_media_spans bigint, n_tokens bigint, n_syllables bigint"
    )

    def run(batches):
        for b in batches:
            parts = [
                _span_metrics(b.slice(i, SLICE_ROWS).column("spans"))
                for i in range(0, b.num_rows, SLICE_ROWS)
            ]
            metrics = [
                pa.concat_arrays([p[k] for p in parts]) if parts else pa.array([], pa.int64())
                for k in range(4)
            ]
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), b.column("spans"), *metrics],
                names=[
                    "doc_id",
                    "spans",
                    "n_text_spans",
                    "n_media_spans",
                    "n_tokens",
                    "n_syllables",
                ],
            )

    return nested.mapInArrow(run, schema_str)


def span_word_frequency(nested: DataFrame) -> DataFrame:
    """Corpus word-frequency over text spans only — must equal the
    flat-table histogram when the nested table was synthesized from it
    (spans split at whitespace boundaries, corpus.py)."""
    spans = explode_spans(nested).filter(F.col("kind") == "text")
    return (
        spans.select(F.explode(tokens_udf(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("word"))
    )
