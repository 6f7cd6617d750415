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
from textalyzer_spark.functions.tokenize import tokens_udf


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


def process_spans_arrow(nested: DataFrame) -> DataFrame:
    """mapInArrow variant of :func:`process_spans` (same output
    schema and values), fusing tokenize + syllables + passthrough into
    ONE python pass per Arrow batch.

    The pandas-UDF variant routes every row through ArrowEvalPython,
    which queues the ORIGINAL row (the heavy spans array) in a
    HybridRowQueue while the python result is awaited; a mapInPandas
    variant pays python dict materialization of every span struct in
    both directions. Here the spans column stays a pyarrow ListArray
    end to end (zero-copy passthrough) and python touches only the
    flat kind/text child arrays — the fastest python-tokenizer
    variant and the production default.
    """
    import pyarrow as pa

    from textalyzer_spark.functions.syllables import count_syllables
    from textalyzer_spark.functions.tokenize import tokenize_text

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
            spans = b.column(b.schema.get_field_index("spans"))
            if isinstance(spans, pa.ChunkedArray):
                spans = spans.combine_chunks()
            flat = spans.flatten()
            kinds = flat.field("kind").to_pylist()
            texts = flat.field("text").to_pylist()
            offsets = spans.offsets.to_pylist()
            n_text, n_media, n_tok, n_syl = [], [], [], []
            for i in range(len(offsets) - 1):
                lo, hi = offsets[i], offsets[i + 1]
                t_parts = [
                    texts[j] for j in range(lo, hi) if kinds[j] == "text"
                ]
                n_text.append(len(t_parts))
                n_media.append((hi - lo) - len(t_parts))
                toks = tokenize_text("".join(t_parts))
                n_tok.append(len(toks))
                n_syl.append(sum(count_syllables(t) for t in toks))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("doc_id")),
                    spans,
                    pa.array(n_text, pa.int64()),
                    pa.array(n_media, pa.int64()),
                    pa.array(n_tok, pa.int64()),
                    pa.array(n_syl, pa.int64()),
                ],
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
