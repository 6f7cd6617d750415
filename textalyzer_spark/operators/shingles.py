"""Token k-shingling — the seed stage of duplication detection
(SURVEY.md §2 J1: the reference's line-content index at
/root/reference/textalyzer/src/duplication.rs:85-125, generalized to
token n-grams per BASELINE.json north_star "n-gram shingling with
rolling-hash duplicate detection").

The shingle expansion runs in the Arrow-batched per-document
feature-count kernel :func:`doc_feature_counts` (no window shuffle —
shingling is per-document so it rides the scan partitioning; the only
shuffle is the final groupBy on the shingle key). The same kernel
counts tf-idf terms, DSIR feature buckets and the contamination and
novelty n-grams.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable, Hashable, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from textalyzer_spark.functions.tokenize import kgrams, tokenize_text


def doc_feature_counts(
    df: DataFrame,
    features: Callable[[str], Iterable[Hashable]],
    feature_type: str = "string",
) -> DataFrame:
    """The per-document feature-count kernel: one output row per
    (input row, distinct value of ``features(text)``), holding the
    input's non-``text`` columns, then ``feature`` (Spark type
    ``feature_type``) and ``n bigint``, its occurrence count in that
    document. Rows with no features emit nothing.

    Arrow-batched (``mapInPandas``): the Catalyst transform/slice/
    concat_ws shingle expansion runs interpreted (~10 s for 260k
    shingles at sf0.1). Counting per document needs no
    cross-partition merge, so the kernel replaces an occurrence
    explode + ``groupBy(doc, feature)`` shuffle: roll-ups sum ``n``
    for occurrence totals, and ``count(*)`` is the document frequency
    with no distinct aggregate.

    Precondition: one input row per document (a unique ``doc_id``).
    Rows are counted per input row, so a ``doc_id`` on two rows yields
    two rows per feature and double-counts every document frequency
    built on them.

    No output column takes pandas' inferred dtype: the carried columns
    are a positional take of the input's own (Arrow-converted)
    columns, ``feature`` is ``object`` and ``n`` ``int64``. A batch
    whose rows all have no features yields empty columns, and pandas'
    default float64 empty column does not convert to every Arrow
    type."""
    import pandas as pd

    carry = [c for c in df.columns if c != "text"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows, feats, ns = [], [], []
            for i, text in enumerate(pdf["text"]):
                c = Counter(features(text or ""))
                rows.extend([i] * len(c))
                feats.extend(c.keys())
                ns.extend(c.values())
            out = pdf[carry].take(rows).reset_index(drop=True)
            out["feature"] = pd.Series(feats, dtype="object")
            out["n"] = pd.Series(ns, dtype="int64")
            yield out

    types = dict(df.dtypes)
    schema = ", ".join(
        [f"`{c}` {types[c]}" for c in carry]
        + [f"feature {feature_type}", "n bigint"]
    )
    return df.mapInPandas(run, schema)


def token_kgrams(k: int) -> Callable[[str], list[str]]:
    """``text -> kgrams(tokenize_text(text), k)``: the token shingles
    of one document, the feature function of every shingle consumer
    of :func:`doc_feature_counts`."""
    return lambda text: kgrams(tokenize_text(text), k)


def _doc_kgram_counts(
    df: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """``(doc_id, shingle, n)`` — each document's distinct token
    ``k``-grams with their in-doc occurrence counts."""
    return doc_feature_counts(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        token_kgrams(k),
    ).withColumnRenamed("feature", "shingle")


def token_shingle_duplicates(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Shingles shared by >1 document:
    ``(shingle, n_occurrences bigint, n_docs bigint)``.

    Equivalent to the reference's duplicate-line seed set
    (duplication.rs:117-125) with HAVING over distinct docs. The
    kernel's rows are one per (document, shingle), so ``n_docs`` is a
    plain ``count(*)`` and ``n_occurrences`` a sum of ``n``; the one
    exchange is the hash partitioning on ``shingle``.
    """
    return (
        doc_feature_counts(
            df.select(F.col(text_col).alias("text")), token_kgrams(k)
        )
        .groupBy(F.col("feature").alias("shingle"))
        .agg(
            F.sum("n").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_occurrences"), F.asc("shingle"))
    )
