"""BM25 ranked retrieval over the corpus — the curation-side search
primitive of a training-data pipeline (find the documents most
relevant to a probe query: benchmark leakage triage, targeted
inspection, topic pulls). Lucene-style BM25 with the
``ln(1 + (N - df + 0.5)/(df + 0.5))`` non-negative idf.
(No reference analog; training-data extension family, SURVEY.md
§2.12.)

Exactness contract: ``idf`` is the only transcendental and is
computed ONCE PER QUERY TERM on the driver with glibc ``math.log``
(bit-identical to DuckDB ``ln`` — the operators/lm.py pin). The
tf-normalization chain is a fixed sequence of IEEE +,-,*,/ written
identically in the engine (JVM codegen) and the oracle — basic double
arithmetic is bit-exact across JVM/DuckDB; only transcendentals
differ. Each (doc, term) contribution is floored to int64
micro-units, so per-doc scores are exact integer sums with
deterministic ``(score DESC, doc_id ASC)`` top-k ties.

Scale shape: one token scan filtered to the query terms (a handful of
tokens — the filter prunes almost everything before the shuffle), a
per-term doc-frequency aggregate collected to the driver (≤ |terms|
rows), one (doc, term) tf aggregate, a broadcast idf join, one final
per-doc sum + global top-k (TakeOrderedAndProject — no full sort).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents by BM25 score for a bag of query terms.

    Output: ``(doc_id, score_micro bigint, n_terms_matched int)``,
    ranked by ``(score_micro DESC, doc_id ASC)``, matching docs only.
    """
    from textalyzer_spark.functions.tokenize import ws_tokens_col

    toks_arr = ws_tokens_col(text_col)
    counts = df.select(
        F.col(id_col).alias("doc_id"), F.size(toks_arr).cast("long").alias("dl")
    )
    counts = counts.localCheckpoint()  # scalars + tf join reuse (multi-ACTION rule)
    row = counts.agg(F.count("*"), F.coalesce(F.sum("dl"), F.lit(0))).first()
    n_docs, total = int(row[0]), int(row[1])
    if n_docs == 0 or not query_terms:
        return df.sparkSession.createDataFrame(
            [], "doc_id bigint, score_micro bigint, n_terms_matched int"
        )
    avgdl = total / n_docs  # exact int ratio -> double, identical in SQL

    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(toks_arr).alias("tok")
    ).where(F.col("tok").isin(query_terms))

    dft = {
        r["tok"]: r["dft"]
        for r in toks.groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("dft"))
        .collect()
    }  # ≤ |query_terms| rows
    idf = [
        (t, math.log(1.0 + ((n_docs - dft.get(t, 0)) + 0.5) / (dft.get(t, 0) + 0.5)))
        for t in sorted(set(query_terms))
    ]
    idf_df = F.broadcast(
        df.sparkSession.createDataFrame(idf, "tok string, idf double")
    )

    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").cast("long").alias("tf"))
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    contrib = (
        F.col("idf")
        * (F.lit(k1 + 1.0) * tf_d)
        / (tf_d + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dl_d / F.lit(avgdl))))
    )
    scored = (
        tf.join(idf_df, "tok")
        .join(counts, "doc_id")
        .select(
            "doc_id",
            F.floor(contrib * F.lit(1_000_000.0)).cast("long").alias("c_micro"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c_micro").alias("score_micro"),
            F.count("*").cast("int").alias("n_terms_matched"),
        )
    )
    return scored.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc()).limit(k)
