"""Corpus keyword statistics — tf-idf keyword extraction per document
and PMI collocation mining over the whole corpus. Both are standard
curation-side primitives of a training-data pipeline: tf-idf surfaces
what each document is ABOUT (topic tagging, inspection, per-domain
term drift), PMI collocations surface the corpus's multi-word units
(tokenizer vocabulary candidates, boilerplate phrase detection).
(No analog in the reference engine; training-data extension family,
SURVEY.md §2.12.)

Exactness contract
------------------
Same recipe as operators/lm.py: ``ln`` is the only transcendental,
computed with glibc ``math.log`` inside an Arrow-batched pandas UDF
(bit-identical to DuckDB ``ln`` on this host — pinned by
tests/test_lm.py::test_glibc_ln_parity) and ONLY over vocabulary /
bigram-TYPE tables, never O(corpus tokens). Log values quantize to
integer micro-nats (``floor(x * 1e6)``); tf-idf scores are then EXACT
``tf * idf_micro`` int64 products, and PMI runs the whole probability
ratio as one fixed IEEE division chain before its single ``ln``.

Scale shape (100 TB)
--------------------
tf-idf: one (doc, token) histogram shuffle + one token histogram
shuffle, idf over the vocab table only, top-k per doc via a window
PARTITIONED BY doc_id (parallel — never a global sort). PMI: one
bigram histogram shuffle + two (optionally broadcast) unigram joins,
``min_count`` prunes the type table before the UDF, global top-k is a
TakeOrderedAndProject (no full sort).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from textalyzer_spark.functions.tokenize import ws_tokens
from textalyzer_spark.operators.shingles import doc_feature_counts

LL_SCALE = 1_000_000


def tfidf_topk_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` terms per document by smoothed tf-idf.

    ``idf(t) = ln((N + 1) / (df_t + 1))`` (>= 0 since ``df_t <= N``),
    quantized to micro-nats over the vocabulary table; per-term score
    is the exact int64 product ``tf * idf_micro``. Ties break
    ``(score_micro DESC, tok ASC)``; ubiquitous terms (``df_t = N``,
    idf 0) still rank, deterministically, by token.

    Output: ``(doc_id, tok, tf bigint, score_micro bigint, rank int)``
    ordered by ``(doc_id, rank)``.
    """
    # per-doc term frequencies straight from the per-document kernel:
    # its (doc_id, tok, tf) rows are the tf table with NO explode and
    # NO aggregation shuffle, and df_t is a plain count(*) of
    # one-per-doc rows (no two-phase count_distinct)
    tf = doc_feature_counts(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        ws_tokens,
    ).select("doc_id", F.col("feature").alias("tok"), F.col("n").alias("tf"))
    tf = tf.localCheckpoint()  # vocab roll-up + scoring reuse
    n_docs = df.select(F.col(id_col)).distinct().count()

    denom = float(n_docs + 1)

    @F.pandas_udf("long")
    def idf_micro(dft: pd.Series) -> pd.Series:
        return pd.Series(
            [math.floor(math.log(denom / (int(d) + 1)) * LL_SCALE) for d in dft],
            dtype="int64",
        )

    vocab = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("dft"))
        .select("tok", idf_micro(F.col("dft")).alias("idf_micro"))
    )
    scored = tf.join(vocab, "tok").select(
        "doc_id",
        "tok",
        "tf",
        (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("doc_id", "rank")
    )


def collocations_pmi(
    df: DataFrame,
    min_count: int = 5,
    k: int = 50,
    text_col: str = "text",
    broadcast_unigrams: bool = True,
) -> DataFrame:
    """Top-``k`` adjacent-bigram collocations by pointwise mutual
    information, restricted to bigrams seen at least ``min_count``
    times.

    ``pmi = ln((c2 / N_bi) / ((c_x / N_uni) * (c_y / N_uni)))`` — the
    full ratio is ONE fixed chain of IEEE divisions/multiplies (each
    exactly mirrored by the oracle) followed by a single glibc ``ln``,
    floored to micro-nats. Ties break ``(pmi DESC, ctx ASC, nxt
    ASC)``.

    Output: ``(ctx, nxt, cnt bigint, pmi_micro bigint)`` ordered by
    ``(pmi_micro DESC, ctx, nxt)``, at most ``k`` rows. Set
    ``broadcast_unigrams=False`` when a web-scale vocabulary outgrows
    the driver (shuffle joins instead).
    """
    from textalyzer_spark.operators.lm import _batch_ngram_counts

    # ONE kernel pass carries both histograms as batch-level counts
    # (round 8): replaces the token-array corpus checkpoint + two
    # explode+hash-agg chains (one with an interpreted zip_with)
    # whose shuffles carried token occurrences; the shuffled rows are
    # now bounded by per-batch vocabulary, and the two scalar totals
    # collapse into one action over the checkpoint
    c = _batch_ngram_counts(df, text_col).localCheckpoint()
    is_uni = F.col("nxt").isNull()
    trow = c.agg(
        F.coalesce(F.sum(F.when(is_uni, F.col("cnt"))), F.lit(0)),
        F.coalesce(F.sum(F.when(~is_uni, F.col("cnt"))), F.lit(0)),
    ).first()
    n_uni, n_bi = int(trow[0]), int(trow[1])

    uni = (
        c.filter(is_uni)
        .groupBy("tok")
        .agg(F.sum("cnt").cast("long").alias("cnt1"))
    )
    bi = (
        c.filter(~is_uni)
        .groupBy(F.col("tok").alias("ctx"), "nxt")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    if n_bi == 0 or n_uni == 0:
        return df.sparkSession.createDataFrame(
            [], "ctx string, nxt string, cnt bigint, pmi_micro bigint"
        )

    nb = float(n_bi)
    nu = float(n_uni)

    @F.pandas_udf("long")
    def pmi_micro(c2: pd.Series, cx: pd.Series, cy: pd.Series) -> pd.Series:
        out = []
        for a, b, c in zip(c2, cx, cy):
            ratio = (int(a) / nb) / ((int(b) / nu) * (int(c) / nu))
            out.append(math.floor(math.log(ratio) * LL_SCALE))
        return pd.Series(out, dtype="int64")

    ux = uni.select(F.col("tok").alias("ctx"), F.col("cnt1").alias("cx"))
    uy = uni.select(F.col("tok").alias("nxt"), F.col("cnt1").alias("cy"))
    if broadcast_unigrams:
        ux, uy = F.broadcast(ux), F.broadcast(uy)
    typed = (
        bi.where(F.col("cnt") >= min_count)
        .join(ux, "ctx")
        .join(uy, "nxt")
        .select(
            "ctx",
            "nxt",
            "cnt",
            pmi_micro(F.col("cnt"), F.col("cx"), F.col("cy")).alias("pmi_micro"),
        )
    )
    return typed.orderBy(
        F.desc("pmi_micro"), F.asc("ctx"), F.asc("nxt")
    ).limit(k)
