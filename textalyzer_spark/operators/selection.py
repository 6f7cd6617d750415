"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"):
score every raw document by how much its hashed-n-gram feature
profile looks like a TARGET distribution (a trusted/high-quality
slice) versus the RAW corpus distribution, then keep the
target-leaning documents. The standard recipe for steering a
web-scale crawl toward a quality domain without a trained classifier.
(No reference analog; training-data extension family, SURVEY.md
§2.12.)

Features are unigrams + space-joined bigrams hashed into
``n_buckets`` via the engine's cross-engine base hash md5-LE8
(== DuckDB ``md5_number_upper`` — dedup.py idiom), so the oracle
re-derives identical buckets. Both distributions are add-one
smoothed; the per-bucket log-ratio
``lam(b) = floor(ln(p_target)*1e6) - floor(ln(p_raw)*1e6)`` is
computed with glibc ``math.log`` over the ≤ n_buckets distinct-bucket
table only (the operators/lm.py exactness recipe), and each
document's importance weight is the exact int64 dot product
``sum(cnt_doc(b) * lam(b))``.

Scale shape: one feature-explode pass with a (doc, bucket) hash agg,
two bucket roll-ups bounded by n_buckets, a broadcast lam join, one
final per-doc sum. The is_target flag rides the first projection so
target and raw histograms come from the SAME pass.
"""

from __future__ import annotations

import math
from functools import partial

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from textalyzer_spark.functions.hashing import md5_le8
from textalyzer_spark.functions.tokenize import kgrams, ws_tokens, ws_tokens_col
from textalyzer_spark.operators.shingles import doc_feature_counts

LL_SCALE = 1_000_000


def _doc_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, is_target, feat): unigrams + bigrams per document, as
    JVM occurrence rows. No engine path uses it: it stays as the JVM
    reference the kernel histogram is checked against
    (tests/test_retrieval_selection.py)."""
    toks = ws_tokens_col(text_col)
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col("is_target"), toks.alias("toks")
    )
    uni = base.select("doc_id", "is_target", F.explode("toks").alias("feat"))
    bi = (
        base.where(F.size("toks") >= 2)
        .select(
            "doc_id",
            "is_target",
            F.explode(
                F.zip_with(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1),
                    F.slice(F.col("toks"), 2, F.size("toks") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("feat"),
        )
    )
    return uni.unionByName(bi)


def _bucket_features(text: str, n_buckets: int) -> list[int]:
    """A document's DSIR features, one per occurrence: its whitespace
    unigrams and space-joined bigrams, each hashed to
    ``md5_le8(f) % n_buckets`` (functions/hashing.py — the exact value
    the JVM ``md5_le8_col`` + pmod chain produces). Shared by the batch
    histogram and :func:`dsir_score_stateless`."""
    toks = ws_tokens(text)
    return [md5_le8(f) % n_buckets for f in toks + kgrams(toks, 2)]


def _doc_bucket_counts(
    flagged: DataFrame, n_buckets: int, id_col: str, text_col: str
) -> DataFrame:
    """``(doc_id, is_target, bucket, cnt)`` — each document's hashed
    uni+bigram feature-bucket histogram from the per-document kernel
    (shingles.doc_feature_counts): no per-occurrence feature explode,
    md5-hex-conv chain or (doc, bucket) hash-agg shuffle. Row-set
    identical to ``_doc_features`` → hash → groupBy(doc_id, bucket)."""
    return doc_feature_counts(
        flagged.select(
            F.col(id_col).alias("doc_id"),
            "is_target",
            F.col(text_col).alias("text"),
        ),
        partial(_bucket_features, n_buckets=n_buckets),
        "long",
    ).withColumnsRenamed({"feature": "bucket", "n": "cnt"})


def _lam_udf(tt: int, tr: int, n_buckets: int):
    """bucket-level importance log-ratio in micro-nats (glibc ln)."""
    denom_t = float(tt + n_buckets)
    denom_r = float(tr + n_buckets)

    @F.pandas_udf("long")
    def lam(tc: pd.Series, rc: pd.Series) -> pd.Series:
        out = [
            math.floor(math.log((int(t) + 1) / denom_t) * LL_SCALE)
            - math.floor(math.log((int(r) + 1) / denom_r) * LL_SCALE)
            for t, r in zip(tc, rc)
        ]
        return pd.Series(out, dtype="int64")

    return lam


def dsir_weights(
    df: DataFrame,
    target_filter: Column,
    n_buckets: int = 4096,
    min_weight_micro: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document DSIR importance weight and the keep decision.

    Output: ``(doc_id, n_feats int, weight_micro bigint,
    selected boolean)`` — ``selected`` iff
    ``weight_micro >= min_weight_micro`` (default 0: the document
    leans target-ward). Every input row keeps its output row;
    feature-less documents carry weight 0.
    """
    flagged = df.withColumn("is_target", target_filter)
    # per-doc bucket histograms straight from the kernel (round 8):
    # the previous shape exploded every uni+bigram occurrence, ran
    # the md5-hex-conv chain per occurrence in the JVM, and shuffled
    # the occurrence stream into a (doc, bucket) hash agg
    dbc = _doc_bucket_counts(
        flagged, n_buckets, id_col, text_col
    ).localCheckpoint()  # reused: two roll-ups + scalars + final join
    rawc = dbc.groupBy("bucket").agg(F.sum("cnt").alias("rc"))
    tgtc = (
        dbc.where(F.col("is_target"))
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("tc"))
    )
    buckets = (
        rawc.join(tgtc, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("tc"), F.lit(0).cast("long")).alias("tc"),
            "rc",
        )
        .localCheckpoint()  # ≤ n_buckets rows; feeds scalars AND lam
    )
    row = buckets.agg(F.sum("tc"), F.sum("rc")).first()
    tt, tr = int(row[0] or 0), int(row[1] or 0)
    lam = buckets.select(
        "bucket",
        _lam_udf(tt, tr, n_buckets)(F.col("tc"), F.col("rc")).alias("lam"),
    )
    per = (
        dbc.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("int").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("lam")).alias("weight_micro"),
        )
    )
    out = df.select(F.col(id_col).alias("doc_id")).join(per, "doc_id", "left")
    w = F.coalesce(F.col("weight_micro"), F.lit(0).cast("long"))
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
        w.alias("weight_micro"),
        (w >= F.lit(int(min_weight_micro))).alias("selected"),
    )


# --------------------------------------------------------------------------
# frozen-model path (streaming twin)
# --------------------------------------------------------------------------


def dsir_model(
    df: DataFrame,
    target_filter: Column,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, int]:
    """Fit the DSIR bucket model alone — the persist-then-apply split
    (same shape as ``lm.train_unigram_lm`` + ``model_as_map``):
    returns ``(lam, lam_unseen_micro)`` where ``lam`` is the
    ``(bucket, lam)`` importance table (≤ n_buckets rows) and
    ``lam_unseen_micro`` the log-ratio a NEVER-SEEN bucket gets under
    the same add-one smoothing (both distributions at count 0) — the
    case that cannot arise when scoring the training corpus itself
    but appears immediately on a live stream."""
    flagged = df.withColumn("is_target", target_filter)
    # kernel-side per-doc histograms (round 8, see dsir_weights):
    # the bucket roll-up aggregates pre-counted (doc, bucket) rows,
    # not the raw occurrence stream
    fb = _doc_bucket_counts(flagged, n_buckets, id_col, text_col)
    buckets = (
        fb.groupBy("bucket")
        .agg(
            F.sum("cnt").cast("long").alias("rc"),
            F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("tc"),
        )
        .localCheckpoint()  # scalars + lam projection (multi-ACTION rule)
    )
    row = buckets.agg(F.sum("tc"), F.sum("rc")).first()
    tt, tr = int(row[0] or 0), int(row[1] or 0)
    lam = buckets.select(
        "bucket",
        _lam_udf(tt, tr, n_buckets)(F.col("tc"), F.col("rc")).alias("lam"),
    )
    lam_unseen = math.floor(
        math.log(1.0 / float(tt + n_buckets)) * LL_SCALE
    ) - math.floor(math.log(1.0 / float(tr + n_buckets)) * LL_SCALE)
    return lam, lam_unseen


def lam_as_map(lam: DataFrame) -> dict[int, int]:
    """Collect a fitted ``(bucket, lam)`` table to the frozen dict a
    stateless scorer broadcasts — bounded by n_buckets."""
    return {int(r["bucket"]): int(r["lam"]) for r in lam.collect()}


def dsir_score_stateless(
    df: DataFrame,
    lam_map: dict[int, int],
    lam_unseen_micro: int,
    n_buckets: int = 4096,
    min_weight_micro: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The streaming-compatible DSIR scorer: identical output schema
    to :func:`dsir_weights` but as a pure per-row projection — no
    explode, no aggregation — so it runs append-mode on an unbounded
    stream. Feature hashing is Python ``md5_le8(f) % n_buckets``
    (functions/hashing.py — the same value the JVM ``md5_le8_col`` +
    pmod chain produces) over the batch histogram's own
    :func:`_bucket_features`. Bit-identical to the batch scorer on the
    training corpus (pinned by tests); unseen buckets score
    ``lam_unseen_micro``."""
    bc = df.sparkSession.sparkContext.broadcast(
        (dict(lam_map), int(lam_unseen_micro), int(n_buckets))
    )

    @F.pandas_udf("struct<n_feats: int, weight_micro: bigint>")
    def sc(texts: pd.Series) -> pd.DataFrame:
        lam, unseen, nb = bc.value
        ns, ws = [], []
        for t in texts:
            feats = _bucket_features(t, nb)
            ns.append(len(feats))
            ws.append(sum(lam.get(b, unseen) for b in feats))
        return pd.DataFrame({"n_feats": ns, "weight_micro": ws})

    base = df.select(
        F.col(id_col).alias("doc_id"), sc(F.col(text_col)).alias("s")
    ).select("doc_id", "s.n_feats", "s.weight_micro")
    return base.select(
        "doc_id",
        "n_feats",
        "weight_micro",
        (F.col("weight_micro") >= F.lit(int(min_weight_micro))).alias("selected"),
    )
