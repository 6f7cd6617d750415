"""N-gram language-model perplexity scoring — the CCNet-shaped
quality-filter stage (Wenzek et al. 2020, "CCNet: Extracting High
Quality Monolingual Datasets from Web Crawl Data"): train a smoothed
LM on a reference corpus, score every candidate document by its
average per-token negative log-likelihood, and keep the low-
perplexity (fluent) tail. CCNet plugs a 5-gram KenLM; this module
implements the same pipeline shape with distributed add-one-smoothed
unigram and interpolated-bigram models so the whole path — training
histogram, scoring join, filter — is expressible as Spark relational
ops and value-exact against a DuckDB oracle. (No analog in the
reference engine; training-data extension family, SURVEY.md §2.12.)

Exactness contract (cross-engine bit-exact floats)
--------------------------------------------------
``ln`` is the only transcendental. Measured on this host (pinned by
``tests/test_lm.py::test_glibc_ln_parity``): DuckDB's ``ln`` is
bit-identical to glibc ``math.log`` on doubles, while BOTH JVM
``F.log`` and numpy's SIMD ``np.log`` differ from glibc in the last
ulp on ~7%/~21% of inputs. So:

- every ``ln`` is computed with ``math.log`` inside an Arrow-batched
  pandas UDF, and ONLY over the vocabulary table (O(vocab), never
  O(corpus tokens));
- each log-probability is quantized to integer micro-nats
  ``floor(ln(p) * 1e6)`` — ``floor`` of a bit-exact double is exact —
  and every per-document aggregate is an exact int64 sum (order-free);
- the only doubles crossing the gate are single divisions of those
  exact ints (IEEE division is identical in JVM and DuckDB).

Scale shape (100 TB)
--------------------
Training is ONE token-histogram shuffle (map-side partial agg);
the model is a narrow ``(token, ll_micro)`` table joined broadcast
(vocab ≪ corpus; pass ``broadcast_model=False`` for a shuffle join
when a web-scale vocab outgrows the driver). Scoring is one explode +
join + one hash agg — no windows, no driver materialization beyond
two scalars (total token count, vocab size).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from textalyzer_spark.functions.tokenize import ws_tokens, ws_tokens_col

LL_SCALE = 1_000_000  # micro-nats per nat


def _batch_ngram_counts(df: DataFrame, text_col: str) -> DataFrame:
    """``(tok, nxt, cnt)`` — per-Arrow-batch unigram (``nxt`` NULL)
    and adjacent-bigram counts over whitespace tokens, counted IN THE
    KERNEL (round 8): the partial aggregation moves into the Python
    pass, so the histogram shuffles are bounded by per-batch
    vocabulary instead of token occurrences, and the interpreted
    zip_with/slice bigram explode disappears. Global histograms are
    exact sums of the batch counts; tokens are ``ws_tokens`` (the
    Python twin of the JVM ``ws_tokens_col`` split). Used by
    keywords.collocations_pmi; A/B showed the same shape NOT paying
    off inside lm_perplexity_bigram (the small train slice makes the
    JVM explode cheaper than a python pass — kept JVM there).

    Kept apart from shingles.doc_feature_counts: it aggregates per
    batch ACROSS documents, and per-document rows would grow
    ``collocations_pmi``'s shuffle."""
    from collections import Counter
    from collections.abc import Iterator

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            uni: Counter = Counter()
            bi: Counter = Counter()
            for text in pdf[text_col]:
                toks = ws_tokens(text)
                uni.update(toks)
                bi.update(zip(toks, toks[1:]))
            toks_o = list(uni.keys()) + [c for c, _ in bi.keys()]
            nxts_o = [None] * len(uni) + [n for _, n in bi.keys()]
            cnts_o = list(uni.values()) + list(bi.values())
            yield pd.DataFrame(
                {
                    "tok": pd.Series(toks_o, dtype="object"),
                    "nxt": pd.Series(nxts_o, dtype="object"),
                    "cnt": pd.Series(cnts_o, dtype="int64"),
                }
            )

    return df.select(F.col(text_col)).mapInPandas(
        run, "tok string, nxt string, cnt long"
    )


def _ll_micro_udf(denom: float):
    """``cnt -> floor(ln((cnt+1)/denom) * 1e6)`` with glibc ``math.log``
    per value (NOT ``np.log`` — SIMD log loses the last ulp)."""
    @F.pandas_udf("long")
    def ll(cnt: pd.Series) -> pd.Series:
        return pd.Series(
            [math.floor(math.log((int(c) + 1) / denom) * LL_SCALE) for c in cnt],
            dtype="int64",
        )

    return ll


def train_unigram_lm(
    df: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, int, int, int]:
    """Add-one-smoothed unigram LM from a reference corpus.

    Returns ``(model, total_tokens, vocab_size, oov_ll_micro)`` where
    ``model`` is ``(token, cnt, ll_micro)`` with
    ``p(tok) = (cnt+1)/(total+V)`` and out-of-vocabulary mass
    ``p_oov = 1/(total+V)``. One shuffle; the model is
    ``localCheckpoint``-ed because training is a multi-action pipeline
    (scalar aggregation + reuse — CLAUDE.md multi-ACTION rule).
    """
    toks = df.select(F.explode(ws_tokens_col(text_col)).alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").alias("cnt")).localCheckpoint()
    row = vocab.agg(F.sum("cnt"), F.count("*")).first()
    total = int(row[0] or 0)
    v = int(row[1])
    denom = float(total + v)
    model = vocab.withColumn("ll_micro", _ll_micro_udf(denom)(F.col("cnt")))
    oov_ll = math.floor(math.log(1.0 / denom) * LL_SCALE)
    return model, total, v, oov_ll


def score_perplexity(
    df: DataFrame,
    model: DataFrame,
    oov_ll_micro: int,
    max_avg_nll: float = 5.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document average negative log-likelihood under a trained
    unigram model + the CCNet keep decision.

    Output: ``(doc_id, n_tokens int, sum_ll_micro bigint,
    avg_nll double, keep boolean)``; ``avg_nll`` is NULL (keep false)
    for token-less documents. ``explode_outer`` keeps every input row
    without a second join back to the corpus — one shuffle total.
    """
    mdl = model.select("token", "ll_micro")
    if broadcast_model:
        mdl = F.broadcast(mdl)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(ws_tokens_col(text_col)).alias("token"),
    )
    joined = toks.join(mdl, "token", "left")
    per = joined.groupBy("doc_id").agg(
        F.count("token").cast("int").alias("n_tokens"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("token").isNotNull(),
                    F.coalesce(F.col("ll_micro"), F.lit(oov_ll_micro)),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("sum_ll_micro"),
    )
    avg_nll = (
        (-F.col("sum_ll_micro")).cast("double")
        / (F.lit(float(LL_SCALE)) * F.col("n_tokens").cast("double"))
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "sum_ll_micro",
        F.when(F.col("n_tokens") > 0, avg_nll).alias("avg_nll"),
        F.when(
            (F.col("n_tokens") > 0) & (avg_nll <= F.lit(max_avg_nll)), F.lit(True)
        )
        .otherwise(F.lit(False))
        .alias("keep"),
    )


def lm_perplexity(
    df: DataFrame,
    train_filter: Column | None = None,
    max_avg_nll: float = 5.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train-on-reference / score-everything in one call: the model is
    learned from ``df.filter(train_filter)`` (whole corpus when None)
    and every document of ``df`` is scored — documents outside the
    training slice exercise the OOV mass."""
    train = df.filter(train_filter) if train_filter is not None else df
    model, _total, _v, oov_ll = train_unigram_lm(train, text_col=text_col)
    return score_perplexity(
        df,
        model,
        oov_ll,
        max_avg_nll=max_avg_nll,
        id_col=id_col,
        text_col=text_col,
    )


# --------------------------------------------------------------------------
# interpolated bigram LM
# --------------------------------------------------------------------------


def _bigram_ll_micro_udf(lam: float, denom_uni: float, v: int):
    """``(cnt2, ctx_cnt, nxt_cnt) -> floor(ln(lam*p2 + (1-lam)*p1)*1e6)``
    where ``p2 = (cnt2+1)/(ctx_cnt+V)`` (add-one bigram given context)
    and ``p1 = (nxt_cnt+1)/(total+V)`` (unigram of the next token).
    All inputs are exact int64; the mix is a fixed chain of IEEE ops
    evaluated identically by the oracle, then one glibc ``ln``."""
    one_minus = 1.0 - lam

    @F.pandas_udf("long")
    def ll(cnt2: pd.Series, ctx_cnt: pd.Series, nxt_cnt: pd.Series) -> pd.Series:
        out = []
        for c2, cc, nc in zip(cnt2, ctx_cnt, nxt_cnt):
            p2 = (int(c2) + 1) / (int(cc) + v)
            p1 = (int(nc) + 1) / denom_uni
            out.append(math.floor(math.log(lam * p2 + one_minus * p1) * LL_SCALE))
        return pd.Series(out, dtype="int64")

    return ll


def lm_perplexity_bigram(
    df: DataFrame,
    train_filter: Column | None = None,
    lam: float = 0.75,
    max_avg_nll: float = 5.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated-bigram perplexity (Jelinek-Mercer mixed with an
    add-one unigram floor): scores token positions 2..n of every
    document with ``p(w_i | w_{i-1}) = lam * p2 + (1-lam) * p1``;
    positions whose bigram OR context is unseen fall back through the
    same formula with zero counts, so every position has mass.

    Output: ``(doc_id, n_bigrams int, sum_ll_micro bigint,
    avg_nll double, keep boolean)``. Training is two histogram
    shuffles (unigram + bigram); scoring joins the scored corpus's
    bigrams against the model. For unseen (context, next) pairs the
    quantized ll depends only on (ctx_cnt, nxt_cnt) already joined
    from the two histograms — no driver lookup tables.
    """
    train = df.filter(train_filter) if train_filter is not None else df

    def doc_tokens(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.col(id_col).alias("doc_id"), ws_tokens_col(text_col).alias("toks")
        )

    def bigrams(frame: DataFrame) -> DataFrame:
        """(doc_id, ctx, nxt) for positions 2..n via a self-zip —
        zip_with over toks[0..n-2] and toks[1..n-1]."""
        t = doc_tokens(frame)
        return (
            t.where(F.size("toks") >= 2)
            .select(
                "doc_id",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("toks"), 1, F.size("toks") - 1),
                        F.slice(F.col("toks"), 2, F.size("toks") - 1),
                        lambda a, b: F.struct(a.alias("ctx"), b.alias("nxt")),
                    )
                ).alias("bg"),
            )
            .select("doc_id", F.col("bg.ctx").alias("ctx"), F.col("bg.nxt").alias("nxt"))
        )

    uni = (
        train.select(F.explode(ws_tokens_col(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    row = uni.agg(F.sum("cnt"), F.count("*")).first()
    total = int(row[0] or 0)
    v = int(row[1])
    denom_uni = float(total + v)

    bi = bigrams(train).groupBy("ctx", "nxt").agg(F.count("*").alias("cnt2"))

    # per-(doc, bigram-type) occurrence counts, then ln ONCE per
    # distinct bigram TYPE of the scored corpus (types ≪ occurrences;
    # the UDF never touches O(corpus-positions) rows)
    sb = bigrams(df).groupBy("doc_id", "ctx", "nxt").agg(
        F.count("*").alias("occ")
    )
    types = (
        sb.select("ctx", "nxt")
        .distinct()
        .join(F.broadcast(bi), ["ctx", "nxt"], "left")
        .join(
            F.broadcast(
                uni.select(F.col("token").alias("ctx"), F.col("cnt").alias("ctx_cnt"))
            ),
            "ctx",
            "left",
        )
        .join(
            F.broadcast(
                uni.select(F.col("token").alias("nxt"), F.col("cnt").alias("nxt_cnt"))
            ),
            "nxt",
            "left",
        )
        .select(
            "ctx",
            "nxt",
            _bigram_ll_micro_udf(lam, denom_uni, v)(
                F.coalesce(F.col("cnt2"), F.lit(0)).cast("long"),
                F.coalesce(F.col("ctx_cnt"), F.lit(0)).cast("long"),
                F.coalesce(F.col("nxt_cnt"), F.lit(0)).cast("long"),
            ).alias("ll_micro"),
        )
    )
    per = (
        sb.join(F.broadcast(types), ["ctx", "nxt"])
        .groupBy("doc_id")
        .agg(
            F.sum("occ").cast("int").alias("n_bigrams"),
            F.sum(F.col("occ") * F.col("ll_micro")).alias("sum_ll_micro"),
        )
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    out = base.join(per, "doc_id", "left")
    avg_nll = (
        (-F.col("sum_ll_micro")).cast("double")
        / (F.lit(float(LL_SCALE)) * F.col("n_bigrams").cast("double"))
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("int").alias("n_bigrams"),
        F.coalesce(F.col("sum_ll_micro"), F.lit(0).cast("long")).alias("sum_ll_micro"),
        F.when(F.col("n_bigrams") > 0, avg_nll).alias("avg_nll"),
        F.when(
            (F.col("n_bigrams") > 0) & (avg_nll <= F.lit(max_avg_nll)), F.lit(True)
        )
        .otherwise(F.lit(False))
        .alias("keep"),
    )


# --------------------------------------------------------------------------
# stateless whole-document scoring (streaming twin path)
# --------------------------------------------------------------------------


def model_as_map(model: DataFrame) -> dict[str, int]:
    """Collect a trained unigram model to the frozen ``{token:
    ll_micro}`` dict a stateless scorer broadcasts to workers — the
    deploy artifact (persist it next to the BPE merge table). Bounded
    by the vocabulary, the same driver-size contract as
    ``broadcast_model=True``."""
    return {r["token"]: r["ll_micro"] for r in model.select("token", "ll_micro").collect()}


def score_perplexity_stateless(
    df: DataFrame,
    model_map: dict[str, int],
    oov_ll_micro: int,
    max_avg_nll: float = 5.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The streaming-compatible scorer: identical output to
    :func:`score_perplexity` but as a pure per-row projection — no
    explode, no aggregation — so it runs append-mode on an unbounded
    stream. The frozen model rides a Spark broadcast variable into an
    Arrow-batched UDF; tokenization is Python ``re`` over the SAME
    pinned ``alphabet.WS_SPLIT`` class (parses identically in Java
    regex and Python ``re`` — CLAUDE.md whitespace rule), and the
    int64 sum + final division reproduce the batch path bit-for-bit
    (pinned by tests/test_lm.py::test_stateless_matches_batch).
    """
    bc = df.sparkSession.sparkContext.broadcast((model_map, int(oov_ll_micro)))

    @F.pandas_udf("struct<n_tokens: int, sum_ll_micro: bigint>")
    def sc(texts: pd.Series) -> pd.DataFrame:
        mdl, oov = bc.value
        ns, sums = [], []
        for t in texts:
            toks = ws_tokens(t)
            ns.append(len(toks))
            sums.append(sum(mdl.get(w, oov) for w in toks))
        return pd.DataFrame({"n_tokens": ns, "sum_ll_micro": sums})

    base = df.select(
        F.col(id_col).alias("doc_id"), sc(F.col(text_col)).alias("s")
    ).select("doc_id", "s.n_tokens", "s.sum_ll_micro")
    avg_nll = (
        (-F.col("sum_ll_micro")).cast("double")
        / (F.lit(float(LL_SCALE)) * F.col("n_tokens").cast("double"))
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "sum_ll_micro",
        F.when(F.col("n_tokens") > 0, avg_nll).alias("avg_nll"),
        F.when(
            (F.col("n_tokens") > 0) & (avg_nll <= F.lit(max_avg_nll)), F.lit(True)
        )
        .otherwise(F.lit(False))
        .alias("keep"),
    )
