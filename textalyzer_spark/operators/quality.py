"""Training-data quality operators: heuristic quality scoring,
n-gram language identification, token statistics, fingerprinting.

These extend the reference's text-metrics scope to what a large-scale
training-data pipeline needs (driver brief). No reference analog —
heuristics follow the public C4/Gopher-style quality-signal recipes.

All operators are pure Catalyst expressions (no UDFs): they run inside
whole-stage codegen and replicate exactly in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from textalyzer_spark.functions.tokenize import tokens_col

# marker stopwords per language, deliberately tiny + pinned so the
# oracle SQL can inline them; alphabetical language order is the
# documented tie-break (first alphabetical max wins)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "en": ("the", "a", "is", "and", "of", "to", "in", "it"),
    "es": ("el", "la", "los", "es", "y", "de", "que", "un"),
    "fr": ("le", "la", "les", "est", "et", "de", "que", "un"),
    "zh": ("de", "shi", "le", "bu", "wo", "ni", "ta", "men"),
}

ENGLISH_STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be",
)


def _generate_barrier(df: DataFrame, keep: list, struct: Column, alias: str = "_x") -> DataFrame:
    """Evaluate ``struct`` EXACTLY ONCE per row behind a Generate node
    (``explode(array(struct))`` of a 1-element array — row count
    unchanged): CollapseProject re-inlines a projected expression into
    every downstream reference, and expressions evaluated INTERPRETED
    (array higher-order functions, and everything inside a Generate's
    own generator) get no common-subexpression elimination, so an
    unprotected score column re-pays its whole token pass per
    reference (a composed stratified_sample measured 2.1 s vs 1.0 s
    at sf0.1 — round-8 A/B). A Generate is a projection-collapse
    boundary, so consumers read plain struct fields instead.

    The same no-CSE rule applies INSIDE the generator: a struct whose
    fields each inline the tokenizer re-splits the text per field
    (token_stats measured 0.37 -> 0.85 s that way). Hence the
    two-level discipline used below: the FIRST barrier materializes
    the token array (+ other text-derived scalars) once, and any
    second barrier's generator only traverses that attribute."""
    return df.select(*keep, F.explode(F.array(struct)).alias(alias))


def _tok_base(df: DataFrame, keep: list, text_col: str) -> DataFrame:
    """Tokens-level barrier: ``keep`` columns plus ``_t`` struct
    ``(n_chars, toks, n_alpha_chars)`` — the tokenizer and the two
    text-length scans run exactly once per row; every stats/score
    expression downstream traverses the materialized array."""
    toks = tokens_col(text_col)
    return _generate_barrier(
        df,
        keep,
        F.struct(
            F.length(text_col).cast("bigint").alias("n_chars"),
            toks.alias("toks"),
            # chars that are part of alphabetic runs vs total
            F.length(
                F.regexp_replace(F.col(text_col), r"[^\p{IsAlphabetic}]+", "")
            )
            .cast("bigint")
            .alias("n_alpha_chars"),
        ),
        alias="_t",
    )


def _stats_struct_from_t() -> Column:
    """The per-doc token-stats struct over the ``_t`` attribute — the
    ONE definition of (n_chars, n_tokens, n_distinct_tokens,
    avg_token_len, stopword_ratio, alpha_ratio)."""
    toks = F.col("_t.toks")
    n_chars = F.col("_t.n_chars")
    n = F.size(toks).cast("double")
    stop = F.size(
        F.filter(toks, lambda w: w.isin(*ENGLISH_STOPWORDS))
    ).cast("double")
    return F.struct(
        n_chars.alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.when(
            F.size(toks) > 0,
            F.round(
                F.aggregate(
                    toks, F.lit(0), lambda acc, w: acc + F.length(w)
                ).cast("double")
                / n,
                4,
            ),
        ).alias("avg_token_len"),
        F.when(F.size(toks) > 0, F.round(stop / n, 4)).alias(
            "stopword_ratio"
        ),
        F.when(
            n_chars > 0,
            F.round(F.col("_t.n_alpha_chars") / n_chars.cast("double"), 4),
        ).alias("alpha_ratio"),
    )


_STATS_FIELDS = (
    "n_chars", "n_tokens", "n_distinct_tokens", "avg_token_len",
    "stopword_ratio", "alpha_ratio",
)


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc token statistics:
    ``(doc_id, n_chars, n_tokens, n_distinct_tokens, avg_token_len,
    stopword_ratio, alpha_ratio)`` — the stats project runs in
    whole-stage codegen over the barriered token array."""
    base = _tok_base(df, [F.col(id_col).alias("doc_id")], text_col)
    s = _stats_struct_from_t()
    return base.select(
        "doc_id", *[s.getField(f).alias(f) for f in _STATS_FIELDS]
    )


def _quality_score_exprs(get) -> tuple[Column, Column]:
    """``(score, ttr)`` from a stats-field accessor — the ONE
    definition of the composite score, shared by :func:`quality_score`
    and :func:`with_quality_score`.

    Every component is rounded to 4 decimals before the weighted sum,
    so the score is an exact 6-decimal value — round(…, 6) is then
    unambiguous across engines (a 4-decimal final round would sit on
    .5 boundaries systematically: 0.25 * 4-decimal = 5 decimals)."""
    ttr = F.round(
        F.when(
            get("n_tokens") > 0,
            get("n_distinct_tokens") / get("n_tokens").cast("double"),
        ).otherwise(F.lit(0.0)),
        4,
    )
    len_ok = ((get("n_tokens") >= 10) & (get("n_tokens") <= 100000)).cast(
        "double"
    )
    stop_ok = (F.coalesce(get("stopword_ratio"), F.lit(0.0)) >= 0.01).cast(
        "double"
    )
    alpha = F.coalesce(get("alpha_ratio"), F.lit(0.0))
    score = F.round(
        F.lit(0.25) * len_ok
        + F.lit(0.25) * stop_ok
        + F.lit(0.25) * F.least(ttr * 2, F.lit(1.0))
        + F.lit(0.25) * alpha,
        6,
    )
    return score, ttr


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Composite heuristic quality score in [0,1] (C4/Gopher-style
    signals, pinned weights): length band + lexical diversity +
    stopword presence + alphabetic density.

    ``(doc_id, quality_score, n_tokens, type_token_ratio,
    stopword_ratio, alpha_ratio)``
    """
    stats = token_stats(df, id_col, text_col)
    score, ttr = _quality_score_exprs(F.col)
    return stats.select(
        "doc_id",
        score.alias("quality_score"),
        "n_tokens",
        F.round(ttr, 4).alias("type_token_ratio"),
        "stopword_ratio",
        "alpha_ratio",
    )


def with_quality_score(
    df: DataFrame, text_col: str = "text", score_col: str = "quality_score"
) -> DataFrame:
    """``df.*`` plus the :func:`quality_score` column — the join-free
    form a pipeline quality gate composes with: score values are
    identical to ``quality_score``'s, but the caller filters in place
    instead of computing the score table separately and self-joining
    it back on doc_id (which re-evaluates the whole upstream subplan
    twice AND pays a join — round-8 pipeline A/B)."""
    if score_col in df.columns:
        raise ValueError(f"column {score_col!r} already exists")
    keep = [F.col(c) for c in df.columns]
    base = _tok_base(df, keep, text_col)
    stats = _generate_barrier(base, keep, _stats_struct_from_t())

    def get(f: str) -> Column:
        return F.col(f"_x.{f}")

    score, _ = _quality_score_exprs(get)
    return stats.select(*df.columns, score.alias(score_col))


def with_lang_id(
    df: DataFrame, text_col: str = "text", lang_col: str = "pred_lang"
) -> DataFrame:
    """``df.*`` plus the :func:`lang_id` prediction column — the
    join-free form (same rationale as :func:`with_quality_score`):
    values identical to ``lang_id``'s ``pred_lang``."""
    if lang_col in df.columns:
        raise ValueError(f"column {lang_col!r} already exists")
    langs = sorted(LANG_MARKERS)
    keep = [F.col(c) for c in df.columns]
    base = _tok_base(df, keep, text_col)
    toks = F.col("_t.toks")
    out = _generate_barrier(
        base,
        keep,
        F.struct(*[_lang_score(toks, lg).alias(f"s_{lg}") for lg in langs]),
    )
    s = {lg: F.col(f"_x.s_{lg}") for lg in langs}
    best = F.greatest(*[s[lg] for lg in langs])
    pred = F.when(best == 0, F.lit("unk"))
    for lg in langs:
        pred = pred.when(s[lg] == best, F.lit(lg))
    return out.select(*df.columns, pred.alias(lang_col))


def _lang_score(toks: Column, lang: str) -> Column:
    return F.size(F.filter(toks, lambda w: w.isin(*LANG_MARKERS[lang])))


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-stopword language identification:
    ``(doc_id, pred_lang, lang_score)``. On a score tie the first
    language in alphabetical order wins ('unk' when all scores are 0).
    """
    langs = sorted(LANG_MARKERS)
    # two-level barrier (_generate_barrier rationale): the tokens
    # materialize once in _tok_base (the scores' generator would
    # otherwise re-split the text per language, interpreted), and the
    # five score expressions materialize once here — pred's CASE chain
    # alone references them ~15x, and a composed consumer
    # (stratified_sample's filter) doubles that
    base = _tok_base(df, [F.col(id_col).alias("doc_id")], text_col)
    toks = F.col("_t.toks")
    out = _generate_barrier(
        base,
        ["doc_id"],
        F.struct(*[_lang_score(toks, lg).alias(f"s_{lg}") for lg in langs]),
    )
    s = {lg: F.col(f"_x.s_{lg}") for lg in langs}
    best = F.greatest(*[s[lg] for lg in langs])
    pred = F.when(best == 0, F.lit("unk"))
    for lg in langs:
        pred = pred.when(s[lg] == best, F.lit(lg))
    return out.select(
        "doc_id",
        pred.alias("pred_lang"),
        best.cast("bigint").alias("lang_score"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al.
    2021, Table A1 — the public repetition-filter recipe), the
    standard pre-training filter for boilerplate/spam:

    ``(doc_id, n_tokens, dup_bigram_frac, dup_trigram_frac,
    top_bigram_frac, dup_line_frac)``

    * ``dup_{bi,tri}gram_frac`` — fraction of n-gram OCCURRENCES that
      are duplicates within the doc: (total - distinct) / total;
    * ``top_bigram_frac`` — token positions covered by the most
      frequent bigram: top_count * 2 / n_tokens (tie-independent —
      only the count is used);
    * ``dup_line_frac`` — duplicate fraction of nonempty trimmed
      lines (trim set pinned to ``' \\t\\r'`` so the SQL twin is
      character-exact).

    All ratios are UNROUNDED doubles of integer counts: both engines
    divide identical ints, so the doubles are bit-identical and no
    rounding-boundary hazard exists (the est_jaccard convention).
    NULL when the denominator is 0. Arrow-batched per-doc pass — no
    shuffle at any corpus size (the stats never leave the row)."""
    from collections import Counter
    from collections.abc import Iterator

    import pandas as pd

    from textalyzer_spark.functions.tokenize import kgrams, tokenize_text

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_text(text or "")
                n = len(toks)
                out = {"doc_id": doc_id, "n_tokens": n}
                for k, name in ((2, "dup_bigram_frac"), (3, "dup_trigram_frac")):
                    grams = kgrams(toks, k)
                    out[name] = (
                        (len(grams) - len(set(grams))) / len(grams)
                        if grams
                        else None
                    )
                bigrams = Counter(kgrams(toks, 2))
                out["top_bigram_frac"] = (
                    max(bigrams.values()) * 2 / n if bigrams else None
                )
                lines = [
                    ln.strip(" \t\r")
                    for ln in (text or "").split("\n")
                ]
                lines = [ln for ln in lines if ln]
                out["dup_line_frac"] = (
                    (len(lines) - len(set(lines))) / len(lines)
                    if lines
                    else None
                )
                rows.append(out)
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_tokens", "dup_bigram_frac",
                    "dup_trigram_frac", "top_bigram_frac", "dup_line_frac",
                ],
            )

    id_type = dict(df.dtypes).get(id_col, "string")
    return df.mapInPandas(
        run,
        f"doc_id {id_type}, n_tokens int, dup_bigram_frac double, "
        "dup_trigram_frac double, top_bigram_frac double, "
        "dup_line_frac double",
    )


def bigram_novelty(
    df: DataFrame,
    common_df: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level n-gram novelty/coverage per document — the
    relational stand-in for LM-based diversity scoring (templated or
    boilerplate text scores low novelty, high commonality):

    ``(doc_id, n_bigrams, novel_frac, common_frac)``

    * ``novel_frac`` — fraction of the doc's bigram OCCURRENCES whose
      bigram appears in no other document (corpus doc-freq == 1);
    * ``common_frac`` — fraction whose bigram appears in >=
      ``common_df`` documents.

    Fractions are unrounded doubles of integer counts. Scale shape:
    one hash shuffle on the bigram key for the corpus doc-frequency
    table (partial aggregation applies), one equi-join back to the
    occurrence stream, one groupBy doc_id — all linear; no driver
    materialization anywhere."""
    from textalyzer_spark.operators.shingles import _doc_kgram_counts

    # per-doc bigram counts straight from the per-document kernel: one
    # row per (document, distinct bigram) with its occurrence count n,
    # so the materialization and the doc-frequency join carry
    # per-doc-distinct rows instead of occurrences, the doc frequency
    # is a plain count(*) (no two-phase count_distinct), and the
    # per-doc roll-up weights by n — identical occurrence fractions
    occ = _doc_kgram_counts(df, 2, id_col, text_col).localCheckpoint()
    dfreq = occ.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("_df")
    )
    per_doc = (
        occ.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.sum(
                F.when(F.col("_df") == 1, F.col("n")).otherwise(0)
            ).alias("_novel"),
            F.sum(
                F.when(F.col("_df") >= common_df, F.col("n")).otherwise(0)
            ).alias("_common"),
        )
    )
    all_docs = df.select(F.col(id_col).alias("doc_id")).distinct()
    return all_docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias(
            "n_bigrams"
        ),
        F.when(
            F.col("n_bigrams") > 0,
            F.col("_novel") / F.col("n_bigrams").cast("double"),
        ).alias("novel_frac"),
        F.when(
            F.col("n_bigrams") > 0,
            F.col("_common") / F.col("n_bigrams").cast("double"),
        ).alias("common_frac"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Content fingerprint over whitespace-normalized lowercased text:
    ``(doc_id, fingerprint string)`` (md5 hex). The normalization makes
    the fingerprint robust to whitespace-only edits — the exact-dedup
    key for :func:`textalyzer_spark.operators.dedup.exact_dedup`."""
    from textalyzer_spark.functions.alphabet import WS_SPLIT

    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), WS_SPLIT, " "))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm).alias("fingerprint"),
    )
