"""tf-idf keyword extraction and PMI collocations
(textalyzer_spark/operators/keywords.py). Planted-corpus semantics,
tie determinism, empty/edge behavior; cross-engine exactness lives in
the oracle gate (tfidf_topk_terms / collocations_pmi)."""

import math

from pyspark.sql import functions as F

from textalyzer_spark.operators.keywords import collocations_pmi, tfidf_topk_terms

MICRO = 1_000_000


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_tfidf_rare_term_outranks_common(spark):
    # "zebra" appears once, only in doc 1; "the" is in every doc.
    df = _docs(
        spark,
        [
            (1, "the zebra the the"),
            (2, "the cat the"),
            (3, "the dog"),
        ],
    )
    out = tfidf_topk_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    top1 = by_doc[1][0]
    assert top1["tok"] == "zebra"
    # idf("zebra") = ln(4/2); tf = 1
    assert top1["score_micro"] == math.floor(math.log(4 / 2) * MICRO)
    # "the" is in all 3 docs: idf = ln(4/4) = 0 -> score 0, still ranked
    the_rows = [r for r in out if r["tok"] == "the"]
    assert the_rows and all(r["score_micro"] == 0 for r in the_rows)


def test_tfidf_tie_breaks_on_token_asc(spark):
    # two tokens with identical tf and df tie on score -> token ASC
    df = _docs(spark, [(1, "bb aa"), (2, "cc")])
    out = tfidf_topk_terms(df, k=2).where(F.col("doc_id") == 1).collect()
    assert [r["tok"] for r in out] == ["aa", "bb"]
    assert [r["rank"] for r in out] == [1, 2]


def test_tfidf_tokenless_doc_emits_no_rows_but_counts_in_n(spark):
    df = _docs(spark, [(1, "rare word"), (2, "   ")])
    out = tfidf_topk_terms(df, k=5)
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == {1}
    # doc 2 still counts toward N: idf = ln((2+1)/(1+1))
    assert rows[0]["score_micro"] == math.floor(math.log(3 / 2) * MICRO)


def test_pmi_planted_collocation_wins(spark):
    # "new york" always adjacent; fillers are independent.
    rows = [(i, "new york " + " ".join(["a", "b", "c", "d"][i % 4] for _ in range(3)))
            for i in range(8)]
    df = _docs(spark, rows)
    out = collocations_pmi(df, min_count=2, k=5).collect()
    assert out, "planted collocation must survive min_count"
    top = out[0]
    assert (top["ctx"], top["nxt"]) == ("new", "york")
    # exact value: c2=8, cx=cy=8, N_bi=32, N_uni=40
    ratio = (8 / 32.0) / ((8 / 40.0) * (8 / 40.0))
    assert top["pmi_micro"] == math.floor(math.log(ratio) * MICRO)


def test_pmi_min_count_prunes(spark):
    df = _docs(spark, [(1, "x y"), (2, "p q p q")])
    out = collocations_pmi(df, min_count=2, k=10).collect()
    pairs = {(r["ctx"], r["nxt"]) for r in out}
    assert ("x", "y") not in pairs  # seen once
    assert ("p", "q") in pairs  # seen twice


def test_pmi_empty_and_single_token_corpus(spark):
    assert collocations_pmi(_docs(spark, [(1, "only")]), min_count=1).count() == 0
    assert collocations_pmi(_docs(spark, [(1, "  ")]), min_count=1).count() == 0


def test_doc_term_counts_matches_explode_groupby(spark):
    """tfidf's kernel tf table (round 8) must be row-identical to the
    definitional explode(ws_tokens_col) -> groupBy(doc_id, tok).count()
    shape it replaced (WS_SPLIT parity incl. an NBSP-bearing token)."""
    from pyspark.sql import functions as F

    from textalyzer_spark.functions.tokenize import ws_tokens, ws_tokens_col
    from textalyzer_spark.operators.shingles import doc_feature_counts

    rows = [
        (1, "alpha beta alpha  beta\talpha"),
        (2, "nbsp stays-one token"),
        (3, ""),
        (4, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["doc_id"], r["feature"]): r["n"]
        for r in doc_feature_counts(df, ws_tokens).collect()
    }
    ref_rows = (
        df.select(
            "doc_id", F.explode(ws_tokens_col("text")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("long").alias("tf"))
        .collect()
    )
    ref = {(r["doc_id"], r["tok"]): r["tf"] for r in ref_rows}
    assert got == ref and len(got) > 0
