"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Engine implementation lives in ``textalyzer_spark/``; this module is
a thin registry binding operators from SURVEY.md §2 to the driver's
flat ``documents``/``embeddings`` parquet tables.

Tokenizer/oracle scope note: the engine tokenizes on the JVM's full
Unicode alphabetic class — Java \\p{IsAlphabetic} on the Catalyst
path and the SAME table compiled into the Arrow-UDF path (functions.
alphabet.py_alpha_regex, generated from the live JVM by tools/
gen_unicode_tables.py), matching the reference's char::is_alphabetic.
EVERY tokenizing oracle extracts raw runs with that generated class
and lowercases per token with the final-sigma-aware expression
(functions.alphabet.tok_lower_sql); whole-text-lower oracles
(fingerprint, winnow_pairs, token_counts_bpe) replay the sigma
context with text_lower_sql. Verified range (round 5): EVERY
codepoint — the former exclusion list is zeroed: divergent-lower
cps are normalized to the JVM mapping on both sides
(alphabet.ORACLE_LOWER_OVERRIDES / alphabet.jvm_lower), and the
consuming sigma pattern covers mid-token non-cased followers; the
one documented approximation left is adjacent sigma contexts
sharing case-ignorable runs (alphabet.text_lower_sql docstring).
Greek/Cyrillic/CJK + divergent-cp fixtures run the gate mirror in
tests/test_oracle_edge_corpus.py. char_frequency and token_counts
are ASCII-class BY DESIGN in engine and oracle alike.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from textalyzer_spark.shipping import ship_package

    ship_package(spark)  # make UDF modules importable on python workers
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from textalyzer_spark.shipping import ship_package

    ship_package(spark)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _quality_ctes(toks_expr: str, source: str = "documents") -> str:
    """The quality_score oracle pipeline as a composable CTE chain
    ending in ``qscore(doc_id, quality_score, n_tokens,
    type_token_ratio, stopword_ratio, alpha_ratio)`` — shared by the
    quality_score gate, the near_dup_keep_quality keep rule, and
    (``source=``) the end-to-end pipeline's quality filter stage."""
    from textalyzer_spark import oracles as _o

    neg = _o.alpha_strip_regex()
    return f"""qt AS (
              SELECT doc_id,
                     CAST(length(text) AS BIGINT) AS n_chars,
                     {toks_expr} AS toks,
                     CAST(length(regexp_replace(text, '{neg}', '', 'g')) AS BIGINT)
                       AS n_alpha_chars
              FROM {source}
            ), qs AS (
              SELECT doc_id,
                CAST(len(toks) AS INTEGER) AS n_tokens,
                CASE WHEN len(toks) > 0
                     THEN len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                     ELSE 0.0 END AS ttr,
                CASE WHEN len(toks) > 0
                     THEN round(CAST(len(list_filter(toks, w -> list_contains(
                            ['the','a','an','and','or','of','to','in','is','it',
                             'that','for','on','with','as','was','at','by','be'], w)))
                          AS DOUBLE) / len(toks), 4) END AS stopword_ratio,
                CASE WHEN n_chars > 0
                     THEN round(n_alpha_chars / CAST(n_chars AS DOUBLE), 4) END AS alpha_ratio
              FROM qt
            ), qscore AS (
              SELECT doc_id,
                round(0.25 * (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
                    + 0.25 * (CASE WHEN coalesce(stopword_ratio, 0.0) >= 0.01 THEN 1.0 ELSE 0.0 END)
                    + 0.25 * least(round(ttr, 4) * 2, 1.0)
                    + 0.25 * coalesce(alpha_ratio, 0.0), 6) AS quality_score,
                n_tokens,
                round(ttr, 4) AS type_token_ratio,
                stopword_ratio,
                alpha_ratio
              FROM qs
            )"""


def _lang_ctes(toks_expr: str, source: str = "documents") -> str:
    """The lang_id oracle as a composable CTE chain ending in
    ``lang(doc_id, pred_lang, lang_score)`` — shared by the lang_id
    gate, the stratified-sampling bucket join, and (``source=``) the
    end-to-end pipeline's sampling stage."""
    return f"""lt AS (
              SELECT doc_id, {toks_expr} AS toks FROM {source}
            ), ls AS (
              SELECT doc_id,
                len(list_filter(toks, w -> list_contains(
                  ['der','die','das','und','ist','nicht','ein','zu'], w))) AS s_de,
                len(list_filter(toks, w -> list_contains(
                  ['the','a','is','and','of','to','in','it'], w))) AS s_en,
                len(list_filter(toks, w -> list_contains(
                  ['el','la','los','es','y','de','que','un'], w))) AS s_es,
                len(list_filter(toks, w -> list_contains(
                  ['le','la','les','est','et','de','que','un'], w))) AS s_fr,
                len(list_filter(toks, w -> list_contains(
                  ['de','shi','le','bu','wo','ni','ta','men'], w))) AS s_zh
              FROM lt
            ), lang AS (
              SELECT doc_id,
                CASE WHEN greatest(s_de,s_en,s_es,s_fr,s_zh) = 0 THEN 'unk'
                     WHEN s_de = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'de'
                     WHEN s_en = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'en'
                     WHEN s_es = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'es'
                     WHEN s_fr = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'fr'
                     ELSE 'zh' END AS pred_lang,
                CAST(greatest(s_de,s_en,s_es,s_fr,s_zh) AS BIGINT) AS lang_score
              FROM ls
            )"""


#: the stratified-sampling gate fixture: per-language keep rates
MIX_RATES = {"en": 0.9, "de": 0.5, "es": 0.5, "fr": 0.5, "zh": 0.5}
MIX_DEFAULT_RATE = 0.2
MIX_SALT = "mix-v1"
#: the solver-driven sampling gate fixture: desired token-mass mixture
#: (the solver turns this + the measured corpus_mixture into rates)
MIX_TARGET = {"en": 0.8, "unk": 0.2}
MIX_PLAN_SALT = "mixplan-v1"
#: the end-to-end pipeline gate's quality-filter threshold (drops
#: ~10% of the sf corpus — a real filter, not a pass-through)
PIPELINE_QMIN = 0.7


def _pii_pdoc_cte(source: str = "documents") -> str:
    """``pdoc(doc_id, t)`` CTE — the synthesize_pii footer rebuilt in
    SQL (shared by the pii_redaction gate and the pipeline oracle)."""
    return f"""pdoc AS (
              -- ((x % m) + m) % m == Spark F.pmod: DuckDB % is
              -- sign-preserving, pmod is non-negative — the footers
              -- must agree even for negative doc_ids (ADVICE r5)
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com from 10.0.'
                          || CAST(((doc_id % 256) + 256) % 256 AS VARCHAR)
                          || '.'
                          || CAST(((doc_id % 100) + 100) % 100 AS VARCHAR)
                          || ' tel +1 (555) 123-4'
                          || lpad(CAST(((doc_id % 100) + 100) % 100
                                       AS VARCHAR), 3, '0') AS t
              FROM {source}
            )"""


def _pii_masked_expr(col: str = "t") -> str:
    """The redaction regexp_replace chain over ``col``, masks applied
    in the engine's pinned pattern order."""
    from textalyzer_spark.operators.pii import PII_PATTERNS

    masked = col
    for _, rx, mask in PII_PATTERNS:
        masked = f"regexp_replace({masked}, '{rx}', '{mask}', 'g')"
    return masked


def _pii_oracle_sql() -> str:
    """Twin of q_pii_redaction: the synthesize_pii footer rebuilt in
    SQL, the same pinned patterns (Java ∩ RE2 subset) counted on the
    raw text and masked in the same order, md5 of the masked text."""
    from textalyzer_spark.operators.pii import PII_PATTERNS

    counts = ",\n                   ".join(
        f"CAST(len(regexp_extract_all(t, '{rx}')) AS INTEGER) AS n_{name}"
        for name, rx, _ in PII_PATTERNS
    )
    return f"""
            WITH {_pii_pdoc_cte()}
            SELECT doc_id,
                   {counts},
                   md5({_pii_masked_expr()}) AS clean_md5
            FROM pdoc
        """


# --------------------------------------------------------------------------
# queries — each (spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------


def q_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-frequency histogram (SURVEY §2 A1/O2)."""
    from textalyzer_spark.operators.frequency import word_frequency

    return word_frequency(_docs(spark, sf_dir), "text")


def q_line_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line char-length histogram (SURVEY §2 A2/O6; oracle-able variant —
    display-width variant is checked in pytest against Unicode fixtures)."""
    from textalyzer_spark.operators.line_length import line_length_histogram

    return line_length_histogram(_docs(spark, sf_dir), use_display_width=False)


def q_shingle_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-token shingles occurring in more than one document — the seed
    stage of multi-line duplication (SURVEY §2 J1/A3/A4) applied to the
    flat corpus (token shingles stand in for line shingles)."""
    from textalyzer_spark.operators.shingles import token_shingle_duplicates

    return token_shingle_duplicates(_docs(spark, sf_dir), k=3)


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Flesch readability + lexical complexity (north_star)."""
    from textalyzer_spark.operators.readability import readability

    return readability(_docs(spark, sf_dir))


def q_lexical_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level lexical complexity (north_star "lexical-complexity
    counts"): total + exact-distinct token counts over the whole
    corpus. The exact=True path is the oracle-able twin; exact=False
    switches to HyperLogLog at 10^12 docs (approx_count_distinct)."""
    from textalyzer_spark.operators.readability import corpus_lexical_stats

    return corpus_lexical_stats(_docs(spark, sf_dir), exact=True)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token statistics (training-data quality signals)."""
    from textalyzer_spark.operators.quality import token_stats

    return token_stats(_docs(spark, sf_dir))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite heuristic quality score per document."""
    from textalyzer_spark.operators.quality import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language identification."""
    from textalyzer_spark.operators.quality import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram novelty/commonality per doc (the
    relational LM-coverage stand-in): occurrence fractions whose
    bigram is corpus-unique vs seen in >= 10 docs."""
    from textalyzer_spark.operators.quality import bigram_novelty

    return bigram_novelty(_docs(spark, sf_dir), common_df=10)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signals (duplicate bi/tri-
    gram occurrence fractions, top-bigram coverage, duplicate-line
    fraction) — the standard boilerplate/spam pre-training filter.
    Ratios are unrounded doubles of integer counts (bit-identical
    cross-engine, the est_jaccard convention)."""
    from textalyzer_spark.operators.quality import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus mixing: per-language keep
    rates applied via the md5-LE8 hash variate (pure function of
    (salt, doc_id) — reproducible across re-runs, task retries, AQE
    re-plans, and engines; a stateless scan filter at any corpus
    size). Output: the kept (doc_id, pred_lang, u)."""
    from textalyzer_spark.operators.quality import lang_id
    from textalyzer_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    lang = lang_id(docs).select("doc_id", "pred_lang")
    return stratified_sample(
        lang, "pred_lang", MIX_RATES, MIX_DEFAULT_RATE, salt=MIX_SALT
    ).select("doc_id", "pred_lang", "u")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-ES): top-100 documents by priority ln(u)/w with w =
    greatest(n_chars, 1) — inclusion odds proportional to document
    mass, the quality/length-weighted corpus subsetting step. Pure
    per-row projection + TakeOrderedAndProject (per-partition partial
    top-k): NO corpus shuffle at any scale. The glibc-ln priority is
    bit-exact vs the DuckDB twin."""
    from textalyzer_spark.operators.sampling import weighted_sample

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.greatest(F.col("n_chars"), F.lit(1)).alias("w")
    )
    return weighted_sample(docs, k=100, weight_col="w", salt="ws1")


def q_length_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile report from the mergeable equi-width histogram sketch
    (width-64 buckets over n_chars): for each q, the bucket holding
    the value at EXACT rank floor(q*(n-1))+1 plus its value range —
    the order-statistics member of the sketch family. ONE map-side-
    combinable SUM agg over the corpus (<= range/width rows per map
    partition), element-wise-SUM merge across snapshots; the only
    single-partition window runs over the bounded histogram table,
    never the corpus. The true quantile (length_quantiles, exact) is
    pinned inside [value_lo, value_hi] by pytest."""
    from textalyzer_spark.operators.sketch import (
        histogram_quantiles,
        value_histogram,
    )

    hist = value_histogram(
        _docs(spark, sf_dir), "n_chars", bucket_width=64, min_value=0
    )
    return histogram_quantiles(hist, bucket_width=64, min_value=0)


def q_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-drift monitor from histogram sketches alone: the
    total-variation distance between the even-id crawl's and the
    odd-id crawl's n_chars distributions (width-64 buckets) — the
    data-quality check a continuous ingest runs between snapshots
    WITHOUT re-scanning either corpus. Exact integer
    cross-multiplication summed in decimal (no float sum-order
    hazard), one double division at the end — value-exact vs the
    DuckDB HUGEINT twin."""
    from textalyzer_spark.operators.sketch import (
        histogram_drift,
        value_histogram,
    )

    docs = _docs(spark, sf_dir)
    ha = value_histogram(
        docs.filter(F.col("doc_id") % 2 == 0), "n_chars", bucket_width=64
    )
    hb = value_histogram(
        docs.filter(F.col("doc_id") % 2 == 1), "n_chars", bucket_width=64
    )
    return histogram_drift(ha, hb)


def q_incremental_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate incremental exact-dedup against a Bloom membership
    catalog (Bloom 1970; k=4 hashes, 2^16 bits): the even-id
    snapshot's fingerprints set the bits, the odd-id batch keeps the
    min-id doc per fingerprint whose 4 positions are NOT all set. At
    10^12 docs the exact fingerprint catalog stores one row per doc;
    the Bloom stores <= 2^width_p rows TOTAL for a bounded
    novel-doc-drop rate (never keeps a seen duplicate). Deterministic
    md5 hashing end-to-end makes the 'approximate' algorithm
    reproducible and oracle-exact; the probe broadcasts the bit
    table, so the batch side never shuffles."""
    from textalyzer_spark.operators.sketch import bloom_bits, bloom_dedup_new

    old, new = _split_batches(spark, sf_dir)
    bits = bloom_bits(
        old.select(F.md5(F.col("text")).alias("fingerprint")),
        "fingerprint",
        k_hashes=4,
        width_p=16,
    )
    return bloom_dedup_new(new, bits, k_hashes=4, width_p=16)


def q_incremental_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable A-ES sample catalog: per-snapshot weighted top-100
    tables (even/odd doc_id batches) folded by re-ranking the union
    of STORED rows — priorities are pure functions of (salt, doc_id),
    so merging never re-scores, and top-k(A ∪ B) == top-k(topk(A) ∪
    topk(B)) makes the fold exact. O(k) state per snapshot. The
    DuckDB twin samples the union corpus directly — a green gate is
    the cross-engine mergeability proof (the hll/cms gate pattern)."""
    from textalyzer_spark.operators.sampling import (
        weighted_sample,
        weighted_sample_merge,
    )

    def topk(df: DataFrame) -> DataFrame:
        return weighted_sample(
            df.select(
                "doc_id", F.greatest(F.col("n_chars"), F.lit(1)).alias("w")
            ),
            k=100,
            weight_col="w",
            salt="ws1",
        )

    old, new = _split_batches(spark, sf_dir)
    return weighted_sample_merge(topk(old), topk(new), k=100)


def q_source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (head-domain suppression, the
    RefinedWeb/C4 per-host quota): keep the 10 lowest-md5-variate
    docs of EVERY source via the stratum-nested bucketed rank — live
    buckets are pruned against the cap BEFORE any window, so a
    mega-source never pins one sort task (the naive per-stratum
    row_number would). Deterministic (pure function of salt, doc_id);
    the DuckDB twin is the naive QUALIFY row_number form."""
    from textalyzer_spark.operators.sampling import cap_per_stratum

    return cap_per_stratum(
        _docs(spark, sf_dir), cap=10, stratum_col="source",
        salt="sc1", num_buckets=8,
    )


def q_hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog distinct-token sketch (Flajolet 2007,
    m=4096 registers) next to the exact count: one row (m, n_nonzero,
    v_zero, hll_estimate, n_distinct_exact, rel_err). Registers are a
    single map-side-combinable MAX aggregation (<= m rows per map
    partition at ANY corpus size) and merge across persisted
    snapshots by register-wise MAX — O(m) incremental distinct
    counting where count(distinct) would rescan 10^12 docs. The
    harmonic sum is exact-integer (decimal(38,0) vs the oracle's
    HUGEINT); the estimate is one double division."""
    from textalyzer_spark.operators.sketch import hll_distinct_report

    return hll_distinct_report(
        _ws_tokens(_docs(spark, sf_dir)), "tok", p=12, salt=""
    )


def q_incremental_hll_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch catalog maintenance: per-snapshot HLL
    register tables (even-id snapshot, odd-id batch) merged by
    register-wise MAX, then estimated — the O(m)-state incremental
    distinct-token counter. The DuckDB twin sketches the UNION corpus
    directly, so a green gate IS the cross-engine proof that
    merge(sketch(A), sketch(B)) == sketch(A ∪ B) exactly (each
    register is a MAX — associative and order-free)."""
    from textalyzer_spark.operators.sketch import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    old, new = _split_batches(spark, sf_dir)
    merged = hll_merge(
        hll_registers(_ws_tokens(old), "tok", p=12),
        hll_registers(_ws_tokens(new), "tok", p=12),
    )
    return hll_estimate(merged, p=12)


def _ws_tokens(df: DataFrame) -> DataFrame:
    """Whitespace tokens of the documents table (alphabet.WS_SPLIT,
    the one pinned cross-engine class) as a single ``tok`` column."""
    from textalyzer_spark.functions.alphabet import WS_SPLIT

    # explode first, filter after: identical rows, but the row-level
    # predicate stays inside whole-stage codegen where the array-HOF
    # F.filter evaluates interpreted (BENCH.md no-interpreted-HOF rule)
    return (
        df.select(F.explode(F.split(F.col("text"), WS_SPLIT)).alias("tok"))
        .filter(F.col("tok") != "")
    )


def q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min token-frequency sketch (Cormode-Muthukrishnan 2005;
    depth=4 rows x 4096 counters) validated against ground truth: the
    exact top-20 tokens with (value, cnt_exact, cnt_cms, overcount).
    The sketch is ONE map-side-combinable SUM aggregation (<= 16384
    rows per map partition at ANY corpus size) and lookups broadcast
    the sketch, never shuffle the query side; every counter is an
    exact integer, so the DuckDB twin is bit-identical. The frequency
    twin of hll_distinct_tokens."""
    from textalyzer_spark.operators.sketch import cms_token_report

    return cms_token_report(
        _ws_tokens(_docs(spark, sf_dir)), "tok", k=20, depth=4, width_p=12
    )


def q_incremental_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min catalog maintenance: per-snapshot sketch tables
    (even-id snapshot, odd-id batch) merged by element-wise SUM — the
    O(depth*width)-state incremental token-frequency counter. The
    DuckDB twin sketches the UNION corpus directly, so a green gate
    IS the cross-engine proof that merge(cms(A), cms(B)) == cms(A ∪ B)
    exactly, counter by counter (the output is the full merged
    register table)."""
    from textalyzer_spark.operators.sketch import cms_merge, cms_table

    old, new = _split_batches(spark, sf_dir)
    merged = cms_merge(
        cms_table(_ws_tokens(old), "tok", depth=4, width_p=12),
        cms_table(_ws_tokens(new), "tok", depth=4, width_p=12),
    )
    return merged.orderBy("r", "bucket")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-normalized md5 content fingerprint per document."""
    from textalyzer_spark.operators.quality import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content hash."""
    from textalyzer_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard near-duplicate pairs (threshold 0.1)."""
    from textalyzer_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), k=5, threshold=0.1)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified; value-exact DuckDB
    twin in oracles.minhash_lsh_sql (same md5-LE8 base hash, affine
    params, band buckets). Recall is additionally pytest-verified
    against exact Jaccard in tests/test_dedup_similarity.py."""
    from textalyzer_spark.operators.dedup import minhash_lsh_pairs

    # 32 hashes / 8 bands (r=4): same S-curve shape, half the Catalyst
    # expression — codegen compile drops 10.6s -> 3.8s, identical rows
    return minhash_lsh_pairs(
        _docs(spark, sf_dir), k=5, num_hashes=32, bands=8, threshold=0.1
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs, Hamming <= 6; value-exact DuckDB
    twin in oracles.simhash_pairs_sql (brute-force over the same
    simhash values — the pigeonhole banding is recall-complete, so
    the output sets are identical by construction)."""
    from textalyzer_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=6)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors
    (vec_id % 50 == 0) over the embeddings table."""
    from textalyzer_spark.operators.similarity import cosine_topk

    emb = _embeddings(spark, sf_dir)
    queries = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return cosine_topk(emb, queries, k=5)


def q_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN top-5; value-exact DuckDB twin in
    oracles.lsh_cosine_topk_sql (identical hyperplane constants
    embedded as SQL literals). Recall vs brute force pytest-verified."""
    from textalyzer_spark.operators.similarity import lsh_cosine_topk

    emb = _embeddings(spark, sf_dir)
    queries = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return lsh_cosine_topk(emb, queries, k=5, dim=64, n_bits=8, n_tables=4)


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs — the registered scale
    path (equi-join on hyperplane buckets, NO cartesian product in
    the plan), exact-cosine-verified so precision is exact. n_bits=4 /
    n_tables=16 targets ~0.9 recall at this corpus's low threshold
    (0.35; near-uniform synthetic vectors) — real near-dup corpora run
    threshold >=0.9 where fewer, wider tables prune far harder."""
    from textalyzer_spark.operators.similarity import embedding_near_dup_pairs_lsh

    return embedding_near_dup_pairs_lsh(
        _embeddings(spark, sf_dir), threshold=0.35, dim=64, n_bits=4, n_tables=16
    )


def q_line_display_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line display-width histogram via the Arrow-batched wcwidth UDF;
    value-exact DuckDB twin in oracles.line_display_width_sql (the
    wcwidth range table is generated from the same _char_width and
    ASOF-joined per character). Unicode fixtures pytest-verified."""
    from textalyzer_spark.operators.line_length import line_length_histogram

    return line_length_histogram(_docs(spark, sf_dir), use_display_width=True)


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time aggregation per event_type."""
    from textalyzer_spark.operators.events import tumbling_counts
    from textalyzer_spark.shipping import ship_package

    ship_package(spark)
    return tumbling_counts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) per user."""
    from textalyzer_spark.operators.events import sessionize
    from textalyzer_spark.shipping import ship_package

    ship_package(spark)
    return sessionize(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish-regex token counts per document."""
    from textalyzer_spark.operators.tokens import token_counts

    return token_counts(_docs(spark, sf_dir))


def q_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL learned-BPE token counting (Sennrich 2016): top-100 merge
    rules trained on the corpus (one distributed word-histogram pass +
    driver loop over the capped histogram), then per-doc token counts
    under the learned table. The oracle re-learns the SAME merges in
    SQL (recursive recount-pick-apply CTE) and replays the application
    — training and counting both value-exact, no frozen constants."""
    from textalyzer_spark.operators.bpe import token_counts_bpe_learned

    return token_counts_bpe_learned(
        _docs(spark, sf_dir), n_merges=100, max_vocab=50_000
    )


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash near-dup pairs; value-exact DuckDB twin
    in oracles.winnow_pairs_sql (direct polynomial k-gram hash mod M
    in HUGEINT == the engine's incremental rolling form). Schleimer
    guarantees additionally pytest-verified."""
    from textalyzer_spark.operators.tokens import winnow_near_dup_pairs

    return winnow_near_dup_pairs(_docs(spark, sf_dir), min_shared=3, min_overlap=0.5)


def q_duplicate_block_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship multi-line duplication operator's distributed core
    (seed self-join -> gaps-and-islands maximal runs -> gated dedented
    candidates), run over a line-structured corpus synthesized from
    the flat table (newline every 8 tokens). Output: one row per
    (content, location) with >= 3 non-empty lines. The resolution
    stage is gate-checked separately (q_duplicate_blocks_resolved)."""
    from textalyzer_spark.operators.duplication import duplicate_blocks

    cands = duplicate_blocks(
        _line_structured_docs(spark, sf_dir), min_lines=3, resolve=False
    )
    return (
        cands.select("content", F.explode("locations").alias("l"))
        .select(
            "content",
            F.col("l.doc_id").alias("doc_id"),
            F.col("l.line").alias("line"),
        )
        .distinct()
    )


def _line_structured_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-structured corpus synthesized from the flat table
    (newline every 8 tokens) — shared by the duplication queries. The
    token/gap classes are the pinned cross-engine explicit-ASCII ones
    (Java vs RE2 ``\\s`` differ on \\x0B), so the oracle's identical
    pattern text synthesizes identical lines."""
    from textalyzer_spark.functions.alphabet import NON_WS_CLASS, WS_SPLIT

    pat = f"(({NON_WS_CLASS}+{WS_SPLIT}){{7}}{NON_WS_CLASS}+){WS_SPLIT}"
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(F.col("text"), pat, "$1\n").alias("text"),
    )


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global span dedup (Raffel et al. 2020 §2.2) over the
    synthesized line corpus: drop every line covered by a non-first
    occurrence of a duplicated 3-line span, rebuild each document.
    One row per input doc: (doc_id, text, n_lines_kept,
    n_lines_removed)."""
    from textalyzer_spark.operators.span_dedup import span_dedup

    return span_dedup(_line_structured_docs(spark, sf_dir), n=3)


def q_incremental_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot C4-style span dedup: the odd-id batch rebuilt
    against the even-id snapshot's first-occurrence span-hash catalog
    — incremental_exact_dedup one level down (spans, not whole docs),
    the boilerplate-stripping new-crawl workflow under the gate."""
    from textalyzer_spark.operators.span_dedup import (
        incremental_span_dedup,
        span_catalog,
    )

    docs = _line_structured_docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_span_dedup(new, span_catalog(old, n=3), n=3)


def q_duplicate_blocks_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship operator END-TO-END: candidates + the greedy
    overlap-resolution stage (reference duplication.rs:298-336), one
    row per surviving (content, doc_id, line). The DuckDB twin
    (oracles.duplicate_blocks_resolved_sql) replays the same pinned
    claim order as a recursive CTE, so the gate now checks the final
    answer, not just the candidate set."""
    from textalyzer_spark.operators.duplication import duplicate_blocks

    res = duplicate_blocks(
        _line_structured_docs(spark, sf_dir), min_lines=3, resolve=True
    )
    return res.select("content", F.explode("locations").alias("l")).select(
        "content",
        F.col("l.doc_id").alias("doc_id"),
        F.col("l.line").alias("line"),
    )


def q_duplicate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-line duplication mode (reference duplication.rs:10-40,
    the min_lines<=1 dispatch): trimmed lines of >5 bytes occurring
    more than once, exploded to one row per (content, doc_id, line),
    over the synthesized line-structured corpus."""
    from textalyzer_spark.operators.duplication import duplicate_lines

    dup = duplicate_lines(_line_structured_docs(spark, sf_dir))
    return dup.select(
        "content",
        F.col("n_locations").cast("bigint").alias("n_locations"),
        F.explode("locations").alias("l"),
    ).select(
        "content",
        "n_locations",
        F.col("l.doc_id").alias("doc_id"),
        F.col("l.line").alias("line"),
    )


def q_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction (north_rule: HTML boilerplate strip /
    DOM heuristics): each document is wrapped in a deterministic page
    template (nav + header + all-links ad unit + article + image +
    footer, operators/extraction.py:synthesize_pages) and the
    extractor must strip every boilerplate region and return exactly
    the article paragraphs. The oracle reconstructs the expected
    output directly from the original text — a full roundtrip check
    of parser + tag scoping + link-density heuristics."""
    from textalyzer_spark.operators.extraction import (
        extract_main_content,
        synthesize_pages,
    )

    pages = synthesize_pages(_docs(spark, sf_dir))
    return extract_main_content(pages)


def q_pdf_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction roundtrip (north_rule: PDF/layout parse):
    each document is rendered into a deterministic minimal Flate PDF
    (one escaped Tj literal per line, T* line moves —
    operators/extraction.py:synthesize_pdfs) and the extractor must
    recover exactly the original text modulo the documented block
    normalization. The oracle reconstructs the expected text straight
    from documents.text — a full roundtrip check of stream inflation,
    the linear content tokenizer, literal unescaping, and text-op
    state handling."""
    from textalyzer_spark.operators.extraction import (
        pdf_extract_text,
        synthesize_pdfs,
    )

    docs = _docs(spark, sf_dir)
    return pdf_extract_text(synthesize_pdfs(docs)).select("doc_id", "text")


def q_span_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interleaved-span pipeline under the driver gate: the word
    histogram computed over TEXT SPANS of the nested corpus
    (synthesized from the flat table, corpus.nested_from_flat) must
    equal the flat word_frequency oracle row-for-row — the media-
    passthrough / lossless-span invariant the engine asserts in
    pytest (tests/test_spans.py), now driver-visible. Shares
    word_frequency's oracle SQL by construction."""
    from textalyzer_spark.corpus import nested_from_flat
    from textalyzer_spark.operators.spans import span_word_frequency

    return span_word_frequency(nested_from_flat(_docs(spark, sf_dir)))


def q_char_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative character frequency (the reference's dormant
    relative-character-frequency.tsv asset, realized)."""
    from textalyzer_spark.operators.frequency import char_frequency

    return char_frequency(_docs(spark, sf_dir))


def q_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means cell probe) ANN top-5; value-exact DuckDB twin in
    oracles.ivf_cosine_topk_sql (the sample-restricted k-means is
    unrolled into assign/update CTEs; quantized centroid updates pin
    the float semantics cross-engine). sample_size=256 < the sf0.01
    corpus, so the gate exercises the bounded-sample training path.
    Recall vs brute force pytest-verified."""
    from textalyzer_spark.operators.similarity import ivf_cosine_topk

    emb = _embeddings(spark, sf_dir)
    queries = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return ivf_cosine_topk(
        emb, queries, k=5, n_clusters=16, n_probe=4, sample_size=256
    )


def q_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER RESOLUTION end-to-end (the operator a 100 TB
    dedup run terminates in): minhash+LSH pairs (same params as
    q_minhash_lsh) -> connected components -> keep-min-id survivor,
    one row per corpus document. DuckDB twin replays the exact pair
    SQL then a recursive min-label walk (oracles.near_dup_groups_sql)
    — the duplicate_blocks_resolved recursive-CTE technique applied
    to the near-dup family."""
    from textalyzer_spark.operators.near_dedup import near_dedup

    return near_dedup(
        _docs(spark, sf_dir), method="minhash",
        k=5, num_hashes=32, bands=8, threshold=0.1,
    )


def q_near_dup_groups_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution with the SIMHASH pair generator (same
    composition as q_near_dup_groups, different method= — proving
    near_dedup is method-parametric at the gate level): combination-
    banded simhash pairs (Hamming <= 6, as q_simhash_pairs) ->
    connected components -> keep-min-id."""
    from textalyzer_spark.operators.near_dedup import near_dedup

    return near_dedup(
        _docs(spark, sf_dir), method="simhash", max_hamming=6
    )


def q_near_dup_keep_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keep rule over the same near-dup components:
    the survivor is the highest-quality_score doc (tie -> min doc_id)
    instead of min-id — the rule a real training-data dedup uses.
    Oracle: same pair + component CTEs joined with the qscore chain
    and an ARG_MAX-style two-step keep."""
    from textalyzer_spark.operators.near_dedup import near_dedup

    return near_dedup(
        _docs(spark, sf_dir), method="minhash", keep="quality",
        k=5, num_hashes=32, bands=8, threshold=0.1,
    )


def _split_batches(spark: SparkSession, sf_dir: str):
    """The incremental-dedup gate fixture: the corpus split into a
    prior snapshot (even doc_ids — the catalog source) and a new
    batch (odd doc_ids)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus mixture report (doc + token mass shares,
    unrounded count ratios) — what stratified_sample's rates are
    tuned against."""
    from textalyzer_spark.operators.quality import with_lang_id
    from textalyzer_spark.operators.sampling import corpus_mixture

    # join-free language column (round 8): docs ⋈ lang_id(docs) was an
    # identity self-join — pred_lang is a per-row projection
    return corpus_mixture(with_lang_id(_docs(spark, sf_dir)), "pred_lang")


def _mixture_planned_sample_sql(toks_expr: str) -> str:
    """Oracle twin of q_mixture_planned_sample: re-derives the
    solver's per-bucket rates in SQL with the solver's exact float
    operation order — T* = min_b(avail_b / share_b), rate_b =
    (T* * share_b) / avail_b — over its own mixture aggregate, so
    every u < rate boundary decision is bit-identical to the engine's
    Python-solved literal rates."""
    tot = sum(v for v in MIX_TARGET.values() if v > 0)
    tgt = {k: v / tot for k, v in MIX_TARGET.items() if v > 0}
    vals = ", ".join(f"('{k}', {v!r})" for k, v in tgt.items())
    u = (
        f"CAST(md5_number_upper('{MIX_PLAN_SALT}' || "
        "CAST(l.doc_id AS VARCHAR)) AS DOUBLE) / 18446744073709551616.0"
    )
    return f"""
        WITH {_lang_ctes(toks_expr)}, per AS (
          SELECT pred_lang AS bucket,
                 CAST(sum(len(toks)) AS BIGINT) AS n_tokens
          FROM lang JOIN lt USING (doc_id)
          GROUP BY 1
        ), tgt(bucket, share) AS (VALUES {vals}),
        feas AS (
          SELECT min(CAST(coalesce(p.n_tokens, 0) AS DOUBLE) / t.share)
                   AS t_star
          FROM tgt t LEFT JOIN per p USING (bucket)
        ), rates AS (
          SELECT t.bucket,
                 CASE WHEN coalesce(p.n_tokens, 0) > 0
                      THEN (SELECT t_star FROM feas) * t.share
                             / CAST(p.n_tokens AS DOUBLE)
                      ELSE 0.0 END AS rate
          FROM tgt t LEFT JOIN per p USING (bucket)
        )
        SELECT l.doc_id, l.pred_lang, {u} AS u
        FROM lang l LEFT JOIN rates r ON r.bucket = l.pred_lang
        WHERE {u} < coalesce(r.rate, 0.0)
    """


def q_mixture_planned_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solver-driven stratified sampling: measure the corpus mixture,
    SOLVE per-language keep rates for the MIX_TARGET token mixture
    (T* water-fill — scarcest bucket kept at 1.0, the rest downsample
    proportionally), apply them. The oracle re-derives the rates in
    SQL from its own mixture aggregate with the identical operation
    order, so the float boundary decisions are bit-exact. Collects one
    row per stratum (languages — never corpus-sized) to run the pure
    solver on the driver."""
    from textalyzer_spark.operators.quality import with_lang_id
    from textalyzer_spark.operators.sampling import (
        corpus_mixture,
        solve_rates_from_mixture_report,
        stratified_sample,
    )

    docs = _docs(spark, sf_dir)
    # join-free language column (q_corpus_mixture rationale) — both
    # the mixture collect and the sampling action evaluate one
    # projection instead of docs ⋈ lang_id(docs) each
    joined = with_lang_id(docs)
    rates = solve_rates_from_mixture_report(
        corpus_mixture(joined, "pred_lang"), MIX_TARGET, mass_col="n_tokens"
    )
    samp = stratified_sample(
        joined, "pred_lang", rates, 0.0, salt=MIX_PLAN_SALT
    )
    return samp.select("doc_id", "pred_lang", "u")


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub roundtrip (the extraction-family pattern): each doc
    gains a deterministic doc_id-derived contact footer (email + IPv4
    + phone), then the redactor must count and mask every occurrence
    — the oracle rebuilds the same footer in SQL and compares counts
    plus the md5 of the fully masked text. Patterns are pinned to the
    Java-regex ∩ RE2 subset; masking order pinned (email, ip, phone —
    the raw-text phone count deliberately also hits the IP's digit
    run, mirrored in SQL)."""
    from textalyzer_spark.operators.pii import pii_stats, synthesize_pii

    return pii_stats(synthesize_pii(_docs(spark, sf_dir)))


def q_pipeline_clean_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data pipeline as ONE gate query — the
    artifact a user actually deploys (reference analog: the ``run()``
    scan→analyze→filter→present chain, textalyzer/src/lib.rs:57-151):

      synthesize PII footers (the pii_redaction fixture stage)
      → quality filter (quality_score >= PIPELINE_QMIN)
      → PII redaction (clean text from here on)
      → exact dedup (keep min doc_id per md5 of clean text)
      → near-dup cluster resolution (minhash, keep min id)
      → language-stratified deterministic sample (MIX_RATES)

    Output: the kept ``(doc_id, clean_md5, u)`` — clean_md5 proves
    the survivor's exact redacted content, u the sampling variate.
    The DuckDB oracle composes the five stage oracles as CTEs over
    the same derived corpus at each step.

    Scale shape: every stage is the already-audited operator —
    scan-filter stages (quality, redaction, sampling) add zero
    Exchanges; the dedup stages reuse the bounded minhash/component
    machinery. The chain adds no new shuffle beyond its stages."""
    from textalyzer_spark.operators.near_dedup import near_dedup
    from textalyzer_spark.operators.pii import redact_pii, synthesize_pii
    from textalyzer_spark.operators.quality import (
        with_lang_id,
        with_quality_score,
    )
    from textalyzer_spark.operators.sampling import stratified_sample

    pdoc = synthesize_pii(_docs(spark, sf_dir))
    # join-free quality gate (round 8): the previous
    # pdoc ⋈ quality_score(pdoc).filter(...).select(doc_id) evaluated
    # the synthesized corpus twice and paid a self-join for what is a
    # per-row filter — identical keep set by construction
    gated = (
        with_quality_score(pdoc)
        .filter(F.col("quality_score") >= PIPELINE_QMIN)
        .drop("quality_score")
    )
    clean = redact_pii(gated).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    # exact dedup as a window filter (round 8): keep rows whose
    # doc_id is the minimum over their md5 fingerprint — identical
    # keep set to the old groupBy+self-join, but the upstream narrow
    # chain (scan -> synthesize -> quality Generate -> redact) is
    # consumed ONCE instead of once per consumer (A/B: stage-1
    # checkpoint 1.72-1.83 -> 1.46-1.51 s at sf0.1)
    _wfp = Window.partitionBy(F.md5("text"))
    deduped = (
        clean.withColumn("_min", F.min("doc_id").over(_wfp))
        .filter(F.col("doc_id") == F.col("_min"))
        .drop("_min")
    )
    # multi-ACTION pipeline: near_dedup fires edge/doc actions and
    # the final select re-joins deduped — without the barrier the
    # quality+redact+dedup chain re-executes per action (A/B at
    # sf0.1: 9.1/9.4 s with vs 13.6/18.9 s without)
    deduped = deduped.localCheckpoint()
    nd = near_dedup(
        deduped, method="minhash", k=5, num_hashes=32, bands=8,
        threshold=0.1,
    )
    kept = deduped.join(nd.filter("keep").select("doc_id"), "doc_id")
    # join-free language column (same rationale as the quality gate)
    samp = stratified_sample(
        with_lang_id(kept), "pred_lang", MIX_RATES,
        MIX_DEFAULT_RATE, salt=MIX_SALT,
    )
    return samp.select(
        "doc_id", F.md5("text").alias("clean_md5"), "u"
    )


def q_pipeline_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pipeline WITH a decontamination stage — the
    full pre-training recipe: the held-out benchmark (doc_id % 97 ==
    0, raw text) must not leak into the training sample, so after
    redaction every doc sharing ANY 5-gram occurrence with the
    benchmark is dropped (GPT-3 appendix-C style), then exact dedup →
    near-dup resolution → stratified sample as in
    q_pipeline_clean_sample. Output: kept (doc_id, clean_md5, u)."""
    from textalyzer_spark.operators.dedup import contamination_stats
    from textalyzer_spark.operators.near_dedup import near_dedup
    from textalyzer_spark.operators.pii import redact_pii, synthesize_pii
    from textalyzer_spark.operators.quality import (
        with_lang_id,
        with_quality_score,
    )
    from textalyzer_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    pdoc = synthesize_pii(docs.filter(F.col("doc_id") % 97 != 0))
    # join-free quality gate (q_pipeline_clean_sample rationale)
    clean = redact_pii(
        with_quality_score(pdoc)
        .filter(F.col("quality_score") >= PIPELINE_QMIN)
        .drop("quality_score")
    ).select("doc_id", F.col("clean_text").alias("text"))
    # anti join: a doc_id with any contaminated row is dropped whole,
    # and a repeated doc_id does not fan the join out
    decont = clean.join(
        contamination_stats(clean, bench, k=5)
        .filter(F.col("n_contaminated") > 0)
        .select("doc_id"),
        "doc_id",
        "left_anti",
    )
    # exact dedup as a window filter (round 8): keep rows whose
    # doc_id is the minimum over their md5 fingerprint — identical
    # keep set to the old groupBy+self-join, but the upstream narrow
    # chain (scan -> synthesize -> quality Generate -> redact) is
    # consumed ONCE instead of once per consumer (A/B: stage-1
    # checkpoint 1.72-1.83 -> 1.46-1.51 s at sf0.1)
    _wfp = Window.partitionBy(F.md5("text"))
    deduped = (
        decont.withColumn("_min", F.min("doc_id").over(_wfp))
        .filter(F.col("doc_id") == F.col("_min"))
        .drop("_min")
    )
    # multi-ACTION barrier (same A/B rationale as pipeline_clean_sample)
    deduped = deduped.localCheckpoint()
    nd = near_dedup(
        deduped, method="minhash", k=5, num_hashes=32, bands=8,
        threshold=0.1,
    )
    kept = deduped.join(nd.filter("keep").select("doc_id"), "doc_id")
    samp = stratified_sample(
        with_lang_id(kept), "pred_lang", MIX_RATES,
        MIX_DEFAULT_RATE, salt=MIX_SALT,
    )
    return samp.select("doc_id", F.md5("text").alias("clean_md5"), "u")


PIPELINE_SOURCE_CAP = 15
PIPELINE_CAP_SALT = "pc1"


def q_pipeline_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pipeline WITH head-domain suppression — the
    RefinedWeb/C4-style per-host quota applied where a production
    recipe applies it, between dedup and the mixture sample:

      quality gate → PII redaction → exact dedup → near-dup cluster
      resolution → per-SOURCE cap (cap_per_stratum, the pruned
      stratum-nested bucketed rank — a mega-source never pins one
      sort task) → language-stratified deterministic sample

    Output: kept ``(doc_id, source, clean_md5, u)``. The DuckDB
    oracle composes the stage oracles with the cap stage's naive
    QUALIFY row_number twin over the same derived corpus."""
    from textalyzer_spark.operators.near_dedup import near_dedup
    from textalyzer_spark.operators.pii import redact_pii, synthesize_pii
    from textalyzer_spark.operators.quality import (
        with_lang_id,
        with_quality_score,
    )
    from textalyzer_spark.operators.sampling import (
        cap_per_stratum,
        stratified_sample,
    )

    docs = _docs(spark, sf_dir)
    pdoc = synthesize_pii(docs)
    # join-free quality gate (q_pipeline_clean_sample rationale)
    clean = redact_pii(
        with_quality_score(pdoc)
        .filter(F.col("quality_score") >= PIPELINE_QMIN)
        .drop("quality_score")
    ).select("doc_id", F.col("clean_text").alias("text"))
    # exact dedup as a window filter (round 8): keep rows whose
    # doc_id is the minimum over their md5 fingerprint — identical
    # keep set to the old groupBy+self-join, but the upstream narrow
    # chain (scan -> synthesize -> quality Generate -> redact) is
    # consumed ONCE instead of once per consumer (A/B: stage-1
    # checkpoint 1.72-1.83 -> 1.46-1.51 s at sf0.1)
    _wfp = Window.partitionBy(F.md5("text"))
    deduped = (
        clean.withColumn("_min", F.min("doc_id").over(_wfp))
        .filter(F.col("doc_id") == F.col("_min"))
        .drop("_min")
    )
    # multi-ACTION barrier (same A/B rationale as pipeline_clean_sample)
    deduped = deduped.localCheckpoint()
    nd = near_dedup(
        deduped, method="minhash", k=5, num_hashes=32, bands=8,
        threshold=0.1,
    )
    kept = deduped.join(nd.filter("keep").select("doc_id"), "doc_id").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    capped = cap_per_stratum(
        kept, cap=PIPELINE_SOURCE_CAP, stratum_col="source",
        salt=PIPELINE_CAP_SALT, num_buckets=8,
    )
    kept2 = kept.join(capped.select("doc_id"), "doc_id")
    samp = stratified_sample(
        with_lang_id(kept2), "pred_lang", MIX_RATES,
        MIX_DEFAULT_RATE, salt=MIX_SALT,
    )
    return samp.select(
        "doc_id", "source", F.md5("text").alias("clean_md5"), "u"
    )


def q_incremental_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination against a PERSISTED, MERGED gram catalog:
    the %97 benchmark set split into two 'suites' (even/odd bench
    ids), each shingled into its own catalog, merged by set union,
    then the train batch screened against the merge — byte-identical
    to one-shot contamination_stats over the union benchmark (the
    oracle computes exactly that). Benchmark suites grow over time;
    the catalog is the state a 10^12-doc ingest keeps instead of
    re-shingling every suite per crawl."""
    from textalyzer_spark.operators.dedup import (
        benchmark_gram_catalog,
        contamination_from_catalog,
        merge_gram_catalogs,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    cat = merge_gram_catalogs(
        benchmark_gram_catalog(bench.filter(F.col("doc_id") % 2 == 0), k=5),
        benchmark_gram_catalog(bench.filter(F.col("doc_id") % 2 == 1), k=5),
    )
    return contamination_from_catalog(train, cat, k=5)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection (decontamination step):
    docs with doc_id % 97 == 0 play the held-out benchmark; every
    other doc reports the fraction of its token 5-gram occurrences
    found verbatim in the benchmark set (broadcast semi-join over the
    distinct benchmark shingles)."""
    from textalyzer_spark.operators.dedup import contamination_stats

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_stats(train, bench, k=5)


def q_contamination_by_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination ATTRIBUTION (VERDICT r5 stretch 8): same %97
    benchmark split as q_contamination, but each hit is attributed to
    the benchmark document it came from — (doc_id, bench_doc,
    n_overlap_kgrams), the per-benchmark decontamination report."""
    from textalyzer_spark.operators.dedup import contamination_by_benchmark

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_by_benchmark(train, bench, k=5)


def q_incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot EXACT dedup: the odd-id batch anti-joined
    against the even-id snapshot's fingerprint catalog, deduped
    within-batch to min doc_id — the 100 TB new-crawl-vs-catalog
    workflow under the driver gate."""
    from textalyzer_spark.operators.incremental import (
        exact_catalog,
        incremental_exact_dedup,
    )

    old, new = _split_batches(spark, sf_dir)
    return incremental_exact_dedup(new, exact_catalog(old))


def q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot NEAR dedup: the odd-id batch's minhash
    signatures band-joined against the even-id snapshot's signature
    catalog (bit-identical signatures to q_minhash_lsh), similarity
    from the MinHash agreement estimator — the catalog stores
    num_hashes ints per doc, never shingles."""
    from textalyzer_spark.operators.incremental import (
        incremental_minhash_pairs,
        minhash_catalog,
    )

    old, new = _split_batches(spark, sf_dir)
    # in production the catalog is READ from a snapshot; here it is
    # computed in-query, so materialize it once — it feeds both the
    # band join and the signature-agreement verify
    cat = minhash_catalog(old, k=5, num_hashes=32, seed=42).localCheckpoint()
    return incremental_minhash_pairs(
        new, cat, k=5, num_hashes=32, bands=8, threshold=0.1, seed=42
    )


def q_incremental_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot near-dup cluster MAINTENANCE (VERDICT r5 item
    2): the even-id snapshot's component catalog (signatures + labels)
    merged with the odd-id batch's intra + cross edges into ONE
    labeling of the union corpus — a chain A~B (snapshot 1) + B~C
    (snapshot 2) lands in one component. The DuckDB twin labels the
    union corpus with the same hybrid edge semantics (exact intra
    pairs per snapshot, signature-agreement cross pairs, recursive
    min-label walk) in oracles.incremental_near_dup_groups_sql."""
    from textalyzer_spark.operators.incremental import minhash_components

    old, new = _split_batches(spark, sf_dir)
    kw = dict(k=5, num_hashes=32, bands=8, threshold=0.1, seed=42)
    # in production the catalog is READ from a snapshot; computed
    # in-query it feeds band join + verify + label edges — barrier it
    cat = minhash_components(old, **kw).catalog.localCheckpoint()
    labels = minhash_components(new, cat, **kw).labels
    return labels.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("keep"),
    )


def q_incremental_embedding_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot cluster maintenance on the EMBEDDING catalog —
    completes the maintenance matrix (minhash / simhash / embedding
    catalogs all carry component labels forward): even vec_ids play
    the catalog snapshot, odd the new batch; label edges + intra LSH
    pairs + cross bucket-collision pairs (id-only join, rounded-
    cosine verify) into one union labeling. Same LSH params as
    q_embedding_near_dup_lsh."""
    from textalyzer_spark.operators.incremental import embedding_components

    emb = _embeddings(spark, sf_dir)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    kw = dict(threshold=0.35, dim=64, n_bits=4, n_tables=16)
    cat = embedding_components(old, **kw).catalog.localCheckpoint()
    labels = embedding_components(new, cat, **kw).labels
    return labels.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("keep"),
    )


def q_incremental_keep_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keep over MAINTAINED components: the catalog
    carries each cataloged doc's quality_score next to its signature
    and component (the old text may be gone at decision time — the
    score is the only quality state a catalog can consult), the new
    batch scores on arrival, and the merged components keep their
    highest-quality member (tie -> min doc_id) via the same two-agg
    rule as q_near_dup_keep_quality."""
    from textalyzer_spark.operators.incremental import minhash_components
    from textalyzer_spark.operators.near_dedup import quality_keep
    from textalyzer_spark.operators.quality import quality_score

    old, new = _split_batches(spark, sf_dir)
    kw = dict(k=5, num_hashes=32, bands=8, threshold=0.1, seed=42)
    cat = minhash_components(old, **kw).catalog
    catq = cat.join(
        quality_score(old).select("doc_id", "quality_score"), "doc_id"
    ).localCheckpoint()
    labels = minhash_components(new, catq, **kw).labels
    q_all = catq.select("doc_id", "quality_score").unionByName(
        quality_score(new).select("doc_id", "quality_score")
    )
    return quality_keep(labels, q_all)


def q_incremental_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot cluster maintenance on the SIMHASH catalog (one
    int64 + one label per doc — the cheapest catalog state): same
    label-edge + intra + cross union-find as
    q_incremental_near_dup_groups, Hamming radius 6 (as
    q_simhash_pairs). Oracle: brute-pair union labeling
    (oracles.incremental_simhash_groups_sql) — the banding is
    recall-complete so edge sets match by construction."""
    from textalyzer_spark.operators.incremental import simhash_components

    old, new = _split_batches(spark, sf_dir)
    cat = simhash_components(old, max_hamming=6).catalog.localCheckpoint()
    labels = simhash_components(new, cat, max_hamming=6).labels
    return labels.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("keep"),
    )


def q_embedding_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution over the EMBEDDING near-dup pairs — the
    near_dedup(pairs=...) composition path under the gate: LSH pair
    generation (same params as q_embedding_near_dup_lsh) -> connected
    components over vec_ids -> keep-min-id."""
    from textalyzer_spark.operators.near_dedup import near_dedup
    from textalyzer_spark.operators.similarity import (
        embedding_near_dup_pairs_lsh,
    )

    emb = _embeddings(spark, sf_dir)
    pairs = embedding_near_dup_pairs_lsh(
        emb, threshold=0.35, dim=64, n_bits=4, n_tables=16
    ).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return near_dedup(emb, pairs=pairs, id_col="vec_id")


def q_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot SimHash near-dup matches: the odd-id batch's
    64-bit signatures combination-banded against the even-id
    snapshot's simhash catalog (one int64 of state per catalog doc) —
    the third incremental path beside exact and minhash."""
    from textalyzer_spark.operators.incremental import (
        incremental_simhash_pairs,
        simhash_catalog,
    )

    old, new = _split_batches(spark, sf_dir)
    cat = simhash_catalog(old).localCheckpoint()
    return incremental_simhash_pairs(new, cat, max_hamming=6)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.35 — the
    synthetic embeddings are near-uniform, max pairwise cosine ~0.51;
    real near-dup corpora use ~0.95)."""
    from textalyzer_spark.operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_embeddings(spark, sf_dir), threshold=0.35)


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped LM quality filter (Wenzek 2020): add-one unigram
    LM trained on the lang='en' slice, every document scored by
    average per-token negative log-likelihood, kept below 3.405 nats.
    Cross-engine-exact by construction: glibc-ln micro-nat
    quantization over the vocab table only, int64 per-doc sums
    (operators/lm.py module docstring; oracle re-trains in SQL)."""
    from textalyzer_spark.operators.lm import lm_perplexity

    return lm_perplexity(
        _docs(spark, sf_dir),
        train_filter=F.col("lang") == "en",
        max_avg_nll=3.405,
    )


def q_lm_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated add-one bigram/unigram LM (Jelinek-Mercer,
    lam=0.75) over the same train slice; ln once per distinct bigram
    TYPE, per-doc exact occ*ll int64 dot product."""
    from textalyzer_spark.operators.lm import lm_perplexity_bigram

    return lm_perplexity_bigram(
        _docs(spark, sf_dir),
        train_filter=F.col("lang") == "en",
        lam=0.75,
        max_avg_nll=3.41,
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style training layout):
    every document's global token span and the seq_len=512 training
    chunks it occupies, via the two-level bucketed running sum (no
    corpus-sized single-partition window — plan-pinned in
    tests/test_packing.py). All-integer, exact by construction."""
    from textalyzer_spark.operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=512, num_buckets=64)


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level manifest of the packed corpus: contributing docs +
    token occupancy per training chunk (interior chunks exactly 512,
    ragged final remainder)."""
    from textalyzer_spark.operators.packing import chunk_manifest, pack_sequences

    packed = pack_sequences(_docs(spark, sf_dir), seq_len=512, num_buckets=64)
    return chunk_manifest(packed, seq_len=512)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-25 retrieval for a 3-term probe query (curation-side
    corpus search). idf from driver-side glibc ln (== DuckDB ln),
    contributions floored to int64 micro-units, deterministic
    (score DESC, doc_id ASC) ties — operators/retrieval.py."""
    from textalyzer_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        _docs(spark, sf_dir), ["spark", "window", "merge"], k=25
    )


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source length quantiles (0/25/50/75/100th) as k-th
    order statistics via the stratum-nested two-level bucketed rank —
    operators/order_stats.py."""
    from textalyzer_spark.operators.order_stats import length_quantiles

    return length_quantiles(_docs(spark, sf_dir))


def q_semdedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means semantic clustering of
    the embeddings (the IVF quantizer verbatim), intra-cluster cosine
    pairs at 0.35, connected components, keep-min-id —
    similarity.semdedup_pairs through near_dedup(pairs=...)."""
    from textalyzer_spark.operators.near_dedup import near_dedup
    from textalyzer_spark.operators.similarity import semdedup_pairs

    emb = _embeddings(spark, sf_dir)
    pairs = semdedup_pairs(emb, threshold=0.35).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return near_dedup(emb, pairs=pairs, id_col="vec_id")


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shuffle-and-shard: md5-permutation global rank
    via the two-level bucketed scan (256 hex-prefix range buckets),
    128-doc shards — operators/packing.py shard_plan."""
    from textalyzer_spark.operators.packing import shard_plan

    return shard_plan(_docs(spark, sf_dir), shard_size=128)


def q_stratified_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-preserving shuffle-and-shard: every one of the 8
    shards receives each SOURCE in corpus proportion (per-(shard,
    source) counts within 1 of n_source/8) via round-robin over the
    per-stratum md5 permutation — a trainer streaming any single
    shard sees an unbiased sample of the mixture. Per-stratum rank =
    the two-level bucketed scan nested under the stratum; no
    stratum-wide sort — operators/packing.py stratified_shard_plan."""
    from textalyzer_spark.operators.packing import stratified_shard_plan

    return stratified_shard_plan(
        _docs(spark, sf_dir), n_shards=8, stratum_col="source", salt="ss1"
    )


def q_tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 tf-idf keywords: smoothed idf in glibc
    micro-nats over the vocab table only, exact int64 tf*idf scores,
    per-doc window top-k — operators/keywords.py."""
    from textalyzer_spark.operators.keywords import tfidf_topk_terms

    return tfidf_topk_terms(_docs(spark, sf_dir), k=5)


def q_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-50 adjacent-bigram collocations by PMI (min count
    5): one bigram histogram shuffle, single glibc ln per surviving
    bigram TYPE, global TakeOrderedAndProject top-k —
    operators/keywords.py."""
    from textalyzer_spark.operators.keywords import collocations_pmi

    return collocations_pmi(_docs(spark, sf_dir), min_count=5, k=50)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie 2023): hashed unigram+bigram
    features (md5-LE8 % 4096 == DuckDB md5_number_upper), add-one
    target/raw distributions from the lang='en' slice vs the whole
    corpus, exact int64 micro-nat log-ratio dot product per doc;
    selected iff weight >= -8e6 (operators/selection.py)."""
    from textalyzer_spark.operators.selection import dsir_weights

    return dsir_weights(
        _docs(spark, sf_dir),
        F.col("lang") == "en",
        n_buckets=4096,
        min_weight_micro=-8_000_000,
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- never-driver-sampled gates lead the registry (the driver's
    # correctness run may sample a prefix; these composites have green
    # mirror runs but no driver artifact row yet — keep them first) ---
    "pipeline_clean_sample": q_pipeline_clean_sample,
    "pipeline_decontaminated": q_pipeline_decontaminated,
    "incremental_near_dup_groups": q_incremental_near_dup_groups,
    "incremental_simhash_groups": q_incremental_simhash_groups,
    "incremental_embedding_groups": q_incremental_embedding_groups,
    "incremental_keep_quality": q_incremental_keep_quality,
    "near_dup_groups_simhash": q_near_dup_groups_simhash,
    "mixture_planned_sample": q_mixture_planned_sample,
    "contamination_by_benchmark": q_contamination_by_benchmark,
    "incremental_span_dedup": q_incremental_span_dedup,
    "pipeline_capped_sample": q_pipeline_capped_sample,
    "histogram_drift": q_histogram_drift,
    "stratified_shard_plan": q_stratified_shard_plan,
    "incremental_contamination": q_incremental_contamination,
    # --- long-green registry ---
    "bm25_topk": q_bm25_topk,
    "dsir_weights": q_dsir_weights,
    "tfidf_topk_terms": q_tfidf_topk_terms,
    "collocations_pmi": q_collocations_pmi,
    "lm_perplexity": q_lm_perplexity,
    "lm_perplexity_bigram": q_lm_perplexity_bigram,
    "pack_sequences": q_pack_sequences,
    "pack_chunks": q_pack_chunks,
    "shard_plan": q_shard_plan,
    "length_quantiles": q_length_quantiles,
    "events_windowed": q_events_windowed,
    "sessionize": q_sessionize,
    "token_counts": q_token_counts,
    "token_counts_bpe": q_token_counts_bpe,
    "winnow_pairs": q_winnow_pairs,
    "char_frequency": q_char_frequency,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
    "embedding_near_dup_groups": q_embedding_near_dup_groups,
    "semdedup_groups": q_semdedup_groups,
    "ivf_cosine_topk": q_ivf_cosine_topk,
    "duplicate_block_candidates": q_duplicate_block_candidates,
    "duplicate_blocks_resolved": q_duplicate_blocks_resolved,
    "span_dedup": q_span_dedup,
    "duplicate_lines": q_duplicate_lines,
    "html_main_content": q_html_main_content,
    "pdf_extract_text": q_pdf_extract_text,
    "word_frequency": q_word_frequency,
    "span_word_frequency": q_span_word_frequency,
    "line_length": q_line_length,
    "line_display_width": q_line_display_width,
    "shingle_dup": q_shingle_dup,
    "readability": q_readability,
    "lexical_complexity": q_lexical_complexity,
    "token_stats": q_token_stats,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "repetition_stats": q_repetition_stats,
    "bigram_novelty": q_bigram_novelty,
    "stratified_sample": q_stratified_sample,
    "weighted_sample": q_weighted_sample,
    "incremental_weighted_sample": q_incremental_weighted_sample,
    "incremental_bloom_dedup": q_incremental_bloom_dedup,
    "length_histogram_quantiles": q_length_histogram_quantiles,
    "source_cap_sample": q_source_cap_sample,
    "hll_distinct_tokens": q_hll_distinct_tokens,
    "incremental_hll_tokens": q_incremental_hll_tokens,
    "cms_token_counts": q_cms_token_counts,
    "incremental_cms_tokens": q_incremental_cms_tokens,
    "fingerprint": q_fingerprint,
    "exact_dedup": q_exact_dedup,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh": q_minhash_lsh,
    "near_dup_groups": q_near_dup_groups,
    "near_dup_keep_quality": q_near_dup_keep_quality,
    "pii_redaction": q_pii_redaction,
    "corpus_mixture": q_corpus_mixture,
    "contamination": q_contamination,
    "incremental_exact_dedup": q_incremental_exact_dedup,
    "incremental_minhash": q_incremental_minhash,
    "incremental_simhash": q_incremental_simhash,
    "simhash_pairs": q_simhash_pairs,
    "cosine_topk": q_cosine_topk,
    "lsh_cosine_topk": q_lsh_cosine_topk,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_word_frequency(spark, DEFAULT_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-dialect ANSI SQL equivalents over the same parquet views.

    The hash/LSH family oracles are GENERATED from the same constants
    the Spark operators use (textalyzer_spark/oracles.py) — affine
    minhash params, hyperplane components, rolling-hash powers, and
    the wcwidth range table are embedded as SQL literals."""
    from textalyzer_spark import oracles as _o

    generated = {
        "lm_perplexity": _o.lm_perplexity_sql(
            train_where="lang = 'en'", max_avg_nll=3.405
        ),
        "lm_perplexity_bigram": _o.lm_perplexity_bigram_sql(
            train_where="lang = 'en'", lam=0.75, max_avg_nll=3.41
        ),
        "pack_sequences": _o.pack_sequences_sql(seq_len=512),
        "pack_chunks": _o.pack_chunks_sql(seq_len=512),
        "shard_plan": _o.shard_plan_sql(shard_size=128),
        "stratified_shard_plan": """
            WITH sst AS (
              SELECT doc_id, source AS stratum,
                     md5(concat('ss1', CAST(doc_id AS VARCHAR))) AS k
              FROM documents
            ), ssr AS (
              SELECT doc_id, stratum,
                     CAST(row_number() OVER (PARTITION BY stratum
                                             ORDER BY k, doc_id) - 1
                          AS BIGINT) AS stratum_pos
              FROM sst
            )
            SELECT doc_id, stratum, stratum_pos,
                   stratum_pos % 8 AS shard_id
            FROM ssr
        """,
        "semdedup_groups": _o.semdedup_groups_sql(threshold=0.35),
        "length_quantiles": _o.length_quantiles_sql(),
        "weighted_sample": _o.weighted_sample_sql(k=100, salt="ws1"),
        # the union corpus IS the whole table — sampling it directly
        # is the oracle-side mergeability proof (hll/cms gate pattern)
        "incremental_weighted_sample": _o.weighted_sample_sql(
            k=100, salt="ws1"
        ),
        "hll_distinct_tokens": _o.hll_distinct_tokens_sql(p=12, salt=""),
        "incremental_hll_tokens": _o.hll_incremental_sql(p=12, salt=""),
        "cms_token_counts": _o.cms_token_counts_sql(
            k=20, depth=4, width_p=12, salt=""
        ),
        "incremental_cms_tokens": _o.cms_table_sql(
            depth=4, width_p=12, salt=""
        ),
        "incremental_bloom_dedup": _o.bloom_dedup_sql(
            k_hashes=4, width_p=16, salt=""
        ),
        "histogram_drift": _o.histogram_drift_sql(bucket_width=64),
        "length_histogram_quantiles": _o.histogram_quantiles_sql(
            bucket_width=64, min_value=0
        ),
        "bm25_topk": _o.bm25_topk_sql(
            ["spark", "window", "merge"], k=25
        ),
        "dsir_weights": _o.dsir_weights_sql(
            target_where="lang = 'en'",
            n_buckets=4096,
            min_weight_micro=-8_000_000,
        ),
        "tfidf_topk_terms": _o.tfidf_topk_terms_sql(k=5),
        "collocations_pmi": _o.collocations_pmi_sql(min_count=5, k=50),
        "minhash_lsh": _o.minhash_lsh_sql(
            k=5, num_hashes=32, bands=8, threshold=0.1, seed=42
        ),
        "near_dup_groups": _o.near_dup_groups_sql(
            k=5, num_hashes=32, bands=8, threshold=0.1, seed=42
        ),
        "near_dup_groups_simhash": _o.near_dup_groups_simhash_sql(
            max_hamming=6
        ),
        "token_counts_bpe": _o.bpe_token_counts_sql(
            n_merges=100, max_vocab=50_000
        ),
        "incremental_exact_dedup": _o.incremental_exact_dedup_sql(),
        "incremental_minhash": _o.incremental_minhash_sql(
            k=5, num_hashes=32, bands=8, threshold=0.1, seed=42
        ),
        "incremental_near_dup_groups": _o.incremental_near_dup_groups_sql(
            k=5, num_hashes=32, bands=8, threshold=0.1, seed=42
        ),
        "incremental_simhash": _o.incremental_simhash_sql(max_hamming=6),
        "incremental_simhash_groups": _o.incremental_simhash_groups_sql(
            max_hamming=6
        ),
        "incremental_embedding_groups": _o.incremental_embedding_groups_sql(
            threshold=0.35, dim=64, n_bits=4, n_tables=16, seed=42
        ),
        "simhash_pairs": _o.simhash_pairs_sql(max_hamming=6),
        "winnow_pairs": _o.winnow_pairs_sql(
            k=8, window=4, min_shared=3, min_overlap=0.5, max_doc_freq=50
        ),
        "lsh_cosine_topk": _o.lsh_cosine_topk_sql(
            k=5, dim=64, n_bits=8, n_tables=4, seed=42, query_mod=50
        ),
        "ivf_cosine_topk": _o.ivf_cosine_topk_sql(
            k=5, n_clusters=16, n_probe=4, iters=3, sample_size=256,
            query_mod=50
        ),
        "embedding_near_dup_lsh": _o.embedding_near_dup_lsh_sql(
            threshold=0.35, dim=64, n_bits=4, n_tables=16, seed=42
        ),
        "embedding_near_dup_groups": _o.embedding_near_dup_groups_sql(
            threshold=0.35, dim=64, n_bits=4, n_tables=16, seed=42
        ),
        "line_display_width": _o.line_display_width_sql(),
        "duplicate_block_candidates": _o.duplicate_block_candidates_sql(
            max_locations_per_line=1000, min_lines=3
        ),
        "duplicate_blocks_resolved": _o.duplicate_blocks_resolved_sql(
            max_locations_per_line=1000, min_lines=3
        ),
        "duplicate_lines": _o.duplicate_lines_sql(min_bytes=6),
        "span_dedup": _o.span_dedup_sql(n=3),
        "incremental_span_dedup": _o.incremental_span_dedup_sql(n=3),
        "html_main_content": _o.html_main_content_sql(),
        "word_frequency": _o.word_frequency_sql(),
        "span_word_frequency": _o.word_frequency_sql(),
    }
    # shared token expressions: extract raw alphabetic runs with the
    # JVM-generated class, then lower PER TOKEN with the final-sigma-
    # aware expression — the engine's split-then-lower order, exact
    # beyond Latin (functions.alphabet's verified-range contract)
    from textalyzer_spark.functions import alphabet as _a

    _rx = _o.alpha_token_regex()
    _toks = _a.toks_lower_sql(f"regexp_extract_all(text, '{_rx}')")
    inline = {
        "char_frequency": """
            WITH chars AS (
              SELECT unnest(string_split(regexp_replace(lower(text), '[^a-z]+', '', 'g'), '')) AS ch
              FROM documents
            ), counts AS (
              SELECT ch, count(*) AS count FROM chars WHERE ch <> '' GROUP BY ch
            )
            SELECT ch, count,
                   round(count / CAST((SELECT sum(count) FROM counts) AS DOUBLE), 6)
                     AS rel_freq
            FROM counts
            ORDER BY count DESC, ch ASC
        """,
        "embedding_near_dup": """
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            )
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_dot_product(a.e, b.e)
                         / (sqrt(list_dot_product(a.e, a.e))
                            * sqrt(list_dot_product(b.e, b.e))), 4) AS cosine
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.e, b.e)
                        / (sqrt(list_dot_product(a.e, a.e))
                           * sqrt(list_dot_product(b.e, b.e))), 4) >= 0.35
        """,
        "token_counts": r"""
            SELECT doc_id,
              CAST(len(list_filter(
                    string_split_regex(lower(text), '[ \t\n\r\f\x0b]+'),
                    t -> t <> '')) AS INTEGER) AS n_ws_tokens,
              CAST(len(regexp_extract_all(lower(text),
                   ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) AS INTEGER) AS n_bpe_tokens,
              CASE WHEN len(regexp_extract_all(lower(text),
                        ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) > 0
                   THEN round(length(text) / CAST(len(regexp_extract_all(lower(text),
                        ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) AS DOUBLE), 4)
              END AS chars_per_bpe_token
            FROM documents
        """,
        "pdf_extract_text": """
            -- roundtrip expectation for synthesize_pdfs -> extract:
            -- the Tj/T* stream reassembles to the original text; the
            -- extractor then python-strips leading/trailing newlines
            -- from the BT..ET block and drops all-whitespace blocks
            SELECT doc_id,
                   CASE WHEN trim(nl, ' ' || chr(9) || chr(10) || chr(11)
                                       || chr(12) || chr(13)) = ''
                        THEN '' ELSE nl END AS text
            FROM (
              SELECT doc_id, trim(text, chr(10)) AS nl FROM documents
            )
        """,
        "events_windowed": """
            SELECT date_trunc('hour', ts) AS window_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        "sessionize": """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR date_diff('second', lag(ts) OVER w, ts) > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ts,
                     CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM o
            )
            SELECT user_id, session_id,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n_events
            FROM s GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        "line_length": """
            -- mirrors split_lines (Rust str::lines semantics): strip ONE
            -- trailing terminator (LF or CRLF), emit zero lines for the
            -- then-empty doc, and drop a trailing carriage return ONLY
            -- from \\n-terminated lines (every split element except the
            -- last; a bare final CR is part of the last line's content)
            SELECT CAST(CASE WHEN i < n
                             THEN length(regexp_replace(raw_line,
                                                        chr(13) || '$', ''))
                             ELSE length(raw_line) END AS INTEGER) AS length,
                   count(*) AS count
            FROM (
              SELECT unnest(ls) AS raw_line,
                     generate_subscripts(ls, 1) AS i,
                     len(ls) AS n
              FROM (
                SELECT string_split(
                         regexp_replace(text,
                           chr(13) || '?' || chr(10) || '$', ''),
                         chr(10)) AS ls
                FROM documents WHERE length(text) > 0
              )
            )
            GROUP BY 1
            ORDER BY 1
        """,
        "shingle_dup": f"""
            WITH rawt AS (
              SELECT doc_id, {_toks} AS tl FROM documents
            ), toks AS (
              SELECT doc_id, unnest(tl) AS w,
                     generate_subscripts(tl, 1) AS pos
              FROM rawt
            ), sh AS (
              SELECT doc_id,
                     w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS shingle
              FROM toks
              WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            )
            SELECT shingle, count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS n_docs
            FROM sh WHERE shingle IS NOT NULL
            GROUP BY shingle HAVING count(DISTINCT doc_id) > 1
            ORDER BY n_occurrences DESC, shingle ASC
        """,
        "readability": f"""
            WITH t AS (
              SELECT doc_id,
                     {_toks} AS toks,
                     greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
                                              s -> trim(s) <> '')), 1) AS n_sentences
              FROM documents
            ), agg AS (
              SELECT doc_id,
                     CAST(len(toks) AS INTEGER) AS n_words,
                     CAST(n_sentences AS INTEGER) AS n_sentences,
                     CAST(coalesce(list_sum(list_transform(toks, w ->
                        greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))
                          - CASE WHEN w LIKE '%e' AND w NOT LIKE '%le'
                                 AND len(regexp_extract_all(w, '[aeiouy]+')) > 1
                                 THEN 1 ELSE 0 END))), 0) AS INTEGER) AS n_syllables,
                     CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_words
              FROM t
            )
            SELECT doc_id, n_words, n_sentences, n_syllables, n_distinct_words,
              CASE WHEN n_words > 0
                   THEN round(n_distinct_words / CAST(n_words AS DOUBLE), 4) END
                AS type_token_ratio,
              CASE WHEN n_words > 0
                   THEN round(206.835 - 1.015*(n_words/CAST(n_sentences AS DOUBLE))
                              - 84.6*(n_syllables/CAST(n_words AS DOUBLE)), 4) END
                AS flesch_reading_ease,
              CASE WHEN n_words > 0
                   THEN round(0.39*(n_words/CAST(n_sentences AS DOUBLE))
                              + 11.8*(n_syllables/CAST(n_words AS DOUBLE)) - 15.59, 4) END
                AS fk_grade
            FROM agg
        """,
        "token_stats": f"""
            WITH t AS (
              SELECT doc_id,
                     CAST(length(text) AS BIGINT) AS n_chars,
                     {_toks} AS toks,
                     CAST(length(regexp_replace(text, '[^a-zA-Z]+', '', 'g')) AS BIGINT)
                       AS n_alpha_chars
              FROM documents
            )
            SELECT doc_id, n_chars,
              CAST(len(toks) AS INTEGER) AS n_tokens,
              CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
              CASE WHEN len(toks) > 0
                   THEN round(CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0)
                              AS DOUBLE) / len(toks), 4) END AS avg_token_len,
              CASE WHEN len(toks) > 0
                   THEN round(CAST(len(list_filter(toks, w -> list_contains(
                          ['the','a','an','and','or','of','to','in','is','it',
                           'that','for','on','with','as','was','at','by','be'], w)))
                        AS DOUBLE) / len(toks), 4) END AS stopword_ratio,
              CASE WHEN n_chars > 0
                   THEN round(n_alpha_chars / CAST(n_chars AS DOUBLE), 4) END AS alpha_ratio
            FROM t
        """,
        "quality_score": f"""
            WITH {_quality_ctes(_toks)}
            SELECT doc_id, quality_score, n_tokens, type_token_ratio,
                   stopword_ratio, alpha_ratio
            FROM qscore
        """,
        "incremental_keep_quality": f"""
            WITH RECURSIVE {_o.incremental_near_dup_cc_ctes(
                k=5, num_hashes=32, bands=8, threshold=0.1, seed=42
            )}, {_quality_ctes(_toks)},
            iqmax AS (
              SELECT component, max(quality_score) AS _qmax
              FROM cc_labels JOIN qscore USING (doc_id)
              GROUP BY component
            ), ikeepid AS (
              SELECT component, min(doc_id) AS _keep
              FROM cc_labels
              JOIN qscore USING (doc_id)
              JOIN iqmax USING (component)
              WHERE quality_score = _qmax
              GROUP BY component
            )
            SELECT l.doc_id, l.component, l.doc_id = k._keep AS keep
            FROM cc_labels l JOIN ikeepid k USING (component)
        """,
        "near_dup_keep_quality": f"""
            WITH RECURSIVE {_o.minhash_pairs_ctes(
                k=5, num_hashes=32, bands=8, threshold=0.1, seed=42
            )}, {_o.connected_components_ctes()}, {_quality_ctes(_toks)},
            qmax AS (
              SELECT component, max(quality_score) AS _qmax
              FROM cc_labels JOIN qscore USING (doc_id)
              GROUP BY component
            ), keepid AS (
              -- highest quality wins; tie -> minimal doc_id (the
              -- engine's two-step agg rule, no per-component window)
              SELECT component, min(doc_id) AS _keep
              FROM cc_labels
              JOIN qscore USING (doc_id)
              JOIN qmax USING (component)
              WHERE quality_score = _qmax
              GROUP BY component
            )
            SELECT l.doc_id, l.component, l.doc_id = k._keep AS keep
            FROM cc_labels l JOIN keepid k USING (component)
        """,
        "lexical_complexity": f"""
            SELECT CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(count(DISTINCT w) AS BIGINT) AS n_distinct_words
            FROM (
              SELECT {_a.tok_lower_sql('rw')} AS w
              FROM (
                SELECT unnest(regexp_extract_all(text, '{_rx}')) AS rw
                FROM documents
              )
            )
        """,
        "lang_id": f"""
            WITH {_lang_ctes(_toks)}
            SELECT doc_id, pred_lang, lang_score FROM lang
        """,
        "stratified_sample": f"""
            WITH {_lang_ctes(_toks)}
            SELECT doc_id, pred_lang,
                   CAST(md5_number_upper('{MIX_SALT}'
                        || CAST(doc_id AS VARCHAR)) AS DOUBLE)
                     / 18446744073709551616.0 AS u
            FROM lang
            WHERE CAST(md5_number_upper('{MIX_SALT}'
                       || CAST(doc_id AS VARCHAR)) AS DOUBLE)
                    / 18446744073709551616.0
                  < CASE pred_lang
                      {" ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(MIX_RATES.items()))}
                      ELSE {MIX_DEFAULT_RATE} END
        """,
        "source_cap_sample": """
            WITH scs AS (
              SELECT doc_id, source,
                     CAST(md5_number_upper('sc1'
                          || CAST(doc_id AS VARCHAR)) AS DOUBLE)
                       / 18446744073709551616.0 AS u
              FROM documents
            )
            SELECT doc_id, source, u FROM scs
            QUALIFY row_number()
                      OVER (PARTITION BY source ORDER BY u, doc_id) <= 10
        """,
        "pii_redaction": _pii_oracle_sql(),
        "pipeline_decontaminated": f"""
            WITH RECURSIVE {_pii_pdoc_cte(
                "(SELECT * FROM documents WHERE doc_id % 97 <> 0)"
            )}, p0 AS (
              SELECT doc_id, t AS text FROM pdoc
            ), {_quality_ctes(_toks, source="p0")}, gated AS (
              SELECT p.doc_id, p.text
              FROM p0 p JOIN qscore q USING (doc_id)
              WHERE q.quality_score >= {PIPELINE_QMIN}
            ), clean AS (
              SELECT doc_id, {_pii_masked_expr("text")} AS text FROM gated
            ), ctoks AS (
              SELECT doc_id, {_toks} AS toks FROM clean
            ), tg5 AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks) - 3),
                            i -> toks[i] || ' ' || toks[i+1] || ' '
                                 || toks[i+2] || ' ' || toks[i+3] || ' '
                                 || toks[i+4])) AS g
              FROM ctoks
            ), bmg5 AS (
              SELECT DISTINCT
                     unnest(list_transform(range(1, len(toks) - 3),
                            i -> toks[i] || ' ' || toks[i+1] || ' '
                                 || toks[i+2] || ' ' || toks[i+3] || ' '
                                 || toks[i+4])) AS g
              FROM (
                SELECT {_toks} AS toks FROM documents WHERE doc_id % 97 = 0
              )
            ), contam AS (
              SELECT DISTINCT t.doc_id FROM tg5 t JOIN bmg5 b ON b.g = t.g
            ), decont AS (
              SELECT c.doc_id, c.text FROM clean c
              WHERE NOT EXISTS (
                SELECT 1 FROM contam x WHERE x.doc_id = c.doc_id
              )
            ), keepx AS (
              SELECT min(doc_id) AS doc_id FROM decont GROUP BY md5(text)
            ), corpus AS (
              SELECT c.doc_id, c.text FROM decont c JOIN keepx USING (doc_id)
            ), {_o.minhash_pairs_ctes(
                k=5, num_hashes=32, bands=8, threshold=0.1, seed=42,
                source="corpus",
            )}, {_o.connected_components_ctes(
                docs_select="SELECT doc_id FROM corpus"
            )}, surv AS (
              SELECT doc_id FROM cc_labels WHERE doc_id = component
            ), sdocs AS (
              SELECT c.doc_id, c.text FROM corpus c JOIN surv USING (doc_id)
            ), {_lang_ctes(_toks, source="sdocs")}
            SELECT s.doc_id, md5(s.text) AS clean_md5,
                   CAST(md5_number_upper('{MIX_SALT}'
                        || CAST(s.doc_id AS VARCHAR)) AS DOUBLE)
                     / 18446744073709551616.0 AS u
            FROM sdocs s JOIN lang USING (doc_id)
            WHERE CAST(md5_number_upper('{MIX_SALT}'
                       || CAST(s.doc_id AS VARCHAR)) AS DOUBLE)
                    / 18446744073709551616.0
                  < CASE pred_lang
                      {" ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(MIX_RATES.items()))}
                      ELSE {MIX_DEFAULT_RATE} END
        """,
        "pipeline_clean_sample": f"""
            WITH RECURSIVE {_pii_pdoc_cte()}, p0 AS (
              SELECT doc_id, t AS text FROM pdoc
            ), {_quality_ctes(_toks, source="p0")}, gated AS (
              SELECT p.doc_id, p.text
              FROM p0 p JOIN qscore q USING (doc_id)
              WHERE q.quality_score >= {PIPELINE_QMIN}
            ), clean AS (
              SELECT doc_id, {_pii_masked_expr("text")} AS text FROM gated
            ), keepx AS (
              SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text)
            ), corpus AS (
              SELECT c.doc_id, c.text FROM clean c JOIN keepx USING (doc_id)
            ), {_o.minhash_pairs_ctes(
                k=5, num_hashes=32, bands=8, threshold=0.1, seed=42,
                source="corpus",
            )}, {_o.connected_components_ctes(
                docs_select="SELECT doc_id FROM corpus"
            )}, surv AS (
              SELECT doc_id FROM cc_labels WHERE doc_id = component
            ), sdocs AS (
              SELECT c.doc_id, c.text FROM corpus c JOIN surv USING (doc_id)
            ), {_lang_ctes(_toks, source="sdocs")}
            SELECT s.doc_id, md5(s.text) AS clean_md5,
                   CAST(md5_number_upper('{MIX_SALT}'
                        || CAST(s.doc_id AS VARCHAR)) AS DOUBLE)
                     / 18446744073709551616.0 AS u
            FROM sdocs s JOIN lang USING (doc_id)
            WHERE CAST(md5_number_upper('{MIX_SALT}'
                       || CAST(s.doc_id AS VARCHAR)) AS DOUBLE)
                    / 18446744073709551616.0
                  < CASE pred_lang
                      {" ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(MIX_RATES.items()))}
                      ELSE {MIX_DEFAULT_RATE} END
        """,
        "pipeline_capped_sample": f"""
            WITH RECURSIVE {_pii_pdoc_cte()}, p0 AS (
              SELECT doc_id, t AS text FROM pdoc
            ), {_quality_ctes(_toks, source="p0")}, gated AS (
              SELECT p.doc_id, p.text
              FROM p0 p JOIN qscore q USING (doc_id)
              WHERE q.quality_score >= {PIPELINE_QMIN}
            ), clean AS (
              SELECT doc_id, {_pii_masked_expr("text")} AS text FROM gated
            ), keepx AS (
              SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text)
            ), corpus AS (
              SELECT c.doc_id, c.text FROM clean c JOIN keepx USING (doc_id)
            ), {_o.minhash_pairs_ctes(
                k=5, num_hashes=32, bands=8, threshold=0.1, seed=42,
                source="corpus",
            )}, {_o.connected_components_ctes(
                docs_select="SELECT doc_id FROM corpus"
            )}, surv AS (
              SELECT doc_id FROM cc_labels WHERE doc_id = component
            ), sdocs AS (
              SELECT c.doc_id, c.text FROM corpus c JOIN surv USING (doc_id)
            ), svc AS (
              SELECT s.doc_id, s.text, d.source,
                     CAST(md5_number_upper('{PIPELINE_CAP_SALT}'
                          || CAST(s.doc_id AS VARCHAR)) AS DOUBLE)
                       / 18446744073709551616.0 AS cu
              FROM sdocs s JOIN documents d USING (doc_id)
            ), capped AS (
              SELECT doc_id, text, source FROM svc
              QUALIFY row_number() OVER (PARTITION BY source
                                         ORDER BY cu, doc_id)
                        <= {PIPELINE_SOURCE_CAP}
            ), {_lang_ctes(_toks, source="capped")}
            SELECT c.doc_id, c.source, md5(c.text) AS clean_md5,
                   CAST(md5_number_upper('{MIX_SALT}'
                        || CAST(c.doc_id AS VARCHAR)) AS DOUBLE)
                     / 18446744073709551616.0 AS u
            FROM capped c JOIN lang USING (doc_id)
            WHERE CAST(md5_number_upper('{MIX_SALT}'
                       || CAST(c.doc_id AS VARCHAR)) AS DOUBLE)
                    / 18446744073709551616.0
                  < CASE pred_lang
                      {" ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(MIX_RATES.items()))}
                      ELSE {MIX_DEFAULT_RATE} END
        """,
        "mixture_planned_sample": _mixture_planned_sample_sql(_toks),
        "corpus_mixture": f"""
            WITH {_lang_ctes(_toks)}, per AS (
              SELECT pred_lang AS bucket,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(len(toks)) AS BIGINT) AS n_tokens
              FROM lang JOIN lt USING (doc_id)
              GROUP BY 1
            )
            SELECT bucket, n_docs, n_tokens,
                   n_docs / CAST((SELECT sum(n_docs) FROM per) AS DOUBLE)
                     AS frac_docs,
                   n_tokens / CAST((SELECT sum(n_tokens) FROM per) AS DOUBLE)
                     AS frac_tokens
            FROM per
        """,
        "incremental_contamination": f"""
            WITH rawt AS (
              SELECT doc_id, {_toks} AS toks FROM documents
            ), trg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks) - 3),
                            i -> toks[i] || ' ' || toks[i+1] || ' '
                                 || toks[i+2] || ' ' || toks[i+3] || ' '
                                 || toks[i+4])) AS g
              FROM rawt WHERE doc_id % 97 <> 0
            ), bmg AS (
              SELECT DISTINCT
                     unnest(list_transform(range(1, len(toks) - 3),
                            i -> toks[i] || ' ' || toks[i+1] || ' '
                                 || toks[i+2] || ' ' || toks[i+3] || ' '
                                 || toks[i+4])) AS g
              FROM rawt WHERE doc_id % 97 = 0
            ), hits AS (
              SELECT t.doc_id,
                     count(*) AS n_kgrams,
                     count(b.g) AS n_contaminated
              FROM trg t LEFT JOIN bmg b ON b.g = t.g
              GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(h.n_kgrams, 0) AS BIGINT) AS n_kgrams,
                   CAST(coalesce(h.n_contaminated, 0) AS BIGINT)
                     AS n_contaminated,
                   CASE WHEN coalesce(h.n_kgrams, 0) > 0
                        THEN h.n_contaminated / CAST(h.n_kgrams AS DOUBLE)
                   END AS contamination_frac
            FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
            LEFT JOIN hits h USING (doc_id)
        """,
        "contamination": f"""
            WITH rawt AS (
              SELECT doc_id, {_toks} AS toks FROM documents
            ), trg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks) - 3),
                            i -> toks[i] || ' ' || toks[i+1] || ' '
                                 || toks[i+2] || ' ' || toks[i+3] || ' '
                                 || toks[i+4])) AS g
              FROM rawt WHERE doc_id % 97 <> 0
            ), bmg AS (
              SELECT DISTINCT
                     unnest(list_transform(range(1, len(toks) - 3),
                            i -> toks[i] || ' ' || toks[i+1] || ' '
                                 || toks[i+2] || ' ' || toks[i+3] || ' '
                                 || toks[i+4])) AS g
              FROM rawt WHERE doc_id % 97 = 0
            ), hits AS (
              SELECT t.doc_id,
                     count(*) AS n_kgrams,
                     count(b.g) AS n_contaminated
              FROM trg t LEFT JOIN bmg b ON b.g = t.g
              GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(h.n_kgrams, 0) AS BIGINT) AS n_kgrams,
                   CAST(coalesce(h.n_contaminated, 0) AS BIGINT)
                     AS n_contaminated,
                   CASE WHEN coalesce(h.n_kgrams, 0) > 0
                        THEN h.n_contaminated / CAST(h.n_kgrams AS DOUBLE)
                   END AS contamination_frac
            FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
            LEFT JOIN hits h USING (doc_id)
        """,
        "contamination_by_benchmark": f"""
            WITH rawt AS (
              SELECT doc_id, {_toks} AS toks FROM documents
            ), trg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks) - 3),
                            i -> toks[i] || ' ' || toks[i+1] || ' '
                                 || toks[i+2] || ' ' || toks[i+3] || ' '
                                 || toks[i+4])) AS g
              FROM rawt WHERE doc_id % 97 <> 0
            ), bmg AS (
              SELECT DISTINCT doc_id AS bench_doc,
                     unnest(list_transform(range(1, len(toks) - 3),
                            i -> toks[i] || ' ' || toks[i+1] || ' '
                                 || toks[i+2] || ' ' || toks[i+3] || ' '
                                 || toks[i+4])) AS g
              FROM rawt WHERE doc_id % 97 = 0
            )
            SELECT t.doc_id, b.bench_doc,
                   CAST(count(*) AS BIGINT) AS n_overlap_kgrams
            FROM trg t JOIN bmg b ON b.g = t.g
            GROUP BY 1, 2
        """,
        "bigram_novelty": f"""
            WITH rawt AS (
              SELECT doc_id, {_toks} AS tl FROM documents
            ), toks AS (
              SELECT doc_id, unnest(tl) AS w,
                     generate_subscripts(tl, 1) AS pos
              FROM rawt
            ), occ AS (
              SELECT doc_id, w || ' ' || lead(w, 1) OVER win AS g
              FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            ), occn AS (
              SELECT doc_id, g FROM occ WHERE g IS NOT NULL
            ), dfreq AS (
              SELECT g, count(DISTINCT doc_id) AS df FROM occn GROUP BY g
            ), per AS (
              SELECT o.doc_id,
                     count(*) AS n_bigrams,
                     sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS novel,
                     sum(CASE WHEN f.df >= 10 THEN 1 ELSE 0 END) AS common
              FROM occn o JOIN dfreq f USING (g)
              GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   CASE WHEN p.n_bigrams > 0
                        THEN p.novel / CAST(p.n_bigrams AS DOUBLE) END
                     AS novel_frac,
                   CASE WHEN p.n_bigrams > 0
                        THEN p.common / CAST(p.n_bigrams AS DOUBLE) END
                     AS common_frac
            FROM (SELECT doc_id FROM documents) d
            LEFT JOIN per p USING (doc_id)
        """,
        "repetition_stats": f"""
            WITH rawt AS (
              SELECT doc_id, {_toks} AS toks, text FROM documents
            ), bg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i+1])) AS g
              FROM rawt
            ), bgc AS (
              SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
            ), bstat AS (
              SELECT doc_id, sum(c) AS total, count(*) AS nd, max(c) AS top
              FROM bgc GROUP BY 1
            ), tg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
              FROM rawt
            ), tgc AS (
              SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2
            ), tstat AS (
              SELECT doc_id, sum(c) AS total, count(*) AS nd
              FROM tgc GROUP BY 1
            ), ln AS (
              -- nonempty trimmed lines; trim set pinned to ' \\t\\r'
              SELECT doc_id,
                     trim(unnest(string_split(text, chr(10))),
                          ' ' || chr(9) || chr(13)) AS l
              FROM documents
            ), lnc AS (
              SELECT doc_id, l, count(*) AS c FROM ln WHERE l <> ''
              GROUP BY 1, 2
            ), lstat AS (
              SELECT doc_id, sum(c) AS total, count(*) AS nd
              FROM lnc GROUP BY 1
            )
            SELECT r.doc_id,
                   CAST(len(r.toks) AS INTEGER) AS n_tokens,
                   (b.total - b.nd) / CAST(b.total AS DOUBLE) AS dup_bigram_frac,
                   (t.total - t.nd) / CAST(t.total AS DOUBLE) AS dup_trigram_frac,
                   b.top * 2 / CAST(len(r.toks) AS DOUBLE) AS top_bigram_frac,
                   (l.total - l.nd) / CAST(l.total AS DOUBLE) AS dup_line_frac
            FROM rawt r
            LEFT JOIN bstat b ON b.doc_id = r.doc_id
            LEFT JOIN tstat t ON t.doc_id = r.doc_id
            LEFT JOIN lstat l ON l.doc_id = r.doc_id
        """,
        "fingerprint": rf"""
            -- whole-text lower with the final-sigma replay (the
            -- engine fingerprints F.lower(text), JDK context rules)
            SELECT doc_id,
                   md5(trim(regexp_replace({_a.text_lower_sql('text')},
                                           '[ \t\n\r\f\x0b]+', ' ',
                                           'g'))) AS fingerprint
            FROM documents
        """,
        "exact_dedup": """
            SELECT md5(text) AS fingerprint,
                   min(doc_id) AS keep_id,
                   count(*) AS n_docs
            FROM documents
            GROUP BY 1
        """,
        "ngram_jaccard": f"""
            WITH rawt AS (
              SELECT doc_id, {_toks} AS tl FROM documents
            ), toks AS (
              SELECT doc_id, unnest(tl) AS w,
                     generate_subscripts(tl, 1) AS pos
              FROM rawt
            ), sh AS (
              SELECT DISTINCT doc_id,
                     w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win || ' '
                       || lead(w,3) OVER win || ' ' || lead(w,4) OVER win AS shingle
              FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            ), shn AS (
              SELECT doc_id, shingle FROM sh WHERE shingle IS NOT NULL
            ), sizes AS (
              -- sizes BEFORE the doc-freq cap (capping only lowers jaccard)
              SELECT doc_id, count(*) AS n_sh FROM shn GROUP BY 1
            ), kept AS (
              -- mirrors the engine's max_doc_freq=100 skew guard
              SELECT shingle FROM shn GROUP BY shingle HAVING count(*) <= 100
            ), shc AS (
              SELECT shn.doc_id, shn.shingle FROM shn JOIN kept USING (shingle)
            ), inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
              FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) >= 0.1
        """,
        "cosine_topk": """
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ), q AS (
              SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 50 = 0
            ), scored AS (
              SELECT q.query_id, v.vec_id,
                     round(list_dot_product(q.qe, v.e)
                           / (sqrt(list_dot_product(q.qe, q.qe))
                              * sqrt(list_dot_product(v.e, v.e))), 4) AS cosine
              FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id
            ), ranked AS (
              SELECT query_id, vec_id, cosine,
                     CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, cosine, rank
            FROM ranked WHERE rank <= 5
            ORDER BY query_id, rank
        """,
    }
    # n_alpha_chars strips non-letters from UNLOWERED text — swap the
    # generated negated class in (the tokenizing positions above are
    # already interpolated via _toks; _quality_ctes substitutes its
    # own copy)
    neg = _o.alpha_strip_regex()
    inline["token_stats"] = inline["token_stats"].replace(
        "'[^a-zA-Z]+'", f"'{neg}'"
    )
    return generated | inline
