"""Convenience library API mirroring the reference's public surface
(/root/reference/textalyzer/src/lib.rs:1-6 and
textalyzer-wasm/src/lib.rs:10-24: ``get_freq_map``, ``get_dup_lines``
over a single in-memory text).

These wrap the DataFrame operators for single-text / small-corpus
callers (tests, notebooks, the WASM-analog use case); the engine
proper is the operators package.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from textalyzer_spark.formatting import duplication_json


def get_freq_map(spark: SparkSession, text: str) -> dict[str, int]:
    """Word-frequency map of one text (wasm get_freq_map analog)."""
    from textalyzer_spark.operators.frequency import word_frequency

    df = spark.createDataFrame([("textarea", text)], "doc_id string, text string")
    return {r["word"]: r["count"] for r in word_frequency(df).collect()}


def get_dup_lines(spark: SparkSession, text: str) -> str:
    """Single-line duplications of one text as JSON
    (wasm get_dup_lines analog; the pseudo-file is named "textarea"
    like textalyzer-wasm/src/lib.rs:17)."""
    from textalyzer_spark.operators.duplication import duplicate_lines

    df = spark.createDataFrame([("textarea", text)], "doc_id string, text string")
    rows = duplicate_lines(df).collect()
    return duplication_json(
        [
            (r["content"], [(l["doc_id"], l["line"]) for l in r["locations"]])
            for r in rows
        ]
    )


def duplication(
    spark: SparkSession, texts: dict[str, str], min_lines: int = 3
) -> list[tuple[str, list[tuple[str, int]]]]:
    """Multi-line duplication over named texts (run() analog,
    lib.rs:57-151)."""
    from textalyzer_spark.operators.duplication import duplicate_blocks

    df = spark.createDataFrame(
        list(texts.items()), "doc_id string, text string"
    )
    return [
        (r["content"], [(l["doc_id"], l["line"]) for l in r["locations"]])
        for r in duplicate_blocks(df, min_lines=min_lines).collect()
    ]


def clean_corpus(
    df,
    quality_min: float = 0.7,
    near_dup_method: str = "minhash",
    keep: str = "min_id",
    sample_rate: float = 1.0,
    decontaminate_against=None,
    contamination_k: int = 5,
    salt: str = "pipeline",
    **near_dup_kwargs,
):
    """The end-to-end training-data cleaning pipeline as ONE library
    call over a ``(doc_id, text)`` DataFrame — the composition the
    gate queries ``pipeline_clean_sample`` / ``pipeline_decontaminated``
    verify value-exactly against DuckDB:

      quality filter (>= ``quality_min``)
      → PII redaction
      → optional decontamination vs ``decontaminate_against``
        (a benchmark ``(doc_id, text)`` DataFrame; docs sharing ANY
        ``contamination_k``-gram occurrence are dropped)
      → exact dedup (keep min doc_id per md5)
      → near-dup cluster resolution (``near_dup_method``/``keep``)
      → deterministic hash sample at ``sample_rate``

    Returns the kept ``(doc_id, text)`` rows — clean text, ready to
    write. Every stage is a scan filter or an already-bounded dedup
    operator; the one explicit barrier is the multi-action
    localCheckpoint before the near-dup fan-out (BENCH.md A/B)."""
    from pyspark.sql import functions as F

    from textalyzer_spark.operators.near_dedup import near_dedup
    from textalyzer_spark.operators.pii import redact_pii
    from textalyzer_spark.operators.quality import quality_score
    from textalyzer_spark.operators.sampling import hash_sample

    qkeep = (
        quality_score(df)
        .filter(F.col("quality_score") >= quality_min)
        .select("doc_id")
    )
    clean = redact_pii(df.join(qkeep, "doc_id")).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    if decontaminate_against is not None:
        from textalyzer_spark.operators.dedup import contamination_stats

        # a doc_id with any contaminated row is dropped whole
        clean = clean.join(
            contamination_stats(
                clean, decontaminate_against, k=contamination_k
            )
            .filter(F.col("n_contaminated") > 0)
            .select("doc_id"),
            "doc_id",
            "left_anti",
        )
    keep_exact = (
        clean.groupBy(F.md5("text").alias("_fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = clean.join(keep_exact, "doc_id").localCheckpoint()
    nd = near_dedup(deduped, method=near_dup_method, keep=keep,
                    **near_dup_kwargs)
    kept = deduped.join(nd.filter("keep").select("doc_id"), "doc_id")
    if sample_rate >= 1.0:
        return kept
    return hash_sample(kept, sample_rate, salt=salt)


def duplication_report(
    spark: SparkSession,
    texts: dict[str, str],
    min_lines: int = 3,
    files_only: bool = False,
) -> str:
    """Rendered duplication output (the reference CLI's duplication
    command, output.rs:38-127 incl. the --files-only mode) over named
    texts — resolve, then format."""
    from textalyzer_spark.formatting import format_duplications

    return format_duplications(
        duplication(spark, texts, min_lines=min_lines), files_only=files_only
    )
