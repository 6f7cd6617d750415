"""Token k-shingling — the seed stage of duplication detection
(SURVEY.md §2 J1: the reference's line-content index at
/root/reference/textalyzer/src/duplication.rs:85-125, generalized to
token n-grams per BASELINE.json north_star "n-gram shingling with
rolling-hash duplicate detection").

The shingle expansion runs in Arrow-batched kernels (no window
shuffle — shingling is per-document so it rides the scan
partitioning; the only shuffle is the final groupBy on the shingle
key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def doc_shingles(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, shingle string)`` — one row per k-gram occurrence.

    Arrow-batched: the Catalyst transform/slice/concat_ws expansion
    runs interpreted (~10s for 260k shingles at sf0.1); the batch pass
    emits identical strings in well under a second."""
    from collections.abc import Iterator

    import pandas as pd

    from textalyzer_spark.functions.tokenize import tokenize_text

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, shingles = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_text(text or "")
                n = len(toks) - k + 1
                if n <= 0:
                    continue
                ids.extend([doc_id] * n)
                shingles.extend(
                    " ".join(toks[i : i + k]) for i in range(n)
                )
            yield pd.DataFrame({"doc_id": ids, "shingle": shingles})

    id_type = dict(df.dtypes).get(id_col, "string")
    return df.mapInPandas(run, f"doc_id {id_type}, shingle string")


def token_shingle_duplicates(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Shingles shared by >1 document:
    ``(shingle, n_occurrences bigint, n_docs bigint)``.

    Equivalent to the reference's duplicate-line seed set
    (duplication.rs:117-125) with HAVING over distinct docs. Catalyst
    plans partial aggregation before the single hash-partition
    exchange on ``shingle``; at 100 TB the distinct-count forces the
    shuffle regardless, and AQE coalesces the output partitions.
    """
    return (
        _doc_shingle_counts(df, k, id_col, text_col)
        .groupBy("shingle")
        .agg(
            F.sum("occ").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_occurrences"), F.asc("shingle"))
    )


def _doc_shingle_counts(
    df: DataFrame,
    k: int,
    id_col: str,
    text_col: str,
    with_doc_id: bool = False,
) -> DataFrame:
    """``(shingle, occ)`` — ONE row per (document, distinct shingle)
    with that doc's occurrence count, straight from the kernel
    (round 8): per-doc counting needs no cross-partition merge, so
    the shuffle into the corpus roll-up carries per-doc-distinct rows
    instead of occurrences, and the distinct-count over doc_id
    becomes a plain ``count(*)`` (rows are one-per-doc by
    construction) — no expand/two-phase distinct aggregate. Sums
    reproduce ``doc_shingles`` → groupBy exactly.
    ``with_doc_id=True`` prepends the ``doc_id`` column for callers
    that roll back up per document (bigram_novelty)."""
    from collections import Counter
    from collections.abc import Iterator

    import pandas as pd

    from textalyzer_spark.functions.tokenize import tokenize_text

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, shingles, occs = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                toks = tokenize_text(text or "")
                n = len(toks) - k + 1
                if n <= 0:
                    continue
                c = Counter(" ".join(toks[i : i + k]) for i in range(n))
                if with_doc_id:
                    ids.extend([doc_id] * len(c))
                shingles.extend(c.keys())
                occs.extend(c.values())
            out = {}
            if with_doc_id:
                out["doc_id"] = pd.Series(ids, dtype="object")
            out["shingle"] = pd.Series(shingles, dtype="object")
            out["occ"] = pd.Series(occs, dtype="int64")
            yield pd.DataFrame(out)

    id_type = dict(df.dtypes).get(id_col, "string")
    schema = "shingle string, occ long"
    if with_doc_id:
        schema = f"doc_id {id_type}, " + schema
    return df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col)
    ).mapInPandas(run, schema)
