"""Deduplication operators for training-data pipelines:
exact, n-gram Jaccard, MinHash+LSH, SimHash.

North_star: "n-gram shingling with rolling-hash duplicate detection".
The shingle→hash→band→bucket-join pattern follows the public
MinHash/LSH literature (Broder 1997; Leskovec et al., MMDS ch.3).

Scale notes: every stage is a hash shuffle on a derived key (shingle,
band hash, simhash chunk). Partial aggregation and AQE skew splitting
apply automatically; signature computation is per-row (no shuffle) —
MinHash and SimHash both in Arrow-batched numpy (the Catalyst
higher-order-function versions ran interpreted and ~20-50x slower).
"""

from __future__ import annotations

from collections.abc import Callable, Collection
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from textalyzer_spark.functions.hashing import md5_le8
from textalyzer_spark.operators.shingles import (
    _doc_kgram_counts,
    doc_feature_counts,
    token_kgrams,
)

# Mersenne prime 2^31-1: the base hash is reduced mod p BEFORE the
# affine transform, so a,b,(x mod p) < p and a*x + b < 2^62 — exact in
# signed 64-bit (Spark 4 ANSI mode throws on overflow; a 2^61 prime
# would overflow the multiply).
_P = (1 << 31) - 1


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5 of the raw text:
    ``(fingerprint, keep_id, n_docs)`` — ``keep_id`` is the minimal
    doc_id (the canonical survivor). One hash-aggregate shuffle."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


class ShingleSignatures(NamedTuple):
    """One materialized shingle+signature build of a corpus (see
    :func:`shingle_signatures`)."""

    #: DISTINCT ``(doc_id, shingle)`` — the exact-verify side
    shingles: DataFrame
    #: ``(doc_id, signature array<bigint>)`` — one row per doc with at
    #: least k tokens, the band-cut side
    signatures: DataFrame


def shingle_signatures(
    df: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> ShingleSignatures:
    """ONE tokenize+shingle kernel pass, materialized once
    (localCheckpoint), sliced into the distinct-shingle rows and the
    per-doc signature rows. Every consumer — the band cut, exact
    verify, a stored signature catalog, a cross-catalog band join —
    reads this checkpoint instead of re-running the kernel.

    Its own kernel, not :func:`doc_feature_counts`, because it is the
    one pass that feeds both the band cut and exact verify on the
    ``clean`` path. Each document emits its distinct shingles
    (insertion-ordered dict keys — duplicates only occur within a
    document, so the rows are globally distinct with no distinct
    shuffle) and ONE signature row (``shingle`` NULL, ``signature``
    from :func:`_signature_fn`, value-identical to
    :func:`minhash_signatures`)."""
    from collections.abc import Iterator

    import pandas as pd

    from textalyzer_spark.functions.tokenize import kgrams, tokenize_text

    sig = _signature_fn(num_hashes, seed)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, shingles = [], []
            sig_ids, sig_vals = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                ss = dict.fromkeys(kgrams(tokenize_text(text or ""), k))
                if not ss:
                    continue
                ids.extend([doc_id] * len(ss))
                shingles.extend(ss)
                sig_ids.append(doc_id)
                sig_vals.append(sig(ss))
            # object dtypes throughout: an all-short-doc batch yields
            # empty lists, and pandas' default float64 empty column is
            # not Arrow-convertible to list<int64>
            n_sh, n_sig = len(ids), len(sig_ids)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids + sig_ids, dtype="object"),
                    "shingle": pd.Series(
                        shingles + [None] * n_sig, dtype="object"
                    ),
                    "signature": pd.Series(
                        [None] * n_sh + sig_vals, dtype="object"
                    ),
                }
            )

    id_type = dict(df.dtypes).get(id_col, "string")
    raw = (
        df.select(id_col, text_col)
        .mapInPandas(
            run, f"doc_id {id_type}, shingle string, signature array<bigint>"
        )
        .localCheckpoint()
    )
    return ShingleSignatures(
        shingles=raw.filter(F.col("shingle").isNotNull()).select(
            "doc_id", "shingle"
        ),
        signatures=raw.filter(F.col("shingle").isNull()).select(
            "doc_id", "signature"
        ),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs:
    ``(doc_a, doc_b, jaccard)`` for pairs with similarity >= threshold,
    jaccard rounded to 4 decimals, doc_a < doc_b.

    Shuffles: self-join on shingle (1), pair aggregation (2); the
    kernel's (doc, shingle) rows are distinct by construction.

    ``max_doc_freq`` (default ON) drops shingles appearing in more
    than that many documents BEFORE the self-join — the skew/scale
    guard: a boilerplate shingle in f documents fans out f^2/2 join
    rows while carrying no dedup signal. Document sizes are computed
    before the drop, so a capped shingle can only LOWER a pair's
    jaccard (never create a false positive); pairs whose overlap is
    pure boilerplate are intentionally suppressed. ``None`` restores
    the uncapped exact semantics. At 10^12 docs prefer
    :func:`minhash_lsh_pairs`, which replaces the full self-join with
    banded buckets.
    """
    sh = _doc_kgram_counts(df, k, id_col, text_col).select("doc_id", "shingle")
    # the shingle table fans out to sizes, the doc-freq cap, and both
    # self-join sides — materialize once instead of re-tokenizing the
    # corpus per consumer (same pattern as winnow_pairs /
    # duplicate_blocks; on a cluster: write derived shingles once,
    # join from storage)
    sh = sh.localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_doc_freq is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle")
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _hash_params(num_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) for h_i(x) = (a_i*x + b_i) mod p."""
    import random

    rng = random.Random(seed)
    return (
        [rng.randrange(1, _P) for _ in range(num_hashes)],
        [rng.randrange(0, _P) for _ in range(num_hashes)],
    )


def _signature_fn(
    num_hashes: int, seed: int
) -> Callable[[Collection[str]], list[int]]:
    """``sig(shingles) -> list[int]``: the MinHash signature of one
    document's DISTINCT shingle set — the one place the signature math
    lives (both Arrow kernels call it). Base hash = md5-LE8 (the
    engine's cross-engine hash, functions/hashing.py) reduced mod p,
    then ``num_hashes`` affine permutations as one (shingles x hashes)
    uint64 matrix, min along axis 0."""
    import numpy as np

    av, bv = _hash_params(num_hashes, seed)
    a_arr = np.asarray(av, dtype=np.uint64)
    b_arr = np.asarray(bv, dtype=np.uint64)
    p_mod = np.uint64(_P)

    def sig(shingles: Collection[str]) -> list[int]:
        base = np.asarray([md5_le8(s) % _P for s in shingles], dtype=np.uint64)
        # (n_shingles, num_hashes): a*(x mod p)+b < 2^62, exact
        perms = (base[:, None] * a_arr[None, :] + b_arr[None, :]) % p_mod
        return perms.min(axis=0).astype(np.int64).tolist()

    return sig


def minhash_signatures(
    df: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, signature array<bigint>)`` — MinHash over k-shingles,
    one row per doc with at least ``k`` tokens.

    Arrow-batched: one kernel pass tokenizes, shingles and applies
    :func:`_signature_fn` per doc — the signature-only twin of the
    :func:`shingle_signatures` kernel, for callers that need no
    shingle table (catalog builds, streaming; the ``ingest`` path).
    Kept separate: routing it through :func:`shingle_signatures` would
    add the shingle rows and a checkpoint these callers never read.

    A pure-Catalyst formulation (transform + array_min per
    permutation) was tried first: higher-order-function lambdas
    evaluate INTERPRETED (outside whole-stage codegen) and took 18.5s
    for 5.8M modular ops at sf0.1; this batch pass is ~50x faster.
    No shuffle either way; scales linearly with corpus size.
    """
    from collections.abc import Iterator

    import pandas as pd

    from textalyzer_spark.functions.tokenize import kgrams, tokenize_text

    sig = _signature_fn(num_hashes, seed)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, sigs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_text(text or "")
                if len(toks) < k:
                    continue
                doc_ids.append(doc_id)
                sigs.append(sig(set(kgrams(toks, k))))
            # explicit object dtype: a non-empty batch whose docs are
            # ALL too short yields empty lists, and pandas' default
            # float64 empty column is not Arrow-convertible to
            # list<int64> (NumPyConverter) — hit by streaming
            # maintenance on tiny batches
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="object"),
                    "signature": pd.Series(sigs, dtype="object"),
                }
            )

    id_type = dict(df.dtypes).get(id_col, "string")
    return df.mapInPandas(run, f"doc_id {id_type}, signature array<bigint>")


def _rows_per_band(num_hashes: int, bands: int) -> int:
    """Signature values per LSH band. ``bands`` must cut ``num_hashes``
    into equal bands of at least one row: with ``bands > num_hashes``
    the rows would be 0 and every doc would share every band's ``""``
    bucket (the bucket guard then drops every pair), and a remainder
    would leave the trailing hashes silently unused."""
    if bands < 1 or num_hashes < bands or num_hashes % bands:
        raise ValueError(
            f"bands must divide num_hashes into bands of >= 1 row: "
            f"num_hashes={num_hashes}, bands={bands}"
        )
    return num_hashes // bands


def band_buckets_col(bands: int, rows: int) -> Column:
    """``posexplode`` of the ``signature`` column into ``(band,
    bucket)``: the signature cut into ``bands`` bands of ``rows``
    values, each band's values joined as a string bucket key (NOT
    re-hashed — see the key-width note in :func:`minhash_lsh_pairs`).
    The one definition of the bucket key: the batch, incremental and
    streaming LSH joins must cut identical buckets."""
    return F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda bnd: F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("signature"), bnd * rows + 1, rows),
                    lambda x: x.cast("string"),
                ),
            ),
        )
    ).alias("band", "bucket")


def _band_buckets(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """``(doc_id, band, bucket)`` from a ``(doc_id, signature)`` table.
    Shared by the single-corpus LSH join and the incremental catalog
    join."""
    return sigs.select("doc_id", band_buckets_col(bands, rows))


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_docs: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_sigs: ShingleSignatures | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, exact-verified:
    ``(doc_a, doc_b, jaccard)``. ``shingle_sigs=`` accepts the
    caller's :func:`shingle_signatures` build of ``df`` (same ``k``,
    ``num_hashes``, ``seed``) so a caller that also needs the
    signatures (incremental component maintenance) pays for one
    kernel pass and one materialization, not two.

    Candidate generation: signatures are cut into ``bands`` bands of
    ``num_hashes/bands`` rows (``bands`` must divide ``num_hashes``);
    docs colliding in any band's bucket become candidates (bucket
    join — no all-pairs self-join). Candidates are then verified with
    exact shingle Jaccard, so precision is exact and only recall
    depends on the S-curve 1-(1-t^r)^b. With 64 hashes / 16 bands
    (r=4), t=0.5 → ~0.93 recall.

    ``max_bucket_docs`` (default ON) skips band buckets holding more
    than that many documents — the LSH mega-bucket guard: a
    boilerplate family of f near-identical docs puts all f in the
    same bucket of EVERY band, fanning the join out to f^2/2 rows per
    band (measured: a 50k-doc boilerplate-heavy synthetic emitted
    470k true pairs through ~10^9 candidate rows). A pair is lost
    only if every band bucket it shares is over the cap, i.e. only
    inside such quadratic-by-construction families; ``None`` restores
    unguarded recall.
    """
    rows = _rows_per_band(num_hashes, bands)
    # ONE kernel pass + ONE materialization carries both the
    # distinct-shingle rows (for exact verify) and one in-kernel
    # signature row per doc (for the band cut)
    if shingle_sigs is None:
        shingle_sigs = shingle_signatures(
            df, k, num_hashes, seed, id_col, text_col
        )
    sh = shingle_sigs.shingles
    # each bucket consumer (guard, both join sides) re-derives the band
    # explode from the signature checkpoint — a narrow derive, measured
    # equal to a bucket checkpoint (round-8 A/B) with one less
    # materialization held in memory.
    # bucket key = the band's signature values joined as a string —
    # NOT re-hashed (xxhash64 has no cross-engine twin, and the key
    # is bounded at rows x ~10 digits, so the shuffle-width win of
    # an 8-byte rehash is marginal; equality semantics are
    # identical minus a ~2^-64 collision false-positive the
    # exact-verify stage would kill anyway)
    buckets = _band_buckets(shingle_sigs.signatures, bands, rows)
    if max_bucket_docs is not None:
        ok = (
            buckets.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= max_bucket_docs)
            .select("band", "bucket")
        )
        buckets = buckets.join(ok, ["band", "bucket"])
    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # exact verification of candidates only, reusing the materialized
    # shingle table from the top of the pipeline
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cands.join(sha, "doc_a")
        .join(shb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def contamination_stats(
    df: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination detection (the decontamination step of
    a training-data pipeline, public recipe: GPT-3 appendix C /
    PaLM-style n-gram overlap): for every training document, the
    fraction of its token ``k``-gram occurrences that appear anywhere
    in the ``benchmark`` corpus —

    ``(doc_id, n_kgrams, n_contaminated, contamination_frac)``

    A doc with ``contamination_frac > 0`` shares at least one k-token
    span verbatim with the benchmark; filter or flag downstream.
    ``contamination_frac`` is an unrounded double of integer counts
    (bit-identical cross-engine).

    Scale shape: the benchmark k-gram set is DISTINCT and tiny
    relative to the corpus (benchmarks are thousands of docs, the
    corpus 10^12) — Catalyst broadcasts it under AQE; the corpus side
    is one shingle pass + a left semi-style join + one groupBy on
    doc_id. Docs with < k tokens have no k-grams: n_kgrams=0 and a
    NULL fraction."""
    return contamination_from_catalog(
        df,
        benchmark_gram_catalog(benchmark, k, bench_text_col),
        k=k,
        id_col=id_col,
        text_col=text_col,
    )


def benchmark_gram_catalog(
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """The persistable decontamination state: the benchmark corpus's
    DISTINCT token ``k``-gram set, one ``(shingle)`` row each —
    bounded by benchmark size (thousands of docs), never the training
    corpus. Benchmark suites GROW over time; screen every new crawl
    against the merged catalog instead of re-shingling every
    benchmark ever ingested (:func:`merge_gram_catalogs`, plain
    union-distinct: merge(cat(A), cat(B)) == cat(A ∪ B) exactly —
    the membership analog of the sketch-family merges)."""
    return (
        doc_feature_counts(
            benchmark.select(F.col(text_col).alias("text")), token_kgrams(k)
        )
        .select(F.col("feature").alias("shingle"))
        .distinct()
    )


def merge_gram_catalogs(*catalogs: DataFrame) -> DataFrame:
    """Catalog of the union benchmark suite: set union of per-suite
    gram catalogs — exact mergeability (distinct of a union of
    distincts)."""
    if not catalogs:
        raise ValueError("need at least one gram catalog")
    out = catalogs[0]
    for other in catalogs[1:]:
        out = out.unionByName(other)
    return out.distinct()


def contamination_from_catalog(
    df: DataFrame,
    catalog: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`contamination_stats` against a PERSISTED gram catalog
    (the incremental form: new crawl batch vs the merged catalog of
    every benchmark suite ingested so far). ``k`` must equal the
    catalog's shingle length — grams of a different length can never
    match and everything would silently read clean, so the catalog
    side ENFORCES it in-plan (ADVICE r7): every catalog shingle is
    asserted to have exactly ``k`` space-joined tokens while the
    broadcast relation is built — zero extra jobs, and a stale or
    mis-parameterized catalog fails loudly instead of passing."""
    sh = _doc_kgram_counts(df, k, id_col, text_col)
    # the assertion rides the _hit payload column, NOT the join key:
    # wrapping the key itself changed the projection's statistics and
    # degraded the downstream per-doc join in the static plan
    # (pinned by tests/test_plans.py)
    hit_checked = F.when(
        F.size(F.split(F.col("shingle"), F.lit(" "), F.lit(-1))) != F.lit(k),
        F.raise_error(
            F.concat(
                F.lit(
                    f"contamination_from_catalog: catalog shingle is not a "
                    f"{k}-gram (k mismatch between catalog and query): "
                ),
                F.col("shingle"),
            ).cast("string"),
        ).cast("int"),
    ).otherwise(F.lit(1))
    marked = sh.join(
        F.broadcast(
            catalog.select("shingle").withColumn("_hit", hit_checked)
        ),
        "shingle",
        "left",
    )
    # per-doc kernel rows carry the occurrence count n: occurrences
    # are sum(n), and a doc with no hit sums to 0, not NULL
    per_doc = marked.groupBy("doc_id").agg(
        F.sum("n").alias("n_kgrams"),
        F.sum(F.when(F.col("_hit").isNotNull(), F.col("n")).otherwise(0)).alias(
            "n_contaminated"
        ),
    )
    all_docs = df.select(F.col(id_col).alias("doc_id")).distinct()
    return (
        all_docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_kgrams"), F.lit(0)).cast("bigint").alias(
                "n_kgrams"
            ),
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.when(
                F.coalesce(F.col("n_kgrams"), F.lit(0)) > 0,
                F.col("n_contaminated") / F.col("n_kgrams").cast("double"),
            ).alias("contamination_frac"),
        )
    )


def contamination_by_benchmark(
    df: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Contamination ATTRIBUTION: ``(doc_id, bench_doc,
    n_overlap_kgrams)`` — which benchmark document each contaminated
    span came from, one row per (training doc, benchmark doc) pair
    with >= 1 shared k-gram occurrence. The per-benchmark
    decontamination report :func:`contamination_stats` cannot give
    (its broadcast set is anonymous): summing ``n_overlap_kgrams``
    over ``bench_doc`` >= that doc's ``n_contaminated`` (a training
    k-gram hitting two benchmark docs counts once per bench doc
    here, once total there).

    Scale shape: identical to ``contamination_stats`` with ONE extra
    key on the broadcast side — the benchmark (shingle, doc) pairs
    are still benchmark-sized (distinct), broadcast under AQE; the
    corpus side is one shingle pass + broadcast join + one groupBy on
    (doc_id, bench_doc)."""
    sh = _doc_kgram_counts(df, k, id_col, text_col)
    bsh = _doc_kgram_counts(benchmark, k, bench_id_col, bench_text_col).select(
        F.col("doc_id").alias("bench_doc"), "shingle"
    )
    return (
        sh.join(F.broadcast(bsh), "shingle")
        .groupBy("doc_id", "bench_doc")
        .agg(F.sum("n").alias("n_overlap_kgrams"))
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over tokens: ``(doc_id, simhash bigint)``.

    Per bit j: sign of sum over tokens of (+1 if bit j of the token
    hash is set else -1). Token hash = first 8 md5 digest bytes,
    little-endian (deterministic across workers and equal to DuckDB's
    ``md5_number_upper``, giving the operator a value-exact SQL twin).

    Arrow-batched numpy: per doc, an (n_tokens x 64) sign matrix via
    unpackbits, summed along axis 0, sign bits repacked. The earlier
    Catalyst bit-arithmetic version ran its aggregate/zip_with lambdas
    interpreted (~13M ops in 8s at sf0.1); this is ~20x faster. No
    shuffle either way.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from textalyzer_spark.functions.tokenize import tokenize_text

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-token memo: md5-LE8 is computed once per distinct token
        cache: dict[str, int] = {}
        for pdf in batches:
            doc_ids, hashes = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_text(text or "")
                doc_ids.append(doc_id)
                if not toks:
                    hashes.append(0)
                    continue
                for t in toks:
                    if t not in cache:
                        cache[t] = md5_le8(t)
                hs = np.asarray([cache[t] for t in toks], dtype=np.uint64)
                bits = np.unpackbits(
                    hs.view(np.uint8).reshape(-1, 8)[:, ::-1], axis=1
                ).astype(np.int32)
                sums = (2 * bits - 1).sum(axis=0)
                sign = (sums > 0).astype(np.uint8)
                packed = np.packbits(sign).tobytes()
                hashes.append(
                    int.from_bytes(packed, "big") - (1 << 64)
                    if packed[0] & 0x80
                    else int.from_bytes(packed, "big")
                )
            yield pd.DataFrame({"doc_id": doc_ids, "simhash": hashes})

    id_type = dict(df.dtypes).get(id_col, "string")
    return df.mapInPandas(run, f"doc_id {id_type}, simhash bigint")


def _simhash_chunk_keys(sh: DataFrame, chunks: int) -> DataFrame:
    """``(doc_id, simhash, combo, v1, v2)`` — the Manku combination-
    banding key table from a ``(doc_id, simhash)`` table: 64 bits cut
    into ``chunks`` chunks, one row per PAIR of chunk values (see the
    bucket-degeneracy note in :func:`simhash_near_pairs`). Shared by
    the single-corpus self-join and the incremental catalog join."""
    from itertools import combinations

    width = 64 // chunks
    vals = [
        F.shiftrightunsigned(F.col("simhash"), i * width)
        .bitwiseAND(F.lit((1 << width) - 1).cast("bigint"))
        .alias(f"v{i}")
        for i in range(chunks)
    ]
    combos = list(combinations(range(chunks), 2))
    return sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.struct(vals[i].alias("v1"), vals[j].alias("v2"))
                    for i, j in combos
                ]
            )
        ).alias("combo", "cv"),
    ).select("doc_id", "simhash", "combo", "cv.v1", "cv.v2")


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sims: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs with Hamming distance <=
    ``max_hamming`` d: ``(doc_a, doc_b, hamming)``.

    COMBINATION banding (the Manku/WWW'07 block-permutation idea in
    relational form): split 64 bits into ``c = d+2`` chunks — any pair
    within distance d has >= 2 untouched chunks, so it collides on at
    least one PAIR of chunks. Bucket-join on (combo_id, val_i, val_j),
    verify exact distance. Recall-complete, like single-chunk
    pigeonhole banding, but the key is ~2x the bits: on homogeneous
    corpora simhash values CLUSTER (many bits are corpus-constant,
    they're majority votes over shared vocabulary) and single 64/(d+1)
    -bit chunks degenerate to a handful of mega-buckets — measured at
    50k docs: the largest 9-bit chunk bucket held 48k docs (1.3e10
    pair fanout, unrunnable); the 2-chunk keys cut the join 50x.
    C(c,2) combos x n rows of key traffic is the price — linear, and
    cheap next to a quadratic bucket.
    """
    chunks = max_hamming + 2

    # the keyed table feeds both self-join sides; materialize the tiny
    # (doc_id, simhash) table so the python simhash stage runs once.
    # sims= accepts an ALREADY MATERIALIZED (doc_id, simhash) table
    # (component-maintenance path shares one simhash pass)
    sh = (
        sims
        if sims is not None
        else simhash(df, id_col, text_col).localCheckpoint()
    )
    keyed = _simhash_chunk_keys(sh, chunks)
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.combo") == F.col("b.combo"))
            & (F.col("a.v1") == F.col("b.v1"))
            & (F.col("a.v2") == F.col("b.v2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
