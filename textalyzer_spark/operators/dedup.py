"""Deduplication operators for training-data pipelines:
exact, n-gram Jaccard, MinHash+LSH, SimHash.

North_star: "n-gram shingling with rolling-hash duplicate detection".
The shingle→hash→band→bucket-join pattern follows the public
MinHash/LSH literature (Broder 1997; Leskovec et al., MMDS ch.3).

Scale notes: every stage is a hash shuffle on a derived key (shingle,
band bucket, simhash chunk). Partial aggregation and AQE skew splitting
apply automatically; signature computation is per-row (no shuffle) —
MinHash and SimHash both in Arrow-batched numpy (the Catalyst
higher-order-function versions ran interpreted and ~20-50x slower).
MinHash emits ONE row per document (its distinct-shingle set and its
signature), and its exact verify joins candidates to that row on
``doc_id`` — no shingle-keyed shuffle: the verify traffic is
candidates x set bytes, so one very long document costs once per
candidate pair it is in. Every MinHash operator assumes a unique
``doc_id``.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

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
    """One materialized shingle-set + signature build of a corpus (see
    :func:`shingle_signatures`). Precondition: ``doc_id`` is unique —
    two rows with one id would each carry their own set, and a join on
    ``doc_id`` would pair them with each other's candidates."""

    #: ``(doc_id, shingles array<string>, signature array<bigint>)`` —
    #: one row per doc with at least k tokens; ``shingles`` is the
    #: doc's set of DISTINCT shingles (the exact-verify side)
    sets: DataFrame

    @property
    def signatures(self) -> DataFrame:
        """``(doc_id, signature)`` — the band-cut side."""
        return self.sets.select("doc_id", "signature")


def shingle_signatures(
    df: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> ShingleSignatures:
    """ONE tokenize+shingle+signature kernel pass, materialized once
    (localCheckpoint): one row per document with at least ``k``
    tokens, carrying its distinct-shingle set and its MinHash
    signature (:func:`_minhash_slice`, value-identical to
    :func:`minhash_signatures`). Every consumer — the band cut, exact
    verify, a stored signature catalog, a cross-catalog band join —
    reads this checkpoint instead of re-running the kernel."""
    return ShingleSignatures(
        _minhash_kernel(
            df, k, num_hashes, seed, id_col, text_col, with_shingles=True
        ).localCheckpoint()
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


def _minhash_slice(texts, k: int, a, b):
    """The one MinHash signature function, over one kernel slice (a
    pyarrow string array): ``(rows, shingles, signature)`` for the rows
    with at least one token ``k``-gram — their positions in ``texts``,
    each one's DISTINCT shingles as a ListArray, and its signature as
    a ListArray of ``len(a)`` int64 values.

    Tokens and k-grams come from ``functions/tokenize.py``'s
    ``token_table``/``kgram_table``. md5-LE8 (functions/hashing.py)
    runs once per distinct shingle of the slice, reduced mod p; then
    each affine permutation ``(a_i*x + b_i) mod p`` is one pass over the
    1-D array of distinct (row, shingle) pairs and a
    ``np.minimum.reduceat`` over each row's pairs. No (shingles x
    hashes) matrix is ever built: its size is what raised the Python
    workers' peak RSS."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from textalyzer_spark.functions.hashing import md5_le8_array
    from textalyzer_spark.functions.tokenize import kgram_table, token_table

    grams, rows = kgram_table(*token_table(texts), k)
    if not len(grams):
        return (
            np.zeros(0, np.int64),
            pa.array([], pa.list_(pa.string())),
            pa.array([], pa.list_(pa.int64())),
        )
    enc = pc.dictionary_encode(grams)
    n_dict = len(enc.dictionary)
    # the distinct (row, shingle) pairs, grouped by row
    pairs = np.unique(rows * n_dict + enc.indices.to_numpy())
    rows, gram = np.divmod(pairs, n_dict)
    rows, first = np.unique(rows, return_index=True)
    p = np.uint64(_P)
    x = (md5_le8_array(enc.dictionary) % p)[gram]
    sig = np.empty((len(a), len(rows)), np.int64)
    for i, (ai, bi) in enumerate(zip(a, b)):
        # a*(x mod p)+b < 2^62: exact in uint64
        sig[i] = np.minimum.reduceat((x * np.uint64(ai) + np.uint64(bi)) % p, first)
    set_at = np.append(first, len(pairs)).astype(np.int32)
    sig_at = np.arange(0, len(a) * (len(rows) + 1), len(a), dtype=np.int32)
    return (
        rows,
        pa.ListArray.from_arrays(pa.array(set_at), enc.dictionary.take(pa.array(gram))),
        pa.ListArray.from_arrays(pa.array(sig_at), pa.array(sig.T.ravel())),
    )


def _minhash_kernel(
    df: DataFrame,
    k: int,
    num_hashes: int,
    seed: int,
    id_col: str,
    text_col: str,
    with_shingles: bool,
) -> DataFrame:
    """``(doc_id[, shingles], signature)`` — :func:`_minhash_slice` as
    a ``mapInArrow`` over zero-copy ``SLICE_ROWS``-row slices of each
    Arrow batch; the two signature kernels differ only in
    ``with_shingles``."""
    import pyarrow as pa

    from textalyzer_spark.functions.tokenize import SLICE_ROWS

    a, b = _hash_params(num_hashes, seed)
    names = ["doc_id", "shingles", "signature"] if with_shingles else ["doc_id", "signature"]

    def run(batches):
        for batch in batches:
            for i in range(0, batch.num_rows, SLICE_ROWS):
                part = batch.slice(i, SLICE_ROWS)
                rows, shingles, signature = _minhash_slice(part.column(1), k, a, b)
                ids = part.column(0).take(pa.array(rows, pa.int64()))
                cols = [ids, shingles, signature] if with_shingles else [ids, signature]
                yield pa.RecordBatch.from_arrays(cols, names=names)

    id_type = dict(df.dtypes).get(id_col, "string")
    shingles = " shingles array<string>," if with_shingles else ""
    return df.select(id_col, text_col).mapInArrow(
        run, f"doc_id {id_type},{shingles} signature array<bigint>"
    )


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

    The signature-only projection of the :func:`shingle_signatures`
    kernel (the same :func:`_minhash_slice`), for callers that need no
    shingle sets (catalog builds, streaming; the ``ingest`` path): no
    set column leaves Python and no checkpoint is taken.

    A pure-Catalyst formulation (transform + array_min per
    permutation) was tried first: higher-order-function lambdas
    evaluate INTERPRETED (outside whole-stage codegen) and took 18.5s
    for 5.8M modular ops at sf0.1; this batch pass is ~50x faster.
    No shuffle either way; scales linearly with corpus size.
    """
    return _minhash_kernel(
        df, k, num_hashes, seed, id_col, text_col, with_shingles=False
    )


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
    values, each band's values joined as a string bucket key — NOT
    re-hashed: xxhash64 has no cross-engine twin and the key is only
    rows x ~10 digits wide. The one definition of the bucket key: the
    batch, incremental and streaming LSH joins must cut identical
    buckets."""
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


def lsh_candidates(
    sigs: DataFrame,
    bands: int,
    rows: int,
    max_bucket_docs: int | None,
    catalog: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs ``(doc_a, doc_b)`` of ``(doc_id,
    signature)`` tables: docs sharing a bucket in any band. Without
    ``catalog`` the pairs lie within ``sigs`` (``doc_a < doc_b``);
    with it they are catalog x ``sigs`` (``doc_a`` the catalog doc).
    The one candidate stage of every MinHash path.

    One exchange on ``(band, bucket)`` carries every band row; a
    window count over it gives each bucket its occupancy ``n``, its
    catalog and batch rows together. Only buckets with
    ``2 <= n <= max_bucket_docs`` (crossed: with rows from both
    sides) reach the pair join, inside the same partitioning, so the
    singleton buckets (nearly all) and one-sided ones form no pair.
    A window buffer spills, so a 10^7-doc bucket is counted and
    dropped without becoming one in-memory array (``collect_list``).

    ``max_bucket_docs`` is the mega-bucket guard: a family of f
    near-identical docs shares a bucket in EVERY band, fanning out
    f^2/2 pairs per band (measured: a 50k-doc boilerplate-heavy
    synthetic emitted 470k true pairs through ~10^9 candidate rows).
    A pair is lost only if every bucket it shares is over the cap;
    ``None`` keeps every bucket.
    """
    def cut(side: DataFrame, new: bool) -> DataFrame:
        return side.select(
            "doc_id", band_buckets_col(bands, rows), F.lit(new).alias("new")
        )

    bucket = Window.partitionBy("band", "bucket")
    band_rows = cut(sigs, True)
    occupancy = [F.count(F.lit(1)).over(bucket).alias("n")]
    keep = F.col("n") >= 2
    if max_bucket_docs is not None:
        keep &= F.col("n") <= max_bucket_docs
    if catalog is not None:
        band_rows = cut(catalog, False).unionByName(band_rows)
        occupancy.append(F.count_if("new").over(bucket).alias("n_new"))
        keep &= (F.col("n_new") >= 1) & (F.col("n_new") < F.col("n"))
    occ = band_rows.select("*", *occupancy).filter(keep)
    # no join hint: a merge join reuses the window's partitioning, or
    # AQE broadcasts a small side (faster on 1.5k-doc batches)
    a, b = occ.alias("a"), occ.alias("b")
    pair = (
        ~F.col("a.new") & F.col("b.new")
        if catalog is not None
        else F.col("a.doc_id") < F.col("b.doc_id")
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(pair)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


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
    docs colliding in any band's bucket become candidates
    (:func:`lsh_candidates`). Candidates are then verified with
    exact shingle Jaccard, so precision is exact and only recall
    depends on the S-curve 1-(1-t^r)^b. With 64 hashes / 16 bands
    (r=4), t=0.5 → ~0.93 recall.

    Verification is set-level (after HERO, SIGMOD 2024, and
    MetricJoin, ICDE 2023): each candidate joins the one-row-per-doc
    set table on ``doc_a``, then on ``doc_b``;
    ``n_inter = size(array_intersect(sh_a, sh_b))``, computed once
    per candidate, and the doc sizes are the set sizes, so no
    shingle-keyed join or aggregate is left. A lossless size-ratio
    prune drops pairs with
    ``min(n_a, n_b) < (t - 1e-4) * max(n_a, n_b)`` before the
    intersect. ``doc_id`` must be unique (see
    :class:`ShingleSignatures`).

    ``max_bucket_docs`` (default ON): band buckets of more docs form
    no pair — the mega-bucket guard of :func:`lsh_candidates`;
    ``None`` restores unguarded recall.
    """
    rows = _rows_per_band(num_hashes, bands)
    # ONE kernel pass + ONE materialization carries each doc's shingle
    # set (for exact verify) and its signature (for the band cut)
    if shingle_sigs is None:
        shingle_sigs = shingle_signatures(
            df, k, num_hashes, seed, id_col, text_col
        )
    cands = lsh_candidates(shingle_sigs.signatures, bands, rows, max_bucket_docs)
    # set-level exact verify: each candidate meets both docs' shingle
    # sets through two document-level joins
    sets = shingle_sigs.sets
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    n_a, n_b, n_inter = F.size("sh_a"), F.size("sh_b"), F.col("n_inter")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        # MetricJoin's size-ratio prune, lossless: round(j, 4) >= t
        # implies j >= t - 5e-5, and j <= min(n_a, n_b) / max(n_a, n_b)
        .filter(F.least(n_a, n_b) >= F.lit(threshold - 1e-4) * F.greatest(n_a, n_b))
        # exploding a one-element array makes n_inter a generated
        # column: Catalyst would inline a plain alias into each
        # predicate and projection that reads it, one intersect each
        .select("*", F.explode(F.array(inter)).alias("n_inter"))
        # a pair sharing no shingle (an md5-mod-p collision in every
        # row of a band) is no pair, even at threshold 0
        .filter(n_inter > 0)
        .select(
            "doc_a",
            "doc_b",
            F.round(n_inter / (n_a + n_b - n_inter).cast("double"), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def contamination_stats(df: DataFrame, benchmark: DataFrame, k: int = 8) -> DataFrame:
    """Benchmark-contamination detection (the decontamination step of
    a training-data pipeline, public recipe: GPT-3 appendix C /
    PaLM-style n-gram overlap): for every ``(doc_id, text)`` training
    row, the fraction of its token ``k``-gram occurrences that appear
    anywhere in the ``benchmark`` corpus —

    ``(doc_id, n_kgrams, n_contaminated, contamination_frac)``

    A doc with ``contamination_frac > 0`` shares at least one k-token
    span verbatim with the benchmark; filter or flag downstream.
    ``contamination_frac`` is an unrounded double of integer counts
    (bit-identical cross-engine). Docs with < k tokens have no
    k-grams: n_kgrams=0 and a NULL fraction. One output row per input
    row (see :func:`contamination_from_catalog`)."""
    return contamination_from_catalog(df, benchmark_gram_catalog(benchmark, k), k=k)


def benchmark_gram_catalog(benchmark: DataFrame, k: int = 8) -> DataFrame:
    """The persistable decontamination state: the benchmark corpus's
    DISTINCT token ``k``-gram set, one ``(shingle)`` row each —
    bounded by benchmark size (thousands of docs), never the training
    corpus. Benchmark suites GROW over time; screen every new crawl
    against the merged catalog instead of re-shingling every
    benchmark ever ingested (:func:`merge_gram_catalogs`, plain
    union-distinct: merge(cat(A), cat(B)) == cat(A ∪ B) exactly —
    the membership analog of the sketch-family merges)."""
    return (
        doc_feature_counts(benchmark.select("text"), token_kgrams(k))
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


# The collected catalog rides in the closure of every contamination
# task, and each Python worker hashes all of it once per Arrow batch.
# A random 5-gram costs ~36 closure bytes: at the cap a task's closure
# is ~37 MB and a batch's hash build ~0.4 s on one Xeon core.
# Benchmarks are thousands of documents, far below it.
MAX_CATALOG_SHINGLES = 1 << 20


class CatalogTooLarge(ValueError):
    """A gram catalog over :data:`MAX_CATALOG_SHINGLES` shingles."""


def _collect_catalog(shingles, k: int):
    """The sorted distinct non-NULL ``shingles`` of a catalog column
    collected to the driver, checked there: over the cap it raises
    :class:`CatalogTooLarge`, and on a shingle that is not ``k``
    space-joined tokens a k-mismatch ``ValueError`` (grams of another
    length never match, so every doc would silently read clean)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    catalog = pc.unique(shingles.cast(pa.string())).drop_null().sort()
    if len(catalog) > MAX_CATALOG_SHINGLES:
        raise CatalogTooLarge(
            f"gram catalog has {len(catalog)} distinct shingles, over "
            f"MAX_CATALOG_SHINGLES={MAX_CATALOG_SHINGLES}"
        )
    bad = catalog.filter(pc.not_equal(pc.count_substring(catalog, " "), k - 1))
    if len(bad):
        raise ValueError(f"catalog shingle is not a {k}-gram (k mismatch): {bad[0]}")
    return catalog


def _score_against(df: DataFrame, catalog, k: int, emit, schema: str) -> DataFrame:
    """The one contamination scorer, row-local: a ``mapInArrow`` over
    ``df``'s ``(doc_id, text)`` rows. It builds every token ``k``-gram
    occurrence with ``token_table``/``kgram_table``, one
    ``SLICE_ROWS``-row slice at a time, and probes them in ``catalog``
    once per Arrow batch (each ``pc.index_in`` hashes the whole
    catalog). ``emit(batch, rows, hit)`` maps the batch, each
    occurrence's row and its catalog index (-1 on a miss) to the
    ``schema`` columns."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from textalyzer_spark.functions.tokenize import SLICE_ROWS, kgram_table, token_table

    def run(batches):
        for batch in batches:
            starts = range(0, batch.num_rows, SLICE_ROWS)
            tables = [
                kgram_table(*token_table(batch.column(1).slice(i, SLICE_ROWS)), k)
                for i in starts
            ]
            if tables:
                grams = pa.chunked_array([g for g, _ in tables], pa.string())
                rows = np.concatenate([r + i for i, (_, r) in zip(starts, tables)])
                hit = pc.index_in(grams, value_set=catalog).fill_null(-1).to_numpy()
                yield pa.RecordBatch.from_pydict(emit(batch, rows, hit))

    id_type = dict(df.dtypes)["doc_id"]
    return df.select("doc_id", "text").mapInArrow(run, f"doc_id {id_type}, {schema}")


def contamination_from_catalog(df: DataFrame, catalog: DataFrame, k: int = 8) -> DataFrame:
    """:func:`contamination_stats` against a PERSISTED gram catalog
    (the incremental form: new crawl batch vs the merged catalog of
    every benchmark suite ingested so far). The catalog is collected
    and checked on the driver (:func:`_collect_catalog`) and shipped
    to the row-local scorer, so the training side has no join and no
    shuffle.

    One output row per input row, like ``doc_feature_counts``'
    precondition: a ``doc_id`` on two rows is scored once per row,
    never merged."""
    import numpy as np
    import pyarrow as pa

    shingles = _collect_catalog(catalog.select("shingle").toArrow()["shingle"], k)

    def stats(batch, rows, hit):
        n_kgrams = np.bincount(rows, minlength=batch.num_rows)
        n_hit = np.bincount(rows[hit >= 0], minlength=batch.num_rows)
        frac = n_hit / np.maximum(n_kgrams, 1)
        return {
            "doc_id": batch.column(0),
            "n_kgrams": n_kgrams,
            "n_contaminated": n_hit,
            "contamination_frac": pa.array(frac, mask=n_kgrams == 0),
        }

    schema = "n_kgrams bigint, n_contaminated bigint, contamination_frac double"
    return _score_against(df, shingles, k, stats, schema)


def contamination_by_benchmark(df: DataFrame, benchmark: DataFrame, k: int = 8) -> DataFrame:
    """Contamination ATTRIBUTION: ``(doc_id, bench_doc,
    n_overlap_kgrams)`` — which benchmark document each contaminated
    span came from, one row per (training row, benchmark doc) pair
    with >= 1 shared k-gram occurrence: the per-benchmark report
    :func:`contamination_stats` cannot give. A k-gram in two benchmark
    docs counts once per bench doc here, once there.

    The catalog and a CSR table from catalog index to benchmark docs
    are collected on the driver; the row-local scorer expands each hit
    through it and counts (row, bench doc) pairs with ``np.unique``.
    As in :func:`contamination_from_catalog`, rows are never merged."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    pairs = _doc_kgram_counts(benchmark, k, "doc_id", "text").toArrow()
    catalog = _collect_catalog(pairs["shingle"], k)
    bench_ids = pc.unique(pairs["doc_id"])
    n_bench = max(len(bench_ids), 1)
    gram_at = pc.index_in(pairs["shingle"], value_set=catalog).to_numpy()
    bench_at = pc.index_in(pairs["doc_id"], value_set=bench_ids).to_numpy()
    # the distinct (shingle, bench doc) pairs, grouped by shingle
    pair = np.unique(gram_at.astype(np.int64) * n_bench + bench_at)
    gram, owner = np.divmod(pair, n_bench)
    offsets = np.zeros(len(catalog) + 1, np.int64)
    np.cumsum(np.bincount(gram, minlength=len(catalog)), out=offsets[1:])

    def attribution(batch, rows, hit):
        rows, hit = rows[hit >= 0], hit[hit >= 0]
        fan = offsets[hit + 1] - offsets[hit]
        # hit j's owners are owner[offsets[hit[j]]:offsets[hit[j] + 1]]
        at = np.repeat(offsets[hit] - np.cumsum(fan) + fan, fan) + np.arange(fan.sum())
        key = np.repeat(rows, fan) * n_bench + owner[at]
        key, n = np.unique(key, return_counts=True)
        rows, bench = np.divmod(key, n_bench)
        return {
            "doc_id": batch.column(0).take(pa.array(rows)),
            "bench_doc": bench_ids.take(pa.array(bench)),
            "n_overlap_kgrams": n,
        }

    schema = f"bench_doc {dict(benchmark.dtypes)['doc_id']}, n_overlap_kgrams bigint"
    return _score_against(df, catalog, k, attribution, schema)


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
