"""Incremental / cross-snapshot deduplication against a persisted
catalog — the standard 100 TB workflow: a new crawl batch is deduped
against the fingerprint/signature catalog of everything already
ingested, then the catalog is advanced one snapshot.

This is the batch analog of the streaming state-store dedup
(streaming/jobs.py): the catalog plays the state store, an anti-join
plays the state lookup. Reference semantics inherited: the exact
fingerprint key is the same md5 the single-corpus
:func:`~textalyzer_spark.operators.dedup.exact_dedup` groups on, and
the minhash signatures/band buckets are bit-identical to
:func:`~textalyzer_spark.operators.dedup.minhash_lsh_pairs` — a doc
dropped incrementally would also have been dropped by the one-shot
operator over the union corpus.

Scale notes: the exact path is one hash shuffle of the NEW batch plus
an anti-join against the catalog keyed on fingerprint (bucketed/
broadcast by the optimizer — the catalog never rewrites). The minhash
path moves every catalog and batch band row through ONE ``(band,
bucket)`` exchange that counts each bucket's rows; singleton,
one-sided and over-cap buckets are dropped there, so only buckets
with a catalog row AND a batch row reach the pair join, whose traffic
is proportional to bucket collisions, not catalog size. Signatures
are num_hashes ints per doc — the only state a 10^12-doc catalog
needs (no shingle storage), with
similarity estimated from signature agreement (the classic MinHash
estimator E[agree/num_hashes] = J).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from textalyzer_spark.operators.dedup import (
    _rows_per_band,
    lsh_candidates,
    shingle_signatures,
)


# --------------------------------------------------------------------------
# exact (fingerprint catalog)
# --------------------------------------------------------------------------


def exact_catalog(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(fingerprint, keep_id)`` catalog of a corpus snapshot — the
    md5-of-raw-text key of ``exact_dedup`` with its keep-min-id
    survivor."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(F.min(id_col).alias("keep_id"))
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    catalog: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Survivors of the NEW batch against a prior-snapshot catalog:
    ``(doc_id, fingerprint)`` — one row per fingerprint that is (a)
    absent from the catalog and (b) deduped within the batch to its
    minimal doc_id. Exactly the docs ``exact_dedup`` over the union
    corpus would keep, minus the already-cataloged ones."""
    grouped = (
        new_df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(F.min(id_col).alias("doc_id"))
    )
    return grouped.join(
        catalog.select("fingerprint"), "fingerprint", "left_anti"
    ).select("doc_id", "fingerprint")


def updated_exact_catalog(
    catalog: DataFrame, survivors: DataFrame
) -> DataFrame:
    """The next catalog snapshot: prior entries + the new batch's
    survivors (their doc_id becomes the keep_id)."""
    return catalog.unionByName(
        survivors.select(
            "fingerprint", F.col("doc_id").alias("keep_id")
        )
    )


# --------------------------------------------------------------------------
# minhash (signature catalog)
# --------------------------------------------------------------------------


def minhash_catalog(
    df: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, signature array<bigint>)`` snapshot catalog —
    num_hashes ints per doc: the only state the incremental path ever
    needs. Computed by
    :func:`~textalyzer_spark.operators.dedup.minhash_signatures`, the
    signature-only kernel — value-identical to the signatures of
    :func:`~textalyzer_spark.operators.dedup.shingle_signatures` (one
    shared signature function): a catalog-only caller needs no
    shingle table, so the single kernel pass with NO aggregation
    shuffle is the minimal shape (round 8)."""
    from textalyzer_spark.operators.dedup import minhash_signatures

    return minhash_signatures(df, k, num_hashes, seed, id_col, text_col)


def incremental_minhash_pairs(
    new_df: DataFrame,
    catalog: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_docs: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-snapshot near-duplicate matches of the NEW batch against
    a signature catalog: ``(doc_old, doc_new, est_jaccard)``.

    Candidates come from band-bucket collisions between catalog and
    batch signatures (the same band cut as ``minhash_lsh_pairs``);
    similarity is the MinHash estimator agree/num_hashes — unrounded
    (exact in binary for power-of-two num_hashes), catalog-storable,
    and value-exact in the DuckDB twin. ``max_bucket_docs`` caps a
    bucket's COMBINED occupancy ``n`` (catalog + batch rows); a bucket
    of one side only forms no pair at any cap.

    A new doc with any returned match is a near-duplicate of already-
    ingested data; survivors = new docs with no row here (anti-join),
    and their signatures append to the catalog for the next snapshot.
    """
    new_sigs = minhash_catalog(
        new_df, k, num_hashes, seed, id_col, text_col
    ).localCheckpoint()
    return _cross_pairs_from_sigs(
        new_sigs, catalog, num_hashes, bands, threshold, max_bucket_docs
    )


def _cross_pairs_from_sigs(
    new_sigs: DataFrame,
    catalog: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_bucket_docs: int | None,
) -> DataFrame:
    """The band-join + signature-agreement core of
    :func:`incremental_minhash_pairs`, over ALREADY MATERIALIZED new
    signatures — shared with the component-maintenance path so one
    signature build feeds both intra and cross edges.

    Candidates come from :func:`~textalyzer_spark.operators.dedup.
    lsh_candidates`: one ``(band, bucket)`` exchange over catalog and
    batch band rows together, whose occupancy ``n`` counts both
    sides. Singleton buckets, buckets of one side only and buckets
    over ``max_bucket_docs`` are dropped before any pair is formed."""
    # component catalogs carry NULL signatures for shingle-less docs
    # (they can never match) — keep them out of the band join, where
    # a NULL signature would band to the "" bucket and fan out
    cat_sigs = catalog.filter(F.col("signature").isNotNull())
    cands = lsh_candidates(
        new_sigs, bands, _rows_per_band(num_hashes, bands),
        max_bucket_docs, catalog=cat_sigs,
    ).toDF("doc_old", "doc_new")
    so = cat_sigs.select(
        F.col("doc_id").alias("doc_old"), F.col("signature").alias("sig_o")
    )
    sn = new_sigs.select(
        F.col("doc_id").alias("doc_new"), F.col("signature").alias("sig_n")
    )
    # signature agreement on CANDIDATE rows only (post-bucket-join):
    # the interpreted zip_with runs on collisions, never the corpus
    agree = F.size(
        F.filter(
            F.zip_with("sig_o", "sig_n", lambda x, y: x == y), lambda v: v
        )
    )
    return (
        cands.join(so, "doc_old")
        .join(sn, "doc_new")
        .select(
            "doc_old",
            "doc_new",
            (agree / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# near-dup component catalog maintenance (VERDICT r5 item 2)
# --------------------------------------------------------------------------


def minhash_component_catalog(
    df: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_docs: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, signature, component)`` snapshot catalog — the
    minhash signature catalog PLUS the snapshot's near-dup component
    labels, so cluster membership carries FORWARD across snapshots
    (plain ``minhash_catalog`` forgets which old docs were near-dups
    of each other; a doc chain A~B (snapshot 1) + B~C (snapshot 2)
    could then never merge). Labels = connected components of the
    exact-verified ``minhash_lsh_pairs`` graph (component = min
    doc_id). Storage stays O(num_hashes + 1) ints per doc.

    EVERY ingested doc gets a catalog row — a doc too short for a
    single k-shingle has ``signature`` NULL (it can never near-match
    anything) but still carries its singleton component: dropping it
    would silently un-ingest it from every later snapshot."""
    from textalyzer_spark.operators.dedup import minhash_lsh_pairs
    from textalyzer_spark.operators.graph import connected_components

    # ONE kernel pass + ONE materialization feeds the stored
    # signatures, the band cut and the exact-verified pair chain
    built = shingle_signatures(df, k, num_hashes, seed, id_col, text_col)
    pairs = minhash_lsh_pairs(
        df, k=k, num_hashes=num_hashes, bands=bands, threshold=threshold,
        seed=seed, max_bucket_docs=max_bucket_docs,
        id_col=id_col, text_col=text_col, shingle_sigs=built,
    )
    docs = df.select(F.col(id_col).alias("doc_id")).distinct()
    labels = connected_components(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
        docs,
    )
    return labels.join(built.signatures, "doc_id", "left").select(
        "doc_id", "signature", "component"
    )


def incremental_near_dup_components(
    new_df: DataFrame,
    catalog: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_docs: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-snapshot cluster MAINTENANCE: ``(doc_id, component)``
    labels over catalog ∪ new batch, merging the new batch's near-dup
    edges into the PRIOR components.

    Three edge sets feed one union-find (graph.connected_components):

    * the catalog's components collapsed to ``doc_id ~ component``
      label edges — the prior snapshot's transitive closure, O(1)
      rows per cataloged doc;
    * the new batch's intra-batch pairs (exact-verified
      ``minhash_lsh_pairs``, the same pass a fresh snapshot runs);
    * cross batch-vs-catalog pairs from the STORED signatures
      (``incremental_minhash_pairs`` — old text is never re-read;
      the estimator is the only cross edge a signature catalog can
      produce, by design).

    Since prior component ids are themselves doc_ids, the min-label
    components of this graph re-minimize to the true min doc_id of
    each merged cluster — a snapshot-1 chain A~B merged by a
    snapshot-2 B~C lands all three in one component.

    Scale notes: label edges add one row per cataloged doc but only
    edge-TOUCHED nodes reach the driver union-find (graph.py), and a
    10^12-doc catalog's labels live in parquet next to its
    signatures — the three edge scans are one pass each."""
    from textalyzer_spark.operators.dedup import minhash_lsh_pairs
    from textalyzer_spark.operators.graph import connected_components

    old_edges = catalog.filter(
        F.col("doc_id") != F.col("component")
    ).select(F.col("doc_id").alias("src"), F.col("component").alias("dst"))
    # ONE kernel pass + ONE materialization over the new batch feeds
    # the intra-batch pair chain, the cross band join and the cross
    # estimator's signature attach; each band cut derives from the
    # checkpoint as a cheap narrow explode per consumer
    built = shingle_signatures(new_df, k, num_hashes, seed, id_col, text_col)
    intra = minhash_lsh_pairs(
        new_df, k=k, num_hashes=num_hashes, bands=bands,
        threshold=threshold, seed=seed, max_bucket_docs=max_bucket_docs,
        id_col=id_col, text_col=text_col, shingle_sigs=built,
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    cross = _cross_pairs_from_sigs(
        built.signatures, catalog.select("doc_id", "signature"),
        num_hashes, bands, threshold, max_bucket_docs,
    ).select(F.col("doc_old").alias("src"), F.col("doc_new").alias("dst"))
    docs = (
        catalog.select("doc_id")
        .unionByName(new_df.select(F.col(id_col).alias("doc_id")))
        .distinct()
    )
    return connected_components(
        old_edges.unionByName(intra).unionByName(cross), docs
    )


def updated_minhash_component_catalog(
    catalog: DataFrame,
    new_df: DataFrame,
    labels: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The next ``(doc_id, signature, component)`` snapshot: old +
    new signatures, re-labeled with the merged components from
    :func:`incremental_near_dup_components` (labels covers the union
    corpus, so prior entries whose cluster merged get the new min).
    Shingle-less new docs keep NULL signatures, like the catalog
    build."""
    new_sigs = minhash_catalog(
        new_df, k, num_hashes, seed, id_col, text_col
    )
    new_rows = (
        new_df.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .join(new_sigs, "doc_id", "left")
    )
    all_sigs = catalog.select("doc_id", "signature").unionByName(new_rows)
    return all_sigs.join(labels, "doc_id")


# --------------------------------------------------------------------------
# simhash (64-bit signature catalog)
# --------------------------------------------------------------------------


def simhash_catalog(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(doc_id, simhash bigint)`` snapshot catalog — ONE int64 per
    document, the cheapest near-dup state a catalog can carry."""
    from textalyzer_spark.operators.dedup import simhash

    return simhash(df, id_col, text_col)


def incremental_simhash_pairs(
    new_df: DataFrame,
    catalog: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-snapshot SimHash matches of the NEW batch against a
    simhash catalog: ``(doc_old, doc_new, hamming)`` for Hamming
    distance <= ``max_hamming`` — the Manku combination banding of
    ``simhash_near_pairs`` applied between two tables instead of as a
    self-join (recall-complete for the same reason: a <= d-diff pair
    has >= 2 untouched chunks, so it collides on >= 1 chunk PAIR)."""
    from textalyzer_spark.operators.dedup import simhash

    new_sh = simhash(new_df, id_col, text_col).localCheckpoint()
    return _simhash_cross_from_values(new_sh, catalog, max_hamming)


def _simhash_cross_from_values(
    new_sh: DataFrame, catalog: DataFrame, max_hamming: int
) -> DataFrame:
    """The combination-banded cross join core of
    :func:`incremental_simhash_pairs` over ALREADY MATERIALIZED new
    simhash values — shared with the component-maintenance path."""
    from textalyzer_spark.operators.dedup import _simhash_chunk_keys

    chunks = max_hamming + 2
    ok = _simhash_chunk_keys(catalog, chunks)
    nk = _simhash_chunk_keys(new_sh, chunks)
    pairs = (
        ok.alias("o")
        .join(
            nk.alias("n"),
            (F.col("o.combo") == F.col("n.combo"))
            & (F.col("o.v1") == F.col("n.v1"))
            & (F.col("o.v2") == F.col("n.v2")),
        )
        .select(
            F.col("o.doc_id").alias("doc_old"),
            F.col("n.doc_id").alias("doc_new"),
            F.col("o.simhash").alias("ha"),
            F.col("n.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return pairs.select(
        "doc_old", "doc_new", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def simhash_component_catalog(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, simhash, component)`` snapshot catalog — the
    one-int64-per-doc simhash catalog PLUS near-dup component labels
    (the simhash analog of :func:`minhash_component_catalog`; simhash
    emits a value for EVERY doc, token-less ones hash to 0, so no
    NULL handling is needed). ONE simhash pass feeds both the stored
    values and the pair chain."""
    from textalyzer_spark.operators.dedup import simhash, simhash_near_pairs
    from textalyzer_spark.operators.graph import connected_components

    sims = simhash(df, id_col, text_col).localCheckpoint()
    pairs = simhash_near_pairs(
        df, max_hamming, id_col=id_col, text_col=text_col, sims=sims
    )
    docs = df.select(F.col(id_col).alias("doc_id")).distinct()
    labels = connected_components(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
        docs,
    )
    return sims.join(labels, "doc_id")


def incremental_simhash_components(
    new_df: DataFrame,
    catalog: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-snapshot cluster maintenance on the SIMHASH catalog:
    ``(doc_id, component)`` over catalog ∪ batch — the same
    label-edge + intra + cross union-find as
    :func:`incremental_near_dup_components`, with the cheapest
    possible catalog state (one int64 + one label per doc). ONE
    simhash pass over the batch feeds intra and cross."""
    from textalyzer_spark.operators.dedup import simhash, simhash_near_pairs
    from textalyzer_spark.operators.graph import connected_components

    old_edges = catalog.filter(
        F.col("doc_id") != F.col("component")
    ).select(F.col("doc_id").alias("src"), F.col("component").alias("dst"))
    new_sh = simhash(new_df, id_col, text_col).localCheckpoint()
    intra = simhash_near_pairs(
        new_df, max_hamming, id_col=id_col, text_col=text_col, sims=new_sh
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    cross = _simhash_cross_from_values(
        new_sh, catalog.select("doc_id", "simhash"), max_hamming
    ).select(F.col("doc_old").alias("src"), F.col("doc_new").alias("dst"))
    docs = (
        catalog.select("doc_id")
        .unionByName(new_df.select(F.col(id_col).alias("doc_id")))
        .distinct()
    )
    return connected_components(
        old_edges.unionByName(intra).unionByName(cross), docs
    )


def updated_simhash_component_catalog(
    catalog: DataFrame,
    new_df: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The next ``(doc_id, simhash, component)`` snapshot: old + new
    values, re-labeled with the merged components."""
    from textalyzer_spark.operators.dedup import simhash

    new_sh = simhash(new_df, id_col, text_col)
    all_sh = catalog.select("doc_id", "simhash").unionByName(new_sh)
    return all_sh.join(labels, "doc_id")


# --------------------------------------------------------------------------
# embedding near-dup component maintenance (completes the matrix:
# minhash / simhash / embedding catalogs all carry labels forward)
# --------------------------------------------------------------------------


def embedding_component_catalog(
    vectors: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    max_bucket_docs: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(vec_id, embedding, component)`` snapshot catalog for the
    EMBEDDING near-dup family: the vectors themselves are the catalog
    state (cosine needs them — dim x 8 bytes/doc, the same state any
    vector store carries) plus the snapshot's LSH near-dup component
    labels. Bucket keys are NOT stored: they re-derive from the
    deterministic hyperplanes (dim, n_bits, n_tables, seed) on read,
    cheaper than persisting n_tables rows per vector."""
    from textalyzer_spark.operators.graph import connected_components
    from textalyzer_spark.operators.similarity import (
        embedding_near_dup_pairs_lsh,
    )

    pairs = embedding_near_dup_pairs_lsh(
        vectors, threshold, dim, n_bits, n_tables, seed,
        max_bucket_docs, id_col, vec_col,
    )
    docs = vectors.select(F.col(id_col).alias("doc_id")).distinct()
    labels = connected_components(
        pairs.select(
            F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
        ),
        docs,
    )
    return vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).join(labels.withColumnRenamed("doc_id", "vec_id"), "vec_id")


def incremental_embedding_components(
    new_vectors: DataFrame,
    catalog: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    max_bucket_docs: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cross-snapshot cluster maintenance on the embedding catalog:
    ``(doc_id, component)`` over catalog ∪ batch — label edges +
    intra-batch LSH pairs + cross batch-vs-catalog LSH pairs into one
    union-find, like the minhash/simhash analogs.

    The cross candidate join is id-only on (table, bucket) — the same
    16-bytes-per-row shuffle discipline as the single-corpus LSH
    operator — with vectors attached afterward for the exact-cosine
    verify (same ``_score_pairs`` rounding as every similarity
    path)."""
    from pyspark.sql.window import Window as _W

    from textalyzer_spark.operators.graph import connected_components
    from textalyzer_spark.operators.similarity import (
        _block_pairs_kernel,
        _hyperplane_buckets,
        embedding_near_dup_pairs_lsh,
    )

    old_edges = catalog.filter(
        F.col("vec_id") != F.col("component")
    ).select(F.col("vec_id").alias("src"), F.col("component").alias("dst"))
    cat_v = catalog.select("vec_id", "embedding")
    new_v = new_vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    # ONE python hyperplane pass over the new batch feeds BOTH the
    # intra-batch join (buckets= pass-through) and the cross join
    # (round 8 — previously the identical bucket table was computed
    # twice); the catalog side re-derives from its stored vectors by
    # design (bucket keys are deliberately not persisted)
    nb = _hyperplane_buckets(
        new_v, "vec_id", dim, n_bits, n_tables, seed
    ).localCheckpoint()
    intra = embedding_near_dup_pairs_lsh(
        new_vectors, threshold, dim, n_bits, n_tables, seed,
        max_bucket_docs, id_col, vec_col, buckets=nb,
    ).select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    ob = _hyperplane_buckets(cat_v, "vec_id", dim, n_bits, n_tables, seed)
    if max_bucket_docs is not None:
        ok = (
            ob.select("table", "bucket")
            .unionAll(nb.select("table", "bucket"))
            .groupBy("table", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= max_bucket_docs)
            .select("table", "bucket")
        )
        ob = ob.join(ok, ["table", "bucket"])
        nb = nb.join(ok, ["table", "bucket"])

    # blocked cross-side verify (the embedding_near_dup_pairs_lsh
    # round-8 rewrite applied between two tables): catalog and batch
    # vectors cross the Arrow boundary once per (table, block-pair)
    # instead of once per candidate pair; constant bx=0 / by=1 keeps
    # the kernel off its diagonal-dedup path (the sides are disjoint
    # id sets). Edge orientation is irrelevant to the union-find.
    def _blocks(side: DataFrame, tag: str, flag: int) -> DataFrame:
        nblk = F.ceil(
            F.count(F.lit(1)).over(_W.partitionBy("table", "bucket"))
            / F.lit(1024)
        ).cast("long")
        t = side.withColumn("_nb", nblk).withColumn(
            "_blk",
            F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.col("_nb"))
            .cast("int"),
        )
        return t.groupBy("table", "bucket", "_blk").agg(
            F.collect_list(
                F.struct(
                    F.col("vec_id").alias("vid"),
                    F.col("_vec_vec_id").alias("vec"),
                )
            ).alias(f"i{tag}")
        ).select(
            "table", "bucket", F.lit(flag).alias(f"b{tag}"), f"i{tag}"
        )

    id_type = dict(new_vectors.dtypes)[id_col]
    cross = (
        _blocks(ob, "x", 0)
        .join(_blocks(nb, "y", 1), ["table", "bucket"])
        .mapInPandas(
            _block_pairs_kernel(threshold),
            f"vec_a {id_type}, vec_b {id_type}, cosine double",
        )
        .dropDuplicates(["vec_a", "vec_b"])
        .select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    )

    docs = (
        catalog.select(F.col("vec_id").alias("doc_id"))
        .unionByName(new_vectors.select(F.col(id_col).alias("doc_id")))
        .distinct()
    )
    return connected_components(
        old_edges.unionByName(intra).unionByName(cross), docs
    )


def updated_embedding_component_catalog(
    catalog: DataFrame,
    new_vectors: DataFrame,
    labels: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The next ``(vec_id, embedding, component)`` snapshot: old +
    new vectors, re-labeled with the merged components."""
    new_v = new_vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    all_v = catalog.select("vec_id", "embedding").unionByName(new_v)
    return all_v.join(
        labels.withColumnRenamed("doc_id", "vec_id"), "vec_id"
    )


# --------------------------------------------------------------------------
# snapshot persistence (lineage.py commit protocol)
# --------------------------------------------------------------------------


def write_catalog_snapshot(catalog: DataFrame, base_dir: str) -> int:
    """Append-only snapshot write: the catalog lands in
    ``{base_dir}/snapshot=N`` (N = 1 + latest committed snapshot) and
    is committed by parquet's ``_SUCCESS`` marker — the lineage.py
    protocol: a killed writer leaves an uncommitted directory that
    the reader ignores and the next writer overwrites. Returns N.

    On a real cluster each snapshot is one atomic Iceberg commit; the
    reader/writer contract below is identical."""
    n = latest_catalog_snapshot(catalog.sparkSession, base_dir) + 1
    catalog.write.mode("overwrite").parquet(f"{base_dir}/snapshot={n}")
    return n


def latest_catalog_snapshot(
    spark: SparkSession, base_dir: str, max_snapshot: int | None = None
) -> int:
    """Highest COMMITTED (``_SUCCESS``-marked) snapshot id, or 0.
    ``max_snapshot`` bounds the search (ids above it are ignored) —
    the streaming maintenance job reads "the catalog as of before MY
    slot" so a crash-replayed micro-batch re-derives identical output
    even when later snapshots were already committed."""
    import os

    best = 0
    if os.path.isdir(base_dir):
        for name in os.listdir(base_dir):
            if not name.startswith("snapshot="):
                continue
            try:  # tolerate foreign dirs, e.g. snapshot=tmp (VERDICT r5)
                n = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if max_snapshot is not None and n > max_snapshot:
                continue
            if os.path.exists(os.path.join(base_dir, name, "_SUCCESS")):
                best = max(best, n)
    return best


def read_catalog(spark: SparkSession, base_dir: str) -> DataFrame:
    """The latest committed catalog snapshot."""
    n = latest_catalog_snapshot(spark, base_dir)
    if n == 0:
        raise FileNotFoundError(f"no committed catalog under {base_dir}")
    return spark.read.parquet(f"{base_dir}/snapshot={n}")
