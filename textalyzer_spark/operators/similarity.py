"""Approximate-nearest-neighbor similarity search over an embedding
column (``array<float>``).

The operator family (driver brief):

* :func:`cosine_topk` — exact baseline: query side broadcast, corpus
  scored in place, map-side partial top-k so the only exchange is
  n_partitions x n_queries x k candidate rows.
* :func:`lsh_cosine_topk` — random-hyperplane LSH buckets (sign-bit
  signatures via one Arrow numpy matmul); only bucket-colliding
  (query, vector) pairs are scored. Recall < 1 by construction;
  multiple hash tables raise it.
* :func:`ivf_cosine_topk` — IVF: mini k-means coarse quantizer
  (quantized centroid updates for cross-engine reproducibility),
  queries probe their n_probe nearest cells.
* :func:`embedding_near_dup_pairs` / ``_lsh`` — all-pairs exact
  baseline and the bucketed scale path (id-only bucket join, exact
  numpy verify, optional mega-bucket guard).

Every signature/assignment stage is Arrow-batched numpy — the
interpreted-Catalyst-HOF rule (BENCH.md) applies throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _score_pairs(
    df: DataFrame,
    left_id: str,
    right_id: str,
    left_vec: str,
    right_vec: str,
    threshold: float | None = None,
) -> DataFrame:
    """The shared Arrow-batched numpy cosine scorer: given candidate
    rows carrying two vectors, emit ``(left_id, right_id, cosine)``
    with cosine rounded to 4 decimals (np.round — ONE rounding for
    every similarity path, brute and bucketed alike, so a boundary
    cosine can never pass one operator and fail its twin).

    One einsum per Arrow batch replaces the per-pair interpreted-HOF
    evaluation that was the dominant cost of candidate verification
    at sf0.1 (BENCH.md: the near-dup verify rewrite cut 12.9->3.2 s).
    ``threshold`` filters batch-side so below-threshold candidates
    never leave the python worker.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    dtypes = dict(df.dtypes)
    lt, rt = dtypes[left_id], dtypes[right_id]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ma = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[left_vec]]
            )
            mb = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[right_vec]]
            )
            dots = np.einsum("ij,ij->i", ma, mb)
            na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
            nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
            cos = np.round(dots / (na * nb), 4)
            if threshold is not None:
                keep = cos >= threshold
                pdf, cos = pdf[keep], cos[keep]
            yield pd.DataFrame(
                {
                    left_id: pdf[left_id],
                    right_id: pdf[right_id],
                    "cosine": cos,
                }
            )

    return df.mapInPandas(run, f"{left_id} {lt}, {right_id} {rt}, cosine double")


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 100_000,
    max_query_cells: int = 8_000_000,
) -> DataFrame:
    """Exact top-k neighbors per query:
    ``(query_id, vec_id, cosine, rank)``; ``cosine`` rounded to 4
    decimals, rank by (rounded cosine desc, vec_id asc) — fully pinned
    so results are reproducible across engines. Self-matches
    (query_id == vec_id) are excluded.

    The corpus never shuffles: the query matrix is collected to the
    driver (bounded — an ANN query set is small by definition, n_q x
    dim doubles, and the bound is ENFORCED in BYTES, not rows: the
    vector dimension is probed first and the row cap is
    ``min(max_queries, max_query_cells // dim)`` — 100k rows of dim-512
    vectors is ~400 MB of driver matrix, which a row-only cap would
    have admitted. The collect fetches at most cap + 1 rows and raises
    with guidance toward :func:`lsh_cosine_topk` / a broadcast-join
    formulation before an oversized "query" table can OOM the driver)
    and shipped
    in the task closure, each corpus partition scores its rows with
    ONE (batch x dim) @ (dim x n_q) numpy matmul per Arrow batch and
    reduces to a local top-k, so the only exchange is n_partitions x
    n_queries x k candidate rows. The final per-query window is exact
    and tiny at any corpus size. (The earlier crossJoin +
    interpreted-HOF formulation evaluated 2*dim ops per pair outside
    codegen — the engine's no-interpreted-HOF rule, BENCH.md.)
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    q_type = dict(queries.dtypes)[query_id_col]
    id_type = dict(vectors.dtypes)[id_col]
    probe = queries.select(F.size(vec_col).alias("dim")).first()
    dim = int(probe["dim"]) if probe is not None else 0
    cap = max_queries if dim <= 0 else min(max_queries, max_query_cells // dim)
    q_rows = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("q_vec"),
        )
        .limit(cap + 1)
        .collect()
    )
    if len(q_rows) > cap:
        raise ValueError(
            f"cosine_topk collects the query set to the driver; got "
            f"> {cap} query rows at dim {dim} (caps: {max_queries} rows, "
            f"{max_query_cells} total cells ~ "
            f"{max_query_cells * 8 // 2**20} MB of float64). For large "
            "query sets use lsh_cosine_topk (bucketed equi-join) or "
            "raise max_queries/max_query_cells explicitly if the driver "
            "can hold the query matrix."
        )
    schema = f"query_id {q_type}, vec_id {id_type}, cosine double"
    if not q_rows:
        return (
            vectors.sparkSession.createDataFrame([], schema)
            .withColumn("rank", F.lit(1))
        )
    q_ids = np.asarray([r["query_id"] for r in q_rows])
    q_mat = np.stack(
        [np.asarray(r["q_vec"], dtype=np.float64) for r in q_rows]
    )
    q_norm = np.sqrt(np.einsum("ij,ij->i", q_mat, q_mat))

    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v_vec"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-batch top-k candidates, reduced again at partition end:
        # partition output is exactly n_q x k rows regardless of size
        cands: list[pd.DataFrame] = []
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            mat = np.stack(
                [
                    np.asarray(x, dtype=np.float64)
                    for x in pdf["v_vec"].to_numpy()[order]
                ]
            )
            v_norm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            cos = np.round(
                (mat @ q_mat.T) / (v_norm[:, None] * q_norm[None, :]), 4
            )
            cos[ids[:, None] == q_ids[None, :]] = -np.inf  # self-match
            kk = min(k, len(ids))
            # rows are vec_id-ascending, so a stable sort on -cos
            # reproduces the pinned (cosine desc, vec_id asc) order
            top = np.argsort(-cos, axis=0, kind="stable")[:kk]
            sel = np.take_along_axis(cos, top, axis=0)
            cands.append(
                pd.DataFrame(
                    {
                        "query_id": np.repeat(q_ids, kk),
                        "vec_id": ids[top].ravel(order="F"),
                        "cosine": sel.ravel(order="F"),
                    }
                )
            )
        if not cands:
            return
        out = pd.concat(cands, ignore_index=True)
        out = out[np.isfinite(out["cosine"])]
        out = (
            out.sort_values(
                ["query_id", "cosine", "vec_id"], ascending=[True, False, True]
            )
            .groupby("query_id", sort=False)
            .head(k)
        )
        if len(out):
            yield out

    scored = v.mapInPandas(run, schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 1024,
    n_docs: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs:
    ``(vec_a, vec_b, cosine)`` for all pairs with cosine >= threshold,
    vec_a < vec_b, cosine rounded to 4 decimals (np.round — the same
    rounding as every other similarity path).

    Brute-force all-pairs (the exact baseline the LSH variant is
    measured against), organized as a BLOCK self-join: vectors hash
    into ~n/block_size blocks (one groupBy), the tiny block table
    self-joins on ``block_a <= block_b`` (the cartesian now ranges
    over (n/G)^2 compact block rows, not n^2 vector pairs), and each
    block pair is scored with ONE (G x G) BLAS matmul in an Arrow
    batch. Per-pair Arrow transfer drops by ~G x versus materializing
    the row-level cross join (each vector crosses the boundary
    n/G times instead of n times). Compute is still O(n^2) by
    definition of an exact baseline — at 10^12 vectors use
    :func:`embedding_near_dup_pairs_lsh`, whose docstring's recall
    math says when that is safe.
    """
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    # block count needs the corpus size; accept a caller hint (exact
    # value only shapes block granularity, so an estimate is fine) to
    # skip the extra count job. A checkpoint-then-count variant was
    # A/B'd and REJECTED: materializing the vector table costs more
    # than the duplicate scan it avoids (0.88 -> 1.44 s at sf0.1) —
    # the count's scan prunes to the id column and is cheap
    n = n_docs if n_docs is not None else v.count()
    n_blocks = max(1, -(-n // block_size))
    blocked = v.groupBy(
        F.pmod(F.xxhash64(F.col("vid").cast("string")), F.lit(n_blocks))
        .cast("int")
        .alias("blk")
    ).agg(F.collect_list(F.struct("vid", "vec")).alias("items"))
    x = blocked.select(
        F.col("blk").alias("bx"), F.col("items").alias("ix")
    )
    y = blocked.select(
        F.col("blk").alias("by"), F.col("items").alias("iy")
    )
    pairs = x.join(y, F.col("bx") <= F.col("by"))

    id_type = dict(v.dtypes)["vid"]
    return pairs.mapInPandas(
        _block_pairs_kernel(threshold),
        f"vec_a {id_type}, vec_b {id_type}, cosine double",
    )


def _block_pairs_kernel(threshold: float):
    """The shared block-pair scoring kernel: each input row carries
    two blocks of ``(vid, vec)`` structs (``ix``/``iy``) plus their
    comparable block ids (``bx``/``by``); one (Gx x Gy) BLAS matmul
    per row, pairs oriented (min id, max id), the diagonal block
    deduped. Used by the brute all-pairs baseline (blocks = hash
    buckets of the whole corpus) and by :func:`semdedup_pairs`
    (blocks = hash buckets WITHIN a k-means cluster)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # itertuples: each row amortizes a G x G matmul, but the
            # per-row Series construction of iterrows was still ~10x
            # the tuple cost for free
            for row in pdf.itertuples(index=False):
                ids_x = np.asarray([it["vid"] for it in row.ix])
                ids_y = np.asarray([it["vid"] for it in row.iy])
                mx = np.stack(
                    [np.asarray(it["vec"], dtype=np.float64) for it in row.ix]
                )
                my = np.stack(
                    [np.asarray(it["vec"], dtype=np.float64) for it in row.iy]
                )
                nx = np.sqrt(np.einsum("ij,ij->i", mx, mx))
                ny = np.sqrt(np.einsum("ij,ij->i", my, my))
                cos = np.round(
                    (mx @ my.T) / (nx[:, None] * ny[None, :]), 4
                )
                # orient every pair as (smaller id, larger id); the
                # strict < also drops self-pairs in the diagonal block
                keep = (cos >= threshold) & (ids_x[:, None] != ids_y[None, :])
                ai, bi = np.nonzero(keep)
                if not len(ai):
                    continue
                a_ids, b_ids = ids_x[ai], ids_y[bi]
                lo = np.minimum(a_ids, b_ids)
                hi = np.maximum(a_ids, b_ids)
                out = pd.DataFrame(
                    {"vec_a": lo, "vec_b": hi, "cosine": cos[ai, bi]}
                )
                # the diagonal block sees each pair twice (i,j)+(j,i)
                if row.bx == row.by:
                    out = out.drop_duplicates(["vec_a", "vec_b"])
                yield out

    return run


def embedding_near_dup_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    max_bucket_docs: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 1024,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """LSH-bucketed embedding near-duplicate pairs — the scale path
    :func:`embedding_near_dup_pairs`'s docstring promises:
    ``(vec_a, vec_b, cosine)``, vec_a < vec_b, cosine rounded to 4
    decimals.

    Candidate generation: vectors colliding in >=1 of ``n_tables``
    hyperplane-sign buckets (an equi-join on (table, bucket) — NO
    cartesian product in the plan). Candidates are exact-verified
    with the true cosine, so precision is exact; recall follows the
    (1 - theta/pi)^n_bits S-curve and is pytest-measured against the
    brute-force baseline. At a real near-dup threshold (>=0.9,
    theta <= 26 deg) recall is high and the bucket join touches a
    vanishing fraction of the n^2 pairs; tune n_bits up with corpus
    size to keep buckets small.

    ``max_bucket_docs`` is the mega-bucket guard (same rationale as
    ``minhash_lsh_pairs``): a family of f byte-identical embeddings
    lands whole in one bucket of every table and fans out f^2/2 rows
    per table. Default OFF here because the registered query's tiny
    n_bits=4 buckets at low threshold would trip any useful cap; set
    it (e.g. 10_000) on duplicate-heavy production corpora
    (tests/test_dedup_similarity.py plants such a family and
    demonstrates both the blowup and the guard).
    """
    if buckets is not None:
        # ALREADY MATERIALIZED ``_hyperplane_buckets`` table of the
        # same (vectors, dim, n_bits, n_tables, seed) — the
        # component-maintenance path shares ONE python hyperplane
        # pass between this intra join and its cross join (round 8)
        vs = buckets
    else:
        vs = _hyperplane_buckets(
            vectors.withColumnRenamed(id_col, "vec_id"),
            "vec_id", dim, n_bits, n_tables, seed, vec_col,
        )
        # the bucket table feeds the mega-bucket guard and both join
        # sides — materialize once instead of re-running the python
        # hyperplane-signature stage per consumer
        vs = vs.localCheckpoint()
    if max_bucket_docs is not None:
        ok = (
            vs.groupBy("table", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= max_bucket_docs)
            .select("table", "bucket")
        )
        vs = vs.join(ok, ["table", "bucket"])
    # BLOCKED intra-bucket verify (round-8 rewrite): the previous
    # id-only candidate join + per-pair scorer shuffled only 16 bytes
    # per candidate, but then ATTACHED both dim-double vectors to
    # every surviving pair — ~1 KB per candidate through two joins and
    # the Arrow boundary (millions of candidates on low-threshold
    # corpora). Scoring each bucket with the brute baseline's blocked
    # matmul kernel instead moves every vector across the boundary
    # once per (table, block-pair) — ~n_tables times total, not once
    # per pair — and replaces per-pair einsum rows with dense BLAS.
    # The same-pair-in-many-tables duplicates are now deduped AFTER
    # scoring (cosines of a pair are identical across tables, so the
    # surviving row set is unchanged — A/B'd value-equal, 2.7-2.9 ->
    # 1.2-1.3 s at sf0.1). Buckets larger than block_size split into
    # hash sub-blocks exactly like embedding_near_dup_pairs, so a
    # mega-bucket still becomes many bounded tasks, never one row.
    blocked = _bucket_blocks(vs, block_size)
    x = blocked.select(
        "table", "bucket", F.col("_blk").alias("bx"), F.col("items").alias("ix")
    )
    y = blocked.select(
        "table", "bucket", F.col("_blk").alias("by"), F.col("items").alias("iy")
    )
    prs = x.join(y, ["table", "bucket"]).filter(F.col("bx") <= F.col("by"))
    id_type = dict(vectors.dtypes)[id_col]
    scored = prs.mapInPandas(
        _block_pairs_kernel(threshold),
        f"vec_a {id_type}, vec_b {id_type}, cosine double",
    )
    return scored.dropDuplicates(["vec_a", "vec_b"])


def _bucket_blocks(vs: DataFrame, block_size: int = 1024) -> DataFrame:
    """``(table, bucket, _blk, items)`` — the blocking rule of the
    LSH verify, shared by the intra-bucket path
    (:func:`embedding_near_dup_pairs_lsh`) and the catalog x batch
    path (``incremental.embedding_components``): each ``(table,
    bucket)`` of a ``_hyperplane_buckets(..., "vec_id", ...)`` table
    splits into ``ceil(n / block_size)`` xxhash64 sub-blocks, each
    one row of ``(vid, vec)`` structs, so a mega-bucket becomes many
    bounded kernel rows."""
    from pyspark.sql.window import Window as _W

    nb = F.ceil(
        F.count(F.lit(1)).over(_W.partitionBy("table", "bucket"))
        / F.lit(block_size)
    ).cast("long")
    t = vs.withColumn("_nb", nb).withColumn(
        "_blk",
        F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.col("_nb"))
        .cast("int"),
    )
    return t.groupBy("table", "bucket", "_blk").agg(
        F.collect_list(
            F.struct(F.col("vec_id").alias("vid"), F.col("_vec_vec_id").alias("vec"))
        ).alias("items")
    )


def _seed_sample(v: DataFrame, sample_size: int) -> list:
    """Deterministic bounded quantizer-training sample: the smallest
    ``sample_size`` ``md5(vec_id)`` hashes (TakeOrderedAndProject —
    per-partition top-N + driver merge, never a full sort); the driver
    holds sample_size x dim doubles. Hash order decorrelates the
    sample from id assignment — lowest-id sampling skews centroids
    when ids track source/time.

    A TABLESAMPLE-style pre-filter keeps only hashes with first
    nibble '0' (1/16 of the corpus) before the top-N: whenever that
    slice still yields ``sample_size`` rows, the global smallest
    hashes ALL start with '0' (any other hash exceeds every kept
    one), so the result is exactly the unfiltered top-N — at 100 TB
    the per-row heap compare is skipped for 15/16 of the corpus. A
    short slice (small corpus) falls back to the unfiltered pass, so
    the selection — and the DuckDB twin that unrolls it — never
    changes."""
    h = F.md5(F.col("vec_id").cast("string"))
    srows = (
        v.filter(h.startswith("0"))
        .orderBy(h, "vec_id")
        .limit(sample_size)
        .collect()
    )
    if len(srows) < sample_size:
        srows = v.orderBy(h, "vec_id").limit(sample_size).collect()
    return srows


def _cluster_blocks(assigned: DataFrame, block_size: int) -> DataFrame:
    """Per-cluster hash blocks for the intra-cluster pair scan:
    ``(cluster, bid, items)`` with ``ceil(n_c / block_size)`` blocks
    per cluster — per-cluster counts come from an O(n_clusters)-row
    size aggregate, so a mega cluster becomes many bounded blocks,
    never one task (pinned in tests/test_dedup_similarity.py)."""
    sizes = assigned.groupBy("cluster").agg(F.count("*").alias("n")).collect()
    nb_rows = [
        (int(r["cluster"]), max(1, -(-int(r["n"]) // block_size)))
        for r in sizes
    ]
    nbdf = F.broadcast(
        assigned.sparkSession.createDataFrame(nb_rows, "cluster int, nb int")
    )
    return (
        assigned.join(nbdf, "cluster")
        .groupBy(
            "cluster",
            F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.col("nb"))
            .cast("int")
            .alias("blk"),
        )
        .agg(
            F.collect_list(
                F.struct(F.col("vec_id").alias("vid"), "vec")
            ).alias("items")
        )
        # comparable global block id: cluster in the high 32 bits, so
        # bx == by identifies the diagonal and bx <= by orders blocks
        # within the cluster join
        .select(
            "cluster",
            (F.col("cluster").cast("long") * F.lit(1 << 32) + F.col("blk"))
            .alias("bid"),
            "items",
        )
    )


def _assign_nearest(v: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """``(vec_id, vec, cluster int)`` — nearest centroid by cosine;
    ties pick the LARGEST cluster index (the same pinned tiebreak as
    the DuckDB oracle's ``ORDER BY sim DESC, cluster DESC``).

    Arrow-batched numpy: one (batch x n_clusters) matmul per batch.
    The previous Catalyst formulation (array_max over per-centroid
    higher-order-function cosines) ran interpreted at n_clusters x
    2*dim ops per row — the engine's no-interpreted-HOF rule applies
    to the quantizer too."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    c_mat = np.asarray(centroids, dtype=np.float64)
    c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
    n_clusters = len(centroids)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["vec"]])
            v_norm = np.sqrt((mat * mat).sum(axis=1))
            sims = (mat @ c_mat.T) / (v_norm[:, None] * c_norm[None, :])
            # argmax with ties -> largest index: argmax on the reversed
            # axis finds the FIRST max there, i.e. the last one here
            cluster = n_clusters - 1 - np.argmax(sims[:, ::-1], axis=1)
            out = pdf[["vec_id", "vec"]].copy()
            out["cluster"] = cluster.astype(np.int32)
            yield out

    id_type = dict(v.dtypes).get("vec_id", "bigint")
    return v.mapInPandas(
        run, f"vec_id {id_type}, vec array<double>, cluster int"
    )


def _kmeans_fit_sample(
    sample: "object", n_clusters: int, iters: int
) -> list[list[float]]:
    """Driver-side mini k-means over the (vec_id-ordered) sample
    matrix: assignment by cosine with ties -> LARGEST cluster index,
    mean update quantized per dim as floor(x*1e6 + 0.5)/1e6 (a
    rounding both engines compute bit-identically: Python round() is
    banker's, DuckDB round() is half-away, floor is floor
    everywhere), empty clusters keep their previous centroid — the
    exact semantics the DuckDB twin unrolls as CTEs, now on
    n_sample x dim floats instead of three full-corpus posexplode
    shuffles.
    """
    import numpy as np

    cents = np.stack([sample[i] for i in range(n_clusters)])
    s_norm = np.sqrt(np.einsum("ij,ij->i", sample, sample))
    for _ in range(iters):
        c_norm = np.sqrt(np.einsum("ij,ij->i", cents, cents))
        sims = (sample @ cents.T) / (s_norm[:, None] * c_norm[None, :])
        cluster = n_clusters - 1 - np.argmax(sims[:, ::-1], axis=1)
        new_cents = cents.copy()
        for c in range(n_clusters):
            members = sample[cluster == c]
            if len(members):
                new_cents[c] = np.floor(
                    members.mean(axis=0) * 1_000_000 + 0.5
                ) / 1_000_000
        cents = new_cents
    return [list(row) for row in cents]


def _probe_cells(
    q: DataFrame, centroids: list[list[float]], n_probe: int
) -> DataFrame:
    """``(query_id, q_vec, cluster)`` — each query's n_probe nearest
    cells by UNROUNDED cosine, ties -> larger cluster index (the
    pinned ``ORDER BY sim DESC, cluster DESC`` the oracle replays).
    One (batch x n_clusters) matmul per Arrow batch."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    c_mat = np.asarray(centroids, dtype=np.float64)
    c_norm = np.sqrt(np.einsum("ij,ij->i", c_mat, c_mat))
    n_clusters = len(centroids)
    # a tiny corpus can train fewer cells than n_probe: probe them all
    # (the DuckDB twin's rn <= n_probe tolerates this by construction)
    p = min(n_probe, n_clusters)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["q_vec"]]
            )
            q_norm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            sims = (mat @ c_mat.T) / (q_norm[:, None] * c_norm[None, :])
            # stable argsort on the cluster-reversed axis: equal sims
            # keep the FIRST reversed position = the largest index
            idx = np.argsort(-sims[:, ::-1], axis=1, kind="stable")[:, :p]
            cluster = (n_clusters - 1 - idx).astype(np.int32)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy().repeat(p),
                    "q_vec": pdf["q_vec"].to_numpy().repeat(p),
                    "cluster": cluster.ravel(),
                }
            )

    q_type = dict(q.dtypes)["query_id"]
    return q.mapInPandas(
        run, f"query_id {q_type}, q_vec array<double>, cluster int"
    )


def ivf_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    iters: int = 3,
    sample_size: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer, then each
    query scores only the vectors in its ``n_probe`` nearest cells.
    Output schema/ordering identical to :func:`cosine_topk`.

    The quantizer is fit on a BOUNDED deterministic sample — the
    ``sample_size`` smallest ``md5(vec_id)`` hashes (a hash-ordered
    TakeOrdered: deterministic like an id sort, but uncorrelated with
    ingest order, so id-clustered corpora — e.g. ids assigned per
    source — still train representative centroids), then driver-side
    numpy k-means (:func:`_kmeans_fit_sample`) on n_sample x dim
    floats. Fitting a 16-centroid coarse quantizer
    never needs the full corpus; the previous formulation ran three
    full-corpus ``posexplode(vec)`` shuffles (64x row amplification
    each) just to average 16 cells — at 100x scale the training
    dwarfed the search it accelerated. Now the corpus is touched by
    exactly ONE distributed pass (:func:`_assign_nearest`).

    Centroid updates are quantized to 1e-6 (floor(x*1e6 + 0.5)/1e6):
    floating-point sum order differs numpy-vs-DuckDB, so unquantized
    centroids would differ in the last ulp engine-to-engine.
    Quantization pins them — the DuckDB twin (oracles.py) unrolls the
    same sample-restricted k-means as chained CTEs and stays
    value-exact. 1e-6 jitter on a coarse quantizer is semantically
    nil. Scored fraction ~= n_probe / n_clusters; recall vs brute
    force is pytest-checked.
    """
    import numpy as np

    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    srows = _seed_sample(v, sample_size)
    q_type = dict(queries.dtypes)[query_id_col]
    id_type = dict(vectors.dtypes)[id_col]
    if not srows:
        return vectors.sparkSession.createDataFrame(
            [], f"query_id {q_type}, vec_id {id_type}, cosine double, rank int"
        )
    sample = np.stack(
        [np.asarray(r["vec"], dtype=np.float64) for r in srows]
    )
    # a corpus smaller than n_clusters trains that many cells (the
    # oracle's LIMIT n_clusters init CTE shrinks identically)
    centroids = _kmeans_fit_sample(sample, min(n_clusters, len(srows)), iters)

    assigned = _assign_nearest(v, centroids)

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    )
    q_probed = _probe_cells(q, centroids, n_probe)

    cands = (
        assigned.join(F.broadcast(q_probed), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "q_vec", "vec")
    )
    scored = _score_pairs(
        cands, "query_id", "vec_id", "q_vec", "vec"
    ).dropDuplicates(["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def semdedup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    iters: int = 3,
    sample_size: int = 256,
    block_size: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication"):
    k-means clusters the embedding space, then near-duplicate pairs
    are sought ONLY within a cluster — the semantic analog of LSH
    banding, with the quantizer (not random projections) choosing
    who competes. Output ``(vec_a, vec_b, cosine)``, vec_a < vec_b,
    np.round-4 cosines — feed through
    ``near_dedup(pairs=..., id_col="vec_id")`` for cluster resolution
    and the keep rule, exactly like the embedding-LSH path.

    The quantizer is the IVF one verbatim (:func:`_kmeans_fit_sample`
    on the md5-ordered bounded sample, quantized centroid updates,
    pinned tiebreaks — the DuckDB twin unrolls the same CTEs), and
    the corpus is touched by exactly ONE distributed assignment pass.
    Intra-cluster scoring reuses the block-matmul kernel with blocks
    nested INSIDE clusters: per-cluster block counts come from an
    O(n_clusters)-row size aggregate, so a mega cluster becomes many
    bounded (G x G) matmuls, never one task. Compute is
    O(sum_c n_c^2) BY DESIGN (the paper's semantics); at 100 TB scale
    ``n_clusters`` with the corpus (SemDeDup uses ~10^5 clusters at
    10^8 docs) to keep every n_c near n / n_clusters.
    """
    import numpy as np

    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    srows = _seed_sample(v, sample_size)
    id_type = dict(v.dtypes)["vec_id"]
    if not srows:
        return vectors.sparkSession.createDataFrame(
            [], f"vec_a {id_type}, vec_b {id_type}, cosine double"
        )
    sample = np.stack([np.asarray(r["vec"], dtype=np.float64) for r in srows])
    centroids = _kmeans_fit_sample(sample, min(n_clusters, len(srows)), iters)

    assigned = _assign_nearest(v, centroids)
    # two actions consume the assignment (size agg + pair scan) and it
    # is a python-stage pass — the multi-ACTION checkpoint rule applies
    assigned = assigned.localCheckpoint()
    blocked = _cluster_blocks(assigned, block_size)
    x = blocked.select(
        F.col("cluster").alias("cx"),
        F.col("bid").alias("bx"),
        F.col("items").alias("ix"),
    )
    y = blocked.select(
        F.col("cluster").alias("cy"),
        F.col("bid").alias("by"),
        F.col("items").alias("iy"),
    )
    pairs = x.join(
        y, (F.col("cx") == F.col("cy")) & (F.col("bx") <= F.col("by"))
    ).select("bx", "by", "ix", "iy")
    return pairs.mapInPandas(
        _block_pairs_kernel(threshold),
        f"vec_a {id_type}, vec_b {id_type}, cosine double",
    )


def _hyperplanes(dim: int, n_bits: int, seed: int) -> list[list[float]]:
    """Seeded pseudo-random hyperplanes, precomputed driver-side.

    Deterministic from the seed, identical on every executor, no
    stored model. The same constants are embedded (full-precision
    repr) in the DuckDB oracle SQL, so the bucket assignment has a
    value-exact cross-engine twin."""
    import random

    rng = random.Random(seed)
    return [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]


def lsh_table_planes(
    dim: int, n_bits: int, n_tables: int, seed: int
) -> list[list[list[float]]]:
    """Per-table hyperplane sets; table t uses seed + 7919*t (reusing
    one signature across tables would make every table identical)."""
    return [
        _hyperplanes(dim, n_bits, seed + 7919 * t) for t in range(n_tables)
    ]


def _hyperplane_buckets(
    df: DataFrame,
    id_alias: str,
    dim: int,
    n_bits: int,
    n_tables: int,
    seed: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, _vec_<id> array<double>, table int, bucket string)`` —
    one row per (vector, table); bucket is the n_bits sign-bit string
    of the vector against that table's hyperplanes.

    Arrow-batched numpy: ONE matmul of the (batch x dim) matrix
    against the stacked (n_tables*n_bits x dim) plane matrix per
    batch. The previous Catalyst higher-order-function formulation
    ran interpreted (outside whole-stage codegen) at n_tables x
    n_bits x dim ~ 2k multiplies per row and was slower than the
    brute-force scorer it was meant to beat (BENCH.md lesson)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    planes = lsh_table_planes(dim, n_bits, n_tables, seed)
    p_mat = np.asarray(planes, dtype=np.float64).reshape(n_tables * n_bits, dim)
    vec_field = f"_vec_{id_alias}"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_field]]
            )
            signs = (mat @ p_mat.T) > 0  # (batch, n_tables*n_bits)
            bucket_cols = []
            for t in range(n_tables):
                bits = signs[:, t * n_bits : (t + 1) * n_bits].astype(np.uint8)
                bucket_cols.append(
                    ["".join("1" if b else "0" for b in row) for row in bits]
                )
            yield pd.DataFrame(
                {
                    id_alias: pdf[id_alias],
                    vec_field: pdf[vec_field],
                    "buckets": [
                        [bucket_cols[t][i] for t in range(n_tables)]
                        for i in range(len(pdf))
                    ],
                }
            )

    id_type = dict(df.dtypes).get(id_alias, "bigint")
    wide = df.select(
        F.col(id_alias),
        F.col(vec_col).cast("array<double>").alias(vec_field),
    ).mapInPandas(
        run,
        f"{id_alias} {id_type}, {vec_field} array<double>, buckets array<string>",
    )
    return wide.select(
        id_alias,
        vec_field,
        F.posexplode("buckets").alias("table", "bucket"),
    )


def lsh_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Random-hyperplane LSH ANN: ``(query_id, vec_id, cosine, rank)``.

    Each of ``n_tables`` tables buckets vectors by an ``n_bits``
    sign-bit signature; a (query, vector) pair is scored iff it
    collides in >=1 table. Expected candidate fraction per table is
    ~(1 - theta/pi)^n_bits for angle theta. Scoring + top-k identical
    to :func:`cosine_topk`, so output schema/ordering match exactly.
    """
    vs = _hyperplane_buckets(
        vectors.withColumnRenamed(id_col, "vec_id"),
        "vec_id", dim, n_bits, n_tables, seed, vec_col,
    )
    qs = _hyperplane_buckets(
        queries.withColumnRenamed(query_id_col, "query_id"),
        "query_id", dim, n_bits, n_tables, seed, vec_col,
    )
    cands = (
        vs.join(F.broadcast(qs), ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.col("_vec_query_id").alias("q_vec"),
            F.col("_vec_vec_id").alias("v_vec"),
        )
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = _score_pairs(cands, "query_id", "vec_id", "q_vec", "v_vec")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )
