"""Plan-shape regression tests: pushdown, pruning, codegen, broadcast
(SURVEY.md §4 — these properties ARE the 100 TB design; pin them)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from textalyzer_spark.operators.frequency import word_frequency
from textalyzer_spark.operators.similarity import cosine_topk
from textalyzer_spark.plans.inspect import (
    pushed_filters,
    read_schema_columns,
    wholestage_codegen_ids,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_filter_pushdown_reaches_scan(docs):
    q = word_frequency(docs.filter(F.col("lang") == "en"), "text")
    pf = " ".join(pushed_filters(q))
    assert "lang" in pf  # predicate pushed to parquet


def test_column_pruning(docs):
    # a 1-column projection must not read the whole 5-column table
    q = word_frequency(docs, "text")
    cols = read_schema_columns(q)
    assert cols == {"text"}

    q2 = word_frequency(docs.filter(F.col("lang") == "en"), "text")
    assert read_schema_columns(q2) == {"lang", "text"}


def test_frequency_is_wholestage_codegen(spark, docs):
    # JVM tokenizer path: the scan→explode→partial-agg pipeline must
    # run inside whole-stage codegen (no Python in the hot path).
    # AQE hides codegen markers in pre-execution explain output, so
    # inspect the plan with AQE off (execution behavior is identical).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = word_frequency(docs, "text")
        assert len(wholestage_codegen_ids(q, execute=False)) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_cosine_topk_corpus_never_shuffles(spark, docs):
    """The fused design: the query matrix ships in the task closure,
    so there is NO join in the plan at all — the corpus scan feeds the
    scoring MapInPandas directly and the only exchanges move the tiny
    per-partition top-k candidate set (window hash + final sort)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0).withColumnRenamed(
        "vec_id", "query_id"
    )
    q = cosine_topk(emb, queries, k=3)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert plan.count("Exchange") == 2  # candidate window + final sort
    # the scoring map sits BELOW both exchanges: corpus rows never move
    assert plan.rindex("MapInPandas") > plan.rindex("Exchange")


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lsh_dedup_family_has_no_cartesian(spark, docs):
    """Every bucketed near-dup operator must candidate-generate via an
    equi-join on derived keys — a CartesianProduct in any of these
    plans means the bucketing silently degenerated."""
    from textalyzer_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_near_pairs,
    )
    from textalyzer_spark.operators.duplication import duplicate_blocks
    from textalyzer_spark.operators.tokens import winnow_near_dup_pairs

    small = docs.limit(50)
    for q in (
        minhash_lsh_pairs(small, k=3, num_hashes=16, bands=4, threshold=0.3),
        simhash_near_pairs(small, max_hamming=3),
        winnow_near_dup_pairs(small, min_shared=2),
        duplicate_blocks(small, min_lines=2, resolve=False),
    ):
        assert "CartesianProduct" not in _executed_plan(q)


def test_minhash_verify_is_set_level(docs):
    """minhash_lsh_pairs verifies candidates against one row per
    document: the plan intersects shingle arrays and has no join,
    aggregate or exchange keyed on a shingle column (the per-shingle
    verify it replaced shuffled pairs x shingles rows)."""
    import re

    from textalyzer_spark.operators.dedup import minhash_lsh_pairs

    plan = _executed_plan(
        minhash_lsh_pairs(docs.limit(50), k=3, num_hashes=16, bands=4, threshold=0.3)
    )
    # n_inter is a generated column: one intersect per candidate, not
    # one per predicate and projection that reads it
    assert plan.count("array_intersect(") == 1
    for keyed in (
        r"Aggregate\(keys=\[[^\]]*shingle",
        r"hashpartitioning\([^)]*shingle",
        r"Join \[[^\]]*shingle",
    ):
        assert not re.search(keyed, plan), keyed


def _band_bucket_exchanges(df) -> int:
    """Exchanges keyed on ``(band, bucket)`` in the final plan of an
    executed query; a ReusedExchange reads the same shuffle and is not
    counted."""
    import re

    df.collect()
    final = _executed_plan(df).split("== Initial Plan ==")[0]
    return sum(
        1
        for line in final.splitlines()
        if re.search(r"Exchange hashpartitioning\(band#\d+, bucket#\d+", line)
        and "ReusedExchange" not in line
    )


def test_lsh_candidates_one_band_bucket_exchange(spark, docs):
    """The MinHash candidate stage moves each band row once: one
    ``(band, bucket)`` exchange feeds the occupancy count, the
    bucket-cap and one-sided filters and the pair join, on the batch
    path and on the catalog x batch path. Broadcast joins are off, as
    for a corpus too large to broadcast, where a count joined back to
    each side would shuffle the band rows again for every join."""
    from textalyzer_spark.operators.dedup import minhash_lsh_pairs
    from textalyzer_spark.operators.incremental import (
        _cross_pairs_from_sigs,
        minhash_catalog,
    )

    kw = dict(k=3, num_hashes=16)
    cat = minhash_catalog(docs.filter(F.col("doc_id") % 2 == 0), **kw)
    new = minhash_catalog(docs.filter(F.col("doc_id") % 3 == 0), **kw)
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        for q in (
            minhash_lsh_pairs(docs, bands=4, threshold=0.3, **kw),
            _cross_pairs_from_sigs(
                new.localCheckpoint(), cat.localCheckpoint(), 16, 4, 0.3, 1000
            ),
        ):
            assert _band_bucket_exchanges(q) == 1
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cross_pairs_compute_agreement_once(spark, docs):
    """The catalog x batch MinHash verify evaluates the interpreted
    signature-agreement ``zip_with`` once per candidate: est_jaccard
    is a generated column, so Catalyst cannot copy it into both the
    pushed-down join condition and the projection."""
    from textalyzer_spark.operators.incremental import (
        incremental_minhash_pairs,
        minhash_catalog,
    )

    kw = dict(k=3, num_hashes=16)
    cat = minhash_catalog(docs.filter(F.col("doc_id") % 2 == 0), **kw)
    q = incremental_minhash_pairs(
        docs.filter(F.col("doc_id") % 2 == 1), cat.localCheckpoint(),
        bands=4, threshold=0.3, **kw,
    )
    assert q.collect()
    final = _executed_plan(q).split("== Initial Plan ==")[0]
    assert final.count("zip_with(") == 1


def test_next_catalog_runs_no_python_kernel(spark, docs):
    """A maintenance step builds the batch's values once: the next
    catalog reads the value table the labels were computed from, so
    its executed plan has no Arrow/pandas kernel node (a second
    signature pass would show as one)."""
    from textalyzer_spark.operators.incremental import (
        embedding_components,
        minhash_components,
        simhash_components,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cases = (
        (minhash_components, docs, "doc_id", dict(k=3, num_hashes=16, bands=4)),
        (simhash_components, docs, "doc_id", dict(max_hamming=3)),
        (embedding_components, emb, "vec_id", dict(dim=64, n_bits=4, n_tables=4)),
    )
    for build, df, id_col, kw in cases:
        old = df.filter(F.col(id_col) % 2 == 0)
        new = df.filter(F.col(id_col) % 2 == 1)
        cat = build(old, **kw).catalog.localCheckpoint()
        nxt = build(new, cat, **kw).catalog
        assert nxt.count() == df.count()
        plan = _executed_plan(nxt)
        assert "MapInArrow" not in plan and "MapInPandas" not in plan, build


def test_signatures_run_in_arrow_batches_not_interpreted_hofs(spark, docs):
    """The engine rule: per-element array math must run as Arrow-batch
    numpy (mapInPandas/mapInArrow nodes), never as interpreted
    Catalyst higher-order functions (BENCH.md lesson). Pin the node
    type for each signature stage."""
    from textalyzer_spark.operators.dedup import minhash_signatures, simhash
    from textalyzer_spark.operators.similarity import _hyperplane_buckets

    small = docs.limit(20)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(20)
    for q in (
        minhash_signatures(small, k=3, num_hashes=16),
        simhash(small),
        _hyperplane_buckets(
            emb.withColumnRenamed("vec_id", "vid"), "vid", 64, 4, 2, 42
        ),
    ):
        plan = _executed_plan(q)
        # Spark 4 prints the Arrow node as MapInArrow (PythonMapInArrow
        # in Spark 3)
        assert "MapInPandas" in plan or "MapInArrow" in plan


def test_embedding_queries_prune_to_needed_columns(spark):
    """The embeddings table has (vec_id, embedding, label); similarity
    queries must not scan `label` — at 10^12 rows an unpruned float
    array table is the difference between reading 2 columns and 3."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["cosine_topk"](spark, SF)
    assert "label" not in read_schema_columns(q)


def test_embedding_near_dup_joins_block_table(spark):
    """The exact all-pairs baseline must cross-join the AGGREGATED
    block table (collect_list per hash block), never row-level vector
    pairs — the BNLJ's operands are both block aggregates and the
    numpy scorer sits above the join."""
    from textalyzer_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = embedding_near_dup_pairs(emb, threshold=0.35)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    assert plan.count("collect_list") >= 2  # both operands aggregated
    assert "MapInPandas" in plan
    assert plan.index("MapInPandas") < plan.index("NestedLoopJoin") or \
        "CartesianProduct" in plan  # scorer above the join


def _assert_row_local_scorer(plan: str) -> None:
    """The training side of a contamination plan: no Exchange, no join,
    and exactly one Python map node (the row-local scorer)."""
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.count("MapInArrow") + plan.count("MapInPandas") == 1


def test_contamination_broadcasts_benchmark(spark, docs):
    """The benchmark catalog is collected on the driver and shipped to
    the scorer, so the corpus side never shuffles: benchmarks are
    thousands of docs, the corpus 10^12 — a shuffle or join on the
    corpus side is the scale bug this pins against."""
    from textalyzer_spark.operators.dedup import contamination_stats

    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    _assert_row_local_scorer(
        contamination_stats(train, bench, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_sampling_is_zero_exchange_scan_filter(spark, docs):
    """hash_sample / the stratified keep decision is a pure function
    of the row — the plan must contain NO Exchange at all, so the
    sample composes with pushdown instead of forcing a shuffle."""
    from textalyzer_spark.operators.sampling import hash_sample

    plan = (
        hash_sample(docs, 0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_repetition_stats_is_single_pass(spark, docs):
    """Per-doc repetition signals never leave the row: zero Exchange
    operators (one Arrow pass over the scan)."""
    from textalyzer_spark.operators.quality import repetition_stats

    plan = (
        repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_pii_redaction_is_codegen_projection(spark, docs):
    """PII counting/masking is pure Catalyst regex codegen — no
    python workers (no ArrowEvalPython/MapInPandas in the plan) and
    no Exchange."""
    from textalyzer_spark.operators.pii import redact_pii

    plan = redact_pii(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_contamination_attribution_broadcasts_benchmark(spark, docs):
    """Same pin as contamination_stats for the attribution variant:
    the shingle → benchmark-doc table ships with the catalog, so one
    extra key must not add a corpus-side shuffle or join."""
    from textalyzer_spark.operators.dedup import contamination_by_benchmark

    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    _assert_row_local_scorer(
        contamination_by_benchmark(train, bench, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_streaming_stateless_twins_have_no_state_operator(spark, tmp_path, docs):
    """The round-6 streaming twins must stay STATELESS: no
    state-store operator in their streaming plans (unbounded per-doc
    state is how streaming contamination/sampling dies at 10^12
    docs; the contamination benchmark set rides in the Arrow-pass
    closure instead)."""
    from textalyzer_spark.streaming.jobs import (
        run_to_completion_foreach,
        streaming_contamination,
        streaming_pii_stats,
        streaming_stratified_sample,
    )

    inp = str(tmp_path / "in")
    spark.createDataFrame(
        [("d1", "some text about the quick brown fox")],
        "doc_id string, text string",
    ).write.parquet(inp)
    bench = docs.limit(3)
    for i, q in enumerate(
        (
            streaming_pii_stats(spark, inp),
            streaming_stratified_sample(spark, inp, {"en": 0.5}),
            streaming_contamination(spark, inp, bench, k=5),
        )
    ):
        ck = str(tmp_path / f"ck{i}")
        query = (
            q.writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        plan = query.lastProgress["sources"] if query.lastProgress else None
        # stateful operators report in lastProgress.stateOperators
        assert not (
            query.lastProgress and query.lastProgress["stateOperators"]
        ), f"twin {i} has state operators"


def test_incremental_maintenance_final_stage_is_clean(spark, docs):
    """The maintenance gate queries' final plans: no CartesianProduct
    and no SortMergeJoin anywhere — the label join broadcasts and
    every candidate join upstream is bucketed (materialized stages
    were audited at build time; this pins the observable plan)."""
    import __spark_entry__ as em

    for name in (
        "incremental_near_dup_groups",
        "incremental_simhash_groups",
        "incremental_embedding_groups",
    ):
        plan = (
            em.queries()[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_shard_plan_single_partition_only_for_offsets(spark, docs):
    """shard_plan's global rank: the corpus-side window partitions by
    the 256 hash-prefix buckets; exactly ONE SinglePartition exchange
    may appear — the O(256)-row bucket-offset window — never a global
    sort of the corpus."""
    from textalyzer_spark.operators.packing import shard_plan

    plan = (
        shard_plan(docs, shard_size=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange SinglePartition") <= 1
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan  # no global sort anywhere


def test_length_quantiles_never_single_partitions_corpus(spark, docs):
    """length_quantiles: every window is stratum- (or stratum+bucket-)
    partitioned — NO SinglePartition exchange at all (the offset
    window partitions by stratum), and the quantile-target join
    broadcasts."""
    from textalyzer_spark.operators.order_stats import length_quantiles

    plan = (
        length_quantiles(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_collocations_topk_avoids_global_sort(spark, docs):
    """The PMI top-k must be a TakeOrderedAndProject (partial top-k
    per partition), not a full Sort+Limit of the bigram-type table."""
    from textalyzer_spark.operators.keywords import collocations_pmi

    plan = (
        collocations_pmi(docs, min_count=5, k=50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_tfidf_topk_is_per_doc_window_no_cartesian(spark, docs):
    from textalyzer_spark.operators.keywords import tfidf_topk_terms

    plan = (
        tfidf_topk_terms(docs, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # the ranking window partitions by doc_id (parallel), so no
    # SinglePartition exchange feeds a Window operator
    assert "Exchange SinglePartition" not in plan


def test_semdedup_block_join_no_cartesian(spark):
    """semdedup_pairs: the intra-cluster block self-join is an equi
    join on cluster (plus the bx<=by band condition) — never a
    CartesianProduct over blocks or vectors."""
    from textalyzer_spark.operators.similarity import semdedup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = (
        semdedup_pairs(emb, threshold=0.35)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_span_dedup_plans_no_single_partition_no_python(spark):
    """Scale pins for the span-dedup family: pure JVM (no python
    stage) and no corpus-wide SinglePartition anywhere — spans build
    in per-doc windows, the first-occurrence pick is a min(struct)
    HASH agg (partial+final, so a boilerplate span in millions of
    docs combines map-side), and the incremental path adds only a
    hash join against the catalog."""
    from textalyzer_spark.operators.span_dedup import (
        incremental_span_dedup,
        span_catalog,
        span_dedup,
    )

    docs = spark.createDataFrame(
        [(i, "a\nb\nc\nd") for i in range(50)], "doc_id bigint, text string"
    )
    cat = span_catalog(docs.filter("doc_id < 25"), n=3)
    for df in (
        span_dedup(docs, n=3),
        incremental_span_dedup(docs.filter("doc_id >= 25"), cat, n=3),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "MapInPandas" not in plan
