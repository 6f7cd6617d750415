"""Incremental / cross-snapshot dedup vs a persisted catalog."""

from __future__ import annotations

from textalyzer_spark.operators import incremental as inc


def _batches(spark):
    """Batch 2 contains: one exact dup of batch 1 (doc 12), one
    near-dup of batch 1 (doc 13 ~ doc 2), one intra-batch exact dup
    pair (14/15), and one genuinely new doc (16)."""
    b1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
            (3, "completely different content about glaciers in patagonia"),
        ],
        "doc_id bigint, text string",
    )
    b2 = spark.createDataFrame(
        [
            (12, "the quick brown fox jumps over the lazy dog again and again"),
            (13, "lorem ipsum dolor sit amet consectetur adipiscing elit sed"),
            (14, "a brand new crawl page about deep sea vents"),
            (15, "a brand new crawl page about deep sea vents"),
            (16, "unique fresh text mentioning wind turbines in denmark"),
        ],
        "doc_id bigint, text string",
    )
    return b1, b2


def test_incremental_exact_two_batches(spark):
    b1, b2 = _batches(spark)
    cat = inc.exact_catalog(b1)
    assert cat.count() == 3
    surv = inc.incremental_exact_dedup(b2, cat)
    kept = {r["doc_id"] for r in surv.collect()}
    # 12 is an exact dup of batch 1 -> dropped; 14/15 collapse to 14;
    # 13 (near-dup, different bytes) and 16 survive the EXACT pass
    assert kept == {13, 14, 16}
    cat2 = inc.updated_exact_catalog(cat, surv)
    assert cat2.count() == 6  # catalog grows by the survivors
    # a third batch repeating a batch-2 survivor is now dropped too
    b3 = spark.createDataFrame(
        [(21, "a brand new crawl page about deep sea vents")],
        "doc_id bigint, text string",
    )
    assert inc.incremental_exact_dedup(b3, cat2).count() == 0


def test_incremental_minhash_two_batches(spark):
    b1, b2 = _batches(spark)
    cat = inc.minhash_catalog(b1, k=3, num_hashes=32, seed=42)
    out = inc.incremental_minhash_pairs(
        b2, cat, k=3, num_hashes=32, bands=8, threshold=0.5, seed=42
    ).collect()
    matches = {(r["doc_old"], r["doc_new"]): r["est_jaccard"] for r in out}
    # the exact dup matches its original with full signature agreement
    assert matches[(1, 12)] == 1.0
    # the near-dup matches doc 2 with high-but-sub-1 estimated jaccard
    assert (2, 13) in matches and 0.5 <= matches[(2, 13)] < 1.0
    # fresh docs match nothing in the catalog
    assert not any(new in (14, 15, 16) for (_, new) in matches)


def test_incremental_matches_oneshot_union(spark):
    """A doc dropped incrementally must be exactly a doc the one-shot
    exact_dedup over the union corpus would not keep (same md5 key,
    same keep-min-id)."""
    from pyspark.sql import functions as F

    from textalyzer_spark.operators.dedup import exact_dedup

    b1, b2 = _batches(spark)
    surv = inc.incremental_exact_dedup(b2, inc.exact_catalog(b1))
    union_keep = {
        r["keep_id"]
        for r in exact_dedup(b1.unionByName(b2)).collect()
    }
    inc_keep = {r["doc_id"] for r in surv.collect()}
    # every incremental survivor is a union-corpus keeper too
    assert inc_keep <= union_keep
    # and the union keepers not kept incrementally are exactly the
    # batch-1 representatives (already in the catalog)
    b1_ids = {r["doc_id"] for r in b1.select("doc_id").collect()}
    assert union_keep - inc_keep <= b1_ids


def test_catalog_snapshot_commit_protocol(spark, tmp_path):
    import os

    b1, b2 = _batches(spark)
    base = str(tmp_path / "catalog")
    n1 = inc.write_catalog_snapshot(inc.exact_catalog(b1), base)
    assert n1 == 1
    cat = inc.read_catalog(spark, base)
    surv = inc.incremental_exact_dedup(b2, cat)
    n2 = inc.write_catalog_snapshot(
        inc.updated_exact_catalog(cat, surv), base
    )
    assert n2 == 2
    assert inc.read_catalog(spark, base).count() == 6
    # an uncommitted (no _SUCCESS) snapshot is invisible to readers
    os.makedirs(f"{base}/snapshot=3")
    with open(f"{base}/snapshot=3/part-junk.parquet", "w") as fh:
        fh.write("torn write")
    assert inc.latest_catalog_snapshot(spark, base) == 2
    assert inc.read_catalog(spark, base).count() == 6
    # a foreign non-integer snapshot dir is skipped, not a crash
    # (VERDICT r5 nit 2) — even with a _SUCCESS marker inside
    os.makedirs(f"{base}/snapshot=tmp")
    with open(f"{base}/snapshot=tmp/_SUCCESS", "w") as fh:
        fh.write("")
    assert inc.latest_catalog_snapshot(spark, base) == 2
    assert inc.read_catalog(spark, base).count() == 6


def test_contamination_stats_planted(spark):
    """A training doc sharing a 5-token span with the benchmark is
    flagged with the exact occurrence fraction; clean docs report 0;
    short docs report NULL."""
    from textalyzer_spark.operators.dedup import contamination_stats

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            # 8 tokens; contains 'the quick brown fox jumps' (and 3
            # more contaminated 5-gram positions sliding through)
            (1, "once the quick brown fox jumps over everything"),
            (2, "completely clean text with many distinct tokens here"),
            (3, "tiny doc"),
            # one benchmark 5-gram twice: counted per occurrence
            (4, "the quick brown fox jumps and the quick brown fox jumps"),
            # NULL text has no tokens; a non-ASCII row takes
            # token_table's per-row fallback and still matches
            (5, None),
            (6, "Ça: the QUICK brown fox jumps"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r for r in contamination_stats(train, bench, k=5).collect()
    }
    assert len(out) == 6
    r1 = out[1]
    # tokens: once the quick brown fox jumps over everything -> 4
    # 5-grams; positions 2-4 ('the quick brown fox jumps',
    # 'quick brown fox jumps over') are benchmark spans
    assert r1["n_kgrams"] == 4
    assert r1["n_contaminated"] == 2
    assert r1["contamination_frac"] == 0.5
    assert out[2]["n_contaminated"] == 0
    assert out[2]["contamination_frac"] == 0.0
    assert out[3]["n_kgrams"] == 0
    assert out[3]["contamination_frac"] is None
    # 11 tokens -> 7 5-grams; 'the quick brown fox jumps' at 0 and 6
    assert out[4]["n_kgrams"] == 7
    assert out[4]["n_contaminated"] == 2
    assert out[4]["contamination_frac"] == 2 / 7
    assert (out[5]["n_kgrams"], out[5]["contamination_frac"]) == (0, None)
    # tokens: ça the quick brown fox jumps -> 2 5-grams, 1 benchmark span
    assert (out[6]["n_kgrams"], out[6]["n_contaminated"]) == (2, 1)


def test_incremental_simhash_two_batches(spark):
    b1, b2 = _batches(spark)
    cat = inc.simhash_catalog(b1)
    # short docs drift fast: a 1-token edit on a 10-token doc flips 9
    # bits (each bit is a majority vote over only ~10 token hashes),
    # so the fixture uses a wider radius than a real corpus would
    out = inc.incremental_simhash_pairs(b2, cat, max_hamming=12).collect()
    matches = {(r["doc_old"], r["doc_new"]): r["hamming"] for r in out}
    # the exact dup matches its original at distance 0
    assert matches[(1, 12)] == 0
    # the near-dup (one trailing token removed) is within the radius
    assert (2, 13) in matches and matches[(2, 13)] <= 12
    # fresh content matches nothing
    assert not any(new in (14, 15, 16) for (_, new) in matches)


def test_incremental_near_dup_component_maintenance(spark):
    """VERDICT r5 item 2: a chain A~B (snapshot 1) + B~C (snapshot 2)
    merges into ONE component across snapshots — B never appears in
    the new batch, so the merge can only happen through the catalog's
    carried-forward component label edge."""
    # k=3 shingles: J(A,B)=0.8, J(B,C)=0.5, J(A,C)=1/3
    A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    B = A + " lambda mu"
    C = "epsilon zeta eta theta iota kappa lambda mu nu xi"
    snap1 = spark.createDataFrame(
        [(1, A), (2, B), (30, "wholly unrelated text about volcano ash")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(101, C), (130, "another unrelated piece about tidal flats")],
        "doc_id bigint, text string",
    )
    # bands=32 -> 2 rows/band: a J=0.5 pair collides w.p. ~1-0.75^32
    # (the 4-row default would miss it ~36% of the time)
    kw = dict(k=3, num_hashes=64, bands=32, threshold=0.35, seed=42)
    cat = inc.minhash_components(snap1, **kw).catalog
    crows = {r["doc_id"]: r["component"] for r in cat.collect()}
    assert crows == {1: 1, 2: 1, 30: 30}
    # the cross edge set is exactly C~B (estimator over stored sigs);
    # C~A stays below threshold — the merge NEEDS the label edge
    cross = inc.incremental_minhash_pairs(
        batch, cat.select("doc_id", "signature"), **kw
    ).collect()
    assert {(r["doc_old"], r["doc_new"]) for r in cross} == {(2, 101)}
    labels, nxt = inc.minhash_components(batch, cat, **kw)
    lab = {r["doc_id"]: r["component"] for r in labels.collect()}
    assert lab == {1: 1, 2: 1, 101: 1, 30: 30, 130: 130}
    # catalog advance: old + new signatures, re-labeled to the merged
    # component mins
    nrows = {r["doc_id"]: r["component"] for r in nxt.collect()}
    assert nrows == lab
    assert nxt.filter("signature IS NULL").count() == 0


def test_contamination_by_benchmark_attribution(spark):
    """Stretch r5-8: each contaminated span is attributed to the
    benchmark doc it came from — per-benchmark decontamination."""
    from textalyzer_spark.operators.dedup import contamination_by_benchmark

    bench = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (200, "pack my box with five dozen liquor jugs"),
            # shares 'the quick brown fox jumps' with bench 100: each
            # hit on it fans out to both benchmark docs
            (300, "see the quick brown fox jumps high"),
        ],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "once the quick brown fox jumps over everything"),
            (2, "they pack my box with five dozen liquor jugs daily"),
            (3, "wholly clean text with no benchmark overlap at all"),
            # one bench-100 5-gram twice: counted per occurrence
            (4, "the quick brown fox jumps and the quick brown fox jumps"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        (r["doc_id"], r["bench_doc"]): r["n_overlap_kgrams"]
        for r in contamination_by_benchmark(train, bench, k=5).collect()
    }
    # doc 1 shares 2 of its 5-gram occurrences with bench 100, one of
    # them also with bench 300; doc 2 shares 4 with bench 200 only;
    # doc 3 appears nowhere; doc 4 repeats the 5-gram of 100 and 300
    assert out == {
        (1, 100): 2, (1, 300): 1, (2, 200): 4, (4, 100): 2, (4, 300): 2,
    }


def test_incremental_simhash_component_maintenance(spark):
    """Simhash-catalog analog of the minhash maintenance test: the
    snapshot-1 A~B component merges with a snapshot-2 C~B match into
    one cluster, through the carried-forward label edge (the fixture
    self-validates that C is within radius of B but NOT of A)."""
    from textalyzer_spark.operators.dedup import simhash

    A = ("the quick brown fox jumps over the lazy dog while seven "
         "wizards brew strong potions under a pale winter moon")
    B = A + " tonight again"
    C = B.replace("quick brown", "slow gray")
    snap1 = spark.createDataFrame(
        [(1, A), (2, B), (30, "wholly unrelated text about volcano ash")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(101, C), (130, "another unrelated piece about tidal flats")],
        "doc_id bigint, text string",
    )
    sh = {
        r["doc_id"]: r["simhash"]
        for r in simhash(snap1.unionByName(batch)).collect()
    }
    ham = lambda a, b: bin(sh[a] ^ sh[b]).count("1")  # noqa: E731
    H = 7  # measured: ham(1,2)=2, ham(2,101)=7, ham(1,101)=9
    # fixture self-check: the chain is a CHAIN at this radius
    assert ham(1, 2) <= H and ham(2, 101) <= H < ham(1, 101), (
        ham(1, 2), ham(2, 101), ham(1, 101)
    )
    cat = inc.simhash_components(snap1, max_hamming=H).catalog
    assert {r["doc_id"]: r["component"] for r in cat.collect()} == {
        1: 1, 2: 1, 30: 30,
    }
    labels, nxt = inc.simhash_components(batch, cat, max_hamming=H)
    lab = {r["doc_id"]: r["component"] for r in labels.collect()}
    assert lab == {1: 1, 2: 1, 101: 1, 30: 30, 130: 130}
    assert {r["doc_id"]: r["component"] for r in nxt.collect()} == lab


def test_incremental_quality_keep_prefers_cataloged_doc(spark):
    """Quality-aware keep over MAINTAINED components: the merged
    cross-snapshot cluster keeps its highest-quality member even when
    that member lives in the CATALOG (its text long gone — only the
    stored score decides)."""
    from textalyzer_spark.operators.near_dedup import quality_keep

    A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    B = A + " lambda mu"
    C = "epsilon zeta eta theta iota kappa lambda mu nu xi"
    snap1 = spark.createDataFrame(
        [(1, A), (2, B), (30, "wholly unrelated text about volcano ash")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(101, C), (130, "another unrelated piece about tidal flats")],
        "doc_id bigint, text string",
    )
    kw = dict(k=3, num_hashes=64, bands=32, threshold=0.35, seed=42)
    cat = inc.minhash_components(snap1, **kw).catalog
    # stored quality: the cataloged doc 2 is the best of the chain
    quality = spark.createDataFrame(
        [(1, 0.4), (2, 0.9), (30, 0.5), (101, 0.6), (130, 0.2)],
        "doc_id bigint, quality_score double",
    )
    labels = inc.minhash_components(batch, cat, **kw).labels
    out = {r["doc_id"]: (r["component"], r["keep"])
           for r in quality_keep(labels, quality).collect()}
    assert out[2] == (1, True)       # cataloged best survives
    assert out[1] == (1, False) and out[101] == (1, False)
    assert out[30] == (30, True) and out[130] == (130, True)


def _split_snapshots(spark, table, id_col):
    """The sf0.001 corpus table, its even-id snapshot and its odd-id
    batch."""
    from pyspark.sql import functions as F

    from __spark_entry__ import DEFAULT_SF_DIR

    df = spark.read.parquet(f"{DEFAULT_SF_DIR}/{table}.parquet")
    return (
        df,
        df.filter(F.col(id_col) % 2 == 0),
        df.filter(F.col(id_col) % 2 == 1),
    )


def _assert_maintained_equals_union(build, whole, old, new):
    """``build(new, build(old).catalog)`` labels the union corpus
    exactly like ``build(old ∪ new)``, on a fixture whose clusters
    cross the snapshot boundary."""
    union = {r["doc_id"]: r["component"] for r in build(whole).labels.collect()}
    step = build(new, build(old).catalog)
    assert {r["doc_id"]: r["component"] for r in step.labels.collect()} == union
    members: dict = {}
    for d, c in union.items():
        members.setdefault(c, set()).add(d % 2)
    assert sum(1 for parity in members.values() if parity == {0, 1}) >= 5


def test_simhash_maintenance_equals_union_build(spark):
    """SimHash banding and its cross join are recall-complete and the
    Hamming verify is exact, so snapshot-by-snapshot maintenance is
    the union build."""
    docs, old, new = _split_snapshots(spark, "documents", "doc_id")
    docs, old, new = (d.select("doc_id", "text") for d in (docs, old, new))

    def build(batch, catalog=None):
        return inc.simhash_components(batch, catalog, max_hamming=6)

    _assert_maintained_equals_union(build, docs, old, new)


def test_embedding_maintenance_equals_union_build(spark):
    """With no bucket cap, a pair that collides in the union build
    collides intra-snapshot or across the catalog join, and both
    verify with the same rounded cosine: maintenance is the union
    build."""
    emb, old, new = _split_snapshots(spark, "embeddings", "vec_id")
    kw = dict(threshold=0.35, dim=64, n_bits=4, n_tables=16, max_bucket_docs=None)

    def build(batch, catalog=None):
        return inc.embedding_components(batch, catalog, **kw)

    _assert_maintained_equals_union(build, emb, old, new)


def test_minhash_next_catalog_equals_union_signatures(spark):
    """The next MinHash catalog stores exactly the signatures a build
    over the union corpus stores (its labels may differ: cross edges
    use the estimator, intra edges the exact Jaccard)."""
    docs, old, new = _split_snapshots(spark, "documents", "doc_id")
    kw = dict(k=5, num_hashes=32, bands=8, threshold=0.1, seed=42)
    nxt = inc.minhash_components(
        new, inc.minhash_components(old, **kw).catalog, **kw
    ).catalog
    union = inc.minhash_components(docs, **kw).catalog

    def sigs(cat):
        return {r["doc_id"]: r["signature"] for r in cat.collect()}

    got = sigs(nxt)
    assert len(got) == docs.count()
    assert got == sigs(union)


def test_maintenance_protocol_lives_only_in_maintain():
    """The connected-components call and the ``!= component``
    label-edge filter have one home in incremental.py, ``_maintain``:
    the three family entry points only build values and pairs. Static
    scan; no Spark session."""
    import ast
    import pathlib
    import re

    src = pathlib.Path(inc.__file__).read_text(encoding="utf-8")
    funcs = [
        (n.lineno, n.end_lineno, n.name)
        for n in ast.walk(ast.parse(src))
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    rule = re.compile(r"connected_components\(|!=\s*F\.col\(\s*[\"']component")
    owners = []
    for m in rule.finditer(src):
        line = src.count("\n", 0, m.start()) + 1
        owners.append(
            (line, {name for lo, hi, name in funcs if lo <= line <= hi})
        )
    assert len(owners) == 2, owners
    assert all(o == {"_maintain"} for _, o in owners), owners


def test_gram_catalog_merge_equals_union(spark):
    """merge(cat(A), cat(B)) == cat(A ∪ B) exactly, and screening
    against the merged catalog == one-shot contamination_stats over
    the union benchmark (the growing-benchmark-suite workflow)."""
    from textalyzer_spark.operators.dedup import (
        benchmark_gram_catalog,
        contamination_from_catalog,
        contamination_stats,
        merge_gram_catalogs,
    )

    a = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "beta gamma delta epsilon")],
        "doc_id bigint, text string",
    )
    b = spark.createDataFrame(
        [(3, "gamma delta epsilon zeta")], "doc_id bigint, text string"
    )
    merged = merge_gram_catalogs(
        benchmark_gram_catalog(a, k=3), benchmark_gram_catalog(b, k=3)
    )
    union_cat = benchmark_gram_catalog(a.unionByName(b), k=3)
    assert sorted(r["shingle"] for r in merged.collect()) == sorted(
        r["shingle"] for r in union_cat.collect()
    )
    train = spark.createDataFrame(
        [(10, "beta gamma delta words here"), (11, "nothing shared at all")],
        "doc_id bigint, text string",
    )
    inc = {
        r["doc_id"]: tuple(r)[1:]
        for r in contamination_from_catalog(train, merged, k=3).collect()
    }
    one = {
        r["doc_id"]: tuple(r)[1:]
        for r in contamination_stats(train, a.unionByName(b), k=3).collect()
    }
    assert inc == one
    assert inc[10][1] > 0 and inc[11][1] == 0  # planted hit / clean


def test_contamination_catalog_k_mismatch_raises(spark):
    """ADVICE r7: a catalog of j-grams screened with k != j used to
    report every doc clean; the in-plan guard must fail loudly."""
    import pytest

    from textalyzer_spark.operators.dedup import (
        benchmark_gram_catalog,
        contamination_from_catalog,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id bigint, text string",
    )
    cat3 = benchmark_gram_catalog(docs, k=3)
    # matching k still works
    ok = contamination_from_catalog(docs, cat3, k=3).collect()
    assert ok[0]["n_contaminated"] > 0
    with pytest.raises(Exception, match="k mismatch"):
        contamination_from_catalog(docs, cat3, k=5).collect()


def test_contamination_catalog_cap_raises_on_driver(spark, monkeypatch):
    """A catalog over MAX_CATALOG_SHINGLES fails while the query is
    built, before a scoring task is planned."""
    import pytest

    from textalyzer_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id bigint, text string",
    )
    cat3 = dedup.benchmark_gram_catalog(docs, k=3)  # 4 shingles
    monkeypatch.setattr(dedup, "MAX_CATALOG_SHINGLES", 4)
    assert dedup.contamination_from_catalog(docs, cat3, k=3).count() == 1
    monkeypatch.setattr(dedup, "MAX_CATALOG_SHINGLES", 3)
    with pytest.raises(dedup.CatalogTooLarge, match="MAX_CATALOG_SHINGLES=3"):
        dedup.contamination_from_catalog(docs, cat3, k=3)
    with pytest.raises(ValueError):
        dedup.contamination_stats(docs, docs, k=3)
