"""Dedup (exact / jaccard / minhash / simhash) and ANN similarity ops."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from textalyzer_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from textalyzer_spark.operators.similarity import cosine_topk, lsh_cosine_topk


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [("a", "same text"), ("b", "same text"), ("c", "other text")],
        "doc_id string, text string",
    )
    out = {r["keep_id"]: r["n_docs"] for r in exact_dedup(df).collect()}
    assert out == {"a": 2, "c": 1}


def _near_dup_corpus(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    other = "one two three four five six seven eight nine ten"
    return spark.createDataFrame(
        [("a", base), ("b", near), ("c", other)], "doc_id string, text string"
    )


def test_ngram_jaccard(spark):
    out = ngram_jaccard_pairs(_near_dup_corpus(spark), k=3, threshold=0.3).collect()
    assert len(out) == 1
    r = out[0]
    # 8 shingles each, 7 shared → 7/9
    assert (r["doc_a"], r["doc_b"]) == ("a", "b")
    assert r["jaccard"] == pytest.approx(round(7 / 9, 4))


def test_minhash_identical_signatures(spark):
    df = spark.createDataFrame(
        [("a", "the quick brown fox jumps"), ("b", "the quick brown fox jumps")],
        "doc_id string, text string",
    )
    sigs = {r["doc_id"]: r["signature"] for r in minhash_signatures(df, k=2).collect()}
    assert sigs["a"] == sigs["b"]
    assert len(sigs["a"]) == 64


def test_minhash_lsh_finds_near_dups(spark):
    out = minhash_lsh_pairs(_near_dup_corpus(spark), k=3, threshold=0.3).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [("a", "b")]
    assert out[0]["jaccard"] == pytest.approx(round(7 / 9, 4))


def test_minhash_lsh_recall_vs_exact(spark):
    # 30 docs: 10 near-dup pairs (high jaccard) + 10 unrelated
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(10):
        words = rng.sample(vocab, 30)
        rows.append((f"p{i}a", " ".join(words)))
        words2 = list(words)
        words2[-1] = rng.choice(vocab)
        rows.append((f"p{i}b", " ".join(words2)))
    for i in range(10):
        rows.append((f"u{i}", " ".join(rng.sample(vocab, 30))))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(df, k=3, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(df, k=3, threshold=0.5).collect()
    }
    assert lsh <= exact          # exact verification → perfect precision
    assert len(lsh) >= 0.8 * len(exact)  # S-curve recall at t=0.5 is ~0.93
    assert len(exact) >= 8


@pytest.mark.parametrize("bands", [0, 10, 128])
def test_lsh_bands_must_divide_num_hashes(spark, bands):
    """bands > num_hashes gives 0 rows per band (every doc shares
    every band's "" bucket, which the bucket guard then drops — all
    pairs silently lost), and a remainder leaves trailing hashes
    unused: both raise instead."""
    from textalyzer_spark.operators.incremental import (
        incremental_minhash_pairs,
        minhash_catalog,
    )

    df = _near_dup_corpus(spark)
    with pytest.raises(ValueError, match="bands must divide num_hashes"):
        minhash_lsh_pairs(df, k=3, num_hashes=64, bands=bands)
    catalog = minhash_catalog(df, k=3, num_hashes=64)
    with pytest.raises(ValueError, match="bands must divide num_hashes"):
        incremental_minhash_pairs(df, catalog, k=3, num_hashes=64, bands=bands)


def test_minhash_signature_kernels_agree(spark):
    """A catalog mixes signatures from the signature-only kernel
    (minhash_catalog) with those of the shingle+signature kernel
    (shingle_signatures, minhash_components): both must give
    the identical signature for every doc with >= k tokens, and no
    row for shorter docs. Short docs, repeated shingles and non-ASCII
    tokens included."""
    from textalyzer_spark.functions.tokenize import kgrams, tokenize_text
    from textalyzer_spark.operators.dedup import shingle_signatures
    from textalyzer_spark.operators.incremental import (
        minhash_catalog,
        minhash_components,
    )

    texts = [
        "",
        "solo",
        "two words",
        "exactly three words",
        "la la la la la la la la",  # one distinct shingle, repeated
        "the cat sat on the mat the cat sat on the mat again",
        "Ça déjà vu — naïve café Größe straße ΣΊΣΥΦΟΣ",
        "日本語 の テキスト も 同じ 署名 に なる べき",
        "emoji 🙂 tokens 🙂 repeat 🙂 tokens 🙂 repeat",
        "the cat sat on the mat the cat sat on the rug again",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    k, nh = 3, 16
    want_ids = {i for i, t in enumerate(texts) if len(tokenize_text(t)) >= k}
    assert 0 < len(want_ids) < len(texts)

    def sig_map(frame):
        return {
            r["doc_id"]: list(r["signature"])
            for r in frame.collect()
            if r["signature"] is not None
        }

    only = sig_map(minhash_catalog(df, k=k, num_hashes=nh))
    sets_df = shingle_signatures(df, k=k, num_hashes=nh).sets
    built = sig_map(sets_df)
    sets = sets_df.collect()
    comp = sig_map(
        minhash_components(df, k=k, num_hashes=nh, bands=4).catalog
    )
    assert set(only) == want_ids
    assert only == built == comp
    # the set side of the same rows: each doc's distinct shingles, once
    assert all(len(r["shingles"]) == len(set(r["shingles"])) for r in sets)
    assert {r["doc_id"]: set(r["shingles"]) for r in sets} == {
        i: set(kgrams(tokenize_text(texts[i]), k)) for i in want_ids
    }


def _spark_round4(x: float) -> float:
    """Spark's ``round(x, 4)`` on a double: HALF_UP on the double's
    shortest decimal repr (so 0.49995 rounds up, unlike Python's
    ``round``)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _ref_sets(rows, k):
    from textalyzer_spark.functions.tokenize import kgrams, tokenize_text

    sets = {d: set(kgrams(tokenize_text(t or ""), k)) for d, t in rows}
    return {d: s for d, s in sets.items() if s}


def _ref_pairs(sets, threshold):
    """Every pair with Spark-rounded Jaccard >= threshold, in plain
    Python: ``{(doc_a, doc_b): jaccard}``."""
    ids = sorted(sets)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter:
                j = _spark_round4(inter / len(sets[a] | sets[b]))
                if j >= threshold:
                    out[(a, b)] = j
    return out


def test_minhash_size_ratio_prune_loses_no_pair(spark):
    """The size-ratio prune runs before the intersect and must be
    lossless against round(j, 4) >= t. The boundary docs are nested
    prefixes of one 20,001-token doc: a 9,999-of-20,000 subset has
    j = 0.49995, which rounds up to 0.5 and is kept at t = 0.5, though
    its size ratio is below t (a prune of min/max >= t would lose it);
    9,998 of 20,000 rounds to 0.4999 and is dropped. One band per hash
    makes every pair with j >= 0.3 a candidate (miss odds 0.7^64)."""
    from itertools import product

    from textalyzer_spark.functions.tokenize import kgrams

    words = ["".join(p) for p in product("abcdefghijklmnopqrstuvwxyz", repeat=4)]
    big = words[:20001]  # 20,000 distinct 2-grams
    rows = [
        (1, " ".join(big)),
        (2, " ".join(big[:10000])),  # 9,999 of them: j = 0.49995
        (3, " ".join(big[:9999])),  # 9,998: j = 0.4999
        (4, " ".join(big[:14000])),
        (5, " ".join(words[30000:30010])),
        (6, " ".join(words[30000:30006] + words[40000:40004])),
        (7, " ".join(words[30000:30005] + words[40000:40005])),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    t = 0.5
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            df, k=2, num_hashes=64, bands=64, threshold=t
        ).collect()
    }
    want = _ref_pairs(_ref_sets(rows, 2), t)
    assert got == want
    assert want[(1, 2)] == 0.5 and (1, 3) not in want
    sizes = {d: len(kgrams(text.split(), 2)) for d, text in rows}
    assert sizes[2] < t * sizes[1]  # kept below the naive ratio bound


@pytest.mark.parametrize("batch_rows", [7, 8192])
def test_minhash_kernel_hostile_inputs(spark, batch_rows):
    """The columnar shingle-set kernel against kgrams(tokenize_text)
    sets in plain Python, over the inputs that take it off its ASCII
    fast path or across a slice seam: set contents and sizes,
    signatures (the affine permutations written out), and the
    verified Jaccard values. One partition of more rows than one
    kernel slice, with the hostile docs on both sides of the seam, at
    Arrow batches of 7 rows and of 8,192."""
    import random

    from textalyzer_spark.functions.hashing import md5_le8
    from textalyzer_spark.functions.tokenize import SLICE_ROWS
    from textalyzer_spark.operators.dedup import _P, _hash_params, shingle_signatures

    long_doc = " ".join(f"w{chr(97 + i % 26)}{chr(97 + i // 26 % 26)}x" for i in range(3000))
    hostile = [
        None,
        "",
        "solo",
        "two words",
        "  ,,, !! 42 ",
        "la la la la la la la la",  # one shingle, repeated
        "the cat sat on the mat the cat sat on the mat again",
        "ΟΔΥΣΣΕΥΣ ΣΟΦΟΣ ΚΑΙ ΠΟΛΥΤΡΟΠΟΣ ΑΝΗΡ ΟΔΥΣΣΕΥΣ ΣΟΦΟΣ",  # final sigma
        "Ça déjà vu — naïve café Größe straße ÉCOLE",
        "the cat’s toy is on the mat and the cat’s bed too",  # curly quote
        "the cat's toy is on the mat and the cat's bed too",
        long_doc,
        long_doc.replace("wabx", "zzzz"),
    ]
    rng = random.Random(5)
    filler = [
        " ".join(
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(6))
            for _ in range(rng.randint(0, 12))
        )
        for _ in range(SLICE_ROWS + 40)
    ]
    texts = hostile + filler[: SLICE_ROWS - 6] + hostile + filler[SLICE_ROWS - 6 :]
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1)
    k, nh = 3, 16
    want = _ref_sets(rows, k)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(batch_rows))
    try:
        built = shingle_signatures(df, k=k, num_hashes=nh)
        got = built.sets.collect()
        pairs = minhash_lsh_pairs(
            df, k=k, num_hashes=nh, bands=nh, threshold=0.0, shingle_sigs=built
        ).collect()
    finally:
        spark.conf.set(key, old)
    assert built.sets.count() == len(want)
    assert {r["doc_id"]: len(r["shingles"]) for r in got} == {
        d: len(s) for d, s in want.items()
    }
    assert {r["doc_id"]: set(r["shingles"]) for r in got} == want
    av, bv = _hash_params(nh, 42)
    assert {r["doc_id"]: list(r["signature"]) for r in got} == {
        d: [min((md5_le8(x) % _P * a + b) % _P for x in s) for a, b in zip(av, bv)]
        for d, s in want.items()
    }
    ref = _ref_pairs(want, 0.0)
    got_pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    assert all(ref[p] == j for p, j in got_pairs.items())
    # every pair at j >= 0.5 is a candidate in one of 16 one-hash bands
    # (miss odds 0.5^16 per pair), the curly/straight-quote twins and
    # the long-doc copies among them
    assert {p for p, j in ref.items() if j >= 0.5} <= set(got_pairs)
    assert (9, 10) in got_pairs and (11, 12) in got_pairs


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog"),
            ("b", "the quick brown fox jumps over the lazy dog"),
            ("c", "entirely unrelated words about spark engines here"),
        ],
        "doc_id string, text string",
    )
    hs = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert hs["a"] == hs["b"]
    assert hs["a"] != hs["c"]
    pairs = simhash_near_pairs(df, max_hamming=3).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs] == [("a", "b", 0)]


def _vec_corpus(spark, n=40, dim=8, seed=3):
    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return rows, spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _cos(u, v):
    dot = sum(x * y for x, y in zip(u, v))
    return dot / (math.sqrt(sum(x * x for x in u)) * math.sqrt(sum(x * x for x in v)))


def test_cosine_topk_matches_python(spark):
    rows, df = _vec_corpus(spark)
    queries = df.filter(F.col("vec_id") < 2).withColumnRenamed("vec_id", "query_id")
    out = cosine_topk(df, queries, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
    vecs = dict(rows)
    for qid in (0, 1):
        golden = sorted(
            ((i, round(_cos(vecs[qid], v), 4)) for i, v in rows if i != qid),
            key=lambda t: (-t[1], t[0]),
        )[:3]
        assert by_q[qid] == golden


def test_ivf_cosine_topk_recall(spark):
    from textalyzer_spark.operators.similarity import ivf_cosine_topk

    # clustered corpus: 4 gaussian-ish blobs so IVF cells mean something
    rng = random.Random(11)
    centers = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(4)]
    rows = []
    for i in range(120):
        c = centers[i % 4]
        rows.append((i, [x + rng.gauss(0, 0.1) for x in c]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 4).withColumnRenamed("vec_id", "query_id")
    exact = cosine_topk(df, queries, k=5).collect()
    approx = ivf_cosine_topk(df, queries, k=5, n_clusters=8, n_probe=3).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    assert len(approx_set & exact_set) >= 0.7 * len(exact_set)
    # scored cosines must be exact for whatever it returns
    exact_by_pair = {(r["query_id"], r["vec_id"]): r["cosine"] for r in exact}
    for r in approx:
        pair = (r["query_id"], r["vec_id"])
        if pair in exact_by_pair:
            assert r["cosine"] == exact_by_pair[pair]


def test_lsh_cosine_topk_recall(spark):
    rows, df = _vec_corpus(spark, n=100, dim=8)
    queries = df.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    exact = cosine_topk(df, queries, k=5).collect()
    approx = lsh_cosine_topk(df, queries, k=5, dim=8, n_bits=4, n_tables=8).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    # every returned neighbor must be correctly scored & a real vector
    assert len(approx_set & exact_set) >= 0.5 * len(exact_set)


def test_embedding_near_dup_lsh_precision_and_recall(spark):
    """The LSH-bucketed near-dup path: precision is exact by
    construction (every candidate is verified with the true cosine);
    recall vs the brute-force baseline follows the S-curve and must
    clear the configured target on planted near-duplicates."""
    import random

    from textalyzer_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
    )

    rng = random.Random(7)
    dim = 16
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(40)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v))
        # planted near-duplicate: tiny perturbation -> cosine ~0.999
        rows.append((1000 + i, [x + rng.gauss(0, 0.02) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    brute = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    lsh_rows = embedding_near_dup_pairs_lsh(
        df, threshold=0.95, dim=dim, n_bits=8, n_tables=4
    ).collect()
    lsh = {(r["vec_a"], r["vec_b"]) for r in lsh_rows}

    assert lsh <= brute  # exact precision: no false positives
    assert len(brute) >= 30  # the plant worked
    recall = len(lsh & brute) / len(brute)
    assert recall >= 0.9, f"recall {recall:.2f}"
    # plan shape: candidate generation is an equi-join, not a cartesian
    plan = embedding_near_dup_pairs_lsh(
        df, threshold=0.95, dim=dim, n_bits=8, n_tables=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_embedding_lsh_mega_bucket_guard(spark):
    """Planted boilerplate family (50 near-identical embeddings — all
    land whole in one bucket of every table): without the guard the
    verified output carries all f^2/2 family pairs (the blowup the
    guard exists for); with max_bucket_docs set, the mega-bucket is
    dropped while an ordinary small-bucket near-dup pair survives —
    demonstrating both the guard's necessity on duplicate-heavy
    corpora and the registered default's safety (None is only safe
    because the driver corpus has no such family)."""
    import random

    from textalyzer_spark.operators.similarity import (
        embedding_near_dup_pairs_lsh,
    )

    rng = random.Random(7)

    def vec(base=None, eps=0.0):
        if base is None:
            return [rng.uniform(-1.0, 1.0) for _ in range(16)]
        return [x + rng.uniform(-eps, eps) for x in base]

    fam_base = vec()
    rows = [(i, vec(fam_base, 1e-6)) for i in range(50)]
    pair_base = vec()
    rows += [(100, vec(pair_base, 1e-6)), (101, vec(pair_base, 1e-6))]
    rows += [(200 + i, vec()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    kw = dict(threshold=0.95, dim=16, n_bits=4, n_tables=16)
    un = embedding_near_dup_pairs_lsh(df, **kw).collect()
    fam_pairs = [r for r in un if r.vec_a < 50 and r.vec_b < 50]
    assert len(fam_pairs) == 50 * 49 // 2  # f^2/2 blowup, all verified

    gd = embedding_near_dup_pairs_lsh(df, max_bucket_docs=20, **kw).collect()
    gset = {(r.vec_a, r.vec_b) for r in gd}
    assert (100, 101) in gset              # small buckets untouched
    assert not any(a < 50 and b < 50 for a, b in gset)  # family dropped


def test_minhash_bucket_cap_contract_batch_path(spark):
    """``max_bucket_docs`` on ``minhash_lsh_pairs``: a bucket of exactly
    ``cap`` docs keeps its pairs, one of ``cap + 1`` forms none, and
    ``None`` keeps every pair. Identical docs share a bucket in every
    band, so each family is one bucket per band."""
    fam_a = "shared boilerplate footer text about cookies and privacy terms"
    fam_b = "another repeated banner about newsletter signup and offers"
    df = spark.createDataFrame(
        [(i, fam_a) for i in (1, 2, 3)]
        + [(i, fam_b) for i in (11, 12, 13, 14)]
        + [(21, "a lone document about tide pools and kelp forests")],
        "doc_id bigint, text string",
    )
    kw = dict(k=3, num_hashes=16, bands=4, threshold=0.5)

    def pairs(cap):
        return {
            (r.doc_a, r.doc_b)
            for r in minhash_lsh_pairs(df, max_bucket_docs=cap, **kw).collect()
        }

    a_pairs = {(1, 2), (1, 3), (2, 3)}
    b_pairs = {(a, b) for a in (11, 12, 13, 14) for b in (11, 12, 13, 14) if a < b}
    assert pairs(3) == a_pairs  # 3 docs at cap 3 kept, 4 docs dropped
    assert pairs(4) == a_pairs | b_pairs
    assert pairs(None) == a_pairs | b_pairs


def test_minhash_bucket_cap_contract_cross_path(spark):
    """``max_bucket_docs`` on the catalog x batch path counts catalog
    and batch rows of a bucket together: two identical docs in the
    catalog and two in the batch form no pair at ``cap=3``, though
    each side alone is under the cap; at ``cap=4`` (exactly the
    bucket's size) and at ``None`` all four cross pairs are kept. A
    small bucket beside it is untouched by the cap."""
    from textalyzer_spark.operators import incremental as inc

    fam = "shared boilerplate footer text about cookies and privacy terms"
    pair = "a lone document about tide pools and kelp forests at dawn"
    old = spark.createDataFrame(
        [(1, fam), (2, fam), (3, pair)], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [(11, fam), (12, fam), (13, pair)], "doc_id bigint, text string"
    )
    kw = dict(k=3, num_hashes=16, seed=42)
    cat = inc.minhash_catalog(old, **kw)

    def pairs(cap):
        out = inc.incremental_minhash_pairs(
            new, cat, bands=4, threshold=0.5, max_bucket_docs=cap, **kw
        ).collect()
        return {(r.doc_old, r.doc_new) for r in out}

    fam_pairs = {(1, 11), (1, 12), (2, 11), (2, 12)}
    assert pairs(3) == {(3, 13)}
    assert pairs(4) == fam_pairs | {(3, 13)}
    assert pairs(None) == fam_pairs | {(3, 13)}


def test_minhash_bucket_cap_lives_only_in_lsh_candidates():
    """The MinHash bucket cap (``<= max_bucket_docs``) has one home,
    ``dedup.lsh_candidates``, shared by the batch, incremental and
    streaming paths. The embedding guards are exempt: their blocked
    verify is of another shape. Static scan; no Spark session."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "textalyzer_spark"
    homes = {
        ("operators/dedup.py", "lsh_candidates"),
        ("operators/similarity.py", "embedding_near_dup_pairs_lsh"),
        ("operators/incremental.py", "embedding_components"),
    }
    cap = re.compile(r"<=\s*max_bucket_docs\b|between\([^)]*max_bucket_docs")
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        src = path.read_text(encoding="utf-8")
        funcs = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for m in cap.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            owners = {name for lo, hi, name in funcs if lo <= line <= hi}
            if not any((rel, o) in homes for o in owners):
                hits.append(f"{rel}:{line}: {m.group(0)} in {sorted(owners)}")
    assert not hits, "bucket cap outside lsh_candidates:\n" + "\n".join(hits)


def test_operators_tolerate_empty_and_tiny_corpora(spark):
    """Every family returns an empty/valid result on a 0-row input,
    and IVF trains fewer cells than n_clusters on a tiny corpus
    instead of crashing — edge a real pipeline hits on an empty
    partition or a heavily filtered day."""
    import textalyzer_spark.operators.dedup as dd
    import textalyzer_spark.operators.similarity as sim
    import textalyzer_spark.operators.tokens as tk

    docs = spark.createDataFrame([], "doc_id bigint, text string")
    emb = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    q = emb.withColumnRenamed("vec_id", "query_id")
    assert dd.minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=4).count() == 0
    assert tk.winnow_near_dup_pairs(docs).count() == 0
    assert sim.ivf_cosine_topk(emb, q).count() == 0
    assert sim.cosine_topk(emb, q).count() == 0

    # tiny corpus: 5 vectors < n_clusters=16
    rows = [(i, [float(i + j) for j in range(8)]) for i in range(5)]
    tiny = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    tq = tiny.filter("vec_id = 0").withColumnRenamed("vec_id", "query_id")
    out = sim.ivf_cosine_topk(tiny, tq, k=3, n_clusters=16, n_probe=4)
    assert 0 < out.count() <= 3

    # smaller still: 3 and 2 vectors — FEWER trained cells than
    # n_probe=4, which crashed _probe_cells before the clamp (probe
    # repeat counts must shrink with the centroid count)
    for n in (3, 2):
        t = spark.createDataFrame(rows[:n], "vec_id bigint, embedding array<double>")
        tq = t.filter("vec_id = 0").withColumnRenamed("vec_id", "query_id")
        out = sim.ivf_cosine_topk(t, tq, k=3, n_clusters=16, n_probe=4)
        assert out.count() == n - 1  # all non-self neighbors found


def test_ivf_sample_unbiased_on_id_skewed_corpus(spark):
    """ids clustered by source: ids 0..299 one tight family (source
    A), ids 10_000+ diverse (source B). The old smallest-id sample
    would train every centroid on source A alone; the hash-ordered
    md5(vec_id) sample is uncorrelated with id assignment, so it spans
    both sources and the diverse source spreads across many cells
    instead of funneling through centroids it never trained."""
    import random

    import numpy as np

    import textalyzer_spark.operators.similarity as sim
    from pyspark.sql import functions as F

    rng = random.Random(11)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    rows = [
        (i, [x + rng.uniform(-1e-3, 1e-3) for x in base]) for i in range(300)
    ]
    rows += [
        (10_000 + i, [rng.uniform(-1, 1) for _ in range(16)])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    v = df.select("vec_id", F.col("embedding").alias("vec"))

    srows = (
        v.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(256)
        .collect()
    )
    n_b = sum(1 for r in srows if r.vec_id >= 10_000)
    # the sample spans both sources (~half each); the smallest-id
    # sample would have n_b == 0
    assert 64 <= n_b <= 192

    cents = sim._kmeans_fit_sample(
        np.stack([np.asarray(r.vec, dtype=np.float64) for r in srows]), 16, 3
    )
    assigned = sim._assign_nearest(v, cents)
    b_pops = {
        r["cluster"]: r["n"]
        for r in assigned.filter("vec_id >= 10000")
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # bounded-factor cell balance for the diverse source: spread over
    # many cells, largest cell well under the whole source
    assert len(b_pops) >= 8
    assert max(b_pops.values()) <= 150


def test_cosine_topk_query_collect_guard(spark):
    """cosine_topk collects the query table to the driver; the bound
    is now enforced — an oversized query set fails fast with guidance
    instead of silently OOMing the driver."""
    import pytest

    import textalyzer_spark.operators.similarity as sim

    rows = [(i, [float(i + j) for j in range(4)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = df.withColumnRenamed("vec_id", "query_id")
    with pytest.raises(ValueError, match="lsh_cosine_topk"):
        sim.cosine_topk(df, q, k=2, max_queries=5)
    # under the bound the same call succeeds
    assert sim.cosine_topk(df, q.limit(3), k=2, max_queries=5).count() == 6


def test_cosine_topk_query_byte_bound(spark):
    """The driver-collect guard is a BYTES budget, not a row count:
    few rows of very wide vectors must trip it just like many rows of
    narrow ones (100k x dim-512 is ~400 MB — a row-only cap admitted
    it)."""
    import pytest

    import textalyzer_spark.operators.similarity as sim

    # high-dim, tiny row count: 4 rows x dim 64 = 256 cells > 100
    wide = [(i, [float(i + j) for j in range(64)]) for i in range(4)]
    dfw = spark.createDataFrame(wide, "vec_id bigint, embedding array<double>")
    qw = dfw.withColumnRenamed("vec_id", "query_id")
    with pytest.raises(ValueError, match="cells"):
        sim.cosine_topk(dfw, qw, k=2, max_queries=100, max_query_cells=100)
    # low-dim, more rows: 8 rows x dim 4 = 32 cells — same budget passes
    narrow = [(i, [float(i + j) for j in range(4)]) for i in range(8)]
    dfn = spark.createDataFrame(narrow, "vec_id bigint, embedding array<double>")
    qn = dfn.withColumnRenamed("vec_id", "query_id")
    out = sim.cosine_topk(dfn, qn, k=2, max_queries=100, max_query_cells=100)
    assert out.count() == 16


def test_incremental_embedding_component_maintenance(spark):
    """Embedding-catalog analog of the minhash/simhash maintenance
    tests: planted on a 2D rotation chain — A at 0 deg, B at 15 deg
    (cos 0.966 >= 0.95), C at 30 deg (cos(B,C) 0.966, cos(A,C) 0.866
    < 0.95) — so snapshot-1 A~B merges with batch C~B through the
    carried label edge, never directly A~C."""
    import math

    from textalyzer_spark.operators import incremental as inc

    def vec(theta_deg, dim=8):
        t = math.radians(theta_deg)
        v = [0.0] * dim
        v[0], v[1] = math.cos(t), math.sin(t)
        return v

    far = [0.0] * 8
    far[2] = 1.0
    snap1 = spark.createDataFrame(
        [(0, vec(0)), (2, vec(15)), (30, far)],
        "vec_id bigint, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [(101, vec(30)), (131, [0.0] * 7 + [1.0])],
        "vec_id bigint, embedding array<double>",
    )
    kw = dict(threshold=0.95, dim=8, n_bits=2, n_tables=8, seed=7)
    cat = inc.embedding_components(snap1, **kw).catalog
    assert {r["vec_id"]: r["component"] for r in cat.collect()} == {
        0: 0, 2: 0, 30: 30,
    }
    labels, nxt = inc.embedding_components(batch, cat, **kw)
    lab = {r["doc_id"]: r["component"] for r in labels.collect()}
    assert lab == {0: 0, 2: 0, 101: 0, 30: 30, 131: 131}
    rows = {r["vec_id"]: r["component"] for r in nxt.collect()}
    assert rows == lab
    assert nxt.filter("embedding IS NULL").count() == 0


# --------------------------------------------------------------------------
# SemDeDup (semantic clustering + intra-cluster near-dup pairs)
# --------------------------------------------------------------------------


def _planted_semantic_corpus(spark):
    """Two tight semantic clusters in R^8 plus isolated noise: ids
    0-3 are jittered copies of one direction, 10-13 of an orthogonal
    one, 20/21 isolated."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = np.array([1.0, 0, 0, 0, 0, 0, 0, 0])
    b = np.array([0, 1.0, 0, 0, 0, 0, 0, 0])
    rows = []
    for i in range(4):
        rows.append((i, (a + rng.normal(0, 0.01, 8)).tolist()))
    for i in range(4):
        rows.append((10 + i, (b + rng.normal(0, 0.01, 8)).tolist()))
    rows.append((20, np.full(8, 0.35).tolist()))
    rows.append((21, (-a + b).tolist()))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_semdedup_groups_planted_clusters(spark):
    from textalyzer_spark.operators.near_dedup import near_dedup
    from textalyzer_spark.operators.similarity import semdedup_pairs

    emb = _planted_semantic_corpus(spark)
    # 2 centroids align with the two planted directions; more cells
    # may SPLIT a group across cells (recall < 1 by design — the
    # subset-of-brute property below is the guarantee that holds at
    # any n_clusters)
    pairs = semdedup_pairs(
        emb, threshold=0.95, n_clusters=2, sample_size=16
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    out = near_dedup(emb, pairs=pairs, id_col="vec_id").collect()
    comp = {r["doc_id"]: r["component"] for r in out}
    keep = {r["doc_id"]: r["keep"] for r in out}
    assert len({comp[i] for i in range(4)}) == 1  # cluster A collapses
    assert len({comp[10 + i] for i in range(4)}) == 1  # cluster B collapses
    assert comp[0] != comp[10]  # semantically distinct groups stay apart
    assert comp[20] == 20 and comp[21] == 21  # noise is singleton
    # exactly one survivor per component, the min id
    assert keep[0] and not any(keep[i] for i in (1, 2, 3))
    assert keep[10] and not any(keep[10 + i] for i in (1, 2, 3))
    assert keep[20] and keep[21]


def test_semdedup_mega_cluster_blocks_bounded(spark):
    """The n_clusters∝corpus rule's safety net: even when the
    quantizer funnels (nearly) the whole corpus into ONE cluster, the
    per-cluster block nesting splits it into ceil(n_c / block_size)
    hash blocks — the largest task stays ~block_size rows, never the
    cluster. (Compute is still O(n_c^2) by the paper's semantics —
    scaling n_clusters with the corpus is what bounds THAT; this pins
    that no single task concentrates it.)"""
    from textalyzer_spark.operators.similarity import _cluster_blocks

    n, bs = 4000, 256
    assigned = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("vec"),
        F.lit(0).cast("int").alias("cluster"),
    )
    blocked = _cluster_blocks(assigned, block_size=bs)
    sizes = [len(r["items"]) for r in blocked.collect()]
    assert len(sizes) == -(-n // bs)  # 16 blocks, not one mega task
    assert sum(sizes) == n
    assert max(sizes) <= 2 * bs  # xxhash64-balanced, no block ~ cluster


def test_seed_sample_prefilter_is_exact_with_fallback(spark):
    """The '0'-nibble pre-filter never changes the quantizer sample:
    on a corpus with >= sample_size hashes in the filtered slice it
    equals the unfiltered top-N by construction; on a small corpus the
    fallback re-runs unfiltered."""
    from textalyzer_spark.operators.similarity import _seed_sample

    h = F.md5(F.col("vec_id").cast("string"))
    v = spark.range(20000).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("vec")
    )
    got = [r["vec_id"] for r in _seed_sample(v, 256)]
    want = [
        r["vec_id"] for r in v.orderBy(h, "vec_id").limit(256).collect()
    ]
    assert got == want
    small = v.filter(F.col("vec_id") < 300)  # slice holds < 256 '0'-hashes
    got_s = [r["vec_id"] for r in _seed_sample(small, 256)]
    want_s = [
        r["vec_id"] for r in small.orderBy(h, "vec_id").limit(256).collect()
    ]
    assert got_s == want_s and len(got_s) == 256


def test_semdedup_pairs_match_brute_within_cluster(spark):
    """Every semdedup pair must also be a brute-force pair (same
    threshold, same rounding) — clustering only PRUNES candidates,
    never invents them."""
    from textalyzer_spark.operators.similarity import (
        embedding_near_dup_pairs,
        semdedup_pairs,
    )

    emb = _planted_semantic_corpus(spark)
    sem = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in semdedup_pairs(
            emb, threshold=0.9, n_clusters=4, sample_size=16
        ).collect()
    }
    brute = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    assert sem <= brute
    assert sem  # and it found the planted duplicates


def test_semdedup_empty_corpus(spark):
    from textalyzer_spark.operators.similarity import semdedup_pairs

    emb = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert semdedup_pairs(emb).count() == 0


def test_semdedup_mega_cluster_blocks_bound_task_size(spark):
    """All vectors in ONE semantic cluster with block_size 4: the
    per-cluster blocking must still find every pair across block
    boundaries (the diagonal-and-upper block join is exhaustive
    within a cluster)."""
    import numpy as np

    from textalyzer_spark.operators.similarity import (
        embedding_near_dup_pairs,
        semdedup_pairs,
    )

    rng = np.random.default_rng(11)
    base = np.array([1.0, 1.0, 0, 0])
    rows = [
        (i, (base + rng.normal(0, 0.005, 4)).tolist()) for i in range(24)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    sem = {
        (r["vec_a"], r["vec_b"])
        for r in semdedup_pairs(
            emb, threshold=0.99, n_clusters=1, sample_size=24, block_size=4
        ).collect()
    }
    brute = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.99).collect()
    }
    assert sem == brute  # one cluster -> no pruning -> exact equality


def test_minhash_kernels_tolerate_all_short_doc_batches(spark):
    """A NON-empty batch whose docs are all too short for one
    k-shingle must yield zero rows, not an Arrow conversion error:
    pandas' default float64 dtype for an empty column is not
    convertible to list<int64> (NumPyConverter) — hit by streaming
    catalog maintenance on tiny micro-batches (round 8). The
    per-document feature-count kernel's callers run on the same
    batch: shingle counts are empty, tf-idf and DSIR still see the
    one- and two-token docs."""
    import textalyzer_spark.operators.dedup as dd
    from textalyzer_spark.operators.keywords import tfidf_topk_terms
    from textalyzer_spark.operators.selection import dsir_weights
    from textalyzer_spark.operators.shingles import token_shingle_duplicates

    docs = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "x")], "doc_id bigint, text string"
    )
    assert dd.minhash_signatures(docs, k=3, num_hashes=8).count() == 0
    built = dd.shingle_signatures(docs, k=3, num_hashes=8)
    assert built.sets.count() == 0
    assert built.signatures.count() == 0
    assert dd.minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=4).count() == 0
    assert token_shingle_duplicates(docs, k=3).count() == 0
    assert {
        (r["doc_id"], r["tok"], r["tf"])
        for r in tfidf_topk_terms(docs, k=5).collect()
    } == {(1, "a", 1), (1, "b", 1), (3, "x", 1)}
    feats = {
        r["doc_id"]: r["n_feats"]
        for r in dsir_weights(docs, F.col("doc_id") == 1, n_buckets=16).collect()
    }
    assert feats == {1: 3, 2: 0, 3: 1}


def test_doc_shingle_counts_matches_occurrence_groupby(spark):
    """token_shingle_duplicates' kernel pre-count (round 8): the
    per-(doc, shingle) occurrence rows must reproduce the definitional
    per-occurrence shingles -> groupBy(shingle) roll-up exactly —
    n_occurrences as a SUM of per-doc counts, n_docs as a plain count
    of the one-per-doc rows (replacing countDistinct). The reference
    shingles are built here in plain Python, with the k-gram join
    written out."""
    from collections import Counter

    from pyspark.sql import functions as F

    from textalyzer_spark.functions.tokenize import tokenize_text
    from textalyzer_spark.operators.shingles import (
        doc_feature_counts,
        token_kgrams,
        token_shingle_duplicates,
    )

    rows = [
        (1, "a b c a b c a b"),      # repeated shingles within one doc
        (2, "a b c d e"),
        (3, "x y"),                  # too short for k=3
        (4, "a b c"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["shingle"],): (r["n_occurrences"], r["n_docs"])
        for r in token_shingle_duplicates(df, k=3).collect()
    }
    # one (doc_id, shingle) per occurrence, then the roll-up
    occurrences = [
        (doc_id, " ".join(toks[i : i + 3]))
        for doc_id, text in rows
        for toks in [tokenize_text(text)]
        for i in range(len(toks) - 2)
    ]
    n_occ = Counter(sh for _, sh in occurrences)
    n_docs = Counter(sh for _, sh in set(occurrences))
    ref = {(sh,): (n_occ[sh], n_docs[sh]) for sh in n_occ if n_docs[sh] > 1}
    assert got == ref and len(got) > 0
    # the kernel emits ONE row per (doc, shingle): "a b c" appears in
    # docs 1, 2, 4 -> exactly 3 rows for it
    assert (
        doc_feature_counts(df, token_kgrams(3))
        .filter(F.col("feature") == "a b c")
        .count()
        == 3
    )
