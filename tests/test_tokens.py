"""Token counting + winnowing fingerprint operators."""

from __future__ import annotations

from textalyzer_spark.operators.tokens import (
    token_counts,
    winnow_fingerprints,
    winnow_near_dup_pairs,
)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("d1", "Hello world, 42 times!")], "doc_id string, text string"
    )
    r = token_counts(df).collect()[0]
    assert r["n_ws_tokens"] == 4
    # bpe-ish: 'hello',' world',',',' 42',' times','!' → 6
    assert r["n_bpe_tokens"] == 6
    assert r["chars_per_bpe_token"] == round(22 / 6, 4)


def test_winnow_same_text_same_fingerprints(spark):
    df = spark.createDataFrame(
        [("a", "the quick brown fox jumps over the lazy dog"),
         ("b", "the quick brown fox jumps over the lazy dog"),
         ("c", "completely different content with other words")],
        "doc_id string, text string",
    )
    fp = winnow_fingerprints(df)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc["a"] == by_doc["b"]
    assert by_doc["a"] != by_doc["c"]
    assert len(by_doc["a"]) > 0


def test_winnow_shared_substring_guarantee(spark):
    # any shared substring of length >= k + window - 1 (= 11) must
    # produce at least one shared fingerprint
    shared = "abcdefghijklmnopq"  # 17 chars, well over the guarantee
    df = spark.createDataFrame(
        [("a", f"XXXX{shared}YYYY"), ("b", f"zz{shared}qq")],
        "doc_id string, text string",
    )
    pairs = winnow_near_dup_pairs(df, min_shared=1).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [("a", "b")]


def test_winnow_fingerprints_distinct(spark):
    """winnow_near_dup_pairs dropped its .distinct() in round 8 on
    the strength of this property: the kernel's np.unique makes
    (doc_id, fingerprint) rows globally distinct already — a repeated
    minimum inside one document must never yield duplicate rows."""
    df = spark.createDataFrame(
        # heavy internal repetition -> many windows share one minimum
        [("a", "abcabcabcabcabcabcabcabcabcabc"),
         ("b", "xyzxyzxyzxyzxyzxyzxyzxyzxyzxyz")],
        "doc_id string, text string",
    )
    rows = [(r["doc_id"], r["fingerprint"])
            for r in winnow_fingerprints(df).collect()]
    assert len(rows) == len(set(rows)) > 0


def test_winnow_short_doc_empty(spark):
    df = spark.createDataFrame([("tiny", "abc")], "doc_id string, text string")
    assert winnow_fingerprints(df).count() == 0


def test_kgram_batch_kernel_matches_reference():
    """The batch-flat int64 Mersenne kernel must produce EXACTLY the
    reference per-character rolling hash on randomized multiscript
    strings (including doc-boundary adjacency, empty/short docs, and
    max-codepoint chars) — the hash values feed the oracle-mirrored
    fingerprint join, so a single ulp of drift breaks the gate."""
    import random

    from textalyzer_spark.operators.tokens import (
        _kgram_hashes_batch,
        rolling_kgram_hashes,
    )

    rng = random.Random(99)
    texts = ["", "short", "exactly8", "x" * 7, "\U0010ffff" * 9,
             "Ο Οδυσσεύς ΜΕΓΑΣ κείμενο"]
    for _ in range(50):
        n = rng.randint(0, 300)
        texts.append(
            "".join(
                chr(
                    rng.choice(
                        [
                            rng.randint(32, 126),
                            rng.randint(0x370, 0x3FF),
                            rng.randint(0x4E00, 0x4F00),
                            rng.randint(0x10000, 0x10200),
                        ]
                    )
                )
                for _ in range(n)
            )
        )
    for t, arr in zip(texts, _kgram_hashes_batch(texts, 8)):
        ref = rolling_kgram_hashes(t, 8)
        got = [] if arr is None else [int(x) for x in arr]
        assert got == ref, (len(t), got[:3], ref[:3])


def test_kgram_batch_kernel_large_k():
    """k > 8 is valid (the winnowing literature commonly uses k=10-25
    character grams): the fold-every-3-terms cadence bounds the
    accumulator for ANY k, so the batch kernel must match the rolling
    reference beyond the old k<=8 assert."""
    import random

    from textalyzer_spark.operators.tokens import (
        _kgram_hashes_batch,
        rolling_kgram_hashes,
    )

    rng = random.Random(7)
    texts = ["", "tiny", "\U0010ffff" * 30]
    texts += [
        "".join(chr(rng.randint(32, 0x2FFF)) for _ in range(rng.randint(0, 120)))
        for _ in range(20)
    ]
    for k in (10, 17, 25):
        for t, arr in zip(texts, _kgram_hashes_batch(texts, k)):
            ref = rolling_kgram_hashes(t, k)
            got = [] if arr is None else [int(x) for x in arr]
            assert got == ref, (k, len(t))


def test_token_rules_defined_only_in_tokenize_module():
    """Each token rule and the MinHash permutation have one home. The
    whitespace-token rule, its JVM twin and the token k-gram join
    (``ws_tokens``, ``ws_tokens_col``, ``kgrams``) and the ASCII
    letter-run rule (``_ASCII_RUN``, ``ascii_letter_runs``) live in
    functions/tokenize.py; the MinHash affine permutation
    ``(a*x + b) mod (2^31 - 1)`` lives in operators/dedup.py, with its
    SQL twin in oracles.py. A re-inlined copy anywhere else in the
    engine is a second definition that can drift from the oracles'
    rule. Static scan; no Spark session.

    bpe's ``F.explode(F.split(F.lower(...), WS_SPLIT))`` word histogram
    lowercases and explodes before a row filter — a different rule —
    and does not match; neither does pii's ``[A-Za-z]{2,}`` e-mail
    top-level domain."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "textalyzer_spark"
    ws_homes = {"functions/tokenize.py", "functions/alphabet.py", "oracles.py"}
    rules = [
        (ws_homes, re.compile(r"re\.compile\(\s*WS_SPLIT\s*\)")),
        # F.filter(F.split(<arg with one nesting level>, WS_SPLIT ...
        (
            ws_homes,
            re.compile(r"F\.filter\(\s*F\.split\((?:[^()]|\([^()]*\))*,\s*WS_SPLIT"),
        ),
        (ws_homes, re.compile(r'" "\.join\(\s*toks\[')),
        # the ASCII letter run as a regex, and as byte arithmetic
        ({"functions/tokenize.py"}, re.compile(r"\[A-Za-z\]\+|\[a-zA-Z\]\+")),
        (
            {"functions/tokenize.py"},
            re.compile(r"""ord\(\s*["']a["']\s*\)|\|\s*0x20\b"""),
        ),
        # the Mersenne modulus of the permutation, by value or by name
        (
            {"operators/dedup.py", "oracles.py"},
            re.compile(r"\(\s*1\s*<<\s*31\s*\)\s*-\s*1|2147483647|%\s*\{?_P\b"),
        ),
    ]
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        src = path.read_text(encoding="utf-8")
        for homes, rule in rules:
            if rel in homes:
                continue
            for m in rule.finditer(src):
                line = src.count("\n", 0, m.start()) + 1
                hits.append(f"{rel}:{line}: {m.group(0)}")
    assert not hits, "inlined token or permutation rule:\n" + "\n".join(hits)
