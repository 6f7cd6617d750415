"""Learned byte-pair-encoding token counting (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units" — the
public BPE algorithm).

Replaces the fixed "BPE-ish regex" estimator (tokens.token_counts)
with REAL learned merges: train the top-N merge rules on the corpus,
then count tokens under the learned merge table.

Pinned semantics (mirrored verbatim by the DuckDB oracle twin):

* pre-tokens ("words") are lowercased whitespace-split runs; symbols
  are single characters, no end-of-word marker;
* a word's working state is the string ``" s1 s2 ... sk "`` (space-
  joined symbols, space-padded) — merges are string replaces of
  ``" a b "`` with ``" ab "``, i.e. left-to-right non-overlapping
  replace-ALL (Python ``str.replace`` == DuckDB ``replace``);
* training: per iteration, count every adjacent symbol position over
  the (frequency-capped) vocabulary weighted by word frequency, pick
  the pair with the highest total (tie -> lexicographically smallest
  (a, b); UTF-8 byte order == codepoint order, so Python tuple
  comparison == DuckDB VARCHAR ORDER BY), apply it vocabulary-wide as
  ONE replace-all, record the rule;
* application (any word, seen or unseen): replay the recorded rules
  in rank order, one replace-all each — exactly the sequence training
  applied to in-vocabulary words.

Scale design: the only distributed stages are one word-histogram
aggregation (hash shuffle with map-side partials; the distinct-word
histogram of even a 10^12-doc corpus is millions of rows, and the
``max_vocab`` frequency cap bounds the driver copy deterministically)
and the Arrow-batched counting pass (per-worker word cache — corpus
word reuse makes the apply amortize to a dict hit). Training runs on
the driver over the capped histogram with incremental pair-stat
updates (only words containing the merged pair are touched), the
standard implementation trick that makes n_merges iterations ~O(sum
of affected-word sizes) instead of O(n_merges x vocab).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from textalyzer_spark.functions.alphabet import WS_SPLIT


def _word_histogram(
    df: DataFrame, text_col: str, max_vocab: int | None
) -> DataFrame:
    """``(w, cnt)`` lowercased whitespace-token frequencies, capped to
    the ``max_vocab`` most frequent (tie -> lexicographically first) —
    a deterministic top-N so the oracle can replay the cap. The split
    class is the pinned cross-engine ``alphabet.WS_SPLIT`` — the SAME
    class the counting pass and the oracle use (Java/Python/RE2 ``\\s``
    all disagree on \\x0B and NBSP; ADVICE r5)."""
    # lower, split, explode, THEN drop empties: a flat row filter stays
    # in whole-stage codegen, unlike ws_tokens_col's array filter lambda
    words = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), WS_SPLIT)).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if max_vocab is not None:
        words = words.orderBy(F.col("cnt").desc(), F.col("w").asc()).limit(
            max_vocab
        )
    return words


def _syms(word: str) -> str:
    return " " + " ".join(word) + " "


def bpe_train(
    df: DataFrame,
    n_merges: int = 100,
    max_vocab: int | None = 50_000,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` merge rules from the corpus; returns
    them in rank order. One distributed histogram pass; the training
    loop runs on the driver over the capped histogram."""
    hist = [
        (r["w"], r["cnt"])
        for r in _word_histogram(df, text_col, max_vocab).collect()
    ]
    return bpe_train_from_histogram(hist, n_merges)


def bpe_train_from_histogram(
    hist: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """The driver training loop, separated for testability: classic
    BPE with incremental pair-stat maintenance — equal BY VALUE to a
    full per-iteration recount (pinned by a brute-force twin in
    tests), which is what the oracle's recursive CTE does.

    Two non-obvious points the tests pin:

    * a replace-all can leave occurrences of the merged pair behind
      (alternating overlap: ``a b a b a`` -> ``ab a b a``), so the
      pair's stats are diff-updated like any other pair and it MAY be
      chosen again at a later rank — never popped;
    * selection uses a lazy-deletion heap keyed ``(-total, a, b)``:
      max total, tie -> lexicographically smallest pair, identical to
      the oracle's ``ORDER BY total DESC, a, b LIMIT 1`` (UTF-8 byte
      order == codepoint order), without an O(#pairs) scan per rank.
    """
    import heapq
    from collections import Counter, defaultdict

    syms = {w: _syms(w) for w, _ in hist}
    cnt = dict(hist)
    stats: Counter = Counter()
    where: defaultdict = defaultdict(set)  # pair -> words (superset)

    def word_pairs(s: str):
        # split on the LITERAL separator space, never bare .split():
        # unicode .split() also breaks on \xa0/ , so a symbol
        # containing NBSP would vanish from the pair list and spawn a
        # phantom pair whose stats never decrease (it would then be
        # re-chosen every remaining rank). DuckDB's string_split(s,
        # ' ') is single-char too — this is the same pinned-class
        # rule as WS_SPLIT, one layer down.
        parts = [p for p in s.split(" ") if p]
        return [(parts[i], parts[i + 1]) for i in range(len(parts) - 1)]

    for w, c in hist:
        for p in word_pairs(syms[w]):
            stats[p] += c
            where[p].add(w)
    heap = [(-t, a, b) for (a, b), t in stats.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        nt, a, b = heap[0]
        cur = stats.get((a, b), 0)
        if cur != -nt or cur <= 0:
            heapq.heappop(heap)  # stale entry (lazy deletion)
            continue
        merges.append((a, b))
        pat, rep = f" {a} {b} ", f" {a}{b} "
        touched: set = set()
        for w in list(where[(a, b)]):
            old = syms[w]
            new = old.replace(pat, rep)
            if new == old:
                continue  # stale membership
            c = cnt[w]
            for p in word_pairs(old):
                stats[p] -= c
                touched.add(p)
            syms[w] = new
            for p in word_pairs(new):
                stats[p] += c
                touched.add(p)
                where[p].add(w)
        for p in touched:
            heapq.heappush(heap, (-stats[p], p[0], p[1]))
    return merges


def bpe_apply(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Segment one (already lowercased) word under the learned rules:
    replay each rule once, in rank order, as a replace-all."""
    s = _syms(word)
    for a, b in merges:
        pat = f" {a} {b} "
        if pat in s:
            s = s.replace(pat, f" {a}{b} ")
    # literal-space split (see word_pairs): a symbol may CONTAIN
    # unicode whitespace (NBSP inside a word) and must stay one token
    return [p for p in s.split(" ") if p]


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, n_words, n_bpe_tokens)`` — per-document token counts
    under a frozen learned merge table. Arrow-batched; the segmented
    length of each distinct word is cached per worker, so the apply
    cost amortizes to a dict lookup on natural-language corpora."""
    from collections.abc import Iterator

    import pandas as pd

    from textalyzer_spark.functions.alphabet import jvm_lower as _jl
    from textalyzer_spark.functions.tokenize import ws_tokens

    mg = list(merges)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}
        for pdf in batches:
            ids, n_words, n_toks = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                words = ws_tokens(_jl(text or ""))
                total = 0
                for w in words:
                    n = cache.get(w)
                    if n is None:
                        n = len(bpe_apply(w, mg))
                        cache[w] = n
                    total += n
                ids.append(doc_id)
                n_words.append(len(words))
                n_toks.append(total)
            yield pd.DataFrame(
                {"doc_id": ids, "n_words": n_words, "n_bpe_tokens": n_toks}
            )

    id_type = dict(df.dtypes).get(id_col, "string")
    return df.mapInPandas(
        run, f"doc_id {id_type}, n_words int, n_bpe_tokens int"
    )


def save_merges(merges: list[tuple[str, str]], path: str) -> None:
    """Persist a learned merge table as JSON (rank order preserved) —
    the deployment shape: train ONCE on a corpus sample, freeze, and
    count with the same table across every later batch/stream (a
    table retrained per batch would make token counts incomparable
    across snapshots)."""
    import json

    with open(path, "w", encoding="utf-8") as fh:
        json.dump([[a, b] for a, b in merges], fh, ensure_ascii=False)


def load_merges(path: str) -> list[tuple[str, str]]:
    """Load a :func:`save_merges` table, rank order preserved."""
    import json

    with open(path, encoding="utf-8") as fh:
        return [(a, b) for a, b in json.load(fh)]


def token_counts_bpe_learned(
    df: DataFrame,
    n_merges: int = 100,
    max_vocab: int | None = 50_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train-then-count in one call (the gate query entry):
    ``(doc_id, n_words, n_bpe_tokens)`` under merges learned from
    ``df`` itself."""
    merges = bpe_train(df, n_merges=n_merges, max_vocab=max_vocab,
                       text_col=text_col)
    return bpe_token_counts(df, merges, id_col=id_col, text_col=text_col)
