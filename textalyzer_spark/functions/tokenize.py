"""Tokenizer: split on every non-alphabetic character, drop empties,
lowercase each token.

Parity target: the reference tokenizer at
/root/reference/textalyzer/src/frequency.rs:34-45 —
``text.split(|c| !c.is_alphabetic()) .filter(nonempty) .to_lowercase()``.
Note the reference splits FIRST and lowercases each token AFTER; we
preserve that order (lowercasing can change a codepoint's alphabetic
class, e.g. U+0130 'İ' → 'i' + combining dot).

Two implementations:

* ``tokens_col`` — pure JVM Catalyst expression (regexp split on the
  Unicode alphabetic class). Whole-stage-codegen'd; the fast path for
  the 100 TB pipeline and the DuckDB-oracle queries.
* ``tokens_udf`` — Arrow-batched pandas UDF replicating the Rust
  split-then-lowercase order exactly; the parity-safe path mandated by
  BASELINE.json input_hint for the span pipeline. No per-row Python:
  the regex runs via pandas vectorized .str ops per Arrow batch.

The other token rules live here too, each defined once:

* ``ws_tokens`` / ``ws_tokens_col`` — the whitespace-token rule
  (non-empty pieces of a split on ``alphabet.WS_SPLIT``), in Python
  and as its JVM twin;
* ``kgrams`` — the space-joined token k-gram (shingle) string.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from textalyzer_spark.functions.alphabet import WS_SPLIT, py_alpha_regex

# The JVM's own IsAlphabetic table as a Python class (generated,
# tools/gen_unicode_tables.py) — so this path splits EXACTLY like
# tokens_col's \p{IsAlphabetic} on every codepoint. (The previous
# [^\W\d_] approximation admitted superscripts/fractions like ²³¼
# and missed Nl / Other_Alphabetic codepoints above 0x024F.)
# Token lowercasing: str.lower on the ASCII fast path, and
# alphabet.jvm_lower on non-ASCII tokens — JVM-exact on EVERY
# codepoint (divergent-cp overrides + JVM-table sigma contexts).
_ALPHA_RUN = py_alpha_regex()

# ASCII fast path: IsAlphabetic ∩ ASCII is exactly [A-Za-z]
# (asserted by tests/test_unicode_tables.py), and the 695-range full
# class costs ~3x per char — str.isascii() is a cheap C check, and
# real corpora are overwhelmingly ASCII rows
_ASCII_RUN = re.compile(r"[A-Za-z]+")

_WS_RE = re.compile(WS_SPLIT)


def tokenize_text(text: str) -> list[str]:
    """Plain-Python reference implementation (used by tests/goldens).
    Non-ASCII tokens lower via alphabet.jvm_lower, so this path equals
    the JVM path on every codepoint (incl. the divergent-cp overrides
    and JVM-table sigma contexts)."""
    text = text or ""
    if text.isascii():
        return [t.lower() for t in _ASCII_RUN.findall(text)]
    from textalyzer_spark.functions.alphabet import jvm_lower

    return [jvm_lower(t) for t in _ALPHA_RUN.findall(text)]


def tokens_col(text: Column | str) -> Column:
    """JVM-side tokenizer: array<string> of lowercased alphabetic runs.

    Uses Java's \\p{IsAlphabetic} class; stays inside whole-stage
    codegen (no Python worker round-trip). Java and Rust Unicode
    tables agree on all ASCII and all common scripts.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, r"[^\p{IsAlphabetic}]+")
    toks = F.filter(toks, lambda t: t != F.lit(""))
    return F.transform(toks, F.lower)


def ws_tokens(text: str | None) -> list[str]:
    """Whitespace tokens: the non-empty pieces of ``text`` split on the
    pinned cross-engine class ``alphabet.WS_SPLIT`` (never ``\\s`` —
    Java, Python and RE2 disagree on it). Python twin of
    :func:`ws_tokens_col`; NULL text has no tokens."""
    return [w for w in _WS_RE.split(text or "") if w != ""]


def ws_tokens_col(text: Column | str) -> Column:
    """JVM twin of :func:`ws_tokens`: ``array<string>`` of the non-empty
    ``alphabet.WS_SPLIT`` pieces."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, WS_SPLIT), lambda t: t != "")


def kgrams(toks: list[str], k: int) -> list[str]:
    """Every token ``k``-gram of ``toks`` in order, one per occurrence,
    each joined with a single space (the shingle string the oracles
    rebuild as ``w || ' ' || lead(w, 1) ...``). Empty when
    ``len(toks) < k``."""
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def tokenize_pandas(s: pd.Series) -> pd.Series:
    """Batch tokenizer over a pandas Series (one Arrow batch) —
    vectorized findall with the ASCII fast-path split applied
    row-wise (mask + two findalls beats one slow full-class pass on
    mostly-ASCII batches)."""
    from textalyzer_spark.functions.alphabet import jvm_lower

    s = s.fillna("")
    mask = s.map(str.isascii)
    out = pd.Series(index=s.index, dtype=object)
    if mask.any():
        out[mask] = s[mask].str.findall(_ASCII_RUN).map(
            lambda toks: [t.lower() for t in toks]
        )
    if (~mask).any():
        # jvm_lower: JVM-exact beyond this interpreter's Unicode tables
        out[~mask] = s[~mask].str.findall(_ALPHA_RUN).map(
            lambda toks: [jvm_lower(t) for t in toks]
        )
    return out


@pandas_udf(ArrayType(StringType()))
def tokens_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched pandas UDF tokenizer (Rust-parity path)."""
    return tokenize_pandas(s)
