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

Arrow kernels tokenize a whole slice of rows at once:
``ascii_letter_runs`` is the ASCII rule as numpy array operations,
``token_table`` applies it to every ASCII row of a ``StringArray``
(a non-ASCII row takes ``tokenize_text`` alone), and ``kgram_table``
is ``kgrams`` over such a table.
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

# Rows per slice of an Arrow batch in the Arrow kernels that call
# token_table: the columnar path holds several per-byte temporaries of
# the slice's text, and whole 8,192-row batches raised the Python
# workers' peak RSS by ~13% (perfbench extract, 4 cores) for no speed-up
SLICE_ROWS = 1024


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


def _utf8_buffers(strings):
    """``(row offsets from 0, uint8 bytes)`` of a StringArray's buffers."""
    import numpy as np

    _, offs_buf, data_buf = strings.buffers()
    offs = np.frombuffer(offs_buf, np.int32)[strings.offset : strings.offset + len(strings) + 1]
    if offs[-1] == offs[0]:
        return offs - offs[0], np.zeros(0, np.uint8)
    return offs - offs[0], np.frombuffer(data_buf, np.uint8)[offs[0] : offs[-1]]


def ascii_letter_runs(row_at, buf):
    """:func:`tokenize_text`'s ASCII rule as array operations:
    ``(tokens, row_tok)`` for rows of ASCII text (``row_at``: the rows'
    offsets into ``buf``, their UTF-8 bytes). A token is a maximal
    ``[A-Za-z]`` run inside one row, lowered by ``| 0x20``; ``tokens``
    is a StringArray of every token in order, and row ``r``'s tokens
    are ``tokens[row_tok[r]:row_tok[r + 1]]``."""
    import numpy as np
    import pyarrow as pa

    lower = buf | 0x20
    alpha = np.zeros(len(buf) + 2, bool)
    np.less(lower - ord("a"), 26, out=alpha[1:-1])  # uint8 wrap-around: [A-Za-z]
    # letter runs start and end where alpha flips
    flips = np.flatnonzero(alpha[1:] != alpha[:-1])
    starts, ends = flips[0::2], flips[1::2]
    # a run across a row boundary is two tokens (empty rows repeat a
    # boundary)
    cut = row_at[1:-1]
    cut = np.unique(cut[alpha[cut] & alpha[cut + 1]])
    if len(cut):
        starts = np.insert(starts, np.searchsorted(starts, cut), cut)
        ends = np.insert(ends, np.searchsorted(ends, cut), cut)
    # the letters compacted are the tokens back to back
    tok_at = np.zeros(len(starts) + 1, np.int32)
    np.cumsum(ends - starts, out=tok_at[1:])
    tokens = pa.StringArray.from_buffers(
        len(starts), pa.py_buffer(tok_at), pa.py_buffer(lower.compress(alpha[1:-1]))
    )
    return tokens, np.searchsorted(starts, row_at)


def token_table(texts):
    """``(tokens, row_tok)`` as in :func:`ascii_letter_runs`, for every
    row of a StringArray slice, with :func:`tokenize_text`'s values
    (NULL text has no tokens). ASCII rows are tokenized together by
    :func:`ascii_letter_runs`; a non-ASCII row falls back, alone, to
    :func:`tokenize_text`, whose ``jvm_lower`` casing is Unicode-exact,
    and its tokens are spliced in at its row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if texts.null_count:
        texts = texts.fill_null("")
    row_at, buf = _utf8_buffers(texts)
    if not len(buf) or buf.max() < 0x80:
        return ascii_letter_runs(row_at, buf)
    is_ascii = pc.string_is_ascii(texts)
    tokens, row_tok = ascii_letter_runs(*_utf8_buffers(pc.if_else(is_ascii, texts, "")))
    other = np.flatnonzero(~is_ascii.to_numpy(zero_copy_only=False))
    extra = [tokenize_text(t) for t in texts.take(pa.array(other)).to_pylist()]
    # source position of each row's first token in tokens ++ extra
    counts = np.diff(row_tok)
    src_at = row_tok[:-1].copy()
    n_extra = np.fromiter(map(len, extra), np.int64, count=len(extra))
    counts[other] = n_extra
    src_at[other] = len(tokens) + np.cumsum(n_extra) - n_extra
    row_tok = np.zeros(len(texts) + 1, np.int64)
    np.cumsum(counts, out=row_tok[1:])
    src = np.repeat(src_at - row_tok[:-1], counts) + np.arange(row_tok[-1])
    merged = pa.concat_arrays(
        [tokens, pa.array([t for toks in extra for t in toks], pa.string())]
    )
    return merged.take(pa.array(src)), row_tok


def kgram_table(tokens, row_tok, k: int):
    """:func:`kgrams` over a :func:`token_table`: ``(grams, rows)`` — a
    StringArray of every token ``k``-gram of every row, one per
    occurrence, and the row each came from (int64). A k-gram never
    crosses a row boundary."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(tokens) - k + 1
    if n <= 0:
        return pa.array([], pa.string()), np.zeros(0, np.int64)
    row_of = np.repeat(np.arange(len(row_tok) - 1), np.diff(row_tok))
    # tokens of one row are contiguous: a k-gram stays inside its row
    # iff its first and last tokens share the row
    at = np.flatnonzero(row_of[:n] == row_of[k - 1 :])
    grams = pc.binary_join_element_wise(
        *[tokens.slice(i, n) for i in range(k)], " "
    )
    return grams.take(pa.array(at)), row_of[at]


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
