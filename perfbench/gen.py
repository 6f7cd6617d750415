"""Seeded corpora for the benchmark workloads, replicated from a real
documents table.

``data/documents.parquet`` is the engine's sf0.1 ``documents`` test
table, byte for byte: 5,000 single-line ASCII docs of 10–100 words over
a 31-word vocabulary, with a ``lang`` and a ``source`` column and its
own near-duplicate rows (a doc plus the word ``dup``). Every corpus is
made from it by seeded replication:

* copy ``c`` of the table takes its rows in a seeded order and maps
  every content word through a seeded permutation of the vocabulary
  (the per-copy token perturbation). The stopwords the quality gate and
  the language id read, and the ``dup`` marker, stay as they are. A
  copy keeps the table's length law, character mix, word law and its
  duplicate rows; two copies share no doc;
* a long-document tail the table lacks: ``LONG_FRAC`` of the docs are
  20–80 rows of their copy joined into one doc (about 1k–5k words).

Everything is a pure function of the seed: the same seed writes
byte-identical parquet files. Files are written with pyarrow (no
Spark), many more files than cores.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from textalyzer_spark.corpus import build_spans

SEED_CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
# words every copy keeps: stopwords (quality gate, language id) and the
# table's near-duplicate marker
FIXED_WORDS = ("the", "a", "dup")
LONG_FRAC = 0.002
LONG_ROWS = (20, 81)


@functools.cache
def seed_corpus():
    """``(vocab, rows, langs, sources)``: the seed table's texts as
    arrays of word ids into ``vocab``."""
    t = pq.read_table(SEED_CORPUS, columns=["text", "lang", "source"])
    texts = t.column("text").to_pylist()
    vocab = sorted({w for x in texts for w in x.split(" ")})
    index = {w: i for i, w in enumerate(vocab)}
    rows = [np.array([index[w] for w in x.split(" ")], dtype=np.int32) for x in texts]
    return (
        np.array(vocab, dtype=object),
        rows,
        t.column("lang").to_pylist(),
        t.column("source").to_pylist(),
    )


def replicate(seed: int, n_docs: int) -> tuple[list[np.ndarray], list[str], list[str]]:
    """``n_docs`` docs as word-id arrays, with their ``lang`` and
    ``source``: copies of the seed table, each in its own row order
    and word permutation, plus the long-document tail."""
    vocab, rows, langs, sources = seed_corpus()
    n_rows = len(rows)
    fixed = np.isin(vocab, FIXED_WORDS)
    docs: list[np.ndarray] = []
    out_lang: list[str] = []
    out_src: list[str] = []
    for c in range(-(-n_docs // n_rows)):
        rng = np.random.default_rng([seed, c])
        order = rng.permutation(n_rows)[: n_docs - len(docs)]
        mapping = np.arange(len(vocab))
        mapping[~fixed] = rng.permutation(mapping[~fixed])
        long = rng.random(len(order)) < LONG_FRAC
        for r, is_long in zip(order, long):
            if is_long:
                k = int(rng.integers(*LONG_ROWS))
                ids = np.concatenate([rows[r], *(rows[j] for j in rng.integers(n_rows, size=k - 1))])
            else:
                ids = rows[r]
            docs.append(mapping[ids])
            out_lang.append(langs[r])
            out_src.append(sources[r])
    return docs, out_lang, out_src


def _perturb(rng: np.random.Generator, ids: np.ndarray, rate: float) -> np.ndarray:
    """A near-duplicate: about ``rate`` of the words replaced by other
    words of the vocabulary."""
    vocab = seed_corpus()[0]
    out = ids.copy()
    hit = rng.random(len(out)) < rate
    out[hit] = rng.integers(len(vocab), size=int(hit.sum()))
    return out


def flat_corpus(
    seed: int, n_docs: int, exact_frac: float = 0.0, near_frac: float = 0.0
) -> pa.Table:
    """The flat corpus, shaped like the seed table
    ``(doc_id, text, lang, source, n_chars)``, ``doc_id`` 1..n.
    Planted families on top of the table's own, each member in a
    random slot: ``exact_frac`` of docs are verbatim copies of a
    replicated doc, ``near_frac`` are copies with 4% of words replaced,
    two copies per base doc."""
    n_exact = int(n_docs * exact_frac)
    n_near = int(n_docs * near_frac)
    n_base = n_docs - n_exact - n_near
    docs, langs, sources = replicate(seed, n_base)
    rng = np.random.default_rng([seed, 1 << 20])
    fam = rng.integers(n_base, size=(n_exact + n_near) // 2 + 1)
    for j in range(n_exact + n_near):
        b = fam[j // 2]
        docs.append(docs[b] if j < n_exact else _perturb(rng, docs[b], 0.04))
        langs.append(langs[b])
        sources.append(sources[b])
    order = rng.permutation(n_docs)
    vocab = seed_corpus()[0]
    texts = [" ".join(vocab[docs[i]]) for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(1, n_docs + 1, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([langs[i] for i in order], pa.string()),
        "source": pa.array([sources[i] for i in order], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)


def nested_table(seed: int, texts: list[str]) -> pa.Table:
    """The canonical interleaved corpus ``(doc_id, spans)``, each doc's
    spans from the engine's own ``corpus.build_spans``."""
    doc_ids = [f"d{i:08d}" for i in range(len(texts))]
    spans = [build_spans(d, t, seed) for d, t in zip(doc_ids, texts)]
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "spans": pa.array(spans, pa.list_(SPAN_TYPE)),
    })


def write_table(path: str, table: pa.Table, n_files: int) -> None:
    """``table`` split into ``n_files`` parquet files of consecutive rows."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(
            table.slice(f * step, step), os.path.join(path, f"part-{f:05d}.parquet")
        )
