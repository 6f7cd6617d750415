"""Generated DuckDB oracle SQL for the hash/LSH operator family.

These oracles are *derived from the same constants* the Spark
operators use (minhash affine params, LSH hyperplanes, rolling-hash
base/modulus, the wcwidth table), embedded as SQL literals at full
precision — so the driver's DuckDB gate checks the operators
value-exactly instead of rows-only.

Cross-engine hash contract (why these are expressible at all):
every distributed hash in the engine is md5-derived —
``int.from_bytes(md5(s).digest()[:8], "little")`` on the Python/Arrow
side == ``md5_number_upper(s)`` in DuckDB 1.0. No xxhash64/crc32/sha1
anywhere in an oracled path (those have no DuckDB twin).
"""

from __future__ import annotations


def _values_rows(rows: list[tuple]) -> str:
    return ",\n      ".join(
        "(" + ", ".join(str(v) for v in row) + ")" for row in rows
    )


# --------------------------------------------------------------------------
# Tokenizer alphabet (functions/tokenize.py)
# --------------------------------------------------------------------------


def alpha_token_regex() -> str:
    """RE2 token regex mirroring the registered queries' JVM
    tokenizer (tokens_col, Java ``\\p{IsAlphabetic}``): the class is
    GENERATED from the live JVM's own table (tools/
    gen_unicode_tables.py — the wcwidth-range-table technique applied
    to the tokenizer) and covers the ENTIRE codepoint space, so the
    split has a value-exact cross-engine twin on every script, not
    just Latin. Per-token lowercasing is likewise exact on every
    codepoint (functions.alphabet's verified-range contract: the
    divergent-cp override table + the consuming final-sigma replay).
    On pure-ASCII corpora the class reduces to exactly the rows
    ``[a-z]+`` produced, so its presence in a registered oracle is
    behavior-preserving for the driver tables."""
    from textalyzer_spark.functions.alphabet import re2_alpha_class

    return "[" + re2_alpha_class() + "]+"


def alpha_strip_regex() -> str:
    """Negated form of :func:`alpha_token_regex` — strips every
    non-letter from UNLOWERED text, mirroring the engine's
    ``[^\\p{IsAlphabetic}]+`` (quality.token_stats n_alpha_chars)."""
    from textalyzer_spark.functions.alphabet import re2_strip_class

    return re2_strip_class()


def word_frequency_sql() -> str:
    """Twin of ``word_frequency``: extract raw-token runs with the
    JVM-generated alphabet, then lowercase PER TOKEN with the
    final-sigma-aware expression — the same split-then-lower order as
    the engine (frequency.rs:34-45 parity), which matters beyond
    Latin (Σ at token end lowers to ς in both Spark and Python; plain
    DuckDB lower() would yield σ)."""
    from textalyzer_spark.functions.alphabet import tok_lower_sql

    rx = alpha_token_regex()
    return f"""
        SELECT {tok_lower_sql('w')} AS word, count(*) AS count
        FROM (
          SELECT unnest(regexp_extract_all(text, '{rx}')) AS w
          FROM documents
        )
        GROUP BY 1
        ORDER BY count DESC, word ASC
    """


# --------------------------------------------------------------------------
# MinHash + banded LSH (operators/dedup.py: minhash_lsh_pairs)
# --------------------------------------------------------------------------


def minhash_params_cte(num_hashes: int = 32, seed: int = 42) -> str:
    """``params(i, a, b)`` VALUES CTE of the engine's affine minhash
    permutation constants (dedup._hash_params, same seed)."""
    from textalyzer_spark.operators.dedup import _hash_params

    av, bv = _hash_params(num_hashes, seed)
    return (
        "params(i, a, b) AS (VALUES\n      "
        + _values_rows([(i, av[i], bv[i]) for i in range(num_hashes)])
        + "\n        )"
    )


def minhash_sig_band_ctes(
    prefix: str = "",
    source_where: str = "",
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    source: str = "documents",
) -> str:
    """The tokenize -> shingle -> signature -> band-bucket chain as a
    composable CTE block (requires :func:`minhash_params_cte` named
    ``params`` alongside): emits ``{p}shn(doc_id, shingle)``,
    ``{p}sig(doc_id, i, h)`` and ``{p}bnd(doc_id, band, bucket)``.
    ``prefix`` + ``source_where`` let the incremental-dedup oracle
    instantiate the chain once per corpus snapshot; ``source`` lets
    the end-to-end pipeline oracle run it over a DERIVED ``(doc_id,
    text)`` CTE instead of the base table."""
    from textalyzer_spark.operators.dedup import _P

    p = prefix
    rows = num_hashes // bands
    # window name prefixed: two instantiations under one WITH
    # RECURSIVE clause share a window namespace in DuckDB 1.0
    lead_join = " || ' ' || ".join(
        ["w"] + [f"lead(w,{j}) OVER {p}win" for j in range(1, k)]
    )
    from textalyzer_spark.functions.alphabet import toks_lower_sql

    rx = alpha_token_regex()
    toks_expr = toks_lower_sql(f"regexp_extract_all(text, '{rx}')")
    return f"""{p}rawt AS (
          SELECT doc_id, {toks_expr} AS tl FROM {source} {source_where}
        ), {p}toks AS (
          SELECT doc_id, unnest(tl) AS w,
                 generate_subscripts(tl, 1) AS pos
          FROM {p}rawt
        ), {p}sh AS (
          SELECT DISTINCT doc_id, {lead_join} AS shingle
          FROM {p}toks WINDOW {p}win AS (PARTITION BY doc_id ORDER BY pos)
        ), {p}shn AS (
          SELECT doc_id, shingle FROM {p}sh WHERE shingle IS NOT NULL
        ), {p}base AS (
          -- md5_number_upper == the engine's md5-LE8 base hash, mod p
          SELECT doc_id,
                 CAST(md5_number_upper(shingle) % {_P} AS BIGINT) AS x
          FROM {p}shn
        ), {p}sig AS (
          SELECT doc_id, p.i, min((x * p.a + p.b) % {_P}) AS h
          FROM {p}base CROSS JOIN params p
          GROUP BY doc_id, p.i
        ), {p}bnd AS (
          SELECT doc_id, i // {rows} AS band,
                 string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bucket
          FROM {p}sig GROUP BY doc_id, i // {rows}
        )"""


def minhash_pairs_ctes(
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.1,
    seed: int = 42,
    max_bucket_docs: int = 1000,
    source: str = "documents",
    prefix: str = "",
    source_where: str = "",
    include_params: bool = True,
) -> str:
    """The :func:`minhash_lsh_sql` pipeline as a composable CTE chain
    (no leading ``WITH``), terminating in ``{p}mh_pairs(doc_a, doc_b,
    jaccard)`` — reused by the near-dup cluster-resolution oracles,
    which chain connected components on top of the SAME pair SQL;
    (``source=``) by the end-to-end pipeline oracle over its derived
    cleaned corpus; and (``prefix=``/``include_params=False``) twice
    by the incremental component-maintenance oracle, once per corpus
    snapshot sharing one ``params`` CTE."""
    p = prefix
    params = (
        minhash_params_cte(num_hashes, seed) + ", " if include_params
        else ""
    )
    sig_band = minhash_sig_band_ctes(prefix, source_where, k, num_hashes,
                                     bands, source=source)
    return f"""{params}{sig_band}, {p}okb AS (
          -- mirrors the engine's max_bucket_docs mega-bucket guard
          SELECT band, bucket FROM {p}bnd
          GROUP BY 1, 2 HAVING count(*) <= {max_bucket_docs}
        ), {p}bndk AS (
          SELECT {p}bnd.doc_id, {p}bnd.band, {p}bnd.bucket
          FROM {p}bnd JOIN {p}okb USING (band, bucket)
        ), {p}cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM {p}bndk a JOIN {p}bndk b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ), {p}sizes AS (
          SELECT doc_id, count(*) AS n_sh FROM {p}shn GROUP BY 1
        ), {p}inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_inter
          FROM {p}cand c
          JOIN {p}shn a ON a.doc_id = c.doc_a
          JOIN {p}shn b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY 1, 2
        ), {p}mh_pairs AS (
          SELECT doc_a, doc_b,
                 round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4)
                   AS jaccard
          FROM {p}inter
          JOIN {p}sizes sa ON sa.doc_id = doc_a
          JOIN {p}sizes sb ON sb.doc_id = doc_b
          WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4)
                >= {threshold}
        )"""


def minhash_lsh_sql(
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.1,
    seed: int = 42,
    max_bucket_docs: int = 1000,
) -> str:
    """Value-exact twin of ``minhash_lsh_pairs``: same affine params,
    same signatures, same band buckets (including the mega-bucket
    guard), same exact-Jaccard verify."""
    ctes = minhash_pairs_ctes(
        k, num_hashes, bands, threshold, seed, max_bucket_docs
    )
    return f"""
        WITH {ctes}
        SELECT doc_a, doc_b, jaccard FROM mh_pairs
    """


# --------------------------------------------------------------------------
# Near-dup cluster resolution (operators/near_dedup.py: near_dedup)
# --------------------------------------------------------------------------


def connected_components_ctes(
    pairs_cte: str = "mh_pairs",
    docs_select: str = "SELECT doc_id FROM documents",
) -> str:
    """Recursive connected-components CTE chain (compose under ``WITH
    RECURSIVE``): min-label walk over the symmetrized ``{pairs_cte}``
    edges, seeded with every node of ``docs_select`` (a one-column
    ``doc_id`` SELECT) — terminates because a label only propagates
    to strictly larger doc_ids and the recursive UNION de-duplicates
    states. Ends in ``cc_labels(doc_id, component)`` covering ALL
    nodes (singletons label themselves), the same labels as
    graph.connected_components (component = min doc_id)."""
    return f"""edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM {pairs_cte}
          UNION
          SELECT doc_b, doc_a FROM {pairs_cte}
        ), walk AS (
          SELECT doc_id, doc_id AS label FROM ({docs_select})
          UNION
          SELECT DISTINCT e.dst AS doc_id, walk.label
          FROM walk JOIN edges e ON e.src = walk.doc_id
          WHERE walk.label < e.dst
        ), cc_labels AS (
          SELECT doc_id, min(label) AS component FROM walk GROUP BY doc_id
        )"""


def near_dup_groups_sql(
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.1,
    seed: int = 42,
    max_bucket_docs: int = 1000,
) -> str:
    """Twin of ``near_dedup(df, method="minhash", keep="min_id")``:
    the exact minhash pair SQL, then recursive connected components,
    then the keep-min-id rule (keep iff doc_id == component)."""
    pairs = minhash_pairs_ctes(
        k, num_hashes, bands, threshold, seed, max_bucket_docs
    )
    return f"""
        WITH RECURSIVE {pairs}, {connected_components_ctes()}
        SELECT doc_id, component, doc_id = component AS keep
        FROM cc_labels
    """


def near_dup_groups_simhash_sql(max_hamming: int = 6) -> str:
    """Twin of ``near_dedup(df, method="simhash", keep="min_id")``:
    the brute-force simhash pair SQL (identical output set to the
    engine's recall-complete combination banding), then the same
    recursive connected-components walk and keep-min-id rule as
    :func:`near_dup_groups_sql` — proving the cluster-resolution
    composition is method-parametric at the ORACLE level too."""
    pairs = f"""sh_pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM allsim a JOIN allsim b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        )"""
    cc = connected_components_ctes(pairs_cte="sh_pairs")
    return f"""
        WITH RECURSIVE {simhash_values_ctes()}, {pairs}, {cc}
        SELECT doc_id, component, doc_id = component AS keep
        FROM cc_labels
    """


# --------------------------------------------------------------------------
# Learned BPE token counting (operators/bpe.py)
# --------------------------------------------------------------------------


def bpe_token_counts_sql(
    n_merges: int = 100, max_vocab: int = 50_000
) -> str:
    """Twin of ``token_counts_bpe_learned``: BOTH the training and the
    application are replayed in SQL — no frozen constants, the merge
    table is re-learned from the same corpus by a recursive CTE.

    * ``bpe``: one iteration = one merge rank — recount every adjacent
      symbol position over the (frequency-capped) vocabulary weighted
      by word count, pick ``ORDER BY total DESC, a, b LIMIT 1`` (==
      the engine's (-total, a, b) heap key), apply vocabulary-wide as
      one ``replace`` (left-to-right non-overlapping replace-all ==
      Python ``str.replace``); the chosen pair rides along as (ma,
      mb), becoming the ``merges`` table.
    * ``app``: replays the recorded rules in rank order over every
      DISTINCT corpus word (vocab-capped or not) — exactly the
      engine's ``bpe_apply``; iterations with no learned rule pass
      through via LEFT JOIN.

    Whole-text lowering uses the final-sigma replay
    (alphabet.text_lower_sql), mirroring the engine's JVM ``lower``.
    """
    from textalyzer_spark.functions.alphabet import text_lower_sql

    lower_expr = text_lower_sql("text")
    char_split = r"' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' '"
    return rf"""
        WITH RECURSIVE lowdocs AS (
          SELECT doc_id, {lower_expr} AS lt FROM documents
        ), dw AS (
          SELECT doc_id, w, count(*) AS k FROM (
            SELECT doc_id,
                   unnest(list_filter(
                       string_split_regex(lt, '[ \t\n\r\f\x0b]+'),
                       t -> t <> '')) AS w
            FROM lowdocs
          ) GROUP BY 1, 2
        ), vocab AS (
          SELECT w, CAST(sum(k) AS BIGINT) AS cnt FROM dw GROUP BY w
          ORDER BY cnt DESC, w ASC LIMIT {max_vocab}
        ), seed AS (
          SELECT w, cnt, {char_split} AS syms FROM vocab
        ), bpe AS (
          SELECT 0 AS it, w, cnt, syms,
                 CAST(NULL AS VARCHAR) AS ma, CAST(NULL AS VARCHAR) AS mb
          FROM seed
          UNION ALL
          SELECT it + 1, w, cnt,
                 replace(syms, ' ' || bst.a || ' ' || bst.b || ' ',
                               ' ' || bst.a || bst.b || ' '),
                 bst.a, bst.b
          FROM bpe, (
            SELECT a, b FROM (
              SELECT l[i] AS a, l[i+1] AS b, sum(cnt) AS total
              FROM (
                SELECT cnt, l, unnest(range(1, len(l))) AS i
                FROM (SELECT cnt, string_split(trim(syms), ' ') AS l
                      FROM bpe)
              )
              GROUP BY 1, 2
            ) WHERE total > 0
            ORDER BY total DESC, a ASC, b ASC LIMIT 1
          ) bst(a, b)
          WHERE it < {n_merges}
        ), merges AS (
          SELECT DISTINCT it, ma, mb FROM bpe WHERE it > 0
        ), aw AS (
          SELECT DISTINCT w FROM dw
        ), app AS (
          SELECT w, 0 AS it, {char_split} AS syms FROM aw
          UNION ALL
          SELECT a.w, a.it + 1,
                 CASE WHEN m.ma IS NULL THEN a.syms
                      ELSE replace(a.syms,
                                   ' ' || m.ma || ' ' || m.mb || ' ',
                                   ' ' || m.ma || m.mb || ' ') END
          FROM app a LEFT JOIN merges m ON m.it = a.it + 1
          WHERE a.it < {n_merges}
        ), applied AS (
          SELECT w, len(string_split(trim(syms), ' ')) AS n_sub
          FROM app WHERE it = {n_merges}
        ), per_doc AS (
          SELECT dw.doc_id,
                 CAST(sum(dw.k) AS INTEGER) AS n_words,
                 CAST(sum(dw.k * ap.n_sub) AS INTEGER) AS n_bpe_tokens
          FROM dw JOIN applied ap ON ap.w = dw.w
          GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(p.n_words, 0) AS n_words,
               coalesce(p.n_bpe_tokens, 0) AS n_bpe_tokens
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


# --------------------------------------------------------------------------
# Incremental dedup vs a persisted catalog (operators/incremental.py)
# --------------------------------------------------------------------------


def incremental_exact_dedup_sql(
    old_where: str = "WHERE doc_id % 2 = 0",
    new_where: str = "WHERE doc_id % 2 = 1",
) -> str:
    """Twin of ``incremental_exact_dedup`` with the corpus split into
    a prior snapshot (catalog source) and a new batch: new-batch
    fingerprints grouped to their min doc_id, anti-joined against the
    catalog fingerprints."""
    return f"""
        WITH cat AS (
          SELECT DISTINCT md5(text) AS fingerprint
          FROM documents {old_where}
        ), grouped AS (
          SELECT md5(text) AS fingerprint, min(doc_id) AS doc_id
          FROM documents {new_where}
          GROUP BY 1
        )
        SELECT doc_id, fingerprint
        FROM grouped g
        -- ANTI JOIN, not NOT IN: a NULL catalog fingerprint (NULL
        -- text doc) must not blank the whole result — the engine's
        -- left_anti join is null-safe (ADVICE r5)
        WHERE NOT EXISTS (
          SELECT 1 FROM cat c WHERE c.fingerprint = g.fingerprint
        )
    """


def incremental_minhash_sql(
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.1,
    seed: int = 42,
    max_bucket_docs: int = 1000,
    old_where: str = "WHERE doc_id % 2 = 0",
    new_where: str = "WHERE doc_id % 2 = 1",
) -> str:
    """Twin of ``incremental_minhash_pairs``: the signature/band chain
    instantiated once per snapshot (same affine params), candidates
    from cross-snapshot bucket collisions under the COMBINED-occupancy
    guard, similarity = the MinHash agreement estimator
    agree/num_hashes (unrounded — exact in binary for power-of-two
    num_hashes, so no cross-engine rounding hazard)."""
    params = minhash_params_cte(num_hashes, seed)
    o = minhash_sig_band_ctes("o_", old_where, k, num_hashes, bands)
    n = minhash_sig_band_ctes("n_", new_where, k, num_hashes, bands)
    return f"""
        WITH {params}, {o}, {n}, okb AS (
          -- combined catalog + batch bucket occupancy guard
          SELECT band, bucket FROM (
            SELECT band, bucket FROM o_bnd
            UNION ALL
            SELECT band, bucket FROM n_bnd
          ) GROUP BY 1, 2 HAVING count(*) <= {max_bucket_docs}
        ), cand AS (
          SELECT DISTINCT o.doc_id AS doc_old, nn.doc_id AS doc_new
          FROM o_bnd o
          JOIN okb USING (band, bucket)
          JOIN n_bnd nn ON nn.band = o.band AND nn.bucket = o.bucket
        ), agree AS (
          SELECT c.doc_old, c.doc_new,
                 sum(CASE WHEN os.h = ns.h THEN 1 ELSE 0 END) AS n_eq
          FROM cand c
          JOIN o_sig os ON os.doc_id = c.doc_old
          JOIN n_sig ns ON ns.doc_id = c.doc_new AND ns.i = os.i
          GROUP BY 1, 2
        )
        SELECT doc_old, doc_new,
               n_eq / CAST({num_hashes} AS DOUBLE) AS est_jaccard
        FROM agree
        WHERE n_eq / CAST({num_hashes} AS DOUBLE) >= {threshold}
    """


# --------------------------------------------------------------------------
# SimHash near pairs (operators/dedup.py: simhash_near_pairs)
# --------------------------------------------------------------------------


def simhash_values_ctes(prefix: str = "", source_where: str = "") -> str:
    """The tokenize -> bit-vote -> pack chain as a composable CTE
    block ending in ``{p}allsim(doc_id, simhash)`` — parameterized by
    prefix + source filter so the incremental-catalog oracle can
    instantiate it once per snapshot."""
    from textalyzer_spark.functions.alphabet import tok_lower_sql

    p = prefix
    return f"""{p}toks AS (
          SELECT doc_id, {tok_lower_sql('w')} AS w
          FROM (
            SELECT doc_id,
                   unnest(regexp_extract_all(text, '{alpha_token_regex()}')) AS w
            FROM documents {source_where}
          )
        ), {p}bits AS (
          -- per (doc, bit j): sum over ALL tokens of +/-1 on bit j of
          -- the token's md5-LE8 hash (multiplicity preserved)
          SELECT doc_id, j,
                 sum(CASE WHEN (md5_number_upper(w) >> j) & 1 = 1
                          THEN 1 ELSE -1 END) AS s
          FROM {p}toks CROSS JOIN (SELECT unnest(range(64)) AS j)
          GROUP BY doc_id, j
        ), {p}sims AS (
          -- bit j set iff s > 0 (strict); bit 63 is the sign bit of
          -- the engine's int64 representation
          SELECT doc_id,
                 CAST(sum(CASE WHEN s <= 0 THEN 0
                          WHEN j = 63 THEN -9223372036854775808
                          ELSE (CAST(1 AS BIGINT) << j) END) AS BIGINT)
                   AS simhash
          FROM {p}bits GROUP BY doc_id
        ), {p}allsim AS (
          -- zero-token docs get simhash 0, like the engine
          SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
          FROM (SELECT doc_id FROM documents {source_where}) d
          LEFT JOIN {p}sims s USING (doc_id)
        )"""


def simhash_pairs_sql(max_hamming: int = 6) -> str:
    """Brute-force twin of ``simhash_near_pairs``. The Spark side's
    pigeonhole banding is recall-COMPLETE for Hamming <= max_hamming
    (any such pair collides on >=1 exact chunk), so all-pairs over
    the same simhash values defines the identical output set."""
    return f"""
        WITH {simhash_values_ctes()}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM allsim a JOIN allsim b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def incremental_near_dup_groups_sql(
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.1,
    seed: int = 42,
    max_bucket_docs: int = 1000,
    old_where: str = "WHERE doc_id % 2 = 0",
    new_where: str = "WHERE doc_id % 2 = 1",
) -> str:
    """Twin of ``incremental.minhash_components`` over a
    corpus split into a prior snapshot (catalog) and a new batch: the
    union corpus is labeled with the SAME hybrid edge semantics the
    two-snapshot engine path computes —

    * intra-snapshot pairs: the exact-verified minhash pair SQL, one
      instantiation per snapshot with its OWN mega-bucket guard
      (exactly how the catalog build / new-batch pass ran them);
    * cross-snapshot pairs: the signature-agreement estimator under
      the COMBINED occupancy guard (``incremental_minhash_pairs`` —
      the catalog stores signatures, not shingles, so cross edges
      can only use the estimator);
    * prior components are the old snapshot's connected components,
      so merging old labels + new/cross edges == labeling this union
      graph (a recursive min-label walk over all three edge sets).

    Output ``(doc_id, component, keep)`` for every document of both
    snapshots — the cross-snapshot cluster-MAINTENANCE result: a
    chain A~B (snapshot 1) + B~C (snapshot 2) lands in ONE component.
    """
    ctes = incremental_near_dup_cc_ctes(
        k, num_hashes, bands, threshold, seed, max_bucket_docs,
        old_where, new_where,
    )
    return f"""
        WITH RECURSIVE {ctes}
        SELECT doc_id, component, doc_id = component AS keep
        FROM cc_labels
    """


def incremental_near_dup_cc_ctes(
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.1,
    seed: int = 42,
    max_bucket_docs: int = 1000,
    old_where: str = "WHERE doc_id % 2 = 0",
    new_where: str = "WHERE doc_id % 2 = 1",
) -> str:
    """The union-labeling CTE chain of
    :func:`incremental_near_dup_groups_sql` (no leading ``WITH``,
    ends in ``cc_labels``) — shared with the incremental
    quality-keep oracle, which joins a keep rule on top."""
    params = minhash_params_cte(num_hashes, seed)
    o = minhash_pairs_ctes(
        k, num_hashes, bands, threshold, seed, max_bucket_docs,
        prefix="o_", source_where=old_where, include_params=False,
    )
    n = minhash_pairs_ctes(
        k, num_hashes, bands, threshold, seed, max_bucket_docs,
        prefix="n_", source_where=new_where, include_params=False,
    )
    cc = connected_components_ctes(
        pairs_cte="all_pairs", docs_select="SELECT doc_id FROM documents"
    )
    return f"""{params}, {o}, {n}, xokb AS (
          -- combined catalog + batch bucket occupancy guard
          SELECT band, bucket FROM (
            SELECT band, bucket FROM o_bnd
            UNION ALL
            SELECT band, bucket FROM n_bnd
          ) GROUP BY 1, 2 HAVING count(*) <= {max_bucket_docs}
        ), xcand AS (
          SELECT DISTINCT o.doc_id AS doc_a, nn.doc_id AS doc_b
          FROM o_bnd o
          JOIN xokb USING (band, bucket)
          JOIN n_bnd nn ON nn.band = o.band AND nn.bucket = o.bucket
        ), xagree AS (
          SELECT c.doc_a, c.doc_b,
                 sum(CASE WHEN os.h = ns.h THEN 1 ELSE 0 END) AS n_eq
          FROM xcand c
          JOIN o_sig os ON os.doc_id = c.doc_a
          JOIN n_sig ns ON ns.doc_id = c.doc_b AND ns.i = os.i
          GROUP BY 1, 2
        ), x_pairs AS (
          SELECT doc_a, doc_b FROM xagree
          WHERE n_eq / CAST({num_hashes} AS DOUBLE) >= {threshold}
        ), all_pairs AS (
          SELECT doc_a, doc_b FROM o_mh_pairs
          UNION
          SELECT doc_a, doc_b FROM n_mh_pairs
          UNION
          SELECT doc_a, doc_b FROM x_pairs
        ), {cc}"""


def incremental_simhash_groups_sql(
    max_hamming: int = 6,
    old_where: str = "WHERE doc_id % 2 = 0",
    new_where: str = "WHERE doc_id % 2 = 1",
) -> str:
    """Twin of ``incremental.simhash_components``: the
    union corpus labeled over brute-force simhash pairs (intra-old,
    intra-new and cross — the engine's combination banding is
    recall-complete, so the edge SETS are identical by construction;
    prior components collapse into label edges, making the union walk
    equal to the engine's merge). Output ``(doc_id, component,
    keep)`` for every document of both snapshots."""
    o = simhash_values_ctes("o_", old_where)
    n = simhash_values_ctes("n_", new_where)
    cc = connected_components_ctes(
        pairs_cte="all_pairs", docs_select="SELECT doc_id FROM documents"
    )
    return f"""
        WITH RECURSIVE {o}, {n}, o_pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM o_allsim a JOIN o_allsim b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        ), n_pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM n_allsim a JOIN n_allsim b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        ), x_pairs AS (
          SELECT o.doc_id AS doc_a, nn.doc_id AS doc_b
          FROM o_allsim o JOIN n_allsim nn
            ON bit_count(xor(o.simhash, nn.simhash)) <= {max_hamming}
        ), all_pairs AS (
          SELECT doc_a, doc_b FROM o_pairs
          UNION
          SELECT doc_a, doc_b FROM n_pairs
          UNION
          SELECT doc_a, doc_b FROM x_pairs
        ), {cc}
        SELECT doc_id, component, doc_id = component AS keep
        FROM cc_labels
    """


def incremental_simhash_sql(
    max_hamming: int = 6,
    old_where: str = "WHERE doc_id % 2 = 0",
    new_where: str = "WHERE doc_id % 2 = 1",
) -> str:
    """Twin of ``incremental_simhash_pairs``: the simhash value chain
    instantiated once per snapshot, brute cross-snapshot Hamming join
    (the engine's combination banding is recall-complete, so the
    output sets are identical by construction)."""
    o = simhash_values_ctes("o_", old_where)
    n = simhash_values_ctes("n_", new_where)
    return f"""
        WITH {o}, {n}
        SELECT o.doc_id AS doc_old, n.doc_id AS doc_new,
               CAST(bit_count(xor(o.simhash, n.simhash)) AS INTEGER) AS hamming
        FROM o_allsim o JOIN n_allsim n
          ON bit_count(xor(o.simhash, n.simhash)) <= {max_hamming}
    """


# --------------------------------------------------------------------------
# Winnowing fingerprints (operators/tokens.py: winnow_near_dup_pairs)
# --------------------------------------------------------------------------


def winnow_pairs_sql(
    k: int = 8,
    window: int = 4,
    min_shared: int = 3,
    min_overlap: float = 0.5,
    max_doc_freq: int = 50,
) -> str:
    """Value-exact twin of ``winnow_near_dup_pairs``: the polynomial
    rolling hash is plain modular arithmetic — the direct k-term
    polynomial mod M (HUGEINT) equals the engine's incremental
    rolling form, and the sliding-window minimum is a window MIN."""
    from textalyzer_spark.operators.tokens import _ROLL_B, _ROLL_M

    # h(pos) = sum_j byte(pos+j) * B^(k-1-j)  mod M
    pows = [pow(_ROLL_B, k - 1 - j, _ROLL_M) for j in range(k)]
    terms = " + ".join(
        f"CAST({'b' if j == 0 else f'lead(b,{j}) OVER w'} AS HUGEINT)"
        f" * CAST('{pows[j]}' AS HUGEINT)"
        for j in range(k)
    )
    from textalyzer_spark.functions.alphabet import text_lower_sql

    lt = text_lower_sql("text")
    return f"""
        WITH lowt AS (
          -- whole-text lower with the final-sigma replay: the engine
          -- hashes text.lower() (Python == JVM rules incl. ς)
          SELECT doc_id, {lt} AS lt FROM documents
        ), chars AS (
          SELECT doc_id,
                 unnest(string_split(lt, '')) AS c,
                 generate_subscripts(string_split(lt, ''), 1) AS pos
          FROM lowt
        ), bytes AS (
          -- both engines hash Unicode CODEPOINTS (ascii() yields the
          -- codepoint for any char), so parity holds on every script
          SELECT doc_id, pos, ascii(c) AS b FROM chars
        ), kg AS (
          SELECT doc_id, pos,
                 CAST(({terms}) % CAST('{_ROLL_M}' AS HUGEINT) AS BIGINT) AS h
          FROM bytes WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
          QUALIFY lead(b, {k - 1}) OVER w IS NOT NULL
        ), wmin AS (
          SELECT doc_id,
                 min(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW
                              AND {window - 1} FOLLOWING) AS fp,
                 lead(h, {window - 1})
                   OVER (PARTITION BY doc_id ORDER BY pos) AS guard
          FROM kg QUALIFY guard IS NOT NULL
        ), fps AS (
          SELECT DISTINCT doc_id, fp FROM wmin
        ), sizes AS (
          -- sizes BEFORE the doc-freq drop (overlap stays a true fraction)
          SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY 1
        ), kept AS (
          SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {max_doc_freq}
        ), fpk AS (
          SELECT fps.doc_id, fps.fp FROM fps JOIN kept USING (fp)
        ), pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
          FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2
          HAVING count(*) >= {min_shared}
        )
        SELECT doc_a, doc_b, n_shared,
               round(n_shared / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE), 4)
                 AS overlap
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_shared / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE), 4)
              >= {min_overlap}
    """


# --------------------------------------------------------------------------
# Hyperplane LSH (operators/similarity.py)
# --------------------------------------------------------------------------


def _plane_literal(plane: list[float]) -> str:
    # repr() round-trips float64 exactly; the oracle sees bit-identical
    # hyperplane components
    return "[" + ", ".join(repr(c) for c in plane) + "]"


def _bucket_expr(planes: list[list[float]], vec: str = "e") -> str:
    return " || ".join(
        f"(CASE WHEN list_dot_product({vec}, {_plane_literal(p)}) > 0 "
        "THEN '1' ELSE '0' END)"
        for p in planes
    )


def _buckets_cte(
    dim: int, n_bits: int, n_tables: int, seed: int, source: str = "v"
) -> str:
    from textalyzer_spark.operators.similarity import lsh_table_planes

    tables = lsh_table_planes(dim, n_bits, n_tables, seed)
    selects = [
        f"SELECT vec_id, e, {t} AS tbl, {_bucket_expr(planes)} AS bucket "
        f"FROM {source}"
        for t, planes in enumerate(tables)
    ]
    return "\n          UNION ALL ".join(selects)


def lsh_cosine_topk_sql(
    k: int = 5,
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    query_mod: int = 50,
) -> str:
    """Value-exact twin of ``lsh_cosine_topk`` over the embeddings
    table with queries = (vec_id % query_mod == 0), hyperplane
    constants embedded at full precision."""
    return f"""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        ), buck AS (
          {_buckets_cte(dim, n_bits, n_tables, seed)}
        ), qb AS (
          SELECT vec_id AS query_id, tbl, bucket FROM buck
          WHERE vec_id % {query_mod} = 0
        ), cand AS (
          SELECT DISTINCT q.query_id, b.vec_id
          FROM qb q JOIN buck b
            ON q.tbl = b.tbl AND q.bucket = b.bucket
           AND b.vec_id <> q.query_id
        ), scored AS (
          SELECT c.query_id, c.vec_id,
                 round(list_dot_product(qv.e, vv.e)
                       / (sqrt(list_dot_product(qv.e, qv.e))
                          * sqrt(list_dot_product(vv.e, vv.e))), 4) AS cosine
          FROM cand c
          JOIN v qv ON qv.vec_id = c.query_id
          JOIN v vv ON vv.vec_id = c.vec_id
        ), ranked AS (
          SELECT query_id, vec_id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, cosine, rank
        FROM ranked WHERE rank <= {k}
        ORDER BY query_id, rank
    """


def embedding_lsh_pairs_ctes(
    threshold: float = 0.35,
    dim: int = 64,
    n_bits: int = 4,
    n_tables: int = 16,
    seed: int = 42,
    prefix: str = "",
    source_where: str = "",
) -> str:
    """The ``embedding_near_dup_lsh`` pipeline as a composable CTE
    chain (no leading ``WITH``) ending in ``{p}emb_pairs(vec_a,
    vec_b, cosine)`` — reused by the embedding cluster-resolution
    oracle, and (``prefix=``/``source_where=``) per snapshot by the
    incremental embedding-maintenance oracle."""
    p = prefix
    return f"""{p}v AS (
          SELECT vec_id, embedding::DOUBLE[] AS e
          FROM embeddings {source_where}
        ), {p}buck AS (
          {_buckets_cte(dim, n_bits, n_tables, seed, source=f"{p}v")}
        ), {p}cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM {p}buck a JOIN {p}buck b
            ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        ), {p}emb_pairs AS (
          SELECT c.vec_a, c.vec_b,
                 round(list_dot_product(va.e, vb.e)
                       / (sqrt(list_dot_product(va.e, va.e))
                          * sqrt(list_dot_product(vb.e, vb.e))), 4) AS cosine
          FROM {p}cand c
          JOIN {p}v va ON va.vec_id = c.vec_a
          JOIN {p}v vb ON vb.vec_id = c.vec_b
          WHERE round(list_dot_product(va.e, vb.e)
                      / (sqrt(list_dot_product(va.e, va.e))
                         * sqrt(list_dot_product(vb.e, vb.e))), 4)
                >= {threshold}
        )"""


def embedding_near_dup_lsh_sql(
    threshold: float = 0.35,
    dim: int = 64,
    n_bits: int = 4,
    n_tables: int = 16,
    seed: int = 42,
) -> str:
    """Value-exact twin of ``embedding_near_dup_pairs_lsh``."""
    ctes = embedding_lsh_pairs_ctes(threshold, dim, n_bits, n_tables, seed)
    return f"""
        WITH {ctes}
        SELECT vec_a, vec_b, cosine FROM emb_pairs
    """


def embedding_near_dup_groups_sql(
    threshold: float = 0.35,
    dim: int = 64,
    n_bits: int = 4,
    n_tables: int = 16,
    seed: int = 42,
) -> str:
    """Twin of ``near_dedup(embeddings, pairs=<lsh pairs>,
    id_col="vec_id")``: the exact embedding-LSH pair SQL chained into
    the recursive connected-components walk over the EMBEDDINGS
    table's nodes, keep-min-id rule."""
    pairs = embedding_lsh_pairs_ctes(threshold, dim, n_bits, n_tables, seed)
    cc = connected_components_ctes(
        "ep", "SELECT vec_id AS doc_id FROM embeddings"
    )
    return f"""
        WITH RECURSIVE {pairs}, ep AS (
          SELECT vec_a AS doc_a, vec_b AS doc_b FROM emb_pairs
        ), {cc}
        SELECT doc_id, component, doc_id = component AS keep
        FROM cc_labels
    """


def incremental_embedding_groups_sql(
    threshold: float = 0.35,
    dim: int = 64,
    n_bits: int = 4,
    n_tables: int = 16,
    seed: int = 42,
    old_where: str = "WHERE vec_id % 2 = 0",
    new_where: str = "WHERE vec_id % 2 = 1",
) -> str:
    """Twin of ``incremental.embedding_components`` with
    the embeddings table split into a catalog snapshot and a new
    batch: the union corpus labeled over per-snapshot intra LSH pair
    SQL + cross bucket-collision pairs (same hyperplane constants,
    same rounded-cosine verify) + prior components as label edges —
    the same hybrid-edge recursive walk as the minhash/simhash
    maintenance oracles."""
    o = embedding_lsh_pairs_ctes(
        threshold, dim, n_bits, n_tables, seed, "o_", old_where
    )
    n = embedding_lsh_pairs_ctes(
        threshold, dim, n_bits, n_tables, seed, "n_", new_where
    )
    cc = connected_components_ctes(
        pairs_cte="all_pairs",
        docs_select="SELECT vec_id AS doc_id FROM embeddings",
    )
    return f"""
        WITH RECURSIVE {o}, {n}, x_cand AS (
          SELECT DISTINCT o.vec_id AS vec_a, nn.vec_id AS vec_b
          FROM o_buck o JOIN n_buck nn
            ON o.tbl = nn.tbl AND o.bucket = nn.bucket
        ), x_pairs AS (
          SELECT c.vec_a, c.vec_b
          FROM x_cand c
          JOIN o_v va ON va.vec_id = c.vec_a
          JOIN n_v vb ON vb.vec_id = c.vec_b
          WHERE round(list_dot_product(va.e, vb.e)
                      / (sqrt(list_dot_product(va.e, va.e))
                         * sqrt(list_dot_product(vb.e, vb.e))), 4)
                >= {threshold}
        ), all_pairs AS (
          SELECT vec_a AS doc_a, vec_b AS doc_b FROM o_emb_pairs
          UNION
          SELECT vec_a, vec_b FROM n_emb_pairs
          UNION
          SELECT vec_a, vec_b FROM x_pairs
        ), {cc}
        SELECT doc_id, component, doc_id = component AS keep
        FROM cc_labels
    """


# --------------------------------------------------------------------------
# Multi-line duplication (operators/duplication.py: duplicate_blocks)
# --------------------------------------------------------------------------


_RUNS_FINAL_PLAIN = """
          SELECT da, db, start_a, start_b, n_lines FROM runs_m"""

# reference suffix emission (duplication.rs:141-165): one candidate
# per non-empty-start suffix of each maximal run
_RUNS_FINAL_SFX = """
          SELECT DISTINCT s.da, s.db, s.start_a + s.k AS start_a,
                 s.start_b + s.k AS start_b, s.n_lines - s.k AS n_lines
          FROM (
            SELECT r.*, unnest(range(r.n_lines)) AS k FROM runs_m r
          ) s
          JOIN lines l ON l.doc_id = s.da
                      AND l.line_number = s.start_a + s.k
          WHERE l.trimmed <> ''"""


def _dup_candidates_ctes(
    max_locations_per_line: int = 1000,
    synthesize: bool = True,
    emit_suffixes: bool = False,
) -> str:
    """Shared CTE chain: synthesized line corpus (newline every 8
    tokens) -> duplicate-line seeds (with the skew cap) -> pairs ->
    gaps-and-islands maximal runs (with the reference's empty-line
    extension) -> gated dedented candidates. Ends with
    ``locs(content, doc_id, line)``. ``synthesize=False`` takes
    documents.text as ALREADY line-structured (the 8-token transform
    collapses blank lines, so blank-line parity tests need the raw
    corpus)."""
    docs_cte = (
        r"""docs AS (
          SELECT doc_id,
                 regexp_replace(text,
                                '(([^ \t\n\r\f\x0b]+[ \t\n\r\f\x0b]+){7}'
                                || '[^ \t\n\r\f\x0b]+)[ \t\n\r\f\x0b]+',
                                '\1' || chr(10), 'g') AS text
          FROM documents
        )"""
        if synthesize
        else """docs AS (
          SELECT doc_id, text FROM documents
        )"""
    )
    return rf"""{docs_cte}, raw AS (
          SELECT doc_id,
                 unnest(string_split(text, chr(10))) AS line,
                 generate_subscripts(string_split(text, chr(10)), 1) AS line_number
          FROM docs
        ), lines AS (
          SELECT doc_id, CAST(line_number AS INTEGER) AS line_number,
                 line, trim(line) AS trimmed
          FROM raw
        ), ne AS (
          SELECT * FROM lines WHERE trimmed <> ''
        ), dupk AS (
          -- > 1: duplicate seeds; the upper bound mirrors the engine's
          -- max_locations_per_line skew guard (default ON)
          SELECT trimmed FROM ne GROUP BY trimmed
          HAVING count(*) > 1 AND count(*) <= {max_locations_per_line}
        ), duploc AS (
          SELECT ne.doc_id, ne.line_number, ne.trimmed
          FROM ne JOIN dupk USING (trimmed)
        ), pairs AS (
          SELECT a.doc_id AS da, a.line_number AS la,
                 b.doc_id AS db, b.line_number AS lb
          FROM duploc a JOIN duploc b ON a.trimmed = b.trimmed
           AND (a.doc_id < b.doc_id
                OR (a.doc_id = b.doc_id AND a.line_number < b.line_number))
        ), isl AS (
          SELECT da, db, la, lb, la - lb AS delta,
                 la - row_number() OVER (PARTITION BY da, db, la - lb
                                         ORDER BY la) AS grp
          FROM pairs
        ), er AS (
          -- maximal trimmed-empty line runs (doc, start, len): backs
          -- the reference's empty-line run extension (duplication.rs
          -- :174-185 matches ''=='' too); a matching run's end+1 can
          -- only be the START of such a run, so the equi-join below
          -- recovers the "empties ahead" count exactly
          SELECT doc_id, min(line_number) AS start_line,
                 count(*) AS run_len
          FROM (
            SELECT doc_id, line_number,
                   line_number - row_number() OVER (
                     PARTITION BY doc_id ORDER BY line_number) AS isl
            FROM lines WHERE trimmed = ''
          ) GROUP BY doc_id, isl
        ), runs0 AS (
          SELECT da, db, delta, min(la) AS start_a, min(lb) AS start_b,
                 count(*) AS n_seed,
                 min(la) + count(*) - 1 AS end_a,
                 min(lb) + count(*) - 1 AS end_b
          FROM isl GROUP BY da, db, delta, grp
        ), runs1 AS (
          SELECT r.*, coalesce(eaa.run_len, 0) AS ea_next,
                 coalesce(eab.run_len, 0) AS eb_next
          FROM runs0 r
          LEFT JOIN er eaa ON eaa.doc_id = r.da
                          AND eaa.start_line = r.end_a + 1
          LEFT JOIN er eab ON eab.doc_id = r.db
                          AND eab.start_line = r.end_b + 1
        ), runs2 AS (
          -- merge same-delta runs whose gap is empty in BOTH docs,
          -- then extend over trailing empty-empty lines
          SELECT *, CASE WHEN lag(end_a) OVER w IS NOT NULL
                          AND start_a - lag(end_a) OVER w - 1
                              <= least(lag(ea_next) OVER w,
                                       lag(eb_next) OVER w)
                     THEN 0 ELSE 1 END AS brk
          FROM runs1
          WINDOW w AS (PARTITION BY da, db, delta ORDER BY start_a)
        ), runs3 AS (
          SELECT *, sum(brk) OVER (PARTITION BY da, db, delta
                                   ORDER BY start_a
                                   ROWS UNBOUNDED PRECEDING) AS mgrp
          FROM runs2
        ), runs_m AS (
          SELECT da, db, min(start_a) AS start_a, min(start_b) AS start_b,
                 max(end_a) - min(start_a) + 1
                   + least(max_by(ea_next, end_a), max_by(eb_next, end_a))
                   AS n_lines
          FROM runs3 GROUP BY da, db, delta, mgrp
        ), runs AS ({_RUNS_FINAL_SFX if emit_suffixes else _RUNS_FINAL_PLAIN}
        ), occ AS (
          SELECT da AS doc_id, start_a AS start, n_lines,
                 db AS o_doc, start_b AS o_start FROM runs
          UNION ALL
          SELECT db, start_b, n_lines, da, start_a FROM runs
        ), occ_lines AS (
          SELECT o.doc_id, o.start, o.n_lines, o.o_doc, o.o_start,
                 l.line_number, l.line, l.trimmed
          FROM occ o JOIN lines l ON l.doc_id = o.doc_id
           AND l.line_number BETWEEN o.start AND o.start + o.n_lines - 1
        ), occmeta AS (
          SELECT doc_id, start, n_lines, o_doc, o_start,
            bool_or(line_number = start AND line = trimmed
                    AND trimmed <> '') AS gate,
            min(CASE WHEN trimmed <> ''
                     THEN length(line) - length(ltrim(line)) END) AS min_indent
          FROM occ_lines GROUP BY 1, 2, 3, 4, 5
        ), contents AS (
          -- reference dedent (duplication.rs:207-215): a line SHORTER
          -- than min_indent (whitespace-only inside an indented block)
          -- is kept verbatim, not sliced empty
          SELECT m.doc_id, m.start, m.o_doc, m.o_start,
                 string_agg(CASE WHEN length(l.line) >= m.min_indent
                                 THEN substr(l.line, m.min_indent + 1)
                                 ELSE l.line END, chr(10)
                            ORDER BY l.line_number) AS content
          FROM occmeta m JOIN lines l ON l.doc_id = m.doc_id
           AND l.line_number BETWEEN m.start AND m.start + m.n_lines - 1
          WHERE m.gate
          GROUP BY 1, 2, 3, 4
        ), locs AS (
          SELECT content, doc_id, CAST(start AS INTEGER) AS line FROM contents
          UNION
          SELECT content, o_doc, CAST(o_start AS INTEGER) FROM contents
        )"""


def duplicate_block_candidates_sql(
    max_locations_per_line: int = 1000,
    min_lines: int = 3,
    synthesize: bool = True,
    emit_suffixes: bool = False,
) -> str:
    """Twin of ``duplicate_blocks(resolve=False)`` exploded to one row
    per (content, doc_id, line)."""
    return f"""
        WITH {_dup_candidates_ctes(max_locations_per_line, synthesize,
                                   emit_suffixes)}
        SELECT DISTINCT content, doc_id, line
        FROM locs
        WHERE len(list_filter(string_split(content, chr(10)),
                              x -> trim(x) <> '')) >= {min_lines}
    """


def duplicate_lines_sql(min_bytes: int = 6) -> str:
    """Twin of ``duplicate_lines`` (reference duplication.rs:10-40)
    exploded to one row per (content, n_locations, doc_id, line):
    trimmed lines of >= min_bytes bytes occurring more than once."""
    prefix = _dup_candidates_ctes().split("), ne AS (")[0]
    return f"""
        WITH {prefix}
        ), f AS (
          SELECT doc_id, line_number, trimmed
          FROM lines WHERE strlen(trimmed) >= {min_bytes}
        ), g AS (
          SELECT trimmed AS content, count(*) AS n_locations
          FROM f GROUP BY 1 HAVING count(*) > 1
        )
        SELECT g.content, g.n_locations, f.doc_id, f.line_number AS line
        FROM g JOIN f ON f.trimmed = g.content
    """


def span_dedup_sql(n: int = 3) -> str:
    """Twin of :func:`operators.span_dedup.span_dedup` over the
    synthesized line corpus: every line covered by a non-first
    occurrence (min ``(doc_id, start)``) of a duplicated ``n``-line
    span is dropped; documents are rebuilt from surviving lines.
    Output ``(doc_id, text, n_lines_kept, n_lines_removed)``. The
    oracle's first-occurrence pick is a row_number window (fine for
    an oracle; the engine uses a skew-safe min(struct) hash agg —
    identical semantics, ``(doc_id, start)`` is unique)."""
    prefix = _dup_candidates_ctes().split("), ne AS (")[0]
    content = " || chr(10) || ".join(
        ["line"] + [f"lead(line, {i}) OVER sdw" for i in range(1, n)]
    )
    last = f"lead(line, {n - 1}) OVER sdw" if n > 1 else "line"
    offs = ", ".join(str(i) for i in range(n))
    return f"""
        WITH {prefix}
        ), sp0 AS (
          SELECT doc_id, line_number AS start,
                 {content} AS content, {last} AS last_l
          FROM lines
          WINDOW sdw AS (PARTITION BY doc_id ORDER BY line_number)
        ), sp AS (
          SELECT doc_id, start, md5(content) AS h
          FROM sp0 WHERE last_l IS NOT NULL
        ), ranked AS (
          SELECT doc_id, start,
                 row_number() OVER (PARTITION BY h
                                    ORDER BY doc_id, start) AS rn
          FROM sp
        ), remspan AS (
          SELECT doc_id, start FROM ranked WHERE rn > 1
        ), remline AS (
          SELECT DISTINCT doc_id, start + i AS line_number
          FROM remspan, (SELECT unnest([{offs}]) AS i) offsets
        ), keptl AS (
          SELECT l.doc_id, l.line_number, l.line
          FROM lines l
          WHERE NOT EXISTS (
            SELECT 1 FROM remline r
            WHERE r.doc_id = l.doc_id AND r.line_number = l.line_number
          )
        ), reb AS (
          SELECT doc_id,
                 string_agg(line, chr(10) ORDER BY line_number) AS text,
                 count(*) AS n_lines_kept
          FROM keptl GROUP BY doc_id
        ), nrem AS (
          SELECT doc_id, count(*) AS n_lines_removed
          FROM remline GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(r.text, '') AS text,
               CAST(coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
               CAST(coalesce(m.n_lines_removed, 0) AS BIGINT)
                 AS n_lines_removed
        FROM docs d
        LEFT JOIN reb r USING (doc_id)
        LEFT JOIN nrem m USING (doc_id)
    """


def incremental_span_dedup_sql(
    n: int = 3,
    old_where: str = "doc_id % 2 = 0",
    new_where: str = "doc_id % 2 = 1",
) -> str:
    """Twin of ``incremental_span_dedup`` over the synthesized line
    corpus split into a prior snapshot (span-hash catalog source) and
    a new batch: a new-batch span occurrence is removed iff its hash
    is in the catalog OR it is a non-first duplicate within the batch
    (row_number twin of the engine's skew-safe min(struct)); new-batch
    documents are rebuilt from surviving lines."""
    prefix = _dup_candidates_ctes().split("), ne AS (")[0]
    content = " || chr(10) || ".join(
        ["line"] + [f"lead(line, {i}) OVER sdw" for i in range(1, n)]
    )
    last = f"lead(line, {n - 1}) OVER sdw" if n > 1 else "line"
    offs = ", ".join(str(i) for i in range(n))
    return f"""
        WITH {prefix}
        ), sp0 AS (
          SELECT doc_id, line_number AS start,
                 {content} AS content, {last} AS last_l
          FROM lines
          WINDOW sdw AS (PARTITION BY doc_id ORDER BY line_number)
        ), sp AS (
          SELECT doc_id, start, md5(content) AS h
          FROM sp0 WHERE last_l IS NOT NULL
        ), cat AS (
          SELECT DISTINCT h FROM sp WHERE {old_where}
        ), ranked AS (
          SELECT doc_id, start, h,
                 row_number() OVER (PARTITION BY h
                                    ORDER BY doc_id, start) AS rn
          FROM sp WHERE {new_where}
        ), remspan AS (
          SELECT doc_id, start FROM ranked r
          WHERE rn > 1
             OR EXISTS (SELECT 1 FROM cat c WHERE c.h = r.h)
        ), remline AS (
          SELECT DISTINCT doc_id, start + i AS line_number
          FROM remspan, (SELECT unnest([{offs}]) AS i) offsets
        ), keptl AS (
          SELECT l.doc_id, l.line_number, l.line
          FROM lines l
          WHERE {new_where.replace('doc_id', 'l.doc_id')}
            AND NOT EXISTS (
            SELECT 1 FROM remline r
            WHERE r.doc_id = l.doc_id AND r.line_number = l.line_number
          )
        ), reb AS (
          SELECT doc_id,
                 string_agg(line, chr(10) ORDER BY line_number) AS text,
                 count(*) AS n_lines_kept
          FROM keptl GROUP BY doc_id
        ), nrem AS (
          SELECT doc_id, count(*) AS n_lines_removed
          FROM remline GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(r.text, '') AS text,
               CAST(coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
               CAST(coalesce(m.n_lines_removed, 0) AS BIGINT)
                 AS n_lines_removed
        FROM docs d
        LEFT JOIN reb r USING (doc_id)
        LEFT JOIN nrem m USING (doc_id)
        WHERE {new_where.replace('doc_id', 'd.doc_id')}
    """


def duplicate_blocks_resolved_sql(
    max_locations_per_line: int = 1000,
    min_lines: int = 3,
    synthesize: bool = True,
    emit_suffixes: bool = False,
) -> str:
    """Twin of ``duplicate_blocks(resolve=True)`` — the reference's
    greedy overlap resolution (duplication.rs:298-336) as a RECURSIVE
    CTE: blocks are visited in the engine's pinned total order
    (n_nonempty desc, bytes desc, content asc); each step keeps the
    locations whose line-cells are not yet BLOCKING, claims the
    survivors' cells, and accepts the block iff >= 2 survive.

    Insert-then-gate state (mirrors _resolve_overlaps /
    duplication.rs:315-317's ``idx < result.len()``): claimed cells
    split into ``blocked`` (claims with >= 1 block ACCEPTED since —
    these veto locations) and ``fresh`` (claims since the last
    acceptance, including rejected blocks' lone claims — inert until
    the next acceptance promotes them to blocked). Within one block,
    locations never block each other (their claims are all fresh).

    Cells are encoded doc_id * 2^20 + line (line numbers < 2^20 at
    any tested sf). Inherently sequential — which is exactly why the
    recursion is the right SQL twin; the candidate set it walks is
    orders of magnitude smaller than the corpus."""
    return f"""
        WITH RECURSIVE {_dup_candidates_ctes(max_locations_per_line, synthesize,
                                             emit_suffixes)},
        blocks AS (
          SELECT content, locs,
                 len(string_split(content, chr(10))) AS n_lines,
                 len(list_filter(string_split(content, chr(10)),
                                 x -> trim(x) <> '')) AS n_nonempty,
                 CAST(row_number() OVER (
                   ORDER BY len(list_filter(string_split(content, chr(10)),
                                            x -> trim(x) <> '')) DESC,
                            strlen(content) DESC, content ASC) AS INTEGER)
                   AS idx
          FROM (
            -- explicit DISTINCT: under WITH RECURSIVE, DuckDB 1.0 does
            -- not apply the UNION dedup inside the shared locs CTE
            SELECT content,
                   list({{'doc_id': doc_id, 'line': line}}) AS locs
            FROM (SELECT DISTINCT content, doc_id, line FROM locs)
            GROUP BY content
          )
        ), step(idx, blocked, fresh, content, valid, n_nonempty) AS (
          SELECT 0, CAST([] AS BIGINT[]), CAST([] AS BIGINT[]),
                 CAST(NULL AS VARCHAR),
                 CAST(NULL AS STRUCT(doc_id BIGINT, line INTEGER)[]), 0
          UNION ALL
          SELECT b.idx,
                 CASE WHEN len(v.valid) >= 2
                      THEN s.blocked || s.fresh || c.claims
                      ELSE s.blocked END,
                 CASE WHEN len(v.valid) >= 2
                      THEN CAST([] AS BIGINT[])
                      ELSE s.fresh || c.claims END,
                 b.content,
                 CASE WHEN len(v.valid) >= 2 THEN v.valid END,
                 b.n_nonempty
          FROM step s
          JOIN blocks b ON b.idx = s.idx + 1,
          LATERAL (
            SELECT list_filter(b.locs,
              loc -> NOT list_has_any(
                list_transform(range(0, b.n_lines),
                  i -> loc.doc_id * 1048576 + loc.line + i),
                s.blocked)) AS valid
          ) v,
          LATERAL (
            SELECT flatten(list_transform(v.valid,
              loc -> list_transform(range(0, b.n_lines),
                i -> loc.doc_id * 1048576 + loc.line + i))) AS claims
          ) c
        ), survivors AS (
          SELECT content, unnest(valid) AS loc
          FROM step
          WHERE valid IS NOT NULL AND n_nonempty >= {min_lines}
        )
        SELECT content, loc.doc_id AS doc_id, loc.line AS line
        FROM survivors
    """


# --------------------------------------------------------------------------
# HTML main-content extraction roundtrip (operators/extraction.py)
# --------------------------------------------------------------------------


def html_main_content_sql() -> str:
    """Expected output of ``extract_main_content(synthesize_pages(
    documents))``: the page template is invertible, so the oracle
    reconstructs the answer from the ORIGINAL text — kept blocks are
    exactly the non-blank article paragraphs (one per line of the
    source text, parser-stripped like Python str.strip), plus the one
    synthesized image. If the extractor leaks any nav/header/ad/
    footer text, drops a paragraph, or mangles entity round-tripping,
    the value hash diverges."""
    ws = "' ' || chr(9) || chr(13) || chr(11) || chr(12)"
    return f"""
        WITH raw AS (
          SELECT doc_id,
                 unnest(string_split(text, chr(10))) AS line,
                 generate_subscripts(string_split(text, chr(10)), 1) AS pos
          FROM documents
        ), kept AS (
          SELECT doc_id, trim(line, {ws}) AS block, pos
          FROM raw WHERE trim(line, {ws}) <> ''
        ), agg AS (
          SELECT doc_id,
                 string_agg(block, chr(10) ORDER BY pos) AS main_text,
                 CAST(count(*) AS INTEGER) AS n_blocks
          FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(a.main_text, '') AS main_text,
               coalesce(a.n_blocks, 0) AS n_blocks,
               CAST(1 AS INTEGER) AS n_media
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """


# --------------------------------------------------------------------------
# IVF ANN (operators/similarity.py: ivf_cosine_topk)
# --------------------------------------------------------------------------

_COS = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})))"
)


def _assign_cte(prev_c: str, name: str, source: str = "v") -> str:
    """Nearest-centroid assignment: argmax cosine, ties -> larger
    cluster index (mirrors the engine's numpy reversed-argmax
    tiebreak)."""
    cos = _COS.format(a="v.e", b="c.ce")
    return f"""{name} AS (
          SELECT vec_id, e, cluster FROM (
            SELECT v.vec_id, v.e, c.cluster,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY {cos} DESC, c.cluster DESC) AS rn
            FROM {source} v CROSS JOIN {prev_c} c
          ) WHERE rn = 1
        )"""


def _update_cte(assign: str, prev_c: str, uname: str, cname: str) -> str:
    """Mean-update with the cross-engine quantization floor(x*1e6+0.5)
    /1e6 (similarity._kmeans_fit_sample); empty clusters keep their
    previous centroid."""
    return f"""{uname} AS (
          SELECT cluster, list(m ORDER BY dim) AS ce FROM (
            SELECT cluster, dim, floor(avg(val)*1000000 + 0.5)/1000000 AS m
            FROM (
              SELECT cluster, unnest(e) AS val,
                     generate_subscripts(e, 1) AS dim
              FROM {assign}
            ) GROUP BY cluster, dim
          ) GROUP BY cluster
        ), {cname} AS (
          SELECT p.cluster, coalesce(u.ce, p.ce) AS ce
          FROM {prev_c} p LEFT JOIN {uname} u USING (cluster)
        )"""


def ivf_cosine_topk_sql(
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    iters: int = 3,
    sample_size: int = 256,
    query_mod: int = 50,
) -> str:
    """Value-exact twin of ``ivf_cosine_topk`` over the embeddings
    table: the driver-side sample k-means is unrolled into ``iters``
    assign/update CTE pairs over the SAME bounded sample (the
    sample_size smallest md5(vec_id) hashes — Spark lower-hex md5 ==
    DuckDB md5, so the hash order is engine-identical; init = the
    sample's first n_clusters vectors in that same hash order,
    quantized mean updates, pinned argmax tiebreaks); only the final
    assignment scans the full table — mirroring the engine's single
    distributed pass."""
    horder = "md5(CAST(vec_id AS VARCHAR)), vec_id"
    ctes = [
        f"""v AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        ), vs AS (
          SELECT vec_id, e FROM v ORDER BY {horder} LIMIT {sample_size}
        ), c0 AS (
          SELECT row_number() OVER (ORDER BY {horder}) - 1 AS cluster,
                 e AS ce
          FROM vs ORDER BY {horder} LIMIT {n_clusters}
        )"""
    ]
    for i in range(1, iters + 1):
        ctes.append(_assign_cte(f"c{i - 1}", f"a{i}", source="vs"))
        ctes.append(_update_cte(f"a{i}", f"c{i - 1}", f"u{i}", f"c{i}"))
    final_c = f"c{iters}"
    ctes.append(_assign_cte(final_c, "af"))
    qcos = _COS.format(a="q.qe", b="c.ce")
    scos = _COS.format(a="qp.qe", b="a.e")
    ctes.append(f"""q AS (
          SELECT vec_id AS query_id, e AS qe FROM v
          WHERE vec_id % {query_mod} = 0
        ), qprobe AS (
          SELECT query_id, qe, cluster FROM (
            SELECT q.query_id, q.qe, c.cluster,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY {qcos} DESC, c.cluster DESC) AS rn
            FROM q CROSS JOIN {final_c} c
          ) WHERE rn <= {n_probe}
        ), scored AS (
          SELECT DISTINCT qp.query_id, a.vec_id,
                 round({scos}, 4) AS cosine
          FROM qprobe qp
          JOIN af a ON a.cluster = qp.cluster AND a.vec_id <> qp.query_id
        ), ranked AS (
          SELECT query_id, vec_id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
          FROM scored
        )""")
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body}
        SELECT query_id, vec_id, cosine, rank
        FROM ranked WHERE rank <= {k}
        ORDER BY query_id, rank
    """


# --------------------------------------------------------------------------
# Display width (functions/width.py)
# --------------------------------------------------------------------------


def _width_ranges() -> list[tuple[int, int]]:
    """(range_start, width) pairs covering the whole Unicode space
    contiguously (each range runs to the next start), generated from
    the SAME _char_width the engine's Arrow UDF uses — the oracle and
    the UDF cannot drift apart."""
    from textalyzer_spark.functions.width import _char_width

    ranges: list[tuple[int, int]] = [(0, _char_width(chr(0)))]
    for cp in range(1, 0x110000):
        w = _char_width(chr(cp))
        if w != ranges[-1][1]:
            ranges.append((cp, w))
    return ranges


def line_display_width_sql() -> str:
    """Twin of the display-width line histogram: per-char width via an
    ASOF join against the generated wcwidth range table (every
    codepoint falls in exactly one range: greatest lo <= codepoint)."""
    rows = _values_rows(_width_ranges())
    return f"""
        WITH widths(lo, w) AS (VALUES
      {rows}
        ), lines AS (
          -- str::lines: strip one trailing LF/CRLF terminator; a \\r is
          -- swallowed only from \\n-terminated elements (i < n), never
          -- from a bare final \\r (mirrors operators/lines.split_lines)
          SELECT row_number() OVER () AS line_id,
                 CASE WHEN i < n
                      THEN regexp_replace(raw_line, chr(13) || '$', '')
                      ELSE raw_line END AS line
          FROM (
            SELECT unnest(ls) AS raw_line,
                   generate_subscripts(ls, 1) AS i,
                   len(ls) AS n
            FROM (
              SELECT string_split(
                       regexp_replace(text,
                         chr(13) || '?' || chr(10) || '$', ''),
                       chr(10)) AS ls
              FROM documents
              WHERE length(text) > 0
            )
          )
        ), chars AS (
          SELECT line_id,
                 ascii(c) AS cp
          FROM (
            SELECT line_id, unnest(string_split(line, '')) AS c FROM lines
          )
        ), cw AS (
          SELECT chars.line_id, widths.w
          FROM chars ASOF JOIN widths ON chars.cp >= widths.lo
        ), line_widths AS (
          SELECT l.line_id, CAST(coalesce(sum(cw.w), 0) AS INTEGER) AS width
          FROM lines l LEFT JOIN cw ON cw.line_id = l.line_id
          GROUP BY l.line_id
        )
        SELECT width AS length, count(*) AS count
        FROM line_widths
        GROUP BY 1
        ORDER BY 1
    """


# --------------------------------------------------------------------------
# n-gram LM perplexity (operators/lm.py: lm_perplexity / _bigram)
# --------------------------------------------------------------------------

_WS_SQL = r"[ \t\n\r\f\x0b]+"  # alphabet.WS_SPLIT, identical in all engines


def lm_perplexity_sql(
    train_where: str = "lang = 'en'", max_avg_nll: float = 5.0
) -> str:
    """Twin of ``lm.lm_perplexity``: re-trains the add-one unigram LM
    in SQL over ``documents WHERE {train_where}``, quantizes each
    log-probability with the SAME glibc-``ln`` micro-nat floor
    (DuckDB ``ln`` == ``math.log`` bit-exact — pinned by
    tests/test_lm.py::test_glibc_ln_parity), integer-sums per
    document, and emits the identical exact-int-ratio ``avg_nll``."""
    return f"""
        WITH toks AS (
          SELECT doc_id, t
          FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '{_WS_SQL}'),
                                      x -> x <> '')) AS t
            FROM documents
          )
        ), vocab AS (
          SELECT t AS token, count(*) AS cnt
          FROM (
            SELECT unnest(list_filter(string_split_regex(text, '{_WS_SQL}'),
                                      x -> x <> '')) AS t
            FROM documents WHERE {train_where}
          ) GROUP BY 1
        ), tot AS (
          SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS total,
                 count(*) AS v
          FROM vocab
        ), lm AS (
          SELECT token,
                 CAST(floor(ln(CAST(cnt + 1 AS DOUBLE)
                               / CAST(total + v AS DOUBLE)) * 1000000)
                      AS BIGINT) AS ll
          FROM vocab, tot
        ), oovv AS (
          SELECT CAST(floor(ln(1.0 / CAST(total + v AS DOUBLE)) * 1000000)
                      AS BIGINT) AS ll
          FROM tot
        ), per AS (
          SELECT toks.doc_id,
                 CAST(count(*) AS INTEGER) AS n_tokens,
                 CAST(sum(coalesce(lm.ll, (SELECT ll FROM oovv)))
                      AS BIGINT) AS sum_ll_micro
          FROM toks LEFT JOIN lm ON toks.t = lm.token
          GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(per.n_tokens, 0) AS n_tokens,
               CAST(coalesce(per.sum_ll_micro, 0) AS BIGINT) AS sum_ll_micro,
               CASE WHEN per.n_tokens > 0
                    THEN CAST(-per.sum_ll_micro AS DOUBLE)
                         / (1000000.0 * CAST(per.n_tokens AS DOUBLE))
               END AS avg_nll,
               CASE WHEN per.n_tokens > 0
                     AND CAST(-per.sum_ll_micro AS DOUBLE)
                         / (1000000.0 * CAST(per.n_tokens AS DOUBLE))
                         <= {max_avg_nll!r}
                    THEN TRUE ELSE FALSE END AS keep
        FROM documents d LEFT JOIN per USING (doc_id)
    """


def lm_perplexity_bigram_sql(
    train_where: str = "lang = 'en'",
    lam: float = 0.75,
    max_avg_nll: float = 5.0,
) -> str:
    """Twin of ``lm.lm_perplexity_bigram``: interpolated add-one
    bigram/unigram mix re-trained in SQL; ``ln`` applied once per
    distinct bigram type with the same micro-nat floor, the per-doc
    sum an exact ``occ * ll`` int64 dot product. The interpolation
    weights are embedded with ``repr`` so both engines evaluate the
    identical IEEE chain ``lam*p2 + (1-lam)*p1``."""
    one_minus = 1.0 - lam
    return f"""
        WITH dt AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '{_WS_SQL}'),
                             x -> x <> '') AS toks
          FROM documents
        ), bgidx AS (
          SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
          FROM dt WHERE len(toks) >= 2
        ), bg AS (
          SELECT doc_id, toks[i] AS ctx, toks[i + 1] AS nxt FROM bgidx
        ), tdt AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '{_WS_SQL}'),
                             x -> x <> '') AS toks
          FROM documents WHERE {train_where}
        ), tbgidx AS (
          SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
          FROM tdt WHERE len(toks) >= 2
        ), bicnt AS (
          SELECT toks[i] AS ctx, toks[i + 1] AS nxt, count(*) AS cnt2
          FROM tbgidx GROUP BY 1, 2
        ), vocab AS (
          SELECT t AS token, count(*) AS cnt
          FROM (
            SELECT unnest(toks) AS t FROM tdt
          ) GROUP BY 1
        ), tot AS (
          SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS total,
                 count(*) AS v
          FROM vocab
        ), types AS (
          SELECT DISTINCT ctx, nxt FROM bg
        ), tll AS (
          SELECT t.ctx, t.nxt,
                 CAST(floor(ln(
                     {lam!r} * (CAST(coalesce(b.cnt2, 0) + 1 AS DOUBLE)
                                / CAST(coalesce(uc.cnt, 0) + v AS DOUBLE))
                   + {one_minus!r} * (CAST(coalesce(un.cnt, 0) + 1 AS DOUBLE)
                                      / CAST(total + v AS DOUBLE))
                 ) * 1000000) AS BIGINT) AS ll
          FROM types t
          LEFT JOIN bicnt b ON t.ctx = b.ctx AND t.nxt = b.nxt
          LEFT JOIN vocab uc ON t.ctx = uc.token
          LEFT JOIN vocab un ON t.nxt = un.token
          CROSS JOIN tot
        ), bdc AS (
          SELECT doc_id, ctx, nxt, count(*) AS occ
          FROM bg GROUP BY 1, 2, 3
        ), per AS (
          SELECT doc_id,
                 CAST(sum(occ) AS INTEGER) AS n_bigrams,
                 CAST(sum(occ * ll) AS BIGINT) AS sum_ll_micro
          FROM bdc JOIN tll ON bdc.ctx = tll.ctx AND bdc.nxt = tll.nxt
          GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(per.n_bigrams, 0) AS n_bigrams,
               CAST(coalesce(per.sum_ll_micro, 0) AS BIGINT) AS sum_ll_micro,
               CASE WHEN per.n_bigrams > 0
                    THEN CAST(-per.sum_ll_micro AS DOUBLE)
                         / (1000000.0 * CAST(per.n_bigrams AS DOUBLE))
               END AS avg_nll,
               CASE WHEN per.n_bigrams > 0
                     AND CAST(-per.sum_ll_micro AS DOUBLE)
                         / (1000000.0 * CAST(per.n_bigrams AS DOUBLE))
                         <= {max_avg_nll!r}
                    THEN TRUE ELSE FALSE END AS keep
        FROM documents d LEFT JOIN per USING (doc_id)
    """


# --------------------------------------------------------------------------
# sequence packing (operators/packing.py)
# --------------------------------------------------------------------------


def _pack_start_cte() -> str:
    """Shared CTE chain ``t(doc_id, n) -> c(doc_id, n, start)``: token
    counts + the global running offset as ONE window cumsum (the
    oracle may funnel through a single partition; the engine's
    two-level bucket scan must produce identical integers)."""
    return f"""t AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split_regex(text, '{_WS_SQL}'),
                                      x -> x <> '')) AS BIGINT) AS n
          FROM documents
        ), c AS (
          SELECT doc_id, n,
                 CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS start
          FROM t
        )"""


def pack_sequences_sql(seq_len: int = 512) -> str:
    """Twin of ``packing.pack_sequences`` — all-integer arithmetic,
    exact by construction."""
    return f"""
        WITH {_pack_start_cte()}
        SELECT doc_id,
               CAST(n AS INTEGER) AS n_tokens,
               start AS start_offset,
               CASE WHEN n > 0 THEN start // {seq_len} END AS first_chunk,
               CASE WHEN n > 0 THEN (start + n - 1) // {seq_len} END AS last_chunk,
               CASE WHEN n > 0
                    THEN CAST((start + n - 1) // {seq_len}
                              - start // {seq_len} + 1 AS INTEGER)
                    ELSE 0 END AS n_chunks
        FROM c
    """


def pack_chunks_sql(seq_len: int = 512) -> str:
    """Twin of ``packing.chunk_manifest``: per-chunk contributing-doc
    count and token occupancy."""
    return f"""
        WITH {_pack_start_cte()}, s AS (
          SELECT doc_id, n, start,
                 unnest(range(start // {seq_len},
                              (start + n - 1) // {seq_len} + 1)) AS chunk_id
          FROM c WHERE n > 0
        )
        SELECT chunk_id,
               CAST(count(*) AS INTEGER) AS n_docs,
               CAST(sum(least(start + n, (chunk_id + 1) * {seq_len})
                        - greatest(start, chunk_id * {seq_len}))
                    AS BIGINT) AS n_tokens
        FROM s GROUP BY 1
    """


# --------------------------------------------------------------------------
# BM25 retrieval (operators/retrieval.py: bm25_topk)
# --------------------------------------------------------------------------


def bm25_topk_sql(
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Twin of ``retrieval.bm25_topk``: re-derives N/avgdl/df/idf in
    SQL (DuckDB ``ln`` == the engine's driver-side glibc ``math.log``)
    and mirrors the engine's IEEE expression chain token-for-token;
    contributions floor to int64 micro-units, ranks break ties on
    doc_id ASC in both engines."""
    terms = ", ".join("'" + t.replace("'", "''") + "'" for t in query_terms)
    k1p1 = k1 + 1.0
    omb = 1.0 - b
    return f"""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split_regex(text, '{_WS_SQL}'),
                                      x -> x <> '')) AS BIGINT) AS dl
          FROM documents
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(coalesce(sum(dl), 0) AS BIGINT) AS total
          FROM t
        ), toks AS (
          SELECT doc_id, tk AS tok FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '{_WS_SQL}'),
                                      x -> x <> '')) AS tk
            FROM documents
          ) WHERE tk IN ({terms})
        ), dft AS (
          SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS dft
          FROM toks GROUP BY 1
        ), idf AS (
          SELECT tok,
                 ln(1.0 + (CAST(n - dft AS DOUBLE) + 0.5)
                          / (CAST(dft AS DOUBLE) + 0.5)) AS idf
          FROM dft, stats
        ), tf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
          FROM toks GROUP BY 1, 2
        ), sc AS (
          SELECT tf.doc_id,
                 CAST(floor((idf.idf * ({k1p1!r} * CAST(tf.tf AS DOUBLE))
                             / (CAST(tf.tf AS DOUBLE)
                                + {k1!r} * ({omb!r}
                                    + {b!r} * (CAST(t.dl AS DOUBLE)
                                        / (CAST(total AS DOUBLE)
                                           / CAST(n AS DOUBLE))))))
                            * 1000000.0) AS BIGINT) AS c
          FROM tf
          JOIN idf ON tf.tok = idf.tok
          JOIN t ON tf.doc_id = t.doc_id
          CROSS JOIN stats
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS score_micro,
               CAST(count(*) AS INTEGER) AS n_terms_matched
        FROM sc GROUP BY 1
        ORDER BY score_micro DESC, doc_id ASC
        LIMIT {k}
    """


# --------------------------------------------------------------------------
# DSIR importance weights (operators/selection.py: dsir_weights)
# --------------------------------------------------------------------------


def dsir_weights_sql(
    target_where: str = "lang = 'en'",
    n_buckets: int = 4096,
    min_weight_micro: int = 0,
) -> str:
    """Twin of ``selection.dsir_weights``: hashed unigram+bigram
    features via ``md5_number_upper % n_buckets`` (== the engine's
    md5-LE8 pmod), add-one smoothed target/raw bucket distributions,
    glibc-``ln`` micro-nat log-ratio per bucket, exact int64 per-doc
    dot product."""
    return f"""
        WITH dt AS (
          SELECT doc_id,
                 ({target_where}) AS is_target,
                 list_filter(string_split_regex(text, '{_WS_SQL}'),
                             x -> x <> '') AS toks
          FROM documents
        ), uni AS (
          SELECT doc_id, is_target, unnest(toks) AS feat FROM dt
        ), bgidx AS (
          SELECT doc_id, is_target, toks, unnest(range(1, len(toks))) AS i
          FROM dt WHERE len(toks) >= 2
        ), bi AS (
          SELECT doc_id, is_target, toks[i] || ' ' || toks[i + 1] AS feat
          FROM bgidx
        ), feats AS (
          SELECT * FROM uni UNION ALL SELECT * FROM bi
        ), fb AS (
          SELECT doc_id, is_target,
                 CAST(md5_number_upper(feat) % {n_buckets} AS BIGINT) AS bucket
          FROM feats
        ), dbc AS (
          SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt,
                 bool_or(is_target) AS is_target
          FROM fb GROUP BY 1, 2
        ), rawc AS (
          SELECT bucket, CAST(sum(cnt) AS BIGINT) AS rc FROM dbc GROUP BY 1
        ), tgtc AS (
          SELECT bucket, CAST(sum(cnt) AS BIGINT) AS tc
          FROM dbc WHERE is_target GROUP BY 1
        ), buckets AS (
          SELECT r.bucket, coalesce(t.tc, 0) AS tc, r.rc
          FROM rawc r LEFT JOIN tgtc t ON r.bucket = t.bucket
        ), tots AS (
          SELECT CAST(coalesce(sum(tc), 0) AS BIGINT) AS tt,
                 CAST(coalesce(sum(rc), 0) AS BIGINT) AS tr
          FROM buckets
        ), lam AS (
          SELECT bucket,
                 CAST(floor(ln(CAST(tc + 1 AS DOUBLE)
                               / CAST(tt + {n_buckets} AS DOUBLE)) * 1000000)
                      AS BIGINT)
               - CAST(floor(ln(CAST(rc + 1 AS DOUBLE)
                               / CAST(tr + {n_buckets} AS DOUBLE)) * 1000000)
                      AS BIGINT) AS lam
          FROM buckets, tots
        ), per AS (
          SELECT dbc.doc_id,
                 CAST(sum(dbc.cnt) AS INTEGER) AS n_feats,
                 CAST(sum(dbc.cnt * lam.lam) AS BIGINT) AS weight_micro
          FROM dbc JOIN lam ON dbc.bucket = lam.bucket
          GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(per.n_feats, 0) AS n_feats,
               CAST(coalesce(per.weight_micro, 0) AS BIGINT) AS weight_micro,
               CASE WHEN coalesce(per.weight_micro, 0) >= {min_weight_micro}
                    THEN TRUE ELSE FALSE END AS selected
        FROM documents d LEFT JOIN per USING (doc_id)
    """


# --------------------------------------------------------------------------
# tf-idf keywords / PMI collocations (operators/keywords.py)
# --------------------------------------------------------------------------


def tfidf_topk_terms_sql(k: int = 5) -> str:
    """Twin of ``keywords.tfidf_topk_terms``: smoothed idf
    ``ln((N+1)/(df+1))`` in micro-nats (DuckDB ``ln`` == the engine's
    glibc ``math.log`` — the operators/lm.py pin), exact int64
    ``tf * idf_micro`` scores, per-doc row_number with the pinned
    ``(score DESC, tok ASC)`` tiebreak."""
    return f"""
        WITH kwtoks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(text, '{_WS_SQL}'),
                                    x -> x <> '')) AS tok
          FROM documents
        ), kwn AS (
          SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM documents
        ), kwidf AS (
          SELECT tok,
                 CAST(floor(ln(CAST(n + 1 AS DOUBLE)
                               / CAST(dft + 1 AS DOUBLE)) * 1000000)
                      AS BIGINT) AS idf_micro
          FROM (
            SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS dft
            FROM kwtoks GROUP BY 1
          ), kwn
        ), kwtf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
          FROM kwtoks GROUP BY 1, 2
        ), kwsc AS (
          SELECT kwtf.doc_id, kwtf.tok, kwtf.tf,
                 kwtf.tf * kwidf.idf_micro AS score_micro
          FROM kwtf JOIN kwidf ON kwtf.tok = kwidf.tok
        )
        SELECT doc_id, tok, tf, score_micro, rank FROM (
          SELECT doc_id, tok, tf, score_micro,
                 CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY score_micro DESC, tok ASC) AS INTEGER) AS rank
          FROM kwsc
        ) WHERE rank <= {k}
        ORDER BY doc_id, rank
    """


def collocations_pmi_sql(min_count: int = 5, k: int = 50) -> str:
    """Twin of ``keywords.collocations_pmi``: adjacent-bigram PMI with
    the engine's exact IEEE chain
    ``(c2/N_bi) / ((cx/N_uni) * (cy/N_uni))`` into one glibc ``ln``,
    floored to micro-nats; top-k with ``(pmi DESC, ctx, nxt)`` ties."""
    return f"""
        WITH pmt AS (
          SELECT list_filter(string_split_regex(text, '{_WS_SQL}'),
                             x -> x <> '') AS toks
          FROM documents
        ), pmuni AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS cnt1 FROM (
            SELECT unnest(toks) AS tok FROM pmt
          ) GROUP BY 1
        ), pmnu AS (
          SELECT CAST(coalesce(sum(cnt1), 0) AS BIGINT) AS n_uni FROM pmuni
        ), pmbi AS (
          SELECT ctx, nxt, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT toks[i] AS ctx, toks[i + 1] AS nxt FROM (
              SELECT toks, unnest(range(1, len(toks))) AS i
              FROM pmt WHERE len(toks) >= 2
            )
          ) GROUP BY 1, 2
        ), pmnb AS (
          SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_bi FROM pmbi
        )
        SELECT ctx, nxt, cnt,
               CAST(floor(ln((CAST(cnt AS DOUBLE) / CAST(n_bi AS DOUBLE))
                             / ((CAST(cx.cnt1 AS DOUBLE)
                                 / CAST(n_uni AS DOUBLE))
                                * (CAST(cy.cnt1 AS DOUBLE)
                                   / CAST(n_uni AS DOUBLE)))) * 1000000)
                    AS BIGINT) AS pmi_micro
        FROM pmbi
        JOIN pmuni cx ON pmbi.ctx = cx.tok
        JOIN pmuni cy ON pmbi.nxt = cy.tok
        CROSS JOIN pmnu CROSS JOIN pmnb
        WHERE cnt >= {min_count}
        ORDER BY pmi_micro DESC, ctx ASC, nxt ASC
        LIMIT {k}
    """


def shard_plan_sql(shard_size: int = 1024) -> str:
    """Twin of ``packing.shard_plan``: one global row_number over the
    engine-identical ``(md5(doc_id), doc_id)`` permutation (DuckDB
    md5 == Spark lower-hex md5) — the oracle may afford the single
    sort the engine's two-level bucketed scan avoids."""
    return f"""
        WITH shp AS (
          SELECT doc_id,
                 row_number() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) - 1 AS gp
          FROM documents
        )
        SELECT doc_id,
               CAST(gp AS BIGINT) AS global_pos,
               CAST(floor(gp / {shard_size}) AS BIGINT) AS shard_id,
               CAST(gp % {shard_size} AS INTEGER) AS pos_in_shard
        FROM shp
        ORDER BY global_pos
    """


# --------------------------------------------------------------------------
# SemDeDup (operators/similarity.py: semdedup_pairs + near_dedup)
# --------------------------------------------------------------------------


def _kmeans_af_ctes(
    n_clusters: int = 16, iters: int = 3, sample_size: int = 256
) -> str:
    """The IVF coarse-quantizer CTE chain (sample -> init -> ``iters``
    assign/update rounds -> full-table assignment ``af``) shared by
    the IVF and SemDeDup oracles — identical semantics to
    ``similarity._kmeans_fit_sample`` + ``_assign_nearest``."""
    horder = "md5(CAST(vec_id AS VARCHAR)), vec_id"
    ctes = [
        f"""v AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        ), vs AS (
          SELECT vec_id, e FROM v ORDER BY {horder} LIMIT {sample_size}
        ), c0 AS (
          SELECT row_number() OVER (ORDER BY {horder}) - 1 AS cluster,
                 e AS ce
          FROM vs ORDER BY {horder} LIMIT {n_clusters}
        )"""
    ]
    for i in range(1, iters + 1):
        ctes.append(_assign_cte(f"c{i - 1}", f"a{i}", source="vs"))
        ctes.append(_update_cte(f"a{i}", f"c{i - 1}", f"u{i}", f"c{i}"))
    ctes.append(_assign_cte(f"c{iters}", "af"))
    return ",\n        ".join(ctes)


def semdedup_groups_sql(
    threshold: float = 0.35,
    n_clusters: int = 16,
    iters: int = 3,
    sample_size: int = 256,
) -> str:
    """Twin of ``near_dedup(pairs=semdedup_pairs(...),
    id_col="vec_id")``: the unrolled k-means assignment, an
    intra-cluster pair join at ``round(cosine, 4) >= threshold``, and
    the recursive min-label component walk with keep-min-id."""
    km = _kmeans_af_ctes(n_clusters, iters, sample_size)
    cos = _COS.format(a="pa.e", b="pb.e")
    cc = connected_components_ctes(
        "semp", "SELECT vec_id AS doc_id FROM embeddings"
    )
    return f"""
        WITH RECURSIVE {km}, semp AS (
          SELECT pa.vec_id AS doc_a, pb.vec_id AS doc_b
          FROM af pa JOIN af pb
            ON pa.cluster = pb.cluster AND pa.vec_id < pb.vec_id
          WHERE round({cos}, 4) >= {threshold!r}
        ), {cc}
        SELECT doc_id, component, doc_id = component AS keep
        FROM cc_labels
    """


def length_quantiles_sql(
    quantiles: tuple[float, ...] = (0.0, 0.25, 0.5, 0.75, 1.0),
) -> str:
    """Twin of ``order_stats.length_quantiles`` over the documents
    table: one window per stratum in the oracle (DuckDB may afford
    it) against the engine's two-level bucketed rank; targets use the
    identical IEEE ``floor(q * (n-1)) + 1`` chain. The quantile
    literals are exact binary doubles, so the double column
    hash-compares exactly."""
    qs = ", ".join(repr(float(q)) for q in quantiles)
    return f"""
        WITH lqt AS (
          SELECT source AS s, CAST(n_chars AS BIGINT) AS v, doc_id
          FROM documents
        ), lqr AS (
          SELECT s, v,
                 row_number() OVER (PARTITION BY s ORDER BY v, doc_id) AS rk
          FROM lqt
        ), lqn AS (
          SELECT s, CAST(count(*) AS BIGINT) AS n FROM lqt GROUP BY 1
        ), lqq AS (
          SELECT unnest([{qs}]::DOUBLE[]) AS q
        ), lqtg AS (
          SELECT s, q,
                 CAST(floor(q * CAST(n - 1 AS DOUBLE)) + 1 AS BIGINT) AS rk
          FROM lqn CROSS JOIN lqq
        )
        SELECT lqtg.s AS source, lqtg.q AS q, lqtg.rk AS "rank",
               lqr.v AS value
        FROM lqtg JOIN lqr ON lqtg.s = lqr.s AND lqtg.rk = lqr.rk
        ORDER BY source, q
    """


def histogram_quantiles_sql(
    quantiles: tuple[float, ...] = (0.0, 0.25, 0.5, 0.75, 1.0),
    bucket_width: int = 64,
    min_value: int = 0,
) -> str:
    """Twin of ``sketch.value_histogram`` + ``histogram_quantiles``
    over the documents table's ``n_chars``: identical bucket floor
    (IEEE double divide of exact ints), cumulative histogram, and
    the exact-rank location chain from ``length_quantiles_sql``."""
    qs = ", ".join(repr(float(q)) for q in quantiles)
    return f"""
        WITH hqt AS (
          SELECT CAST(floor(CAST(CAST(n_chars AS BIGINT) - {min_value}
                                 AS DOUBLE) / {float(bucket_width)!r})
                      AS BIGINT) AS bucket
          -- null measures are excluded in both engines: a NULL bucket
          -- sorts NULLS FIRST in Spark's cumulative window but NULLS
          -- LAST here, shifting every rank (ADVICE r6)
          FROM documents WHERE n_chars IS NOT NULL
        ), hqh AS (
          SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
          FROM hqt GROUP BY 1
        ), hqc AS (
          SELECT bucket, cnt,
                 CAST(sum(cnt) OVER (ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum
          FROM hqh
        ), hqn AS (
          SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hqh
        ), hqq AS (
          SELECT unnest([{qs}]::DOUBLE[]) AS q
        ), hqtg AS (
          SELECT q,
                 CAST(floor(q * CAST(n - 1 AS DOUBLE)) + 1 AS BIGINT) AS rnk
          FROM hqn CROSS JOIN hqq
        )
        SELECT t.q AS q, t.rnk AS "rank", c.bucket,
               {min_value} + c.bucket * {bucket_width} AS value_lo,
               {min_value} + c.bucket * {bucket_width}
                 + {bucket_width - 1} AS value_hi
        FROM hqtg t JOIN hqc c
          ON c.cum >= t.rnk AND c.cum - c.cnt < t.rnk
        ORDER BY q
    """


def histogram_drift_sql(
    bucket_width: int = 64,
    min_value: int = 0,
    a_where: str = "doc_id % 2 = 0",
    b_where: str = "doc_id % 2 = 1",
) -> str:
    """Twin of ``sketch.value_histogram`` x2 + ``histogram_drift``:
    total-variation distance between the two splits' n_chars
    histograms via HUGEINT cross-multiplication (the engine sums the
    same integers in decimal(20,0) — exact and order-independent in
    both engines), one double division at the end."""
    bexpr = (
        f"CAST(floor(CAST(CAST(n_chars AS BIGINT) - {min_value} AS DOUBLE)"
        f" / {float(bucket_width)!r}) AS BIGINT)"
    )
    return f"""
        WITH hda AS (
          SELECT {bexpr} AS bucket, CAST(count(*) AS BIGINT) AS cnt
          FROM documents WHERE ({a_where}) AND n_chars IS NOT NULL
          GROUP BY 1
        ), hdb AS (
          SELECT {bexpr} AS bucket, CAST(count(*) AS BIGINT) AS cnt
          FROM documents WHERE ({b_where}) AND n_chars IS NOT NULL
          GROUP BY 1
        ), hdj AS (
          SELECT coalesce(a.cnt, 0) AS ca, coalesce(b.cnt, 0) AS cb
          FROM hda a FULL OUTER JOIN hdb b USING (bucket)
        ), hdt AS (
          SELECT coalesce(sum(ca), 0) AS na, coalesce(sum(cb), 0) AS nb,
                 count(*) AS nbk
          FROM hdj
        )
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               CAST(nbk AS BIGINT) AS n_buckets,
               CASE WHEN na > 0 AND nb > 0 THEN
                 CAST((SELECT sum(abs(CAST(ca AS HUGEINT) * nb
                                      - CAST(cb AS HUGEINT) * na))
                       FROM hdj) AS DOUBLE)
                   / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
               END AS tv_distance
        FROM hdt
    """


# --------------------------------------------------------------------------
# weighted sampling (operators/sampling.py: weighted_sample)
# --------------------------------------------------------------------------


def weighted_sample_sql(k: int = 100, salt: str = "ws1") -> str:
    """Twin of ``sampling.weighted_sample`` with weight
    ``greatest(n_chars, 1)``: Efraimidis-Spirakis priority
    ``ln((md5-LE8(salt||doc_id) + 1) / 2^64) / w`` — the ``+1`` (done
    in HUGEINT: md5_number_upper is UBIGINT and 2^64-1 + 1 would
    overflow) and the power-of-two division are exact in doubles, and
    DuckDB ``ln`` == the engine's glibc ``math.log`` bit-exact
    (tests/test_lm.py::test_glibc_ln_parity), so the top-k ORDER and
    the priority doubles hash-compare exactly."""
    return f"""
        WITH wspr AS (
          SELECT doc_id,
                 CAST(greatest(n_chars, 1) AS BIGINT) AS weight,
                 ln(CAST(CAST(md5_number_upper(
                        concat('{salt}', CAST(doc_id AS VARCHAR)))
                      AS HUGEINT) + 1 AS DOUBLE)
                    / 18446744073709551616.0)
                 / CAST(greatest(n_chars, 1) AS DOUBLE) AS priority
          FROM documents
        )
        SELECT doc_id, weight, priority
        FROM wspr
        ORDER BY priority DESC, doc_id ASC
        LIMIT {k}
    """


# --------------------------------------------------------------------------
# HyperLogLog distinct-token sketch (operators/sketch.py)
# --------------------------------------------------------------------------


def hll_distinct_tokens_sql(p: int = 12, salt: str = "") -> str:
    """Twin of ``sketch.hll_distinct_report`` over the documents
    table's whitespace tokens: identical register derivation (md5
    base hash split at bit ``p``, the SHARED bit_length CASE ladder
    from ``sketch.bit_length_case_sql``), EXACT integer harmonic sum
    (``1 << (S - rho)`` summed in HUGEINT vs the engine's
    decimal(38,0)), the same python-double numerator literal, and the
    same ``ln`` small-range branch."""
    from textalyzer_spark.operators.sketch import bit_length_case_sql

    m = 1 << p
    s = 64 - p
    s_max = s + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numerator = alpha * m * m * float(1 << s_max)
    bl = bit_length_case_sql("w", s)
    return f"""
        WITH hlt AS (
          SELECT unnest(list_filter(string_split_regex(text, '{_WS_SQL}'),
                                    x -> x <> '')) AS tok
          FROM documents
        ), hlh AS (
          SELECT tok, md5_number_upper(concat('{salt}', tok)) AS h FROM hlt
        ), hlw AS (
          SELECT CAST(h % {m} AS INT) AS bucket,
                 CAST(h // {m} AS BIGINT) AS w
          FROM hlh
        ), hlreg AS (
          SELECT bucket, MAX({s_max} - ({bl})) AS rho
          FROM hlw GROUP BY 1
        ), hls AS (
          SELECT CAST(count(*) AS BIGINT) AS n_nonzero,
                 coalesce(sum(CAST(CAST(1 AS BIGINT) << ({s_max} - rho)
                                   AS HUGEINT)), 0) AS st
          FROM hlreg
        ), hlx AS (
          SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_exact
          FROM hlt
        ), hlest AS (
          SELECT n_nonzero,
                 CAST({m} - n_nonzero AS BIGINT) AS v_zero,
                 CASE
                   WHEN ({numerator!r} / CAST(st
                          + CAST({1 << s_max} AS HUGEINT)
                            * ({m} - n_nonzero) AS DOUBLE)) <= {2.5 * m!r}
                        AND {m} - n_nonzero > 0
                   THEN {float(m)!r}
                        * ln({float(m)!r} / CAST({m} - n_nonzero AS DOUBLE))
                   ELSE {numerator!r} / CAST(st
                          + CAST({1 << s_max} AS HUGEINT)
                            * ({m} - n_nonzero) AS DOUBLE)
                 END AS hll_estimate
          FROM hls
        )
        SELECT CAST({m} AS INT) AS m, n_nonzero, v_zero, hll_estimate,
               n_distinct_exact,
               (hll_estimate - CAST(n_distinct_exact AS DOUBLE))
                 / CAST(n_distinct_exact AS DOUBLE) AS rel_err
        FROM hlest CROSS JOIN hlx
    """


def _cms_bucket_sql(tok_expr: str, width_p: int, salt: str) -> str:
    """Row-``r`` count-min bucket of ``tok_expr``: the md5-LE8 base
    hash salted ``{salt}cms{r}|`` modulo ``2^width_p`` — identical to
    ``sketch._split_hash``'s low-bits carve."""
    m = 1 << width_p
    return (
        f"CAST(md5_number_upper(concat('{salt}cms', CAST(r AS VARCHAR),"
        f" '|', {tok_expr})) % {m} AS INT)"
    )


def _cms_rows_sql(depth: int) -> str:
    """``(VALUES (0),(1),...)`` relation of the ``depth`` hash rows."""
    vals = ", ".join(f"({i})" for i in range(depth))
    return f"(VALUES {vals}) AS cmrows(r)"


def cms_table_sql(depth: int = 4, width_p: int = 12, salt: str = "") -> str:
    """Twin of the merged-snapshot count-min sketch
    (``sketch.cms_merge`` over even/odd doc_id batch ``cms_table``s):
    counters are sums, so the merge equals the sketch of the union
    EXACTLY — the oracle sketches the whole documents table. A green
    gate is the counter-by-counter cross-engine mergeability proof."""
    return f"""
        WITH cmt AS (
          SELECT unnest(list_filter(string_split_regex(text, '{_WS_SQL}'),
                                    x -> x <> '')) AS tok
          FROM documents
        )
        SELECT r, {_cms_bucket_sql("tok", width_p, salt)} AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM cmt CROSS JOIN {_cms_rows_sql(depth)}
        GROUP BY 1, 2
    """


def cms_token_counts_sql(
    k: int = 20, depth: int = 4, width_p: int = 12, salt: str = ""
) -> str:
    """Twin of ``sketch.cms_token_report`` over the documents table's
    whitespace tokens: identical per-row bucket derivation, exact
    top-``k`` (count desc, token asc), estimate = MIN over rows of the
    counter — every value an exact integer, so the gate is
    bit-identical by construction."""
    bucket = _cms_bucket_sql("tok", width_p, salt)
    return f"""
        WITH cmt AS (
          SELECT unnest(list_filter(string_split_regex(text, '{_WS_SQL}'),
                                    x -> x <> '')) AS tok
          FROM documents
        ), cmtop AS (
          SELECT tok AS value, CAST(count(*) AS BIGINT) AS cnt_exact
          FROM cmt GROUP BY 1
          ORDER BY cnt_exact DESC, value LIMIT {k}
        ), cmsk AS (
          SELECT r, {bucket} AS bucket, CAST(count(*) AS BIGINT) AS cnt
          FROM cmt CROSS JOIN {_cms_rows_sql(depth)}
          GROUP BY 1, 2
        ), cmq AS (
          SELECT value, cnt_exact, r,
                 {_cms_bucket_sql("value", width_p, salt)} AS bucket
          FROM cmtop CROSS JOIN {_cms_rows_sql(depth)}
        ), cme AS (
          SELECT q.value, q.cnt_exact,
                 MIN(coalesce(s.cnt, 0)) AS cnt_cms
          FROM cmq q LEFT JOIN cmsk s ON q.r = s.r AND q.bucket = s.bucket
          GROUP BY 1, 2
        )
        SELECT value, cnt_exact, CAST(cnt_cms AS BIGINT) AS cnt_cms,
               CAST(cnt_cms - cnt_exact AS BIGINT) AS overcount
        FROM cme
    """


def bloom_dedup_sql(
    k_hashes: int = 4, width_p: int = 16, salt: str = ""
) -> str:
    """Twin of ``sketch.bloom_dedup_new`` over the even/odd doc_id
    split: rebuild the even snapshot's DISTINCT bit positions, group
    the odd batch to min-id per md5 fingerprint, and keep rows where
    at least one of the ``k_hashes`` positions is unset. All-integer
    md5 arithmetic — bit-identical by construction."""
    m = 1 << width_p
    pos = (
        f"CAST(md5_number_upper(concat('{salt}bf', CAST(r AS VARCHAR),"
        f" '|', fingerprint)) % {m} AS INT)"
    )
    rows = ", ".join(f"({i})" for i in range(k_hashes))
    return f"""
        WITH bfo AS (
          SELECT md5(text) AS fingerprint
          FROM documents WHERE doc_id % 2 = 0
        ), bfbits AS (
          SELECT DISTINCT {pos} AS bit
          FROM bfo CROSS JOIN (VALUES {rows}) AS bfr(r)
        ), bfn AS (
          SELECT md5(text) AS fingerprint, MIN(doc_id) AS doc_id
          FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
        ), bfp AS (
          SELECT doc_id, fingerprint, {pos} AS bit
          FROM bfn CROSS JOIN (VALUES {rows}) AS bfr(r)
        ), bfhit AS (
          SELECT p.doc_id, p.fingerprint,
                 MIN(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS allhit
          FROM bfp p LEFT JOIN bfbits b ON p.bit = b.bit
          GROUP BY 1, 2
        )
        SELECT doc_id, fingerprint FROM bfhit WHERE allhit = 0
    """


def hll_incremental_sql(p: int = 12, salt: str = "") -> str:
    """Twin of the merged-snapshot estimate
    (``sketch.hll_merge`` + ``hll_estimate`` over even/odd doc_id
    batches): since each register is an associative MAX, the sketch
    of the union equals the merge of per-snapshot sketches EXACTLY —
    so the oracle just sketches the whole documents table. A green
    gate is the cross-engine mergeability proof."""
    from textalyzer_spark.operators.sketch import bit_length_case_sql

    m = 1 << p
    s = 64 - p
    s_max = s + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numerator = alpha * m * m * float(1 << s_max)
    bl = bit_length_case_sql("w", s)
    return f"""
        WITH hit AS (
          SELECT unnest(list_filter(string_split_regex(text, '{_WS_SQL}'),
                                    x -> x <> '')) AS tok
          FROM documents
        ), hih AS (
          SELECT md5_number_upper(concat('{salt}', tok)) AS h FROM hit
        ), hiw AS (
          SELECT CAST(h % {m} AS INT) AS bucket,
                 CAST(h // {m} AS BIGINT) AS w
          FROM hih
        ), hireg AS (
          SELECT bucket, MAX({s_max} - ({bl})) AS rho
          FROM hiw GROUP BY 1
        ), his AS (
          SELECT CAST(count(*) AS BIGINT) AS n_nonzero,
                 coalesce(sum(CAST(CAST(1 AS BIGINT) << ({s_max} - rho)
                                   AS HUGEINT)), 0) AS st
          FROM hireg
        )
        SELECT CAST({m} AS INT) AS m, n_nonzero,
               CAST({m} - n_nonzero AS BIGINT) AS v_zero,
               CASE
                 WHEN ({numerator!r} / CAST(st
                        + CAST({1 << s_max} AS HUGEINT)
                          * ({m} - n_nonzero) AS DOUBLE)) <= {2.5 * m!r}
                      AND {m} - n_nonzero > 0
                 THEN {float(m)!r}
                      * ln({float(m)!r} / CAST({m} - n_nonzero AS DOUBLE))
                 ELSE {numerator!r} / CAST(st
                        + CAST({1 << s_max} AS HUGEINT)
                          * ({m} - n_nonzero) AS DOUBLE)
               END AS hll_estimate
        FROM his
    """
