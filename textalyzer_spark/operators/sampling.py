"""Deterministic hash sampling / stratified corpus mixing.

The data-mixing step of a training-data pipeline: downsample each
stratum (language, quality band, source domain) at its own rate to
hit a target mixture. Sampling is DETERMINISTIC per document — the
keep decision is a pure function of (salt, doc_id), so

* a re-run (or a resumed run over a subset of partitions) keeps
  exactly the same documents — no RNG state, no seed-per-partition
  coupling to the physical plan (``df.sample`` re-draws under AQE
  re-planning / task retries; this never does);
* the decision is reproducible across engines: the uniform variate is
  ``md5-LE8(salt || doc_id) / 2^64`` — the engine's cross-engine hash
  (== DuckDB ``md5_number_upper``), cast to double identically on
  both sides, so the DuckDB twin is value-exact;
* at 10^12 docs it is a stateless filter on the scan — no shuffle,
  full predicate/column pushdown around it.
"""

from __future__ import annotations

import math
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from textalyzer_spark.functions.hashing import md5_le8_col

_TWO64 = float(1 << 64)


def sample_u(id_col: Column | str, salt: str = "") -> Column:
    """The deterministic uniform variate in [0, 1): md5-LE8 of
    ``salt || doc_id`` divided by 2^64 (double; bit-identical in the
    DuckDB twin)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = md5_le8_col(F.concat(F.lit(salt), c.cast("string")))
    return (h.cast("double") / F.lit(_TWO64)).alias("u")


def hash_sample(
    df: DataFrame,
    rate: float,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Keep each row iff its deterministic variate < ``rate``."""
    return df.filter(sample_u(id_col, salt) < F.lit(float(rate)))


def corpus_mixture(
    df: DataFrame,
    bucket_col: str,
    n_tokens_col: str | Column | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """The mixture report a sampling run is tuned against: per
    stratum, ``(bucket, n_docs, n_tokens, frac_docs, frac_tokens)``
    — document and token mass shares (unrounded count ratios).

    One hash aggregation on the stratum key plus a broadcast of the
    1-row corpus totals; at 10^12 docs the stratum cardinality is
    tiny (languages, domains, quality bands), so the shuffle carries
    one row per (partition, stratum)."""
    n_tok = (
        F.col(n_tokens_col) if isinstance(n_tokens_col, str)
        else n_tokens_col
    )
    if n_tok is None:
        # size of the tokenizer's array == number of maximal
        # alphabetic runs; regexp_count stays in codegen where the
        # split+filter+transform HOF chain ran interpreted (round 8)
        n_tok = F.regexp_count(F.col("text"), F.lit(r"\p{IsAlphabetic}+"))
    per = df.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok.cast("bigint")).alias("n_tokens"),
    )
    totals = per.agg(
        F.sum("n_docs").alias("_td"), F.sum("n_tokens").alias("_tt")
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            (F.col("n_docs") / F.col("_td").cast("double")).alias("frac_docs"),
            (F.col("n_tokens") / F.col("_tt").cast("double")).alias(
                "frac_tokens"
            ),
        )
    )


def solve_mixture_rates(
    available: dict[str, float],
    target: dict[str, float],
    budget: float | None = None,
) -> dict[str, float]:
    """SOLVE per-stratum keep rates from a target mixture — the pure
    function closing the loop between :func:`corpus_mixture` (what IS
    the mixture) and :func:`stratified_sample` (apply given rates),
    so the two compose without hand-tuning.

    ``available``: mass per bucket (tokens or docs — whatever
    :func:`corpus_mixture` column the mixture is defined over).
    ``target``: desired mixture shares over the buckets to keep
    (normalized internally over its positive entries; buckets absent
    from ``target`` get rate 0.0). ``budget``: optional cap on total
    sampled mass.

    The solver maximizes total sampled mass T subject to the exact
    mixture and per-bucket availability: T* = min_b available_b /
    target_b (then min with ``budget``), rate_b = T* x target_b /
    available_b. At T* the scarcest bucket is kept at rate 1.0 and
    every other bucket downsamples proportionally — the standard
    tokens-proportional mixture solve. A targeted bucket with zero
    availability makes the exact mixture infeasible: T* = 0, all
    rates 0 (explicit, never silently renormalized).

    Expected mass is E[kept_b] = rate_b x available_b; the realized
    sample deviates by the usual binomial noise, so mixture
    assertions need sqrt-scale tolerance (pinned in pytest)."""
    tot_t = sum(v for v in target.values() if v > 0)
    if tot_t <= 0:
        raise ValueError("target mixture has no positive share")
    tgt = {k: v / tot_t for k, v in target.items() if v > 0}
    feasible = min(
        float(available.get(k, 0.0)) / v for k, v in tgt.items()
    )
    if budget is not None:
        feasible = min(feasible, float(budget))
    return {
        k: (
            feasible * v / float(available[k])
            if float(available.get(k, 0.0)) > 0
            else 0.0
        )
        for k, v in tgt.items()
    }


def solve_rates_from_mixture_report(
    mixture: DataFrame,
    target: dict[str, float],
    mass_col: str = "n_tokens",
    budget: float | None = None,
) -> dict[str, float]:
    """:func:`solve_mixture_rates` fed directly from a
    :func:`corpus_mixture` report DataFrame (collects one row per
    stratum — languages/domains/bands, never corpus-sized)."""
    avail = {
        r["bucket"]: float(r[mass_col]) for r in mixture.collect()
    }
    return solve_mixture_rates(avail, target, budget)


def stratified_sample(
    df: DataFrame,
    bucket_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its variate
    < ``rates.get(bucket, default_rate)``. Adds the ``u`` column (the
    variate) so the decision is auditable; strata are matched with a
    literal CASE chain in sorted-key order (pinned, oracle-mirrored).
    """
    rate = F.lit(float(default_rate))
    for k in sorted(rates, reverse=True):
        rate = F.when(F.col(bucket_col) == k, F.lit(float(rates[k]))).otherwise(
            rate
        )
    u = sample_u(id_col, salt)
    return df.withColumn("u", u).filter(F.col("u") < rate)


@lru_cache(maxsize=1)
def _ln_kernel():
    """Per-worker choice of the cross-engine-exact ``ln`` kernel
    (glibc ``log`` == DuckDB's ``ln``), resolved ONCE per python
    worker by a bit-exactness probe:

    * vectorized ``np.log`` — IF it matches ``math.log`` bitwise on a
      128k-value probe of the (0, 1] variate domain (plus near-1 and
      denormal-edge values). True when numpy's AVX512 SIMD float64
      log is off (session.py exports ``NPY_DISABLE_CPU_FEATURES=
      AVX512F`` to the workers), making numpy fall back to a C loop
      over glibc ``log``: vectorized speed, glibc bits.
    * else ``np.fromiter(map(math.log, ...))`` — the fastest
      interpreter-side scalar form (1.9x the naive list
      comprehension, measured), bit-exact by construction.

    The A/B the round-6 review asked for ("np.log then repair the
    ulp-disagreeing elements") is infeasible on this numpy: the SIMD
    path disagrees on ~20% of (0,1] inputs and detection would itself
    require the scalar recompute — hence probe-and-select instead.
    """
    import numpy as np

    rng = np.random.RandomState(0xA5)
    h = rng.randint(0, 2**63, 1 << 16, dtype=np.int64).astype(np.float64)
    probe = np.concatenate(
        [
            (h + 1.0) / _TWO64,
            rng.random(1 << 16),
            np.exp2(-np.arange(1.0, 64.0)),  # power-of-two spine
            1.0 - np.arange(1.0, 64.0) * np.finfo(np.float64).eps,  # near 1
            np.array([1.0, np.nextafter(0.0, 1.0), 1e-300, 5e-324]),
        ]
    )
    probe = probe[probe > 0.0]
    ref = np.fromiter(
        map(math.log, probe.tolist()), dtype=np.float64, count=len(probe)
    )

    def _avx512_log_possible() -> bool:
        """True when numpy could still dispatch an AVX512 SIMD log —
        i.e. the session.py NPY_DISABLE_CPU_FEATURES export did NOT
        take effect (ADVICE r7: the value probe alone is inductive; a
        SIMD build agreeing on the probe but diverging elsewhere would
        silently break bit-exactness). If the feature state cannot be
        read, assume the worst."""
        try:
            from numpy.core._multiarray_umath import (  # type: ignore
                __cpu_features__,
            )

            return bool(__cpu_features__.get("AVX512F", False))
        except Exception:
            return True

    if bool((np.log(probe) == ref).all()) and not _avx512_log_possible():
        return np.log
    return lambda a: np.fromiter(
        map(math.log, a.tolist()), dtype=np.float64, count=len(a)
    )


def _ln_udf():
    """The exact-``ln`` kernel (:func:`_ln_kernel`) as an
    Arrow-batched vector UDF — the cross-engine-exact ``ln``
    (== DuckDB's; the operators/lm.py / selection.py recipe)."""

    @F.pandas_udf("double")
    def lnv(u: pd.Series) -> pd.Series:
        return pd.Series(_ln_kernel()(u.to_numpy()), dtype="float64")

    return lnv


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str | Column,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006, "Weighted random sampling with a reservoir"): keep the
    ``k`` rows with the largest priority ``ln(u) / w``, where ``u``
    is the deterministic md5 variate — each row's inclusion odds are
    proportional to its weight (quality score, token mass, ...), the
    standard quality-weighted corpus subsetting step.

    ``ln(u)/w`` is the log of the A-ES key ``u^(1/w)`` (monotone, so
    the top-k is identical) and keeps the arithmetic to one ``ln``
    plus one division. Determinism contract as
    :func:`stratified_sample`: the priority is a pure function of
    ``(salt, id)`` — stable under re-runs, task retries, AQE
    re-planning, and engines. ``u = (md5-LE8(salt||id) + 1) / 2^64``
    ∈ (0, 1] so ``ln`` is always defined; the ``+1`` and the
    power-of-two division are both exact in doubles. The ``ln`` is
    the probe-selected glibc-exact kernel (:func:`_ln_kernel` —
    vectorized when numpy's SIMD log is off, bit-exact always); a
    Spark-only deployment can swap in JVM ``F.log`` — it agrees to
    ≤1 ulp, which only ever matters to the oracle's hash compare.

    Scale shape: a stateless per-row projection followed by
    ``TakeOrderedAndProject`` (per-partition partial top-k, then a
    k-row merge on the driver) — NO shuffle of the corpus, no global
    sort. Weights must be > 0: enforced in-plan via ``raise_error``
    (a silent clamp would skew the sample).

    Returns ``(id, weight, priority)`` ordered by priority desc, id
    asc (pinned tiebreak)."""
    if k < 1:
        raise ValueError("sample size k must be >= 1")
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    w = F.when(
        w <= 0,
        F.raise_error(
            F.concat(
                F.lit("weighted_sample: nonpositive weight for id "),
                F.col(id_col).cast("string"),
            )
        ),
    ).otherwise(w)
    h = md5_le8_col(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    u = (h + F.lit(1)).cast("double") / F.lit(_TWO64)
    lnv = _ln_udf()
    scored = df.select(
        F.col(id_col),
        w.cast("bigint").alias("weight"),
        u.alias("_u"),
    ).select(
        id_col,
        "weight",
        (lnv(F.col("_u")) / F.col("weight").cast("double")).alias("priority"),
    )
    return scored.orderBy(
        F.col("priority").desc(), F.col(id_col).asc()
    ).limit(k)


def cap_per_stratum(
    df: DataFrame,
    cap: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
    num_buckets: int = 64,
) -> DataFrame:
    """Keep at most ``cap`` rows per stratum — the head-domain
    suppression step of a web pipeline (RefinedWeb §"URL dedup",
    C4's per-host caps): a handful of giant sources must not dominate
    the training mixture, but every stratum should keep up to its
    quota. Selection is deterministic: each stratum keeps its ``cap``
    rows of LOWEST md5 variate ``u`` (doc_id tiebreak), so re-runs,
    retries, and the DuckDB twin agree row-for-row.

    Scale shape (100 TB): the naive form — ``row_number() OVER
    (PARTITION BY stratum ORDER BY u)`` — pins a mega-source into ONE
    sort task. This nests the two-level bucketed rank
    (operators/order_stats.py) inside each stratum, with a prune the
    quantile operator can't use:

    1. bucket by the variate itself, ``b = floor(u * num_buckets)``
       (order-preserving: lower bucket => strictly lower u);
    2. per-(stratum, bucket) counts -> exclusive prefix offsets
       (windows only over the O(strata x num_buckets) count table);
    3. **buckets whose offset already reaches ``cap`` are dropped
       BEFORE any window** — the broadcast inner join against live
       buckets prunes ~(1 - num_buckets^-1 x cap/n) of a mega-source
       at the scan;
    4. intra-bucket ``row_number`` partitioned by (stratum, bucket),
       kept while ``offset + rank <= cap``.

    Rows entering a window per stratum ~= cap + n/num_buckets; size
    ``num_buckets ~ n_max/cap`` so live buckets hold O(cap) rows.
    The live-bucket join is deliberately NOT hint-forced to broadcast:
    the table is <= n_strata x num_buckets rows, and at per-HOST cap
    granularity (millions of strata) that exceeds the driver/broadcast
    limit — AQE sees the runtime size and picks broadcast when it
    fits, a shuffled hash join when it doesn't (both correct; ADVICE
    r6). Output: ``(id, stratum, u)``."""
    from pyspark.sql import Window

    if cap < 1:
        raise ValueError("cap must be >= 1")
    t = df.select(
        F.col(id_col).alias("_id"),
        F.col(stratum_col).alias("_s"),
        sample_u(id_col, salt).alias("u"),
    ).withColumn(
        "_b", F.floor(F.col("u") * F.lit(float(num_buckets))).cast("long")
    )
    btot = t.groupBy("_s", "_b").agg(F.count(F.lit(1)).alias("_bn"))
    boff_w = (
        Window.partitionBy("_s")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    live = (
        btot.select(
            "_s",
            "_b",
            F.coalesce(F.sum("_bn").over(boff_w), F.lit(0).cast("long")).alias(
                "_off"
            ),
        )
        .filter(F.col("_off") < cap)
    )
    pruned = t.join(live, ["_s", "_b"])
    intra_w = Window.partitionBy("_s", "_b").orderBy("u", "_id")
    return (
        pruned.withColumn("_r", F.row_number().over(intra_w).cast("long"))
        .filter(F.col("_off") + F.col("_r") <= cap)
        .select(
            F.col("_id").alias(id_col),
            F.col("_s").alias(stratum_col),
            "u",
        )
    )


def weighted_sample_merge(
    *samples: DataFrame, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Merge persisted A-ES samples: the top-``k`` by priority of the
    UNION of per-snapshot top-``k`` tables — EXACTLY the weighted
    sample of the union corpus, because every union-corpus winner is
    a winner within its own snapshot (priorities are pure functions
    of (salt, id), so stored rows never need re-scoring).

    This makes :func:`weighted_sample` the third mergeable bounded
    summary beside the HLL and count-min catalogs
    (operators/sketch.py): persist one k-row table per ingest batch
    (:mod:`operators.incremental` layout) and fold them — O(k) state
    per snapshot, never a corpus re-scan.

    Contract (NOT checkable from the k-row tables themselves — ADVICE
    r6): every input must be ``weighted_sample(..., k' >= k)`` over
    its own batch, all built with the SAME salt, over DISJOINT id
    sets. A smaller-k' input may have already evicted a union-corpus
    winner, and a re-salted input carries incomparable priorities —
    either silently biases the merge. The schema is checked here;
    the salt/k'/disjointness discipline is the snapshot layout's job
    (one salt per catalog lineage, fixed k', batch = new ids only)."""
    if k < 1:
        raise ValueError("sample size k must be >= 1")
    if not samples:
        raise ValueError("need at least one sample table")
    want = {id_col, "weight", "priority"}
    for i, s in enumerate(samples):
        if not want.issubset(set(s.columns)):
            raise ValueError(
                f"sample {i} is not a weighted_sample table: has "
                f"{s.columns}, needs {sorted(want)} — merge inputs must "
                f"be weighted_sample(..., k'>=k) outputs built with one "
                f"shared salt over disjoint id sets"
            )
    out = samples[0]
    for other in samples[1:]:
        out = out.unionByName(other)
    return out.orderBy(
        F.col("priority").desc(), F.col(id_col).asc()
    ).limit(k)
