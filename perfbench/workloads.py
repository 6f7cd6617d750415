"""The three workloads. Each generates its input from the seed, runs it
through the engine's public functions, and checks every pass's output.

* ``extract`` — the interleaved corpus through
  ``spans.process_spans_arrow`` into a noop sink: one narrow stage bound
  by the Python kernel (tokenize + syllables), no shuffle.
* ``clean`` — the registered ``pipeline_clean_sample`` gate (quality →
  PII → exact dedup → minhash near-dedup → connected components →
  stratified sample) over a corpus with planted duplicate families:
  barrier- and shuffle-bound, light kernel work.
* ``ingest`` — the same kind of corpus landing as micro-batches through
  ``streaming.streaming_catalog_maintenance(method="minhash")``: each
  batch reads the growing catalog and writes its output plus a new
  catalog snapshot.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import gen


@dataclass
class PassResult:
    seconds: float
    batches: list[float] = field(default_factory=list)
    attempts: int = 1
    failures: int = 0
    error: str = ""

    @property
    def ok(self) -> bool:
        return self.failures == 0


def _timed_pass(fn) -> PassResult:
    """Run ``fn() -> list of error strings``; a raise is a failed pass."""
    t0 = time.perf_counter()
    try:
        errors = fn()
    except Exception as exc:  # noqa: BLE001 — a failing pass is a result
        return PassResult(time.perf_counter() - t0, failures=1, error=repr(exc)[:500])
    secs = time.perf_counter() - t0
    return PassResult(secs, [secs], failures=1 if errors else 0, error="; ".join(errors))


class Extract:
    """60k docs, 32 files: the tokenize+metrics north-star metric."""

    N_DOCS = 60_000
    N_FILES = 32
    # prepare() already runs a Python-kernel job, so one warm-up pass
    # reaches steady pass times
    WARMUP = 1
    MIN_PASSES = 5

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.tracer = seed, tracer
        self.input = os.path.join(work, "nested")
        self.n_docs = self.N_DOCS

    def generate(self) -> None:
        self.texts = gen.flat_corpus(self.seed, self.N_DOCS).column("text").to_pylist()
        gen.write_table(self.input, gen.nested_table(self.seed, self.texts), self.N_FILES)

    @staticmethod
    def _tenth():
        """The docs whose id ends in 0: the tenth the span metrics are
        summed over."""
        from pyspark.sql import functions as F

        return F.col("doc_id").endswith("0")

    def _checks(self):
        """Order-insensitive row digest of (doc_id, spans), plus the span
        metrics summed over ``_tenth()``."""
        from pyspark.sql import functions as F

        sub = self._tenth()
        return [
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.pmod(F.xxhash64("doc_id", "spans"), F.lit(1 << 40))).alias("digest"),
        ], [
            F.sum(F.when(sub, F.col(c)).otherwise(0)).alias(c)
            for c in ("n_text_spans", "n_media_spans", "n_tokens", "n_syllables")
        ]

    def prepare(self, spark) -> None:
        from textalyzer_spark.functions.syllables import count_syllables
        from textalyzer_spark.functions.tokenize import tokenize_text
        from textalyzer_spark.operators.spans import process_spans

        docs = spark.read.parquet(self.input)
        ident, sums = self._checks()
        self.expected = docs.select(*ident).first().asDict()
        # the reference twin, once, on the same tenth the passes sum over
        self.expected.update(
            process_spans(docs.filter(self._tenth())).select(*sums).first().asDict()
        )
        # the functions layer alone, in this process, on that tenth
        sub = [t for i, t in enumerate(self.texts) if i % 10 == 0]
        n_tok = n_syl = 0
        with self.tracer.span("functions"):
            for text in sub:
                toks = tokenize_text(text)
                n_tok += len(toks)
                n_syl += sum(count_syllables(t) for t in toks)
        if (n_tok, n_syl) != (self.expected["n_tokens"], self.expected["n_syllables"]):
            raise RuntimeError(
                f"reference twin disagrees with the functions layer: "
                f"{self.expected} vs tokens={n_tok} syllables={n_syl}"
            )
        del self.texts

    def run_pass(self, spark) -> PassResult:
        from pyspark.sql import Observation

        from textalyzer_spark.operators.spans import process_spans_arrow
        from textalyzer_spark.sources.readers import read_documents_parquet

        def once():
            ident, sums = self._checks()
            obs = Observation()
            with self.tracer.span("sources"):
                docs = read_documents_parquet(spark, self.input)
            with self.tracer.span("spans"):
                out = process_spans_arrow(docs).observe(obs, *ident, *sums)
                out.write.format("noop").mode("overwrite").save()
                got = obs.get
            return [f"{k}: {got.get(k)} != {v}" for k, v in self.expected.items() if got.get(k) != v]

        return _timed_pass(once)

    def work_counts(self, spark) -> dict:
        return {}


# the footer synthesize_pii appends, after redact_pii masks it
_PII_FOOTER = " contact <EMAIL> from <IP> tel <PHONE>"


class Clean:
    """3k docs, 16 files; 5% exact and 10% near duplicates planted."""

    N_DOCS = 3_000
    N_FILES = 16
    # the first pass compiles every plan (~15 s); passes 2–3 are still
    # 15–30% slower than pass 4 on, so three are warm-up
    WARMUP = 3
    MIN_PASSES = 3

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.tracer = seed, tracer
        self.sf_dir = os.path.join(work, "sf")
        self.n_docs = self.N_DOCS
        self.digest = None

    def generate(self) -> None:
        table = gen.flat_corpus(self.seed, self.N_DOCS, 0.05, 0.10)
        gen.write_table(os.path.join(self.sf_dir, "documents.parquet"), table, self.N_FILES)
        texts = table.column("text").to_pylist()
        # kept doc -> md5 of its redacted text: proves kept is a subset of input
        self.clean_md5 = {
            i + 1: hashlib.md5((t + _PII_FOOTER).encode()).hexdigest()
            for i, t in enumerate(texts)
        }

    def prepare(self, spark) -> None:
        pass

    def run_pass(self, spark) -> PassResult:
        import __spark_entry__ as entry

        def once():
            with self.tracer.span("entry"):
                rows = entry.q_pipeline_clean_sample(spark, self.sf_dir).collect()
            return self._check(sorted((r["doc_id"], r["clean_md5"], r["u"]) for r in rows))

        return _timed_pass(once)

    def _check(self, rows) -> list[str]:
        errors = []
        if not rows:
            errors.append("nothing kept")
        if any(self.clean_md5.get(d) != m for d, m, _ in rows):
            errors.append("a kept doc is not an input doc's redacted text")
        if len({m for _, m, _ in rows}) != len(rows):
            errors.append("two kept docs share a clean-text md5")
        digest = hashlib.sha256(repr(rows).encode()).hexdigest()
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            errors.append("output differs from the first pass")
        return errors

    def work_counts(self, spark) -> dict:
        cap = self.tracer.captured
        out = {}
        if "minhash_lsh_pairs" in cap:
            out["dedup.pairs"] = cap["minhash_lsh_pairs"][1].count()
        if "connected_components" in cap:
            (edges, *_), labels = cap["connected_components"]
            out["graph.edges"] = edges.select("src", "dst").distinct().count()
            out["graph.components"] = labels.select("component").distinct().count()
        if "near_dedup" in cap:
            out["near_dedup.kept"] = cap["near_dedup"][1].filter("keep").count()
        return out


class Ingest:
    """3 micro-batches of 1.5k docs; 15% near duplicates across batches."""

    N_BATCHES = 3
    BATCH_DOCS = 1_500
    FILES_PER_BATCH = 4
    # the cold pass (~20 s) warms the stream start-up and both batch
    # shapes (empty and non-empty prior catalog); later passes still get
    # faster, but a second warm-up pass does not fit the run budget
    WARMUP = 1
    MIN_PASSES = 2

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.tracer, self.work = seed, tracer, work
        self.n_docs = self.N_BATCHES * self.BATCH_DOCS
        self.digest = None
        self.counts: dict = {}
        self.passes = 0

    def generate(self) -> None:
        # the columns the streaming job's input schema declares
        table = gen.flat_corpus(self.seed, self.n_docs, 0.0, 0.15).select(["doc_id", "text"])
        self.batch_dirs = []
        for b in range(self.N_BATCHES):
            d = os.path.join(self.work, "batches", str(b))
            lo = b * self.BATCH_DOCS
            gen.write_table(d, table.slice(lo, self.BATCH_DOCS), self.FILES_PER_BATCH)
            self.batch_dirs.append(d)

    def prepare(self, spark) -> None:
        pass

    def run_pass(self, spark) -> PassResult:
        from textalyzer_spark.streaming.jobs import streaming_catalog_maintenance

        self.passes += 1
        base = os.path.join(self.work, f"pass{self.passes}")
        dirs = {k: os.path.join(base, k) for k in ("in", "catalog", "out", "ckpt")}
        os.makedirs(dirs["in"])
        lat, errors, failed = [], [], 0
        try:
            for b, src in enumerate(self.batch_dirs):
                for name in sorted(os.listdir(src)):  # the batch lands
                    shutil.copy(os.path.join(src, name), os.path.join(dirs["in"], f"b{b}-{name}"))
                t0 = time.perf_counter()
                try:
                    with self.tracer.span("incremental"):
                        streaming_catalog_maintenance(
                            spark, dirs["in"], dirs["catalog"], dirs["out"], dirs["ckpt"],
                            method="minhash",
                        )
                except Exception as exc:  # noqa: BLE001 — a failing batch is a result
                    errors.append(f"batch {b}: {exc!r}"[:500])
                    failed += 1
                lat.append(time.perf_counter() - t0)
            if not errors:
                errors = self._check(dirs)
                failed = len(lat) if errors else 0  # a wrong output fails every batch
        finally:
            shutil.rmtree(base, ignore_errors=True)
        return PassResult(sum(lat), lat, attempts=len(lat), failures=failed,
                          error="; ".join(errors))

    def _check(self, dirs) -> list[str]:
        import pyarrow.dataset as ds

        errors = []
        pairs = sorted(
            (r["batch"], r["doc_old"], r["doc_new"], r["est_jaccard"])
            for r in ds.dataset(dirs["out"], format="parquet", partitioning="hive")
            .to_table().to_pylist()
        )
        for batch, old, new, _ in pairs:
            lo = batch * self.BATCH_DOCS
            if not (0 < old <= lo < new <= lo + self.BATCH_DOCS):
                errors.append(f"pair ({old}, {new}) is not prior-catalog x batch {batch}")
                break
        snap = os.path.join(dirs["catalog"], f"snapshot={self.N_BATCHES}")
        cat_rows = ds.dataset(snap, format="parquet").count_rows()
        if cat_rows != self.n_docs:
            errors.append(f"catalog has {cat_rows} rows, ingested {self.n_docs}")
        digest = hashlib.sha256(repr(pairs).encode()).hexdigest()
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            errors.append("output differs from the first pass")
        self.counts = {
            "dedup.pairs": len(pairs),
            "incremental.catalog_rows": cat_rows,
            "incremental.snapshot_bytes": sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(snap) for f in fs if f.endswith(".parquet")
            ),
        }
        return errors

    def work_counts(self, spark) -> dict:
        return dict(self.counts)


WORKLOADS = {"extract": Extract, "clean": Clean, "ingest": Ingest}
