"""spark-submit entry point (BASELINE.json north_star launch mode:
``spark-submit --py-files textalyzer_spark.zip tools/submit_job.py``).

Runs the tokenize+metrics pipeline over a nested documents table with
per-partition lineage checkpointing, so a killed submission resumes
where it left off.

    spark-submit --py-files <zip> tools/submit_job.py \
        --input  /path/to/nested_documents_parquet \
        --output /path/to/output_dir \
        [--flat]            # input is flat (doc_id, text): synthesize spans
        [--n-buckets 32] [--batches 4]

Build the zip: ``python -c "from textalyzer_spark.shipping import \
ship_package"`` writes one under /tmp on first session use, or just
``cd /root/repo && zip -r textalyzer_spark.zip textalyzer_spark``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--flat", action="store_true")
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--batches", type=int, default=4)
    p.add_argument(
        "--analysis",
        default="tokenize_metrics",
        choices=["tokenize_metrics", "near_dedup", "pii_redact",
                 "exact_dedup", "repetition_stats", "pipeline_clean",
                 "incremental_near_dedup", "corpus_stats",
                 "shard_write", "drift_monitor"],
        help="tokenize_metrics runs the lineage-checkpointed span "
        "pipeline; the others are flat-table batch analyses whose "
        "output lands as parquet under --output",
    )
    p.add_argument(
        "--catalog",
        help="incremental_near_dedup: component-catalog base dir "
        "(snapshot=N layout; created on first run)",
    )
    p.add_argument("--quality-min", type=float, default=0.7)
    p.add_argument("--sample-rate", type=float, default=1.0)
    p.add_argument(
        "--n-shards",
        type=int,
        default=64,
        help="shard_write: number of mixture-preserving output shards",
    )
    p.add_argument(
        "--stratum-col",
        default="source",
        help="shard_write: column every shard must receive in corpus "
        "proportion",
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    # spark-submit owns master/memory/executors; only app-level confs here
    spark = (
        SparkSession.builder.appName(f"textalyzer-{args.analysis}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )
    from textalyzer_spark.lineage import read_lineage, run_with_lineage
    from textalyzer_spark.operators.spans import process_spans_arrow

    docs = spark.read.parquet(args.input)

    if args.analysis != "tokenize_metrics":
        # flat-table batch analyses (input must be (doc_id, text))
        if args.analysis == "near_dedup":
            from textalyzer_spark.operators.near_dedup import near_dedup

            out = near_dedup(docs, method="minhash")
        elif args.analysis == "pii_redact":
            from textalyzer_spark.operators.pii import redact_pii

            out = redact_pii(docs)
        elif args.analysis == "exact_dedup":
            from textalyzer_spark.operators.dedup import exact_dedup

            out = exact_dedup(docs)
        elif args.analysis == "pipeline_clean":
            # the deployed end-to-end artifact (gate twin:
            # __spark_entry__.q_pipeline_clean_sample, minus the PII
            # fixture synthesis — production input already has its
            # PII): quality filter -> redact -> exact dedup -> near
            # dedup -> deterministic sample; output is the CLEAN TEXT
            from pyspark.sql import functions as F

            from textalyzer_spark.operators.near_dedup import near_dedup
            from textalyzer_spark.operators.pii import redact_pii
            from textalyzer_spark.operators.quality import quality_score
            from textalyzer_spark.operators.sampling import hash_sample

            qkeep = (
                quality_score(docs)
                .filter(F.col("quality_score") >= args.quality_min)
                .select("doc_id")
            )
            clean = redact_pii(docs.join(qkeep, "doc_id")).select(
                "doc_id", F.col("clean_text").alias("text")
            )
            keep_exact = (
                clean.groupBy(F.md5("text").alias("_fp"))
                .agg(F.min("doc_id").alias("doc_id"))
                .select("doc_id")
            )
            deduped = clean.join(keep_exact, "doc_id").localCheckpoint()
            nd = near_dedup(deduped, method="minhash")
            kept = deduped.join(nd.filter("keep").select("doc_id"), "doc_id")
            out = hash_sample(kept, args.sample_rate, salt="pipeline")
        elif args.analysis == "incremental_near_dedup":
            # persisted-catalog cluster maintenance: merge this
            # batch's near-dup edges into the prior components, write
            # the advanced snapshot, output the union labels
            if not args.catalog:
                raise SystemExit("--catalog required for incremental_near_dedup")
            from textalyzer_spark.operators import incremental as inc

            try:
                cat = inc.read_catalog(spark, args.catalog)
            except FileNotFoundError:
                cat = None  # the first snapshot
            out, nxt = inc.minhash_components(docs, cat)
            snap = inc.write_catalog_snapshot(nxt, args.catalog)
            print(json.dumps({"catalog_snapshot": snap}))
        elif args.analysis == "shard_write":
            # mixture-preserving training layout: assign every doc a
            # (shard_id, stratum, stratum_pos) via the per-stratum md5
            # round-robin and WRITE the corpus partitioned by shard —
            # a trainer streaming any single shard directory sees the
            # corpus mixture. The parquet writer clusters each shard's
            # rows; repartition on shard_id keeps one writer task per
            # shard file set.
            from textalyzer_spark.operators.packing import (
                stratified_shard_plan,
            )

            plan = stratified_shard_plan(
                docs,
                n_shards=args.n_shards,
                stratum_col=args.stratum_col,
                salt="shardw",
            )
            out = (
                docs.join(plan.select("doc_id", "stratum_pos", "shard_id"),
                          "doc_id")
                .repartition("shard_id")
            )
            out.write.mode("overwrite").partitionBy("shard_id").parquet(
                args.output
            )
            print(json.dumps({"analysis": "shard_write",
                              "n_shards": args.n_shards}))
            return
        elif args.analysis == "drift_monitor":
            # batch CLI twin of streaming kind='drift': TV distance of
            # THIS batch's length distribution vs the catalog-so-far,
            # then commit the merged histogram snapshot
            if not args.catalog:
                raise SystemExit("--catalog required for drift_monitor")
            from pyspark.sql import functions as F

            from textalyzer_spark.operators import incremental as inc
            from textalyzer_spark.operators import sketch as sk

            batch_hist = sk.value_histogram(
                docs.select(F.length("text").alias("_len")),
                "_len",
                bucket_width=64,
            ).localCheckpoint()  # drift + merge = two actions
            try:
                cat = inc.read_catalog(spark, args.catalog)
            except FileNotFoundError:
                cat = spark.createDataFrame([], "bucket bigint, cnt bigint")
            out = sk.histogram_drift(cat, batch_hist)
            snap = inc.write_catalog_snapshot(
                sk.histogram_merge(cat, batch_hist), args.catalog
            )
            print(json.dumps({"catalog_snapshot": snap}))
        elif args.analysis == "corpus_stats":
            # mergeable sketch-catalog maintenance: fold this batch's
            # whitespace tokens into the persisted HLL and count-min
            # registers (O(sketch) state per snapshot, never a corpus
            # re-scan) and output the running distinct/mass report
            if not args.catalog:
                raise SystemExit("--catalog required for corpus_stats")
            from pyspark.sql import functions as F

            from textalyzer_spark.functions.tokenize import ws_tokens_col
            from textalyzer_spark.operators import incremental as inc
            from textalyzer_spark.operators import sketch as sk

            toks = docs.select(F.explode(ws_tokens_col("text")).alias("tok"))
            hll = sk.hll_registers(toks, "tok")
            cms = sk.cms_table(toks, "tok")
            try:
                hll = sk.hll_merge(
                    inc.read_catalog(spark, f"{args.catalog}/hll"), hll
                )
            except FileNotFoundError:
                pass  # first hll snapshot
            try:
                cms = sk.cms_merge(
                    inc.read_catalog(spark, f"{args.catalog}/cms"), cms
                )
            except FileNotFoundError:
                pass  # first cms snapshot
            hll = hll.localCheckpoint()  # report + snapshot = 2 actions
            cms = cms.localCheckpoint()
            s1 = inc.write_catalog_snapshot(hll, f"{args.catalog}/hll")
            s2 = inc.write_catalog_snapshot(cms, f"{args.catalog}/cms")
            out = sk.hll_estimate(hll).crossJoin(
                F.broadcast(
                    cms.agg(
                        # coalesce: an empty first batch must report 0
                        # mass, not NULL (matches the streaming twin)
                        F.coalesce(
                            F.sum("cnt"), F.lit(0).cast("bigint")
                        ).alias("cms_total_cnt"),
                        F.count(F.lit(1)).alias("cms_n_counters"),
                    )
                )
            )
            print(json.dumps({"hll_snapshot": s1, "cms_snapshot": s2}))
        else:
            from textalyzer_spark.operators.quality import repetition_stats

            out = repetition_stats(docs)
        t0 = time.time()
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(
            json.dumps(
                {
                    "analysis": args.analysis,
                    "rows_written": n,
                    "wall_seconds": round(time.time() - t0, 1),
                }
            )
        )
        spark.stop()
        return
    if args.flat:
        from textalyzer_spark.corpus import nested_from_flat

        docs = nested_from_flat(docs)

    from pyspark.sql import functions as F

    def transform(part):
        # re-derive the bucket on the output (the Arrow stage replaces
        # the input columns, so the lineage bucket must be recomputed
        # from doc_id — same hash, same assignment). mapInArrow variant:
        # spans stay a pyarrow ListArray end to end (BENCH.md — the
        # fused mapInPandas variant materializes every span struct as a
        # python dict in both directions and measured ~2.5x slower)
        processed = process_spans_arrow(part.drop("bucket"))
        return processed.withColumn(
            "bucket",
            F.pmod(
                F.xxhash64(F.col("doc_id").cast("string")), F.lit(args.n_buckets)
            ).cast("int"),
        )

    t0 = time.time()
    result = run_with_lineage(
        docs,
        transform,
        args.output,
        n_buckets=args.n_buckets,
        batches=args.batches,
    )
    n = result.count()
    lineage = read_lineage(spark, args.output)
    print(
        json.dumps(
            {
                "docs_processed": n,
                "buckets": lineage.count(),
                "wall_seconds": round(time.time() - t0, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
