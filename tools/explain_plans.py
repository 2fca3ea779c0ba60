"""Dump .explain('formatted') for the engine's key plans to
BENCH/plans.txt — evidence of plan quality (pushdown, broadcast joins,
column pruning, no stray shuffles). Planning only, apart from schema
inference and one small pipeline run whose routed sink the aggregate
plans read (through a materialized cache)."""

from __future__ import annotations

import io
import os
import shutil
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main():
    from log2seq_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(master="local[4]", shuffle_partitions=8,
                      app_name="l2s-explain")
    spark.sparkContext.setLogLevel("ERROR")

    sections = []

    # the flagship pipeline plan over a turns frame
    from log2seq_spark.sources.transcripts import transcripts
    from log2seq_spark.plans import pipeline as pl
    turns = transcripts(spark, 50, seed=42, partitions=4)
    cfg = pl.PipelineConfig(out_dir="unused")
    sections.append(("pipeline: enriched_turns",
                     pl.enriched_turns(spark, turns, cfg)))
    # a resumed run drops committed buckets from the raw turns: the
    # bucket Filter sits below the shuffle and the MapInArrow parse
    resumed = turns.filter(~pl.bucket_of(cfg.n_buckets).isin([0, 1, 2]))
    sections.append(("pipeline: enriched_turns on resume (buckets 0-2 "
                     "committed)", pl.enriched_turns(spark, resumed, cfg)))
    # the aggregate phase over the bucket-partitioned cache: the cache
    # holds the only Exchange, the aggregates add none
    import tempfile
    agg_dir = tempfile.mkdtemp(prefix="l2s-explain-")
    agg_cfg = pl.PipelineConfig(out_dir=agg_dir, n_buckets=8, partitions=8)
    lineage = pl.run_pipeline(spark, turns, agg_cfg, resume=False).lineage_id
    cache = pl.bucket_cache(spark, agg_cfg, lineage).persist()
    # materialized, as the pipeline's stats collect leaves it: only then
    # does the planner see the cache's hash partitioning on bucket
    cache.count()
    sections.append(("pipeline: aggregate bucket stats (off the "
                     "bucket-partitioned cache)", pl.bucket_stats(cache)))
    for name, table in pl.bucket_aggregates(cache, agg_cfg).items():
        sections.append((f"pipeline: aggregate {name} (off the "
                         "bucket-partitioned cache)", table))

    # storage-layout + admission-gate plans (round 4): the Z-value is
    # pure codegen'd bitwise expressions; the gate is ONE aggregate
    from log2seq_spark.operators import expectations as ex
    from log2seq_spark.operators.layout import with_zorder, _Z
    from pyspark.sql import functions as F
    zdf = (with_zorder(turns.select("conv_id", "turn_idx", "ts"),
                       ["turn_idx", "ts"], bits=8)
           .repartitionByRange(8, F.col(_Z)).sortWithinPartitions(_Z))
    sections.append(("layout: zorder_write shuffle+sort plan", zdf))
    checks = ex.transcript_checks() + [ex.unique("conv_id")]
    agg_cols = [F.count(F.lit(1)).alias("__n_rows")]
    for i, c in enumerate(checks):
        agg_cols += [col.alias(f"c{i}{a}") for a, col in c.aggs.items()]
    sections.append(("expectations: all checks in one aggregate",
                     turns.agg(*agg_cols)))

    # session-3 standalone operators (their driver legs appear under the
    # query sections too; these show the bare operator plans)
    import datetime as dt
    from log2seq_spark.operators import (anomaly, eventseq, fuzzyjoin,
                                         gapfill, pca, scrub)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    sections.append(("anomaly: robust_outliers (rank-median x2 + "
                     "broadcast stats join-back)",
                     anomaly.robust_outliers(
                         ev.select("event_type", "value"))))
    buckets = (ev.groupBy("event_type",
                          F.date_trunc("hour", F.col("ts")).alias("h"))
                 .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                       .cast("double").alias("v")))
    sections.append(("gapfill: fill_gaps (per-key spine + one fused "
                     "Window for both fills)",
                     gapfill.fill_gaps(buckets, "event_type", "h", "v")))
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    sections.append(("fuzzyjoin: fuzzy_self_pairs (deletion-variant "
                     "equi-join, bucket-guarded, no product)",
                     fuzzyjoin.fuzzy_self_pairs(cust, "c_name")))
    sections.append(("eventseq: transition_matrix (one lead window + "
                     "types^2 aggregate)", eventseq.transition_matrix(ev)))
    sections.append(("eventseq: funnel_conversions (chained min-ts "
                     "aggregates)", eventseq.funnel_conversions(
                         ev, ["view", "click", "purchase"])))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sections.append(("scrub: normalize_text (map-only, one Arrow hop)",
                     scrub.normalize_text(docs)))
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _pca_model = pca.pca_fit(embs, k=4)
    sections.append(("pca: pca_project (JVM-only zip_with/aggregate "
                     "projection)", pca.pca_project(embs, _pca_model)))

    for name, fn in entrymod.queries().items():
        sections.append((f"query: {name}", fn(spark, SF_DIR)))

    out = io.StringIO()
    for title, df in sections:
        out.write(f"\n{'=' * 72}\n{title}\n{'=' * 72}\n")
        with redirect_stdout(out):
            df.explain("formatted")
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "plans.txt"), "w") as fh:
        fh.write(out.getvalue())
    print("wrote BENCH/plans.txt",
          len(out.getvalue().splitlines()), "lines")
    cache.unpersist()
    shutil.rmtree(agg_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
