"""The benchmark's pipeline workloads: input generation, set-up, the
timed operation, output checks and the traced per-layer probes.

Both workloads run ``plans.pipeline.run_pipeline`` over a seeded turns
table from ``sources.transcripts.transcripts``, trimmed to a fixed
number of turns:

* ``pipeline_fresh`` runs it into an empty ``out_dir``;
* ``pipeline_resume`` restores a copy of an ``out_dir`` in which about
  three quarters of the buckets are already committed and lets the
  pipeline finish the rest.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import statistics
import time
from typing import Dict, List

from pyspark.sql import functions as F

from log2seq_spark.functions.arrow_udf import _parse_batch_to_struct
from log2seq_spark.functions.udf import with_parsed
from log2seq_spark.plans import manifest as mf
from log2seq_spark.plans.pipeline import (AGG_SINK, AGG_TEMPLATE, AGG_TOKEN,
                                          ROUTED, PipelineConfig,
                                          enriched_turns, run_pipeline)
from log2seq_spark.plans.sink import read_partitioned
from log2seq_spark.rules import LineEngine, ParseFailure
from log2seq_spark.rules.presets import default_program
from log2seq_spark.sources.transcripts import conversations, transcripts

from tracing import (SparkRest, TASK_METRICS, group_sql_metric,
                   group_task_metrics)

TARGET_TURNS = 12_000      # input size; the table holds whole conversations
N_BUCKETS = 8              # resume unit; 3/4 of them pre-committed on resume
SAMPLE_MOD = 200           # byte-exact oracle check on ~1 in 200 routed rows
PARSE_SAMPLE = 8_000       # rows parsed in-process for the core parse rate
AGG_TABLES = (AGG_SINK, AGG_TOKEN, AGG_TEMPLATE)
CONV_ID = "conv-{:06d}"    # sources.transcripts' conv_id format

LAYER_GROUPS = ("sources.scan", "functions.udf.with_parsed",
                "plans.pipeline.enriched_turns", "plans.pipeline.run_pipeline",
                "plans.sink.read_back")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def multiset_mismatches(pairs: Dict[str, tuple]) -> List[str]:
    """Names of the ``(a, b)`` frame pairs whose row multisets differ, by
    row count and the exact sum of a 64-bit hash of every row (unequal
    multisets agree only on a hash-sum collision). One Spark job."""
    parts = [df.select(F.lit(name).alias("t"), F.lit(side).alias("side"),
                       F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
                       .cast("decimal(38,0)").alias("h"))
             for name, frames in pairs.items()
             for side, df in enumerate(frames)]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    got = {(r["t"], r["side"]): (r["n"], r["h"]) for r in
           union.groupBy("t", "side").agg(F.count(F.lit(1)).alias("n"),
                                          F.sum("h").alias("h")).collect()}
    return [name for name in pairs
            if got.get((name, 0)) != got.get((name, 1))]


def pick_conversations(spark, target_turns: int, seed: int) -> tuple:
    """(n_convs, skipped, n_turns): walk the seeded conversations in
    order and keep each one that still fits in ``target_turns``, until
    fewer than 2 turns (the shortest conversation) are left. Only the
    few long conversations met near the end are skipped, so every seed
    gives the same input volume to within a turn while the length mix
    stays the generator's."""
    n_max = max(2_000, target_turns // 8)
    while True:
        lens = [r[0] for r in conversations(spark, n_max, seed)
                .orderBy("cid").select("conv_len").collect()]
        total, skipped = 0, []
        for cid, n in enumerate(lens):
            if total + n <= target_turns:
                total += n
            else:
                skipped.append(cid)
            if target_turns - total < 2:
                return cid + 1, skipped, total
        n_max *= 2


def pick_remaining(sizes: Dict[int, int], k: int) -> tuple:
    """The ``k`` buckets left for the resumed run: the set whose rows are
    nearest ``k / len(sizes)`` of the table (first such set in
    lexicographic order), so that every seed leaves about the same share
    of the work. A few long conversations hold most turns, so the share
    of fixed bucket ids would swing with the seed."""
    total = sum(sizes.values())
    target = total * k / len(sizes)
    return min(itertools.combinations(sorted(sizes), k),
               key=lambda bs: abs(sum(sizes[b] for b in bs) - target))


class PipelineWorkload:
    """One pipeline workload in one Spark session."""

    def __init__(self, name: str, spark, work_dir: str, seed: int,
                 cores: int):
        self.resume = name == "pipeline_resume"
        self.spark = spark
        self.seed = seed
        self.cores = cores
        self.program = default_program()
        self.turns_dir = os.path.join(work_dir, "turns")
        self.out_dir = os.path.join(work_dir, "out")
        self.ref_dir = os.path.join(work_dir, "ref")
        self.snap_dir = os.path.join(work_dir, "precrash")
        self.cfg = PipelineConfig(out_dir=self.out_dir, n_buckets=N_BUCKETS,
                                  partitions=2 * cores,
                                  input_id=f"perfbench-seed{seed}")
        self.lineage = mf.lineage_id(self.program, self.cfg.input_id,
                                     N_BUCKETS)
        self.done: set = set()
        self.problems: List[str] = []
        self.warmup_failed = 0

    # ---- set-up -----------------------------------------------------------

    def generate(self) -> None:
        """Write the seeded turns table (overwriting any earlier copy)."""
        self.n_convs, skipped, self.n_turns = pick_conversations(
            self.spark, TARGET_TURNS, self.seed)
        skipped_ids = [CONV_ID.format(cid) for cid in skipped]
        (transcripts(self.spark, self.n_convs, seed=self.seed,
                     partitions=2 * self.cores)
         .filter(~F.col("conv_id").isin(skipped_ids))
         .write.mode("overwrite").parquet(self.turns_dir))
        self.n_convs -= len(skipped)

    def prepare(self) -> None:
        """The warm-up, and for resume the pre-crash ``out_dir`` first.
        Fresh warms up with two runs of its timed operation: the first
        run in the JVM pays start-up, the second the steepest part of
        the JIT warm-up (later walls still ease by a few percent a
        minute). Resume builds its state with a fresh reference run and
        the pre-crash run, then runs its own operation once, so that the
        resume path (manifest read, bucket filter, overwrite on existing
        state) is warm before it is timed."""
        self.turns = self.spark.read.parquet(self.turns_dir)
        if self.resume:
            self._build_precrash()   # two pipeline runs, checked later
        n_ops = 1 if self.resume else 2
        for _ in range(n_ops):
            bad = self.check_result(self.op()[1])
            self.problems += bad
            self.warmup_failed += bool(bad)
        self.warmup_ops = n_ops + 2 * self.resume

    def _build_precrash(self) -> None:
        """Run the fresh reference pipeline into ``ref_dir``, then the
        pipeline on the conversations of about three quarters of the
        buckets into ``out_dir``, and keep a copy of that state."""
        run_pipeline(self.spark, self.turns,
                     PipelineConfig(**{**self.cfg.__dict__,
                                       "out_dir": self.ref_dir}),
                     resume=False)
        bucket = F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS)).cast("int")
        sizes = {r[0]: r[1] for r in
                 self.turns.groupBy(bucket).count().collect()}
        if sum(sizes.values()) != self.n_turns:
            raise RuntimeError(f"turns table holds {sum(sizes.values())} "
                               f"rows, generated {self.n_turns}")
        remaining = pick_remaining(sizes, N_BUCKETS // 4)
        committed = sorted(set(sizes) - set(remaining))
        shutil.rmtree(self.out_dir, ignore_errors=True)
        run_pipeline(self.spark, self.turns.filter(bucket.isin(committed)),
                     self.cfg, resume=False)
        self.done = mf.completed_buckets(self.out_dir, self.lineage)
        if not self.done or not self.done < set(sizes):
            raise RuntimeError(
                f"pre-crash state commits buckets {sorted(self.done)}, not "
                f"a non-empty strict subset of {sorted(sizes)}")
        self.n_remaining = sum(sizes[b] for b in remaining)
        shutil.rmtree(self.snap_dir, ignore_errors=True)
        shutil.copytree(self.out_dir, self.snap_dir)

    # ---- the timed operation ----------------------------------------------

    def op(self, tracer=None):
        """Reset ``out_dir`` (untimed), run the pipeline once (timed),
        inside a span and job group when ``tracer`` is given.
        Returns (wall seconds, PipelineResult)."""
        shutil.rmtree(self.out_dir, ignore_errors=True)
        if self.resume:
            shutil.copytree(self.snap_dir, self.out_dir)
        with (tracer.span("plans.pipeline.run_pipeline", job_group=True)
              if tracer else contextlib.nullcontext()):
            t0 = time.monotonic()
            res = run_pipeline(self.spark, self.turns, self.cfg,
                               resume=self.resume)
            wall = time.monotonic() - t0
        return wall, res

    def check_result(self, res) -> List[str]:
        """Cheap per-operation checks on the returned counters."""
        m, bad = res.metrics, []
        expect_rows = self.n_remaining if self.resume else self.n_turns
        if m["n_rows"] != expect_rows:
            bad.append(f"n_rows {m['n_rows']} != {expect_rows} input rows")
        if m["n_ok"] + m["n_fail"] + m["n_empty"] != m["n_rows"]:
            bad.append(f"n_ok + n_fail + n_empty != n_rows in {m}")
        if sorted(res.buckets_skipped) != sorted(self.done):
            bad.append(f"skipped {res.buckets_skipped} != committed "
                       f"{sorted(self.done)}")
        if set(res.buckets_processed) & self.done:
            bad.append("re-processed a committed bucket")
        return bad

    # ---- output checks ------------------------------------------------------

    def check_output(self) -> List[str]:
        spark, bad = self.spark, []
        recs = [r for r in mf.read_manifest(self.out_dir)
                if r["lineage_id"] == self.lineage]
        buckets = [r["bucket"] for r in recs]
        if len(buckets) != len(set(buckets)):
            bad.append(f"manifest commits a bucket twice: {sorted(buckets)}")
        tot = {k: sum(r[k] for r in recs)
               for k in ("n_rows", "n_ok", "n_fail", "n_empty", "n_tokens")}
        if tot["n_ok"] + tot["n_fail"] + tot["n_empty"] != tot["n_rows"]:
            bad.append(f"manifest n_ok + n_fail + n_empty != n_rows: {tot}")
        if tot["n_rows"] != self.n_turns:
            bad.append(f"manifest n_rows {tot['n_rows']} != input "
                       f"{self.n_turns}")
        read = lambda sub: spark.read.parquet(os.path.join(self.out_dir, sub))
        n_routed = read(ROUTED).count()
        if n_routed != self.n_turns:
            bad.append(f"routed rows {n_routed} != input {self.n_turns}")
        sink_sum = read(AGG_SINK).agg(F.sum("n_rows")).first()[0]
        if sink_sum != tot["n_rows"]:
            bad.append(f"agg_sink_counts sum {sink_sum} != n_rows "
                       f"{tot['n_rows']}")
        tok_sum = read(AGG_TOKEN).agg(F.sum("n")).first()[0]
        if tok_sum != tot["n_tokens"]:
            bad.append(f"agg_token_counts sum {tok_sum} != n_tokens "
                       f"{tot['n_tokens']}")
        bad += self._check_sample(read(ROUTED))
        if self.resume:
            pairs = {sub: (read(sub), spark.read.parquet(
                os.path.join(self.ref_dir, sub)))
                for sub in (ROUTED,) + AGG_TABLES}
            bad += [f"resumed {sub} differs from the fresh run's as a row-set"
                    for sub in multiset_mismatches(pairs)]
        return bad

    def _check_sample(self, routed) -> List[str]:
        """Byte-exact comparison of a seeded sample of routed rows with
        the pure-Python rule engine."""
        pick = F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(self.seed)),
                      F.lit(SAMPLE_MOD)) == 0
        rows = (routed.filter(pick)
                .join(self.turns.select("conv_id", "turn_idx", "text",
                                        F.col("ts").alias("in_ts")),
                      ["conv_id", "turn_idx"])
                .collect())
        if not rows:
            return ["byte-exact sample is empty"]
        engines: Dict[int, LineEngine] = {}
        bad = []
        for r in rows:
            year = r["in_ts"].year
            eng = engines.setdefault(year, LineEngine(self.program,
                                                      default_year=year))
            key = f"{r['conv_id']}/{r['turn_idx']}"
            try:
                exp = eng.parse_line(r["text"])
            except ParseFailure:
                if r["error"] is None or r["message"] is not None \
                        or r["sink"] != "quarantine":
                    bad.append(f"{key}: oracle fails to parse, routed row "
                               "is not a quarantined failure")
                continue
            if exp is None:
                if r["rule_id"] != -2 or r["sink"] != "quarantine":
                    bad.append(f"{key}: empty line not quarantined as empty")
                continue
            got = (r["message"], r["words"], r["symbols"], r["host"])
            want = (exp["message"], exp["words"], exp["symbols"],
                    exp.get("host"))
            if got != want:
                bad.append(f"{key}: routed {got!r} != oracle {want!r}")
                continue
            w, s = r["words"], r["symbols"]
            rebuilt = s[0] + "".join(a + b for a, b in zip(w, s[1:]))
            if len(s) != len(w) + 1 or rebuilt != r["message"]:
                bad.append(f"{key}: words/symbols do not rebuild message")
            if r["sink"] == "quarantine":
                bad.append(f"{key}: parsed row routed to quarantine")
        return bad[:20]

    # ---- traced per-layer probes --------------------------------------------

    def trace_layers(self, tracer, untraced: List[float],
                     traced: List) -> Dict[str, float]:
        """Per-layer metrics. ``untraced`` holds walls of plain timed
        operations and ``traced`` (wall, result) pairs of operations run
        inside a span and job group, interleaved with them."""
        spark, out = self.spark, {}

        def timed(name, fn):
            with tracer.span(name, job_group=True):
                t0 = time.monotonic()
                fn()
                return time.monotonic() - t0

        read = lambda: spark.read.parquet(self.turns_dir)
        out["sources.scan_s"] = timed("sources.scan", lambda: _noop(read()))
        out["functions.udf.with_parsed_s"] = timed(
            "functions.udf.with_parsed",
            lambda: _noop(with_parsed(read(), self.program)))
        with tracer.span("functions.parse"):
            out["functions.parse.rows_per_s_core"] = self._core_parse_rate()
        python_work_s = self.n_turns / (
            out["functions.parse.rows_per_s_core"] * self.cores)
        udf_layer_s = out["functions.udf.with_parsed_s"] - out["sources.scan_s"]
        out["functions.udf.boundary_share"] = 1.0 - python_work_s / udf_layer_s
        out["plans.pipeline.enriched_turns_s"] = timed(
            "plans.pipeline.enriched_turns",
            lambda: _noop(enriched_turns(spark, self.turns, self.cfg)))

        results = [res for _, res in traced]
        out["plans.pipeline.route_s"] = statistics.median(
            r.metrics["wall_route_s"] for r in results)
        out["plans.pipeline.agg_s"] = statistics.median(
            r.metrics["wall_agg_s"] for r in results)
        base = statistics.median(untraced)
        out["trace.overhead_s"] = statistics.median(w for w, _ in traced) - base
        out["trace.overhead_share"] = out["trace.overhead_s"] / base

        routed_dir = os.path.join(self.out_dir, ROUTED)
        files = [os.path.join(d, f) for d, _, fs in os.walk(routed_dir)
                 for f in fs if not f.startswith(("_", "."))]
        out["plans.sink.routed_files"] = len(files)
        out["plans.sink.routed_bytes"] = sum(os.path.getsize(f) for f in files)
        out["plans.sink.read_back_s"] = timed(
            "plans.sink.read_back",
            lambda: _noop(read_partitioned(spark, routed_dir)))
        with tracer.span("plans.manifest"):
            calls = []
            for _ in range(5):
                t0 = time.monotonic()
                mf.completed_buckets(self.out_dir, self.lineage)
                calls.append(time.monotonic() - t0)
            out["plans.manifest.completed_buckets_s"] = statistics.median(calls)
            out["plans.manifest.records"] = len(mf.read_manifest(self.out_dir))

        with tracer.span("trace.collect"):
            rest = SparkRest(spark.sparkContext)
            jobs, stages, execs = rest.snapshot(LAYER_GROUPS)
        for group, m in group_task_metrics(jobs, stages, LAYER_GROUPS).items():
            for k in TASK_METRICS:
                out[f"{group}.{k}"] = m[k]
        udf = "functions.udf.with_parsed"
        for key, metric in (("python_run_s", "time to run Python workers"),
                            ("bytes_to_python", "data sent to Python workers"),
                            ("bytes_from_python",
                             "data returned from Python workers")):
            out[f"functions.udf.{key}"] = group_sql_metric(
                jobs, execs, udf, "MapInArrow", metric)
        parsed = group_sql_metric(jobs, execs, "plans.pipeline.run_pipeline",
                                  "MapInArrow", "number of output rows")
        remaining = self.n_remaining if self.resume else self.n_turns
        out["resume.rows_parsed_per_remaining"] = parsed / (
            remaining * len(results))
        return out

    def _core_parse_rate(self) -> float:
        """Rows per second, in this process on one core, of the batch
        parse the pipeline's ``mapInArrow`` UDF runs per Arrow batch
        (``arrow_udf._parse_batch_to_struct``), over a sample of the
        input (median of three passes)."""
        pdf = (self.spark.read.parquet(self.turns_dir)
               .select("text", F.year("ts").cast("double").alias("year"))
               .limit(PARSE_SAMPLE).toPandas())
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            _parse_batch_to_struct(self.program, pdf["text"], pdf["year"])
            rates.append(len(pdf) / (time.perf_counter() - t0))
        return statistics.median(rates)
