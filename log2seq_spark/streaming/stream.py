"""Structured Streaming over transcript turns.

The reference is batch-only (its CLI iterates files lazily,
``/root/reference/log2seq/__main__.py:16-47``); this module is the
north-rule-native streaming extension: the SAME compiled parse UDF runs
over ``readStream`` micro-batches, with event-time watermarks on ``ts``
and windowed per-sink aggregates for late data. State stays in Spark's
streaming aggregation store — no custom state management.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..rules.presets import default_program
from ..rules.spec import RuleProgram
from ..functions.udf import with_parsed
from ..plans.pipeline import route_turns


def streaming_parse(spark: SparkSession, input_dir: str,
                    program: RuleProgram | None = None,
                    schema=None) -> DataFrame:
    """File-source stream of turns → parsed + routed stream. The parse
    UDF and the routing fold are identical to the batch path (one
    compiled program, Arrow batches per micro-batch)."""
    program = program or default_program()
    if schema is None:
        schema = ("conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")
    stream = (spark.readStream.schema(schema).parquet(input_dir))
    return route_turns(spark, with_parsed(stream, program, text_col="text",
                                          ts_col="ts"))


def streaming_dedup_exact(docs: DataFrame, text_col: str = "text",
                          ts_col: str = "ts",
                          watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup for ingest pipelines: keep the first
    occurrence of each content hash, dropping re-deliveries and repeats
    that arrive within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keys the streaming state store by
    the 32-char md5 — state is partitioned across executors and evicted
    once the event-time watermark passes, so memory is bounded by the
    duplicate-arrival horizon rather than the stream's lifetime (the
    property that makes exact dedup viable on an unbounded 100-TB/day
    ingest; duplicates farther apart than the watermark are left to the
    batch :func:`~log2seq_spark.operators.dedup.exact_duplicates`
    compaction pass)."""
    return (docs
            .withColumn("text_hash", F.md5(F.col(text_col)))
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["text_hash"]))


def streaming_sink_counts(routed: DataFrame, window: str = "10 minutes",
                          watermark: str = "30 minutes") -> DataFrame:
    """Event-time windowed per-sink counts with a watermark for late
    turns; emits (window, sink, n_turns, n_tokens)."""
    return (routed
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"), "sink")
            .agg(F.count("*").alias("n_turns"),
                 F.sum(F.coalesce(F.size("parsed.words"), F.lit(0)))
                  .alias("n_tokens")))


def streaming_tool_latency(turns: DataFrame,
                           horizon: str = "5 minutes") -> DataFrame:
    """Watermarked stream-stream self-join: each assistant turn is
    correlated with the tool-result turns that follow it in the same
    conversation within ``horizon``; emits
    (conv_id, a_idx, t_idx, tool, latency_us) — latency in
    MICROSECONDS (unix_micros difference).

    Both sides carry a watermark and the join predicate time-bounds the
    right side against the left (``t_ts ∈ [a_ts, a_ts + horizon]``), so
    Spark can prove when buffered rows are garbage — join state is
    evicted at the watermark instead of growing with the stream. Without
    the range condition this state is unbounded, which is the difference
    between a demo and something that survives an always-on 100-TB/day
    feed. The equality key (conv_id) keeps the join a hash shuffle, not
    a broadcast of an unbounded stream.
    """
    asst = (turns.filter(F.col("role") == "assistant")
                 .select("conv_id", F.col("turn_idx").alias("a_idx"),
                         F.col("ts").alias("a_ts"))
                 .withWatermark("a_ts", horizon))
    tool = (turns.filter(F.col("role") == "tool")
                 .select(F.col("conv_id").alias("t_conv"),
                         F.col("turn_idx").alias("t_idx"),
                         "tool", F.col("ts").alias("t_ts"))
                 .withWatermark("t_ts", horizon))
    cond = ((F.col("conv_id") == F.col("t_conv"))
            & (F.col("t_idx") > F.col("a_idx"))
            & (F.col("t_ts") >= F.col("a_ts"))
            & (F.col("t_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {horizon}")))
    return (asst.join(tool, cond)
                .select("conv_id", "a_idx", "t_idx", "tool",
                        (F.unix_micros(F.col("t_ts").cast("timestamp"))
                         - F.unix_micros(F.col("a_ts").cast("timestamp")))
                        .cast("double").alias("latency_us")))


def streaming_route_to_sink(routed: DataFrame, out_dir: str,
                            checkpoint_dir: str,
                            partition_cols=("sink",),
                            backend: str = "parquet"):
    """The fan-out sink leg of the streaming pipeline: every micro-batch
    is written through the SAME backend seam as the batch pipeline
    (:func:`~log2seq_spark.plans.sink.write_partitioned`), partitioned by
    ``(batch_id, *partition_cols)``.

    Exactly-once without an atomic sink: the streaming checkpoint makes
    batch ids stable across restarts, and the dynamic partition overwrite
    keyed by ``batch_id`` makes replaying a failed/duplicate epoch
    idempotent — a retry overwrites exactly its own partitions, never
    appending duplicates and never touching other epochs' output. This is
    the standard foreachBatch idempotent-sink pattern; through the seam
    it upgrades to true snapshot-isolated commits when the Iceberg
    runtime is present.

    Returns an un-started ``DataStreamWriter`` — caller picks the trigger
    and calls ``.start()``.
    """
    from ..plans.sink import write_partitioned

    cols = list(partition_cols)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        write_partitioned(
            batch_df.withColumn("batch_id", F.lit(int(batch_id))),
            out_dir, ["batch_id"] + cols, backend=backend)

    return (routed.writeStream.foreachBatch(_write)
                  .option("checkpointLocation", checkpoint_dir))


def streaming_gated_route(routed: DataFrame, out_dir: str,
                          checkpoint_dir: str, checks,
                          quarantine_dir: str,
                          partition_cols=("sink",),
                          backend: str = "parquet"):
    """:func:`streaming_route_to_sink` behind a per-micro-batch
    data-quality gate (``operators/expectations.py``): each batch is
    admitted to ``out_dir`` only when every check passes; a violating
    batch is diverted WHOLE to ``quarantine_dir`` (same idempotent
    batch_id-partitioned write) with its report persisted next to it
    as ``_reports/batch-<id>.json`` — never silently dropped, never
    poisoning the good sink, never crashing the stream.

    The gate costs one extra aggregate job per micro-batch (all checks
    compile into a single pass); at micro-batch sizes that is noise
    next to the fan-out write. Quarantined batches are replayable: the
    report says what broke, the data sits intact under
    ``batch_id=<id>``, and re-admission is a batch read + the ordinary
    batch pipeline once upstream is fixed.
    """
    import json as _json

    from .. import fsio
    from ..operators import expectations as ex
    from ..plans.sink import write_partitioned

    cols = list(partition_cols)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        report = ex.evaluate(batch_df, checks)
        stamped = batch_df.withColumn("batch_id", F.lit(int(batch_id)))
        if all(r["passed"] for r in report):
            write_partitioned(stamped, out_dir, ["batch_id"] + cols,
                              backend=backend)
        else:
            write_partitioned(stamped, quarantine_dir,
                              ["batch_id"] + cols, backend=backend)
            fsio.write_text(
                stamped.sparkSession,
                f"{quarantine_dir}/_reports/batch-{int(batch_id)}.json",
                _json.dumps(report, indent=1))

    return (routed.writeStream.foreachBatch(_write)
                  .option("checkpointLocation", checkpoint_dir))


def streaming_dedup_with_index(docs: DataFrame, out_dir: str,
                               checkpoint_dir: str, index_dir: str,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               keep_epochs: int = 3):
    """Streaming exact dedup with an UNBOUNDED horizon: every
    micro-batch is decided against a persistent content-hash index
    (:func:`~log2seq_spark.operators.dedup.dedup_against_index`) that is
    versioned per epoch under ``index_dir`` — the complement of
    :func:`streaming_dedup_exact`, whose state store only spans the
    watermark horizon. Kept rows land under ``out_dir/batch_id=<epoch>``
    with a ``decision`` column; dropped duplicates never reach the sink.

    Exactly-once: the index for epoch ``b`` is written to
    ``index_dir/epoch=b`` AFTER the kept rows commit, and epoch ``b``
    always READS the newest epoch ``< b`` — so a crashed/replayed
    micro-batch recomputes from exactly the state its first attempt saw
    and overwrites only its own output + index version (the same
    idempotent-epoch pattern as :func:`streaming_route_to_sink`).
    Epochs older than ``keep_epochs`` behind are pruned driver-side.

    Scale shape: the index holds one 32-char hash + one id per DISTINCT
    content ever seen — it grows with novelty, not stream volume — and
    each micro-batch is one equi-join against it plus a batch-local
    window; Spark sizes both off the files, so a small index broadcasts.

    Epoch discovery/pruning/stamping runs driver-side over
    ``index_dir``: plain paths use local-filesystem calls (glob/rmtree
    — correct wherever the driver mounts the directory: local, NFS,
    FUSE); URI paths (``hdfs://``, ``s3a://``, ``file://``, …) go
    through the Hadoop FileSystem API (``fsio``), so a raw object-store
    state dir works with the same connectors and credentials as the
    data writes.

    Both the kept-rows sink and the index are deliberately plain
    per-epoch parquet directories (each epoch one self-contained
    overwrite with its own ``_SUCCESS`` marker, which epoch discovery
    requires): the index is internal operator state, not a user sink.
    To publish the deduplicated stream through the backend seam
    (parquet | orc | iceberg snapshot commits), compose
    :func:`streaming_route_to_sink` downstream of this operator's
    output instead of treating ``out_dir`` as the final table.

    Returns an un-started ``DataStreamWriter``.
    """
    import os

    from ..operators.dedup import (_nullsafe_text_hash,
                                   dedup_against_index,
                                   updated_dedup_index)

    # same drift stamp as the near-dup/template state: an index built
    # over a different text_col would miss every historical duplicate
    params = {"text_col": text_col, "id_col": id_col}

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _check_epoch_params(index_dir, params, spark=spark)
        # keep_id typed off the batch's actual id column — a long
        # default would silently widen/clash with string/other ids
        id_type = batch_df.schema[id_col].dataType.simpleString()
        idx = _read_prior_epoch(spark, index_dir, batch_id,
                                f"text_hash string, keep_id {id_type}")
        # decisions feed BOTH the kept-rows sink and the index rewrite:
        # persist so the index read + hash window + join run once per
        # epoch, not twice. Decisions join back on (id, content hash),
        # null-safely — an id-only join would drop null-id rows and
        # fan out when an id repeats with different payloads
        dec = dedup_against_index(batch_df, idx, text_col, id_col).persist()
        try:
            keeps = (dec.filter(F.col("decision") == "keep")
                        .select(F.col(id_col).alias("_kid"),
                                "text_hash", "decision"))
            hashed = batch_df.withColumn(
                "_h", _nullsafe_text_hash(text_col))
            kept = (hashed.join(
                        keeps,
                        hashed["_h"].eqNullSafe(keeps["text_hash"])
                        & hashed[id_col].eqNullSafe(keeps["_kid"]))
                    .drop("_h", "_kid", "text_hash")
                    .withColumn("batch_id", F.lit(int(batch_id))))
            (kept.write.mode("overwrite")
                 .parquet(os.path.join(out_dir, f"batch_id={batch_id}")))
            new_idx = updated_dedup_index(idx, dec, id_col=id_col)
            (new_idx.write.mode("overwrite")
                    .parquet(os.path.join(index_dir, f"epoch={batch_id}")))
        finally:
            dec.unpersist()
        _prune_epochs(index_dir, batch_id, keep_epochs,
                      spark=spark)

    return (docs.writeStream.foreachBatch(_write)
                .option("checkpointLocation", checkpoint_dir))


# --- shared epoch-versioned operator-state protocol -------------------
# (dedup index, template profiles). An epoch directory is one
# self-contained parquet overwrite whose `_SUCCESS` marker IS the commit;
# micro-batch b reads the newest committed epoch < b and overwrites only
# epoch=b, so crash-replay recomputes from exactly the state the first
# attempt saw. Discovery/pruning/stamping is driver-side: plain paths use
# glob/rmtree/open (local/NFS/FUSE mounts); URI paths (hdfs://, s3a://,
# file://, …) route through the Hadoop FileSystem API (fsio) — the same
# connector stack the stream's data writes use, so any state dir Spark
# can write, the protocol can manage. foreachBatch runs on the driver
# with an active session, which fsio resolves when spark isn't passed.

def _committed_epochs(dir_path: str, spark=None):
    """Sorted epoch ids under ``dir_path/epoch=N`` whose parquet commit
    marker (`_SUCCESS`) exists."""
    import os
    import posixpath
    import re as _re

    from .. import fsio

    out = []
    if fsio.is_uri_path(dir_path):
        spark = fsio.resolve_spark(spark, dir_path)
        for name in fsio.list_child_names(spark, dir_path):
            m = _re.fullmatch(r"epoch=(\d+)", name)
            if m and fsio.exists(spark, posixpath.join(
                    dir_path, name, "_SUCCESS")):
                out.append(int(m.group(1)))
        return sorted(out)
    import glob
    # glob.escape: a state dir whose PATH contains glob metacharacters
    # ([, ?, *) would silently match nothing — every batch would read
    # an empty index and replay safety would never engage
    for p in glob.glob(os.path.join(glob.escape(dir_path), "epoch=*")):
        m = _re.fullmatch(r"epoch=(\d+)", os.path.basename(p))
        if m and os.path.exists(os.path.join(p, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def _read_prior_epoch(spark: SparkSession, dir_path: str, batch_id: int,
                      empty_schema: str) -> DataFrame:
    """State as of the newest committed epoch ``< batch_id``, or an
    empty frame with ``empty_schema`` when none exists (first epoch,
    or a replay of it)."""
    import os

    prior = [e for e in _committed_epochs(dir_path, spark=spark)
             if e < batch_id]
    if prior:
        return spark.read.parquet(
            os.path.join(dir_path, f"epoch={prior[-1]}"))
    return spark.createDataFrame([], empty_schema)


def _prune_epochs(dir_path: str, batch_id: int, keep_epochs: int,
                  spark=None) -> None:
    """Replay safety: epoch b can be replayed until its checkpoint
    offset commits (after foreachBatch returns), and a replay reads the
    newest epoch < b — so b-1 must ALWAYS survive this call. Prune
    strictly below b - keep_epochs (clamped to >= 1): keep_epochs=1
    keeps exactly {b-1, b}, never less."""
    import os
    import posixpath
    import shutil

    from .. import fsio

    horizon = batch_id - max(int(keep_epochs), 1)
    uri = fsio.is_uri_path(dir_path)
    if uri:
        spark = fsio.resolve_spark(spark, dir_path)
    for e in _committed_epochs(dir_path, spark=spark):
        if e < horizon:
            if uri:
                fsio.delete(spark, posixpath.join(dir_path, f"epoch={e}"))
            else:
                shutil.rmtree(os.path.join(dir_path, f"epoch={e}"),
                              ignore_errors=True)


# position_profiles output layout (operators/templates.py): the empty
# seed state for epoch 0 and the read-back contract for every epoch
_PROFILE_SCHEMA = ("_ntok int, _head string, _pos int, "
                   "_mn string, _mx string, _nl bigint")


def streaming_ann_ingest(embs: DataFrame, checkpoint_dir: str,
                         index_dir: str, vec_col: str = "embedding"):
    """Streaming vector ingestion into a built IVF layout
    (``operators/similarity.py``): each micro-batch is assigned against
    the index's stamped cell space and committed as the immutable
    centroid-partitioned segment ``_ingest/epoch=<batch_id>`` — a
    checkpoint replay of a crashed micro-batch overwrites its OWN
    epoch directory, so ingestion is exactly-once by construction, no
    dedup pass needed (contrast ``append_ivf_index``, whose in-place
    append is for single-shot batch CLI use and would double-insert on
    replay). Probes (``ivf_topk_indexed``) union the base with every
    committed epoch newer than the base's fold horizon, each scan
    partition-pruned; run ``compact_ivf_index`` between streaming runs
    to fold accumulated epochs back into one file per cell.

    No params stamp is needed here: the cell space lives in the index
    itself (``_ivf_centroids.json``), so every consumer is drift-free
    by construction, and a missing/non-index directory fails the first
    batch loudly (``ValueError``). Returns an un-started
    ``DataStreamWriter``."""
    from ..operators.similarity import ingest_ivf_epoch

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        ingest_ivf_epoch(batch_df, index_dir, batch_id, vec_col=vec_col)

    return (embs.writeStream.foreachBatch(_write)
                .option("checkpointLocation", checkpoint_dir)
                .outputMode("append"))


def streaming_template_mining(lines: DataFrame, checkpoint_dir: str,
                              profile_dir: str, text_col: str = "text",
                              tokens_col: str | None = None,
                              keep_epochs: int = 3):
    """Incremental Drain-style template mining over a stream of log
    lines: each micro-batch folds its position profile
    (:func:`~log2seq_spark.operators.templates.position_profiles`) into
    a persistent profile table versioned per epoch under
    ``profile_dir`` via
    :func:`~log2seq_spark.operators.templates.merge_profiles` — the
    associative-merge property the batch miner documents is exactly
    what makes this exactly-once: epoch ``b`` always reads the newest
    committed epoch ``< b``, so a crashed/replayed micro-batch
    recomputes the same merge its first attempt saw and overwrites only
    its own epoch directory (the ``streaming_dedup_with_index``
    pattern). Templates at any moment come from
    :func:`current_templates` — finalization touches only the tiny
    profile table, never the stream's history.

    Scale shape: state grows with #(token-count, head) groups × max
    line length — novelty, not stream volume; each micro-batch costs
    one posexplode + hash aggregate over ITS rows plus a merge
    aggregate against the small state read. History is never re-read.

    Epoch discovery/pruning is driver-side: local-FS calls on plain
    paths, the Hadoop FileSystem API on URI paths (same protocol as
    ``streaming_dedup_with_index``).

    Returns an un-started ``DataStreamWriter``.
    """
    import os

    from ..operators.templates import merge_profiles, position_profiles

    # profiles merged across epochs must come from one tokenization:
    # folding a `\s+`-split epoch into a parsed-words epoch would mix
    # incompatible position spaces without any error. Stamp only the
    # EFFECTIVE tokenization — position_profiles ignores text_col when
    # tokens_col is set, so renaming the unread text column must not
    # spuriously reject a restart
    params = {"tokens_col": tokens_col,
              "text_col": text_col if tokens_col is None else None}

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        _check_epoch_params(profile_dir, params,
                            spark=batch_df.sparkSession)
        prior = _read_prior_epoch(batch_df.sparkSession, profile_dir,
                                  batch_id, _PROFILE_SCHEMA)
        batch_prof = position_profiles(batch_df, text_col,
                                       tokens_col=tokens_col)
        (merge_profiles(prior, batch_prof)
            .write.mode("overwrite")
            .parquet(os.path.join(profile_dir, f"epoch={batch_id}")))
        _prune_epochs(profile_dir, batch_id, keep_epochs,
                      spark=batch_df.sparkSession)

    return (lines.writeStream.foreachBatch(_write)
                 .option("checkpointLocation", checkpoint_dir))


def streaming_rare_lines(lines: DataFrame, checkpoint_dir: str,
                         profile_dir: str, out_dir: str,
                         text_col: str = "text",
                         tokens_col: str | None = None,
                         max_lines: int = 1, keep_epochs: int = 3):
    """Real-time log anomaly detection: per-line verdicts against the
    templates mined over EVERYTHING ingested so far. Each micro-batch
    folds its position profile into the same epoch-versioned state
    :func:`streaming_template_mining` keeps (the two can share a
    ``profile_dir`` history shape, not a live directory), assigns every
    batch line a template from the merged (history ∪ batch) profile via
    :func:`~log2seq_spark.operators.anomaly.novel_line_flags`, and
    writes the batch's verdict rows — the input columns plus
    ``template``, ``template_lines``, ``is_rare`` (template covers at
    most ``max_lines`` lines ever) and ``is_new`` (first time this
    (token-count, head) message shape has EVER been seen) — to
    ``out_dir/epoch=<batch_id>``.

    Exactly-once: both the state epoch and the verdict epoch are keyed
    by ``batch_id`` and written with overwrite, so a replayed
    micro-batch reads the same prior state (newest committed epoch
    ``< batch_id``) and overwrites only its own directories. Verdict
    epochs are never pruned (they are the output — read ``out_dir``
    as parquet and Spark surfaces ``epoch`` as a partition column);
    state epochs are pruned as usual.

    Scale shape: per batch, two scans of the batch (profile fold +
    per-line joins) and joins whose broadcast sides are bounded by
    #groups — history is never re-read beyond the tiny profile table.

    Returns an un-started ``DataStreamWriter``.
    """
    import os

    from ..operators.anomaly import novel_line_flags
    from ..operators.templates import merge_profiles, position_profiles

    params = {"tokens_col": tokens_col,
              "text_col": text_col if tokens_col is None else None}

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        _check_epoch_params(profile_dir, params,
                            spark=batch_df.sparkSession)
        prior = _read_prior_epoch(batch_df.sparkSession, profile_dir,
                                  batch_id, _PROFILE_SCHEMA)
        batch_df = batch_df.persist()
        try:
            # materialize the merged profile once — it feeds BOTH the
            # verdict joins and the state write, and it is small by
            # construction (#groups x max line length)
            merged = (merge_profiles(
                          prior,
                          position_profiles(batch_df, text_col,
                                            tokens_col=tokens_col))
                      .localCheckpoint(eager=True))
            (novel_line_flags(batch_df, prior, text_col,
                              tokens_col=tokens_col, max_lines=max_lines,
                              merged_profile=merged)
                .write.mode("overwrite")
                .parquet(os.path.join(out_dir, f"epoch={batch_id}")))
            (merged.write.mode("overwrite")
                   .parquet(os.path.join(profile_dir,
                                         f"epoch={batch_id}")))
        finally:
            batch_df.unpersist()
        _prune_epochs(profile_dir, batch_id, keep_epochs,
                      spark=batch_df.sparkSession)

    return (lines.writeStream.foreachBatch(_write)
                 .option("checkpointLocation", checkpoint_dir))


def current_templates(spark: SparkSession, profile_dir: str,
                      min_count: int = 1) -> DataFrame:
    """Finalize ``(template, n_lines, n_groups)`` from the newest
    committed profile epoch — equal to batch-mining every line ingested
    so far (merge associativity), at the cost of reading only the
    profile table.

    Safe to call while the stream runs: the running stream PRUNES old
    epochs, so a lazy plan over an epoch directory could hit deleted
    files at action time. The profile is therefore eagerly materialized
    with ``localCheckpoint`` (lineage truncated — later pruning cannot
    invalidate the returned frame; the state table is small by
    construction, bounded by #groups × max line length), and the
    glob→read window is retried against a fresh listing if the stream
    prunes in between."""
    import os

    from ..operators.templates import templates_from_profiles

    last_err = None
    for _ in range(3):
        epochs = _committed_epochs(profile_dir, spark=spark)
        if not epochs:
            return spark.createDataFrame(
                [], "template string, n_lines bigint, n_groups bigint")
        try:
            prof = (spark.read.parquet(
                        os.path.join(profile_dir, f"epoch={epochs[-1]}"))
                    .localCheckpoint(eager=True))
            return templates_from_profiles(prof, min_count=min_count)
        except Exception as e:  # epoch pruned between glob and read
            last_err = e
    raise last_err


def _check_epoch_params(state_dir: str, params: dict,
                        spark=None) -> None:
    """Guard against silently mixing state built under different
    operator parameters across restarts (e.g. an LSH index signed with
    n_hashes=8 screened with n_hashes=16 would miss every historical
    bucket): the first epoch stamps ``params.json`` beside the epoch
    dirs; every later run must present the identical dict.

    The stamp is written atomically (temp file + ``os.replace`` on
    local paths; one closed create on URI paths — atomic on HDFS and
    object-store PUTs) and only ENFORCED once a committed epoch exists
    — parameters can be freely corrected after a failed first batch (no
    committed epoch → restamp freely). Once committed epochs EXIST, a
    missing or unreadable stamp is refused rather than restamped:
    silently stamping the CURRENT run's params would accept exactly the
    drift the guard exists to reject (atomic writes make a truncated
    stamp impossible in normal operation, so this state means the file
    was lost or hand-edited — restore it, or rebuild the state dir)."""
    import json
    import os
    import posixpath

    from .. import fsio

    if fsio.is_uri_path(state_dir):
        spark = fsio.resolve_spark(spark, state_dir)
        fsio.mkdirs(spark, state_dir)
        path = posixpath.join(state_dir, "params.json")
        txt = fsio.read_text(spark, path)
        seen = None
        if txt is not None:
            try:
                seen = json.loads(txt)
            except ValueError:
                seen = None   # unreadable stamp
        if _committed_epochs(state_dir, spark=spark):
            _enforce_epoch_params(state_dir, seen, params)
            return
        fsio.write_text(spark, path, json.dumps(params))
        return

    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, "params.json")
    seen = None
    if os.path.exists(path):
        try:
            with open(path) as f:
                seen = json.load(f)
        except ValueError:
            seen = None   # unreadable stamp
    if _committed_epochs(state_dir):
        _enforce_epoch_params(state_dir, seen, params)
        return
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(params, f)
    os.replace(tmp, path)


def _enforce_epoch_params(state_dir: str, seen, params: dict) -> None:
    if seen is None:
        raise ValueError(
            f"epoch state at {state_dir} has committed epochs but "
            "no readable params.json stamp; refusing to restamp "
            "with this run's parameters — restore the stamp or "
            "rebuild the state directory")
    if seen != params:
        raise ValueError(
            f"epoch state at {state_dir} was built with {seen}, "
            f"got {params}: matching parameters are required "
            "(or point at a fresh state directory)")


# streaming heavy-hitter state layout: item rows carry the surviving
# Misra-Gries counter; one NULL-item row always present carries the
# total ingested count (so an empty summary still knows its n)
_HEAVY_STATE_SCHEMA = "token string, w long, n_total long"


def streaming_heavy_hitters(tokens: DataFrame, checkpoint_dir: str,
                            state_dir: str, col: str = "token",
                            k: int = 20, keep_epochs: int = 3):
    """Streaming heavy hitters over an unbounded token/key stream —
    "which hosts / templates / tokens dominate the firehose" with
    bounded state: a single k-entry weighted Misra–Gries summary,
    versioned per epoch under ``state_dir`` (the
    ``streaming_template_mining`` exactly-once protocol: each
    micro-batch folds into the newest committed epoch `` < batch_id``
    and overwrites only its own ``epoch=N`` directory, so replays
    reproduce the identical merge).

    Per micro-batch cost: ONE map-only pass over the batch
    (:func:`~log2seq_spark.operators.heavy._mg_partition_summaries`
    with per-partition totals riding along) + a driver-side fold of
    ≤ partitions×k + k counter rows. History is never re-read; state
    is k+1 rows whatever the stream volume.

    Guarantees (mergeable-summaries potential argument — every
    decremented counter unit destroys k+1 units of ingested weight,
    at whatever level it happens): every item with true count
    > n/(k+1) of the n tokens ingested so far is present, and each
    stored weight underestimates its item's true count by at most
    n/(k+1). Items are the SUPERSET side: read the answer with
    :func:`current_heavy_hitters`, whose ``guaranteed`` flag marks
    items provably above n/k. Null tokens are ignored.

    Returns an un-started ``DataStreamWriter``."""
    import os

    from ..operators.heavy import _mg_partition_summaries, mg_update

    params = {"col": col, "k": k}

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _check_epoch_params(state_dir, params, spark=spark)
        prior = _read_prior_epoch(spark, state_dir, batch_id,
                                  _HEAVY_STATE_SCHEMA).collect()
        state = {r["token"]: r["w"] for r in prior
                 if r["token"] is not None}
        total = max((r["n_total"] for r in prior), default=0)
        stream = batch_df.select(col).filter(F.col(col).isNotNull())
        for r in _mg_partition_summaries(stream, col, k,
                                         with_totals=True).collect():
            if r["token"] is None:
                total += r["w"]
            else:
                state = mg_update(state, r["token"], r["w"], k)
        rows = [(None, 0, total)] + [(t, w, total)
                                     for t, w in sorted(state.items())]
        (spark.createDataFrame(rows, _HEAVY_STATE_SCHEMA)
              .coalesce(1).write.mode("overwrite")
              .parquet(os.path.join(state_dir, f"epoch={batch_id}")))
        _prune_epochs(state_dir, batch_id, keep_epochs, spark=spark)

    return (tokens.writeStream.foreachBatch(_write)
                  .option("checkpointLocation", checkpoint_dir))


def current_heavy_hitters(spark: SparkSession, state_dir: str,
                          k: int = 20) -> DataFrame:
    """Finalize ``(token, w, n_total, guaranteed)`` from the newest
    committed heavy-hitter epoch: ``w`` is the Misra–Gries lower bound
    on the token's true count over everything ingested; ``guaranteed``
    marks tokens with ``w·k > n_total`` — provably above the n/k
    heavy-hitter bar even before the error allowance (``w`` is a lower
    bound). Same eager-read + retry discipline as
    :func:`current_templates` (the running stream prunes epochs)."""
    import os

    last_err = None
    for _ in range(3):
        epochs = _committed_epochs(state_dir, spark=spark)
        if not epochs:
            return spark.createDataFrame(
                [], _HEAVY_STATE_SCHEMA + ", guaranteed boolean")
        try:
            st = (spark.read.parquet(
                      os.path.join(state_dir, f"epoch={epochs[-1]}"))
                  .localCheckpoint(eager=True))
            return (st.filter(F.col("token").isNotNull())
                      .withColumn("guaranteed",
                                  F.col("w") * k > F.col("n_total")))
        except Exception as e:  # epoch pruned between glob and read
            last_err = e
    raise last_err


def streaming_near_dup_with_index(docs: DataFrame, out_dir: str,
                                  checkpoint_dir: str, index_dir: str,
                                  text_col: str = "text",
                                  id_col: str = "doc_id",
                                  n_hashes: int = 8, bands: int = 4,
                                  shingle_n: int = 3,
                                  keep_epochs: int = 3):
    """Streaming MinHash-LSH near-duplicate SCREENING with an unbounded
    horizon — the near-dup twin of :func:`streaming_dedup_with_index`:
    each micro-batch is screened against the persistent LSH bucket
    index (:func:`~log2seq_spark.operators.dedup.near_dup_against_index`)
    and absorbed into it
    (:func:`~log2seq_spark.operators.dedup.updated_minhash_index`),
    versioned per epoch under ``index_dir`` (shared protocol: epoch b
    reads the newest committed epoch < b, overwrites only epoch=b,
    predecessor survives every prune — crash-replay recomputes exactly
    what the first attempt saw).

    Every batch row lands under ``out_dir/batch_id=<epoch>`` annotated
    with (``is_near_dup``, ``match_id``) — ALL rows are written, not
    just fresh ones, because an LSH band collision is a CANDIDATE, not
    a verdict: route ``is_near_dup`` rows through
    :func:`~log2seq_spark.operators.dedup.ngram_jaccard_pairs` where
    exactness matters.

    The LSH parameters are stamped into ``index_dir/params.json`` on
    the first epoch and enforced on every restart — an index signed
    under different (n_hashes, bands, shingle_n) would silently miss
    every historical bucket.

    Scale shape: the index holds one row per occupied (band, band_hash)
    bucket — novelty-bounded; each micro-batch costs one signature
    aggregate over ITS shingles, one equi-join against the index, and
    one batch-local window. History is never re-read.

    Returns an un-started ``DataStreamWriter``.
    """
    import os

    from ..operators.dedup import (_nullsafe_text_hash,
                                   minhash_band_signatures,
                                   near_dup_against_index,
                                   updated_minhash_index)

    # every knob that changes what gets signed or how buckets are keyed
    # belongs in the drift stamp — a different text_col signs different
    # content against the same historical buckets just as silently as a
    # different n_hashes
    params = {"n_hashes": int(n_hashes), "bands": int(bands),
              "shingle_n": int(shingle_n),
              "text_col": text_col, "id_col": id_col}

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _check_epoch_params(index_dir, params, spark=spark)
        id_type = batch_df.schema[id_col].dataType.simpleString()
        idx = _read_prior_epoch(
            spark, index_dir, batch_id,
            f"band int, band_hash string, keep_id {id_type}")
        # the signature aggregate (shingle posexplode + per-seed mins)
        # is the dominant per-batch cost: compute it ONCE and feed both
        # the screen and the index update (the `dec.persist()`
        # discipline of streaming_dedup_with_index)
        sigs = minhash_band_signatures(
            batch_df, text_col, id_col,
            n_hashes=n_hashes, bands=bands, shingle_n=shingle_n).persist()
        try:
            verdicts = near_dup_against_index(
                batch_df, idx, text_col, id_col,
                n_hashes=n_hashes, bands=bands, shingle_n=shingle_n,
                signatures=sigs)
            # null-safe left join on (id, content hash) — the
            # dedup_against_index convention: an id-only join would
            # drop null-id rows (the docstring promises ALL rows
            # written) and cross-label an id repeated with different
            # payloads with one merged verdict
            annotated = (
                batch_df
                .withColumn("_bth", _nullsafe_text_hash(text_col))
                .alias("b")
                .join(verdicts.alias("v"),
                      F.col(f"b.{id_col}").eqNullSafe(
                          F.col(f"v.{id_col}"))
                      & F.col("b._bth").eqNullSafe(
                          F.col("v.text_hash")), "left")
                .select("b.*", "v.is_near_dup", "v.match_id")
                .drop("_bth")
                .withColumn("batch_id", F.lit(int(batch_id))))
            (annotated.write.mode("overwrite")
                      .parquet(os.path.join(out_dir,
                                            f"batch_id={batch_id}")))
            new_idx = updated_minhash_index(
                idx, batch_df, text_col, id_col,
                n_hashes=n_hashes, bands=bands, shingle_n=shingle_n,
                signatures=sigs)
            (new_idx.write.mode("overwrite")
                    .parquet(os.path.join(index_dir,
                                          f"epoch={batch_id}")))
        finally:
            sigs.unpersist()
        _prune_epochs(index_dir, batch_id, keep_epochs,
                      spark=spark)

    return (docs.writeStream.foreachBatch(_write)
                .option("checkpointLocation", checkpoint_dir))


def streaming_clean_corpus(docs: DataFrame, out_dir: str,
                           checkpoint_dir: str, index_dir: str,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           do_scrub: bool = True,
                           quality_min: float | None = 0.5,
                           keep_epochs: int = 3):
    """Streaming counterpart of
    :func:`~log2seq_spark.operators.corpus.clean_corpus`: PII/URL scrub
    (map-only) → exact dedup of the CLEANED text against the
    epoch-versioned unbounded-horizon hash index → quality gate. One
    verdict row per batch doc — (``id_col``, clean_text, kept,
    drop_reason ∈ (null, 'empty', 'exact_dup', 'low_quality'), same
    precedence as the batch recipe via
    :func:`~log2seq_spark.operators.corpus.drop_reason_expr`) — lands
    under ``out_dir/batch_id=<epoch>``; the index absorbs each batch's
    first-seen content hashes (shared epoch protocol: replay-safe,
    predecessor survives every prune).

    Deliberately OMITS the batch recipe's corpus-level line dedup —
    when cross-document boilerplate-line removal matters on a stream,
    compose :func:`streaming_line_dedup_with_index` upstream of this
    operator (it maintains its own line-hash index).

    State-affecting knobs (what gets hashed) are drift-stamped;
    ``quality_min`` is per-batch-verdict only and may change across
    restarts without corrupting the index.
    """
    import os

    from ..operators.corpus import drop_reason_expr
    from ..operators.dedup import (_nullsafe_text_hash,
                                   dedup_against_index,
                                   updated_dedup_index)
    from ..operators.scrub import scrub_expr
    from ..operators.textstats import quality_features

    params = {"text_col": text_col, "id_col": id_col,
              "do_scrub": bool(do_scrub)}

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _check_epoch_params(index_dir, params, spark=spark)
        id_type = batch_df.schema[id_col].dataType.simpleString()
        idx = _read_prior_epoch(spark, index_dir, batch_id,
                                f"text_hash string, keep_id {id_type}")
        clean = (scrub_expr(F.col(text_col)) if do_scrub
                 else F.col(text_col))
        cleaned = (batch_df.select(F.col(id_col), clean.alias("_clean"))
                   .withColumn("_h", _nullsafe_text_hash("_clean"))
                   .persist())
        try:
            # decisions feed the verdict rows AND the index rewrite;
            # they join back on (id, content hash) null-safely — an
            # id-only join drops null-id rows and fans out repeated ids
            dec = dedup_against_index(cleaned, idx, "_clean", id_col) \
                .persist()
            try:
                q = (quality_features(cleaned, "_clean")
                     if quality_min is not None else cleaned)
                d = dec.select(F.col(id_col).alias("_did"),
                               "text_hash", "decision")
                reason = drop_reason_expr(
                    "_clean", F.col("decision") != "keep", quality_min)
                verdicts = (
                    q.join(d, q["_h"].eqNullSafe(d["text_hash"])
                              & q[id_col].eqNullSafe(d["_did"]))
                     .select(F.col(id_col),
                             F.col("_clean").alias("clean_text"),
                             reason.isNull().alias("kept"),
                             reason.alias("drop_reason"))
                     .withColumn("batch_id", F.lit(int(batch_id))))
                (verdicts.write.mode("overwrite")
                         .parquet(os.path.join(out_dir,
                                               f"batch_id={batch_id}")))
                new_idx = updated_dedup_index(idx, dec, id_col=id_col)
                (new_idx.write.mode("overwrite")
                        .parquet(os.path.join(index_dir,
                                              f"epoch={batch_id}")))
            finally:
                dec.unpersist()
        finally:
            cleaned.unpersist()
        _prune_epochs(index_dir, batch_id, keep_epochs,
                      spark=spark)

    return (docs.writeStream.foreachBatch(_write)
                .option("checkpointLocation", checkpoint_dir))


def streaming_line_dedup_with_index(docs: DataFrame, out_dir: str,
                                    checkpoint_dir: str, index_dir: str,
                                    text_col: str = "text",
                                    id_col: str = "doc_id",
                                    sep: str = "\n",
                                    keep_epochs: int = 3):
    """Streaming C4-style corpus-level line dedup with an UNBOUNDED
    horizon — the line-granularity member of the epoch-state family: a
    non-empty line is kept only in the document where the corpus FIRST
    saw it (:func:`~log2seq_spark.operators.dedup.\
drop_duplicate_lines_against_index` against the persistent
    :func:`~log2seq_spark.operators.dedup.line_dedup_index`), and every
    later document containing it verbatim reassembles without it.
    (``id_col``, clean_text) rows land under ``out_dir/batch_id=N``;
    the index absorbs each batch's first-seen line hashes (shared epoch
    protocol: replay-safe, predecessor survives every prune; ``sep``
    sets line vs paragraph granularity and is drift-stamped along with
    the column names). ``id_col`` IS the document identity and must be
    a stable scalar (keepers persist in the index): rows sharing an id
    within a batch reassemble as ONE doc.

    This closes the gap :func:`streaming_clean_corpus` documents —
    compose this upstream of it when cross-document boilerplate-line
    removal matters on a stream.

    Scale shape: each micro-batch explodes ITS lines once, joins the
    (novelty-bounded) line index on the 32-char hash, and reassembles
    per-doc — history is never re-split.
    """
    import os

    from ..operators.dedup import (_keyed_lines,
                                   drop_duplicate_lines_against_index,
                                   updated_line_dedup_index)

    params = {"text_col": text_col, "id_col": id_col, "sep": sep}

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _check_epoch_params(index_dir, params, spark=spark)
        id_type = batch_df.schema[id_col].dataType.simpleString()
        idx = _read_prior_epoch(spark, index_dir, batch_id,
                                f"line_hash string, keep_id {id_type}")
        # the line explode + per-line md5 is the dominant per-batch
        # cost: compute it ONCE and feed both the reassembly and the
        # index update (the sigs.persist() discipline of
        # streaming_near_dup_with_index)
        keyed = _keyed_lines(batch_df, text_col, id_col, sep).persist()
        try:
            clean = (drop_duplicate_lines_against_index(
                        batch_df, idx, text_col, id_col, sep,
                        keyed=keyed)
                     .withColumn("batch_id", F.lit(int(batch_id))))
            (clean.write.mode("overwrite")
                  .parquet(os.path.join(out_dir,
                                        f"batch_id={batch_id}")))
            new_idx = updated_line_dedup_index(idx, batch_df, text_col,
                                               id_col, sep, keyed=keyed)
            (new_idx.write.mode("overwrite")
                    .parquet(os.path.join(index_dir,
                                          f"epoch={batch_id}")))
        finally:
            keyed.unpersist()
        _prune_epochs(index_dir, batch_id, keep_epochs,
                      spark=spark)

    return (docs.writeStream.foreachBatch(_write)
                .option("checkpointLocation", checkpoint_dir))


def streaming_substr_scrub(docs: DataFrame, out_dir: str,
                           checkpoint_dir: str, index_dir: str,
                           text_col: str = "text",
                           id_col: str = "doc_id", k: int = 20,
                           min_count: int = 2, keep_epochs: int = 3):
    """Streaming occurrence-granularity ExactSubstr scrub with an
    UNBOUNDED horizon: every micro-batch is scrubbed against the
    persisted corpus gram index (:func:`~log2seq_spark.operators.\
substrdedup.scrub_against_index` — arrival-order keepers: any run of
    >= ``k`` tokens already in the index scrubs from every batch copy;
    novel runs keep their first batch occurrence). Scrubbed rows land
    under ``out_dir/batch_id=<epoch>`` with ``n_dropped_tokens``; the
    index for epoch ``b`` (full merged (gh, n_occ) counts) commits to
    ``index_dir/epoch=b`` AFTER the scrubbed rows — the shared
    idempotent-epoch protocol, so a crashed/replayed micro-batch
    recomputes from exactly the state its first attempt saw. This is
    the streaming twin of CLI ``substr --index-dir`` (which needs its
    claim-file replay guard only because a CLI re-run has no epoch id
    to anchor idempotence to; here the epoch IS the guard).

    Scale shape: the index holds one row per DISTINCT gram ever seen —
    novelty-bounded, not stream-bounded — and each micro-batch costs
    one gram pass (persisted, shared by screen and index update) plus
    one equi-join on the uniform 64-bit hash."""
    import os

    from ..operators.substrdedup import (gram_positions,
                                         scrub_against_index,
                                         updated_substr_index)

    params = {"text_col": text_col, "id_col": id_col, "k": k,
              "min_count": min_count}

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _check_epoch_params(index_dir, params, spark=spark)
        idx = _read_prior_epoch(spark, index_dir, batch_id,
                                "gh bigint, n_occ bigint")
        grams = gram_positions(batch_df, text_col, id_col, k).persist()
        try:
            out = (scrub_against_index(batch_df, idx, text_col, id_col,
                                       k, min_count, grams=grams)
                   .withColumn("batch_id", F.lit(int(batch_id))))
            (out.write.mode("overwrite")
                .parquet(os.path.join(out_dir,
                                      f"batch_id={batch_id}")))
            new_idx = updated_substr_index(idx, batch_df, text_col,
                                           id_col, k, grams=grams)
            (new_idx.write.mode("overwrite")
                    .parquet(os.path.join(index_dir,
                                          f"epoch={batch_id}")))
        finally:
            grams.unpersist()
        _prune_epochs(index_dir, batch_id, keep_epochs, spark=spark)

    return (docs.writeStream.foreachBatch(_write)
                .option("checkpointLocation", checkpoint_dir))

