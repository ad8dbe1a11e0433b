"""Structured Streaming extension: continuous aggregates maintained from
a file stream of sequence rows (SURVEY.md §2.4 'Streaming' row).

Two layers:

* ``windowed_aggregate`` — pure streaming plan: watermarked tumbling
  window over event time, sum-mergeable rollup state per (source,
  window).  Late rows beyond the watermark are dropped by Spark.
* ``run_incremental_stream`` — production shape: ``foreachBatch`` folds
  each micro-batch into the stored continuous aggregate via
  ``update_continuous_aggregate`` (the same incremental-merge path the
  batch engine uses), so a crashed stream resumes from its checkpoint
  and the stored table always equals a full recompute of everything
  ingested so far.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregates import update_continuous_aggregate
from .catalog import Catalog
from .datagen import SCHEMA as SEQ_SCHEMA


def with_event_time(df: DataFrame, bucket_seconds: int = 3600) -> DataFrame:
    """Derive an event timestamp from the integer time bucket."""
    return df.withColumn(
        "event_time",
        F.timestamp_seconds(F.col("time_bucket") * bucket_seconds),
    )


def windowed_aggregate(
    stream: DataFrame,
    watermark: str = "2 hours",
    window: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window rollup of a streaming sequence table
    with columns (source, event_time, tokens)."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("w"), F.col("source"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("tokens")).alias("n_points"),
            F.sum(
                F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x)
            ).alias("token_sum"),
            F.min(F.array_min("tokens")).alias("token_min"),
            F.max(F.array_max("tokens")).alias("token_max"),
        )
        .select(
            "source",
            (F.unix_timestamp(F.col("w.start")) / 3600).cast("long").alias(
                "time_bucket"
            ),
            "n_docs",
            "n_points",
            "token_sum",
            "token_min",
            "token_max",
        )
    )


def read_sequence_stream(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    # StructType.add mutates in place — never call it on the shared schema
    schema = StructType(
        list(SEQ_SCHEMA.fields) + [StructField("time_bucket", LongType(), True)]
    )
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(input_path)


def stream_rollup_tier(
    stream: DataFrame,
    kernel: str = "avg",
    window: int = 4,
    num_tiers: int = 1,
    sparse: bool = False,
) -> DataFrame:
    """A retention tier over a STREAM of sequence rows.

    Pooling is per-row and stateless (every tokens array pools
    independently), so the streaming plan needs no watermark, state
    store, or shuffle: file scan -> one MapInArrow node -> sink, and
    every row's output is byte-identical to the single-node kernels
    (pinned by test).  At 10^12-sequence scale this is the
    'rollup-on-ingest' path: new sequences land already downsampled,
    and the batch engine's deeper tiers read from this stream's sink.
    """
    from .udfs import pool_tier

    pool = pool_tier(kernel, window=window, num_tiers=num_tiers, sparse=sparse)
    return pool(stream.select("doc_id", "source", "time_bucket", "tokens"))


def stateful_running_rollup(
    stream: DataFrame,
    timeout_conf: str = "NoTimeout",
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState
    (SURVEY.md §2.4 'applyInPandasWithState for custom stateful
    operators'): a per-source running accumulator of (n_docs, n_points,
    token_sum) maintained across micro-batches — the streaming analog of
    the reference's multi-mip shared accumulator.

    Emits one updated state row per source per micro-batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("source", StringType(), False),
            StructField("n_docs", LongType(), False),
            StructField("n_points", LongType(), False),
            StructField("token_sum", LongType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("n_docs", LongType(), False),
            StructField("n_points", LongType(), False),
            StructField("token_sum", LongType(), False),
        ]
    )

    def _update(key, pdfs, state):
        n_docs, n_points, token_sum = (
            state.get if state.exists else (0, 0, 0)
        )
        for pdf in pdfs:
            for toks in pdf["tokens"]:
                arr = [int(x) for x in toks]
                n_docs += 1
                n_points += len(arr)
                token_sum += sum(arr)
        state.update((n_docs, n_points, token_sum))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "n_docs": [n_docs],
                "n_points": [n_points],
                "token_sum": [token_sum],
            }
        )

    return (
        stream.select("source", "tokens")
        .groupBy("source")
        .applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=getattr(GroupStateTimeout, timeout_conf),
        )
    )


def session_windows(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    watermark: str | None = None,
) -> DataFrame:
    """Per-user session aggregation via Spark's NATIVE
    ``F.session_window`` — the streaming-capable twin of the batch
    lag+running-sum sessionization (q_sessionize), usable on both a
    static DataFrame and a stream (pass ``watermark`` so the state
    store can close sessions).

    Semantics alignment (pinned by the shared oracle, and verified
    empirically — the docs are ambiguous): session_window MERGES an
    event exactly gap away (windows touching at the boundary join), so
    with second-truncated timestamps its split condition is already
    the batch definition's strictly-greater-than-gap on floored epoch
    seconds; pass gap_s unchanged.

    Scale shape: one hash exchange on (user, assigned window); in
    streaming mode state is per OPEN session only and the watermark
    expires closed ones."""
    sec_ts = F.timestamp_seconds(F.unix_timestamp(F.col(ts_col)))
    ev = df.select(
        F.col(user_col).cast("long").alias("user_id"),
        sec_ts.alias("_ts"),
    )
    if watermark is not None:
        ev = ev.withWatermark("_ts", watermark)
    return (
        ev.groupBy(
            "user_id",
            F.session_window("_ts", f"{gap_s} seconds").alias("sw"),
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (
                F.max(F.unix_timestamp("_ts"))
                - F.min(F.unix_timestamp("_ts"))
            ).cast("long").alias("duration_s"),
            F.min(F.unix_timestamp("_ts")).cast("long").alias("started_at"),
        )
        .select("user_id", "n_events", "duration_s", "started_at")
    )


def stream_dedup(
    stream: DataFrame,
    watermark: str = "24 hours",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Streaming ingestion dedup (pipeline op): drop re-ingested
    duplicate documents by content fingerprint (md5 over the token
    array) within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps per-fingerprint state only
    for the horizon, so state size is bounded by the window's unique
    ingest volume, not the corpus — the streaming complement of batch
    ``q_dedup_exact``; global dedup at rest stays a batch job."""
    with_fp = with_event_time(stream, bucket_seconds).withColumn(
        "fingerprint",
        F.md5(F.concat_ws(",", F.col("tokens").cast("array<string>"))),
    )
    return with_fp.withWatermark(
        "event_time", watermark
    ).dropDuplicatesWithinWatermark(["fingerprint"])


def cms_cells(df: DataFrame, token_col: str = "tokens",
              depth: int = 4, width: int = 1024) -> DataFrame:
    """Count-min sketch cells of a token-array multiset: every token
    fans out to its ``depth`` (row, bucket) cells IN-ROW and collapses
    through one map-side-combinable groupBy onto a table bounded by
    ``depth * width`` rows regardless of input volume.  Same salted-md5
    bucket family as driver_contract.text.q_cms_heavy."""

    def bucket(col, row: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{row}:"), col)), 1, 14
                ), 16, 10,
            ).cast("long")
            % width
        )

    tok = df.select(F.explode(F.col(token_col)).alias("t")).select(
        F.col("t").cast("string").alias("w")
    )
    return (
        tok.select(
            F.posexplode(
                F.array(*[bucket(F.col("w"), r) for r in range(depth)])
            ).alias("r", "b")
        )
        .groupBy("r", "b")
        .agg(F.count("*").cast("long").alias("c"))
    )


def run_cms_stream(
    spark: SparkSession,
    input_path: str,
    warehouse: str,
    table: str = "cms_cells",
    depth: int = 4,
    width: int = 1024,
    checkpoint: str | None = None,
    max_files_per_trigger: int = 1,
):
    """Maintain the count-min sketch as STREAMING STATE: each
    micro-batch's cells fold into the stored cell table by cell-wise
    ADDITION (CMS is sum-mergeable), exactly-once per batch id via the
    streaming checkpoint.  After draining a directory the stored
    sketch is cell-for-cell identical to the batch sketch over the
    same files (pinned in test_streaming) — the state table never
    exceeds depth*width rows no matter how much history streamed
    through it."""
    catalog = Catalog(spark, warehouse)
    stream = read_sequence_stream(spark, input_path, max_files_per_trigger)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = cms_cells(batch_df, depth=depth, width=width)
        if catalog.exists(table):
            merged = (
                catalog.read(table)
                .unionByName(delta)
                .groupBy("r", "b")
                .agg(F.sum("c").cast("long").alias("c"))
            )
            # materialize (<= depth*width rows) BEFORE overwriting the
            # files the plan reads from
            merged = merged.localCheckpoint()
        else:
            merged = delta
        catalog.write(merged, table, mode="overwrite")

    return (
        stream.writeStream.foreachBatch(_fold)
        .option(
            "checkpointLocation",
            checkpoint or f"{warehouse}/_checkpoints/{table}",
        )
        .trigger(availableNow=True)
        .start()
    )


def read_correction_stream(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream of CDC-style correction ops against the raw sequence
    table: sequence columns plus ``op`` in {'upsert', 'delete'}.
    Deletes carry (doc_id, source) and may leave tokens/n_tok/
    time_bucket null — the old row's bucket is recovered from the
    stored table, not trusted from the op."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    fields = [
        StructField(f.name, f.dataType, True) for f in SEQ_SCHEMA.fields
    ]
    schema = StructType(
        fields
        + [
            StructField("time_bucket", LongType(), True),
            StructField("op", StringType(), False),
        ]
    )
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(input_path)


def apply_raw_corrections(
    catalog: Catalog, table: str, ops: DataFrame
) -> list[tuple[str, int, int]]:
    """Apply a batch of upsert/delete ops to the stored raw sequence
    table and return the invalidation log (closed time-bucket ranges
    per source) the corrections dirtied — feed to
    ``aggregates.refresh_invalidated``.

    CONTRACT: ``doc_id`` -> ``source`` is stable (a correction never
    moves a doc between sources) and every op row carries its source —
    that is what bounds the scan to the TOUCHED source partitions (an
    unknown-source delete would have to scan every partition for the
    key).  Idempotent by construction (replace-by-key + delete-by-key
    reach the same end state re-applied), which is what foreachBatch
    needs for exactly-once resume after a crash between the raw write
    and the checkpoint commit.

    Dirty ranges span BOTH sides of each correction: the op's new
    bucket (upsert placement) and the stored row's old bucket (a doc
    whose correction moves it between buckets, or a delete, un-counts
    where it USED to live)."""
    ops = ops.localCheckpoint()  # small batch, probed several times
    touched = sorted(
        r["source"] for r in ops.select("source").distinct().collect()
    )
    keys = ops.select("doc_id").distinct()
    new_rows = ops.where(F.col("op") == "upsert").select(
        *[f.name for f in SEQ_SCHEMA.fields], "time_bucket"
    )
    dirty = ops.select("source", "time_bucket")
    if catalog.exists(table):
        relevant = catalog.read(table).where(F.col("source").isin(touched))
        old = relevant.join(F.broadcast(keys), "doc_id", "left_semi")
        dirty = dirty.unionByName(old.select("source", "time_bucket"))
        keep = relevant.join(F.broadcast(keys), "doc_id", "left_anti")
        merged = keep.unionByName(new_rows)
    else:
        merged = new_rows
    ranges = [
        (r["source"], r["lo"], r["hi"])
        for r in dirty.where(F.col("time_bucket").isNotNull())
        .groupBy("source")
        .agg(
            F.min("time_bucket").alias("lo"),
            F.max("time_bucket").alias("hi"),
        )
        .collect()
    ]
    # Stage survivors before touching live partitions — writing a table
    # onto itself deletes input files mid-read (retention.py does the
    # same swap; Iceberg's MERGE INTO is the transactional form).
    staging = f"{table}__corrections_staging"
    catalog.drop(staging)
    catalog.write(merged, staging, partition_by=("source",), mode="overwrite")
    staged_sources: set = set()
    if catalog.exists(staging):
        staged = catalog.read(staging)
        catalog.write(
            staged, table, partition_by=("source",),
            mode="overwrite_partitions",
        )
        staged_sources = {
            r["source"] for r in staged.select("source").distinct().collect()
        }
    for source in set(touched) - staged_sources:
        # every doc of this source deleted: dynamic overwrite wrote
        # nothing, drop the partition directory explicitly
        catalog.drop(f"{table}/source={source}")
    catalog.drop(staging)
    return ranges


def run_correction_stream(
    spark: SparkSession,
    input_path: str,
    warehouse: str,
    raw_table: str = "raw_seq",
    cagg_table: str = "cagg_corr",
    checkpoint: str | None = None,
    max_files_per_trigger: int = 1,
):
    """The CDC pipeline the append-only fold can't be: a stream of
    upsert/delete corrections lands on the raw table
    (``apply_raw_corrections``) and each batch's invalidation log
    drives a targeted ``refresh_invalidated`` of the stored continuous
    aggregate — only dirtied (source, bucket-range) groups recompute,
    only touched source partitions rewrite, and the stored cagg always
    equals a full recompute over the corrected raw (pinned in tests and
    under the DuckDB oracle via q_stream_upsert_refresh).  Exactly-once
    per batch id: both steps are idempotent, so a replayed micro-batch
    converges to the same tables."""
    from .aggregates import refresh_invalidated

    catalog = Catalog(spark, warehouse)
    stream = read_correction_stream(spark, input_path, max_files_per_trigger)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ranges = apply_raw_corrections(catalog, raw_table, batch_df)
        if not ranges:
            return
        if catalog.exists(raw_table):
            refresh_invalidated(
                catalog, cagg_table, catalog.read(raw_table), ranges
            )
        else:
            # the batch deleted the last surviving raw rows — the dirty
            # sources must vanish from the aggregate too
            for s in sorted({s for s, _, _ in ranges}):
                catalog.drop(f"{cagg_table}/source={s}")

    query = (
        stream.writeStream.foreachBatch(_apply)
        .option(
            "checkpointLocation",
            checkpoint or f"{warehouse}/_checkpoints/{cagg_table}",
        )
        .trigger(availableNow=True)
        .start()
    )
    return query


def run_incremental_stream(
    spark: SparkSession,
    input_path: str,
    warehouse: str,
    table: str = "cagg_stream",
    checkpoint: str | None = None,
    max_files_per_trigger: int = 1,
):
    """Fold a parquet-directory stream into the stored continuous
    aggregate, one micro-batch at a time, exactly-once per batch id via
    the streaming checkpoint.  Uses availableNow so tests (and backfill
    jobs) terminate when the directory is drained."""
    catalog = Catalog(spark, warehouse)
    stream = read_sequence_stream(spark, input_path, max_files_per_trigger)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        update_continuous_aggregate(catalog, table, batch_df)

    query = (
        stream.writeStream.foreachBatch(_fold)
        .option(
            "checkpointLocation",
            checkpoint or f"{warehouse}/_checkpoints/{table}",
        )
        .trigger(availableNow=True)
        .start()
    )
    return query


ATTRIBUTION_WINDOW_S = 3600  # clicks within 1h before the purchase
ATTRIBUTION_WATERMARK = "2 hours"

_EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, "
    "event_type string, value double, props string"
)


def run_attribution_stream(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint: str,
    window_s: int = ATTRIBUTION_WINDOW_S,
    max_files_per_trigger: int | None = None,
):
    """Watermarked STREAM-STREAM inner join: every purchase pairs with
    each click by the same user in the hour before it (ad attribution).

    Both sides carry a 2h watermark and the join carries the explicit
    event-time range constraint, so Spark can BOUND the join state: a
    buffered click is evicted once the watermark passes the last
    purchase time it could still match (c_ts + window), and a purchase
    once no earlier click can still arrive — without the constraint the
    state grows forever.  Inner-join results emit in append mode as
    matches arrive (exactly-once to the parquet sink via the streaming
    checkpoint); availableNow drains the directory and terminates.

    Correctness-vs-batch caveat baked into the API: file streams do NOT
    replay time-ordered rows, and a watermark only promises to keep
    LATE data within its horizon — so multi-batch replays of
    arbitrarily-ordered files may legitimately drop matches a batch
    join would find.  Deterministic replays either (a) drain in ONE
    availableNow batch (max_files_per_trigger=None — the watermark
    never advances mid-data; exactly the batch join), or (b) feed files
    in event-time order with per-file ranges tighter than the
    watermark (pinned in test_streaming.py with forced modtimes)."""
    def side(event_type: str, id_alias: str, ts_alias: str) -> DataFrame:
        reader = spark.readStream.format("parquet").schema(
            _EVENTS_STREAM_SCHEMA
        )
        if max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", max_files_per_trigger
            )
        df = reader.load(events_dir)
        return (
            df.where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(f"{id_alias}_user"),
                F.col("ts").cast("timestamp").alias(ts_alias),
            )
            .withWatermark(ts_alias, ATTRIBUTION_WATERMARK)
        )

    purchases = side("purchase", "purchase_id", "p_ts")
    clicks = side("click", "click_id", "c_ts")
    pairs = purchases.join(
        clicks,
        (F.col("purchase_id_user") == F.col("click_id_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {window_s} SECONDS")
        ),
        "inner",
    ).select("purchase_id", "click_id")
    return (
        pairs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


_HOT_STREAM_SCHEMA = "source string, tb long, n long"


def alert_episode_stream(stream: DataFrame, threshold: int) -> DataFrame:
    """Stateful threshold-episode tracker (the streaming analog of
    q_alert_episodes): per source, chain consecutive hot hours
    (n >= threshold) into open episodes held in GroupState across
    micro-batches, and EMIT an episode the moment it closes — a gap in
    the hour sequence, or any below-threshold hour, ends it.

    Contract: each source's rows arrive in non-decreasing tb order
    across triggers (file-phase ordering, like run_attribution_stream's
    option (b)); within a trigger the operator sorts its batch.  A
    drained stream ends with a below-threshold sentinel row per source
    so the final open episode closes deterministically — production
    would use an event-time timeout instead; the sentinel keeps the
    drained replay bit-equal to the batch islands query.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("source", StringType(), False),
            StructField("start_tb", LongType(), False),
            StructField("end_tb", LongType(), False),
            StructField("n_hours", LongType(), False),
            StructField("peak_n", LongType(), False),
            StructField("total_n", LongType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("s", LongType(), False),
            StructField("e", LongType(), False),
            StructField("h", LongType(), False),
            StructField("p", LongType(), False),
            StructField("t", LongType(), False),
        ]
    )

    def _update(key, pdfs, state):
        source = key[0]
        open_ep = list(state.get) if state.exists else None
        closed = []
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("tb", ignore_index=True)
        for tb, n in zip(batch["tb"], batch["n"]):
            tb, n = int(tb), int(n)
            if n >= threshold:
                if open_ep is not None and tb == open_ep[1] + 1:
                    open_ep[1] = tb
                    open_ep[2] += 1
                    open_ep[3] = max(open_ep[3], n)
                    open_ep[4] += n
                else:
                    if open_ep is not None:
                        closed.append(open_ep)
                    open_ep = [tb, tb, 1, n, n]
            else:
                if open_ep is not None:
                    closed.append(open_ep)
                    open_ep = None
        if open_ep is not None:
            state.update(tuple(open_ep))
        elif state.exists:
            state.remove()
        if closed:
            yield pd.DataFrame(
                {
                    "source": [source] * len(closed),
                    "start_tb": [c[0] for c in closed],
                    "end_tb": [c[1] for c in closed],
                    "n_hours": [c[2] for c in closed],
                    "peak_n": [c[3] for c in closed],
                    "total_n": [c[4] for c in closed],
                }
            )

    return stream.groupBy("source").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_alert_episode_stream(
    spark: SparkSession,
    hot_dir: str,
    out_dir: str,
    checkpoint: str,
    threshold: int,
    max_files_per_trigger: int | None = 1,
):
    """Drive alert_episode_stream over a directory of time-phased
    (source, tb, n) parquet files, landing closed episodes exactly-once
    in out_dir; availableNow drains and terminates."""
    reader = spark.readStream.format("parquet").schema(_HOT_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    episodes = alert_episode_stream(reader.load(hot_dir), threshold)
    return (
        episodes.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
