"""Structured Streaming: file-stream continuous aggregate equals the
batch recompute; corrections, attribution, alert-episode and
session-window streams equal their batch twins."""

import os

import pytest
from pyspark.sql import functions as F

from tinybrain_spark.aggregates import aggregate_batch
from tinybrain_spark.catalog import Catalog
from tinybrain_spark.datagen import generate
from tinybrain_spark.streaming import (
    drain,
    run_incremental_stream,
)


@pytest.fixture(scope="module")
def seq_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "seq")
    # several files so availableNow produces multiple micro-batches
    generate(spark, n_docs=120, n_tok=32, seed=3, num_partitions=6).write.parquet(
        path
    )
    return path


def _state(df):
    return {
        (r["source"], r["time_bucket"]): (
            r["n_docs"], r["n_points"], r["token_sum"], r["token_min"], r["token_max"]
        )
        for r in df.collect()
    }


def test_incremental_stream_equals_batch(spark, seq_dir, workdir):
    q = run_incremental_stream(
        spark, seq_dir, workdir, table="cs", max_files_per_trigger=2
    )
    drain(q, "stream", 300)
    result = Catalog(spark, workdir).read("cs")
    batch = aggregate_batch(spark.read.parquet(seq_dir))
    assert _state(result) == _state(batch)


def test_stream_resume_is_exactly_once(spark, seq_dir, workdir):
    """Re-running the drained stream with the same checkpoint must not
    double-count anything."""
    q = run_incremental_stream(spark, seq_dir, workdir, table="cs2")
    drain(q, "stream", 300)
    first = _state(Catalog(spark, workdir).read("cs2"))
    q2 = run_incremental_stream(spark, seq_dir, workdir, table="cs2")
    drain(q2, "stream", 300)
    second = _state(Catalog(spark, workdir).read("cs2"))
    assert first == second


def test_session_window_stream_equals_batch(spark, tmp_path):
    """Native session_window (r04): the streaming run (complete mode,
    availableNow) must equal the batch run on the same files, and both
    must match the hand-computed strictly-greater-than-gap semantics
    (gap of exactly 1800s keeps the session; 1801s splits)."""
    import datetime

    from tinybrain_spark.streaming import session_windows

    base = datetime.datetime(2024, 1, 1)

    def t(s):
        return base + datetime.timedelta(seconds=s)

    rows = [
        # user 1: session A (0, 100, 1900=gap exactly 1800 from 100),
        # then 1901s of silence -> session B
        (1, t(0)), (1, t(100)), (1, t(1900)),
        (1, t(3701)), (1, t(3800)),
        # user 2: single event
        (2, t(50)),
        # user 3: two sessions split by exactly 1801
        (3, t(0)), (3, t(1801)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    path = str(tmp_path / "sess_ev")
    df.repartition(3).write.parquet(path)

    epoch = int(base.replace(tzinfo=datetime.timezone.utc).timestamp())
    want = {
        (1, epoch + 0): (3, 1900),
        (1, epoch + 3701): (2, 99),
        (2, epoch + 50): (1, 0),
        (3, epoch + 0): (1, 0),
        (3, epoch + 1801): (1, 0),
    }

    batch = {
        (r["user_id"], r["started_at"]): (r["n_events"], r["duration_s"])
        for r in session_windows(spark.read.parquet(path)).collect()
    }
    assert batch == want

    stream = spark.readStream.schema(df.schema).parquet(path)
    q = (
        session_windows(stream)
        .writeStream.format("memory")
        .queryName("sess_sw")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    drain(q, "stream", 120)
    got = {
        (r["user_id"], r["started_at"]): (r["n_events"], r["duration_s"])
        for r in spark.table("sess_sw").collect()
    }
    assert got == want


# -- CDC correction stream (upsert/delete -> invalidation refresh) -------


def _ops_df(spark, rows):
    """rows: (doc_id, tokens|None, source, time_bucket|None, op)."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StringType, StructField,
        StructType,
    )

    schema = StructType([
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), False),
        StructField("time_bucket", LongType(), True),
        StructField("op", StringType(), False),
    ])
    data = [
        (d, t, len(t) if t is not None else None, s, b, op)
        for d, t, s, b, op in rows
    ]
    return spark.createDataFrame(data, schema)


def test_apply_raw_corrections_upsert_delete_move(spark, workdir):
    """Upsert replaces by key, delete removes, a bucket-moving upsert
    dirties BOTH the old and new bucket; ranges cover all of it."""
    from tinybrain_spark.streaming import apply_raw_corrections

    cat = Catalog(spark, workdir)
    base = _ops_df(spark, [
        ("d1", [1, 2], "a", 100, "upsert"),
        ("d2", [3, 4], "a", 200, "upsert"),
        ("d3", [5, 6], "b", 100, "upsert"),
    ])
    r1 = apply_raw_corrections(cat, "raw", base)
    assert sorted(r1) == [("a", 100, 200), ("b", 100, 100)]
    fix = _ops_df(spark, [
        ("d1", [9, 9], "a", 300, "upsert"),   # moves bucket 100 -> 300
        ("d3", None, "b", None, "delete"),    # bucket recovered from store
    ])
    r2 = apply_raw_corrections(cat, "raw", fix)
    # a: old bucket 100 + new bucket 300 both dirty; b: stored bucket 100
    assert sorted(r2) == [("a", 100, 300), ("b", 100, 100)]
    rows = {
        r["doc_id"]: (r["source"], r["time_bucket"], list(r["tokens"]))
        for r in cat.read("raw").collect()
    }
    assert rows == {
        "d1": ("a", 300, [9, 9]),
        "d2": ("a", 200, [3, 4]),
    }
    # b lost its only doc: the partition directory must be gone
    import os
    assert not os.path.isdir(os.path.join(workdir, "raw", "source=b"))
    # idempotency: re-applying the same batch converges
    r3 = apply_raw_corrections(cat, "raw", fix)
    assert sorted(r3) == [("a", 300, 300)]  # old row already replaced
    rows2 = {
        r["doc_id"]: (r["source"], r["time_bucket"], list(r["tokens"]))
        for r in cat.read("raw").collect()
    }
    assert rows2 == rows


def test_correction_stream_end_state_equals_batch(spark, seq_dir, workdir):
    """Drain a correction stream (corrupted inserts, then fixing
    upserts + deletes) and require: stored raw == last-op-wins, stored
    cagg == full recompute over the corrected raw."""
    from tinybrain_spark.streaming import run_correction_stream

    base = spark.read.parquet(seq_dir)
    corrupted = base.withColumn(
        "tokens", F.transform("tokens", lambda t: t + 7)
    ).withColumn("op", F.lit("upsert"))
    kill = F.crc32(F.col("doc_id")) % 5 == 0
    fixes = base.where(~kill).withColumn("op", F.lit("upsert"))
    deletes = (
        base.where(kill)
        .withColumn("tokens", F.lit(None).cast("array<int>"))
        .withColumn("n_tok", F.lit(None).cast("int"))
        .withColumn("time_bucket", F.lit(None).cast("long"))
        .withColumn("op", F.lit("delete"))
    )
    cols = ["doc_id", "tokens", "n_tok", "source", "time_bucket", "op"]
    ops_dir = f"{workdir}/ops"
    # two files per phase; lexicographic file order doesn't matter
    # WITHIN a phase (key-disjoint), so write phases separately and let
    # maxFilesPerTrigger batch them in arbitrary interleavings
    corrupted.select(cols).repartition(2).write.parquet(ops_dir)
    fixes.select(cols).unionByName(deletes.select(cols)).repartition(
        2
    ).write.parquet(ops_dir, mode="append")
    q = run_correction_stream(
        spark, ops_dir, workdir, raw_table="rawc", cagg_table="caggc",
        max_files_per_trigger=1,
    )
    drain(q, "stream", 600)
    want_raw = base.where(~kill)
    got_raw = Catalog(spark, workdir).read("rawc")
    assert _state(aggregate_batch(got_raw)) == _state(
        aggregate_batch(want_raw)
    )
    got_cagg = Catalog(spark, workdir).read("caggc")
    assert _state(got_cagg) == _state(aggregate_batch(want_raw))


def test_attribution_stream_multibatch_time_ordered(spark, tmp_path):
    """Stream-stream join across MICRO-BATCH boundaries: purchases in a
    later file must still pair with clicks buffered from an earlier
    file (watermark state holds them), and the drained pair set must
    equal the batch range join.  Files are written as disjoint
    ascending time ranges with forced ascending modtimes so the file
    source replays them in event-time order — the documented
    deterministic multi-batch mode of run_attribution_stream."""
    import datetime as dt
    import glob
    import time as _time

    from tinybrain_spark.streaming import run_attribution_stream

    t0 = dt.datetime(2024, 1, 1)
    # file A: clicks at minute 0-2; file B: purchases at minute 30-40
    # (within the 1h window, across the batch boundary) + a click at
    # minute 35 pairing with the minute-40 purchase in the same file
    rows_a = [
        (1, t0 + dt.timedelta(minutes=0), 7, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=2), 8, "click", 1.0, "{}"),
    ]
    rows_b = [
        (3, t0 + dt.timedelta(minutes=30), 7, "purchase", 1.0, "{}"),
        (4, t0 + dt.timedelta(minutes=35), 8, "click", 1.0, "{}"),
        (5, t0 + dt.timedelta(minutes=40), 8, "purchase", 1.0, "{}"),
        # user 7 clicked 0m; a 90m purchase is OUTSIDE the 1h window
        (6, t0 + dt.timedelta(minutes=90), 7, "purchase", 1.0, "{}"),
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    src = str(tmp_path / "events.parquet")
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src + "/f=a")
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src + "/f=b")
    # force ascending modtimes so the file source replays a before b
    now = _time.time()
    for i, d in enumerate(("f=a", "f=b")):
        for p in glob.glob(f"{src}/{d}/*.parquet"):
            os.utime(p, (now + i * 10, now + i * 10))
    q = run_attribution_stream(
        spark,
        src,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    drain(q, "stream", 300)
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # purchase 3 <- click 1 (cross-batch, 30m), purchase 5 <- clicks
    # 2 (38m earlier, cross-batch) and 4 (5m, same batch); purchase 6
    # matches nothing (91m > 1h window)
    assert got == {(3, 1), (5, 2), (5, 4)}


def test_alert_episode_stream_state_survives_batches(spark, tmp_path):
    """An episode straddling two micro-batches must chain through
    GroupState: hot hours [10,11] arrive in trigger 1, [12] in trigger
    2 -> ONE episode (10..12).  A gap inside trigger 2 closes and
    reopens; the sentinel closes the final open episode; a
    below-threshold row closes immediately."""
    from tinybrain_spark.streaming import run_alert_episode_stream

    hot_dir = str(tmp_path / "hot")
    schema = "source string, tb long, n long"

    def phase(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            hot_dir, mode=mode
        )

    phase([("a", 10, 5), ("a", 11, 4), ("b", 10, 7)], "overwrite")
    # trigger 2: 'a' extends through 12 then gaps to 20; 'b' hits a
    # below-threshold hour (closes 10..10) then restarts at 15
    phase([("a", 12, 6), ("a", 20, 4), ("b", 14, 0), ("b", 15, 9)],
          "append")
    # sentinel phase: below threshold, closes every open episode
    phase([("a", 99, 0), ("b", 99, 0)], "append")

    q = run_alert_episode_stream(
        spark, hot_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        threshold=4, max_files_per_trigger=1,
    )
    drain(q, "stream", 300)
    got = {
        (r["source"], r["start_tb"], r["end_tb"], r["n_hours"],
         r["peak_n"], r["total_n"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {
        ("a", 10, 12, 3, 6, 15),
        ("a", 20, 20, 1, 4, 4),
        ("b", 10, 10, 1, 7, 7),
        ("b", 15, 15, 1, 9, 9),
    }
