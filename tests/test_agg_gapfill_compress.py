"""Continuous aggregates (incremental == full recompute), gap-fill
policies, and Spark-side Gorilla encode/decode round-trip."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tinybrain_spark.aggregates import aggregate_batch, update_continuous_aggregate
from tinybrain_spark.catalog import Catalog
from tinybrain_spark.compress import decode_blob, encode_series_table
from tinybrain_spark.datagen import generate
from tinybrain_spark.gapfill import gap_fill


@pytest.fixture(scope="module")
def base_df(spark):
    df = generate(spark, n_docs=200, n_tok=64, seed=11, num_partitions=4).cache()
    df.count()
    return df


def _state(df):
    return {
        (r["source"], r["time_bucket"]): (
            r["n_docs"], r["n_points"], r["token_sum"], r["token_min"], r["token_max"]
        )
        for r in df.collect()
    }


def test_continuous_agg_incremental_equals_full(spark, base_df, workdir):
    cat = Catalog(spark, workdir)
    batch1 = base_df.where(F.col("doc_id") < "doc_0000000100")
    batch2 = base_df.where(F.col("doc_id") >= "doc_0000000100")
    update_continuous_aggregate(cat, "cagg", batch1)
    result = update_continuous_aggregate(cat, "cagg", batch2)
    full = aggregate_batch(base_df)
    assert _state(result) == _state(full)


def test_aggregate_batch_matches_numpy(spark, base_df):
    got = _state(aggregate_batch(base_df))
    rows = base_df.collect()
    want = {}
    for r in rows:
        key = (r["source"], r["time_bucket"])
        toks = np.array(r["tokens"], dtype=np.int64)
        cur = want.get(key)
        if cur is None:
            want[key] = [1, len(toks), int(toks.sum()), int(toks.min()), int(toks.max())]
        else:
            cur[0] += 1
            cur[1] += len(toks)
            cur[2] += int(toks.sum())
            cur[3] = min(cur[3], int(toks.min()))
            cur[4] = max(cur[4], int(toks.max()))
    assert got == {k: tuple(v) for k, v in want.items()}


def test_gapfill_zero_and_previous(spark):
    rows = [
        ("a", 0, 10), ("a", 1, 11), ("a", 4, 14),
        ("b", 2, 22), ("b", 5, 25),
    ]
    df = spark.createDataFrame(rows, "source string, time_bucket long, v long")
    zero = gap_fill(df, ["source"], "time_bucket", ["v"], policy="zero")
    got = {(r["source"], r["time_bucket"]): r["v"] for r in zero.collect()}
    assert len(got) == 12  # 2 sources x buckets 0..5
    assert got[("a", 2)] == 0 and got[("a", 4)] == 14
    assert got[("b", 0)] == 0 and got[("b", 2)] == 22

    prev = gap_fill(df, ["source"], "time_bucket", ["v"], policy="previous")
    got = {(r["source"], r["time_bucket"]): r["v"] for r in prev.collect()}
    assert got[("a", 2)] == 11 and got[("a", 3)] == 11
    assert got[("b", 0)] is None  # nothing before the first observation
    assert got[("b", 3)] == 22 and got[("b", 4)] == 22

    with pytest.raises(ValueError):
        gap_fill(df, ["source"], "time_bucket", ["v"], policy="bogus")


def test_gapfill_linear_interpolation(spark):
    """r04 linear policy: interior gaps floor-interpolate (including
    DECREASING series — floor, not truncate-toward-zero), leading gaps
    back-fill, trailing gaps carry forward."""
    rows = [
        ("a", 0, 10), ("a", 4, 22),          # rising gap: +3/bucket
        ("a", 7, 19),                        # falling gap: -1/bucket
        ("b", 2, 9), ("b", 5, 2),            # falling non-divisible
    ]
    df = spark.createDataFrame(rows, "source string, time_bucket long, v long")
    out = gap_fill(df, ["source"], "time_bucket", ["v"], policy="linear")
    got = {(r["source"], r["time_bucket"]): r["v"] for r in out.collect()}
    assert len(got) == 16  # 2 sources x buckets 0..7
    # rising interior gap
    assert got[("a", 1)] == 13 and got[("a", 2)] == 16 and got[("a", 3)] == 19
    # falling interior gap: exact -1 steps
    assert got[("a", 5)] == 21 and got[("a", 6)] == 20
    # falling non-divisible: 9 + floor(-7k/3) = 9-3, 9-5 (floor, not trunc)
    assert got[("b", 3)] == 6 and got[("b", 4)] == 4
    # leading gap back-fills, trailing gap carries forward
    assert got[("b", 0)] == 9 and got[("b", 1)] == 9
    assert got[("b", 6)] == 2 and got[("b", 7)] == 2
    # observed rows unchanged
    assert got[("a", 4)] == 22 and got[("b", 5)] == 2


def test_gorilla_encode_in_spark(spark, base_df):
    agg = aggregate_batch(base_df)
    blobs = encode_series_table(agg).collect()
    agg_rows = agg.collect()
    by_source = {}
    for r in agg_rows:
        by_source.setdefault(r["source"], []).append(
            (r["time_bucket"], r["token_sum"])
        )
    assert len(blobs) == len(by_source)
    total_raw = total_comp = 0
    for r in blobs:
        want = sorted(by_source[r["source"]])
        buckets, vals = decode_blob(r["blob"])
        assert list(zip(buckets.tolist(), vals.tolist())) == want
        assert r["n_points"] == len(want)
        total_raw += r["raw_bytes"]
        total_comp += len(r["blob"])
    assert total_comp < total_raw


def test_encode_series_chunked_blobs(spark):
    """A long series splits into bounded blobs (Gorilla block design):
    each <= chunk_points, decode-concatenation equals the input."""
    import numpy as np
    from pyspark.sql import functions as F

    from tinybrain_spark.compress import decode_blob, encode_series_table

    n = 1000
    agg = spark.range(n).select(
        F.lit("s0").alias("source"),
        (F.col("id") * 3600 + 1_700_000_000).alias("time_bucket"),
        (F.col("id") * 7 % 1000).alias("token_sum"),
    )
    blobs = encode_series_table(agg, chunk_points=256).orderBy("chunk").collect()
    assert len(blobs) == 4  # ceil(1000/256)
    assert all(r["n_points"] <= 256 for r in blobs)
    got_b, got_v = [], []
    for r in blobs:
        b, v = decode_blob(r["blob"])
        got_b.extend(b.tolist())
        got_v.extend(v.tolist())
    want_b = [i * 3600 + 1_700_000_000 for i in range(n)]
    want_v = [i * 7 % 1000 for i in range(n)]
    assert got_b == want_b and got_v == want_v


def test_gapfill_wide_span_chunked_spine(spark):
    """A bucket span far beyond SPINE_CHUNK must densify correctly —
    the two-level explode keeps every sequence() array bounded."""
    from pyspark.sql import functions as F

    from tinybrain_spark.gapfill import SPINE_CHUNK, gap_fill

    span = SPINE_CHUNK * 3 + 17
    sparse_rows = spark.createDataFrame(
        [("a", 0, 5), ("a", span - 1, 7), ("b", 100, 1)],
        "source string, time_bucket long, n long",
    )
    filled = gap_fill(sparse_rows, ["source"], "time_bucket", ["n"], "zero")
    assert filled.count() == 2 * span
    got = {
        (r["source"], r["time_bucket"]): r["n"]
        for r in filled.where(
            F.col("time_bucket").isin(0, 100, span - 1)
        ).collect()
    }
    assert got[("a", 0)] == 5 and got[("a", span - 1)] == 7
    assert got[("b", 100)] == 1 and got[("a", 100)] == 0
    assert got[("b", 0)] == 0 and got[("b", span - 1)] == 0


# -- invalidation-range refresh (late UPDATE/DELETE corrections) ---------


def test_coalesce_invalidations_merges_and_collapses():
    from tinybrain_spark.aggregates import coalesce_invalidations

    got = coalesce_invalidations(
        [("a", 5, 9), ("a", 1, 3), ("a", 4, 6), ("b", 2, 2)]
    )
    # [1,3] and [4,6] are adjacent (closed ranges) -> merge; [5,9] overlaps
    assert got == [("a", 1, 9), ("b", 2, 2)]
    # over the cap: collapse each source to its envelope
    many = [("a", i * 10, i * 10) for i in range(50)] + [("b", 0, 1)]
    got = coalesce_invalidations(many, max_ranges=8)
    assert got == [("a", 0, 490), ("b", 0, 1)]
    with pytest.raises(ValueError):
        coalesce_invalidations([("a", 5, 4)])


def test_refresh_invalidated_equals_full_recompute(spark, base_df, workdir):
    """Corrections (UPDATEs) to already-folded rows: fold a corrupted v1,
    refresh the dirty ranges from the corrected raw, end state must equal
    a full recompute over corrected raw — and untouched source partitions
    must not be rewritten (file listing identical)."""
    import os

    from tinybrain_spark.aggregates import refresh_invalidated

    cat = Catalog(spark, workdir)
    srcs = sorted(
        r["source"] for r in base_df.select("source").distinct().collect()
    )
    dirty_src = srcs[0]  # the hot zipf source
    clean_src = srcs[1]
    lo, hi = (
        base_df.where(F.col("source") == dirty_src)
        .agg(F.min("time_bucket"), F.max("time_bucket"))
        .first()
    )
    mid = (lo + hi) // 2
    dirty = (F.col("source") == dirty_src) & F.col("time_bucket").between(
        lo, mid
    )
    v1 = base_df.withColumn(
        "tokens",
        F.when(dirty, F.transform("tokens", lambda t: t + 1)).otherwise(
            F.col("tokens")
        ),
    )
    update_continuous_aggregate(cat, "cr", v1)

    def _files(src):
        d = os.path.join(workdir, "cr", f"source={src}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before = _files(clean_src)
    result = refresh_invalidated(
        cat, "cr", base_df, [(dirty_src, int(lo), int(mid))]
    )
    assert _state(result) == _state(aggregate_batch(base_df))
    assert _files(clean_src) == before


def test_refresh_invalidated_drops_emptied_source(spark, base_df, workdir):
    """DELETE correction: every raw row of one source vanishes; the
    refreshed aggregate must lose that source entirely (partition
    directory removed, not just left stale)."""
    import os

    from tinybrain_spark.aggregates import refresh_invalidated

    cat = Catalog(spark, workdir)
    srcs = sorted(
        r["source"] for r in base_df.select("source").distinct().collect()
    )
    gone_src = srcs[-1]
    update_continuous_aggregate(cat, "crd", base_df)
    corrected = base_df.where(F.col("source") != gone_src)
    result = refresh_invalidated(
        cat, "crd", corrected, [(gone_src, 0, 1 << 40)]
    )
    assert _state(result) == _state(aggregate_batch(corrected))
    assert not os.path.isdir(
        os.path.join(workdir, "crd", f"source={gone_src}")
    )


def test_invalidation_predicate_reaches_parquet_scan(spark, base_df, workdir):
    """The literal OR-of-ranges predicate must push down to the raw scan
    (PushedFilters on source/time_bucket) — the property that makes the
    refresh read only the dirty slice at corpus scale."""
    from tinybrain_spark.aggregates import invalidation_predicate

    raw_dir = f"{workdir}/raw_pd"
    base_df.write.parquet(raw_dir)
    raw = spark.read.parquet(raw_dir)
    pred = invalidation_predicate([("src_00", 10, 20), ("src_01", 5, 7)])
    plan = (
        raw.where(pred)._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "source" in pushed and "time_bucket" in pushed
