"""Driver-contract smoke: entry() runs, registry is consistent, and a
sample of queries match their DuckDB oracles at sf0.001 (the full sweep
lives in tools/check_oracle.py and runs at sf0.01 in the round gate)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import __spark_entry__ as entrymod
from check_oracle import _duck_con, compare

SF_DIR = "/root/testdata/sf0.001"

SAMPLE = [
    "q_avg_rollup_t1",
    "q_avg_sparse_t1",
    "q_mode_rollup_t1",
    "q_mode8_rollup_t1",
    "q_gapfill_zero",
    "q_dedup_exact",
    "q_minhash_signature",
    "q_ann_topk",
    # the r06z closing set has no dedicated edge-case file; keep its
    # members in the in-suite sample so pytest exercises them without
    # needing the full tools/check_oracle.py sweep
    "q_set_ops_bag",
    "q_split_balance",
    "q_grouping_sets",
    "q_variant_extract",
]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert df.columns == ["user_id", "tier", "pos", "token"]


def test_registry_consistent():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # only the binary-blob query is rows-only
    assert set(qs) - set(oracles) == {"q_gorilla_roundtrip"}
    assert len(qs) >= 25


def test_registry_rejects_duplicate_names():
    """The registry is one ordered table with one row per query; building
    it from rows that repeat a name fails loudly, naming the query."""
    from tinybrain_spark import driver_contract as dc

    row = dc.TABLE[0]
    with pytest.raises(ValueError, match=row[0]):
        dc.build_table([row, *dc.TABLE[1:3], row])
    assert len(dc.TABLE) == len(dc.queries()) == 248


def test_registry_unchanged():
    """Graded order and oracle texts pinned by hash: a registry edit
    that reorders, renames, drops or rewrites any query shows here."""
    import hashlib
    import json

    names = "\n".join(entrymod.queries())
    oracles = json.dumps(entrymod.oracle_sql(), sort_keys=True)
    assert hashlib.sha256(names.encode()).hexdigest() == (
        "acba4410208d82e8c62f41b2a2e27288356be3eb72a31418ad534c2de540b886"
    )
    assert hashlib.sha256(oracles.encode()).hexdigest() == (
        "4776daa0a423f940087bface71164bb37c326f96e58e85dfbadc4e51fa801835"
    )


@pytest.mark.parametrize("name", SAMPLE)
def test_query_matches_oracle(spark, name):
    con = _duck_con(SF_DIR)
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = con.execute(entrymod.oracle_sql()[name]).df()
    assert compare(sdf, odf) == []


def test_hot_user_sequence_capped(spark):
    """One pathological user (40k events vs 64 for everyone else) must
    not blow up the sequence derivation: the row_number pre-filter drops
    rows past MAX_SEQ BEFORE collect_list, so the hot key costs a
    window-sort, never an unbounded aggregation buffer."""
    from pyspark.sql import functions as F

    from tinybrain_spark.driver_contract.sequences import MAX_SEQ, _sequence_table

    n_hot, n_cold = 40_000, 64
    ev = (
        spark.range(n_hot + 3 * n_cold)
        .select(
            F.when(F.col("id") < n_hot, F.lit(7))
            .otherwise(1 + ((F.col("id") - n_hot) / n_cold).cast("long"))
            .alias("user_id"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
            F.col("id").alias("event_id"),
        )
    )
    tt = _sequence_table(ev, F.col("user_id"), "user_id", 16, MAX_SEQ)
    rows = {r["user_id"]: len(r["tokens"]) for r in tt.collect()}
    assert rows[7] == MAX_SEQ  # hot user truncated to the cap
    assert all(v == n_cold for k, v in rows.items() if k != 7)
    # the cap is applied before aggregation: the plan filters on the
    # row_number window, not on the collected array
    plan = tt._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan


def test_m4_guard_rejects_out_of_domain(spark, tmp_path):
    """ADVICE r03: the ord*2^24+id encoding must fail loudly, not
    silently decode wrong ids/extrema, when event_id leaves the 24-bit
    domain or a value goes negative."""
    import datetime

    from tinybrain_spark.driver_contract.tiers import q_m4_decimate

    ts = datetime.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, event_type string, value double"

    bad_id = str(tmp_path / "bad_id")
    spark.createDataFrame(
        [(1 << 25, ts, "a", 1.0)], schema
    ).write.parquet(os.path.join(bad_id, "events.parquet"))
    with pytest.raises(Exception, match="id domain"):
        q_m4_decimate(spark, bad_id).collect()

    bad_v = str(tmp_path / "bad_v")
    spark.createDataFrame(
        [(7, ts, "a", -3.5)], schema
    ).write.parquet(os.path.join(bad_v, "events.parquet"))
    with pytest.raises(Exception, match="negative value"):
        q_m4_decimate(spark, bad_v).collect()

    ok = str(tmp_path / "ok")
    spark.createDataFrame(
        [(7, ts, "a", 3.5), ((1 << 24) - 1, ts, "a", 0.0)], schema
    ).write.parquet(os.path.join(ok, "events.parquet"))
    assert q_m4_decimate(spark, ok).count() == 1


def test_extract_features_plumbing(spark):
    """Binary -> fixed-dim float feature vector through Arrow batches
    (the encoder is a deterministic stub; the plumbing is real)."""
    import numpy as np
    from pyspark.sql import functions as F

    from tinybrain_spark.multimodal import extract_features

    docs = spark.createDataFrame(
        [(1, b"\x00" * 64), (2, bytes(range(256))), (3, b"")],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r["features"] for r in extract_features(docs).collect()}
    assert len(out[1]) == 16 and abs(out[1][0] - 1.0) < 1e-6  # all bucket 0
    assert all(abs(v - 1 / 16) < 1e-6 for v in out[2])  # uniform bytes
    assert all(v == 0.0 for v in out[3])  # empty payload


def test_cms_is_cell_wise_mergeable_and_one_sided(spark):
    """The 100TB property behind q_cms_heavy: a CMS built per shard and
    merged by cell-wise ADDITION equals the sketch built over the whole
    corpus in one pass — plus the one-sided error bound (estimate >=
    exact, always)."""
    from pyspark.sql import functions as F

    from tinybrain_spark.driver_contract.text import (
        CMS_D, _cms_bucket, q_cms_heavy,
    )
    from tinybrain_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")

    def cells_of(frame):
        words = frame.select(
            F.explode(F.split(F.trim(F.col("text")), " +")).alias("w")
        )
        return (
            words.select(
                F.posexplode(
                    F.array(*[_cms_bucket(F.col("w"), r)
                              for r in range(CMS_D)])
                ).alias("r", "b")
            )
            .groupBy("r", "b")
            .agg(F.count("*").cast("long").alias("c"))
        )

    full = {(r.r, r.b): r.c for r in cells_of(docs).collect()}
    even = cells_of(docs.where(F.col("doc_id") % 2 == 0))
    odd = cells_of(docs.where(F.col("doc_id") % 2 == 1))
    merged: dict = {}
    for shard in (even, odd):
        for r in shard.collect():
            merged[(r.r, r.b)] = merged.get((r.r, r.b), 0) + r.c
    assert merged == full

    est = q_cms_heavy(spark, SF_DIR).collect()
    assert len(est) > 0
    assert all(r.cms_est >= r.exact_n for r in est)


def test_lm_surprisal_short_docs_drop_out(spark, tmp_path):
    """r06v: docs with < 2 words carry no bigram evidence and must
    drop out of the census (the sequence() guard takes the empty
    branch — no element_at(ws, 0) error on 1-word docs)."""
    from tinybrain_spark.driver_contract.text import q_lm_surprisal

    d = str(tmp_path / "short")
    spark.createDataFrame(
        [(1, "one", "en", "s", 3), (2, "", "en", "s", 0),
         (3, "two words", "en", "s", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    rows = q_lm_surprisal(spark, d).collect()
    # only doc 3 has a bigram; its count appears, docs 1-2 nowhere
    assert sum(r["n_docs"] for r in rows) == 1
    assert sum(r["sum_bigrams"] for r in rows) == 1


def test_dsir_weights_empty_target_stays_finite(spark, tmp_path):
    """r06w: a corpus with NO target-language docs must not divide by
    zero or go to -infinity — add-one smoothing keeps every bucket's
    log-ratio finite (bitlen(0+1) = 1), and every doc still gets a
    weight."""
    from tinybrain_spark.driver_contract.text import q_dsir_weights

    d = str(tmp_path / "notgt")
    spark.createDataFrame(
        [(1, "aa bb cc", "fr", "s", 8), (2, "dd ee", "de", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    rows = q_dsir_weights(spark, d).collect()
    assert sum(r["n_docs"] for r in rows) == 2
    assert all(r["wbucket_dbits"] <= 0 for r in rows)


def test_snapshot_diff_census_matches_derivation(spark, tmp_path):
    """r06x: the diff census must reproduce the deterministic
    derivation exactly — removed = doc_id%17==3, changed = %20==0
    (minus removed), added = %23==5 — on a fixture spanning all four
    classes."""
    from pyspark.sql import functions as F

    from tinybrain_spark.driver_contract.warehouse import q_snapshot_diff

    d = str(tmp_path / "snap")
    rows = [(i, f"text {i} body", "en", "s", 10) for i in range(0, 600)]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    got = {
        (r["change"]): r["n_docs"]
        for r in q_snapshot_diff(spark, d)
        .groupBy("change")
        .agg(F.sum("n_docs").alias("n_docs"))
        .collect()
    }
    ids = range(0, 600)
    removed = {i for i in ids if i % 17 == 3}
    changed = {i for i in ids if i % 20 == 0} - removed
    added = {i for i in ids if i % 23 == 5}
    assert got["removed"] == len(removed)
    assert got["changed"] == len(changed)
    assert got["added"] == len(added)
    assert got["unchanged"] == 600 - len(removed) - len(changed)
