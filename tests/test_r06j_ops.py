"""r06j operators: dedup survivorship census, multimodal decode under
Structured Streaming."""

import pandas as pd

from tinybrain_spark.driver_contract.dedup import (
    q_dedup_clusters_star,
    q_dedup_survivors,
)
from tinybrain_spark.driver_contract.media import (
    IMAGE_GATE_MIN_CONTRAST,
    q_image_quality,
    q_stream_image_gate,
)

from .test_plans import SF_DIR


def test_dedup_survivors_consistent_with_cluster_labels(spark):
    """The census must agree with the already-oracle-verified cluster
    table: survivors are exactly the docs that are their own label,
    per source, and every doc is either survivor or dropped."""
    cc = q_dedup_clusters_star(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")[
        ["doc_id", "source"]
    ]
    j = cc.merge(docs, on="doc_id")
    want = (
        j.assign(surv=(j["doc_id"] == j["cluster_id"]).astype("int64"))
        .groupby("source", as_index=False)
        .agg(
            n_docs=("surv", "size"),
            n_survivors=("surv", "sum"),
        )
    )
    want["n_dropped"] = want["n_docs"] - want["n_survivors"]
    got = (
        q_dedup_survivors(spark, SF_DIR)
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    want = want.sort_values("source").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))
    # global invariants: totals add up and some dedup pressure exists
    assert got["n_docs"].sum() == len(docs)
    assert (got["n_docs"] == got["n_survivors"] + got["n_dropped"]).all()
    assert got["n_dropped"].sum() > 0  # fixture has near-dups


def test_stream_image_gate_equals_batch_gate(spark):
    """Drained-stream end state == the batch gate on the same docs
    (the stateless-decode-under-streaming equivalence)."""
    batch = (
        q_image_quality(spark, SF_DIR)
        .where(f"contrast_u >= {IMAGE_GATE_MIN_CONTRAST}")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    streamed = (
        q_stream_image_gate(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(streamed) > 0 and len(streamed) < 500  # gate selective
    pd.testing.assert_frame_equal(
        streamed, batch.astype(streamed.dtypes.to_dict())
    )
