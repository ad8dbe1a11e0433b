"""r06q operator: product-quantization ADC top-k search (integer
scoring path over the float-parity code assignment)."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.vectors import (
    PQ_CENTROIDS,
    PQ_SUBDIM,
    PQ_SUBSPACES,
    PQ_TOPK,
    _pq_centroid_num,
    _pq_ilut,
    _pq_query_num,
    q_pq_search,
)

from .test_plans import SF_DIR, _plan


def _literal_adc() -> pd.DataFrame:
    """Brute-force ADC in numpy: assign codes exactly like
    q_pq_encode's literal differential, then score via the integer
    LUT formula (64 * squared query-to-assigned-centroid distance)."""
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    rows = []
    for vid, v in zip(emb["vec_id"], emb["embedding"]):
        v = np.asarray(v, dtype=np.float64)
        score = 0
        for s in range(PQ_SUBSPACES):
            dists = []
            for c in range(PQ_CENTROIDS):
                acc = 0.0
                for k in range(PQ_SUBDIM):
                    d = v[s * PQ_SUBDIM + k] - (
                        _pq_centroid_num(s, c, k) / 8.0
                    )
                    acc = acc + d * d
                dists.append(acc)
            best = min(range(PQ_CENTROIDS), key=lambda c: (dists[c], c))
            score += _pq_ilut(s, best)
        rows.append((int(vid), score))
    out = pd.DataFrame(rows, columns=["vec_id", "score64"]).astype(
        "int64"
    )
    return (
        out.sort_values(["score64", "vec_id"])
        .head(PQ_TOPK)
        .reset_index(drop=True)
    )


def test_pq_search_differential_vs_literal(spark):
    want = _literal_adc()
    got = (
        q_pq_search(spark, SF_DIR)
        .toPandas()
        .sort_values(["score64", "vec_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))
    assert len(got) == PQ_TOPK


def test_pq_ilut_is_exactly_64x_float_distance():
    # the integer LUT really is 64 * the IEEE squared distance: both
    # operands are eighths, so the float computation is exact and the
    # two routes must agree on every entry
    for s in range(PQ_SUBSPACES):
        for c in range(PQ_CENTROIDS):
            acc = 0.0
            for k in range(PQ_SUBDIM):
                d = (
                    _pq_query_num(s * PQ_SUBDIM + k) / 8.0
                    - _pq_centroid_num(s, c, k) / 8.0
                )
                acc = acc + d * d
            assert acc * 64 == _pq_ilut(s, c)


def test_pq_search_plan_topk_no_exchange(spark):
    plan = _plan(q_pq_search(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree, tree
    assert "Exchange" not in tree, tree
