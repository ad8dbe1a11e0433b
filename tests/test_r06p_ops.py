"""r06p operator: product-quantization encode (exact cross-engine
float parity by construction)."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.vectors import (
    PQ_CENTROIDS,
    PQ_SUBDIM,
    PQ_SUBSPACES,
    q_pq_encode,
)

from .test_plans import SF_DIR, _plan


def _centroid(s: int, c: int, k: int) -> float:
    return ((s * 131 + c * 17 + k * 7) % 19 - 9) / 8.0


def _literal_pq() -> pd.DataFrame:
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    rows = []
    for vid, v in zip(emb["vec_id"], emb["embedding"]):
        v = np.asarray(v, dtype=np.float64)
        codes, err = [], 0.0
        for s in range(PQ_SUBSPACES):
            dists = []
            for c in range(PQ_CENTROIDS):
                acc = 0.0
                for k in range(PQ_SUBDIM):
                    d = v[s * PQ_SUBDIM + k] - _centroid(s, c, k)
                    acc = acc + d * d
                dists.append(acc)
            best = min(range(PQ_CENTROIDS), key=lambda c: (dists[c], c))
            codes.append(best)
            err = err + dists[best]
        rows.append(
            (int(vid), *codes, int(np.floor(err * (1 << 20))))
        )
    return pd.DataFrame(
        rows,
        columns=["vec_id"]
        + [f"code_{s}" for s in range(PQ_SUBSPACES)]
        + ["err_u"],
    ).astype("int64").sort_values("vec_id").reset_index(drop=True)


def test_pq_encode_differential_vs_literal(spark):
    want = _literal_pq()
    got = (
        q_pq_encode(spark, SF_DIR)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))
    # codes actually spread over the codebook (not degenerate)
    assert got["code_0"].nunique() > 4


def test_pq_encode_plan_zero_exchanges(spark):
    plan = _plan(q_pq_encode(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree, tree
