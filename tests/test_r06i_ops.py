"""r06i operators: COUNTLESS image downsample end-to-end, winsorized
stats from the domain-bounded value census."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.media import q_image_downsample
from tinybrain_spark.driver_contract.timeseries import (
    WINSOR_HI_PCT,
    WINSOR_LO_PCT,
    q_winsorized_stats,
)

from .test_plans import SF_DIR, _plan


# ---------------------------------------------------------------------------
# q_image_downsample
# ---------------------------------------------------------------------------


def _literal_image() -> pd.DataFrame:
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    rows = []
    for did in docs["doc_id"].astype("int64"):
        w, h = did % 11 + 4, did % 5 + 4
        pix = ((did * 37 + np.arange(w * h, dtype=np.int64)) % 241).reshape(
            h, w
        )
        if h % 2:
            pix = np.vstack([pix, pix[-1:]])
        if w % 2:
            pix = np.hstack([pix, pix[:, -1:]])
        a = pix[0::2, 0::2]
        b = pix[1::2, 0::2]
        c = pix[0::2, 1::2]
        d = pix[1::2, 1::2]
        m = np.where((a == b) | (a == c), a, np.where(b == c, b, d))
        rows.append(
            (
                int(did),
                m.shape[0],
                m.shape[1],
                m.size,
                int(m.sum()),
                int(m.min()),
                int(m.max()),
            )
        )
    return pd.DataFrame(
        rows,
        columns=["doc_id", "out_h", "out_w", "n_out", "sum_v", "min_v",
                 "max_v"],
    ).astype("int64").sort_values("doc_id").reset_index(drop=True)


def test_image_downsample_differential_vs_literal(spark):
    want = _literal_image()
    got = (
        q_image_downsample(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    # odd widths AND heights occur (exercises the trailing-edge pad)
    dims = pd.read_parquet(f"{SF_DIR}/documents.parquet")["doc_id"]
    assert ((dims % 11 + 4) % 2 == 1).any() and ((dims % 5 + 4) % 2 == 1).any()
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_image_downsample_plan_zero_exchanges(spark):
    plan = _plan(q_image_downsample(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree, tree
    assert "MapInPandas" in plan, plan


# ---------------------------------------------------------------------------
# q_winsorized_stats
# ---------------------------------------------------------------------------


def _literal_winsor() -> pd.DataFrame:
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev = ev.assign(v=np.floor(ev["value"] * 100).astype("int64"))
    rows = []
    for t, g in ev.groupby("event_type"):
        v = np.sort(g["v"].to_numpy())
        n = len(v)
        lo = v[-(-WINSOR_LO_PCT * n // 100) - 1]  # ceil rank, 1-based
        hi = v[-(-WINSOR_HI_PCT * n // 100) - 1]
        w = np.clip(v, lo, hi)
        rows.append(
            (
                t,
                n,
                int(lo),
                int(hi),
                int(w.sum()),
                int((v < lo).sum()),
                int((v > hi).sum()),
            )
        )
    return (
        pd.DataFrame(
            rows,
            columns=["event_type", "n", "lo_c", "hi_c", "wsum_c",
                     "n_clip_lo", "n_clip_hi"],
        )
        .sort_values("event_type")
        .reset_index(drop=True)
    )


def test_winsorized_differential_vs_literal(spark):
    want = _literal_winsor()
    got = (
        q_winsorized_stats(spark, SF_DIR)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    # clipping is non-vacuous on the fixture
    assert (got["n_clip_lo"] > 0).any() and (got["n_clip_hi"] > 0).any()
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_winsorized_plan_one_corpus_exchange(spark):
    plan = _plan(q_winsorized_stats(spark, SF_DIR))
    # the raw events table crosses exactly one exchange (the census
    # groupBy); every later stage runs on domain-bounded census rows
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert len([l for l in read if "value" in l]) == 1, read
    # no join anywhere: bounds ride windows over the same census
    assert "Join" not in plan, plan
