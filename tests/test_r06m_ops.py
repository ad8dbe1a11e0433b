"""r06m operators: perceptual aHash, histogram equalization."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.media import (
    q_image_equalize,
    q_image_phash,
)

from .test_plans import SF_DIR, _plan


def _synth(did: int) -> np.ndarray:
    w, h = did % 11 + 4, did % 5 + 4
    return ((did * 37 + np.arange(w * h, dtype=np.int64)) % 241).reshape(
        h, w
    )


def _literal_phash() -> pd.DataFrame:
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    rows = []
    for did in docs["doc_id"].astype("int64"):
        pix = _synth(int(did))
        h, w = pix.shape
        thumb = pix[np.ix_((np.arange(8) * h) // 8, (np.arange(8) * w) // 8)]
        avg = int(thumb.sum()) // 64
        bits = (thumb > avg).astype(np.int64).ravel()
        wgt = 1 << np.arange(32, dtype=np.int64)
        rows.append(
            (
                int(did),
                int((bits[32:] * wgt).sum()),
                int((bits[:32] * wgt).sum()),
                int(bits.sum()),
            )
        )
    return pd.DataFrame(
        rows, columns=["doc_id", "phash_hi", "phash_lo", "n_bits_set"]
    ).astype("int64").sort_values("doc_id").reset_index(drop=True)


def test_phash_differential_vs_literal(spark):
    want = _literal_phash()
    got = (
        q_image_phash(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))
    # hashes both discriminate AND collide on the synthetic fixture:
    # the generator has only ~55x241 distinct patterns, so visually
    # identical images hash identically (the dedup property) while
    # distinct patterns spread over many buckets
    keys = list(zip(got["phash_hi"], got["phash_lo"]))
    assert 50 < len(set(keys)) < len(keys)


def test_phash_shift_invariance_property(spark):
    """aHash of a brightness-shifted image equals the original's
    (thresholding against the mean cancels constant offsets) — the
    property that makes it a perceptual hash, checked on the kernel
    directly."""
    pix = _synth(17)
    shifted = np.clip(pix + 5, 0, 255)

    def ahash(p):
        h, w = p.shape
        t = p[np.ix_((np.arange(8) * h) // 8, (np.arange(8) * w) // 8)]
        return tuple(((t > int(t.sum()) // 64).astype(int)).ravel())

    # the shift preserves ordering vs the mean wherever no clipping
    # occurred; with this fixture no pixel clips (max 240 + 5 < 256)
    assert pix.max() + 5 < 256
    assert ahash(pix) == ahash(shifted)


def _literal_equalize() -> pd.DataFrame:
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    rows = []
    for did in docs["doc_id"].astype("int64"):
        flat = _synth(int(did)).ravel()
        n = flat.size
        counts = np.bincount(flat, minlength=256)
        cdf = np.cumsum(counts)
        cdf_min = int(counts[flat.min()])
        eq = (cdf[flat] - cdf_min) * 255 // (n - cdf_min)
        rows.append((int(did), int(eq.sum()), int(eq.min()), int(eq.max())))
    return pd.DataFrame(
        rows, columns=["doc_id", "eq_sum", "eq_min", "eq_max"]
    ).astype("int64").sort_values("doc_id").reset_index(drop=True)


def test_equalize_differential_vs_literal(spark):
    want = _literal_equalize()
    got = (
        q_image_equalize(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))
    # full-range invariant: every fixture image has >= 2 distinct
    # values, so equalization stretches to [0, 255] exactly
    assert (got["eq_min"] == 0).all() and (got["eq_max"] == 255).all()


def test_image_transform_plans_zero_exchanges(spark):
    for q in (q_image_phash, q_image_equalize):
        plan = _plan(q(spark, SF_DIR))
        tree = plan.split("\n\n")[0]
        assert "Exchange" not in tree, (q.__name__, tree)
        assert "MapInPandas" in plan, (q.__name__, plan)
