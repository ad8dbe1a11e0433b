"""r05v operators: audio signal features, lakehouse compaction
planner, traffic-nucleus census.

Value-level correctness is pinned by the DuckDB oracle gate; these
tests pin semantics differentially vs literal recomputes and the
minimality/monotonicity invariants the oracle hash alone can't name."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.events import (
    NUCLEUS_PERMILLE,
    q_nucleus_keys,
)
from tinybrain_spark.driver_contract.media import q_wav_energy
from tinybrain_spark.driver_contract.warehouse import (
    COMPACT_TARGET,
    q_compaction_plan,
)

from .test_plans import SF_DIR, assert_no_unpartitioned_windows


# ---------------------------------------------------------------------------
# q_wav_energy
# ---------------------------------------------------------------------------


def _signal(did: int) -> np.ndarray:
    n_ch = did % 2 + 1
    n_fr = did % 129 + 64
    s = ((did * 37 + 73 * np.arange(n_fr * n_ch, dtype=np.int64)) % 4001
         - 2000)
    return s.reshape(n_fr, n_ch)


def test_wav_energy_differential_vs_literal(spark):
    from math import isqrt

    got = q_wav_energy(spark, SF_DIR).toPandas().set_index("doc_id")
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet", columns=["doc_id"])
    assert len(got) == len(docs)
    for did in docs["doc_id"].head(40):
        s = _signal(int(did))
        row = got.loc[int(did)]
        energy = int((s * s).sum())
        assert row["n_samples"] == s.size
        assert row["peak_abs"] == int(np.abs(s).max())
        assert row["energy"] == energy
        assert row["rms_u"] == isqrt(energy // s.size)
        assert row["zero_cross"] == int(((s[1:, :] * s[:-1, :]) < 0).sum())


def test_wav_energy_rms_bracket(spark):
    """rms_u is the integer floor RMS: rms^2 <= energy/n < (rms+1)^2."""
    out = q_wav_energy(spark, SF_DIR).toPandas()
    ms = out["energy"] // out["n_samples"]
    assert (out["rms_u"] ** 2 <= ms).all()
    assert ((out["rms_u"] + 1) ** 2 > ms).all()


# ---------------------------------------------------------------------------
# q_compaction_plan
# ---------------------------------------------------------------------------


def test_compaction_plan_next_fit_invariants(spark):
    out = (
        q_compaction_plan(spark, SF_DIR)
        .toPandas()
        .sort_values(["event_type", "day"])
    )
    for _etype, g in out.groupby("event_type"):
        # job ids are nondecreasing in day order and equal the literal
        # next-fit assignment on the exclusive prefix sum
        pre = g["rows"].cumsum().shift(fill_value=0)
        assert (g["job_id"].to_numpy() ==
                (pre // COMPACT_TARGET).to_numpy()).all()
        assert (np.diff(g["job_id"].to_numpy()) >= 0).all()
        # every job except possibly the last crosses the target once
        # its partitions are summed with what came before
        sizes = g.groupby("job_id")["rows"].sum()
        assert (sizes.iloc[:-1].cumsum() >=
                COMPACT_TARGET * np.arange(1, len(sizes))).all()
    assert_no_unpartitioned_windows(q_compaction_plan(spark, SF_DIR))


# ---------------------------------------------------------------------------
# q_nucleus_keys
# ---------------------------------------------------------------------------


def _nucleus_literal(events: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for etype, g in events.groupby("event_type"):
        counts = (
            g.groupby("user_id").size().sort_values(ascending=False)
        )
        total = int(counts.sum())
        target = (total * NUCLEUS_PERMILLE + 999) // 1000
        cum, k = 0, 0
        for c in counts:
            cum += int(c)
            k += 1
            if cum >= target:
                break
        rows.append((etype, total, len(counts), k,
                     (k * 1000) // len(counts)))
    return pd.DataFrame(
        rows,
        columns=["event_type", "total_events", "n_users",
                 "nucleus_users", "nucleus_permille"],
    ).sort_values("event_type").reset_index(drop=True)


def test_nucleus_keys_differential_vs_literal(spark):
    events = pd.read_parquet(
        f"{SF_DIR}/events.parquet", columns=["event_type", "user_id"]
    )
    want = _nucleus_literal(events)
    got = (
        q_nucleus_keys(spark, SF_DIR)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_nucleus_keys_minimality(spark):
    """nucleus_users is MINIMAL: one fewer top user must fall short of
    the target share."""
    events = pd.read_parquet(
        f"{SF_DIR}/events.parquet", columns=["event_type", "user_id"]
    )
    got = q_nucleus_keys(spark, SF_DIR).toPandas()
    for _, row in got.iterrows():
        counts = (
            events[events["event_type"] == row["event_type"]]
            .groupby("user_id")
            .size()
            .sort_values(ascending=False)
        )
        total = int(counts.sum())
        target = (total * NUCLEUS_PERMILLE + 999) // 1000
        k = int(row["nucleus_users"])
        assert int(counts.head(k).sum()) >= target
        if k > 1:
            assert int(counts.head(k - 1).sum()) < target
    assert_no_unpartitioned_windows(q_nucleus_keys(spark, SF_DIR))
