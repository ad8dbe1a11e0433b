"""The mapInArrow batch body, driven without Spark: Arrow record
batches in, Arrow record batches out, checked row by row against the
single-node numpy kernels."""

import numpy as np
import pyarrow as pa
import pytest

from tinybrain_spark import kernels as K
from tinybrain_spark.udfs import avg_step, pool_pyramid, pool_tier, pool_tiers

LENGTHS = (64, 128, 64, 256, 128, 64, 256)


@pytest.fixture(scope="module")
def rows():
    rng = np.random.default_rng(5)
    # ~30% zeros so the sparse kernels see holes
    return [
        np.where(rng.random(n) < 0.3, 0, rng.integers(1, 256, n)).astype(np.int32)
        for n in LENGTHS
    ]


def _batch(rows, start=0, stop=None):
    tokens = pa.array([r.tolist() for r in rows], type=pa.list_(pa.int32()))
    keys = pa.array(np.arange(len(rows), dtype=np.int64))
    batch = pa.RecordBatch.from_arrays([keys, tokens], names=["doc_id", "tokens"])
    return batch.slice(start, (stop or len(rows)) - start)


def _run(f, batch):
    (out,) = list(f.batches([batch]))
    return out


def _want(kind, toks, num_tiers, sparse=False):
    return [t.tolist() for t in K.pool(kind, toks, window=4,
                                       num_tiers=num_tiers, sparse=sparse)]


@pytest.mark.parametrize("start,stop", [(0, None), (2, 6), (1, 3)])
@pytest.mark.parametrize("kind,sparse", [
    ("avg", False), ("avg", True), ("mode", False), ("max", False),
])
def test_pool_tiers_batch_equals_kernels(rows, start, stop, kind, sparse):
    """Mixed lengths in one batch, and slices whose first offset is
    non-zero (offsets index the value buffer absolutely)."""
    batch = _batch(rows, start, stop)
    if start:
        assert batch.column(1).offsets[0].as_py() > 0
    out = _run(pool_tiers(kind, window=4, num_tiers=2, sparse=sparse), batch)
    assert out.schema.names == ["doc_id", "tiers"]
    assert out.column(0).equals(batch.column(0))
    want = [_want(kind, rows[i], 2, sparse) for i in batch.column(0).to_pylist()]
    assert out.column(1).to_pylist() == want


@pytest.mark.parametrize("start,stop", [(0, None), (3, 7), (2, 3)])
def test_pool_tier_batch_equals_kernels(rows, start, stop):
    batch = _batch(rows, start, stop)
    out = _run(pool_tier("mode", window=4, num_tiers=2, sparse=True), batch)
    assert out.schema.names == ["doc_id", "tokens", "n_tok"]
    ids = batch.column(0).to_pylist()
    want = [_want("mode", rows[i], 2, sparse=True)[-1] for i in ids]
    assert out.column("tokens").to_pylist() == want
    assert out.column("n_tok").to_pylist() == [len(w) for w in want]


def test_pool_tier_float_batch(rows):
    out = _run(pool_tier("avg", window=4, num_tiers=2, dtype=np.float32),
               _batch(rows, 1, 5))
    assert out.schema.field("tokens").type == pa.list_(pa.float32())
    for i, got in zip(range(1, 5), out.column("tokens").to_pylist()):
        want = K.pool("avg", rows[i].astype(np.float32), window=4,
                      num_tiers=2, dtype=np.float32)[-1]
        assert got == want.tolist()


@pytest.mark.parametrize("sparse", [False, True])
def test_avg_step_chain_batch_equals_kernels(rows, sparse):
    """Tier 1 from tokens, then tiers 2-3 from the persisted
    accumulator, over a sliced mixed-length batch; the one-pass
    pyramid body emits the same rows, one output batch per tier."""
    batch = _batch(rows, 1, 7)
    ids = batch.column(0).to_pylist()
    pyramid = list(pool_pyramid("avg", window=4, num_tiers=3,
                                sparse=sparse).batches([batch]))
    assert [b.column("tier").to_pylist() for b in pyramid] == [
        [t] * len(ids) for t in (1, 2, 3)
    ]
    out = _run(avg_step(window=4, sparse=sparse, tier=1), batch)
    for tier in (2, 3):
        step_in = out.select(["doc_id", "accum", "denom"])
        out = _run(avg_step(window=4, sparse=sparse, tier=tier), step_in)
        assert out.schema.names == ["doc_id", "tokens", "n_tok", "accum",
                                    "denom"]
        want = [_want("avg", rows[i], tier, sparse)[-1] for i in ids]
        assert out.column("tokens").to_pylist() == want
        assert out.column("denom").null_count == (0 if sparse else len(ids))
        assert pyramid[tier - 1].select(out.schema.names).equals(out)


def test_empty_batch_yields_empty_typed_batch(rows):
    empty = _batch(rows, 2, 2)
    assert empty.num_rows == 0
    out = _run(pool_tiers("avg", window=4, num_tiers=2), empty)
    assert out.num_rows == 0
    assert out.schema.field("tiers").type == pa.list_(pa.list_(pa.int32()))
    out = _run(avg_step(window=4, sparse=True), empty)
    assert out.num_rows == 0
    assert out.schema.names == ["doc_id", "tokens", "n_tok", "accum", "denom"]


def test_guard_rejects_short_rows(rows):
    with pytest.raises(ValueError, match="Can't downsample below one window"):
        _run(pool_pyramid("mode", window=4, guard_tiers=4), _batch(rows))
