"""The one pooling surface: the numpy kernels behind ``mapInArrow``.

The Arrow batch boundary (JVM -> Python worker) is this engine's analog
of the reference's Python -> Cython boundary (downsample.py:53): data
crosses once per Arrow batch, then everything is vectorized numpy.
No per-row Python anywhere (BASELINE.json input_hint mandate).

One batch body serves every factory: rows are grouped by token-array
length, each group is gathered from the ListArray's value buffer into
one dense (rows, L) matrix (a zero-copy reshape view when the batch is
uniform), pooled once, and scattered into the output offsets — the
batched analog of the reference's dense-plane kernels.

Each factory returns ``f(df) -> df``.  It consumes its input list
columns, emits its output columns last, and passes every other column
through unchanged; ``pool_pyramid`` emits one row per input row and
tier, the others one row per input row.  ``mapInArrow`` was chosen
over scalar Arrow or pandas UDFs by measurement: the same numpy body
over 16,384x256 tokens (avg, 3 tiers) ran in 0.54 s behind
``mapInArrow`` against 0.85 s behind a scalar Arrow UDF, whose
``ArrowEvalPython`` node queues every input row on the JVM side while
Python runs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from . import kernels as K

__all__ = [
    "pool_tier", "pool_tiers", "pool_pyramid", "avg_step",
    "pool_tiers_map_in_arrow",
]

_SPARK_TYPES = {
    np.dtype(np.int32): IntegerType(),
    np.dtype(np.int64): LongType(),
    np.dtype(np.float32): FloatType(),
}
_N_TOK = StructField("n_tok", IntegerType(), True)


def _field(name: str, dtype) -> StructField:
    return StructField(name, ArrayType(_SPARK_TYPES[np.dtype(dtype)]), True)


_TOKEN_FIELDS = [_field("tokens", np.int32), _N_TOK]
_ACCUM_FIELDS = [_field("accum", np.int64), _field("denom", np.int64)]


def _groups(cols: list, dtype):
    """Yield ``(rows, mats)`` per distinct row length of ``cols[0]``:
    the row indices and one dense ``(len(rows), L)`` matrix per list
    column (every column has the same row lengths).  Offsets index
    ``col.values`` absolutely, so a sliced batch (first offset > 0)
    gathers correctly; an empty batch yields nothing."""
    for col in cols:
        if col.null_count:
            raise ValueError("pooling input holds a null array")
    offs = [c.offsets.to_numpy() for c in cols]
    vals = [c.values.to_numpy() for c in cols]
    lengths = np.diff(offs[0])
    for length in np.unique(lengths):
        rows = np.flatnonzero(lengths == length)
        if len(rows) == len(lengths):  # uniform batch: a reshape view
            mats = [v[o[0]: o[-1]].reshape(len(rows), length)
                    for v, o in zip(vals, offs)]
        else:
            at = np.arange(length)
            mats = [v[o[rows, None] + at] for v, o in zip(vals, offs)]
        yield rows, [m.astype(dtype, copy=False) for m in mats]


def _scatter(n: int, parts: list, dtype) -> tuple[np.ndarray, np.ndarray]:
    """``(offsets, values)`` of a list column whose row ``rows[j]`` is
    ``mat[j]``, for every ``(rows, mat)`` in ``parts``."""
    lengths = np.zeros(n, dtype=np.int64)
    for rows, mat in parts:
        lengths[rows] = mat.shape[1]
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    if len(parts) == 1:  # uniform batch: rows are already in order
        return offsets, parts[0][1].astype(dtype, copy=False).ravel()
    values = np.empty(offsets[-1], dtype=dtype)
    for rows, mat in parts:
        values[offsets[rows, None] + np.arange(mat.shape[1])] = mat
    return offsets, values


def _list(offsets: np.ndarray, values: np.ndarray) -> pa.ListArray:
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def _tokens(n: int, parts: list, dtype=np.int32) -> list:
    """``[tokens, n_tok]`` from ``(rows, mat)`` length groups."""
    offsets, values = _scatter(n, parts, dtype)
    return [_list(offsets, values), pa.array(np.diff(offsets))]


def _avg_columns(n: int, parts: list, sparse: bool) -> list:
    """``[tokens, n_tok, accum, denom]`` of one AVG tier from
    ``(rows, (acc, den, rendered))`` length groups; ``denom`` is null
    unless sparse."""
    accum = _list(*_scatter(n, [(rows, a) for rows, (a, _d, _r) in parts],
                            np.int64))
    denom = (_list(*_scatter(n, [(rows, d) for rows, (_a, d, _r) in parts],
                             np.int64)) if sparse
             else pa.nulls(n, type=pa.list_(pa.int64())))
    return [*_tokens(n, [(rows, r) for rows, (_a, _d, r) in parts]),
            accum, denom]


def _mapper(in_cols: tuple[str, ...], out_fields: list, in_dtype, body):
    """``f(df) -> df`` over ``mapInArrow``: ``body(groups, n)`` maps
    the dense length groups of ``in_cols`` to a list of output batches,
    each one Arrow array per ``out_fields`` entry; every other column
    passes through, repeated unchanged in each output batch.  The batch
    body itself (Arrow batches in, Arrow batches out, no Spark) is
    ``f.batches``."""
    out_names = [f.name for f in out_fields]
    replaced = {*in_cols, *out_names}

    def batches(it):
        for batch in it:
            rest = [c for c in batch.schema.names if c not in replaced]
            groups = list(_groups([batch.column(c) for c in in_cols],
                                  in_dtype))
            for cols in body(groups, batch.num_rows):
                yield pa.RecordBatch.from_arrays(
                    [batch.column(c) for c in rest] + cols,
                    names=rest + out_names,
                )

    def apply(df):
        rest = [f for f in df.schema if f.name not in replaced]
        return df.select(*[f.name for f in rest], *in_cols).mapInArrow(
            batches, StructType(rest + out_fields)
        )

    apply.batches = batches
    return apply


def pool_tier(
    kind: str,
    window: int = 4,
    num_tiers: int = 1,
    sparse: bool = False,
    dtype=np.int32,
):
    """``tokens`` -> the deepest of ``num_tiers`` pooled tiers, as
    ``tokens`` + ``n_tok``.  ``dtype`` is the pooling and output dtype:
    int32 for the integer tiers, float32 for the reference's float tier
    semantics (divisor ``w^(m+1)``, NO cycle renormalization,
    accelerated.pyx:469-599)."""

    def body(groups, n):
        parts = []
        for rows, (mat,) in groups:
            res = K.pool(kind, mat, window=window, num_tiers=num_tiers,
                         sparse=sparse, dtype=dtype)
            parts.append((rows, res[-1]))
        return [_tokens(n, parts, dtype)]

    return _mapper(
        ("tokens",),
        [_field("tokens", dtype), _N_TOK],
        dtype,
        body,
    )


def pool_tiers(
    kind: str,
    window: int = 4,
    num_tiers: int = 1,
    sparse: bool = False,
):
    """``tokens`` -> ``tiers``: every tier's array per row (the
    reference's '[mip0, mip1, ...]' return shape, downsample.py:45)."""

    def body(groups, n):
        parts, widths = [], np.zeros((n, num_tiers), dtype=np.int64)
        for rows, (mat,) in groups:
            res = K.pool(kind, mat, window=window, num_tiers=num_tiers,
                         sparse=sparse, dtype=np.int32)
            parts.append((rows, np.hstack(res)))
            widths[rows] = [r.shape[1] for r in res]
        _, values = _scatter(n, parts, np.int32)
        inner = np.concatenate(([0], np.cumsum(widths.ravel())))
        outer = np.arange(0, n * num_tiers + 1, num_tiers)
        return [[pa.ListArray.from_arrays(
            pa.array(outer.astype(np.int32)),
            _list(inner.astype(np.int32), values),
        )]]

    tiers = StructField("tiers", ArrayType(ArrayType(IntegerType())), True)
    return _mapper(("tokens",), [tiers], np.int32, body)


def pool_tiers_map_in_arrow(
    kind: str,
    window: int = 4,
    num_tiers: int = 1,
    sparse: bool = False,
):
    """``pool_tiers`` over the ``tokens`` column alone: ``f(df) -> df``
    with the single column ``tiers``, so no key column ships through
    Python."""
    pool = pool_tiers(kind, window=window, num_tiers=num_tiers,
                      sparse=sparse)
    return lambda df: pool(df.select("tokens"))


def avg_step(window: int = 4, sparse: bool = False, tier: int = 1):
    """One retention-tier step for AVG from persisted accumulators:
    -> ``tokens``, ``n_tok``, ``accum``, ``denom``.

    Tier k+1 extends the int64 block-sum accumulator persisted with
    tier k instead of re-pooling rendered values — the engine analog of
    the reference's multi-mip shared accumulator (accelerated.pyx:
    223-259, SURVEY.md O2).  ``tier`` is 1-based; tier 1 initializes the
    accumulator from raw ``tokens``, later tiers read ``accum`` (and
    ``denom`` when sparse)."""
    if tier == 1:
        in_cols = ("tokens",)
    else:
        in_cols = ("accum", "denom") if sparse else ("accum",)

    def body(groups, n):
        parts = []
        for rows, mats in groups:
            dmat = mats[1] if len(mats) > 1 else None
            parts.append(
                (rows, _avg_step_matrices(mats[0], dmat, window, sparse, tier))
            )
        return [_avg_columns(n, parts, sparse)]

    return _mapper(in_cols, [*_TOKEN_FIELDS, *_ACCUM_FIELDS], np.int64, body)


def pool_pyramid(
    kind: str,
    window: int = 4,
    num_tiers: int = 1,
    sparse: bool = False,
    guard_tiers: int | None = None,
):
    """``tokens`` -> one row per (input row, tier) for tiers
    ``1..num_tiers``: ``tier``, ``tokens``, ``n_tok`` and, for avg,
    ``accum`` + ``denom`` (the persisted accumulator ``avg_step``
    extends).  Every tier comes from one kernel pass over the input,
    like the reference's ``num_mips`` (accelerated.pyx:223-259): avg
    chains the accumulator step, the other kernels call
    ``kernels.pool`` once.  Each input batch yields one output batch
    per tier.

    ``guard_tiers``: enforce the pyramid-depth minimum-size guard
    (accelerated.pyx:89-90, n >= window**guard_tiers) per batch, so the
    engine needs no driver-side pre-scan to validate a deep pyramid."""
    avg = kind == "avg"

    def body(groups, n):
        tiers = [[] for _ in range(num_tiers)]
        for rows, (mat,) in groups:
            if guard_tiers is not None:
                K.validate_pool_args(mat.shape[1], window, guard_tiers,
                                     pot_only=False)
            if avg:
                acc, den = mat, None
                for t in range(num_tiers):
                    acc, den, r = _avg_step_matrices(acc, den, window,
                                                     sparse, t + 1)
                    tiers[t].append((rows, (acc, den, r)))
            else:
                res = K.pool(kind, mat, window=window, num_tiers=num_tiers,
                             sparse=sparse, dtype=np.int32)
                for t, r in enumerate(res):
                    tiers[t].append((rows, r))
        return [
            [pa.array(np.full(n, t, dtype=np.int32)),
             *(_avg_columns(n, parts, sparse) if avg else _tokens(n, parts))]
            for t, parts in enumerate(tiers, 1)
        ]

    fields = [StructField("tier", IntegerType(), True), *_TOKEN_FIELDS]
    if avg:
        fields += _ACCUM_FIELDS
    return _mapper(("tokens",), fields, np.int32, body)


def _avg_step_params(window: int, tier: int) -> tuple[int, int, bool]:
    """(shift, prev_shift, renorm) for one tier step (pyx:224,240-241)."""
    log2w = K._LOG2[window]
    cycle = K._cycle(window, np.dtype(np.int32))
    m = tier - 1
    shift = log2w * ((m % cycle) + 1)
    prev_shift = log2w * (((m - 1) % cycle) + 1) if m > 0 else 0
    renorm = m > 0 and prev_shift == log2w * cycle
    return shift, prev_shift, renorm


def _avg_step_matrices(
    stacked: np.ndarray,
    dstack: "np.ndarray | None",
    window: int,
    sparse: bool,
    tier: int,
):
    """One dense length-group of the AVG tier step: returns
    (acc int64 (n, L/w), den int64|None, rendered int32), so the
    cycle-renorm / sparse-denom semantics live in exactly one place."""
    shift, prev_shift, renorm = _avg_step_params(window, tier)
    if tier == 1:
        acc = K._windows(stacked, window).sum(axis=2, dtype=np.int64)
        den = (
            K._windows((stacked != 0).astype(np.int64), window).sum(
                axis=2, dtype=np.int64
            )
            if sparse
            else None
        )
    else:
        prev = stacked
        if renorm:
            prev = prev >> prev_shift  # pyx:240-241 boundary renorm
        acc = K._windows(prev, window).sum(axis=2, dtype=np.int64)
        den = None
        if sparse:
            if renorm and window == 8:
                dstack = dstack >> prev_shift  # pyx:758-761 quirk
            den = K._windows(dstack, window).sum(axis=2, dtype=np.int64)

    if sparse:
        r = np.where(den == 0, 0, K._trunc_div(acc, np.maximum(den, 1)))
    else:
        r = K._render_int(acc, shift, np.dtype(np.int64))
    return acc, den, r.astype(np.int32)
