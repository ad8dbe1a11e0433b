"""Bloom-filter build + probe as DataFrame operators.

The 100 TB decontamination shape: the benchmark/blocklist side is
hashed into a FIXED-SIZE bit array (``m_words`` int64 rows, 32 usable
bits each), built with one map-side-combinable ``bit_or`` groupBy, and
the corpus side probes it through a single BROADCAST row (the filter
packed as a ``map<bucket, bits>``) — the corpus is touched exactly
once, nothing about the probe scales with the blocklist, and the
filter itself is mergeable across sources/days by cell-wise ``bit_or``
(same property the count-min sketch relies on in
``streaming.run_cms_stream``).

Bloom guarantees are one-sided, like CMS: a set bit pattern can FALSELY
flag a clean document (probability ~ (1 - e^{-kn/m})^k), but a document
whose bits are not all set is DEFINITELY clean — so the filter is safe
as a *pre-filter* whose positives feed an exact verification join, and
the exact join's input shrinks from |corpus| to |flagged|.

Hash family (oracle-parity rules, CLAUDE.md): the k hashes are disjoint
8-hex-char windows of ``md5`` — 32-bit non-negative ints, reducible
mod ``m_bits`` in both Spark (``conv(substring(md5(x),p,8),16,10)``)
and DuckDB (``CAST(('0x'||substr(md5(x),p,8)) AS BIGINT)``).  Only 32
of the 64 bits of each bloom word are used so ``1 << bit`` never
touches the int64 sign bit in either engine.

Reference analog: none (tinybrain has no membership structures); this
generalizes the broadcast LEFT SEMI decontamination join
(driver_contract.dedup.q_decontaminate) to a constant-size sketch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 32 of 64 bits per word keeps 1 << bit positive in int64 on both
# engines; DIV/MOD by 32 are the shift-5/mask-31 below.
BITS_PER_WORD = 32


def _hashes(col: Column, k: int, m_bits: int) -> Column:
    """Array of k bloom bit positions for a string column."""
    return F.array(
        *[
            (
                F.conv(F.substring(F.md5(col), 1 + 8 * i, 8), 16, 10)
                .cast("long")
                % m_bits
            )
            for i in range(k)
        ]
    )


def build_bloom(
    df: DataFrame, col: str, m_words: int = 2048, k: int = 4
) -> DataFrame:
    """Aggregate ``df[col]`` strings into a bloom bit table
    ``(bucket: long, bits: long)`` with ``m_words * 32`` bits.

    One exchange: explode k bit positions per row (map-side), then a
    ``bit_or`` groupBy on <= m_words keys — partial aggregation does
    the cell-wise OR before the shuffle, so the exchange carries at
    most ``m_words * n_partitions`` rows regardless of input size.
    """
    if k < 1 or k * 8 > 32:
        raise ValueError("bloom: k must be in [1, 4] (md5 hex budget)")
    m_bits = m_words * BITS_PER_WORD
    h = df.select(F.explode(_hashes(F.col(col), k, m_bits)).alias("h"))
    return (
        h.select(
            F.shiftright(F.col("h"), 5).alias("bucket"),
            # pyspark's F.shiftleft only takes a literal shift;
            # call_function reaches the SQL form, which takes a column
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.col("h") % 32).cast("int"),
            ).alias("w"),
        )
        .groupBy("bucket")
        .agg(F.bit_or("w").alias("bits"))
    )


def probe_bloom(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    m_words: int = 2048,
    k: int = 4,
    flag: str = "bloom_hit",
) -> DataFrame:
    """Add ``flag`` = 1 iff ALL k bloom bits for ``df[col]`` are set.

    ZERO-SHUFFLE shape: the bloom table packs into ONE row holding a
    ``map<bucket, bits>`` (a single <= m_words-entry reduce — the bloom
    subtree is evaluated exactly once, not once per hash), that row
    cross-joins in as a broadcast, and all k bit tests are in-row
    ``element_at`` lookups.  At corpus scale the probed side's plan is
    scan → BroadcastNestedLoopJoin(1 row) → project: no explode, no
    groupBy, no exchange.  Missing buckets coalesce to 0 (bit not
    set), so a sparse bloom table stays correct.
    """
    m_bits = m_words * BITS_PER_WORD
    packed = bloom.groupBy().agg(
        F.map_from_arrays(
            F.collect_list("bucket"), F.collect_list("bits")
        ).alias("_bm")
    )
    out = df.join(F.broadcast(packed))
    tests = []
    for i in range(k):
        h = (
            F.conv(F.substring(F.md5(F.col(col)), 1 + 8 * i, 8), 16, 10)
            .cast("long")
            % m_bits
        )
        w = F.coalesce(
            F.element_at(F.col("_bm"), F.shiftright(h, 5)),
            F.lit(0).cast("long"),
        )
        # pyspark's F.shiftright only takes a literal shift;
        # call_function reaches the SQL form, which takes a column
        tests.append(
            F.call_function(
                "shiftright", w, (h % 32).cast("int")
            ).bitwiseAND(F.lit(1).cast("long"))
        )
    hit = tests[0]
    for t in tests[1:]:
        hit = hit * t
    return out.select(*df.columns, hit.cast("long").alias(flag))
