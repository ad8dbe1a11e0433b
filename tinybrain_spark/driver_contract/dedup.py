"""Deduplication and decontamination on `documents`.

Exact fingerprints, MinHash and LSH, SimHash, n-gram Jaccard and
containment, connected-component clusters, Bloom decontamination,
duplicate spans and islands, edit-distance verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table
from .sequences import (
    SOURCE_OVERLAP_MAX,
    _KMV_K,
    _doc_shingles,
    _word_hash_expr,
)


DUP_SPAN_K = 8  # window width (words) for substring-level dedup


def _dup_window_tables(docs: DataFrame):
    """Shared front half of the substring-dedup queries: returns
    (counts, pos, flagged) — per-doc window counts, the positional
    table of 8-byte FINGERPRINTS of the overlapping 8-word windows,
    and the fingerprints that appear in >= 2 distinct documents.

    The fingerprint is the md5-derived 56-bit BIGINT every other hash
    family here uses (``_word_hash_expr``), so the corpus-dominant
    groupBy + semi-join shuffle 8-byte longs instead of ~50-80-byte
    strings (~8x less shuffle volume at 100 TB).  The DuckDB oracles
    hash with the identical md5 recipe, so even the (astronomically
    rare) 56-bit collision behaves the same on both engines.

    CRITICAL shape (r05j): the Generate explodes the cheap INDEX
    sequence ``sequence(0, size(ws)-k)`` — never an array of built
    window strings — and the window text + md5 both happen in the
    flat projection AFTER the explode.  Two pathologies forced this:

    * md5 inside any higher-order-function lambda hits the
      MessageDigest.getInstance contention wall (~1000x, r05h); and
    * exploding a transform()-built string array triggers
      InferFiltersFromGenerate, whose inferred ``size(e) > 0`` filter
      re-evaluates the WHOLE lambda below the projection with ``ws``
      collapsed back to ``split(text)`` inside every element_at —
       8 full-document regex splits per WINDOW (21 split() nodes in
      the optimized plan; 30.2 s for 236k windows at sf0.1 vs 2.0 s
      for this shape — BENCH/NOTES.md r05j).

    Post-explode, ``concat_ws(" ", slice(ws, pos+1, k))`` runs in
    whole-stage codegen in the SAME stage as the Generate, so nothing
    wider than (doc_id, pos, f8) ever reaches an exchange.  The
    flagged table needs "appears in >= 2 DISTINCT docs", which over
    the all-occurrences pos table is exactly ``min(doc_id) <>
    max(doc_id)`` — one fully map-side-combinable groupBy, no
    distinct-rewrite double exchange, no in-row text dedup pass (the
    oracle mirrors the same min<>max rule on the identical f8)."""
    k = DUP_SPAN_K
    w = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.trim(F.col("text")), " +").alias("ws"),
    )
    counts = w.select(
        "doc_id",
        F.greatest(F.size("ws") - (k - 1), F.lit(0))
        .cast("long")
        .alias("n_windows"),
    )
    # guard: size() BEFORE sequence() — sequence(0, n) auto-steps -1
    # when n < 0 (CLAUDE.md), so short docs take the empty branch
    pos = w.select(
        "doc_id",
        "ws",
        F.explode(
            F.when(
                F.size("ws") >= k,
                F.sequence(F.lit(0), F.size("ws") - k),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
    ).select(
        "doc_id",
        "pos",
        _word_hash_expr(
            F.concat_ws(" ", F.slice(F.col("ws"), F.col("pos") + 1, k))
        ).alias("f8"),
    )
    flagged = (
        pos.groupBy("f8")
        .agg(
            F.min("doc_id").alias("dmin"),
            F.max("doc_id").alias("dmax"),
        )
        .where(F.col("dmin") < F.col("dmax"))
        .select("f8")
    )
    return counts, pos, flagged


def q_dup_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated spans: merge q_dup_spans' flagged 8-word
    windows into maximal runs of consecutive positions per document —
    (doc_id, span_start, span_words) for every contiguous duplicated
    region, i.e. exactly what a crop-the-boilerplate pass deletes.
    Classic gaps-and-islands: island = pos - row_number() over the
    doc's flagged positions; each island's word extent is
    (max_pos - min_pos) + window width.

    Shape: everything q_dup_spans does plus one row_number window
    partitioned by doc (bounded by windows-per-doc) and one groupBy on
    (doc, island) — aggregated rows only, still no pair join."""
    docs = load_table(spark, sf_dir, "documents")
    _, pos, flagged = _dup_window_tables(docs)
    hit = pos.join(flagged, "f8", "left_semi").select("doc_id", "pos")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    islands = hit.withColumn(
        "isl", F.col("pos") - F.row_number().over(w_doc)
    )
    return islands.groupBy("doc_id", "isl").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") - F.min("pos") + DUP_SPAN_K)
        .cast("long")
        .alias("span_words"),
    ).drop("isl").select("doc_id", "span_start", "span_words")


_DUP_ISLANDS = f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), pos AS (
  SELECT doc_id, i - 1 AS pos,
         {" || ' ' || ".join(f"ws[i+{j}]" for j in range(DUP_SPAN_K))} AS wtext,
         CAST(('0x' || substr(md5(wtext), 1, 14)) AS BIGINT) AS f8
  FROM w CROSS JOIN (SELECT unnest(generate_series(1, (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i) g
  WHERE i <= len(ws) - {DUP_SPAN_K - 1}
), flagged AS (
  -- ">= 2 distinct docs" over the all-occurrences pos table is
  -- exactly min(doc_id) <> max(doc_id) per fingerprint — mirrors the
  -- Spark side's map-side-combinable groupBy on the identical f8,
  -- even under md5 collisions
  SELECT f8 FROM pos
  GROUP BY f8 HAVING min(doc_id) <> max(doc_id)
), hit AS (
  SELECT doc_id, pos FROM pos WHERE f8 IN (SELECT f8 FROM flagged)
), isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (
           PARTITION BY doc_id ORDER BY pos) AS g
  FROM hit
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) - min(pos) + {DUP_SPAN_K} AS BIGINT) AS span_words
FROM isl GROUP BY doc_id, g
"""


def q_unique_docs_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join surface: documents with NO verified near-dup
    (the complement of the dedup clusters — what survives curation
    untouched)."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    pairs = q_minhash_verified_pairs(spark, sf_dir)
    dupped = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    return docs.join(dupped, "doc_id", "left_anti")


def _unique_docs_anti_sql() -> str:
    return f"""
WITH pairs AS ({_minhash_verified_sql()}),
dupped AS (
  SELECT doc_a AS doc_id FROM pairs
  UNION SELECT doc_b AS doc_id FROM pairs
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id
FROM documents d LEFT JOIN dupped p ON d.doc_id = p.doc_id
WHERE p.doc_id IS NULL
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout_on=[]: one md5 + map-side partial agg per doc is lighter
    # than shuffling the raw text (0.30 s vs 0.70 s at sf1.0) — the
    # scan-side aggregate already ships ~1 row per distinct hash
    docs = load_table(spark, sf_dir, "documents", fanout_on=[])
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
    )


_DEDUP_EXACT = """
SELECT md5(text) AS content_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id
FROM documents GROUP BY 1
"""


def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup keep-set: one survivor (min doc_id) per normalized-content
    cluster — the materialized output a training pipeline actually
    consumes (drop-duplicates with a deterministic keep policy)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    w = Window.partitionBy(norm).orderBy(F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("source"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
    )


_DEDUP_KEEP = r"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
           ORDER BY doc_id ASC) AS rn
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM ranked WHERE rn = 1
"""


def q_cross_source_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup PROVENANCE census (r05r): per source, how many docs
    are duplicates of an earlier doc (min doc_id = the canonical
    copy), and how many of those duplicate a doc that first appeared
    in a DIFFERENT source — the mirrored/bulk-copied-source signal at
    the exact-hash level (q_source_overlap is the same question at
    the shingle level).  Emits (source, n_docs, n_dups,
    n_cross_source, dup_permille).

    Shape: content collapses to the md5-derived 56-bit BIGINT
    fingerprint in the scan projection (the r05q key-width rule;
    oracle hashes identically), so all three exchanges carry 8-byte
    keys: the first-occurrence groupBy(h) (map-side combinable), the
    firsts->docs join on first_id to fetch the canonical copy's
    source, and the docs->firsts join back on h.  Final groupBy is
    |sources| rows."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        _word_hash_expr(F.col("text")).alias("h"),
    )
    firsts = docs.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    fsrc = firsts.join(
        docs.select(
            F.col("doc_id").alias("first_id"),
            F.col("source").alias("first_source"),
        ),
        "first_id",
    )
    flagged = docs.join(fsrc, "h").select(
        "source",
        (F.col("doc_id") != F.col("first_id")).cast("long").alias("dup"),
        (
            (F.col("doc_id") != F.col("first_id"))
            & (F.col("source") != F.col("first_source"))
        ).cast("long").alias("cross"),
    )
    return flagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dup").cast("long").alias("n_dups"),
        F.sum("cross").cast("long").alias("n_cross_source"),
        F.expr("1000 * sum(dup) DIV count(*)").cast("long").alias(
            "dup_permille"
        ),
    )


_CROSS_SOURCE_DUP = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(('0x' || substr(md5(text), 1, 14)) AS BIGINT) AS h
  FROM documents
), firsts AS (
  SELECT h, min(doc_id) AS first_id FROM d GROUP BY h
), fsrc AS (
  SELECT f.h, f.first_id, d.source AS first_source
  FROM firsts f JOIN d ON d.doc_id = f.first_id
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN d.doc_id <> fs.first_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dups,
       CAST(sum(CASE WHEN d.doc_id <> fs.first_id
                      AND d.source <> fs.first_source
                THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source,
       CAST(1000 * sum(CASE WHEN d.doc_id <> fs.first_id THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS dup_permille
FROM d JOIN fsrc fs ON fs.h = d.h
GROUP BY d.source
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(norm).alias("fingerprint"),
    )


_DOC_FINGERPRINT = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


# p = 2^31 - 1; word hash reduced mod p before multiply so
# (h%p)*a + b stays < 2^63 (Spark 4 runs ANSI mode: overflow throws)
_MINHASH_K = 8
_MINHASH_P = 2147483647
_MINHASH_AB = [
    (433494437, 97),
    (715827883, 10007),
    (40503, 65537),
    (999999937, 131071),
    (334214467, 514229),
    (741103597, 39916801),
    (536870923, 2971215073 % 2147483647),
    (104729, 1299709),
]


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over the distinct-word set of each doc
    (pipeline op: MinHash near-dup, signature stage)."""
    docs = load_table(spark, sf_dir, "documents")
    # in-row dedup (array_distinct) — min() is duplicate-insensitive,
    # but deduping before the 8 hash chains avoids re-hashing repeats
    # AND drops the global distinct's exchange; the groupBy is the one
    # shuffle, shipping ~1 partially-aggregated row per doc
    words = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), " +"))
        ).alias("word"),
    )
    hm = _word_hash_expr(F.col("word")) % _MINHASH_P
    aggs = [
        F.min((hm * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"sig{i}")
        for i, (a, b) in enumerate(_MINHASH_AB)
    ]
    return words.groupBy("doc_id").agg(*aggs)


def _minhash_sql() -> str:
    sigs = ",\n       ".join(
        f"min(((CAST(('0x' || substr(md5(word), 1, 14)) AS BIGINT) "
        f"% {_MINHASH_P}) * {a} + {b}) % {_MINHASH_P}) AS sig{i}"
        for i, (a, b) in enumerate(_MINHASH_AB)
    )
    return f"""
WITH words AS (
  SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(string_split_regex(trim(text), ' +')) AS word
  FROM documents
)
SELECT doc_id, {sigs}
FROM words GROUP BY doc_id
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: docs sharing any band (2 consecutive sigs) become
    candidate near-dup pairs."""
    return _minhash_pairs_from(q_minhash_signature(spark, sf_dir))


def q_lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter-accountability census (r05s): per band index, the
    number of colliding buckets (>= 2 docs), the candidate-pair volume
    sum C(k,2) those buckets would feed the verify stage, and the
    largest bucket — the table an operator reads to TUNE bands/rows
    before running the pair join (a hot bucket here is exactly the
    skew that blows up q_minhash_pairs).

    Shape: the join-cardinality pattern — bucket sizes from ONE
    map-side-combinable groupBy over the 8-byte band fingerprints,
    pair counts as in-row k*(k-1)/2 arithmetic, final groupBy over
    <= _MINHASH_K/2 rows.  The candidate volume is COUNTED without
    ever materializing a pair, so the census costs one exchange
    however skewed the buckets."""
    bands = _minhash_bands_from(q_minhash_signature(spark, sf_dir))
    g = bands.groupBy("bi", "band").agg(F.count("*").alias("k"))
    return (
        g.where(F.col("k") >= 2)
        .groupBy("bi")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum(F.expr("k * (k - 1) DIV 2")).cast("long").alias(
                "n_cand_pairs"
            ),
            F.max("k").cast("long").alias("max_bucket"),
        )
        .select(
            F.col("bi").cast("long").alias("band_idx"),
            "n_buckets",
            "n_cand_pairs",
            "max_bucket",
        )
    )


def _minhash_bands_from(sig: DataFrame) -> DataFrame:
    """(doc_id, bi, band): each doc's LSH band keys, collapsed to the
    md5-derived 56-bit BIGINT of 'bi:sigA:sigB' (r05s — the band
    self-join and the bucket groupBys shuffle 8-byte longs, never the
    ~25-byte string; the oracle hashes the identical text so a
    collision behaves the same on both engines)."""
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    _word_hash_expr(
                        F.concat_ws(
                            ":",
                            F.lit(str(bi)),
                            F.col(f"sig{2 * bi}").cast("string"),
                            F.col(f"sig{2 * bi + 1}").cast("string"),
                        )
                    )
                    for bi in range(_MINHASH_K // 2)
                ]
            )
        ).alias("bi", "band"),
    )


def _minhash_pairs_from(sig: DataFrame) -> DataFrame:
    bands = _minhash_bands_from(sig).select("doc_id", "band")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, on="band")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _minhash_bands_sql() -> str:
    return "\nUNION ALL\n".join(
        f"SELECT doc_id, {bi} AS bi, "
        f"CAST(('0x' || substr(md5('{bi}:' || CAST(sig{2*bi} AS VARCHAR) "
        f"|| ':' || CAST(sig{2*bi+1} AS VARCHAR)), 1, 14)) AS BIGINT) "
        f"AS band FROM sig"
        for bi in range(_MINHASH_K // 2)
    )


def _lsh_band_stats_sql() -> str:
    return f"""
WITH sig AS ({_minhash_sql()}),
bands AS ({_minhash_bands_sql()}),
g AS (
  SELECT bi, band, count(*) AS k FROM bands GROUP BY 1, 2
)
SELECT CAST(bi AS BIGINT) AS band_idx,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(k * (k - 1) // 2) AS BIGINT) AS n_cand_pairs,
       CAST(max(k) AS BIGINT) AS max_bucket
FROM g WHERE k >= 2 GROUP BY bi
"""


def _minhash_pairs_sql() -> str:
    return f"""
WITH sig AS ({_minhash_sql()}),
bands AS ({_minhash_bands_sql()})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over distinct words (pipeline op: SimHash)."""
    docs = load_table(spark, sf_dir, "documents")
    # per-doc word dedup INSIDE the row (array_distinct) instead of a
    # global distinct: same (doc, word) set, one less full-width
    # exchange — the groupBy below is then the only shuffle, and its
    # map-side partial agg ships ~1 row per doc
    words = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), " +"))
        ).alias("word"),
    )
    h = _word_hash_expr(F.col("word"))
    wh = words.select("doc_id", h.alias("h"))
    # one shuffle, 32 aggregate columns — instead of exploding 32x rows
    votes = wh.groupBy("doc_id").agg(
        *[
            F.sum(
                (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{b}")
            for b in range(32)
        ]
    )
    simhash = None
    for b in range(32):
        bitval = F.when(
            F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        simhash = bitval if simhash is None else simhash + bitval
    return votes.select("doc_id", simhash.cast("long").alias("simhash"))


_SIMHASH = """
WITH words AS (
  SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(string_split_regex(trim(text), ' +')) AS word
  FROM documents
), wh AS (
  SELECT doc_id, CAST(('0x' || substr(md5(word), 1, 14)) AS BIGINT) AS h
  FROM words
), wb AS (
  SELECT doc_id, b.bit,
         ((h >> b.bit) & 1) * 2 - 1 AS w
  FROM wh CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) b
), bits AS (
  SELECT doc_id, bit, sum(w) AS s FROM wb GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
            AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


_NGRAM_DF_CAP = 64  # drop shingles appearing in more docs than this


def _ngram_rare_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, f8): the per-doc-distinct, DF-capped word-3-gram
    fingerprint table q_ngram_jaccard self-joins (plan pinned in
    tests/test_plans.py — this is the stage the checkpoint
    materializes)."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.trim(F.col("text")), " +").alias("ws"),
    )
    # guard: size() BEFORE sequence() — sequence(0, n) auto-steps -1
    # when n < 0 (CLAUDE.md), so short docs take the empty branch
    raw = w.select(
        "doc_id",
        "ws",
        F.explode(
            F.when(
                F.size("ws") >= 3,
                F.sequence(F.lit(1), F.size("ws") - 2),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    ).select(
        "doc_id",
        _word_hash_expr(
            F.concat_ws(" ", F.slice(F.col("ws"), F.col("i"), 3))
        ).alias("f8"),
    )
    # per-doc dedup AND the DF cap as two window functions over ONE
    # f8-partitioned exchange (a groupBy+join formulation costs two
    # extra exchanges; the self-join then reuses this hash
    # partitioning on f8)
    w_dedup = Window.partitionBy("f8").orderBy("doc_id")
    dedup = (
        raw.withColumn("prev", F.lag("doc_id").over(w_dedup))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("doc_id")))
        .drop("prev")
    )
    return (
        dedup.withColumn("df_", F.count("*").over(Window.partitionBy("f8")))
        .where(F.col("df_") <= _NGRAM_DF_CAP)
        .drop("df_")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard similarity for candidate pairs sharing a
    RARE shingle, thresholded at 0.5 (pipeline op: n-gram Jaccard
    near-dup).  Emits (doc_a, doc_b, jac_pct).

    Scale bound: shingles with document frequency > _NGRAM_DF_CAP are
    dropped from the shingle sets BEFORE the self-join (standard
    web-dedup practice — a stop-phrase trigram like 'one of the' in k
    docs would otherwise produce k^2 join rows).  Jaccard is then
    defined consistently over the rare-shingle sets; the oracle applies
    the identical cap, and the join's per-key fan-out is <= CAP^2
    regardless of corpus size.

    Shape (r05p, the dup-spans treatment): the Generate explodes the
    cheap INDEX sequence — never a transform()-built string array
    (InferFiltersFromGenerate would re-inline split(text) into every
    element_at, r05j) — and the shingle immediately collapses to the
    md5-derived 56-bit BIGINT fingerprint in the flat post-explode
    projection, so the sh-partitioned windows AND the self-join all
    shuffle 8-byte longs instead of ~20-40-byte strings.  The oracle
    hashes with the identical recipe, so even a 56-bit collision
    behaves the same on both engines.

    The capped shingle table is localCheckpoint-pinned (the
    q_forecast_baseline precedent): without it, Catalyst recomputes
    the whole scan->explode->hash->two-window pipeline FOUR times (the
    a/b join sides plus both size branches — no ReusedExchange, their
    pushed filters differ), which at 100 TB quadruples the dominant
    stage; the checkpoint is a linear 16-byte-per-row (doc_id, f8)
    table that every branch then re-reads."""
    shingles = _ngram_rare_shingles(spark, sf_dir).localCheckpoint()
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, on="f8")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter") * 100
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).cast("long").alias("jac_pct"),
        )
        .where(F.col("jac_pct") >= 50)
    )


_NGRAM_JACCARD = f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
               1, 14)) AS BIGINT) AS f8
  FROM w CROSS JOIN (SELECT unnest(generate_series(1, (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i) g
  WHERE i <= len(ws) - 2
), sh AS (
  SELECT sh0.doc_id, sh0.f8
  FROM sh0 JOIN (
    SELECT f8 FROM sh0 GROUP BY f8 HAVING count(*) <= {_NGRAM_DF_CAP}
  ) rare ON sh0.f8 = rare.f8
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.f8 = b.f8 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(inter * 100 // (sa.n + sb.n - inter) AS BIGINT) AS jac_pct
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 100 // (sa.n + sb.n - inter) >= 50
"""


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided n-gram CONTAINMENT dedup (r05q): for candidate pairs
    sharing a rare word-3-gram, the permille of the SMALLER doc's
    rare-shingle set that the larger doc contains — the quote/subset
    detector Jaccard structurally misses (a 50-shingle doc fully
    embedded in a 5000-shingle doc has Jaccard ~1% but containment
    1000).  Emits (doc_sub, doc_super, n_sub, inter, cont_permille)
    for pairs with containment >= 800; doc_sub is the smaller-set doc
    (doc_id tie-break), the direction a dedup keep-policy drops.

    Scale shape: identical to q_ngram_jaccard — the same DF-capped
    (<= _NGRAM_DF_CAP) 56-bit-fingerprint shingle stage
    (localCheckpoint-pinned so the join sides and the size aggregate
    read one materialized 16-byte-per-row table), a CAP^2-bounded
    self-join on 8-byte keys, and broadcast size lookups.  Only the
    final scoring expression differs: inter*1000 DIV least(na, nb)
    instead of the symmetric union denominator."""
    shingles = _ngram_rare_shingles(spark, sf_dir).localCheckpoint()
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, on="f8")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    scored = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            F.when(
                (F.col("na") < F.col("nb"))
                | ((F.col("na") == F.col("nb")) & (F.col("doc_a") < F.col("doc_b"))),
                F.col("doc_a"),
            ).otherwise(F.col("doc_b")).alias("doc_sub"),
            F.when(
                (F.col("na") < F.col("nb"))
                | ((F.col("na") == F.col("nb")) & (F.col("doc_a") < F.col("doc_b"))),
                F.col("doc_b"),
            ).otherwise(F.col("doc_a")).alias("doc_super"),
            F.least("na", "nb").cast("long").alias("n_sub"),
            F.col("inter").cast("long").alias("inter"),
            F.expr("1000 * inter DIV least(na, nb)")
            .cast("long")
            .alias("cont_permille"),
        )
    )
    return scored.where(F.col("cont_permille") >= 800)


_CONTAINMENT = f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
               1, 14)) AS BIGINT) AS f8
  FROM w CROSS JOIN (SELECT unnest(generate_series(1, (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i) g
  WHERE i <= len(ws) - 2
), sh AS (
  SELECT sh0.doc_id, sh0.f8
  FROM sh0 JOIN (
    SELECT f8 FROM sh0 GROUP BY f8 HAVING count(*) <= {_NGRAM_DF_CAP}
  ) rare ON sh0.f8 = rare.f8
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.f8 = b.f8 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CASE WHEN sa.n < sb.n OR (sa.n = sb.n AND doc_a < doc_b)
            THEN doc_a ELSE doc_b END AS doc_sub,
       CASE WHEN sa.n < sb.n OR (sa.n = sb.n AND doc_a < doc_b)
            THEN doc_b ELSE doc_a END AS doc_super,
       CAST(least(sa.n, sb.n) AS BIGINT) AS n_sub,
       CAST(inter AS BIGINT) AS inter,
       CAST(1000 * inter // least(sa.n, sb.n) AS BIGINT) AS cont_permille
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 1000 * inter // least(sa.n, sb.n) >= 800
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (pipeline op): flag training documents
    sharing any word-3-gram with the EVAL set (docs with doc_id % 20 ==
    0 stand in for the benchmark corpus).  Emits (doc_id, n_shared) =
    distinct contaminated shingles per flagged doc.

    Scale shape: the eval side is tiny in production, so the LEFT SEMI
    join broadcasts it and the candidate side never fans out — a
    candidate shingle matches at most once regardless of how many eval
    docs contain it (the semi-join IS the n-gram-containment test;
    contrast with the capped self-join that near-dup Jaccard needs)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _doc_shingles(docs)
    bench = (
        sh.where(F.col("doc_id") % 20 == 0).select("sh").distinct()
    )
    cand = sh.where(F.col("doc_id") % 20 != 0)
    return (
        cand.join(F.broadcast(bench), "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


_DECONTAMINATE = """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
  FROM w CROSS JOIN (SELECT unnest(generate_series(1, (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i) g
  WHERE i <= len(ws) - 2
)
SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM sh c
WHERE c.doc_id % 20 <> 0
  AND EXISTS (SELECT 1 FROM sh b WHERE b.doc_id % 20 = 0 AND b.sh = c.sh)
GROUP BY c.doc_id
"""


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication (pipeline op): per document, how
    many of its overlapping 8-word windows also occur verbatim in at
    least one OTHER document — the window-granular approximation of
    suffix-array substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): instead of exact maximal
    repeated substrings, every k-token window is fingerprinted and a
    window shared across documents marks its span as duplicated.
    Emits (doc_id, n_windows, n_dup, dup_permille) for every doc —
    the score a pipeline thresholds to crop or drop boilerplate spans.

    Shape: windows explode in-row (no shuffle); the distinct-doc count
    per window text dedups IN-ROW first (array_distinct before the
    explode — the simhash lesson) so one map-side-combinable groupBy
    yields exact distinct-doc counts; flagged windows join back onto
    the positional table by window key (AQE broadcasts when the dup
    set is small, shuffles on the window key otherwise — never by doc);
    one final groupBy(doc_id).  Everything is linear in corpus tokens,
    the classic shingle-shuffle shape that holds at 100 TB.  Windows
    hotter than any bound (boilerplate in millions of docs) only fan
    out positions that genuinely are duplicated — no pair join exists
    anywhere (contrast q_ngram_jaccard's capped self-join)."""
    docs = load_table(spark, sf_dir, "documents")
    _, pos, _ = _dup_window_tables(docs)
    # r06 single-pass shape: the old flagged-groupBy + left-semi
    # evaluated the scan->split->explode->md5 subtree TWICE (Catalyst
    # has no common-subtree reuse across join sides) and the per-doc
    # window counts a THIRD split.  One f8-partitioned window computes
    # the ">= 2 distinct docs" flag (min<>max over the partition —
    # same rule, same collisions) on the positional rows themselves,
    # and ONE doc-level aggregate then yields both n_dup (sum of
    # flags) and n_windows (max(pos)+1 == size(ws)-k+1 for any doc
    # that has windows; windowless docs fall out of the left join as
    # zeros, exactly the old greatest(size-k+1, 0)).  Net: one md5
    # pass instead of two, one text-split pass instead of three, and
    # the second documents scan reads only the doc_id column.
    wf = Window.partitionBy("f8")
    per_doc = (
        pos.withColumn(
            "dup",
            (F.min("doc_id").over(wf) < F.max("doc_id").over(wf)).cast(
                "long"
            ),
        )
        .groupBy("doc_id")
        .agg(
            (F.max("pos") + 1).cast("long").alias("n_windows"),
            F.sum("dup").cast("long").alias("n_dup"),
        )
    )
    out = (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_windows"), F.lit(0))
            .cast("long")
            .alias("n_windows"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup"),
        )
    )
    return out.select(
        "doc_id",
        "n_windows",
        "n_dup",
        F.when(
            F.col("n_windows") > 0,
            F.expr("1000 * n_dup DIV n_windows"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_permille"),
    )


_DUP_SPANS = f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), pos AS (
  SELECT doc_id, i,
         {" || ' ' || ".join(f"ws[i+{j}]" for j in range(DUP_SPAN_K))} AS wtext,
         CAST(('0x' || substr(md5(wtext), 1, 14)) AS BIGINT) AS f8
  FROM w CROSS JOIN (SELECT unnest(generate_series(1, (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i) g
  WHERE i <= len(ws) - {DUP_SPAN_K - 1}
), flagged AS (
  -- ">= 2 distinct docs" over the all-occurrences pos table is
  -- exactly min(doc_id) <> max(doc_id) per fingerprint — mirrors the
  -- Spark side's map-side-combinable groupBy on the identical f8,
  -- even under md5 collisions
  SELECT f8 FROM pos
  GROUP BY f8 HAVING min(doc_id) <> max(doc_id)
), nd AS (
  SELECT doc_id, count(*) AS n_dup
  FROM pos WHERE f8 IN (SELECT f8 FROM flagged)
  GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(greatest(len(ws) - {DUP_SPAN_K - 1}, 0) AS BIGINT)
         AS n_windows,
       CAST(COALESCE(nd.n_dup, 0) AS BIGINT) AS n_dup,
       CAST(CASE WHEN len(ws) >= {DUP_SPAN_K}
                 THEN 1000 * COALESCE(nd.n_dup, 0)
                      // (len(ws) - {DUP_SPAN_K - 1})
                 ELSE 0 END AS BIGINT) AS dup_permille
FROM w LEFT JOIN nd USING (doc_id)
"""


NGRAM_NOVELTY_K = 3  # shingle width for the corpus-novelty curve


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus novelty (pipeline op): of each doc's
    DISTINCT word-3-gram fingerprints, how many first appear in the
    corpus in THIS doc (doc_id order) — the novelty-weighted-sampling
    signal a curation pipeline uses to rank documents by marginal
    information (a doc whose shingles all appeared earlier adds ~0).

    Scale shape (the r05j lessons applied from birth): the Generate
    explodes the cheap index sequence — never a lambda-built string
    array — and the shingle text + md5 fingerprint are computed in
    the flat post-explode projection (whole-stage codegen, same
    stage).  Per-doc dedup is the (doc_id, g8) hash aggregate itself
    (map-side combine absorbs in-doc repeats before the 16-byte-key
    exchange).  First occurrence is min(doc_id) per fingerprint —
    map-side combinable — and the per-doc novel COUNT falls out of
    grouping those minima by doc, so no join against the fingerprint
    table exists anywhere.  Permille uses integer DIV on both engines
    (nonneg, so trunc == floor)."""
    docs = load_table(spark, sf_dir, "documents")
    k = NGRAM_NOVELTY_K
    w = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.trim(F.col("text")), " +").alias("ws"),
    )
    # guard: size() BEFORE sequence() — sequence(0, n) auto-steps -1
    # when n < 0 (CLAUDE.md), so short docs take the empty branch
    pairs = (
        w.select(
            "doc_id",
            "ws",
            F.explode(
                F.when(
                    F.size("ws") >= k,
                    F.sequence(F.lit(0), F.size("ws") - k),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            _word_hash_expr(
                F.concat_ws(
                    " ", F.slice(F.col("ws"), F.col("pos") + 1, k)
                )
            ).alias("g8"),
        )
        .distinct()  # (doc, shingle) pairs; partials combine map-side
    )
    tot = pairs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_distinct")
    )
    nov = (
        pairs.groupBy("g8")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_novel"))
    )
    return (
        w.select("doc_id")
        .join(tot, "doc_id", "left")
        .join(nov, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_distinct", F.lit(0))
            .cast("long")
            .alias("n_distinct"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        )
        .withColumn(
            "novel_pm",
            F.expr("(n_novel * 1000) div greatest(n_distinct, 1)").cast(
                "long"
            ),
        )
    )


_NGRAM_NOVELTY = f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), pos AS (
  SELECT doc_id,
         {" || ' ' || ".join(f"ws[i+{j}]" for j in range(NGRAM_NOVELTY_K))} AS wtext,
         CAST(('0x' || substr(md5(wtext), 1, 14)) AS BIGINT) AS g8
  FROM w CROSS JOIN (SELECT unnest(generate_series(1, (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i) g
  WHERE i <= len(ws) - {NGRAM_NOVELTY_K - 1}
), pairs AS (
  SELECT DISTINCT doc_id, g8 FROM pos
), tot AS (
  SELECT doc_id, count(*) AS n_distinct FROM pairs GROUP BY doc_id
), nov AS (
  SELECT doc_id, count(*) AS n_novel FROM (
    SELECT g8, min(doc_id) AS doc_id FROM pairs GROUP BY g8
  ) GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(coalesce(tot.n_distinct, 0) AS BIGINT) AS n_distinct,
       CAST(coalesce(nov.n_novel, 0) AS BIGINT) AS n_novel,
       CAST((coalesce(nov.n_novel, 0) * 1000)
            // greatest(coalesce(tot.n_distinct, 0), 1) AS BIGINT)
         AS novel_pm
FROM w LEFT JOIN tot USING (doc_id) LEFT JOIN nov USING (doc_id)
"""


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split contamination audit (pipeline op): using
    q_hash_split's deterministic content-hash assignment, count for
    every TEST document how many of its 8-word windows also occur
    anywhere in the TRAIN split — the within-corpus decontamination
    check (contrast q_bloom_decontaminate, which screens against an
    EXTERNAL benchmark table).  A test doc with leak_pm near 1000 is
    effectively in the training set.

    Scale shape: the split flags ride the same index-explode as the
    dup-span family (two booleans wider than (doc_id, pos, f8), still
    nothing but fixed-width columns at the exchange); the train-side
    fingerprint set is one map-side-combinable distinct on the 8-byte
    key, and the probe is a left-semi join on that key (AQE
    broadcasts it when small).  No doc-vs-doc pair join exists."""
    docs = load_table(spark, sf_dir, "documents")
    k = DUP_SPAN_K
    b = (
        F.conv(F.substring(F.md5(F.col("text")), 1, 14), 16, 10).cast(
            "long"
        )
        % 1000
    )
    w = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.trim(F.col("text")), " +").alias("ws"),
        (b < 900).alias("is_train"),
        (b >= 950).alias("is_test"),
    )
    pos = w.select(
        "doc_id",
        "ws",
        "is_train",
        "is_test",
        F.explode(
            F.when(
                F.size("ws") >= k,
                F.sequence(F.lit(0), F.size("ws") - k),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
    ).select(
        "doc_id",
        "is_train",
        "is_test",
        _word_hash_expr(
            F.concat_ws(" ", F.slice(F.col("ws"), F.col("pos") + 1, k))
        ).alias("f8"),
    )
    train_f8 = pos.where("is_train").select("f8").distinct()
    test_pos = pos.where("is_test")
    tot = test_pos.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_windows")
    )
    leaked = (
        test_pos.join(train_f8, "f8", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_leaked"))
    )
    return (
        tot.join(leaked, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_leaked", F.lit(0)).cast("long").alias("n_leaked"),
        )
        .withColumn(
            "leak_pm",
            F.expr("(n_leaked * 1000) div greatest(n_windows, 1)").cast(
                "long"
            ),
        )
    )


_SPLIT_LEAKAGE = f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws,
         CAST(('0x' || substr(md5(text), 1, 14)) AS BIGINT) % 1000 AS b
  FROM documents
), pos AS (
  SELECT doc_id, b < 900 AS is_train, b >= 950 AS is_test,
         {" || ' ' || ".join(f"ws[i+{j}]" for j in range(DUP_SPAN_K))} AS wtext,
         CAST(('0x' || substr(md5(wtext), 1, 14)) AS BIGINT) AS f8
  FROM w CROSS JOIN (SELECT unnest(generate_series(1, (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i) g
  WHERE i <= len(ws) - {DUP_SPAN_K - 1}
), train_f8 AS (
  SELECT DISTINCT f8 FROM pos WHERE is_train
), tp AS (
  SELECT doc_id, f8 FROM pos WHERE is_test
), tot AS (
  SELECT doc_id, count(*) AS n_windows FROM tp GROUP BY doc_id
), lk AS (
  SELECT doc_id, count(*) AS n_leaked FROM tp
  WHERE f8 IN (SELECT f8 FROM train_f8) GROUP BY doc_id
)
SELECT tot.doc_id,
       CAST(tot.n_windows AS BIGINT) AS n_windows,
       CAST(coalesce(lk.n_leaked, 0) AS BIGINT) AS n_leaked,
       CAST((coalesce(lk.n_leaked, 0) * 1000)
            // greatest(tot.n_windows, 1) AS BIGINT) AS leak_pm
FROM tot LEFT JOIN lk USING (doc_id)
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing overlap matrix: for every pair of sources, how
    many distinct word-3-gram shingles they share, plus the integer
    Jaccard permille — the signal a data-mixing pipeline uses to spot
    mirrored/bulk-copied sources before weighting them independently.

    Shape: distinct (source, shingle) pairs via in-row array_distinct
    + one groupBy; then ONE more groupBy collects each shingle's
    source-set in-row (bounded by |sources|) and emits its C(s,2)
    pairs by nested transform — NO self-join of the shingle table ever
    happens, so a shingle shared by s sources costs s^2/2 in-row
    structs, not a join fan-out.  Totals broadcast back onto the
    ~|sources|^2-row pair table.  Output is |sources|^2/2 rows however
    large the corpus.

    Past SOURCE_OVERLAP_MAX sources the in-row source-set bound no
    longer holds, so the query ROUTES to the KMV estimator
    (``kmv.pairwise_overlap``): one sketch row per source, broadcast
    pair self-join, same output schema with estimated counts — an
    answer at any source count instead of the r04 runtime raise.  The
    route is decided by a one-row aggregate over the (src, sh) table's
    source column (cheap next to the distinct it feeds).

    Shuffle width (r05q): the exact path's cross-doc dedup and the
    source-set groupBy both key on the md5-derived 56-bit BIGINT
    fingerprint of the shingle, not the ~20-40-byte string — shingle
    text is never emitted, and the oracle hashes with the identical
    recipe so even a collision behaves the same on both engines.  The
    KMV route gets the raw string table: build_kmv hash32-es and
    distincts (src, h) internally, so a pre-distinct on strings would
    be a second, wider exchange for nothing."""
    docs = load_table(spark, sf_dir, "documents")
    sh_raw = _doc_shingles(docs, key=F.col("source").alias("src"))
    n_src = docs.select(
        F.countDistinct("source").alias("n")
    ).collect()[0]["n"]
    if n_src > SOURCE_OVERLAP_MAX:
        from ..kmv import build_kmv, pairwise_overlap

        sk = build_kmv(sh_raw, ["src"], "sh", k=_KMV_K)
        est = pairwise_overlap(sk, "src", _KMV_K)
        return est.select(
            F.col("group_a").alias("source_a"),
            F.col("group_b").alias("source_b"),
            "shared",
            "total_a",
            "total_b",
            "jaccard_permille",
        )
    sh = sh_raw.select(
        "src", _word_hash_expr(F.col("sh")).alias("f8")
    ).distinct()  # cross-doc (src, f8) dedup — the one required exchange
    totals = sh.groupBy("src").agg(F.count("*").cast("long").alias("t"))
    srcs_per_sh = sh.groupBy("f8").agg(
        F.array_sort(F.collect_set("src")).alias("srcs")
    ).select(
        F.when(
            F.size("srcs") <= SOURCE_OVERLAP_MAX, F.col("srcs")
        ).otherwise(
            F.raise_error(
                F.lit(
                    "q_source_overlap: shingle shared by more sources "
                    f"than the in-row bound {SOURCE_OVERLAP_MAX}"
                )
            ).cast("array<string>")
        ).alias("srcs")
    )
    pairs = srcs_per_sh.select(
        F.explode(
            F.flatten(
                F.transform(
                    "srcs",
                    lambda a, i: F.transform(
                        F.slice(
                            "srcs", i + F.lit(2), F.size("srcs")
                        ),
                        lambda b: F.struct(
                            a.alias("source_a"), b.alias("source_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.source_a", "p.source_b")
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("shared")
    )
    ta = totals.select(
        F.col("src").alias("source_a"), F.col("t").alias("total_a")
    )
    tb = totals.select(
        F.col("src").alias("source_b"), F.col("t").alias("total_b")
    )
    out = shared.join(F.broadcast(ta), "source_a").join(
        F.broadcast(tb), "source_b"
    )
    return out.select(
        "source_a",
        "source_b",
        "shared",
        "total_a",
        "total_b",
        F.expr(
            "1000 * shared DIV (total_a + total_b - shared)"
        ).cast("long").alias("jaccard_permille"),
    )


_SOURCE_OVERLAP = """
WITH w AS (
  SELECT source AS src, string_split_regex(trim(text), ' +') AS ws
  FROM documents
), sh AS (
  SELECT DISTINCT src,
         CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
               1, 14)) AS BIGINT) AS f8
  FROM w CROSS JOIN (SELECT unnest(generate_series(1, (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i) g
  WHERE i <= len(ws) - 2
), tot AS (
  SELECT src, count(*) AS t FROM sh GROUP BY src
), pairs AS (
  SELECT a.src AS source_a, b.src AS source_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.f8 = b.f8 AND a.src < b.src
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b,
       CAST(p.shared AS BIGINT) AS shared,
       CAST(ta.t AS BIGINT) AS total_a,
       CAST(tb.t AS BIGINT) AS total_b,
       CAST(1000 * p.shared // (ta.t + tb.t - p.shared) AS BIGINT)
         AS jaccard_permille
FROM pairs p
JOIN tot ta ON ta.src = p.source_a
JOIN tot tb ON tb.src = p.source_b
"""


# bloom geometry for q_bloom_decontaminate: 512 words * 32 usable bits
# = 16 Kbit; at sf0.01's ~3k distinct eval shingles the fill ratio is
# ~0.5 and the k=4 false-positive rate ~6% — small enough that the
# pre-filter pays, large enough that the oracle actually exercises
# false positives (n_flagged > n_shared on real rows).
_BLOOM_M_WORDS = 512
_BLOOM_K = 4


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (bloom.py): the eval set's
    word-3-gram shingles fold into a fixed 16 Kbit bloom filter (one
    map-side-combinable bit_or groupBy over <= 512 rows), the candidate
    corpus probes it through k=4 BROADCAST joins — zero shuffle added
    on the corpus side — and only bloom-FLAGGED shingles reach the
    exact verification join.  Emits per flagged doc: n_flagged (bloom
    upper bound, includes false positives) and n_shared (exact —
    agrees with q_decontaminate wherever that query has a row).

    The one-sided bloom guarantee is what the oracle pins cell-for-
    cell: n_shared <= n_flagged on every row, and no truly-shared
    shingle is ever missed (a bloom miss is DEFINITELY clean), so the
    exact join's input shrinks from |corpus shingles| to |flagged|.
    At 100 TB the filter is a constant 4 KB broadcast however large
    the blocklist grows, and it merges across sources/days by
    cell-wise bit_or (bloom.py docstring)."""
    from .. import bloom as B

    docs = load_table(spark, sf_dir, "documents")
    sh = _doc_shingles(docs)
    bench = sh.where(F.col("doc_id") % 20 == 0).select("sh").distinct()
    filt = B.build_bloom(bench, "sh", m_words=_BLOOM_M_WORDS, k=_BLOOM_K)
    cand = sh.where(F.col("doc_id") % 20 != 0)
    probed = B.probe_bloom(
        cand, "sh", filt, m_words=_BLOOM_M_WORDS, k=_BLOOM_K
    )
    flagged = probed.where(F.col("bloom_hit") == 1)
    verified = flagged.join(
        F.broadcast(bench.withColumn("_ex", F.lit(1))), "sh", "left"
    )
    return verified.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_flagged"),
        F.sum(F.coalesce(F.col("_ex"), F.lit(0)))
        .cast("long")
        .alias("n_shared"),
    )


def _bloom_sql() -> str:
    """DuckDB replica of build_bloom + probe_bloom: same md5 8-hex-char
    hash windows, same word/bit split (h // 32, h % 32), same bit_or
    cell build, same 4-way left join + in-row AND probe."""
    m_bits = _BLOOM_M_WORDS * 32
    hx = "\n  UNION ALL\n".join(
        f"  SELECT (CAST(('0x' || substr(md5(sh), {1 + 8 * i}, 8)) AS"
        f" BIGINT) % {m_bits}) AS h FROM bench"
        for i in range(_BLOOM_K)
    )
    hcols = ",\n         ".join(
        f"(CAST(('0x' || substr(md5(sh), {1 + 8 * i}, 8)) AS BIGINT)"
        f" % {m_bits}) AS h{i}"
        for i in range(_BLOOM_K)
    )
    tests = "\n       * ".join(
        f"((COALESCE(b{i}.bits, 0) >> CAST(c.h{i} % 32 AS INT)) & 1)"
        for i in range(_BLOOM_K)
    )
    joins = "\n  ".join(
        f"LEFT JOIN bloom b{i} ON b{i}.bucket = c.h{i} // 32"
        for i in range(_BLOOM_K)
    )
    return f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
  FROM w CROSS JOIN (SELECT unnest(generate_series(1, (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i) g
  WHERE i <= len(ws) - 2
), bench AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0
), hx AS (
{hx}
), bloom AS (
  SELECT h // 32 AS bucket,
         bit_or(CAST(1 AS BIGINT) << CAST(h % 32 AS INT)) AS bits
  FROM hx GROUP BY 1
), cand AS (
  SELECT doc_id, sh,
         {hcols}
  FROM sh WHERE doc_id % 20 <> 0
), tested AS (
  SELECT c.doc_id, c.sh,
         {tests} AS hit
  FROM cand c
  {joins}
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_flagged,
       CAST(sum(CASE WHEN t.sh IN (SELECT sh FROM bench)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
FROM tested t
WHERE t.hit = 1
GROUP BY t.doc_id
"""


_MINHASH_AGREE = 6  # verified near-dup: >= 6 of 8 sigs agree (J >= 0.75)


def q_minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs from LSH banding, VERIFIED by full-signature
    agreement (>= _MINHASH_AGREE of 8 minhashes equal — an unbiased
    Jaccard estimate).  The banding recalls candidates cheaply; the
    verification keeps the near-dup graph from collapsing into one
    giant component (raw band-candidates are deliberately permissive)."""
    # the signature subplan would otherwise execute three times in this
    # one job (banding + both sides of the verification join)
    sig = q_minhash_signature(spark, sf_dir).persist()
    cand = _minhash_pairs_from(sig)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(_MINHASH_K)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(_MINHASH_K)],
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long")
        for i in range(_MINHASH_K)
    )
    out = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_agree", agree)
        .where(F.col("n_agree") >= _MINHASH_AGREE)
        .select("doc_a", "doc_b", "n_agree")
        # eager localCheckpoint: materializes the (small) verified-pair
        # set NOW so the signature cache can be released before we
        # return — a bare persist() here leaked three cached signature
        # DataFrames per oracle run (this query is also the input of
        # q_dedup_clusters and q_unique_docs_anti)
        .localCheckpoint()
    )
    sig.unpersist()
    return out


def _minhash_verified_sql() -> str:
    agree = " + ".join(
        f"CASE WHEN a.sig{i} = b.sig{i} THEN 1 ELSE 0 END"
        for i in range(_MINHASH_K)
    )
    return f"""
WITH cand AS ({_minhash_pairs_sql()}),
sig AS ({_minhash_sql()})
SELECT cand.doc_a, cand.doc_b, CAST({agree} AS BIGINT) AS n_agree
FROM cand
JOIN sig a ON a.doc_id = cand.doc_a
JOIN sig b ON b.doc_id = cand.doc_b
WHERE {agree} >= {_MINHASH_AGREE}
"""


EDITDIST_PREFIX = 256  # char-level verify on capped prefixes
EDITDIST_SIM_PPT = 600  # keep pairs with prefix similarity >= 60.0%


def q_editdist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-level verification of the LSH candidate pairs: exact
    Levenshtein distance over EDITDIST_PREFIX-char prefixes, keeping
    pairs whose prefix similarity 1000*(maxlen - dist) DIV maxlen
    clears EDITDIST_SIM_PPT — the ORDER-SENSITIVE complement of
    q_minhash_verified_pairs' bag-of-shingles agreement (signature
    agreement cannot tell a shuffled document from a near-identical
    one; edit distance can).

    Scale shape: distances compute ONLY on band candidates (never a
    corpus pair join), the pair join ships <= EDITDIST_PREFIX chars
    per side (prefixes project BELOW the join — the same shuffle-
    width discipline as the w8/shingle fingerprints), and
    levenshtein() is JVM-side codegen with O(PREFIX^2)-bounded work
    per pair.  The prefix cap is the documented approximation (the
    shingle-oracle convention): full-text distance would be unbounded
    per-pair cost at corpus document lengths."""
    cand = _minhash_pairs_from(q_minhash_signature(spark, sf_dir))
    p = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.substring(F.col("text"), 1, EDITDIST_PREFIX).alias("p"),
    )
    a = p.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa"))
    b = p.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"))
    r = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").cast("long").alias("d"),
            F.greatest(F.length("pa"), F.length("pb"), F.lit(1))
            .cast("long")
            .alias("mx"),
        )
    )
    return (
        r.select(
            "doc_a",
            "doc_b",
            F.col("d").alias("edit_dist"),
            F.expr("(mx - d) * 1000 DIV mx").cast("long").alias("sim_ppt"),
        )
        .where(F.col("sim_ppt") >= EDITDIST_SIM_PPT)
    )


def _editdist_verify_sql() -> str:
    return f"""
WITH sig AS ({_minhash_sql()}),
bands AS ({_minhash_bands_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
), p AS (
  SELECT doc_id, substr(text, 1, {EDITDIST_PREFIX}) AS p FROM documents
), r AS (
  SELECT cand.doc_a, cand.doc_b,
         CAST(levenshtein(a.p, b.p) AS BIGINT) AS d,
         CAST(greatest(length(a.p), length(b.p), 1) AS BIGINT) AS mx
  FROM cand JOIN p a ON a.doc_id = cand.doc_a
            JOIN p b ON b.doc_id = cand.doc_b
)
SELECT doc_a, doc_b, d AS edit_dist,
       CAST((mx - d) * 1000 // mx AS BIGINT) AS sim_ppt
FROM r WHERE (mx - d) * 1000 // mx >= {EDITDIST_SIM_PPT}
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components (hash-min label
    propagation, tinybrain_spark.clusters) over the VERIFIED near-dup
    graph.  cluster_id = min doc_id in the component; singletons map to
    themselves.  The step after pair generation that a dedup pipeline
    actually consumes."""
    from ..clusters import connected_components

    pairs = q_minhash_verified_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    nodes = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("node")
    )
    cc = connected_components(pairs, nodes)
    return cc.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as q_dedup_clusters, via the DIAMETER-INDEPENDENT
    large-star/small-star algorithm (clusters.connected_components_star,
    Kiveris et al. SoCC'14): O(log^2 n) rounds on any graph shape — the
    scale path for adversarial chain-shaped near-dup graphs that exhaust
    hash-min's diameter budget.  Oracle: the identical recursive CTE."""
    from ..clusters import connected_components_star

    pairs = q_minhash_verified_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    nodes = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("node")
    )
    cc = connected_components_star(pairs, nodes)
    return cc.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_verified_sql()}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
cc(node, label) AS (
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM documents
  UNION
  SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
)
SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node
"""


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup SURVIVORSHIP census: after near-dup clustering
    (minhash -> LSH -> verified pairs -> star connected components),
    which docs does each source actually keep?  The canonical survivor
    of a cluster is its min doc_id (exactly the star-CC label), so per
    source: total docs, survivors (doc_id == cluster label), dropped —
    the readout that turns a dedup pass into a retention decision and
    shows deduplication pressure per source.

    Scale shape: the cluster computation dominates and is the already-
    proven O(log^2 n) star path (clusters.connected_components_star,
    localCheckpoint per round); the census adds ONE join of the (doc,
    label) table to the (doc, source) projection on the 8-byte doc_id
    and a map-side-combinable source groupBy.  Oracle: the identical
    recursive CTE extended with the source rollup (quadratic per
    component in DuckDB — fine at the sf0.01 gate, excluded from sf1
    sweeps like its parent)."""
    cc = q_dedup_clusters_star(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("sd"), "source"
    )
    j = cc.join(src, F.col("doc_id") == F.col("sd"))
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            (F.col("doc_id") == F.col("cluster_id")).cast("long")
        ).cast("long").alias("n_survivors"),
        F.sum(
            (F.col("doc_id") != F.col("cluster_id")).cast("long")
        ).cast("long").alias("n_dropped"),
    )


def _dedup_survivors_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_verified_sql()}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
cc(node, label) AS (
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM documents
  UNION
  SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
),
lab AS (
  SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN lab.doc_id = cluster_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_survivors,
       CAST(sum(CASE WHEN lab.doc_id <> cluster_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
FROM lab JOIN documents ON lab.doc_id = CAST(documents.doc_id AS BIGINT)
GROUP BY 1
"""


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH blocking-recall S-curve (r05t): per exact-Jaccard decile of
    the DF-capped rare-shingle ground truth (q_ngram_jaccard's >= 50%
    pairs), the fraction the minhash banding recalls as candidates —
    the accountability eval for the LSH parameters (bands/rows), the
    dedup sibling of q_ann_recall.  A decile whose recall_ppt sags is
    exactly where the banding needs more bands (or the verify threshold
    is lying about coverage); q_lsh_band_stats prices the cost side,
    this query prices the miss side.

    Shape: the truth table is CAP^2-bounded (the DF-capped self-join),
    the candidate table is the banded join — both pair tables are tiny
    relative to the corpus, join on 16-byte composite keys, and the
    final groupBy is <= 6 decile rows.  The signature subplan is
    persisted across the band self-join's two sides and released after
    an eager localCheckpoint (the q_minhash_verified_pairs pattern)."""
    truth = q_ngram_jaccard(spark, sf_dir)
    sig = q_minhash_signature(spark, sf_dir).persist()
    cand = _minhash_pairs_from(sig).withColumn(
        "hit", F.lit(1).cast("long")
    )
    out = (
        truth.join(cand, ["doc_a", "doc_b"], "left")
        .groupBy(F.expr("jac_pct DIV 10").cast("long").alias("jac_decile"))
        .agg(
            F.count("*").cast("long").alias("n_truth"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_recalled"),
        )
        .select(
            "jac_decile",
            "n_truth",
            "n_recalled",
            F.expr("(n_recalled * 1000) DIV n_truth")
            .cast("long")
            .alias("recall_ppt"),
        )
        .localCheckpoint()
    )
    sig.unpersist()
    return out


def _lsh_recall_sql() -> str:
    return f"""
WITH truth AS ({_NGRAM_JACCARD}),
cand AS ({_minhash_pairs_sql()}),
j AS (
  SELECT t.jac_pct,
         CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS hit
  FROM truth t
  LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)
SELECT CAST(jac_pct // 10 AS BIGINT) AS jac_decile,
       CAST(count(*) AS BIGINT) AS n_truth,
       CAST(sum(hit) AS BIGINT) AS n_recalled,
       CAST((sum(hit) * 1000) // count(*) AS BIGINT) AS recall_ppt
FROM j GROUP BY 1
"""


_MH_ACC_SAMPLE = 16  # deterministic 1/16 candidate sample for calibration


def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR calibration (the accuracy sibling of
    q_lsh_recall's blocking eval): over the banding's candidate pairs,
    bucket by signature agreement (0..8 of 8 minhashes equal — the
    estimator whose expectation is the true Jaccard) and report the
    EXACT word-set Jaccard distribution inside each bucket.  The table
    that tells an operator how much to trust `n_agree/8` before
    spending the exact-verify pass at corpus scale.

    A calibration table needs STATISTICS, not a census, so candidates
    are hash-sampled 1/_MH_ACC_SAMPLE before the exact-verify joins
    (md5 of 'doc_a:doc_b' — deterministic, engine-identical, unbiased
    within each agreement bucket; the FULL candidate volume is
    q_lsh_band_stats' job).  Without the sample the operator re-pays
    the entire exact-verify cost the estimator exists to avoid (496 s
    over 96M pairs at sf1; 16x less with it).

    Pairs sharing a band through pure hash collision (zero common
    words) are kept via a LEFT join with inter=0 — an inner join would
    silently bias every bucket's mean upward.  Shapes: candidate-
    bounded joins on 8-byte keys, intersection via (doc_b, h) equi-join
    on the in-row-deduped word-hash table, final aggregate over <= 9
    calibration rows."""
    sig = q_minhash_signature(spark, sf_dir).persist()
    cand = _minhash_pairs_from(sig).where(
        F.pmod(
            _word_hash_expr(
                F.concat_ws(
                    ":",
                    F.col("doc_a").cast("string"),
                    F.col("doc_b").cast("string"),
                )
            ),
            F.lit(_MH_ACC_SAMPLE),
        )
        == 0
    )
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(_MINHASH_K)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(_MINHASH_K)],
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long")
        for i in range(_MINHASH_K)
    )
    est = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", agree.alias("n_agree"))
    )
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), " +"))
        ).alias("word"),
    ).select("doc_id", _word_hash_expr(F.col("word")).alias("h"))
    sizes = words.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n")
    )
    wa = words.select(F.col("doc_id").alias("doc_a"), "h")
    wb = words.select(F.col("doc_id").alias("doc_b"), "h")
    icnt = (
        est.select("doc_a", "doc_b")
        .join(wa, "doc_a")
        .join(wb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    jac = (
        est.join(icnt, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n").alias("nb")), "doc_b")
        .select(
            "n_agree",
            F.expr(
                "(coalesce(inter, 0) * 1000)"
                " DIV (na + nb - coalesce(inter, 0))"
            ).alias("jac_pm"),
        )
    )
    out = jac.groupBy("n_agree").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("sum(jac_pm) DIV count(*)").cast("long").alias(
            "mean_jac_permille"
        ),
        F.min("jac_pm").cast("long").alias("min_jac_permille"),
        F.max("jac_pm").cast("long").alias("max_jac_permille"),
    ).select(
        F.col("n_agree").cast("long").alias("n_agree"),
        F.expr("(n_agree * 1000) DIV 8").cast("long").alias(
            "est_permille"
        ),
        "n_pairs",
        "mean_jac_permille",
        "min_jac_permille",
        "max_jac_permille",
    ).localCheckpoint()
    sig.unpersist()
    return out


def _minhash_accuracy_sql() -> str:
    agree = " + ".join(
        f"CASE WHEN a.sig{i} = b.sig{i} THEN 1 ELSE 0 END"
        for i in range(_MINHASH_K)
    )
    return f"""
WITH sig AS ({_minhash_sql()}),
call AS ({_minhash_pairs_sql()}),
cand AS (
  SELECT * FROM call
  WHERE CAST(('0x' || substr(md5(CAST(doc_a AS VARCHAR) || ':' ||
        CAST(doc_b AS VARCHAR)), 1, 14)) AS BIGINT)
        % {_MH_ACC_SAMPLE} = 0
), est AS (
  SELECT cand.doc_a, cand.doc_b, CAST({agree} AS BIGINT) AS n_agree
  FROM cand
  JOIN sig a ON a.doc_id = cand.doc_a
  JOIN sig b ON b.doc_id = cand.doc_b
), words AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(word), 1, 14)) AS BIGINT) AS h
  FROM (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           unnest(string_split_regex(trim(text), ' +')) AS word
    FROM documents
  )
), sz AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM words GROUP BY 1
), icnt AS (
  SELECT e.doc_a, e.doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM est e
  JOIN words wa ON wa.doc_id = e.doc_a
  JOIN words wb ON wb.doc_id = e.doc_b AND wb.h = wa.h
  GROUP BY 1, 2
), jac AS (
  SELECT e.n_agree,
         (coalesce(i.inter, 0) * 1000)
           // (sa.n + sb.n - coalesce(i.inter, 0)) AS jac_pm
  FROM est e
  LEFT JOIN icnt i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
  JOIN sz sa ON sa.doc_id = e.doc_a
  JOIN sz sb ON sb.doc_id = e.doc_b
)
SELECT CAST(n_agree AS BIGINT) AS n_agree,
       CAST((n_agree * 1000) // 8 AS BIGINT) AS est_permille,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(jac_pm) // count(*) AS BIGINT) AS mean_jac_permille,
       CAST(min(jac_pm) AS BIGINT) AS min_jac_permille,
       CAST(max(jac_pm) AS BIGINT) AS max_jac_permille
FROM jac GROUP BY n_agree
"""
