"""Corpus-level training-data operators on `documents` and token
sequences.

Sampling, splits, sequence packing and padding, span corruption, shard
placement, mixtures, curriculum order, rank fusion and corpus
statistics (Gini, Zipf, entropy, word runs, character coverage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table
from .sequences import SEQ_CTE, _BPE_PATTERN, _word_hash_expr, token_table


SPAN_MASK_PERMILLE = 150  # T5-style corruption rate (15%)


def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption statistics over the pre-tokenized
    sequences: each (user, pos) token masks with probability 15% by a
    DETERMINISTIC md5 coin (reproducible across engines, runs, and
    partitionings — the property a distributed masking pass needs so
    retries/backfills corrupt identical spans), adjacent masked
    positions merge into spans (one sentinel each, gaps-and-islands),
    and the per-sequence summary is what a curriculum/QA dashboard
    reads: token count, masked count, span count (== sentinels
    consumed), masked-token checksum, corruption permille.

    Shape: the token table explodes in-row; the coin is per-row md5
    arithmetic (no shuffle); islands need one row_number window
    partitioned by user (bounded by the MAX_SEQ ingest cap) over
    MASKED rows only (~15% of tokens); one final groupBy(user)."""
    tt = token_table(spark, sf_dir)
    toks = tt.select(
        "user_id", F.posexplode("tokens").alias("pos", "tok")
    )
    coin = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", "user_id", "pos")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    flagged = toks.withColumn("m", coin).where(
        F.col("m") < SPAN_MASK_PERMILLE
    )
    w = Window.partitionBy("user_id").orderBy("pos")
    spans = flagged.withColumn(
        "isl", F.col("pos") - F.row_number().over(w)
    )
    masked = spans.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_masked"),
        F.countDistinct("isl").cast("long").alias("n_spans"),
        F.sum("tok").cast("long").alias("masked_sum"),
    )
    totals = tt.select(
        "user_id", F.size("tokens").cast("long").alias("n_tokens")
    )
    return (
        totals.join(masked, "user_id", "left")
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "n_tokens",
            F.coalesce("n_masked", F.lit(0)).cast("long")
            .alias("n_masked"),
            F.coalesce("n_spans", F.lit(0)).cast("long")
            .alias("n_spans"),
            F.coalesce("masked_sum", F.lit(0)).cast("long")
            .alias("masked_sum"),
        )
        .withColumn(
            "corrupt_permille",
            F.expr("1000 * n_masked DIV n_tokens").cast("long"),
        )
    )


_SPAN_CORRUPTION = SEQ_CTE + f"""
, coin AS (
  SELECT user_id, pos, tok,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '_' ||
                                   CAST(pos AS VARCHAR)), 1, 8))
              AS BIGINT) % 1000 AS m
  FROM seq
), flagged AS (
  SELECT user_id, pos, tok FROM coin WHERE m < {SPAN_MASK_PERMILLE}
), isl AS (
  SELECT user_id, pos, tok,
         pos - row_number() OVER (
           PARTITION BY user_id ORDER BY pos) AS g
  FROM flagged
), masked AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_masked,
         CAST(count(DISTINCT g) AS BIGINT) AS n_spans,
         CAST(sum(tok) AS BIGINT) AS masked_sum
  FROM isl GROUP BY user_id
), totals AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_tokens
  FROM seq GROUP BY user_id
)
SELECT CAST(t.user_id AS BIGINT) AS user_id, t.n_tokens,
       CAST(COALESCE(m.n_masked, 0) AS BIGINT) AS n_masked,
       CAST(COALESCE(m.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(m.masked_sum, 0) AS BIGINT) AS masked_sum,
       CAST(1000 * COALESCE(m.n_masked, 0) // t.n_tokens AS BIGINT)
         AS corrupt_permille
FROM totals t LEFT JOIN masked m USING (user_id)
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling (data mixing): each doc
    keeps with probability proportional to its lexical-diversity
    permille (distinct words / words — the cheap quality proxy), via a
    DETERMINISTIC md5 coin on the doc id.  Unlike rand()-based
    sampling, the draw is reproducible across engines, retries, and
    partitionings — the property a distributed mixing pass needs so a
    re-run selects the identical corpus — and unlike the stratified
    quota sampler (q_stratified_sample) the inclusion probability
    varies PER DOC with its weight.  Emits kept docs with their weight
    and coin so the selection is auditable.

    Shape: pure per-row Catalyst arithmetic — in-row array_distinct
    for the weight, one md5 for the coin, zero shuffles, zero joins."""
    docs = load_table(spark, sf_dir, "documents")
    coin = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ws_"),
                                       F.col("doc_id").cast("string"))),
                        1, 8),
            16,
            10,
        ).cast("long")
        % 1000
    )
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.expr(
                "CAST(1000 * size(array_distinct(split(trim(text), ' +')))"
                " DIV size(split(trim(text), ' +')) AS BIGINT)"
            ).alias("w_permille"),
            coin.alias("coin"),
        )
        .where(F.col("coin") < F.col("w_permille"))
    )


_WEIGHTED_SAMPLE = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(1000 * length(list_distinct(
                  string_split_regex(trim(text), ' +')))
              // length(string_split_regex(trim(text), ' +'))
              AS BIGINT) AS w_permille,
         CAST(('0x' || substr(md5('ws_' || CAST(doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) % 1000 AS coin
  FROM documents
)
SELECT doc_id, w_permille, CAST(coin AS BIGINT) AS coin
FROM d WHERE coin < w_permille
"""


_SAMPLE_QUOTA = 50


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the data-mixing primitive of
    a training pipeline: at most _SAMPLE_QUOTA docs per source, chosen
    by md5(doc_id) order.  Hash-ordered rank is reproducible across
    engines, partitionings, and runs (a random() sample is none of
    those), so the curated mixture is auditable."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _SAMPLE_QUOTA)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            F.col("rk").cast("long").alias("sample_rank"),
        )
    )


_STRATIFIED_SAMPLE = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(rk AS BIGINT) AS sample_rank
FROM ranked WHERE rk <= {_SAMPLE_QUOTA}
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/validation/test split (pipeline
    op): the assignment hashes the TEXT, not the id, so byte-identical
    documents always land in the same split — the split itself cannot
    leak duplicates across train/test.  900/50/50 permille; pure
    Catalyst, zero shuffles, reproducible across engines/partitionings."""
    docs = load_table(spark, sf_dir, "documents")
    b = (
        F.conv(F.substring(F.md5(F.col("text")), 1, 14), 16, 10).cast("long")
        % 1000
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        b.alias("bucket"),
        F.when(b < 900, F.lit("train"))
        .when(b < 950, F.lit("validation"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


_HASH_SPLIT = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(CAST(('0x' || substr(md5(text), 1, 14)) AS BIGINT) % 1000
            AS BIGINT) AS bucket,
       CASE WHEN CAST(('0x' || substr(md5(text), 1, 14)) AS BIGINT) % 1000
                 < 900 THEN 'train'
            WHEN CAST(('0x' || substr(md5(text), 1, 14)) AS BIGINT) % 1000
                 < 950 THEN 'validation'
            ELSE 'test' END AS split
FROM documents
"""


PACK_CAPACITY = 2048  # tokens per packed training sequence (doc-level)
PACK_BUCKET = 64  # docs per prefix-sum bucket (small: exercises 2-level)
PACK_TOK_CAPACITY = 1024  # tokens per packed sequence (materialized)
PACK_TOK_BUCKET = 512  # users per prefix-sum bucket


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, assignment level (pipeline op): concatenate
    each source's documents in doc_id order and cut the token stream at
    PACK_CAPACITY boundaries; emit every doc's global token offset, the
    training sequence it starts in, its offset within it, and how many
    sequences it spans.  Token count = BPE-ish pre-tokenization pieces
    (same regex as q_token_count_bpe).

    Scale shape: the exclusive prefix sum is two-level (per-bucket
    partial sums -> tiny bucket-table window -> broadcast back +
    within-bucket window), so no task ever sorts more than
    PACK_BUCKET rows of a source — the 10^12-doc-safe form of the
    naive one-task Window.partitionBy(source).orderBy(doc_id).
    """
    from ..packing import pack_offsets

    docs = load_table(spark, sf_dir, "documents")
    with_n = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.regexp_count(F.col("text"), F.lit(_BPE_PATTERN))
        .cast("long")
        .alias("n_tok"),
    )
    out = pack_offsets(
        with_n,
        n_col="n_tok",
        order_col="doc_id",
        source_col="source",
        capacity=PACK_CAPACITY,
        bucket_size=PACK_BUCKET,
    )
    return out.select(
        "doc_id", "source", "n_tok", "tok_start", "seq_id", "seq_offset",
        "n_spans",
    )


_PACK_SEQUENCES = f"""
WITH n AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)
           AS n_tok
  FROM documents
), o AS (
  SELECT doc_id, source, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS tok_start
  FROM n
)
SELECT doc_id, source, n_tok, CAST(tok_start AS BIGINT) AS tok_start,
       CAST(tok_start // {PACK_CAPACITY} AS BIGINT) AS seq_id,
       CAST(tok_start % {PACK_CAPACITY} AS BIGINT) AS seq_offset,
       CAST(CASE WHEN n_tok <= 0 THEN 0
            ELSE (tok_start + n_tok - 1) // {PACK_CAPACITY}
                 - tok_start // {PACK_CAPACITY} + 1
            END AS BIGINT) AS n_spans
FROM o
"""


def q_pack_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, materialized (pipeline op): per-user token
    streams (the engine's standard events-derived sequences) are
    concatenated in user_id order and re-cut into PACK_TOK_CAPACITY
    sequences; one output row per token, relabeled (seq_id, pos).
    Grouping this by seq_id yields the actual packed training batches
    — the relabel IS the distributed work, the collect is one more
    exchange callers pay only when materializing arrays."""
    from ..packing import pack_tokens

    seqs = token_table(spark, sf_dir)
    return pack_tokens(
        seqs,
        tokens_col="tokens",
        order_col="user_id",
        capacity=PACK_TOK_CAPACITY,
        bucket_size=PACK_TOK_BUCKET,
    )


_PACK_TOKENS = SEQ_CTE + f"""
, ulen AS (
  SELECT user_id, count(*) AS n FROM seq GROUP BY user_id
), uoff AS (
  SELECT user_id,
         COALESCE(SUM(n) OVER (ORDER BY user_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS ustart
  FROM ulen
)
SELECT CAST((uoff.ustart + seq.pos) // {PACK_TOK_CAPACITY} AS BIGINT)
         AS seq_id,
       CAST((uoff.ustart + seq.pos) % {PACK_TOK_CAPACITY} AS BIGINT)
         AS pos,
       CAST(seq.tok AS BIGINT) AS token
FROM seq JOIN uoff USING (user_id)
"""


def q_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-balance audit — the OTHER half of split QA next to
    q_split_leakage (leakage asks "does test content appear in
    train?"; this asks "did the hash split preserve the corpus
    composition?"): per split (train/val/test from q_hash_split's
    deterministic content-hash buckets, 900/50/50), the doc count,
    total whitespace words, and the WORST per-source representation
    skew — max over sources of |source share within the split -
    source share in the corpus| in permille.  A split whose
    max_share_delta_pm is large under-represents some source, and
    per-source eval numbers stop being comparable across splits.
    All-integer (counts and truncating permille divisions only).
    Present-pairs-only semantics (ADVICE r05): the max runs over
    (split, source) pairs that OCCUR in the split — a source entirely
    absent from a split contributes no row (the oracle mirrors this
    exactly, so parity holds); with the 900/50/50 hash split and the
    fixture source mix every source appears in every split.

    Scale shape: ONE corpus-sized map-side-combinable groupBy onto
    (split, source) — everything after runs on <= 3 x |sources| rows
    (split totals, corpus source totals, the delta projection, the
    3-row census); the corpus total rides a broadcast 1-row
    aggregate.  No window ever sees a corpus-sized partition."""
    docs = load_table(spark, sf_dir, "documents")
    b = (
        F.conv(F.substring(F.md5(F.col("text")), 1, 14), 16, 10).cast(
            "long"
        )
        % 1000
    )
    d = docs.select(
        F.when(b < 900, F.lit("train"))
        .when(b < 950, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
        "source",
        F.size(F.split(F.trim(F.col("text")), " +")).cast("long").alias(
            "words"
        ),
    )
    per = d.groupBy("split", "source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("words").cast("long").alias("w"),
    )
    split_tot = per.groupBy("split").agg(
        F.sum("n").cast("long").alias("n_split"),
        F.sum("w").cast("long").alias("w_split"),
    )
    src_tot = per.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_src")
    )
    corpus = per.agg(F.sum("n").cast("long").alias("n_corpus"))
    delta = (
        per.join(split_tot, "split")
        .join(src_tot, "source")
        .crossJoin(F.broadcast(corpus))
        .select(
            "split",
            "n_split",
            "w_split",
            F.abs(
                F.expr("n * 1000 DIV n_split")
                - F.expr("n_src * 1000 DIV n_corpus")
            ).alias("delta_pm"),
        )
    )
    return delta.groupBy("split").agg(
        F.max("n_split").alias("n_docs"),
        F.max("w_split").alias("sum_words"),
        F.max("delta_pm").cast("long").alias("max_share_delta_pm"),
    )


_SPLIT_BALANCE = """
WITH d AS (
  SELECT CASE
           WHEN CAST(('0x' || substr(md5(text), 1, 14)) AS BIGINT)
                % 1000 < 900 THEN 'train'
           WHEN CAST(('0x' || substr(md5(text), 1, 14)) AS BIGINT)
                % 1000 < 950 THEN 'val'
           ELSE 'test' END AS split,
         source,
         CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
           AS words
  FROM documents
), per AS (
  SELECT split, source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(words) AS BIGINT) AS w
  FROM d GROUP BY 1, 2
), split_tot AS (
  SELECT split, CAST(sum(n) AS BIGINT) AS n_split,
         CAST(sum(w) AS BIGINT) AS w_split
  FROM per GROUP BY 1
), src_tot AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS n_src FROM per GROUP BY 1
), corpus AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_corpus FROM per
), delta AS (
  SELECT p.split, st.n_split, st.w_split,
         abs(p.n * 1000 // st.n_split
             - s.n_src * 1000 // c.n_corpus) AS delta_pm
  FROM per p JOIN split_tot st ON p.split = st.split
       JOIN src_tot s ON p.source = s.source
       CROSS JOIN corpus c
)
SELECT split,
       CAST(max(n_split) AS BIGINT) AS n_docs,
       CAST(max(w_split) AS BIGINT) AS sum_words,
       CAST(max(delta_pm) AS BIGINT) AS max_share_delta_pm
FROM delta GROUP BY 1
"""


TOKEN_BUDGET_PERMILLE = 500  # the mixing budget: half the corpus tokens


def q_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget waterfilling across sources — the data-mixing
    planner: given a training budget B (permille of total corpus
    tokens), fund every source up to a common cap c chosen so that
    sum(min(tokens_s, c)) <= B with the smallest sources fully funded
    first (the classic max-min fair allocation).

    Scale shape: one map-side-combinable groupBy(source) compresses
    the corpus to ONE row per source, then the entire waterfill runs
    IN-ROW on the collected source array (sort_array + prefix-sum via
    aggregate + feasibility filter) — zero windows, zero extra
    exchanges, bounded by source cardinality exactly like
    q_source_overlap's in-row C(s,2).  Feasibility uses the
    multiplication form toks_k * (n-k+1) <= B - prefix_{k-1} (no
    division), keeping every intermediate < 2^63 for corpora to ~1e12
    tokens per source x 1e6 sources.  The per-source emit is a
    posexplode of the same row."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), " +")))
        .cast("long")
        .alias("toks")
    )
    packed = per_src.agg(
        F.sort_array(F.collect_list(F.struct("toks", "source"))).alias("arr")
    )
    staged = (
        packed.withColumn("n", F.expr("size(arr)"))
        .withColumn(
            "total", F.expr("aggregate(arr, 0L, (a, x) -> a + x.toks)")
        )
        .withColumn(
            "b", F.expr(f"(total * {TOKEN_BUDGET_PERMILLE}) DIV 1000")
        )
        # pre[k] = sum of the (k-1) smallest, i.e. prefix EXCLUSIVE of
        # rank k; built as a growing array (O(n^2) array copies, fine:
        # n = source cardinality, not rows)
        .withColumn(
            "pre",
            F.expr(
                "aggregate(arr, array(0L), (acc, x) -> "
                "concat(acc, array(element_at(acc, -1) + x.toks)))"
            ),
        )
        .withColumn(
            "kstar",
            F.expr(
                "coalesce(array_max(filter(sequence(1, n), k -> "
                "element_at(arr, k).toks * (n - k + 1) "
                "<= b - element_at(pre, k))), 0)"
            ),
        )
        .withColumn(
            "cap",
            F.expr(
                "CASE WHEN kstar < n THEN "
                "(b - element_at(pre, kstar + 1)) DIV (n - kstar) END"
            ),
        )
    )
    return staged.select(
        F.posexplode("arr").alias("idx", "s"), "kstar", "cap"
    ).select(
        F.col("s.source").alias("source"),
        F.col("s.toks").cast("long").alias("toks"),
        F.when(F.col("idx") + 1 <= F.col("kstar"), F.col("s.toks"))
        .otherwise(F.col("cap"))
        .cast("long")
        .alias("alloc"),
        F.when(F.col("idx") + 1 <= F.col("kstar"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("funded"),
    )


_TOKEN_BUDGET_FILL = f"""
WITH s AS (
  SELECT source,
         CAST(sum(len(string_split_regex(trim(text), ' +'))) AS BIGINT)
           AS toks
  FROM documents GROUP BY source
), p AS (
  SELECT source, toks,
         row_number() OVER (ORDER BY toks, source) AS k,
         count(*) OVER () AS n,
         coalesce(sum(toks) OVER (ORDER BY toks, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre,
         (SELECT (sum(toks) * {TOKEN_BUDGET_PERMILLE}) // 1000 FROM s) AS b
  FROM s
), ks AS (
  SELECT coalesce(max(CASE WHEN toks * (n - k + 1) <= b - pre
                      THEN k END), 0) AS kstar
  FROM p
), x AS (
  SELECT p.*, ks.kstar FROM p, ks
)
SELECT source, toks,
       CAST(CASE WHEN k <= kstar THEN toks
            ELSE (b - (SELECT coalesce(max(pre), 0) FROM x x2
                       WHERE x2.k = x.kstar + 1)) // (n - kstar)
       END AS BIGINT) AS alloc,
       CAST(CASE WHEN k <= kstar THEN 1 ELSE 0 END AS BIGINT) AS funded
FROM x
"""


def q_word_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-structure census: per-source run-length statistics of
    consecutive equal words — the quality signal that catches
    degenerate generated text ("the the the ...") where plain token
    counting can't.

    Shape: the whole run scan happens IN-ROW with one F.aggregate over
    the words array (a struct accumulator carrying prev/current-run/
    max-run/run-count — pure comparisons, none of the
    MessageDigest-in-HOF pathology), so the only exchange in the plan
    is the final map-side-combinable groupBy(source).  total_words at
    corpus scale stays < 2^53, so the *1000 average is safe."""
    docs = load_table(spark, sf_dir, "documents")
    zero = F.lit(0).cast("long")
    st = F.aggregate(
        "ws",
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            zero.alias("cur"),
            zero.alias("mx"),
            zero.alias("runs"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(a.prev.isNotNull() & (x == a.prev), a.cur + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("cur"),
            F.greatest(
                a.mx,
                F.when(a.prev.isNotNull() & (x == a.prev), a.cur + 1)
                .otherwise(F.lit(1).cast("long")),
            ).alias("mx"),
            F.when(a.prev.isNotNull() & (x == a.prev), a.runs)
            .otherwise(a.runs + 1)
            .alias("runs"),
        ),
    )
    per_doc = docs.select(
        "source",
        F.split(F.trim(F.col("text")), " +").alias("ws"),
    ).select(
        "source",
        F.size("ws").cast("long").alias("words"),
        st.alias("st"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum("words").cast("long").alias("total_words"),
        F.sum("st.runs").cast("long").alias("total_runs"),
        F.max("st.mx").cast("long").alias("max_run"),
    ).select(
        "source",
        "docs",
        "total_words",
        "total_runs",
        "max_run",
        F.expr("(total_words * 1000) DIV total_runs")
        .cast("long")
        .alias("runlen_milli"),
    )


_WORD_RUNS = """
WITH w AS (
  SELECT doc_id, source, string_split_regex(trim(text), ' +') AS ws
  FROM documents
), tok AS (
  SELECT doc_id, source, ws[i] AS wd, i
  FROM w CROSS JOIN (SELECT unnest(generate_series(1, (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i) g
  WHERE i <= len(ws)
), flagged AS (
  SELECT doc_id, source, i,
         CASE WHEN lag(wd) OVER (PARTITION BY doc_id ORDER BY i) = wd
              THEN 0 ELSE 1 END AS new_run
  FROM tok
), rid AS (
  SELECT doc_id, source,
         sum(new_run) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flagged
), per_run AS (
  SELECT doc_id, source, run_id, count(*) AS rl
  FROM rid GROUP BY 1, 2, 3
), per_doc AS (
  SELECT doc_id, source,
         CAST(count(*) AS BIGINT) AS runs,
         CAST(max(rl) AS BIGINT) AS mx,
         CAST(sum(rl) AS BIGINT) AS words
  FROM per_run GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(words) AS BIGINT) AS total_words,
       CAST(sum(runs) AS BIGINT) AS total_runs,
       CAST(max(mx) AS BIGINT) AS max_run,
       CAST((CAST(sum(words) AS BIGINT) * 1000)
            // CAST(sum(runs) AS BIGINT) AS BIGINT) AS runlen_milli
FROM per_doc GROUP BY source
"""


# Gini overflow budget: with docs-per-source <= 2^20 and doc length
# <= 4096 = 2^12, T <= n^2 * x_max < 2^52, den = 2nS <= 2^53, and the
# split-division remainder term (num % den) * 1000 < 2^53 * 1000 just
# fits in int64.  Beyond either bound, shard by stratum first.
GINI_DOCS_MAX = 1 << 20
GINI_NCHARS_MAX = 4096


def q_gini_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini coefficient of document length — the corpus-
    inequality diagnostic a mixing pipeline reads before weighting
    sources (G=0 uniform lengths, G->1 a few giants dominate).

    EXACT integer arithmetic via the mean-absolute-difference identity
    over value buckets: group docs by (source, n_chars) and take
    exclusive prefix sums over the DISTINCT-length rows, so
    T = sum_j 2*c_j*(x_j*C_<j - S_<j) = sum_{i,j} |x_i - x_j| and
    G = T / (2*n*S).  The window runs over distinct lengths (bounded
    by GINI_NCHARS_MAX) — never over documents — so a source with 10^9
    docs still sorts <= 4096 rows per partition.  Milli digits via the
    trend_slope split-division trick (num*1000 is never formed)."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.groupBy("source", "n_chars").agg(
        F.count("*").cast("long").alias("c")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = b.select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long").alias("clt"),
        F.coalesce(F.sum(F.col("c") * F.col("n_chars")).over(w), F.lit(0))
        .cast("long")
        .alias("slt"),
    )
    g = pre.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("x")).cast("long").alias("s"),
        F.sum(
            F.lit(2) * F.col("c") * (F.col("x") * F.col("clt") - F.col("slt"))
        )
        .cast("long")
        .alias("num"),
        F.max("x").cast("long").alias("mx"),
    )
    guarded = g.select(
        "source",
        F.when(
            (F.col("n") <= GINI_DOCS_MAX) & (F.col("mx") <= GINI_NCHARS_MAX),
            F.col("n"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "q_gini_doclen: overflow budget exceeded "
                        f"(docs<= {GINI_DOCS_MAX}, n_chars <= "
                        f"{GINI_NCHARS_MAX}); shard by stratum: "
                    ),
                    F.col("n").cast("string"),
                )
            ).cast("long")
        )
        .alias("n"),
        "s",
        "num",
    )
    return guarded.select(
        F.col("source"),
        F.col("n").alias("docs"),
        F.col("s").alias("total_chars"),
        (
            F.expr("num DIV (2 * n * s)") * 1000
            + F.expr("((num % (2 * n * s)) * 1000) DIV (2 * n * s)")
        ).cast("long").alias("gini_milli"),
    )


_GINI_DOCLEN = """
WITH b AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), p AS (
  SELECT source, x, c,
         CAST(coalesce(sum(c) OVER (PARTITION BY source ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS clt,
         CAST(coalesce(sum(c * x) OVER (PARTITION BY source ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS slt
  FROM b
), g AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * x) AS BIGINT) AS s,
         CAST(sum(2 * c * (x * clt - slt)) AS BIGINT) AS num
  FROM p GROUP BY source
)
SELECT source,
       n AS docs,
       s AS total_chars,
       CAST((num // (2 * n * s)) * 1000
            + ((num % (2 * n * s)) * 1000) // (2 * n * s) AS BIGINT)
         AS gini_milli
FROM g
"""


# Pow-2 batch-length buckets for the padding census.  The fixture bound
# (n_chars <= 4096, GINI_NCHARS_MAX) guarantees n_words <= 4096; longer
# docs hit the raise_error guard (the _hourly_counts convention) rather
# than silently landing in a wrong bucket.  Overflow budget: the ppt
# numerator is bucket_len * n_docs * 1000 <= 2^12 * n_docs * 2^10, safe
# for n_docs < 2^41 per (source, bucket) — beyond any real corpus shard.
PAD_BUCKETS = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096)


def _pad_bucket_expr(words):
    e = F.when(words <= PAD_BUCKETS[0], F.lit(PAD_BUCKETS[0]).cast("long"))
    for b in PAD_BUCKETS[1:]:
        e = e.when(words <= b, F.lit(b).cast("long"))
    return e.otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "q_padding_waste: doc longer than the "
                    f"{PAD_BUCKETS[-1]}-word bucket bound: "
                ),
                words.cast("string"),
            )
        ).cast("long")
    )


def q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch padding-waste census (pipeline op: length-bucketed
    batching efficiency): assign every doc to the smallest power-of-two
    length bucket, then per (source, bucket) report how many pad tokens
    a bucketed batcher burns (bucket_len * n_docs - sum_words) and the
    waste rate in ppt.  The table that tells you whether your bucketing
    grid is tight enough BEFORE you pay for a training run.

    Shape: the word count and bucket assignment are flat per-row
    projections (one regexp pass, a 9-arm when-chain — no HOF, no
    hashing); the only exchange is the map-side-combinable
    groupBy(source, bucket) shipping <= sources * 9 aggregated rows per
    partition regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.length(
        F.replace(
            F.regexp_replace(F.trim(F.col("text")), "[^ ]+", "x"),
            F.lit(" "),
            F.lit(""),
        )
    ).cast("long")
    per_doc = docs.select("source", words.alias("n_words")).select(
        "source",
        "n_words",
        _pad_bucket_expr(F.col("n_words")).alias("bucket_len"),
    )
    return (
        per_doc.groupBy("source", "bucket_len")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("sum_words"),
        )
        .select(
            "source",
            "bucket_len",
            "n_docs",
            "sum_words",
            (F.col("bucket_len") * F.col("n_docs"))
            .cast("long")
            .alias("padded_tokens"),
            F.expr(
                "((bucket_len * n_docs - sum_words) * 1000)"
                " DIV (bucket_len * n_docs)"
            )
            .cast("long")
            .alias("waste_ppt"),
        )
    )


_PAD_CASE = " ".join(
    f"WHEN n_words <= {b} THEN {b}" for b in PAD_BUCKETS
)
_PADDING_WASTE = f"""
WITH t AS (
  SELECT source,
         CAST(length(replace(regexp_replace(trim(text), '[^ ]+', 'x', 'g'),
                             ' ', '')) AS BIGINT) AS n_words
  FROM documents
), b AS (
  SELECT source, n_words,
         CAST(CASE {_PAD_CASE} ELSE 1 // 0 END AS BIGINT) AS bucket_len
  FROM t
), g AS (
  SELECT source, bucket_len,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS sum_words
  FROM b GROUP BY 1, 2
)
SELECT source, bucket_len, n_docs, sum_words,
       CAST(bucket_len * n_docs AS BIGINT) AS padded_tokens,
       CAST(((bucket_len * n_docs - sum_words) * 1000)
            // (bucket_len * n_docs) AS BIGINT) AS waste_ppt
FROM g
"""


# Rendezvous (highest-random-weight) shard count.  enc = h56 * 8 + s
# < 2^59, inside int64 under ANSI mode.  S is a fixed literal so the
# per-doc argmax is S flat md5 columns under one greatest() — never an
# md5 inside a HOF lambda (the MessageDigest-contention trap) and never
# a corpus x S explode.
HRW_SHARDS = 8


def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash (HRW) shard placement census: every doc goes to
    the shard whose md5(doc_id:shard) weight is highest, and the output
    is per-shard volume plus its corpus share in ppt — the placement
    audit you run before trusting a router.  Unlike mod-N splits
    (q_hash_split), HRW is minimally disruptive: adding a shard only
    moves the ~1/(S+1) of keys whose NEW weight wins, so the census
    doubles as a resharding cost estimate.

    Shape: S=8 hash weights are flat projections argmax-encoded via
    greatest(h*8+s) (the 2^24-style encode, bounded at 2^59); the only
    exchanges are the 8-row groupBy and a broadcast 1-row total for the
    share — no explode, no window, no driver loop."""
    docs = load_table(spark, sf_dir, "documents")
    encs = [
        _word_hash_expr(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":{s}"))
        )
        * HRW_SHARDS
        + s
        for s in range(HRW_SHARDS)
    ]
    per_doc = docs.select(
        (F.greatest(*encs) % HRW_SHARDS).cast("long").alias("shard_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    counts = per_doc.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    total = docs.agg(F.count("*").cast("long").alias("total_docs"))
    return counts.crossJoin(F.broadcast(total)).select(
        "shard_id",
        "n_docs",
        "sum_chars",
        F.expr("(n_docs * 1000) DIV total_docs")
        .cast("long")
        .alias("share_ppt"),
    )


_HRW_WEIGHTS = ",\n      ".join(
    f"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{s}'), 1, 14))"
    f" AS BIGINT) * {HRW_SHARDS} + {s}"
    for s in range(HRW_SHARDS)
)
_SHARD_ASSIGN = f"""
WITH d AS (
  SELECT greatest(
      {_HRW_WEIGHTS}
    ) % {HRW_SHARDS} AS shard_id,
    CAST(n_chars AS BIGINT) AS n_chars
  FROM documents
), g AS (
  SELECT CAST(shard_id AS BIGINT) AS shard_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM d GROUP BY 1
)
SELECT shard_id, n_docs, sum_chars,
       CAST((n_docs * 1000) // (SELECT count(*) FROM documents)
            AS BIGINT) AS share_ppt
FROM g
"""


PARETO_SALT = 64  # local-front fan: bounds the per-task skyline sort


def _skyline_pass(df: DataFrame, part_cols: list) -> DataFrame:
    """One skyline pass: drop rows strictly dominated WITHIN the
    partition columns.  Domination reduces to a running RANGE-frame
    max — sorted by n_chars DESC, a doc is dominated iff
    max(n_distinct) over rows with strictly greater n_chars exceeds
    its own (ties on n_chars share a RANGE value group, so
    equal-length docs never dominate each other; strict-both
    semantics).  The frame is UNBOUNDED PRECEDING -> 1 PRECEDING —
    the growing-frame shape Spark evaluates incrementally, never the
    O(n^2) CURRENT->UNBOUNDED FOLLOWING trap."""
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(F.col("n_chars").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("mx", F.max("n_distinct").over(w))
        .where(F.col("mx").isNull() | (F.col("n_distinct") >= F.col("mx")))
        .drop("mx")
    )


def q_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Pareto front (skyline) over (n_chars, distinct-word
    count): a doc survives iff no other doc in its source is STRICTLY
    longer AND strictly more lexically diverse — the corpus-curation
    shortlist of docs that are not plainly outclassed on both axes.

    Shape: TWO-LEVEL distributed skyline (the divide-and-conquer merge
    law: skyline(S) = skyline(skyline(S1) U ... U skyline(Sk)), exact
    because a local dominator is also a global one).  Pass 1 computes
    local fronts per (source, doc_id%64 salt) — so a 100 TB corpus
    with ONE hot source sorts 64 bounded partitions, never one task —
    and pass 2 re-runs the same window over the local SURVIVORS only
    (typically a vanishing fraction; worst case — a fully
    anti-correlated front where nothing dominates anything — degrades
    to the input size, inherent to exact skylines).  Both windows are
    the incremental growing-frame shape (_skyline_pass)."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.array_distinct(F.split(F.trim(F.col("text")), " +")))
        .cast("long")
        .alias("n_distinct"),
        (F.col("doc_id") % PARETO_SALT).cast("long").alias("salt"),
    )
    local = _skyline_pass(per, ["source", "salt"])
    return _skyline_pass(local, ["source"]).select(
        "source", "doc_id", "n_chars", "n_distinct"
    )


_PARETO_FRONT = """
WITH per AS (
  SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
         CAST(n_chars AS BIGINT) AS n_chars,
         CAST(len(list_distinct(string_split_regex(trim(text), ' +')))
              AS BIGINT) AS n_distinct
  FROM documents
), m AS (
  SELECT *, max(n_distinct) OVER (
      PARTITION BY source ORDER BY n_chars DESC
      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
  FROM per
)
SELECT source, doc_id, n_chars, n_distinct
FROM m WHERE mx IS NULL OR n_distinct >= mx
"""


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_SCALE = 1_000_000  # integer score scale: SCALE DIV (K + rank)
RRF_TOPK = 32


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two corpus-wide rankings (by length
    and by lexical diversity) into one exact integer top-32 — the
    standard way to merge heterogeneous retrieval signals without
    score calibration (Cormack et al. RRF, k=60).

    Shape: both total orders come from ranking.global_rank (range
    partition + broadcast per-partition offsets — bounded sorts, zero
    one-task Window.orderBy), the fused score is pure integer DIV
    arithmetic (SCALE DIV (K + r), exact in both engines), and the
    top-32 is a TakeOrderedAndProject with doc_id tie-breaks."""
    from ..ranking import global_rank

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.array_distinct(F.split(F.trim(F.col("text")), " +")))
        .cast("long")
        .alias("n_distinct"),
    )
    r1 = global_rank(
        per, [F.col("n_chars").desc(), F.col("doc_id").asc()], "rank_len"
    )
    r2 = global_rank(
        r1, [F.col("n_distinct").desc(), F.col("doc_id").asc()], "rank_div"
    )
    fused = r2.select(
        "doc_id",
        F.col("rank_len").cast("long").alias("rank_len"),
        F.col("rank_div").cast("long").alias("rank_div"),
        (
            F.expr(f"{RRF_SCALE} DIV ({RRF_K} + rank_len)")
            + F.expr(f"{RRF_SCALE} DIV ({RRF_K} + rank_div)")
        )
        .cast("long")
        .alias("rrf_micro"),
    )
    return fused.orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    ).limit(RRF_TOPK)


_RRF_FUSION = f"""
WITH per AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(n_chars AS BIGINT) AS n_chars,
         CAST(len(list_distinct(string_split_regex(trim(text), ' +')))
              AS BIGINT) AS n_distinct
  FROM documents
), r AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
              AS BIGINT) AS rank_len,
         CAST(row_number() OVER (ORDER BY n_distinct DESC, doc_id)
              AS BIGINT) AS rank_div
  FROM per
)
SELECT doc_id, rank_len, rank_div,
       CAST({RRF_SCALE} // ({RRF_K} + rank_len)
            + {RRF_SCALE} // ({RRF_K} + rank_div) AS BIGINT) AS rrf_micro
FROM r ORDER BY rrf_micro DESC, doc_id LIMIT {RRF_TOPK}
"""


_MIXTURE_EPOCH = 1_000_000  # docs drawn per training epoch


def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampling mixture weights per source (alpha = 0.5)
    plus EXACT largest-remainder epoch quotas — the multinomial
    source-mixing step of XLM-R / mT5-style pretraining (sample source
    s with p_s proportional to n_s^alpha, then apportion an epoch of
    _MIXTURE_EPOCH docs so the integer quotas sum exactly).

    alpha = 0.5 keeps everything integer-exact: w_s = floor(sqrt(n_s))
    is identical on both engines (IEEE-correctly-rounded double sqrt;
    exact for n < 2^52 because sqrt(k^2 - 1) sits > 1/(2k) below k —
    far outside one ulp until k ~ 2^26).  Largest-remainder: base_s =
    (w_s * E) DIV W, leftovers go to the largest (w_s * E) % W with
    source-name tie-break, so sum(quota) == E exactly.

    Shape: ONE map-side-combinable groupBy collapses the corpus to
    |sources| rows; the two totals ride back as broadcast 1-row
    aggregates (the q_pmi_bigrams idiom) and the one row_number runs
    over the aggregated per-source table — bounded by the source
    vocabulary (a mixing table is per-source by construction), never
    by the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    ).select(
        "source",
        "docs",
        "chars",
        F.floor(F.sqrt(F.col("docs"))).cast("long").alias("w"),
    )
    tot = g.agg(F.sum("w").cast("long").alias("wsum"))
    e = F.lit(_MIXTURE_EPOCH).cast("long")
    s2 = g.crossJoin(F.broadcast(tot)).select(
        "source",
        "docs",
        "chars",
        "w",
        "wsum",
        F.expr(f"(w * {_MIXTURE_EPOCH}) DIV wsum").alias("base"),
        F.expr(f"(w * {_MIXTURE_EPOCH}) % wsum").alias("rem"),
    )
    btot = s2.agg(F.sum("base").cast("long").alias("bsum"))
    rk = Window.orderBy(F.col("rem").desc(), F.col("source").asc())
    return (
        s2.crossJoin(F.broadcast(btot))
        .withColumn("rk", F.row_number().over(rk).cast("long"))
        .select(
            "source",
            "docs",
            "chars",
            F.col("w").alias("weight"),
            F.expr("(w * 1000) DIV wsum").cast("long").alias("permille"),
            (
                F.col("base")
                + F.when(F.col("rk") <= e - F.col("bsum"), F.lit(1))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("epoch_quota"),
        )
    )


_SOURCE_MIXTURE = f"""
WITH g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS docs,
         CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY 1
), s AS (
  SELECT *, CAST(floor(sqrt(docs)) AS BIGINT) AS w FROM g
), t AS (
  SELECT CAST(sum(w) AS BIGINT) AS wsum FROM s
), b AS (
  SELECT s.*, wsum,
         (w * {_MIXTURE_EPOCH}) // wsum AS base,
         (w * {_MIXTURE_EPOCH}) % wsum AS rem
  FROM s, t
), bt AS (
  SELECT CAST(sum(base) AS BIGINT) AS bsum FROM b
), r AS (
  SELECT b.*, bsum,
         row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
  FROM b, bt
)
SELECT source, docs, chars, w AS weight,
       CAST((w * 1000) // wsum AS BIGINT) AS permille,
       CAST(base + CASE WHEN rk <= {_MIXTURE_EPOCH} - bsum
                        THEN 1 ELSE 0 END AS BIGINT) AS epoch_quota
FROM r
"""


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf diagnostic: least-squares slope of the log-log
    frequency-of-frequencies curve (how many distinct words occur c
    times, bucketed by powers of two).  Natural language sits near the
    Zipf line; templated/duplicated synthetics bend it — the corpus
    health check a data pipeline runs next to q_gini_doclen.

    EXACT integers end to end: word counts bucket by bitlen(c) - 1 and
    bucket populations by bitlen(N_b) - 1, where bitlen(n) =
    length(bin(n)) is identical on both engines (the q_pmi_bigrams
    idiom — no float log anywhere); the slope over the <= 63 bucket
    points per source renders milli-scaled via the q_trend_slope
    split-division floor (q * 1000 + (r * 1000) DIV den, pmod form).

    Shape: one map-side-combinable groupBy on (source, 8-byte word
    fingerprint) — the corpus-dominant exchange carries no raw text —
    then two more groupBys over vocabulary-sized and bucket-sized
    tables.  The slope arithmetic runs on <= 63 rows per source."""
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "source",
        F.explode(
            F.split(F.trim(F.col("text")), " +")
        ).alias("word"),
    ).select("source", _word_hash_expr(F.col("word")).alias("h"))
    wc = occ.groupBy("source", "h").agg(
        F.count("*").cast("long").alias("c")
    )
    fb = wc.select(
        "source",
        (F.length(F.bin(F.col("c"))) - 1).cast("long").alias("b"),
    ).groupBy("source", "b").agg(F.count("*").cast("long").alias("nw"))
    pts = fb.select(
        "source",
        "b",
        (F.length(F.bin(F.col("nw"))) - 1).cast("long").alias("y"),
    )
    g = pts.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("b").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("b") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("b") * F.col("b")).cast("long").alias("sxx"),
    )
    staged = g.select(
        "source",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    ).where(F.col("den") > 0)
    return staged.select(
        "source",
        F.col("n").alias("n_buckets"),
        F.expr("(num - pmod(num, den)) DIV den").alias("q"),
        F.pmod(F.col("num"), F.col("den")).alias("r"),
        "den",
    ).select(
        "source",
        "n_buckets",
        (F.col("q") * 1000 + F.expr("(r * 1000) DIV den"))
        .cast("long")
        .alias("slope_milli"),
    )


_ZIPF_SLOPE = """
WITH w AS (
  SELECT source, string_split_regex(trim(text), ' +') AS ws FROM documents
), idx AS (
  SELECT unnest(generate_series(1,
    (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i
), occ AS (
  SELECT source,
         CAST(('0x' || substr(md5(ws[i]), 1, 14)) AS BIGINT) AS h
  FROM w CROSS JOIN idx WHERE i <= len(ws)
), wc AS (
  SELECT source, h, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY 1, 2
), fb AS (
  SELECT source, CAST(length(bin(c)) - 1 AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS nw
  FROM wc GROUP BY 1, 2
), pts AS (
  SELECT source, b, CAST(length(bin(nw)) - 1 AS BIGINT) AS y FROM fb
), g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(b) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(b * y) AS BIGINT) AS sxy,
         CAST(sum(b * b) AS BIGINT) AS sxx
  FROM pts GROUP BY 1
), s AS (
  SELECT source, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den
  FROM g WHERE n * sxx - sx * sx > 0
), d AS (
  SELECT source, n, den,
         (num - ((num % den + den) % den)) // den AS q,
         ((num % den + den) % den) AS r
  FROM s
)
SELECT source, n AS n_buckets,
       CAST(q * 1000 + (r * 1000) // den AS BIGINT) AS slope_milli
FROM d
"""


CHAR_COVER_PERMILLE = 999  # SentencePiece's default character_coverage


def q_char_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-coverage census per language — the statistic behind
    SentencePiece's character_coverage knob (0.999 default): alphabet
    size, total chars, and the MINIMAL number of distinct characters
    covering 99.9% of the language's text (rare chars past that line
    become <unk> bytes).

    Shape: one linear Generate (index-explode + substring — the r05j
    idiom, chars never materialize as a per-doc array), one map-side-
    combinable groupBy to |langs| x |alphabet| rows, and a coverage
    window bounded by the ALPHABET (count desc, char asc ties), never
    the corpus; totals ride a broadcast join (q_nucleus_keys pattern).
    """
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "lang",
        "text",
        F.explode(
            F.when(
                F.length("text") >= 1,
                F.sequence(F.lit(1), F.length("text")),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    ).select("lang", F.substring(F.col("text"), F.col("i"), 1).alias("ch"))
    cc = occ.groupBy("lang", "ch").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = cc.groupBy("lang").agg(
        F.sum("c").cast("long").alias("total_chars"),
        F.count("*").cast("long").alias("alphabet"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("c").desc(), F.col("ch").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = cc.select(
        "lang",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0).cast("long"))
        .cast("long")
        .alias("cum_prev"),
    )
    j = pre.join(F.broadcast(tot), "lang").select(
        "lang",
        "cum_prev",
        "total_chars",
        "alphabet",
        F.expr(
            f"(total_chars * {CHAR_COVER_PERMILLE} + 999) DIV 1000"
        ).alias("target"),
    )
    return j.groupBy("lang").agg(
        F.max("total_chars").cast("long").alias("total_chars"),
        F.max("alphabet").cast("long").alias("alphabet"),
        F.sum(F.when(F.col("cum_prev") < F.col("target"), 1).otherwise(0))
        .cast("long")
        .alias("chars_999"),
    )


_CHAR_COVERAGE = f"""
WITH d AS (
  SELECT lang, text FROM documents
), idx AS (
  SELECT unnest(generate_series(1,
    (SELECT coalesce(max(length(text)), 0) FROM d))) AS i
), occ AS (
  SELECT lang, substring(text, i, 1) AS ch
  FROM d CROSS JOIN idx WHERE i <= length(text)
), cc AS (
  SELECT lang, ch, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY 1, 2
), t AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS total_chars,
         CAST(count(*) AS BIGINT) AS alphabet
  FROM cc GROUP BY 1
), pre AS (
  SELECT lang, c,
         CAST(coalesce(sum(c) OVER (PARTITION BY lang
              ORDER BY c DESC, ch ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_prev
  FROM cc
), j AS (
  SELECT pre.lang, cum_prev, total_chars, alphabet,
         (total_chars * {CHAR_COVER_PERMILLE} + 999) // 1000 AS target
  FROM pre JOIN t ON pre.lang = t.lang
)
SELECT lang,
       CAST(max(total_chars) AS BIGINT) AS total_chars,
       CAST(max(alphabet) AS BIGINT) AS alphabet,
       CAST(sum(CASE WHEN cum_prev < target THEN 1 ELSE 0 END)
            AS BIGINT) AS chars_999
FROM j GROUP BY lang
"""


def q_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-entropy proxy in EXACT integer bit units —
    the repetition/diversity quality signal (a gibberish keyword mash
    and a looped boilerplate page sit at opposite ends; cf. the token-
    diversity filters in Gopher/FineWeb rule sets).  With word counts
    c_w and total n, Shannon's n*H = n*log2(n) - sum_w c_w*log2(c_w)
    is scored in the bitlen form  ent_units = n*bitlen(n) -
    sum_w c_w*bitlen(c_w)  (bitlen = length(bin(x)), identical on both
    engines — never float log2, whose last ulp can differ).  0 means
    every word identical; the per-word density ent_mu_per_word =
    ent_units*1000 DIV n normalizes doc length away.

    Scale shape: the per-doc word counts NEVER shuffle — they are
    run-lengths of the in-row sorted array, folded by one aggregate()
    lambda carrying (run, acc, distinct) state left-to-right (O(n log n)
    sort + O(n) scan per row, no md5/MessageDigest inside the lambda —
    the r05h rule; bin() is plain integer formatting).  Zero exchanges:
    the operator is embarrassingly parallel over docs, the ideal 100 TB
    shape.  The nested-IF predicate short-circuits so element_at(sw,
    i-1) is never evaluated at i=1 (ANSI would throw on index 0)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.sort_array(F.split(F.trim(F.col("text")), " +")).alias("sw"),
    ).select("doc_id", "sw", F.size("sw").cast("long").alias("n"))
    st = F.expr(
        """
        aggregate(
          sequence(1, CAST(n AS INT)),
          named_struct('run', CAST(0 AS BIGINT), 'acc', CAST(0 AS BIGINT),
                       'nd', CAST(0 AS BIGINT)),
          (s, i) -> IF(IF(i = 1, true,
                          element_at(sw, i) != element_at(sw, i - 1)),
                       named_struct(
                         'run', CAST(1 AS BIGINT),
                         'acc', s.acc + IF(s.run > 0,
                                           s.run * length(bin(s.run)),
                                           CAST(0 AS BIGINT)),
                         'nd', s.nd + CAST(1 AS BIGINT)),
                       named_struct('run', s.run + CAST(1 AS BIGINT),
                                    'acc', s.acc, 'nd', s.nd)),
          s -> named_struct(
                 'run', CAST(0 AS BIGINT),
                 'acc', s.acc + IF(s.run > 0,
                                   s.run * length(bin(s.run)),
                                   CAST(0 AS BIGINT)),
                 'nd', s.nd))
        """
    )
    scored = base.select("doc_id", "n", st.alias("st")).select(
        "doc_id",
        F.col("n").alias("n_words"),
        F.col("st.nd").cast("long").alias("n_distinct"),
        (
            F.col("n") * F.length(F.bin(F.col("n"))).cast("long")
            - F.col("st.acc")
        )
        .cast("long")
        .alias("ent_units"),
    )
    return scored.select(
        "doc_id",
        "n_words",
        "n_distinct",
        "ent_units",
        F.expr("ent_units * 1000 DIV n_words")
        .cast("long")
        .alias("ent_mu_per_word"),
    )


_UNIGRAM_ENTROPY = """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(string_split_regex(trim(text), ' +')) AS word
  FROM documents
), c AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
  FROM w GROUP BY 1, 2
), d AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS nd,
         CAST(sum(c * length(bin(c))) AS BIGINT) AS sc
  FROM c GROUP BY 1
)
SELECT doc_id,
       n AS n_words,
       nd AS n_distinct,
       CAST(n * length(bin(n)) - sc AS BIGINT) AS ent_units,
       CAST((n * length(bin(n)) - sc) * 1000 // n AS BIGINT)
         AS ent_mu_per_word
FROM d
"""


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: the deterministic global training
    order a dataloader reads — ascending difficulty bucket (bitlen of
    the word count: the short-to-long curriculum heuristic), shuffled
    WITHIN each bucket by a content-derived md5 coin so the epoch
    order is reproducible across engines, partitionings, and retries
    (the q_hash_split idiom; re-seeding = changing the salt literal).

    Scale shape: the total order materializes through
    ranking.global_rank — range partition on the order key, per-
    partition counts cumulated on the driver, offsets broadcast back,
    rank = offset + bounded in-partition row_number.  NO one-task
    Window.orderBy anywhere, so a 10^12-sequence corpus gets its epoch
    order in bounded sorts (the doc_id tiebreak makes the order total,
    which global_rank requires for determinism)."""
    from ..ranking import global_rank

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length(
            F.bin(
                F.size(F.split(F.trim(F.col("text")), " +")).cast("long")
            )
        )
        .cast("long")
        .alias("bucket"),
        _word_hash_expr(
            F.concat(F.lit("cur:"), F.col("doc_id").cast("string"))
        ).alias("shuf"),
    )
    ranked = global_rank(
        d,
        [F.col("bucket").asc(), F.col("shuf").asc(), F.col("doc_id").asc()],
        rank_col="rank",
    )
    return ranked.select(
        F.col("rank").cast("long").alias("rank"), "doc_id", "bucket"
    )


_CURRICULUM_ORDER = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(length(bin(len(string_split_regex(trim(text), ' +'))))
              AS BIGINT) AS bucket,
         CAST(('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)),
                              1, 14)) AS BIGINT) AS shuf
  FROM documents
)
SELECT CAST(row_number() OVER (ORDER BY bucket, shuf, doc_id) AS BIGINT)
         AS rank,
       doc_id, bucket
FROM d
"""
