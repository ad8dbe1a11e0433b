"""Text operators on `documents`.

Tokenization and vocabulary, language ID, quality scoring and
filtering, TF-IDF and BM25, inverted index, n-gram language-model
statistics, heavy hitters (Misra-Gries, count-min), blocklists and
loop detection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table
from .sequences import (
    SOURCE_OVERLAP_MAX,
    _BPE_PATTERN,
    _doc_shingles,
    _word_hash_expr,
)


CMS_D = 4     # count-min depth (hash rows)
CMS_W = 1024  # count-min width (buckets per row)
CMS_K = 20    # probe set: exact top-K tokens


def _cms_bucket(col, row: int):
    """Row-``row`` CMS bucket of a token: md5 of 'row:token', first 14
    hex digits mod the width — the same salted-md5 family every other
    cross-engine hash in this module uses (DuckDB replays it as
    CAST('0x'||substr(md5(...),1,14) AS BIGINT))."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{row}:"), col)), 1, 14),
            16, 10,
        ).cast("long")
        % CMS_W
    )


def q_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan '05) heavy-hitter
    estimates: build a 4x1024 CMS over the corpus token multiset, then
    report, for the exact top-20 tokens, the exact count next to the
    sketch estimate (always >= exact — the one-sided CMS error).

    Why this shape scales: the sketch build is ONE scan — each token
    fans out to its 4 (row, bucket) cells IN-ROW (posexplode of a
    4-element array, no join) and collapses through a map-side-
    combinable groupBy onto a table bounded by D*W = 4096 cells
    REGARDLESS of corpus size; the probe side broadcasts those 4096
    cells and takes min over rows.  The sketch is sum-mergeable
    across partitions/streams by construction (cell-wise add), which
    is the whole point of CMS at 100 TB.  Every hash is the salted
    md5 both engines share, so DuckDB rebuilds the identical sketch
    cell-for-cell."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), " +")).alias("w")
    )
    cells = (
        words.select(
            F.posexplode(
                F.array(*[_cms_bucket(F.col("w"), r) for r in range(CMS_D)])
            ).alias("r", "b")
        )
        .groupBy("r", "b")
        .agg(F.count("*").cast("long").alias("c"))
    )
    topk = (
        words.groupBy("w")
        .agg(F.count("*").cast("long").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("w").asc())
        .limit(CMS_K)
    )
    probe = topk.select(
        "w",
        "exact_n",
        F.posexplode(
            F.array(*[_cms_bucket(F.col("w"), r) for r in range(CMS_D)])
        ).alias("r", "b"),
    )
    return (
        probe.join(F.broadcast(cells), ["r", "b"])
        .groupBy("w", "exact_n")
        .agg(F.min("c").cast("long").alias("cms_est"))
        .select(F.col("w").alias("token"), "exact_n", "cms_est")
    )


def _cms_sql() -> str:
    rows = ", ".join(f"({r})" for r in range(CMS_D))
    bucket = ("CAST(('0x' || substr(md5(t.r || ':' || {col}), 1, 14)) "
              f"AS BIGINT) % {CMS_W}")
    return f"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(text), ' +')) AS w
  FROM documents
), rows_t AS (SELECT * FROM (VALUES {rows}) AS t(r)),
cells AS (
  SELECT t.r, {bucket.format(col='words.w')} AS b, count(*) AS c
  FROM words, rows_t t GROUP BY 1, 2
),
topk AS (
  SELECT w, CAST(count(*) AS BIGINT) AS exact_n
  FROM words GROUP BY w
  ORDER BY exact_n DESC, w ASC LIMIT {CMS_K}
),
probe AS (
  SELECT tk.w, tk.exact_n, t.r, {bucket.format(col='tk.w')} AS b
  FROM topk tk, rows_t t
)
SELECT p.w AS token, p.exact_n, CAST(min(c.c) AS BIGINT) AS cms_est
FROM probe p JOIN cells c ON p.r = c.r AND p.b = c.b
GROUP BY 1, 2
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.length(
        F.replace(
            F.regexp_replace(F.trim(F.col("text")), "[^ ]+", "x"), F.lit(" "), F.lit("")
        )
    )
    return (
        docs.select(F.col("source"), words.alias("w"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("total_tokens"),
            F.min("w").cast("long").alias("min_tokens"),
            F.max("w").cast("long").alias("max_tokens"),
        )
    )


_TOKEN_COUNT = """
WITH t AS (
  SELECT source,
         length(replace(regexp_replace(trim(text), '[^ ]+', 'x', 'g'), ' ', '')) AS w
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w) AS BIGINT) AS total_tokens,
       CAST(min(w) AS BIGINT) AS min_tokens,
       CAST(max(w) AS BIGINT) AS max_tokens
FROM t GROUP BY source
"""


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish regex mode: pieces are letter runs,
    digit runs, and single punctuation marks — the pre-tokenization a
    byte-pair tokenizer applies before merges.  Complements the
    whitespace mode in q_token_count."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.regexp_count(F.col("text"), F.lit(_BPE_PATTERN))
        .cast("long")
        .alias("n_pieces"),
        F.regexp_count(F.col("text"), F.lit("[0-9]+"))
        .cast("long")
        .alias("n_digit_runs"),
    )


_TOKEN_COUNT_BPE = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)
         AS n_pieces,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
         AS n_digit_runs
FROM documents
"""


def _occurrences(col, word):
    # number of occurrences of `word` as a substring, via length arithmetic
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(word), F.lit(""))))
        / len(word)
    ).cast("long")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / token / stopword-ratio quality features (pipeline op:
    quality scoring)."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.trim(F.col("text")), F.lit(" "))
    words = F.length(
        F.replace(
            F.regexp_replace(F.trim(F.col("text")), "[^ ]+", "x"), F.lit(" "), F.lit("")
        )
    ).cast("long")
    stop = sum(
        _occurrences(padded, f" {w} ") for w in ("the", "a", "and", "of")
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        words.alias("n_words"),
        stop.alias("n_stopwords"),
        (stop * 1000 / F.greatest(words, F.lit(1))).cast("long").alias(
            "stop_ratio_ppt"
        ),
        (F.col("n_chars") >= 100).cast("boolean").alias("len_ok"),
    )


_QUALITY = """
WITH t AS (
  SELECT doc_id, n_chars,
         ' ' || trim(text) || ' ' AS padded,
         CAST(length(replace(regexp_replace(trim(text), '[^ ]+', 'x', 'g'), ' ', ''))
              AS BIGINT) AS n_words
  FROM documents
), s AS (
  SELECT doc_id, n_chars, n_words,
     CAST((length(padded) - length(replace(padded, ' the ', ''))) // 5
        + (length(padded) - length(replace(padded, ' a ', ''))) // 3
        + (length(padded) - length(replace(padded, ' and ', ''))) // 5
        + (length(padded) - length(replace(padded, ' of ', ''))) // 4
        AS BIGINT) AS n_stopwords
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       n_words,
       n_stopwords,
       CAST(n_stopwords * 1000 // greatest(n_words, 1) AS BIGINT) AS stop_ratio_ppt,
       n_chars >= 100 AS len_ok
FROM s
"""


_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "los", "que"),
    "fr": ("le", "les", "des"),
    "de": ("der", "und", "die"),
}


def _lang_scored(docs: DataFrame, extras: list) -> DataFrame:
    """Marker-word language guess as a TWO-projection pipeline (shared
    by q_lang_id and q_token_fertility; the oracle mirrors the scoring
    via ``_lang_sql``'s CASE precedence): the four marker scores are
    computed ONCE as columns in a lower projection, and the 4-way
    precedence CASE sits on top referencing those columns.

    Building guess+best as one nested when-chain over inline score
    expressions duplicates each 3-replace score exponentially through
    the chain (the CLAUDE.md Catalyst-expression-size trap): 13 KB of
    optimized plan and 0.73 s warm at sf0.01 vs 2.9 KB / 0.13 s for
    this shape (5.6x, r05m).  CollapseProject declines to re-inline
    non-cheap aliases referenced more than once, so the split survives
    optimization.  ``extras`` = [(alias, Column), ...] carried through
    both projections alongside the guess."""
    padded = F.concat(F.lit(" "), F.lower(F.trim(F.col("text"))), F.lit(" "))
    scored = docs.select(
        *[c.alias(a) for a, c in extras],
        *[
            sum(_occurrences(padded, f" {w} ") for w in words).alias(
                f"s_{lang}"
            )
            for lang, words in _LANG_MARKERS.items()
        ],
    )
    guess = F.lit("und")
    best = F.lit(0).cast("long")
    for lang in ("en", "es", "fr", "de"):  # fixed precedence for ties
        s = F.col(f"s_{lang}")
        guess = F.when(s > best, F.lit(lang)).otherwise(guess)
        best = F.when(s > best, s).otherwise(best)
    return scored.select(
        *[a for a, _ in extras], guess.alias("guess_lang")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (pipeline op: language ID).
    The oracle encodes the identical scoring, so parity checks the
    whole pipeline, not agreement with the `lang` column."""
    docs = load_table(spark, sf_dir, "documents")
    return _lang_scored(
        docs, [("doc_id", F.col("doc_id").cast("long"))]
    ).select("doc_id", "guess_lang")


def _lang_sql() -> str:
    def occ(w):
        return (
            f"(length(padded) - length(replace(padded, ' {w} ', ''))) // {len(w) + 2}"
        )

    score = {
        lang: " + ".join(occ(w) for w in words)
        for lang, words in _LANG_MARKERS.items()
    }
    return f"""
WITH t AS (
  SELECT doc_id, ' ' || lower(trim(text)) || ' ' AS padded FROM documents
), s AS (
  SELECT doc_id, {score['en']} AS s_en, {score['es']} AS s_es,
         {score['fr']} AS s_fr, {score['de']} AS s_de
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CASE
    WHEN s_de > s_fr AND s_de > s_es AND s_de > s_en AND s_de > 0 THEN 'de'
    WHEN s_fr > s_es AND s_fr > s_en AND s_fr > 0 THEN 'fr'
    WHEN s_es > s_en AND s_es > 0 THEN 'es'
    WHEN s_en > 0 THEN 'en'
    ELSE 'und' END AS guess_lang
FROM s
"""


def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-induction merge step (r05q): the top-20 adjacent
    character pairs by corpus-weighted frequency — exactly the
    statistic one Sennrich BPE iteration maximizes to pick its next
    merge.  Emits (pair, wcount); ties broken by pair text, so the
    LIMIT is a total order and deterministic on both engines.

    Scale shape: the corpus-sized exchange is the word-frequency
    groupBy (short word keys, map-side combinable); the pair explode
    then runs over the DISTINCT VOCAB ONLY — bounded by vocabulary
    size however large the corpus — weighted by the word counts, and
    the top-20 is a TakeOrderedAndProject (distributed partial top-k,
    never a global sort).  The index explode guards length >= 2
    BEFORE F.sequence (the auto-step -1 trap, CLAUDE.md)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), " +")).alias("w")
    )
    wf = words.groupBy("w").agg(F.count("*").alias("f"))
    pairs = (
        wf.where(F.length("w") >= 2)
        .select(
            "w",
            "f",
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        )
        .select(
            F.col("w").substr(F.col("i"), F.lit(2)).alias("pair"), "f"
        )
    )
    agg = pairs.groupBy("pair").agg(F.sum("f").cast("long").alias("wcount"))
    return (
        agg.orderBy(F.col("wcount").desc(), F.col("pair"))
        .limit(20)
        .select("pair", "wcount")
    )


_BPE_MERGE_STEP = """
WITH words AS (
  SELECT unnest(string_split_regex(trim(text), ' +')) AS w FROM documents
), wf AS (
  SELECT w, count(*) AS f FROM words GROUP BY w
), p AS (
  SELECT substr(w, i, 2) AS pair, sum(f) AS cnt
  FROM wf CROSS JOIN (SELECT unnest(generate_series(1,
       (SELECT coalesce(max(len(w)), 1) - 1 FROM wf))) AS i) g
  WHERE len(w) >= 2 AND i <= len(w) - 1
  GROUP BY 1
)
SELECT pair, CAST(cnt AS BIGINT) AS wcount
FROM p ORDER BY cnt DESC, pair LIMIT 20
"""


def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signal: the permille of word
    2-grams that are repeats of an earlier 2-gram in the same doc.
    Pure Catalyst, zero shuffles (per-row arithmetic on the shingle
    array); high scores flag boilerplate/spam for the quality gate."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.trim(F.col("text")), " +").alias("ws"),
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("ws") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at("ws", i + 1), F.element_at("ws", i + 2)
        ),
    )
    # filter BEFORE building grams: sequence(0, size-2) REVERSES when
    # size == 1 (Spark auto-steps -1) and element_at(ws, 0) throws
    with_g = w.where(F.size("ws") >= 2).select("doc_id", grams.alias("g"))
    rep = (
        (F.size("g") - F.size(F.array_distinct("g")))
        * 1000
        / F.size("g")
    )
    return with_g.select(
        "doc_id", F.floor(rep).cast("long").alias("rep_pm")
    )


_REPETITION = """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), g AS (
  SELECT doc_id,
         ws[i] || ' ' || ws[i+1] AS sh
  FROM w CROSS JOIN (SELECT unnest(generate_series(1, (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i) t
  WHERE i <= len(ws) - 1
), agg AS (
  SELECT doc_id, count(*) AS n, count(DISTINCT sh) AS nd FROM g
  GROUP BY doc_id
)
SELECT doc_id, CAST((n - nd) * 1000 // n AS BIGINT) AS rep_pm
FROM agg WHERE n > 0
"""


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-20 words by DOCUMENT frequency
    (array_distinct in-row, so a word counts once per doc), planned as
    TakeOrderedAndProject — per-partition partial top-k, no global
    sort.  The vocabulary-inspection primitive of a data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), " +"))
        ).alias("word")
    )
    counts = words.groupBy("word").agg(F.count("*").cast("long").alias("df"))
    return counts.orderBy(F.col("df").desc(), F.col("word").asc()).limit(20)


_TOP_TOKENS = """
WITH words AS (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(trim(text), ' +')) AS word
  FROM documents
)
SELECT word, CAST(count(*) AS BIGINT) AS df
FROM words GROUP BY word
ORDER BY df DESC, word ASC LIMIT 20
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled quality GATE (pipeline op): combines the length,
    stopword-ratio, and repetition signals into a keep/drop decision
    with the first-failing-rule reason — the actual filter step a
    pipeline applies, not just the features.  One scan, per-row
    arithmetic only, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.trim(F.col("text")), F.lit(" "))
    ws = F.split(F.trim(F.col("text")), " +")
    stop = sum(
        _occurrences(padded, f" {w} ") for w in ("the", "a", "and", "of")
    )
    # STAGED projections (r05m, the _lang_scored lesson): ws/grams are
    # each aliased ONCE and consumed by column reference — building the
    # whole gate in one projection re-inlined split(text) into every
    # use of the bigram array (~8 KB plan, 4.8 s warm at sf0.01 vs
    # 0.15 s staged).  The bigram array itself is arrays_zip over two
    # slice()s — vectorized codegen, NOT a transform() lambda, so no
    # interpreted-HOF per-element cost and nothing for
    # InferFiltersFromGenerate to clone (words never contain spaces —
    # split on ' +' — so struct distinct == the oracle's string
    # distinct count).
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        ws.alias("ws"),
        stop.alias("n_stop"),
    )
    wsc = F.col("ws")
    grams = base.select(
        "doc_id",
        "n_stop",
        F.size(wsc).cast("long").alias("n_words"),
        F.when(
            F.size(wsc) >= 2,
            F.arrays_zip(
                F.slice(wsc, 1, F.size(wsc) - 1),
                F.slice(wsc, 2, F.size(wsc) - 1),
            ),
        ).alias("grams"),
    )
    feats = grams.select(
        "doc_id",
        "n_words",
        F.coalesce(F.size("grams"), F.lit(0)).cast("long").alias("n_grams"),
        (
            F.coalesce(F.size("grams"), F.lit(0))
            - F.coalesce(F.size(F.array_distinct("grams")), F.lit(0))
        ).cast("long").alias("n_rep"),
        (F.col("n_stop") * 1000 / F.greatest(F.col("n_words"), F.lit(1)))
        .cast("long")
        .alias("stop_ppt"),
    )
    scored = feats.select(
        "doc_id",
        "n_words",
        "stop_ppt",
        F.floor(
            F.col("n_rep") * 1000 / F.greatest(F.col("n_grams"), F.lit(1))
        )
        .cast("long")
        .alias("rep_pm"),
    )
    reasoned = scored.select(
        "doc_id",
        "n_words",
        "stop_ppt",
        "rep_pm",
        F.when(F.col("n_words") < 30, F.lit("short"))
        .when(F.col("stop_ppt") < 20, F.lit("low_stopword"))
        .when(F.col("stop_ppt") > 400, F.lit("high_stopword"))
        .when(F.col("rep_pm") >= 150, F.lit("repetitive"))
        .otherwise(F.lit("ok"))
        .alias("reason"),
    )
    return reasoned.select(
        "doc_id",
        "n_words",
        "stop_ppt",
        "rep_pm",
        "reason",
        (F.col("reason") == "ok").cast("long").alias("keep"),
    )


_QUALITY_FILTER = """
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         ' ' || trim(text) || ' ' AS padded,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), f AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST((length(padded) - length(replace(padded, ' the ', ''))) // 5
            + (length(padded) - length(replace(padded, ' a ', ''))) // 3
            + (length(padded) - length(replace(padded, ' and ', ''))) // 5
            + (length(padded) - length(replace(padded, ' of ', ''))) // 4
            AS BIGINT) AS n_stop,
         CAST(len(ws) - 1 AS BIGINT) AS n_grams,
         (SELECT count(*) - count(DISTINCT ws[i] || ' ' || ws[i+1])
          FROM unnest(generate_series(1, len(ws) - 1)) AS u(i))
           AS n_rep
  FROM t
), s AS (
  SELECT doc_id, n_words,
         CAST(n_stop * 1000 // greatest(n_words, 1) AS BIGINT) AS stop_ppt,
         CAST(CASE WHEN n_words >= 2
              THEN n_rep * 1000 // greatest(n_grams, 1) ELSE 0 END
              AS BIGINT) AS rep_pm
  FROM f
)
SELECT doc_id, n_words, stop_ppt, rep_pm,
       CASE WHEN n_words < 30 THEN 'short'
            WHEN stop_ppt < 20 THEN 'low_stopword'
            WHEN stop_ppt > 400 THEN 'high_stopword'
            WHEN rep_pm >= 150 THEN 'repetitive'
            ELSE 'ok' END AS reason,
       CAST(CASE WHEN n_words >= 30 AND stop_ppt >= 20 AND stop_ppt <= 400
                 AND rep_pm < 150 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM s
"""


def q_tokenize_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived tokenizer application (pipeline op): build a
    frequency-ranked vocabulary (token_id = rank by term frequency,
    ties by word) and encode every document as (pos, token_id) — the
    bridge from raw text to the engine's pre-tokenized input schema
    (collect (doc_id → sort by pos) to materialize the arrays).

    Scale shape: the corpus side never leaves (doc, pos); the vocab is
    corpus-scale-independent and broadcasts into the encode join.  The
    vocab ranking uses ranking.global_rank (range partition + offset
    broadcast + bounded per-partition sort), so even a 10^8-word vocab
    never sorts in one task — no unpartitioned window anywhere in the
    plan (pinned by test_plans)."""
    from ..ranking import global_rank

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(F.split(F.trim(F.col("text")), " +")).alias(
            "pos", "word"
        ),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "word")
    vocab = toks.groupBy("word").agg(F.count("*").alias("n"))
    ranked = global_rank(
        vocab, [F.col("n").desc(), F.col("word").asc()],
        rank_col="token_id", num_partitions=8,
    ).select("word", "token_id")
    return toks.join(F.broadcast(ranked), "word").select(
        "doc_id", "pos", "token_id"
    )


_TOKENIZE_VOCAB = """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), tok AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
  FROM w, LATERAL unnest(generate_series(1, len(ws))) AS t(i)
), vocab AS (
  SELECT word,
         CAST(row_number() OVER (ORDER BY count(*) DESC, word ASC) AS BIGINT)
           AS token_id
  FROM tok GROUP BY word
)
SELECT tok.doc_id, tok.pos, vocab.token_id
FROM tok JOIN vocab USING (word)
"""


TFIDF_SCALE = 1000000  # integer TF-IDF scale (tf * N * SCALE // df)
TFIDF_TOPK = 3  # terms kept per document


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by integer-scaled
    TF-IDF (score = tf * n_docs * SCALE // df — exact integer
    arithmetic, so rankings match any engine bit-for-bit; ties broken
    by word).  The keyword/topic primitive of a data pipeline.

    Scale shape: tf is one explode + (doc, word) count; df reuses the
    in-row array_distinct trick (one count per word, no global distinct
    exchange); the df side joins on word — at web scale that's a
    shuffle join on a vocabulary table orders of magnitude smaller
    than the corpus, and the per-doc top-k window sorts only one
    document's vocabulary per task.  n_docs is folded INTO the plan as
    a broadcast 1-row aggregate cross join (r04, ADVICE): no separate
    driver-side .count() action per invocation."""
    docs = load_table(spark, sf_dir, "documents")
    # the 1-row count never benefits from the scan fan-out — read the
    # table plain so the count branch is scan -> agg, no exchange
    n_tab = load_table(spark, sf_dir, "documents", fanout_on=[]).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    words = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.trim(F.col("text")), " +").alias("ws"),
    )
    tf = (
        words.select("doc_id", F.explode("ws").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    # r06: df (docs containing the word) = row count per word OVER THE
    # TF TABLE itself — tf has exactly one row per (doc, word), so a
    # word-partitioned count window replaces the old second
    # scan->split->array_distinct->explode->groupBy pass AND the
    # word-keyed join that re-shuffled tf against it.  One full text
    # pass instead of two; the exchange on word that the join needed
    # anyway now carries the window.
    scored = (
        tf.withColumn(
            "df", F.count("*").over(Window.partitionBy("word")).cast("long")
        )
        .crossJoin(F.broadcast(n_tab))
        .withColumn(
            "score",
            F.expr(f"tf * n_docs * {TFIDF_SCALE}L DIV df").cast("long"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= TFIDF_TOPK)
        .select("doc_id", "rk", "word", "tf", "df", "score")
    )


_TFIDF_TERMS = f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(string_split_regex(trim(text), ' +')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM w GROUP BY doc_id, word
), df AS (
  SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM w GROUP BY word
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word, tf.tf, df.df,
         CAST(tf.tf * n.n_docs * {TFIDF_SCALE} // df.df AS BIGINT) AS score
  FROM tf JOIN df USING (word), n
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, word ASC) AS BIGINT) AS rk
  FROM scored
)
SELECT doc_id, rk, word, tf, df, score FROM ranked WHERE rk <= {TFIDF_TOPK}
"""


BM25_TERMS = ("dup", "scan", "merge", "spark")  # the fixed search query
BM25_TOPK = 20
# k1 = 6/5 and b = 3/4 as exact rationals: with L = total corpus words
# and N = n_docs, the per-term score is
#   idf * 1000 * tf*(k1+1) / (tf + k1*(1 - b + b*dl*N/L))
# = idf * 1000 * 22*L*tf DIV (10*L*tf + 3*L + 9*dl*N)
# after multiplying through by 10*L — exact int64 on both engines.
# idf = bitlen(N DIV df) (length(bin(x))): the exact integer log2
# bucket (never floor(log2()) — last-ulp differs across engines).
_BM25_L_MAX = 1 << 32  # 22000 * 2^32 * 2^10 * idf<=41 < 2^63
_BM25_TF_MAX = 1 << 10


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed multi-term query — the
    second ranker next to q_tfidf_terms (and a natural input to
    q_rrf_fusion): per matching document, the number of query terms
    hit and the integer-scaled BM25 score; top-BM25_TOPK documents.
    All arithmetic is exact int64 (k1/b as rationals folded into one
    integer quotient; idf as the bitlen log2 bucket), so the ranking
    matches any engine bit-for-bit.

    Scale shape: the per-(doc, term) tf groupBy filters to the query
    terms BEFORE the explode aggregate (the corpus-sized exchange
    carries only matching words); df aggregates the in-row-distinct
    words filtered the same way (|terms| rows out, broadcast); doc
    lengths join tf on the 8-byte doc_id (both sides corpus-sized for
    common terms — a narrow shuffle join, never a broadcast); N and L
    fold into the plan as a broadcast 1-row aggregate cross join
    (never a driver .count());
    the final top-k is a TakeOrderedAndProject — never a global sort.
    Overflow guards raise actionably at L >= 2^32 or tf >= 2^10
    (rescale SCALE/L before the product can exceed int64)."""
    terms = list(BM25_TERMS)
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.trim(F.col("text")), " +").alias("ws"),
    )
    corpus = words.select(
        "doc_id", F.size("ws").cast("long").alias("dl")
    )
    n_tab = corpus.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("l_tot"),
    )
    tf = (
        words.select("doc_id", F.explode("ws").alias("word"))
        .where(F.col("word").isin(terms))
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_tab = (
        words.select(F.explode(F.array_distinct("ws")).alias("word"))
        .where(F.col("word").isin(terms))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("df"))
    )
    guard_l = F.when(F.col("l_tot") < _BM25_L_MAX, F.col("l_tot")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q_bm25_topk: corpus words >= 2^32 overflow the "
                      "int64 score product; rescale: "),
                F.col("l_tot").cast("string"),
            )
        ).cast("long")
    )
    guard_tf = F.when(F.col("tf") < _BM25_TF_MAX, F.col("tf")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q_bm25_topk: term frequency >= 2^10 overflows the "
                      "int64 score product: "),
                F.col("tf").cast("string"),
            )
        ).cast("long")
    )
    # tf and corpus are both corpus-sized for common query terms —
    # a shuffle join on the 8-byte doc_id (narrow rows both sides),
    # never a broadcast; df and the 1-row (N, L) table DO broadcast.
    scored = (
        tf.join(F.broadcast(df_tab), "word")
        .join(corpus, "doc_id")
        .crossJoin(F.broadcast(n_tab))
        .withColumn("l_ok", guard_l)
        .withColumn("tf_ok", guard_tf)
        .withColumn("idf", F.length(F.bin(F.expr("n_docs DIV df"))).cast("long"))
        .withColumn(
            "term_score",
            F.expr(
                "idf * 22000 * l_ok * tf_ok"
                " DIV (10 * l_ok * tf_ok + 3 * l_ok + 9 * dl * n_docs)"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("term_score").cast("long").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(BM25_TOPK)
    )


def _bm25_topk_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), corpus AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM d
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS l_tot
  FROM corpus
), tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(ws) AS word FROM d)
  WHERE word IN ({terms}) GROUP BY 1, 2
), dfq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT doc_id, unnest(list_distinct(ws)) AS word FROM d)
  WHERE word IN ({terms}) GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         CAST(length(bin(n.n_docs // dfq.df)) AS BIGINT) * 22000
           * n.l_tot * tf.tf
           // (10 * n.l_tot * tf.tf + 3 * n.l_tot
               + 9 * corpus.dl * n.n_docs) AS term_score
  FROM tf JOIN dfq USING (word) JOIN corpus USING (doc_id), n
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(term_score) AS BIGINT) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {BM25_TOPK}
"""


DRIFT_FP_BITS = 26  # per-source unigram distributions in 2^26 fixed point
DRIFT_C_MAX_BITS = 37  # c * 2^26 must stay < 2^63 under ANSI mode


def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise unigram-distribution drift between sources: the L1
    distance between each pair of per-source word distributions,
    normalized to 2^26 fixed point — the mixture-shift signal a
    corpus-mixing pipeline watches when reweighting sources.

    Exact integer arithmetic at ANY corpus size: each (src, word)
    count c becomes p = c * 2^26 DIV m_src (per-source normalization
    in fixed point — no floats, so both engines agree bit-for-bit),
    and the pairwise L1 decomposes as

        sum_w |p_a - p_b| = S_a + S_b - 2 * sum_{{w in both}} min(p_a, p_b)

    so only CO-OCCURRING words need pairing.  Those pair in-row via
    the q_source_overlap pattern: groupBy(word) collects the bounded
    (src, p) set and emits C(s,2) structs by nested transform — no
    self-join of the word table, one map-side-combinable groupBy on
    (source_a, source_b).  Totals m_src and fixed-point masses S_src
    are tiny broadcast aggregates.  Bounds are enforced loudly:
    per-source word mass < 2^37 (keeps c << 26 in int64) and sources
    per word <= SOURCE_OVERLAP_MAX (keeps the in-row set bounded)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.col("source").alias("src"),
        F.explode(F.split(F.trim(F.col("text")), " +")).alias("word"),
    )
    counts = words.groupBy("src", "word").agg(
        F.count("*").cast("long").alias("c")
    )
    totals = counts.groupBy("src").agg(
        F.sum("c").cast("long").alias("m")
    ).select(
        "src",
        F.when(F.col("m") < F.lit(1 << DRIFT_C_MAX_BITS), F.col("m"))
        .otherwise(
            F.raise_error(
                F.lit(
                    "q_source_drift: per-source word mass >= "
                    f"2^{DRIFT_C_MAX_BITS} breaks the fixed-point "
                    "overflow budget"
                )
            ).cast("long")
        )
        .alias("m"),
    )
    tot_map = totals.agg(
        F.map_from_entries(F.collect_list(F.struct("src", "m"))).alias("mm")
    )
    p = counts.crossJoin(F.broadcast(tot_map)).select(
        "src",
        "word",
        F.expr(f"(c * {1 << DRIFT_FP_BITS}) DIV element_at(mm, src)")
        .cast("long")
        .alias("p"),
    )
    masses = p.groupBy("src").agg(F.sum("p").cast("long").alias("s"))
    per_word = p.groupBy("word").agg(
        F.array_sort(F.collect_list(F.struct("src", "p"))).alias("sp")
    ).select(
        F.when(
            F.size("sp") <= SOURCE_OVERLAP_MAX, F.col("sp")
        ).otherwise(
            F.raise_error(
                F.lit(
                    "q_source_drift: word present in more sources than "
                    f"the in-row bound {SOURCE_OVERLAP_MAX}"
                )
            ).cast("array<struct<src:string,p:bigint>>")
        ).alias("sp")
    )
    pair_min = per_word.select(
        F.explode(
            F.flatten(
                F.transform(
                    "sp",
                    lambda a, i: F.transform(
                        F.slice("sp", i + F.lit(2), F.size("sp")),
                        lambda b: F.struct(
                            a["src"].alias("source_a"),
                            b["src"].alias("source_b"),
                            F.least(a["p"], b["p"]).alias("mn"),
                        ),
                    ),
                )
            )
        ).alias("q")
    ).select("q.source_a", "q.source_b", "q.mn")
    shared = pair_min.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("shared_words"),
        F.sum("mn").cast("long").alias("sum_min"),
    )
    sa = masses.select(
        F.col("src").alias("source_a"), F.col("s").alias("s_a")
    )
    sb = masses.select(
        F.col("src").alias("source_b"), F.col("s").alias("s_b")
    )
    base = F.broadcast(sa).crossJoin(F.broadcast(sb)).where(
        F.col("source_a") < F.col("source_b")
    )
    out = base.join(
        shared, ["source_a", "source_b"], "left"
    ).withColumn(
        "l1_fp",
        F.col("s_a") + F.col("s_b")
        - 2 * F.coalesce(F.col("sum_min"), F.lit(0)),
    )
    return out.select(
        "source_a",
        "source_b",
        F.coalesce(F.col("shared_words"), F.lit(0))
        .cast("long")
        .alias("shared_words"),
        F.col("l1_fp").cast("long").alias("l1_fp"),
        F.expr("(l1_fp * 1000) DIV (s_a + s_b)")
        .cast("long")
        .alias("drift_permille"),
    )


_SOURCE_DRIFT = f"""
WITH w AS (
  SELECT source AS src,
         unnest(string_split_regex(trim(text), ' +')) AS word
  FROM documents
), c AS (
  SELECT src, word, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY src, word
), m AS (
  SELECT src, sum(c) AS m FROM c GROUP BY src
), p AS (
  SELECT c.src, c.word,
         (c.c * {1 << DRIFT_FP_BITS}) // m.m AS p
  FROM c JOIN m USING (src)
), s AS (
  SELECT src, sum(p) AS s FROM p GROUP BY src
), pm AS (
  SELECT a.src AS source_a, b.src AS source_b,
         count(*) AS shared_words,
         sum(least(a.p, b.p)) AS sum_min
  FROM p a JOIN p b ON a.word = b.word AND a.src < b.src
  GROUP BY 1, 2
)
SELECT sa.src AS source_a, sb.src AS source_b,
       CAST(coalesce(pm.shared_words, 0) AS BIGINT) AS shared_words,
       CAST(sa.s + sb.s - 2 * coalesce(pm.sum_min, 0) AS BIGINT) AS l1_fp,
       CAST((sa.s + sb.s - 2 * coalesce(pm.sum_min, 0)) * 1000
            // (sa.s + sb.s) AS BIGINT) AS drift_permille
FROM s sa JOIN s sb ON sa.src < sb.src
LEFT JOIN pm ON pm.source_a = sa.src AND pm.source_b = sb.src
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram coverage curve: reading the corpus in doc_id order, how
    many NEW distinct word-3-gram shingles each decile of documents
    contributes and the cumulative shingle vocabulary — the
    diminishing-returns curve behind 'how much more data buys how much
    more novelty' (the unigram vocabulary saturates in the first few
    documents of any real corpus; 3-grams are the standard novelty
    unit, same shingles the dedup family uses).

    Scale shape: document ranks come from ranking.global_rank over the
    8-byte (doc_id) projection (range partition + offset broadcast —
    no one-task sort at any corpus size); shingles dedup IN-ROW via
    _doc_shingles' array_distinct before exploding (the per-doc set-op
    lesson), join rank on doc_id, and one map-side-combinable
    groupBy over the shingle's md5-derived 56-bit BIGINT fingerprint
    (r05q — the text is never emitted, so the corpus-dominant exchange
    carries 8-byte keys; the oracle hashes identically, so collisions
    agree) takes min(rank).  n_docs folds into the plan as a broadcast
    1-row aggregate.  The only unpartitioned window runs over the
    <= 10 decile rows — a constant-size table."""
    from ..ranking import global_rank

    docs = load_table(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    ranked = global_rank(
        ids, [F.col("doc_id").asc()], rank_col="r", num_partitions=8
    )
    nd = docs.agg(F.count("*").cast("long").alias("nd"))
    first = (
        _doc_shingles(docs)
        .join(ranked, "doc_id")
        .select(_word_hash_expr(F.col("sh")).alias("f8"), "r")
        .groupBy("f8")
        .agg(F.min("r").alias("fr"))
    )
    by_dec = (
        first.crossJoin(F.broadcast(nd))
        .select(F.expr("((fr - 1) * 10) DIV nd").alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").cast("long").alias("new_words"))
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return by_dec.select(
        F.col("decile").cast("long").alias("decile"),
        "new_words",
        F.sum("new_words").over(w).cast("long").alias("cum_words"),
    )


_VOCAB_COVERAGE = """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), r AS (
  SELECT doc_id, ws, row_number() OVER (ORDER BY doc_id) AS r
  FROM w
), nd AS (
  SELECT count(*) AS nd FROM documents
), tok AS (
  SELECT DISTINCT r,
         CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
               1, 14)) AS BIGINT) AS f8
  FROM r CROSS JOIN (SELECT unnest(generate_series(1, (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i) g
  WHERE i <= len(ws) - 2
), f AS (
  SELECT f8, min(r) AS fr FROM tok GROUP BY f8
), d AS (
  SELECT ((fr - 1) * 10) // (SELECT nd FROM nd) AS decile,
         count(*) AS new_words
  FROM f GROUP BY 1
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(new_words AS BIGINT) AS new_words,
       CAST(sum(new_words) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_words
FROM d
"""


MG_K = 50  # heavy hitter bar: true count > n_words / MG_K
MG_CAPACITY = 4 * MG_K  # per-partition summary size (>= MG_K - 1 required)


def _mg_candidates(batches):
    """Per-partition batched Misra–Gries over a single string column.

    Exact pandas value_counts per Arrow batch (vectorized — no
    per-word Python), merged into one running counter; when the
    counter exceeds MG_CAPACITY keys, subtract the (CAPACITY+1)-th
    largest count from everything and drop the non-positive rows (the
    batched MG decrement: every unit removed from a survivor pairs
    with >= CAPACITY units removed elsewhere, so any word with
    partition count > n_p/(CAPACITY+1) survives — a superset of the
    words with global count > n/MG_K, whatever the partitioning)."""
    import pandas as pd

    counts = None
    for pdf in batches:
        batch = pdf["word"].value_counts()
        counts = batch if counts is None else counts.add(batch, fill_value=0)
        if len(counts) > MG_CAPACITY:
            cut = counts.nlargest(MG_CAPACITY + 1).iloc[-1]
            counts = counts - cut
            counts = counts[counts > 0]
    if counts is not None and len(counts):
        yield pd.DataFrame({"word": counts.index})


def _mg_candidate_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n): exact counts for the MG candidate words plus one
    NULL-word row carrying the count of everything else — r06's ONE
    verify scan instead of two (the old shape paid a third full
    scan+split+explode just for n_words).  A broadcast LEFT join marks
    candidate words; grouping on the candidate word (NULL for
    non-candidates) yields the exact per-candidate counts AND, summed,
    the total word count, from the same map-side-combinable aggregate
    (<= |cands|+1 rows).  Lazy — q_heavy_hitters_mg localCheckpoints
    it so the total and the candidate rows read one materialization;
    kept separate so the plan pin (tests/test_plans.py: no keyed
    exchange below MapInPandas) can still see the pass-1 subtree."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), " +")).alias("word")
    )
    cands = words.mapInPandas(_mg_candidates, "word string").distinct()
    marked = words.join(
        F.broadcast(cands.withColumn("_c", F.lit(1))), "word", "left"
    )
    return marked.groupBy(
        F.when(F.col("_c") == 1, F.col("word")).alias("word")
    ).agg(F.count("*").cast("long").alias("n"))


def q_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic heavy hitters: every word whose EXACT corpus count
    exceeds n/MG_K, found without ever shuffling the full word stream —
    the two-pass Misra–Gries pattern (candidates, then verify).

    Pass 1 is shuffle-free: mapInPandas runs a bounded-memory batched
    MG summary per scan partition (vectorized value_counts — the
    candidate set is a guaranteed superset of the true heavy hitters
    for ANY partitioning, see _mg_candidates).  Pass 2 recounts
    candidate words exactly AND totals the stream in the same scan
    (_mg_candidate_counts: broadcast-marked LEFT join, candidate-or-
    NULL groupBy, <= CAPACITY x partitions + 1 rows, checkpointed
    once), then filters n*MG_K > n_words.  Exact output from a
    sketch-sized shuffle; the CMS variant (q_cms_heavy) trades this
    two-pass exactness for one-pass mergeability.

    Oracle = the definition itself: exact counts filtered at the same
    bar."""
    agg = _mg_candidate_counts(spark, sf_dir).localCheckpoint()
    total = agg.agg(F.sum("n").cast("long").alias("n_words"))
    counted = agg.where(F.col("word").isNotNull())
    return (
        counted.crossJoin(F.broadcast(total))
        .where(F.col("n") * MG_K > F.col("n_words"))
        .select("word", "n", "n_words")
    )


_HEAVY_HITTERS_MG = f"""
WITH w AS (
  SELECT unnest(string_split_regex(trim(text), ' +')) AS word
  FROM documents
), c AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY word
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS n_words FROM w
)
SELECT word, n, n_words FROM c, t WHERE n * {MG_K} > n_words
"""


LOOP_MAX_PERIOD = 4  # trailing-cycle periods scanned (words)
LOOP_MAX_REPS = 16  # cap on counted consecutive repeats


def q_loop_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-generation loop detector: docs ENDING in an exact
    repeating cycle — the last p words repeated r >= 2 times in a row
    (p <= LOOP_MAX_PERIOD, r capped at LOOP_MAX_REPS).  This is the
    ORDER-SENSITIVE complement of q_repetition_score's bag-of-2-grams
    ratio: a shuffled doc keeps its repetition score but loses its
    trailing cycle, and a looping generation ("... the end the end the
    end") is exactly what this flags.  Reports the cycle covering the
    most words (ties -> smallest period) per flagged doc.

    Scale shape: entirely IN-ROW — per period p the candidate blocks
    compare via slice equality inside a transform over a bounded index
    sequence (<= 15 block compares of <= 4 words each), the repeat
    count is array_position (first mismatch), and the argmax over
    periods folds in a flat greatest() — scan -> project -> filter,
    ZERO exchanges (plan-pinned).  Nothing explodes, so the r05j
    InferFiltersFromGenerate trap never arms."""
    docs = load_table(spark, sf_dir, "documents")

    def _best(ws):
        """Whole per-doc computation against the BOUND lambda variable
        `ws` — binding the split array once this way is load-bearing:
        referencing a projected split() alias from inside the slice
        lambdas lets projection collapse inline the regex split into
        every slice call (94 split nodes, 13 s for 500 docs; the
        r05j pathology without the explode)."""
        n = F.size(ws)
        encs = []
        for p in range(1, LOOP_MAX_PERIOD + 1):
            jmax = (
                F.floor(n / F.lit(p)).cast("int")
                if p > 1
                else n
            )
            jmax = F.least(F.lit(LOOP_MAX_REPS), jmax)

            # greatest(...) keeps slice args valid on the n < 2p docs
            # where sequence(2, jmax<2) descends (the documented
            # F.sequence auto-step -1 trap) — those rows' encs are
            # discarded by the CASE below in BOTH engines.  The closure
            # factory is also load-bearing: a `lambda j, p=p` would
            # make F.transform pass the ARRAY INDEX as the second
            # argument (two-arg lambdas mean (element, index)),
            # silently replacing the period with 0 and comparing empty
            # slices as equal.
            def _block_eq(period: int):
                return lambda j: F.slice(
                    ws,
                    F.greatest(F.lit(1), n - j * period + 1),
                    period,
                ) == F.slice(ws, n - period + 1, period)

            eq = F.transform(
                F.sequence(F.lit(2), F.greatest(F.lit(2), jmax)),
                _block_eq(p),
            )
            # array_position = first mismatched j-1 (j runs from 2),
            # 0 if every scanned block matches -> reps = jmax
            reps = F.when(
                F.array_position(eq, F.lit(False)) == 0, jmax
            ).otherwise(F.array_position(eq, F.lit(False)))
            enc = F.when(
                (n >= 2 * p) & (reps >= 2),
                (reps * p) * 8 + (8 - p),
            ).otherwise(F.lit(-1))
            encs.append(enc.cast("long"))
        return F.greatest(*encs).cast("long")

    best = F.element_at(
        F.transform(
            F.array(F.split(F.trim(F.col("text")), " +")), _best
        ),
        1,
    )
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            best.alias("best"),
        )
        .where(F.col("best") >= 0)
        .select(
            "doc_id",
            (F.lit(8) - F.col("best") % 8).cast("long").alias("loop_p"),
            F.expr("(best DIV 8) DIV (8 - best % 8)")
            .cast("long")
            .alias("loop_reps"),
            F.expr("best DIV 8").cast("long").alias("covered_words"),
        )
    )


def _loop_detect_sql() -> str:
    pieces = []
    for p in range(1, LOOP_MAX_PERIOD + 1):
        pieces.append(f"""
    CASE WHEN n >= {2 * p} AND coalesce(list_position(
           list_transform(generate_series(2, least({LOOP_MAX_REPS},
                                                   n // {p})),
             j -> ws[n - j * {p} + 1 : n - (j - 1) * {p}]
                  = ws[n - {p} + 1 : n]),
           false), least({LOOP_MAX_REPS}, n // {p})) >= 2
    THEN coalesce(list_position(
           list_transform(generate_series(2, least({LOOP_MAX_REPS},
                                                   n // {p})),
             j -> ws[n - j * {p} + 1 : n - (j - 1) * {p}]
                  = ws[n - {p} + 1 : n]),
           false), least({LOOP_MAX_REPS}, n // {p})) * {p} * 8 + {8 - p}
    ELSE -1 END""")
    enc = ",\n".join(pieces)
    return f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), d AS (
  SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) >= 2
), e AS (
  SELECT doc_id, greatest({enc}) AS best FROM d
)
SELECT doc_id,
       CAST(8 - best % 8 AS BIGINT) AS loop_p,
       CAST((best // 8) // (8 - best % 8) AS BIGINT) AS loop_reps,
       CAST(best // 8 AS BIGINT) AS covered_words
FROM e WHERE best >= 0
"""


_LOOP_DETECT = _loop_detect_sql()


def q_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model fluency census: score every document
    by its mean bigram surprisal under the corpus's own bigram LM,
    then histogram the corpus by that score — the "perplexity filter"
    stage of Wenzek et al.'s CCNet / the quality partition used for
    LLaMA's CommonCrawl, next to q_quality_score (heuristics) and
    q_doc_entropy (in-doc distribution): this one is the only signal
    conditioned on CORPUS statistics, so boilerplate scores fluent
    while keyboard mash scores surprising.  Surprisal of one bigram is
    the EXACT integer log2 bucket -log2 P(w2|w1) ~ bitlen(c(w1)) -
    bitlen(c(w1 w2)) (bitlen = length(bin(n)), identical cross-engine;
    c_big <= c_uni so every term is >= 0, and no float log or division
    ever enters the hash).  A doc's bucket is its mean surprisal in
    DECI-bits (total_bits * 1000 DIV n_bigrams DIV 100 — integer-bit
    buckets collapse a natural corpus to one bucket; tenth-of-bit
    buckets resolve the CCNet head/middle/tail split); docs with < 2
    words carry no evidence and drop out, counted nowhere
    (documented, matches the oracle).

    Scale shape: unigram and bigram counts are two map-side-combinable
    groupBys on md5-derived 8-byte fingerprints (the r05j idiom —
    explode a cheap INDEX sequence, build text + hash in the flat
    post-explode projection, never md5 in a lambda).  Per-DISTINCT-
    bigram surprisal is computed on the collapsed bigram table (joined
    to unigram counts on the 8-byte left-hash AFTER collapse — the
    narrow side), so the corpus-sized occurrence stream pays exactly
    ONE 8-byte-keyed shuffle join (occurrence bh -> scored bigram)
    plus the per-doc groupBy; the final bucket census folds to ~16
    rows map-side.  Every exchanged row is (8-byte key, small ints) —
    no strings cross a shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " +").alias("ws")
    )
    uc = (
        w.select(F.explode("ws").alias("word"))
        .select(_word_hash_expr(F.col("word")).alias("h"))
        .groupBy("h")
        .agg(F.count("*").cast("long").alias("c_uni"))
    )
    # guard: size() BEFORE sequence() — sequence(1, n) auto-steps -1
    # when n < 1 (CLAUDE.md), so 1-word docs take the empty branch
    occ = w.select(
        "doc_id",
        "ws",
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.sequence(F.lit(1), F.size("ws") - 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    ).select(
        "doc_id",
        _word_hash_expr(
            F.concat_ws(" ", F.slice(F.col("ws"), F.col("i"), 2))
        ).alias("bh"),
        _word_hash_expr(F.element_at("ws", F.col("i"))).alias("lh"),
    )
    bits = lambda c: F.length(F.bin(c)).cast("long")  # noqa: E731
    scored = (
        occ.groupBy("bh")
        .agg(
            F.count("*").cast("long").alias("c_big"),
            F.min("lh").alias("lh"),
        )
        .join(uc.select(F.col("h").alias("lh"), "c_uni"), "lh")
        .select("bh", (bits(F.col("c_uni")) - bits(F.col("c_big"))).alias("sbits"))
    )
    perdoc = (
        occ.select("doc_id", "bh")
        .join(scored, "bh")
        .groupBy("doc_id")
        .agg(
            F.sum("sbits").cast("long").alias("total_bits"),
            F.count("*").cast("long").alias("n_bigrams"),
        )
        .select(
            F.expr("total_bits * 1000 DIV n_bigrams DIV 100").alias(
                "surprisal_dbits"
            ),
            "n_bigrams",
        )
    )
    return perdoc.groupBy("surprisal_dbits").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_bigrams").cast("long").alias("sum_bigrams"),
    )


_LM_SURPRISAL = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS ws FROM documents
), idx AS (
  SELECT unnest(generate_series(1,
    (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i
), occ_uni AS (
  SELECT CAST(('0x' || substr(md5(ws[i]), 1, 14)) AS BIGINT) AS h
  FROM w CROSS JOIN idx WHERE i <= len(ws)
), uc AS (
  SELECT h, CAST(count(*) AS BIGINT) AS c_uni FROM occ_uni GROUP BY 1
), occ AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 14))
              AS BIGINT) AS bh,
         CAST(('0x' || substr(md5(ws[i]), 1, 14)) AS BIGINT) AS lh
  FROM w CROSS JOIN idx WHERE i <= len(ws) - 1
), bc AS (
  SELECT bh, CAST(count(*) AS BIGINT) AS c_big, min(lh) AS lh
  FROM occ GROUP BY 1
), scored AS (
  SELECT bh, CAST(length(bin(c.c_uni)) - length(bin(bc.c_big))
                  AS BIGINT) AS sbits
  FROM bc JOIN uc c ON bc.lh = c.h
), perdoc AS (
  SELECT o.doc_id,
         CAST(sum(s.sbits) AS BIGINT) AS total_bits,
         CAST(count(*) AS BIGINT) AS n_bigrams
  FROM occ o JOIN scored s USING (bh)
  GROUP BY 1
)
SELECT CAST(total_bits * 1000 // n_bigrams // 100 AS BIGINT)
         AS surprisal_dbits,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams
FROM perdoc GROUP BY 1
"""


_DSIR_BUCKETS = 1024  # hashed-ngram feature space (Xie et al. use 10k)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): every document
    scored by the log-likelihood ratio of its hashed-ngram features
    under the TARGET distribution (here the English subset — the
    domain being up-sampled) vs the RAW corpus distribution, censused
    in deci-bit buckets — the distribution-matching data-mixing stage
    between quality filtering (q_quality_filter / q_lm_surprisal) and
    sampling (q_weighted_sample consumes exactly these weights).
    Features are unigrams + bigrams hashed into _DSIR_BUCKETS = 1024
    buckets (pmod of the md5-derived 8-byte fingerprint); the
    per-bucket log ratio is the EXACT integer log2 bucket
    bitlen(c_target + 1) - bitlen(c_raw + 1) (add-one smoothing keeps
    empty target buckets finite; bitlen = length(bin(n)) is
    engine-exact).  Target is a subset of raw, so weights are <= 0 —
    integer division truncates toward zero identically on both
    engines (documented).

    Scale shape: BOTH distribution tables collapse map-side onto the
    10-bit bucket key (<= 1024 rows each — broadcast-sized at ANY
    corpus scale, the structural win over per-pair statistics); the
    corpus occurrence stream joins the broadcast LUT and pays exactly
    ONE exchange, the per-doc groupBy; the census folds map-side to a
    handful of rows.  No strings cross any shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", "lang", F.split(F.trim(F.col("text")), " +").alias("ws")
    )
    uni = w.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                F.size("ws") >= 1, F.sequence(F.lit(1), F.size("ws"))
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
        "ws",
    ).select(
        "doc_id",
        "lang",
        F.pmod(
            _word_hash_expr(F.element_at("ws", F.col("i"))),
            F.lit(_DSIR_BUCKETS),
        ).alias("b"),
    )
    big = w.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                F.size("ws") >= 2, F.sequence(F.lit(1), F.size("ws") - 1)
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
        "ws",
    ).select(
        "doc_id",
        "lang",
        F.pmod(
            _word_hash_expr(
                F.concat_ws(" ", F.slice(F.col("ws"), F.col("i"), 2))
            ),
            F.lit(_DSIR_BUCKETS),
        ).alias("b"),
    )
    occ = uni.unionByName(big)
    bits = lambda c: F.length(F.bin(c)).cast("long")  # noqa: E731
    raw_lut = occ.groupBy("b").agg(F.count("*").cast("long").alias("c_raw"))
    tgt_lut = (
        occ.where(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("c_tgt"))
    )
    lut = raw_lut.join(tgt_lut, "b", "left").select(
        "b",
        (
            bits(F.coalesce(F.col("c_tgt"), F.lit(0)) + 1)
            - bits(F.col("c_raw") + 1)
        ).alias("dbits"),
    )
    perdoc = (
        occ.select("doc_id", "b")
        .join(F.broadcast(lut), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("dbits").cast("long").alias("total"),
            F.count("*").cast("long").alias("n_ngrams"),
        )
        .select(
            F.expr("total * 1000 DIV n_ngrams DIV 100").alias(
                "wbucket_dbits"
            ),
            "n_ngrams",
        )
    )
    return perdoc.groupBy("wbucket_dbits").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_ngrams").cast("long").alias("sum_ngrams"),
    )


_DSIR_WEIGHTS = f"""
WITH w AS (
  SELECT doc_id, lang, string_split_regex(trim(text), ' +') AS ws
  FROM documents
), idx AS (
  SELECT unnest(generate_series(1,
    (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i
), occ AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(ws[i]), 1, 14)) AS BIGINT)
           % {_DSIR_BUCKETS} AS b
  FROM w CROSS JOIN idx WHERE i <= len(ws)
  UNION ALL
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 14))
              AS BIGINT) % {_DSIR_BUCKETS} AS b
  FROM w CROSS JOIN idx WHERE i <= len(ws) - 1
), raw_lut AS (
  SELECT b, CAST(count(*) AS BIGINT) AS c_raw FROM occ GROUP BY 1
), tgt_lut AS (
  SELECT b, CAST(count(*) AS BIGINT) AS c_tgt
  FROM occ WHERE lang = 'en' GROUP BY 1
), lut AS (
  SELECT r.b,
         CAST(length(bin(coalesce(t.c_tgt, 0) + 1))
              - length(bin(r.c_raw + 1)) AS BIGINT) AS dbits
  FROM raw_lut r LEFT JOIN tgt_lut t ON r.b = t.b
), perdoc AS (
  SELECT o.doc_id,
         CAST(sum(l.dbits) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_ngrams
  FROM occ o JOIN lut l ON o.b = l.b
  GROUP BY 1
)
SELECT CAST(total * 1000 // n_ngrams // 100 AS BIGINT) AS wbucket_dbits,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_ngrams) AS BIGINT) AS sum_ngrams
FROM perdoc GROUP BY 1
"""


IDX_POSTING_CAP = 8  # posting list keeps the first K docs by doc_id
IDX_MIN_DF = 3  # index only terms appearing in >= this many docs


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped inverted index: for every term with document frequency
    >= IDX_MIN_DF, the exact df, the total term frequency, and a
    posting string of the first IDX_POSTING_CAP docs by doc_id as
    'doc:tf,doc:tf,...' — the retrieval-serving structure a corpus
    pipeline materializes next to the token tables.

    Scale shape: per-doc term frequencies compute IN-ROW (explode only
    the DISTINCT terms, tf = size(filter(ws, == term)) against the
    retained word array — one exploded row per (doc, distinct term),
    the smallest exchange that can carry tf, and never a
    (doc_id, word) pre-aggregation shuffle of the full word stream);
    ONE map-side-combinable groupBy(term) then builds df/tf totals and
    the capped posting in the same aggregate:
    array_sort(collect_list(struct)) + slice keeps only K entries per
    term in the output row, and the min-df filter prunes the hapax
    tail before it is ever emitted.  Deterministic: postings order by
    doc_id, ties impossible (doc_id unique)."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.trim(F.col("text")), " +").alias("ws"),
    ).select(
        "doc_id",
        "ws",
        F.explode(F.array_distinct("ws")).alias("term"),
    ).select(
        "doc_id",
        "term",
        F.size(
            F.filter("ws", lambda x: x == F.col("term"))
        ).cast("long").alias("tf"),
    )
    agg = per_doc.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
        F.slice(
            F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
            1,
            IDX_POSTING_CAP,
        ).alias("post"),
    )
    return agg.where(F.col("df") >= IDX_MIN_DF).select(
        "term",
        "df",
        "tf_total",
        F.array_join(
            F.transform(
                "post",
                lambda s: F.concat_ws(
                    ":", s["doc_id"].cast("string"), s["tf"].cast("string")
                ),
            ),
            ",",
        ).alias("postings"),
    )


_INVERTED_INDEX = f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(string_split_regex(trim(text), ' +')) AS term
  FROM documents
), per_doc AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM w GROUP BY doc_id, term
), agg AS (
  SELECT term,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS tf_total,
         string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id)
           FILTER (WHERE rn <= {IDX_POSTING_CAP}) AS postings
  FROM (
    SELECT *, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
    FROM per_doc
  ) GROUP BY term
)
SELECT term, df, tf_total, postings FROM agg WHERE df >= {IDX_MIN_DF}
"""


def q_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-rarity quality scoring: per document, how much of its
    text is made of corpus-rare word bigrams — the integer-exact proxy
    for LM surprisal that data-quality pipelines use to separate
    fluent text from keyword mash (rare-bigram density; cf. CCNet-style
    LM filtering, re-expressed without a float LM).  Each bigram
    occurrence scores 64 - bitlen(corpus_count) — bitlen computed
    EXACTLY as length(bin(n)) on both engines, so no float log2 ever
    enters the oracle hash — and a hapax census counts bigrams seen
    nowhere else in the corpus.

    Scale shape: bigrams are built in-row (transform over the split
    array, short-doc guard BEFORE F.sequence per the CLAUDE.md rule),
    hashed to 8-byte fingerprints AFTER the positional explode (the
    r05h md5-in-lambda rule), so the count groupBy and the count join
    both shuffle only (doc_id, b8) longs.  No window, no pair join;
    the join is key-partitioned on the same b8 the counts were built
    on, so AQE reuses the partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.trim(F.col("text")), " +").alias("ws"),
    )
    bi = words.select(
        "doc_id",
        F.when(
            F.size("ws") >= 2,
            F.expr(
                "transform(sequence(1, size(ws) - 1), i -> "
                "concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))"
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("bis"),
    )
    occ = bi.select("doc_id", F.explode("bis").alias("btext")).select(
        "doc_id", _word_hash_expr(F.col("btext")).alias("b8")
    )
    counts = occ.groupBy("b8").agg(F.count("*").cast("long").alias("cn"))
    return (
        occ.join(counts, "b8")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.lit(64) - F.length(F.bin(F.col("cn"))))
            .cast("long")
            .alias("rarity_bits"),
            F.sum(F.when(F.col("cn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("hapax"),
        )
    )


_BIGRAM_RARITY = """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(trim(text), ' +') AS ws
  FROM documents
), occ AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 14))
              AS BIGINT) AS b8
  FROM w CROSS JOIN (
    SELECT unnest(generate_series(1,
      (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i) g
  WHERE i <= len(ws) - 1
), c AS (
  SELECT b8, CAST(count(*) AS BIGINT) AS cn FROM occ GROUP BY b8
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(64 - length(bin(cn))) AS BIGINT) AS rarity_bits,
       CAST(sum(CASE WHEN cn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
FROM occ JOIN c USING (b8)
GROUP BY doc_id
"""


_PMI_MIN_COUNT = 5   # classic collocation support floor
_PMI_TOPK = 100


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-k word bigrams by pointwise mutual
    information (Church & Hanks 1990), the standard phrase detector a
    tokenizer-training pipeline runs before choosing merge candidates.
    PMI = log2(c_xy * N / (c_x * c_y)) is ranked by its EXACT integer
    bit-length form bitlen(c_xy) + bitlen(N) - bitlen(c_x) -
    bitlen(c_y) (bitlen = length(bin(n)), identical on both engines) —
    no float log ever enters the oracle hash, and no product is formed
    (c_xy * N overflows int64 at corpus scale; the bit form never
    multiplies).  Support floor c_xy >= 5 per the original paper.

    Scale shape: unigram and bigram counts are two map-side-combinable
    groupBys on md5-derived 8-byte fingerprints (the r05j idiom:
    explode a cheap INDEX sequence, build text + hash in the flat
    post-explode projection — never md5 in a lambda).  The bigram text
    rides as a min() PAYLOAD (combined map-side to one short string
    per distinct bigram per task), the component-count lookups join on
    8-byte keys AFTER the support filter has shrunk candidates (AQE
    broadcasts), the corpus total folds in as a broadcast 1-row
    aggregate, and the final top-k is TakeOrderedAndProject — no
    global sort, no window over the corpus.  Ties break on the b8
    fingerprint (integer — engine-agnostic, unlike string collation).
    """
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(F.split(F.trim(F.col("text")), " +").alias("ws"))
    uh = w.select(F.explode("ws").alias("word")).select(
        _word_hash_expr(F.col("word")).alias("h")
    )
    uc = uh.groupBy("h").agg(F.count("*").cast("long").alias("c"))
    total = uh.agg(F.count("*").cast("long").alias("n_tokens"))
    # guard: size() BEFORE sequence() — sequence(1, n) auto-steps -1
    # when n < 1 (CLAUDE.md), so 1-word docs take the empty branch
    big = w.select(
        "ws",
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.sequence(F.lit(1), F.size("ws") - 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    ).select(
        F.concat_ws(" ", F.slice(F.col("ws"), F.col("i"), 2)).alias("btext"),
        _word_hash_expr(F.element_at("ws", F.col("i"))).alias("lh"),
        _word_hash_expr(F.element_at("ws", F.col("i") + 1)).alias("rh"),
    )
    bc = (
        big.select(_word_hash_expr(F.col("btext")).alias("b8"),
                   "btext", "lh", "rh")
        .groupBy("b8")
        .agg(
            F.count("*").cast("long").alias("c_xy"),
            F.min("btext").alias("bigram"),
            F.min("lh").alias("lh"),
            F.min("rh").alias("rh"),
        )
        .where(F.col("c_xy") >= _PMI_MIN_COUNT)
    )
    bits = lambda c: F.length(F.bin(c)).cast("long")  # noqa: E731
    scored = (
        bc.join(uc.select(F.col("h").alias("lh"),
                          F.col("c").alias("c_left")), "lh")
        .join(uc.select(F.col("h").alias("rh"),
                        F.col("c").alias("c_right")), "rh")
        .crossJoin(F.broadcast(total))
        .select(
            "b8", "bigram", "c_xy", "c_left", "c_right",
            (bits(F.col("c_xy")) + bits(F.col("n_tokens"))
             - bits(F.col("c_left")) - bits(F.col("c_right"))
             ).alias("pmi_bits"),
        )
    )
    top = scored.orderBy(
        F.col("pmi_bits").desc(), F.col("c_xy").desc(), F.col("b8").asc()
    ).limit(_PMI_TOPK)
    rk = Window.orderBy(
        F.col("pmi_bits").desc(), F.col("c_xy").desc(), F.col("b8").asc()
    )
    return top.withColumn("rank", F.row_number().over(rk)).select(
        F.col("rank").cast("long").alias("rank"),
        "bigram",
        "c_xy",
        "c_left",
        "c_right",
        "pmi_bits",
    )


_PMI_BIGRAMS = f"""
WITH w AS (
  SELECT string_split_regex(trim(text), ' +') AS ws FROM documents
), idx AS (
  SELECT unnest(generate_series(1,
    (SELECT coalesce(max(len(ws)), 0) FROM w))) AS i
), occ AS (
  SELECT ws[i] AS wd FROM w CROSS JOIN idx WHERE i <= len(ws)
), uc AS (
  SELECT CAST(('0x' || substr(md5(wd), 1, 14)) AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM occ GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM occ
), big AS (
  SELECT ws[i] || ' ' || ws[i + 1] AS btext,
         CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 14))
              AS BIGINT) AS b8,
         CAST(('0x' || substr(md5(ws[i]), 1, 14)) AS BIGINT) AS lh,
         CAST(('0x' || substr(md5(ws[i + 1]), 1, 14)) AS BIGINT) AS rh
  FROM w CROSS JOIN idx WHERE i <= len(ws) - 1
), bc AS (
  SELECT b8, CAST(count(*) AS BIGINT) AS c_xy, min(btext) AS bigram,
         min(lh) AS lh, min(rh) AS rh
  FROM big GROUP BY b8 HAVING count(*) >= {_PMI_MIN_COUNT}
), scored AS (
  SELECT b8, bigram, c_xy, lc.c AS c_left, rc.c AS c_right,
         CAST(length(bin(c_xy)) + length(bin(n_tokens))
              - length(bin(lc.c)) - length(bin(rc.c)) AS BIGINT)
           AS pmi_bits
  FROM bc JOIN uc lc ON bc.lh = lc.h
          JOIN uc rc ON bc.rh = rc.h
          CROSS JOIN tot
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY pmi_bits DESC, c_xy DESC, b8 ASC)
         AS rank
  FROM scored
)
SELECT CAST(rank AS BIGINT) AS rank, bigram, c_xy, c_left, c_right, pmi_bits
FROM ranked WHERE rank <= {_PMI_TOPK}
"""


def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by detected language: BPE-ish pieces per
    whitespace word (milli-scaled), the multilingual-mix diagnostic a
    tokenizer report always carries (high fertility = the vocabulary
    under-serves that language, cf. the fertility tables in the XLM-R
    and BLOOM tokenizer analyses).  Composes three already-proven
    scalar pipelines — the q_lang_id marker scoring, q_token_count_bpe
    piece counting, q_quality_score word counting — into one zero-join
    census.

    Scale shape: every feature is a pure Catalyst projection on the
    document row; the only exchange is the final groupBy on the
    5-value language guess (map-side combined to ~5 rows per task)."""
    docs = load_table(spark, sf_dir, "documents")
    nwords = F.length(
        F.replace(
            F.regexp_replace(F.trim(F.col("text")), "[^ ]+", "x"),
            F.lit(" "),
            F.lit(""),
        )
    ).cast("long")
    staged = _lang_scored(
        docs,
        [
            (
                "pieces",
                F.regexp_count(F.col("text"), F.lit(_BPE_PATTERN)).cast(
                    "long"
                ),
            ),
            ("words", nwords),
        ],
    )
    return (
        staged.groupBy("guess_lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("pieces").cast("long").alias("sum_pieces"),
            F.sum("words").cast("long").alias("sum_words"),
        )
        .withColumn(
            "fertility_milli",
            F.expr("sum_pieces * 1000 DIV greatest(sum_words, 1)"),
        )
    )


def _token_fertility_sql() -> str:
    return f"""
WITH m AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)
           AS pieces,
         CAST(length(replace(regexp_replace(trim(text), '[^ ]+', 'x', 'g'),
                             ' ', '')) AS BIGINT) AS words
  FROM documents
)
SELECT l.guess_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(m.pieces) AS BIGINT) AS sum_pieces,
       CAST(sum(m.words) AS BIGINT) AS sum_words,
       CAST(sum(m.pieces) * 1000 // greatest(sum(m.words), 1) AS BIGINT)
         AS fertility_milli
FROM ({_lang_sql()}) l JOIN m USING (doc_id)
GROUP BY l.guess_lang
"""


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-threshold calibration — the per-dump
    calibration step web-corpus pipelines run before filtering (a
    fixed global cutoff over-filters some crawls and under-filters
    others; cf. the per-dump threshold discussion in the FineWeb
    report): for every source, the exact discrete p50/p90 of the
    stopword-ratio score, the corpus-global median, and how much of
    the source falls below that global bar (ppm).

    Scale shape: the score domain is BOUNDED ([0, 1000] permille), so
    ONE map-side-combinable groupBy collapses the corpus to a
    (source, score) histogram and every quantile is the
    division-free cumulative-bar minimum over histogram rows (the
    q_slo_ribbon formulation; windows partition by source).  The
    global median folds the score-level histogram into one row and
    scans it IN-ROW (sort_array + aggregate — the q_token_budget_fill
    pattern, no unpartitioned window), then broadcasts back onto the
    per-source histogram for the below-bar census."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.trim(F.col("text")), F.lit(" "))
    words = F.length(
        F.replace(
            F.regexp_replace(F.trim(F.col("text")), "[^ ]+", "x"),
            F.lit(" "),
            F.lit(""),
        )
    ).cast("long")
    stop = sum(
        _occurrences(padded, f" {w} ") for w in ("the", "a", "and", "of")
    )
    scored = docs.select(
        "source",
        stop.alias("n_stop"),
        words.alias("n_words"),
    ).select(
        "source",
        (F.col("n_stop") * 1000 / F.greatest(F.col("n_words"), F.lit(1)))
        .cast("long")
        .alias("score"),
    )
    c = scored.groupBy("source", "score").agg(
        F.count("*").cast("long").alias("cnt")
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("source")
    w = c.select(
        "source",
        "score",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    ps = w.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("n"), F.col("score"))
        ).cast("long").alias("p50_score"),
        F.min(
            F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("score"))
        ).cast("long").alias("p90_score"),
    )
    hist = c.groupBy("score").agg(F.sum("cnt").alias("cnt"))
    packed = hist.agg(
        F.sort_array(F.collect_list(F.struct("score", "cnt"))).alias("arr"),
        F.sum("cnt").alias("tot"),
    )
    gm = packed.select(
        F.expr(
            "aggregate(arr, named_struct('cum', 0L, 'med', -1L),"
            " (a, x) -> named_struct("
            "   'cum', a.cum + x.cnt,"
            "   'med', IF(a.med >= 0, a.med,"
            "             IF(2 * (a.cum + x.cnt) >= tot, x.score, -1L)))"
            ").med"
        ).cast("long").alias("global_med")
    )
    below = (
        c.crossJoin(F.broadcast(gm))
        .where(F.col("score") < F.col("global_med"))
        .groupBy("source")
        .agg(F.sum("cnt").cast("long").alias("n_below"))
    )
    return (
        ps.crossJoin(F.broadcast(gm))
        .join(below, "source", "left")
        .select(
            "source",
            "n_docs",
            "p50_score",
            "p90_score",
            "global_med",
            F.coalesce(F.col("n_below"), F.lit(0))
            .cast("long")
            .alias("n_below_global"),
            F.expr(
                "coalesce(n_below, 0L) * 1000000 DIV n_docs"
            ).cast("long").alias("below_ppm"),
        )
    )


_QUALITY_CALIBRATION = """
WITH t AS (
  SELECT source,
         ' ' || trim(text) || ' ' AS padded,
         CAST(length(replace(regexp_replace(trim(text), '[^ ]+', 'x', 'g'),
                             ' ', '')) AS BIGINT) AS n_words
  FROM documents
), s AS (
  SELECT source,
     CAST(((length(padded) - length(replace(padded, ' the ', ''))) // 5
        + (length(padded) - length(replace(padded, ' a ', ''))) // 3
        + (length(padded) - length(replace(padded, ' and ', ''))) // 5
        + (length(padded) - length(replace(padded, ' of ', ''))) // 4)
        * 1000 // greatest(n_words, 1) AS BIGINT) AS score
  FROM t
), c AS (
  SELECT source, score, CAST(count(*) AS BIGINT) AS cnt
  FROM s GROUP BY 1, 2
), w AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY source ORDER BY score
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY source) AS n
  FROM c
), ps AS (
  SELECT source,
         CAST(max(n) AS BIGINT) AS n_docs,
         CAST(min(CASE WHEN 2 * cum >= n THEN score END) AS BIGINT)
           AS p50_score,
         CAST(min(CASE WHEN 10 * cum >= 9 * n THEN score END) AS BIGINT)
           AS p90_score
  FROM w GROUP BY source
), g AS (
  SELECT score, sum(cnt) AS cnt FROM c GROUP BY score
), gw AS (
  SELECT score,
         sum(cnt) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER () AS n
  FROM g
), gm AS (
  SELECT CAST(min(CASE WHEN 2 * cum >= n THEN score END) AS BIGINT)
           AS global_med
  FROM gw
), b AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_below
  FROM c CROSS JOIN gm WHERE score < global_med GROUP BY source
)
SELECT ps.source, ps.n_docs, ps.p50_score, ps.p90_score, gm.global_med,
       CAST(coalesce(b.n_below, 0) AS BIGINT) AS n_below_global,
       CAST(coalesce(b.n_below, 0) * 1000000 // ps.n_docs AS BIGINT)
         AS below_ppm
FROM ps CROSS JOIN gm LEFT JOIN b ON ps.source = b.source
"""


_BLOCKLIST = ("slow", "big", "vector")  # rule-based safety filter terms


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based content filter census (the blocklist pass every
    training pipeline runs before model-based quality filters): per
    source, how many docs contain a blocklisted term, and how many
    total occurrences — the numbers that decide whether a source gets
    term-masking or wholesale exclusion.

    Occurrence counting is LAMBDA-FREE: per term b, occurrences =
    size(ws) - size(array_remove(ws, b)) — three flat Catalyst
    expressions for the 3-term list, fully inside WholeStageCodegen
    (no HOF, so no interpreted-path hazards; the blocklist is a fixed
    policy artifact, broadcast by constant-folding).  One map-side-
    combinable groupBy; raw docs never shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.col("text")), " +")
    hits = None
    for b in _BLOCKLIST:
        h = F.size(ws) - F.size(F.array_remove(ws, b))
        hits = h if hits is None else hits + h
    base = docs.select(
        "source",
        hits.cast("long").alias("hits"),
    )
    return base.groupBy("source").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
        .cast("long")
        .alias("flagged_docs"),
        F.sum("hits").cast("long").alias("total_hits"),
    ).select(
        "source",
        "docs",
        "flagged_docs",
        "total_hits",
        F.expr("(flagged_docs * 1000) DIV docs")
        .cast("long")
        .alias("flagged_permille"),
    )


def _blocklist_sql() -> str:
    terms = " + ".join(
        f"(len(ws) - len(list_filter(ws, x -> x <> '{b}')))"
        for b in _BLOCKLIST
    )
    return f"""
WITH w AS (
  SELECT source, string_split_regex(trim(text), ' +') AS ws
  FROM documents
), h AS (
  SELECT source, CAST({terms} AS BIGINT) AS hits FROM w
)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS flagged_docs,
       CAST(sum(hits) AS BIGINT) AS total_hits,
       CAST((sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) * 1000)
            // count(*) AS BIGINT) AS flagged_permille
FROM h GROUP BY source
"""


def q_lang_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confidence census: per guessed language, how many
    docs were called on a zero margin (best == second-best marker
    score — the calls a CCNet-style confidence threshold would drop)
    and the margin distribution (mean milli / max).  The trust table
    read before using q_lang_id's guesses for per-language mixing or
    tokenizer-coverage decisions.

    Scale shape: the four marker scores compute ONCE in a lower
    projection (the _lang_scored staging — inlining them through the
    precedence CASE re-duplicates each 3-replace score exponentially,
    the r05m Catalyst-expression-size trap), best/second come from one
    in-row sort_array over the 4-element score array, and the census
    is ONE map-side-combinable groupBy to <= 5 rows.  Margins are
    exact integers end to end."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower(F.trim(F.col("text"))), F.lit(" "))
    scored = docs.select(
        *[
            sum(_occurrences(padded, f" {w} ") for w in words).alias(
                f"s_{lang}"
            )
            for lang, words in _LANG_MARKERS.items()
        ]
    )
    guess = F.lit("und")
    best = F.lit(0).cast("long")
    for lang in ("en", "es", "fr", "de"):  # fixed precedence for ties
        sc = F.col(f"s_{lang}")
        guess = F.when(sc > best, F.lit(lang)).otherwise(guess)
        best = F.when(sc > best, sc).otherwise(best)
    arr = F.sort_array(
        F.array(*[F.col(f"s_{lang}") for lang in _LANG_MARKERS]), False
    )
    m = scored.select(
        guess.alias("guess_lang"),
        (F.element_at(arr, 1) - F.element_at(arr, 2))
        .cast("long")
        .alias("margin"),
    )
    g = m.groupBy("guess_lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("margin") == 0).cast("long"))
        .cast("long")
        .alias("n_ambiguous"),
        F.sum("margin").cast("long").alias("sm"),
        F.max("margin").cast("long").alias("max_margin"),
    )
    return g.select(
        "guess_lang",
        "n_docs",
        "n_ambiguous",
        F.expr("sm * 1000 DIV n_docs").cast("long").alias(
            "mean_margin_milli"
        ),
        "max_margin",
    )


def _lang_margin_sql() -> str:
    def occ(w):
        return (
            f"(length(padded) - length(replace(padded, ' {w} ', '')))"
            f" // {len(w) + 2}"
        )

    score = {
        lang: " + ".join(occ(w) for w in words)
        for lang, words in _LANG_MARKERS.items()
    }
    return f"""
WITH t AS (
  SELECT ' ' || lower(trim(text)) || ' ' AS padded FROM documents
), s AS (
  SELECT {score['en']} AS s_en, {score['es']} AS s_es,
         {score['fr']} AS s_fr, {score['de']} AS s_de
  FROM t
), m AS (
  SELECT CASE
           WHEN s_de > s_fr AND s_de > s_es AND s_de > s_en AND s_de > 0
             THEN 'de'
           WHEN s_fr > s_es AND s_fr > s_en AND s_fr > 0 THEN 'fr'
           WHEN s_es > s_en AND s_es > 0 THEN 'es'
           WHEN s_en > 0 THEN 'en'
           ELSE 'und' END AS guess_lang,
         list_sort([s_en, s_es, s_fr, s_de], 'DESC') AS l
  FROM s
)
SELECT guess_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN l[1] = l[2] THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ambiguous,
       CAST(sum(l[1] - l[2]) * 1000 // count(*) AS BIGINT)
         AS mean_margin_milli,
       CAST(max(l[1] - l[2]) AS BIGINT) AS max_margin
FROM m GROUP BY guess_lang
"""
