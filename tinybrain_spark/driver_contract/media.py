"""Multimodal plumbing on binary payloads derived from `documents`.

Metadata, frame sampling, image and audio decode, grayscale, quality,
downsampling, equalization, perceptual hashes and the streaming image
gate (decoders are real, payloads synthetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table


def q_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end to end (the WAV twin of
    q_multimodal_decode): synthesize a canonical RIFF/WAVE PCM16
    payload per doc (every interleaved sample a pure function of
    (doc_id, position)), parse it back with the real chunk-walking
    parser (multimodal.parse_wav), and emit integer amplitude stats —
    format fields from the HEADER, signed sum and absolute sum from the
    SAMPLES (little-endian int16 decode, channel de-interleave).  The
    oracle recomputes every sample arithmetically.  Zero shuffles."""
    from ..multimodal import decode_audio, synth_wav_payloads

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    return decode_audio(synth_wav_payloads(docs))


_WAV_DECODE = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id % 2 + 1 AS BIGINT) AS n_ch,
         CAST(doc_id % 129 + 64 AS BIGINT) AS n_fr
  FROM documents
), i AS (
  SELECT doc_id, n_ch, n_fr, unnest(range(0, n_fr * n_ch)) AS i
  FROM d
), s AS (
  SELECT doc_id, n_ch, n_fr,
         (doc_id * 37 + 73 * i) % 4001 - 2000 AS v
  FROM i
)
SELECT doc_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       n_ch AS n_channels,
       n_fr AS n_frames,
       CAST(sum(v) AS BIGINT) AS amp_sum,
       CAST(sum(abs(v)) AS BIGINT) AS abs_sum
FROM s GROUP BY doc_id, n_ch, n_fr
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary multimodal plumbing: payload as BinaryType, typed
    metadata extracted batch-wise with mapInPandas.  The real decode
    (image/audio libs) is stubbed with a deterministic fake; the Spark
    plumbing — schema, batching, binary transport — is real."""
    from ..multimodal import extract_metadata

    # fanout_on=[]: the metadata probe reads a few header bytes per
    # payload — far lighter than shuffling the payloads (0.40 s vs
    # 0.78 s at sf1.0)
    docs = load_table(spark, sf_dir, "documents", fanout_on=[]).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return extract_metadata(docs)


_MULTIMODAL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 + 16 AS BIGINT) AS fake_width,
       CAST(octet_length(encode(text)) % 480 + 16 AS BIGINT) AS fake_height
FROM documents
"""

_FRAME_SIZE = 64
_FRAME_K = 4


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: video-like binary payloads fan out to
    every-k-th fixed-size frame (real BinaryType rows, no shuffle);
    the oracle checks the sampled-frame accounting per doc."""
    from ..multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    frames = sample_frames(docs, frame_size=_FRAME_SIZE, every_k=_FRAME_K)
    return frames.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum(F.octet_length("frame")).cast("long").alias("sampled_bytes"),
        F.max("frame_idx").cast("long").alias("last_frame_idx"),
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end to end (r04, VERDICT #3-missing): per doc,
    synthesize a deterministic PPM P6 payload (real ASCII header with a
    comment line + raw RGB24 body, every byte a pure function of
    (doc_id, position)), push the binary through Arrow batches, parse
    it back with the real netpbm parser (multimodal.parse_ppm), and
    emit integer pixel statistics — dimensions from the HEADER, total
    pixel sum, and the red-channel sum (channel de-interleaving).  The
    oracle recomputes every decoded byte arithmetically, so a parser
    that miscounts the header, misreads dimensions, or interleaves
    channels wrong hash-mismatches.  Scale shape: two chained
    mapInPandas, zero shuffles before the final per-doc stats (computed
    in-batch)."""
    from ..multimodal import decode_images, synth_ppm_payloads

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    return decode_images(synth_ppm_payloads(docs))


_MULTIMODAL_DECODE = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id % 13 + 4 AS BIGINT) AS w,
         CAST(doc_id % 7 + 4 AS BIGINT) AS h
  FROM documents
), px AS (
  SELECT doc_id, w, h,
         unnest(range(0, 3 * w * h)) AS i
  FROM d
)
SELECT doc_id,
       w AS width,
       h AS height,
       CAST(w * h AS BIGINT) AS n_pix,
       CAST(sum((doc_id * 31 + i) % 251) AS BIGINT) AS pix_sum,
       CAST(sum(CASE WHEN i % 3 = 0 THEN (doc_id * 31 + i) % 251
                     ELSE 0 END) AS BIGINT) AS r_sum
FROM px GROUP BY doc_id, w, h
"""


_MULTIMODAL_FRAMES = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         octet_length(encode(text)) // {_FRAME_SIZE} AS n_frames
  FROM documents
)
SELECT doc_id,
       CAST((n_frames + {_FRAME_K - 1}) // {_FRAME_K} AS BIGINT) AS n_sampled,
       CAST(((n_frames + {_FRAME_K - 1}) // {_FRAME_K}) * {_FRAME_SIZE}
            AS BIGINT) AS sampled_bytes,
       CAST(((n_frames - 1) // {_FRAME_K}) * {_FRAME_K} AS BIGINT)
         AS last_frame_idx
FROM d WHERE n_frames > 0
"""


def q_multimodal_gray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL grayscale decode end to end: deterministic PGM P5 payloads
    (ASCII header with a comment + raw 8-bit body, every byte a pure
    function of (doc_id, position)) through Arrow batches, parsed back
    by the real netpbm reader (multimodal.parse_pgm), emitting header
    dimensions, total pixel sum, and the MAIN-DIAGONAL sum — the
    diagonal is wrong under any reshape/stride mistake, which a
    byte-count statistic can't see.  The oracle recomputes every
    decoded byte arithmetically.  Completes the binary-netpbm family
    next to q_multimodal_decode's 3-channel P6."""
    from ..multimodal import decode_grayscale, synth_pgm_payloads

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    return decode_grayscale(synth_pgm_payloads(docs))


_MULTIMODAL_GRAY = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id % 11 + 4 AS BIGINT) AS w,
         CAST(doc_id % 5 + 4 AS BIGINT) AS h
  FROM documents
), px AS (
  SELECT doc_id, w, h, unnest(range(0, w * h)) AS i
  FROM d
), sums AS (
  SELECT doc_id, w, h,
         CAST(sum((doc_id * 37 + i) % 241) AS BIGINT) AS pix_sum
  FROM px GROUP BY doc_id, w, h
), diag AS (
  SELECT doc_id,
         CAST(sum((doc_id * 37 + k * w + k) % 241) AS BIGINT) AS diag_sum
  FROM d CROSS JOIN (SELECT unnest(range(0, 15)) AS k) g
  WHERE k < least(w, h)
  GROUP BY doc_id
)
SELECT s.doc_id, s.w AS width, s.h AS height,
       CAST(s.w * s.h AS BIGINT) AS n_pix, s.pix_sum, diag.diag_sum
FROM sums s JOIN diag USING (doc_id)
"""


def q_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-quality gate (the visual analog of q_wav_energy's
    silence/clipping check): per image, a 4-bucket luminance histogram
    (64-wide bins), min/max luminance, and the integer RMS contrast
    floor(sqrt((n*S2 - S1^2) DIV n^2)) — all-black, washed-out, or
    low-contrast frames show up as degenerate histograms / contrast 0,
    the filter an image training pipeline runs after decode.

    Scale shape: same two chained mapInPandas as q_multimodal_gray
    (synthesize deterministic PGM P5, parse with the real netpbm
    reader, numpy-vectorized stats per Arrow batch), zero shuffles.
    The oracle recomputes every decoded byte arithmetically
    ((doc_id*37 + i) % 241), so a parser or histogram off-by-one
    hash-mismatches; the isqrt is exact cross-engine for n*S2 < 2^52
    (the q_wav_energy floor(sqrt) argument)."""
    from ..multimodal import image_quality, synth_pgm_payloads

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    return image_quality(synth_pgm_payloads(docs))


_IMAGE_QUALITY = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id % 11 + 4 AS BIGINT) AS w,
         CAST(doc_id % 5 + 4 AS BIGINT) AS h
  FROM documents
), px AS (
  SELECT doc_id, w * h AS n, unnest(range(0, w * h)) AS i
  FROM d
), v AS (
  SELECT doc_id, n, (doc_id * 37 + i) % 241 AS v FROM px
), s AS (
  SELECT doc_id,
         CAST(max(n) AS BIGINT) AS n_pix,
         CAST(min(v) AS BIGINT) AS lum_min,
         CAST(max(v) AS BIGINT) AS lum_max,
         CAST(sum(CASE WHEN v // 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
         CAST(sum(CASE WHEN v // 64 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
         CAST(sum(CASE WHEN v // 64 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
         CAST(sum(CASE WHEN v // 64 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
         CAST(sum(v) AS BIGINT) AS s1,
         CAST(sum(v * v) AS BIGINT) AS s2
  FROM v GROUP BY doc_id
)
SELECT doc_id, n_pix, lum_min, lum_max, h0, h1, h2, h3,
       CAST(floor(sqrt((n_pix * s2 - s1 * s1) // (n_pix * n_pix)))
            AS BIGINT) AS contrast_u
FROM s
"""


def q_audio_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio downsampling through the PRODUCTION rollup kernel: the
    synthetic RIFF/WAVE PCM16 payloads decode, de-interleave, and pool
    per channel with kernels.avg_pool (window 2, two tiers) — the
    exact signed-accumulator semantics of the token tiers (toward-zero
    render accelerated.hpp:932-946, odd-edge cyclic doubling hpp:66-69)
    exercised on a second modality.  Per (doc, tier): output-sample
    count and sum/min/max of the rendered values.

    The oracle recomputes EVERY pooled sample arithmetically (each
    input sample is a pure function of (doc_id, i); toward-zero
    integer division is `//` in DuckDB and the kernel's
    -(abs(a)>>shift) — identical by the documented cross-engine rule).
    Zero shuffles: one mapInPandas chain, binary never leaves the
    Arrow batch."""
    from ..multimodal import audio_downsample, synth_wav_payloads

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    return audio_downsample(synth_wav_payloads(docs))


_AUDIO_DOWNSAMPLE = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id % 2 + 1 AS BIGINT) AS n_ch,
         CAST(doc_id % 129 + 64 AS BIGINT) AS n_fr
  FROM documents
), i AS (
  SELECT doc_id, n_ch, n_fr, unnest(range(0, n_fr * n_ch)) AS i
  FROM d
), s AS (
  SELECT doc_id, i % n_ch AS ch, i // n_ch AS fr,
         (doc_id * 37 + 73 * i) % 4001 - 2000 AS v
  FROM i
), g1 AS (  -- tier-1 accumulators: odd tail doubles (cyclic pad)
  SELECT doc_id, ch, fr // 2 AS b1,
         CASE WHEN count(*) = 1 THEN 2 * sum(v) ELSE sum(v) END AS a1
  FROM s GROUP BY 1, 2, 3
), g2 AS (  -- tier-2 accumulators over tier-1 accums (pre-render)
  SELECT doc_id, ch, b1 // 2 AS b2,
         CASE WHEN count(*) = 1 THEN 2 * sum(a1) ELSE sum(a1) END AS a2
  FROM g1 GROUP BY 1, 2, 3
), t AS (
  SELECT doc_id, 1 AS tier, a1 // 2 AS v FROM g1
  UNION ALL
  SELECT doc_id, 2 AS tier, a2 // 4 AS v FROM g2
)
SELECT doc_id, CAST(tier AS BIGINT) AS tier,
       CAST(count(*) AS BIGINT) AS n_out,
       CAST(sum(v) AS BIGINT) AS sum_v,
       CAST(min(v) AS BIGINT) AS min_v,
       CAST(max(v) AS BIGINT) AS max_v
FROM t GROUP BY 1, 2
"""


def q_image_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmentation-style image downsampling end to end: synthetic PGM
    payloads decode with the real netpbm parser, odd axes pad by
    trailing-edge duplication (the reference's code-not-docstring
    odd_to_even2d rule, downsample.py:106-114), and one 2x2 COUNTLESS
    mode tier pools every image (kernels.mode_pool_2d countless-if
    chain, hpp:1023-1042) — the reference's ACTUAL image use case
    through the multimodal path, distributed.  The oracle recomputes
    every pooled pixel arithmetically: pixel(y, x) = (id*37 + y*w + x)
    % 241 with clamped (edge-padded) indices, and the countless chain
    is a flat CASE.  Zero shuffles (plan-pinned)."""
    from ..multimodal import image_downsample, synth_pgm_payloads

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    return image_downsample(synth_pgm_payloads(docs))


_IMAGE_DOWNSAMPLE = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id % 11 + 4 AS BIGINT) AS w,
         CAST(doc_id % 5 + 4 AS BIGINT) AS h
  FROM documents
), dims AS (
  SELECT doc_id, w, h,
         (h + 1) // 2 AS oh, (w + 1) // 2 AS ow
  FROM d
), o AS (
  SELECT doc_id, w, h, oh, ow, unnest(range(0, oh * ow)) AS k
  FROM dims
), px AS (
  SELECT doc_id, oh, ow,
         -- a=(2y,2x) b=(2y+1,2x) c=(2y,2x+1) d=(2y+1,2x+1), indices
         -- clamped to the last row/col (trailing-edge padding)
         (doc_id * 37 + (2 * (k // ow)) * w + (2 * (k % ow))) % 241 AS a,
         (doc_id * 37 + least(2 * (k // ow) + 1, h - 1) * w
            + (2 * (k % ow))) % 241 AS b,
         (doc_id * 37 + (2 * (k // ow)) * w
            + least(2 * (k % ow) + 1, w - 1)) % 241 AS c,
         (doc_id * 37 + least(2 * (k // ow) + 1, h - 1) * w
            + least(2 * (k % ow) + 1, w - 1)) % 241 AS dd
  FROM o
), m AS (
  SELECT doc_id, oh, ow,
         CASE WHEN a = b OR a = c THEN a
              WHEN b = c THEN b
              ELSE dd END AS v
  FROM px
)
SELECT doc_id,
       CAST(oh AS BIGINT) AS out_h,
       CAST(ow AS BIGINT) AS out_w,
       CAST(count(*) AS BIGINT) AS n_out,
       CAST(sum(v) AS BIGINT) AS sum_v,
       CAST(min(v) AS BIGINT) AS min_v,
       CAST(max(v) AS BIGINT) AS max_v
FROM m GROUP BY 1, 2, 3
"""


IMAGE_GATE_MIN_CONTRAST = 20  # keep images with RMS contrast >= this


def q_stream_image_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode UNDER Structured Streaming: the doc ids
    stream in as parquet micro-batches, each batch synthesizes +
    decodes PGM with the real parser and applies the quality gate
    (RMS contrast >= IMAGE_GATE_MIN_CONTRAST) — proving the
    mapInPandas decode chain runs stateless inside a streaming query
    (parquet sink, availableNow drain, exactly-once checkpoint).  The
    end state must value-hash-equal the batch gate: the image-quality
    oracle with the same WHERE, which no streaming state can fudge."""
    import shutil
    import tempfile

    from ..multimodal import image_quality, synth_pgm_payloads

    work = tempfile.mkdtemp(prefix="tb_stream_imggate_")
    try:
        ids_dir = f"{work}/ids"
        (
            load_table(spark, sf_dir, "documents")
            .select(F.col("doc_id").cast("long").alias("doc_id"))
            .repartition(4)  # several files -> several micro-batches
            .write.parquet(ids_dir)
        )
        stream_ids = (
            spark.readStream.schema("doc_id long")
            .option("maxFilesPerTrigger", 2)
            .parquet(ids_dir)
        )
        gated = image_quality(synth_pgm_payloads(stream_ids)).where(
            F.col("contrast_u") >= IMAGE_GATE_MIN_CONTRAST
        )
        out_dir = f"{work}/out"
        q = (
            gated.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(
                "image-gate stream did not drain within 600s — "
                "refusing to return a partial end state"
            )
        rows = spark.read.parquet(out_dir)
        # the sink lives in a temp dir we are about to delete — pin
        # the rows in executor memory before cleanup
        rows = spark.createDataFrame(rows.collect(), rows.schema)
        return rows
    finally:
        shutil.rmtree(work, ignore_errors=True)


_STREAM_IMAGE_GATE = f"""
SELECT * FROM ({_IMAGE_QUALITY.rstrip()}
) WHERE contrast_u >= {IMAGE_GATE_MIN_CONTRAST}
"""


def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing (aHash): nearest-neighbor resize to
    8x8, threshold against the floored mean, pack 64 bits into two
    uint32 halves — the image near-dup primitive (hamming distance on
    these hashes is how image dedup blocks candidates, the visual
    analog of simhash).  A single int64 hash would overflow at bit 63
    under ANSI arithmetic, hence the halves.

    The oracle recomputes all 64 thumbnail pixels per image from the
    synth formula (src index = (k*dim) DIV 8 — exact nearest-neighbor
    both up- and downsampling).  One mapInPandas, zero shuffles."""
    from ..multimodal import image_phash, synth_pgm_payloads

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    return image_phash(synth_pgm_payloads(docs))


_IMAGE_PHASH = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id % 11 + 4 AS BIGINT) AS w,
         CAST(doc_id % 5 + 4 AS BIGINT) AS h
  FROM documents
), t AS (
  SELECT doc_id, unnest(range(0, 64)) AS k, w, h
  FROM d
), v AS (
  SELECT doc_id, k,
         (doc_id * 37 + ((k // 8) * h // 8) * w
            + ((k % 8) * w // 8)) % 241 AS v
  FROM t
), a AS (
  SELECT doc_id, k, v,
         sum(v) OVER (PARTITION BY doc_id) // 64 AS avg
  FROM v
)
SELECT doc_id,
       CAST(sum(CASE WHEN k >= 32 AND v > avg
                     THEN 1::BIGINT << (k - 32) ELSE 0 END) AS BIGINT)
         AS phash_hi,
       CAST(sum(CASE WHEN k < 32 AND v > avg
                     THEN 1::BIGINT << k ELSE 0 END) AS BIGINT)
         AS phash_lo,
       CAST(sum(CASE WHEN v > avg THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bits_set
FROM a GROUP BY doc_id
"""


def q_image_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram equalization under the oracle: the standard integer
    formula eq(v) = (cdf(v) - cdf_min) * 255 DIV (n - cdf_min) applied
    to every decoded pixel — the contrast-normalization transform an
    image pipeline runs between decode and feature extraction
    (q_image_quality DETECTS low contrast; this FIXES it).  Per doc:
    equalized sum/min/max — min 0 and max 255 by construction on any
    image with >= 2 distinct values, which the differential pins.

    The oracle rebuilds each image's cdf from the per-(doc, value)
    census + one bounded window (<= 241 values per doc) and re-maps
    every pixel.  One mapInPandas, zero shuffles."""
    from ..multimodal import image_equalize, synth_pgm_payloads

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    return image_equalize(synth_pgm_payloads(docs))


_IMAGE_EQUALIZE = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id % 11 + 4 AS BIGINT) AS w,
         CAST(doc_id % 5 + 4 AS BIGINT) AS h
  FROM documents
), px AS (
  SELECT doc_id, w * h AS n, unnest(range(0, w * h)) AS i
  FROM d
), v AS (
  SELECT doc_id, n, (doc_id * 37 + i) % 241 AS v FROM px
), census AS (
  SELECT doc_id, n, v, CAST(count(*) AS BIGINT) AS cnt
  FROM v GROUP BY 1, 2, 3
), c AS (
  SELECT doc_id, n, v, cnt,
         sum(cnt) OVER (PARTITION BY doc_id ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM census
), bounds AS (
  SELECT doc_id, n, v, cnt, cum,
         min(cum) OVER (PARTITION BY doc_id) AS cdf_min
  FROM c
), eqv AS (
  SELECT doc_id, v,
         CASE WHEN n - cdf_min = 0 THEN 0
              ELSE (cum - cdf_min) * 255 // (n - cdf_min) END AS eq,
         cnt
  FROM bounds
)
SELECT doc_id,
       CAST(sum(eq * cnt) AS BIGINT) AS eq_sum,
       CAST(min(eq) AS BIGINT) AS eq_min,
       CAST(max(eq) AS BIGINT) AS eq_max
FROM eqv GROUP BY doc_id
"""


PHASH_MAX_HAMMING = 4  # near-dup verify bound (bits)


def q_phash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by banded perceptual-hash blocking: split
    each 64-bit aHash into four 16-bit bands; two images sharing ANY
    band become a candidate pair (pigeonhole: hamming <= 4 over 4
    bands guarantees >= 1 equal 16-bit band... when the <= 4 differing
    bits hit <= 3 bands — with 4 bits in 4 bands a miss requires one
    bit per band, so recall is guaranteed for hamming <= 3 and holds
    for hamming 4 unless the bits split 1+1+1+1; the oracle and Spark
    agree on the same blocking, so the CONTRACT is exact), then exact
    hamming (bit_count of the XOR halves) verifies candidates only —
    the engine's LSH-band discipline transplanted onto the visual
    fingerprint.

    Scale shape — the exact-dup/near-dup split is the load-bearing
    part: hashes first COLLAPSE to distinct-hash groups (hash ->
    (n_docs, rep = min doc_id); exact visual dups stay linear — a
    first cut banded raw docs and a 500-doc fixture already emitted
    77,588 pairs because identical-hash groups pair quadratically),
    then ONLY distinct hashes band (4 bounded rows each), candidate
    pairs join on the 8-byte band key, and the hamming verify is two
    JVM bit_counts per candidate.  Output rows are GROUP pairs
    (rep_a, rep_b, hamming, n_a, n_b) — the n_a * n_b doc-pair count
    is implied, never materialized."""
    from ..multimodal import image_phash, synth_pgm_payloads

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    g = (
        image_phash(synth_pgm_payloads(docs))
        .groupBy("phash_hi", "phash_lo")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("rep"),
        )
        .localCheckpoint()
    )
    bands = g.select(
        "phash_hi",
        "phash_lo",
        "n_docs",
        "rep",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(
                            f"(phash_{'hi' if i >= 2 else 'lo'} >> "
                            f"{(i % 2) * 16}) % 65536"
                        ).alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bv"),
    ).select(
        "phash_hi", "phash_lo", "n_docs", "rep",
        F.col("bv.band").alias("band"), F.col("bv.val").alias("val"),
    )
    a = bands.select(
        F.col("rep").alias("rep_a"),
        F.col("n_docs").alias("n_a"),
        F.col("phash_hi").alias("ha"),
        F.col("phash_lo").alias("la"),
        "band",
        "val",
    )
    b = bands.select(
        F.col("rep").alias("rep_b"),
        F.col("n_docs").alias("n_b"),
        F.col("phash_hi").alias("hb"),
        F.col("phash_lo").alias("lb"),
        F.col("band").alias("band2"),
        F.col("val").alias("val2"),
    )
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("band2"))
            & (F.col("val") == F.col("val2"))
            & (F.col("rep_a") < F.col("rep_b")),
        )
        .select("rep_a", "rep_b", "n_a", "n_b", "ha", "la", "hb", "lb")
        .distinct()
    )
    return (
        cand.select(
            "rep_a",
            "rep_b",
            (
                F.bit_count(F.expr("ha ^ hb"))
                + F.bit_count(F.expr("la ^ lb"))
            ).cast("long").alias("hamming"),
            "n_a",
            "n_b",
        )
        .where(F.col("hamming") <= PHASH_MAX_HAMMING)
    )


def _phash_dup_pairs_sql() -> str:
    return f"""
WITH ph AS (
  SELECT phash_hi, phash_lo,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(min(doc_id) AS BIGINT) AS rep
  FROM ({_IMAGE_PHASH})
  GROUP BY 1, 2
), bands AS (
  SELECT phash_hi, phash_lo, n_docs, rep, band,
         CASE WHEN band >= 2
              THEN (phash_hi >> ((band % 2) * 16)) % 65536
              ELSE (phash_lo >> ((band % 2) * 16)) % 65536 END AS val
  FROM ph CROSS JOIN (SELECT unnest(range(0, 4)) AS band)
), cand AS (
  SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b,
         a.n_docs AS n_a, b.n_docs AS n_b,
         a.phash_hi AS ha, a.phash_lo AS la,
         b.phash_hi AS hb, b.phash_lo AS lb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.rep < b.rep
)
SELECT rep_a, rep_b,
       CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT)
         AS hamming,
       n_a, n_b
FROM cand
WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb))
      <= {PHASH_MAX_HAMMING}
"""


def q_wav_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio SIGNAL features end to end (the stage after q_wav_decode's
    format stats): synthesize the canonical RIFF/WAVE PCM16 payload per
    doc, parse it with the real chunk walker, and emit energy, integer
    RMS, peak amplitude, and per-channel strict zero crossings — the
    silence/clipping gate an audio training pipeline runs before
    transcription.  Every sample is a pure function of (doc_id, i), so
    the oracle recomputes the whole signal arithmetically; isqrt parity
    per the q_source_mixture floor(sqrt) argument.  Zero shuffles —
    one mapInPandas chain, binary never leaves the batch."""
    from ..multimodal import audio_features, synth_wav_payloads

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    return audio_features(synth_wav_payloads(docs))


_WAV_ENERGY = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id % 2 + 1 AS BIGINT) AS n_ch,
         CAST(doc_id % 129 + 64 AS BIGINT) AS n_fr
  FROM documents
), i AS (
  SELECT doc_id, n_ch, n_fr, unnest(range(0, n_fr * n_ch)) AS i
  FROM d
), s AS (
  SELECT doc_id, i % n_ch AS ch, i // n_ch AS fr,
         (doc_id * 37 + 73 * i) % 4001 - 2000 AS v
  FROM i
), z AS (
  SELECT doc_id, v,
         lag(v) OVER (PARTITION BY doc_id, ch ORDER BY fr) AS pv
  FROM s
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(max(abs(v)) AS BIGINT) AS peak_abs,
       CAST(sum(v * v) AS BIGINT) AS energy,
       CAST(floor(sqrt(sum(v * v) // count(*))) AS BIGINT) AS rms_u,
       CAST(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
FROM z GROUP BY doc_id
"""
