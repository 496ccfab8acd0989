"""Text-analysis + multimodal-column operators (SURVEY.md §2.D,
t1-t3 and m1) over `documents` (+ `embeddings` for m1).

Token operations are split()/explode() on the space-separated fixture
text — JVM expressions end to end. The explode in t2 multiplies rows
by ~40 (tokens/doc) before aggregating; at 100 TB that is still the
right shape because the explode output never materializes (it feeds a
partial aggregate in the same stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_to_es_spark.io import load_tables
from hive_to_es_spark.operators.windows import ranged_running_sum
from hive_to_es_spark.registry import register

_T1_ORACLE = """
SELECT lang,
       count(*)                                         AS n_docs,
       round(avg(n_chars), 6)                           AS avg_chars,
       round(avg(len(string_split(text, ' '))), 6)      AS avg_tokens,
       min(n_chars)                                     AS min_chars,
       max(n_chars)                                     AS max_chars,
       count(DISTINCT source)                           AS n_sources
FROM documents
GROUP BY lang
"""


@register("t1_text_stats", _T1_ORACLE)
def t1_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: doc/char/token counts — the quality-
    scoring substrate (length + token-ratio features)."""
    d = load_tables(spark, sf_dir).documents
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 6).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


# tf-idf: tf = term count within source, df = #sources containing the
# term, idf = ln(n_sources/df). Top-5 per source by rounded score with
# term as the unique tiebreak.
_T2_ORACLE = """
WITH tokens AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT source, term, count(*) AS tf FROM tokens GROUP BY source, term
),
df AS (
  SELECT term, count(DISTINCT source) AS df FROM tokens GROUP BY term
),
n AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
scored AS (
  SELECT tf.source, tf.term, tf.tf,
         round(tf.tf * ln(CAST(n.n_sources AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT source, term, tf, tfidf
FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
)
WHERE rn <= 5
"""


@register("t2_tfidf_terms", _T2_ORACLE)
def t2_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf terms per source — explode + two aggregates + a
    window top-k, all map-side-combined."""
    d = load_tables(spark, sf_dir).documents
    tokens = d.select("source", F.explode(F.split("text", " ")).alias("term"))
    tf = tokens.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df = tokens.groupBy("term").agg(F.countDistinct("source").alias("df"))
    n_sources = d.select(F.countDistinct("source").alias("n_sources"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_sources))
        .select(
            "source",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_sources").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.select("source", "term", "tf", "tfidf", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


# Language routing on the PREDICTED language — t7's n-gram langid
# argmax, not the fixture's ground-truth label (production never has
# the label; the whole point of a langid filter is to produce one).
# Docs predicted en/de route 'germanic', fr 'romance', everything else
# is dropped — plus an e-bigram density feature per routed group.
# Oracle shares t7's full CTE chain, so a prediction drift anywhere in
# the profile/score/argmax pipeline fails BOTH t7 and t3.
def _t3_oracle() -> str:
    from hive_to_es_spark.operators.text_ext import LANGID_CTES

    return LANGID_CTES + """
SELECT predicted,
       CASE WHEN predicted IN ('en', 'de') THEN 'germanic' ELSE 'romance' END AS route,
       count(*) AS n_docs,
       round(avg(CAST(len(string_split(d.text, 'e')) - 1 AS DOUBLE)
                 / nullif(d.n_chars, 0)), 6) AS e_density
FROM best b JOIN documents d USING (doc_id)
WHERE b.rn = 1 AND predicted IN ('en', 'de', 'fr')
GROUP BY predicted
"""


@register("t3_langid_filter", _t3_oracle())
def t3_langid_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language filter + routing keyed on the langid PREDICTION
    (operators/text_ext.langid_predictions), with an n-gram density
    feature per routed group."""
    from hive_to_es_spark.operators.text_ext import langid_predictions

    d = load_tables(spark, sf_dir).documents
    pred = langid_predictions(d).select("doc_id", "predicted")
    routed = (
        d.join(pred, "doc_id")
        .filter(F.col("predicted").isin("en", "de", "fr"))
        .select(
            "predicted",
            F.when(F.col("predicted").isin("en", "de"), "germanic")
            .otherwise("romance")
            .alias("route"),
            (
                (F.size(F.split("text", "e")) - 1).cast("double")
                / F.nullif(F.col("n_chars"), F.lit(0))
            ).alias("ed"),
        )
    )
    return (
        routed.groupBy("predicted", "route")
        .agg(F.count("*").alias("n_docs"), F.round(F.avg("ed"), 6).alias("e_density"))
        .select("predicted", "route", "n_docs", "e_density")
    )


# Multimodal column pattern: one struct column per document carrying
# text + embedding + typed metadata + an opaque binary payload. The
# struct is assembled, then fields are re-projected out (scalarized for
# the cross-engine hash); media decode itself is stubbed in
# functions/multimodal.py (no image/audio libs in this container).
_M1_ORACLE = """
SELECT d.doc_id,
       length(d.text)        AS text_len,
       len(e.embedding)      AS emb_dim,
       d.lang                AS lang,
       d.source              AS source,
       round(CAST(e.embedding[1] AS DOUBLE), 6) AS emb_first,
       md5(d.text)           AS media_md5
FROM documents d
JOIN embeddings e ON d.doc_id = e.vec_id
"""


@register("m1_multimodal_cols", _M1_ORACLE)
def m1_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal record assembly: struct{text, embedding, meta,
    media binary} from documents x embeddings, then scalarized.

    The binary column stands in for raw image/audio bytes; md5 over it
    proves the bytes survive the struct round trip. Real decoding is a
    mapInPandas stub (functions/multimodal.py) — the Spark-side schema
    and plumbing are what this operator pins down.
    """
    t = load_tables(spark, sf_dir)
    joined = t.documents.join(t.embeddings, t.documents.doc_id == t.embeddings.vec_id)
    record = F.struct(
        F.col("text").alias("text"),
        F.col("embedding").alias("embedding"),
        F.struct(F.col("lang").alias("lang"), F.col("source").alias("source")).alias("meta"),
        F.encode(F.col("text"), "UTF-8").alias("media"),
    )
    assembled = joined.select("doc_id", record.alias("mm"))
    return assembled.select(
        "doc_id",
        F.length(F.col("mm.text")).alias("text_len"),
        F.size(F.col("mm.embedding")).alias("emb_dim"),
        F.col("mm.meta.lang").alias("lang"),
        F.col("mm.meta.source").alias("source"),
        F.round(F.element_at(F.col("mm.embedding"), 1).cast("double"), 6).alias("emb_first"),
        F.md5(F.col("mm.media")).alias("media_md5"),
    )


# The oracle predicts the DECODED geometry and byte size from table
# columns alone: the Spark side builds real BMP/PPM files and parses
# their headers back (functions/multimodal.py); SQL re-derives what
# the parse must find — including the PPM header length varying with
# the DIGIT COUNT of the dimensions, which only matches if the decode
# is byte-real.
_M2_ORACLE = """
WITH dims AS (
  SELECT doc_id,
         1 + n_chars % 60 AS width,
         1 + doc_id % 40 AS height,
         CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS media_type
  FROM documents
),
sized AS (
  SELECT doc_id, media_type, width, height,
         CASE WHEN media_type = 'bmp'
              THEN 54 + height * (((3 * width) + 3) // 4 * 4)
              ELSE 9 + length(CAST(width AS VARCHAR))
                     + length(CAST(height AS VARCHAR)) + 3 * width * height
         END AS n_bytes,
         least(1.0, 32.0 / greatest(width, height)) AS scale_raw
  FROM dims
)
SELECT doc_id, media_type,
       CAST(n_bytes AS INTEGER) AS n_bytes,
       CAST(width AS INTEGER) AS width,
       CAST(height AS INTEGER) AS height,
       round(scale_raw, 6) AS scale,
       CAST(ceil(width * scale_raw) AS INTEGER) AS out_width,
       CAST(ceil(height * scale_raw) AS INTEGER) AS out_height
FROM sized
"""


@register("m2_media_decode", _M2_ORACLE)
def m2_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode pipeline over binary media columns, decoding
    REAL formats: every document gets a spec-conformant image payload
    (even ids 24-bit BMP, odd ids binary PPM — dimensions derived from
    row columns), the mapInPandas stage parses the actual headers
    (little-endian BITMAPINFOHEADER fields / ASCII PNM tokens), and
    the resize stage is pure column arithmetic. Value-verified: the
    oracle recomputes the expected geometry and file size in SQL, so
    a decoder that misread even one header byte would hash-mismatch."""
    from hive_to_es_spark.functions.multimodal import (
        decode_media,
        encode_fixture_media,
        resize_media,
    )

    d = load_tables(spark, sf_dir).documents
    decoded = decode_media(encode_fixture_media(d))
    return resize_media(decoded, max_px=32).select(
        "doc_id",
        "media_type",
        "n_bytes",
        "width",
        "height",
        "scale",
        "out_width",
        "out_height",
    )


_M3_ORACLE = """
WITH spec AS (
  SELECT doc_id, text,
         1 + octet_length(CAST(text AS BLOB)) % 300 AS n_frames
  FROM documents
),
fr AS (
  SELECT doc_id, text, n_frames, unnest(range(0, n_frames, 10)) AS frame_idx
  FROM spec
)
SELECT doc_id,
       CAST(n_frames AS INTEGER) AS n_frames,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       md5(text || '-' || CAST(frame_idx AS VARCHAR)) AS frame_checksum
FROM fr
"""


@register("m3_frame_sample", _M3_ORACLE)
def m3_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-shaped frame sampling: 1 row in -> K rows out through
    mapInPandas — the registered, value-verified twin of
    functions/multimodal.sample_frames (which keeps the realistic
    sha1-over-raw-bytes digest that no SQL engine can replay).

    The "video" payload is the document's UTF-8 bytes; frame count is
    derived from the BYTE length (multi-byte zh text ≠ char count —
    the oracle must count octets too), and every 10th frame is emitted
    with a digest keyed on (content, frame index). Both sides of the
    contract are engine-portable (md5 over a string), so unlike m2 —
    whose oracle re-derives geometry only — this one value-verifies
    the Python stage's EXPLODED row set: frame indices, per-doc frame
    counts, and per-frame digests.

    Scale shape: mapInPandas streams Arrow batches; output rows never
    materialize per-doc lists driver- or executor-wide beyond one
    batch. Row explosion is bounded (<=30 frames/doc at stride 10);
    a real decoder (pyav) would slot into the same iterator with the
    same schema. No shuffle at all — sampling is embarrassingly
    parallel over input partitions.
    """
    d = load_tables(spark, sf_dir).documents.select("doc_id", "text")
    schema = "doc_id BIGINT, n_frames INT, frame_idx INT, frame_checksum STRING"

    def sample(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, ns, idxs, sums = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                n = 1 + len(text.encode("utf-8")) % 300
                for i in range(0, n, 10):
                    ids.append(doc_id)
                    ns.append(n)
                    idxs.append(i)
                    sums.append(
                        hashlib.md5(f"{text}-{i}".encode("utf-8")).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_frames": ns,
                    "frame_idx": idxs,
                    "frame_checksum": sums,
                }
            )

    return d.mapInPandas(sample, schema)


# The oracle predicts pixel STATISTICS from table columns alone: every
# fixture image is a uniform fill of (doc_id % 256), so mean_px must
# equal the fill exactly — but ONLY for a reader that strips BMP's
# per-row stride padding (pad zeros drag the mean down whenever
# 3*width % 4 != 0) and skips PPM's variable-length ASCII header.
_M4_ORACLE = """
WITH dims AS (
  SELECT doc_id,
         1 + n_chars % 60 AS w,
         1 + doc_id % 40 AS h,
         CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS media_type,
         doc_id % 256 AS fill
  FROM documents
)
SELECT doc_id, media_type,
       CAST(w * h AS BIGINT) AS n_pixels,
       round(CAST(fill AS DOUBLE), 4) AS mean_px,
       CAST(CASE WHEN fill = 0 THEN 3 * w * h ELSE 0 END AS BIGINT)
         AS n_zero_bytes
FROM dims
"""


@register("m4_media_features", _M4_ORACLE)
def m4_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-level feature extraction over binary media — completes
    the multimodal ladder (m1 assemble, m2 decode+resize, m3 frame
    sample, m4 features): per-image channel statistics computed from
    the actual pixel bytes via mapInPandas (functions/multimodal.
    extract_features), value-verified because the fixture images are
    uniform fills whose statistics the oracle re-derives from table
    columns. Stride/header mishandling shifts mean_px and breaks the
    hash — the same byte-real proof style as m2's header arithmetic.

    Scale shape: embarrassingly parallel single pass (1 row in -> 1
    row out, Arrow batches); the stats stand in for any per-image
    featurizer (embedding model, perceptual hash) with identical
    plumbing."""
    from hive_to_es_spark.functions.multimodal import (
        encode_fixture_media,
        extract_features,
    )

    d = load_tables(spark, sf_dir).documents
    return extract_features(encode_fixture_media(d))


# m5 — the audio rung of the multimodal ladder (m2/m4 are images,
# m3 video-shaped frames): real WAV container decode + waveform
# statistics over the actual PCM bytes. The payload is synthesized
# deterministically from row columns (functions/multimodal.
# encode_fixture_audio docstring), so the oracle re-derives every
# statistic from the GENERATOR FORMULA while the Spark path computes
# them from the decoded BYTES — independent derivations that can only
# agree if container build, header parse and byte math are all exact.
_M5_ORACLE = """
WITH spec AS (
  SELECT doc_id, 1 + n_chars % 400 AS n_samples FROM documents
),
wave AS (
  SELECT doc_id, n_samples,
         list_transform(range(0, n_samples), i -> (doc_id * 31 + i * 17) % 256) AS s
  FROM spec
)
SELECT doc_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(n_samples AS INTEGER) AS n_samples,
       CAST(n_samples * 1000 // 8000 AS INTEGER) AS duration_ms,
       CAST(list_max(s) AS INTEGER) AS peak,
       CAST(list_aggregate(s, 'sum') AS BIGINT) AS sum_amp,
       CAST(list_aggregate(list_transform(s, x -> x * x), 'sum') AS BIGINT) AS energy
FROM wave
"""


@register("m5_audio_features", _M5_ORACLE)
def m5_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over binary waveform columns: every
    document gets a real 8-bit-PCM WAV payload (header arithmetic, no
    audio libs — the m2 approach applied to RIFF), the mapInPandas
    stage parses the fmt chunk and computes peak / amplitude-sum /
    energy over the decoded samples. Arrow-batched end to end; at
    100 TB the binary column scans in parallel and features are a
    narrow projection — the same plumbing a real (librosa-backed)
    extractor would ride, with the codec swapped in behind the same
    mapInPandas signature."""
    from hive_to_es_spark.functions.multimodal import (
        audio_features,
        encode_fixture_audio,
    )

    d = load_tables(spark, sf_dir).documents
    return audio_features(encode_fixture_audio(d))


# m6 — perceptual image signature on NON-uniform pixels. m2/m4 prove
# header+stride arithmetic on flat fills, but a flat fill cannot see
# row ORDER: BMP stores rows bottom-up, PPM top-down, and a decoder
# that ignores that still passes m4. The gradient fixture
# (pixel = (doc_id*7 + 13y + 3x) % 256) makes order observable, and
# the oracle re-derives both band signatures from the generator
# formula with nested list lambdas — agreement requires container
# build, bottom-up unwind, stride strip, AND the integer band
# comparisons to all be exact. Signature bits compare adjacent band
# MEANS by cross-multiplication (sum_i*n_{i+1} vs sum_{i+1}*n_i): no
# float division, so the bit pattern is engine-portable.
_M6_ORACLE = """
WITH dims AS (
  SELECT doc_id, 1 + n_chars % 60 AS w, 1 + doc_id % 40 AS h FROM documents
),
profiles AS (
  SELECT doc_id, w, h,
    list_transform(range(0, w), x -> CAST(coalesce(list_sum(
      list_transform(range(0, h), y -> (doc_id*7 + y*13 + x*3) % 256)), 0) AS BIGINT)) AS colsum,
    list_transform(range(0, h), y -> CAST(coalesce(list_sum(
      list_transform(range(0, w), x -> (doc_id*7 + y*13 + x*3) % 256)), 0) AS BIGINT)) AS rowsum
  FROM dims
),
bands AS (
  SELECT doc_id, w, h,
    list_transform(range(0, 9), i -> CAST(coalesce(list_sum(colsum[(i*w//9)+1 : ((i+1)*w//9)]), 0) AS BIGINT)) AS cs,
    list_transform(range(0, 9), i -> CAST((((i+1)*w//9) - (i*w//9)) * h AS BIGINT)) AS cn,
    list_transform(range(0, 9), i -> CAST(coalesce(list_sum(rowsum[(i*h//9)+1 : ((i+1)*h//9)]), 0) AS BIGINT)) AS rs,
    list_transform(range(0, 9), i -> CAST((((i+1)*h//9) - (i*h//9)) * w AS BIGINT)) AS rn,
    CAST(coalesce(list_sum(colsum), 0) AS BIGINT) AS total_sum
  FROM profiles
)
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS media_type,
  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height, total_sum,
  CAST(coalesce(list_sum(list_transform(range(0, 8),
    i -> CASE WHEN cs[i+1]*cn[i+2] > cs[i+2]*cn[i+1] THEN 1 << i ELSE 0 END)), 0) AS BIGINT) AS sig_cols,
  CAST(coalesce(list_sum(list_transform(range(0, 8),
    i -> CASE WHEN rs[i+1]*rn[i+2] > rs[i+2]*rn[i+1] THEN 1 << i ELSE 0 END)), 0) AS BIGINT) AS sig_rows
FROM bands
"""


@register("m6_image_signature", _M6_ORACLE)
def m6_image_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image signatures over binary media columns (see the
    module comment above): every document gets a REAL gradient BMP
    (even ids, bottom-up rows + stride padding) or P6 PPM (odd ids,
    top-down), and one Arrow-batched mapInPandas pass decodes the
    bytes and computes two 8-bit dHash-style band signatures plus the
    exact pixel sum. Near-dup images then block on (sig_cols,
    sig_rows) — d6's LSH-bucket pattern with the signature as the
    bucket key; at 100 TB the decode scan is embarrassingly parallel
    and only 7 narrow columns leave it."""
    from hive_to_es_spark.functions.multimodal import (
        encode_fixture_gradient,
        image_signature,
    )

    d = load_tables(spark, sf_dir).documents
    return image_signature(encode_fixture_gradient(d))


# m7 — perceptual near-dup pairs over m6's band signatures. The
# 2-band pigeonhole is exact for the hamming<=1 contract: total
# hamming = h(sig_cols) + h(sig_rows) <= 1 forces at least one band
# to match exactly, so the two band equi-joins cannot miss a pair.
_M7_ORACLE = f"""
WITH sig AS ({_M6_ORACLE}),
a AS (
  SELECT doc_id, width, height, sig_cols, sig_rows,
         sig_cols * 256 + sig_rows AS s16
  FROM sig
),
cand AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.width, x.height,
         CAST(bit_count(xor(x.s16, y.s16)) AS BIGINT) AS hamming
  FROM a x JOIN a y
    ON x.doc_id < y.doc_id AND x.width = y.width AND x.height = y.height
   AND x.sig_cols = y.sig_cols
  UNION
  SELECT x.doc_id, y.doc_id, x.width, x.height,
         CAST(bit_count(xor(x.s16, y.s16)) AS BIGINT)
  FROM a x JOIN a y
    ON x.doc_id < y.doc_id AND x.width = y.width AND x.height = y.height
   AND x.sig_rows = y.sig_rows
)
SELECT doc_a, doc_b, width, height, hamming FROM cand WHERE hamming <= 1
"""


@register("m7_image_neardup", _M7_ORACLE)
def m7_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-duplicate pairs: same pixel dimensions
    and combined 16-bit band signature within hamming distance 1 —
    the image-side analogue of d3's SimHash text dedup, closing the
    multimodal ladder (m6 produces the signature, m7 consumes it; a
    re-encoded or one-band-flipped copy of an image is caught where
    byte-exact d1 hashing is blind).

    Candidate generation is the d3/d6 banding idiom made EXACT by
    pigeonhole: hamming(s16) <= 1 means at least one of the two 8-bit
    bands matches exactly, so two equi-joins on (width, height,
    band) provably enumerate every qualifying pair — no recall
    haircut to audit. Both joins are hash joins on composite keys;
    the pair stream is bounded by block occupancy, never all-pairs.
    Fixture non-vacuity: both the hamming=0 and hamming=1 classes
    are populated at sf0.01 (5 + 4 pairs), so the XOR path is
    exercised, not just signature equality. At production scale the
    signature widens to 64 bits in 4 bands (d3's layout) — same
    plan, finer blocks; dims in the key keep trivially-different
    images out of every block. bit_count(XOR) stays in whole-stage
    codegen on both engines."""
    from hive_to_es_spark.functions.multimodal import (
        encode_fixture_gradient,
        image_signature,
    )

    d = load_tables(spark, sf_dir).documents
    sig = image_signature(encode_fixture_gradient(d)).select(
        "doc_id",
        "width",
        "height",
        "sig_cols",
        "sig_rows",
        (F.col("sig_cols") * 256 + F.col("sig_rows")).alias("s16"),
    )

    def side(tag: str) -> DataFrame:
        return sig.select(
            F.col("doc_id").alias(f"doc_{tag}"),
            F.col("width").alias(f"w_{tag}"),
            F.col("height").alias(f"h_{tag}"),
            F.col("sig_cols").alias(f"sc_{tag}"),
            F.col("sig_rows").alias(f"sr_{tag}"),
            F.col("s16").alias(f"s16_{tag}"),
        )

    x, y = side("a"), side("b")
    base = (F.col("doc_a") < F.col("doc_b")) & (
        F.col("w_a") == F.col("w_b")
    ) & (F.col("h_a") == F.col("h_b"))
    hamming = F.bit_count(
        F.col("s16_a").bitwiseXOR(F.col("s16_b"))
    ).cast("bigint")
    out_cols = [
        F.col("doc_a"),
        F.col("doc_b"),
        F.col("w_a").alias("width"),
        F.col("h_a").alias("height"),
        hamming.alias("hamming"),
    ]
    cand = (
        x.join(y, base & (F.col("sc_a") == F.col("sc_b")))
        .select(*out_cols)
        .union(
            x.join(y, base & (F.col("sr_a") == F.col("sr_b"))).select(*out_cols)
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= 1)


# m8 — the video-container rung (r7-verdict task 7), completing the
# multimodal ladder: image decode m2/m4/m6, audio m5, opaque-payload
# frame sampling m3 — m8 does m3's sampling over a REAL AVI container
# built and parsed by header arithmetic. The oracle re-derives every
# emitted value (container size, avih geometry, '00db' chunk sizes,
# stride-stripped frame fill) from the generator formula, so a parser
# that misreads one header field or forgets the BMP-rule row padding
# hash-mismatches.
_M8_ORACLE = """
WITH spec AS (
  SELECT doc_id,
         1 + n_chars % 16 AS w,
         1 + doc_id % 12 AS h,
         1 + doc_id % 9 AS nf
  FROM documents
),
sized AS (
  SELECT doc_id, w, h, nf,
         CAST(h * ((3 * w + 3) // 4 * 4) AS BIGINT) AS fb
  FROM spec
),
fr AS (
  SELECT doc_id, w, h, nf, fb, unnest(range(0, nf, 2)) AS frame_idx
  FROM sized
)
SELECT doc_id,
       CAST(224 + nf * (8 + fb) AS BIGINT) AS n_bytes,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST((doc_id * 31 + frame_idx * 7) % 256 AS INTEGER) AS frame_fill,
       fb AS frame_bytes
FROM fr
"""


@register("m8_video_container", _M8_ORACLE)
def m8_video_container(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video container decode + frame sampling over REAL AVI payloads:
    every document gets a spec-conformant RIFF/AVI (avih + vids/DIB
    strl + movi '00db' chunks of stride-padded 24-bit frames, all
    header arithmetic — functions/multimodal.make_avi), and the
    mapInPandas stage parses the actual container: geometry from
    avih, per-frame sizes from the chunk headers cross-checked
    against strf's biSizeImage, fill values from the stride-stripped
    pixels, emitting every 2nd frame (m3's 1-in -> K-out signature).

    Scale shape: embarrassingly parallel single pass over the binary
    column, Arrow batches, no shuffle; row explosion bounded by
    n_frames/2 <= 5 per doc. A real MJPEG/pyav decoder slots into the
    same iterator with the same schema — the container walk, not the
    codec, is the Spark-side contract."""
    from hive_to_es_spark.functions.multimodal import (
        encode_fixture_video,
        video_frame_sample,
    )

    d = load_tables(spark, sf_dir).documents
    return video_frame_sample(encode_fixture_video(d), every_nth=2)


# m9 — multimodal training-sequence packing: the step the m-ladder
# decodes toward and p12 budgets for but nothing composed (r8 verdict
# task 5). Every document becomes an ordered item stream — one image
# item (its media payload priced in vision tokens from the SAME m2
# dimension derivation: patches of 8, ceil(w/8)*ceil(h/8)) followed by
# its 16-token text chunks (g8's chunker with stride == window: no
# overlap, training not retrieval) — and the global stream is packed
# greedily into 256-token sequences by START offset (p12's rule: items
# never split, a sequence overflows by at most one item). Deterministic
# end to end, so the whole packing is oracle-expressible.
_M9_BUDGET = 256
_M9_CHUNK = 16
_M9_ORACLE = f"""
WITH items AS (
  SELECT doc_id, 0 AS item_no,
         CAST(((1 + n_chars % 60 + 7) // 8) * ((1 + doc_id % 40 + 7) // 8)
              AS BIGINT) AS w,
         1 AS is_image
  FROM documents
  UNION ALL
  SELECT doc_id, CAST(i AS INTEGER) AS item_no,
         CAST(least({_M9_CHUNK}, nt - (i - 1) * {_M9_CHUNK}) AS BIGINT) AS w,
         0 AS is_image
  FROM (
    SELECT doc_id,
           unnest(range(1, (nt + {_M9_CHUNK - 1}) // {_M9_CHUNK} + 1)) AS i,
           nt
    FROM (SELECT doc_id, len(string_split(lower(text), ' ')) AS nt
          FROM documents)
  )
),
packed AS (
  SELECT doc_id, w, is_image,
         CAST((sum(w) OVER (ORDER BY doc_id, item_no) - w) // {_M9_BUDGET}
              AS BIGINT) AS seq_id
  FROM items
)
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(is_image) AS BIGINT) AS n_images,
       CAST(sum(CASE WHEN is_image = 0 THEN w ELSE 0 END) AS BIGINT)
         AS text_tokens,
       CAST(sum(CASE WHEN is_image = 1 THEN w ELSE 0 END) AS BIGINT)
         AS image_tokens,
       CAST(sum(w) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM packed GROUP BY seq_id
"""


@register("m9_multimodal_pack", _M9_ORACLE)
def m9_multimodal_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack interleaved (image, text-chunk) item streams into
    256-token training sequences — the composition of m1's multimodal
    record, g8's chunker (non-overlapping here), and p12's
    weight-budgeted packing into ONE plan, with per-sequence modality
    accounting (text vs vision tokens, docs spanned, boundaries).

    Packing semantics (engine-identical by construction): items are
    globally ordered (doc_id, item_no) with the image at item_no 0;
    an item lands in sequence floor(start_offset / budget), so items
    are never split and a sequence exceeds the budget by at most one
    item (max 40 vision tokens here) — the standard greedy
    sequence-packing a data loader performs, moved into the engine
    where it parallelizes and audits.

    Plan: the global running weight is ranged_running_sum over
    (doc_id, item_no) — NO global window. Its ranges key on doc_id,
    so every doc's items land in one range and the 2^20 item_no
    headroom of a synthetic single key is unnecessary. The item
    explode is scan-side (transform + explode, no UDF); the only
    shuffle is the range-window sort plus the final |sequences|-key
    aggregate."""
    d = load_tables(spark, sf_dir).documents
    img = d.select(
        "doc_id",
        F.lit(0).alias("item_no"),
        F.expr(
            "CAST(((1 + n_chars % 60 + 7) div 8) "
            "* ((1 + doc_id % 40 + 7) div 8) AS BIGINT)"
        ).alias("w"),
        F.lit(1).alias("is_image"),
    )
    chunks = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, (size(split(lower(text), ' ')) "
                f"+ {_M9_CHUNK - 1}) div {_M9_CHUNK}), "
                f"i -> struct(i AS item_no, "
                f"CAST(least({_M9_CHUNK}, size(split(lower(text), ' ')) "
                f"- (i - 1) * {_M9_CHUNK}) AS BIGINT) AS w))"
            )
        ).alias("it"),
    ).select(
        "doc_id",
        F.col("it.item_no").alias("item_no"),
        F.col("it.w").alias("w"),
        F.lit(0).alias("is_image"),
    )
    items = img.unionByName(chunks)
    return (
        ranged_running_sum(
            items, "w", ["doc_id", "item_no"], spark.sparkContext.defaultParallelism
        )
        .withColumn("seq_id", F.expr(f"(_cum - w) div {_M9_BUDGET}").cast("bigint"))
        .groupBy("seq_id")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("is_image").cast("bigint").alias("n_images"),
            F.sum(F.when(F.col("is_image") == 0, F.col("w")).otherwise(0))
            .cast("bigint")
            .alias("text_tokens"),
            F.sum(F.when(F.col("is_image") == 1, F.col("w")).otherwise(0))
            .cast("bigint")
            .alias("image_tokens"),
            F.sum("w").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )
