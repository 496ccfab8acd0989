"""Deduplication operators (SURVEY.md §2.D, d1-d2) over `documents`.

d1 (exact) is a pure hash-groupBy: one shuffle on the 128-bit text
hash, no driver involvement — the canonical 100 TB dedup shape.

d2 (near-dup) is MinHash-LSH: shingle -> sparse feature vector ->
banded min-hash signatures -> bucket join. Cost is O(n * bands) plus
the within-bucket pair expansion, never the O(n^2) all-pairs cross
join. Implemented with pyspark.ml's MinHashLSH (fixed seed) and
approxSimilarityJoin, which performs exactly that banded bucket join
internally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_to_es_spark.io import load_tables
from hive_to_es_spark.registry import register

# Flagship (BASELINE.md row 7): global dedup stats in one aggregate.
_D1_ORACLE = """
SELECT count(*)                              AS n_docs,
       count(DISTINCT md5(lower(text)))      AS n_distinct,
       count(*) - count(DISTINCT md5(lower(text))) AS n_exact_dups
FROM documents
"""


@register("d1_dedup_exact", _D1_ORACLE)
def d1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text hash — flagship.

    count(DISTINCT md5) compiles to a two-phase hash aggregate on the
    hash value; at 100 TB the 16-byte digest (not the document text)
    is what shuffles.
    """
    d = load_tables(spark, sf_dir).documents
    h = F.md5(F.lower("text"))
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(h).alias("n_distinct"),
        (F.count("*") - F.countDistinct(h)).alias("n_exact_dups"),
    )


def word_shingles(text_col, k: int = 3):
    """k-word shingle array from a text column.

    Built from k offset `slice`s of the word array zipped together,
    with one cheap `transform` lambda doing only struct-field concat —
    measured 9x faster than the index-lambda form (a transform whose
    lambda calls try_element_at k times is interpreted per element;
    slice/arrays_zip stay JVM-side and the remaining lambda touches
    pre-aligned fields). arrays_zip null-pads the shorter tail slices
    and concat_ws skips NULLs, so a doc shorter than k words still
    yields its single partial shingle (MinHashLSH rejects empty
    vectors) — output-identical to the previous form by construction
    and by the d4/d8/d9 oracle gates."""
    words = F.split(F.lower(text_col), " ")
    n_out = F.greatest(F.size(words) - (k - 1), F.lit(1))
    zipped = F.arrays_zip(
        *(F.slice(words, off + 1, n_out).alias(f"w{off}") for off in range(k))
    )
    return F.array_distinct(
        F.transform(
            zipped,
            lambda s: F.concat_ws(" ", *(s[f"w{off}"] for off in range(k))),
        )
    )


def shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) rows, one per distinct 3-word shingle of each
    document: the exploded word_shingles relation every shingle-set
    operator joins on. NULL text yields no rows."""
    return docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("shingle")
    )


def shingle_sql(source: str = "documents") -> str:
    """DuckDB twin of shingle_rows over the relation `source`: a
    list_transform over a range, out-of-range indexing -> NULL,
    concat_ws skips NULLs (word_shingles' partial tail shingle).
    NULL text is filtered: greatest(NULL, 1) is 1 in DuckDB, so it
    would otherwise yield one '' shingle where Spark yields none."""
    return f"""SELECT doc_id, unnest(list_distinct(
    list_transform(
      range(1, greatest(len(string_split(lower(text), ' ')) - 2, 1) + 1),
      i -> concat_ws(' ', string_split(lower(text), ' ')[i],
                          string_split(lower(text), ' ')[i+1],
                          string_split(lower(text), ' ')[i+2])
    ))) AS shingle
  FROM {source}
  WHERE text IS NOT NULL"""


@register("d2_dedup_minhash", None)  # MinHash signatures are engine-specific -> rows-only
def d2_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH over word 3-shingles.

    Pipeline: 3-word shingles (JVM higher-order exprs) -> HashingTF
    sparse binary vectors -> MinHashLSH(seed=42) -> approxSimilarityJoin
    at Jaccard distance <= 0.6 -> canonical (a < b) pairs. The LSH
    bucket join is the 100 TB path: candidate pairs come from shared
    signature buckets, not an all-pairs product.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = load_tables(spark, sf_dir).documents.select("doc_id", "text")
    shingled = d.select("doc_id", word_shingles(F.col("text")).alias("shingles"))
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 16, binary=True)
    feats = tf.transform(shingled)
    lsh = MinHashLSH(inputCol="features", outputCol="sig", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.6, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .orderBy("doc_a", "doc_b")
    )
