"""Extended text-analysis operators (training-data pipeline set):
quality scoring (t4), BPE-ish token counting (t5), k-gram min-hash
document fingerprinting (t6), and n-gram language-ID (t7).

All pure JVM expressions over `documents`; each is the standard
LLM-corpus preprocessing stage expressed as one declarative plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_to_es_spark.functions.hashing import hash_bucket, md5_60_sql
from hive_to_es_spark.io import load_tables
from hive_to_es_spark.operators.dedup import shingle_rows, shingle_sql
from hive_to_es_spark.registry import register

# Fixed stopword list (function words; intersects the fixture's SQL-ish
# vocabulary where it does — the ratio is the feature, not the list).
_STOPWORDS = ("a", "the", "of", "and", "in", "to", "is", "on", "for", "with")

# Shared CTE fragment: the t4 quality formula in SQL. o9's weighted
# sampler composes the SAME text so the two oracles cannot drift from
# each other (mirror of the shared quality_expr on the Spark side).
QUALITY_CTE_SQL = f"""feats AS (
  SELECT doc_id, lang, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 6) AS chars_per_token,
         round(CAST(len(list_filter(string_split(text, ' '),
                    w -> list_contains({list(_STOPWORDS)}, w))) AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS stopword_ratio,
         round(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
               / n_chars, 6) AS punct_ratio
  FROM documents
),
scored AS (
  SELECT *,
         round(0.4 * least(n_tokens / 50.0, 1.0)
             + 0.3 * (1.0 - punct_ratio)
             + 0.3 * least(stopword_ratio * 5.0, 1.0), 6) AS quality
  FROM feats
)"""

_T4_ORACLE = f"""
WITH {QUALITY_CTE_SQL}
SELECT lang,
       CASE WHEN quality >= 0.7 THEN 'high'
            WHEN quality >= 0.5 THEN 'mid' ELSE 'low' END AS tier,
       count(*) AS n_docs,
       round(avg(quality), 6) AS avg_quality,
       round(avg(chars_per_token), 6) AS avg_cpt
FROM scored
GROUP BY lang, tier
"""


def quality_expr(text_col: str = "text", n_chars_col: str = "n_chars"):
    """(quality, n_tokens) column pair — the t4 scoring formula,
    shared verbatim by t4 and the p10 composed pipeline so both carry
    the identical keep/drop gate (and the identical oracle SQL)."""
    tokens = F.split(text_col, " ")
    n_tokens = F.size(tokens)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    stopword_ratio = F.round(
        F.size(F.filter(tokens, lambda w: F.array_contains(stop_arr, w))).cast("double")
        / n_tokens,
        6,
    )
    punct_ratio = F.round(
        F.length(F.regexp_replace(text_col, "[a-z0-9 ]", "")).cast("double")
        / F.col(n_chars_col),
        6,
    )
    quality = F.round(
        0.4 * F.least(n_tokens / 50.0, F.lit(1.0))
        + 0.3 * (1.0 - punct_ratio)
        + 0.3 * F.least(stopword_ratio * 5.0, F.lit(1.0)),
        6,
    )
    return quality, n_tokens


@register("t4_quality_score", _T4_ORACLE)
def t4_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length, punctuation and stopword
    ratios combined into one bounded score, bucketed per language —
    the standard keep/drop gate of corpus cleaning."""
    d = load_tables(spark, sf_dir).documents
    n_tokens = F.size(F.split("text", " "))
    quality, _ = quality_expr()
    tier = (
        F.when(quality >= 0.7, "high").when(quality >= 0.5, "mid").otherwise("low")
    )
    feats = d.select(
        "lang",
        quality.alias("quality"),
        tier.alias("tier"),
        F.round(F.col("n_chars").cast("double") / n_tokens, 6).alias("chars_per_token"),
    )
    return feats.groupBy("lang", "tier").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.round(F.avg("chars_per_token"), 6).alias("avg_cpt"),
    )


# BPE-ish regex: word pieces (<=4 chars), digit runs, punctuation runs —
# an upper-bound token estimate without a tokenizer model.
_BPE_PATTERN = "[a-z]{1,4}|[0-9]+|[^a-z0-9 ]+"

_T5_ORACLE = f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '{_BPE_PATTERN}'))) AS BIGINT) AS bpe_tokens,
       round(avg(CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS DOUBLE)
                 / len(string_split(text, ' '))), 6) AS bpe_per_word
FROM documents
GROUP BY source
"""


@register("t5_token_count_bpe", _T5_ORACLE)
def t5_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    piece count (4-char word pieces + digit/punct runs) — the budget
    estimator for training-data token accounting."""
    d = load_tables(spark, sf_dir).documents
    ws = F.size(F.split("text", " "))
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0)))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(ws).cast("bigint").alias("ws_tokens"),
        F.sum(bpe).cast("bigint").alias("bpe_tokens"),
        F.round(F.avg(bpe.cast("double") / ws), 6).alias("bpe_per_word"),
    )


_T6_ORACLE = f"""
WITH sh AS (
  {shingle_sql()}
)
SELECT doc_id,
       min(md5(shingle)) AS fingerprint,
       count(*) AS n_kgrams
FROM sh GROUP BY doc_id
"""


@register("t6_fingerprint", _T6_ORACLE)
def t6_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: min-hash over rolling k-gram hashes
    (winnowing-style). Two documents sharing their minimum k-gram hash
    are near-dup candidates; the fingerprint is one 128-bit value per
    document regardless of length — O(1) state to cluster on."""
    d = load_tables(spark, sf_dir).documents
    sh = shingle_rows(d)
    return sh.groupBy("doc_id").agg(
        F.min(F.md5("shingle")).alias("fingerprint"),
        F.count("*").alias("n_kgrams"),
    )


# Character-bigram profile language-ID. NOTE (measured, FIXTURES-level
# fact): every fixture language shares one 31-word vocabulary, so
# content-based langid is chance-level HERE by construction — the
# operator's value is the profile-join plan, which is the real
# n-gram-langid shape (train profiles per lang, score docs against all
# profiles, argmax). Deterministic via (count, bigram, lang) tiebreaks.
# The shared langid CTE chain (through `best`): t7 aggregates the
# confusion matrix from it; t3's oracle routes on the prediction.
LANGID_CTES = """
WITH bigrams AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, length(text)),
                               i -> substring(text, i, 2))) AS bg
  FROM documents
),
profile AS (
  SELECT lang, bg, count(*) AS n,
         row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, bg ASC) AS rn
  FROM bigrams GROUP BY lang, bg
),
top_profile AS (SELECT lang AS profile_lang, bg FROM profile WHERE rn <= 20),
scores AS (
  SELECT b.doc_id, b.lang, p.profile_lang, count(*) AS overlap
  FROM (SELECT DISTINCT doc_id, lang, bg FROM bigrams) b
  JOIN top_profile p USING (bg)
  GROUP BY b.doc_id, b.lang, p.profile_lang
),
best AS (
  SELECT doc_id, lang, profile_lang AS predicted,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY overlap DESC, profile_lang ASC) AS rn
  FROM scores
)
"""

_T7_ORACLE = LANGID_CTES + """
SELECT lang, predicted, count(*) AS n_docs
FROM best WHERE rn = 1
GROUP BY lang, predicted
"""


def _bigrams_from_chars(ch_col: str = "_ch"):
    """In-row character-bigram array from a PRE-PROJECTED char-array
    column (F.split(text, '') materialized first). Two load-bearing
    details (round 14, measured):

    - bigram i must NOT be text.substr(i, 2): substring by codepoint
      index re-scans the string from the start on every call, so the
      transform is O(len²) per document (measured 1.7 s for the bare
      bigram explode at sf0.1 — ~437M char scans); element_at on the
      char array is O(1), making the row O(len).
    - the char split must be a COLUMN, not an inline expression:
      Spark does not common-subexpression-eliminate inside lambda
      bodies (the dsir_features lesson), so an inline split would
      re-split the text once per element — O(len²) again. A bare
      column reference inside the lambda is free.

    Guard: sequence(1, 0) DESCENDS ([1, 0]) and would emit spurious
    bigrams for texts of length <= 1 (the DuckDB oracle's
    range(1, length) yields none there); NULL text splits to NULL and
    takes the same empty-array arm."""
    ch = F.col(ch_col)
    return F.transform(
        F.when(
            F.size(ch) >= 2, F.sequence(F.lit(1), F.size(ch) - 1)
        ).otherwise(F.array()),
        lambda i: F.concat(F.element_at(ch, i), F.element_at(ch, i + 1)),
    )


def langid_predictions(d: DataFrame) -> DataFrame:
    """Per-document n-gram language-ID predictions (doc_id, lang,
    predicted): per-language character-bigram profiles, docs scored by
    top-20-profile overlap, deterministic argmax. Shared by t7
    (confusion counts), t3 (routing on the PREDICTION — the honest
    langid-filter shape: production never has the true label) and
    p26's lang gate.

    Round 14 made bigram GENERATION O(len) per document via the
    pre-split char array (_bigrams_from_chars — substr-by-index was
    O(len²), ~55% of the whole operator's time; measured 3.08 s ->
    1.60 s at sf0.1) and shared the bigram stream between its two
    consumers through a LAZY localCheckpoint (eager=False — no job at
    build, materialized under the first job that touches it), so the
    corpus bigram pass runs ONCE instead of once per consumer.

    Round 15 (guide §2.3/§2.4): the shared checkpoint now holds the
    per-doc bigram ARRAY (one row per document) instead of the
    exploded (doc, lang, bg) stream — ~len x fewer checkpointed rows
    — and the doc-side DISTINCT is computed IN-ROW with
    array_distinct after the checkpoint barrier instead of a
    corpus-sized relational .distinct(), deleting that exchange (the
    exploded stream was ~1.6M rows at sf0.1; the distinct exchange
    alone cost ~0.9 s). The barrier is load-bearing twice over: the
    explode consumers re-read the tiny array table rather than the
    corpus, and array_distinct must see a materialized COLUMN —
    applied to the transform expression directly, CollapseProject
    inlines the char split into the lambda and the row goes O(len²)
    (measured: 48 s for the naive in-row form). Measured noop-timed
    at sf0.1: 2.5-3.2 s -> 1.9-2.1 s."""
    from hive_to_es_spark.functions.lifecycle import materialize

    bgs = materialize(
        d.select("doc_id", "lang", F.split("text", "").alias("_ch"))
        .select("doc_id", "lang", _bigrams_from_chars().alias("_bgs")),
        eager=False,
    )
    bigrams = bgs.select("doc_id", "lang", F.explode("_bgs").alias("bg"))
    w_prof = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bg").asc())
    profile = (
        bigrams.groupBy("lang", "bg")
        .agg(F.count("*").alias("n"))
        .select("lang", "bg", F.row_number().over(w_prof).alias("rn"))
        .filter(F.col("rn") <= 20)
        .select(F.col("lang").alias("profile_lang"), "bg")
    )
    doc_bigrams = bgs.select(
        "doc_id", "lang", F.explode(F.array_distinct("_bgs")).alias("bg")
    )
    scores = (
        doc_bigrams.join(F.broadcast(profile), "bg")
        .groupBy("doc_id", "lang", "profile_lang")
        .agg(F.count("*").alias("overlap"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.col("overlap").desc(), F.col("profile_lang").asc()
    )
    return scores.select(
        "doc_id", "lang", F.col("profile_lang").alias("predicted"),
        F.row_number().over(w_best).alias("rn"),
    ).filter(F.col("rn") == 1).drop("rn")


@register("t7_langid_ngram", _T7_ORACLE)
def t7_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram language-ID: per-language character-bigram profiles,
    docs scored by profile overlap, argmax prediction -> confusion
    counts. (Chance-level on this fixture — shared vocabulary across
    langs by design; see oracle comment.)"""
    d = load_tables(spark, sf_dir).documents
    return langid_predictions(d).groupBy("lang", "predicted").agg(
        F.count("*").alias("n_docs")
    )


# Unigram LM quality score (CCNet-style): corpus-wide word
# frequencies become the language model; a document's score is the
# mean log-probability of its words. Cross-engine determinism: ln of
# identical doubles agrees between Java's Math.log and DuckDB's ln
# (both correctly-rounded for these magnitudes), the per-doc mean is
# over <=100 values, and the 4dp round absorbs order-of-summation
# ulps.
_T8_ORACLE = """
WITH words AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents
),
freq AS (SELECT w, count(*) AS c FROM words GROUP BY w),
total AS (SELECT sum(c) AS t FROM freq),
scored AS (
  SELECT wo.doc_id, ln(f.c / total.t) AS lp
  FROM words wo JOIN freq f ON wo.w = f.w, total
)
SELECT doc_id, round(avg(lp), 4) AS lm_score
FROM scored GROUP BY doc_id
"""


@register("t8_unigram_lm_score", _T8_ORACLE)
def t8_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality scoring (the CCNet/Wikipedia-LM filtering
    step of LLM corpus pipelines): train corpus-wide word frequencies
    in-query, score each document as the mean log-probability of its
    words — rare-word-heavy (low-quality or off-domain) docs score
    low and a percentile threshold on lm_score is the quality gate.

    Scale shape: one explode + word-count aggregate (map-side
    partial), the scalar total via a 1-row cross join, and the
    score join is words-to-frequencies on the word key — at 100 TB
    the frequency table is the only broadcast-or-shuffle decision,
    and a production run would train frequencies once on a sample
    and broadcast the top-K vocabulary with an OOV floor instead of
    joining the full tail."""
    d = load_tables(spark, sf_dir).documents
    words = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    freq = words.groupBy("w").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    return (
        words.join(freq, "w")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("c") / F.col("t")).alias("lp"))
        .groupBy("doc_id")
        .agg(F.round(F.avg("lp"), 4).alias("lm_score"))
    )


_T9_ORACLE = f"""
WITH sh AS (
  {shingle_sql()}
),
eval_sh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 29 = 0),
corpus_sh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 29 <> 0)
SELECT c.doc_id,
       CAST(count(DISTINCT c.shingle) AS BIGINT) AS n_hit_shingles,
       CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs
FROM corpus_sh c JOIN eval_sh e ON c.shingle = e.shingle
GROUP BY c.doc_id
"""


@register("t9_decontaminate", _T9_ORACLE)
def t9_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    3-gram shingle with a held-out evaluation set — the n-gram overlap
    check training pipelines run before release so eval answers are
    not memorized from the training corpus (the method popularized by
    GPT-2/GPT-3 appendix-style 8-gram checks; 3-gram here to match the
    repo's shingle vocabulary and because the fixture docs are short).

    The eval set is documents with doc_id % 29 = 0 (a stand-in for an
    external benchmark file); every other document is corpus. Output:
    each contaminated corpus doc with how many distinct shingles it
    shares and how many distinct eval docs it collides with.

    Scale shape: the asymmetry IS the plan. A benchmark is a few
    thousand docs regardless of corpus size, so its shingle set is
    broadcast (hinted here); the corpus side then never shuffles — the
    join is map-side against the broadcast hash table and only the
    per-doc collision counts (<< corpus) reach the two-level distinct
    aggregate. At 100 TB this is one scan of the corpus. The two
    countDistincts share one grouping key, so Catalyst plans a single
    expand + two-phase agg, not two joins.
    """
    d = load_tables(spark, sf_dir).documents
    sh = shingle_rows(d)
    is_eval = F.col("doc_id") % 29 == 0
    corpus = sh.filter(~is_eval)
    ev = sh.filter(is_eval).select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    return (
        corpus.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").cast("bigint").alias("n_hit_shingles"),
            F.countDistinct("eval_doc").cast("bigint").alias("n_eval_docs"),
        )
    )


# Patterns kept to the regex subset Java (Spark) and RE2 (DuckDB)
# parse identically: classes, +/{m,n} quantifiers, no lookarounds.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+\d{1,2}-\d{3}-\d{4}"

_T10_ORACLE = f"""
WITH pii AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
  FROM documents
),
red AS (
  SELECT doc_id, raw,
         regexp_replace(regexp_replace(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                        '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
  FROM pii
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{_PII_PHONE}')) AS INTEGER) AS n_phones,
       md5(redacted) AS redacted_md5
FROM red
"""


@register("t10_pii_redact", _T10_ORACLE)
def t10_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrub step a corpus runs before release:
    replace email addresses and phone numbers with typed placeholder
    tokens and account for every hit. The fixture text carries no PII,
    so the operator first APPENDS a synthetic email + phone derived
    from doc_id (making every row a real positive case), then redacts;
    the oracle rebuilds the same string and the md5 over the redacted
    output proves byte-exact replacement, not just matching counts.

    Patterns are restricted to the Java-regex ∩ RE2 subset (character
    classes and bounded quantifiers; no lookarounds or backrefs), so
    both engines compile them identically — same discipline as the
    repo's md5-prefix hash trick.

    Scale shape: pure scan-side projection (regexp_replace +
    regexp_count are codegen'd JVM expressions), no shuffle, no UDF —
    at 100 TB this is exactly one pass over the text column, and a
    production run would fold it into the same scan as quality
    scoring (t4) and langid (t3/t7)."""
    d = load_tables(spark, sf_dir).documents
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(raw, F.lit(_PII_PHONE)).cast("int").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


# Repetition filter (Gopher/MassiveText rule family, Rae et al. 2021,
# arXiv:2112.11446 Table A1): drop documents dominated by one token.
# The fixture's synthetic text has near-zero duplicate 3-gram mass, so
# the discriminating member of the rule family here is the
# top-unigram fraction; threshold 0.11 splits the corpus ~1:3.
_T11_TOP_FRAC = 0.11

_T11_ORACLE = f"""
WITH t AS (
  SELECT lang, string_split(text, ' ') AS toks FROM documents
),
m AS (
  SELECT lang,
         round(CAST(list_max(list_transform(list_distinct(toks),
                     w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE)
               / len(toks), 6) AS top_frac
  FROM t
)
SELECT lang,
       CASE WHEN top_frac > {_T11_TOP_FRAC} THEN 'drop' ELSE 'keep' END AS verdict,
       count(*) AS n_docs,
       round(avg(top_frac), 6) AS avg_top_frac
FROM m GROUP BY 1, 2
"""


def top_unigram_frac(toks):
    """Share of the token array `toks` taken by its most frequent
    token, rounded to 6 dp (t11's feature, one of p26's repetition
    gates): a transform over the distinct tokens x filter-count."""
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda w: F.size(F.filter(toks, lambda x: x == w)),
        )
    )
    return F.round(top_cnt.cast("double") / F.size(toks), 6)


@register("t11_repetition_filter", _T11_ORACLE)
def t11_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filter: compute each document's
    top-unigram fraction (share of the text taken by its most frequent
    token) and gate on it — the Gopher repetition-rule family's
    unigram member, the standard guard against template/boilerplate
    and degenerate generations in corpus cleaning.

    Plan shape: the per-document histogram is a pure array HOF
    (transform over distinct tokens x filter-count), so the whole
    operator is scan + project + 2-column aggregate — NO shuffle of
    token rows, no explode. The HOF is O(distinct x len) per document,
    the right trade while distinct-per-doc is bounded (vocab-limited
    corpora, code); for huge free-vocab documents the explode +
    groupBy(doc, token) + max form trades one shuffle for linear work
    — same answer, pick by profile. Numerics: int/int division in
    double, identical in both engines; round(6) before the threshold
    compare keeps the gate stable."""
    d = load_tables(spark, sf_dir).documents
    top_frac = top_unigram_frac(F.split("text", " "))
    verdict = F.when(top_frac > _T11_TOP_FRAC, "drop").otherwise("keep")
    return (
        d.select("lang", top_frac.alias("top_frac"), verdict.alias("verdict"))
        .groupBy("lang", "verdict")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("top_frac"), 6).alias("avg_top_frac"),
        )
    )


# t12 — category blocklist gate: the wordlist-based content filter
# corpus pipelines run before release (safety/spam lists; here the
# "sensitive" categories are built from the fixture's actual
# vocabulary so hit counts are non-vacuous at every SF). Counts are
# per-category OCCURRENCES (not distinct terms): a list-based gate
# thresholds on how much of the document the category covers.
_T12_CATS = {
    "latency": ("slow", "fast"),
    "size": ("big", "small"),
}
_T12_THRESHOLD = 5  # occurrences across all categories -> blocked


def _t12_oracle() -> str:
    cols = []
    for cat, words in _T12_CATS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        cols.append(
            f"CAST(len(list_filter(string_split(lower(text), ' '), "
            f"w -> list_contains([{lst}], w))) AS BIGINT) AS {cat}_hits"
        )
    total = " + ".join(f"{cat}_hits" for cat in _T12_CATS)
    return f"""
WITH scored AS (
  SELECT doc_id, {', '.join(cols)}
  FROM documents
)
SELECT doc_id, {', '.join(f'{c}_hits' for c in _T12_CATS)},
       ({total}) >= {_T12_THRESHOLD} AS blocked
FROM scored
"""


@register("t12_blocklist_filter", _t12_oracle())
def t12_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category blocklist gate: per-document occurrence counts against
    category wordlists + a blocked verdict — the safety/spam wordlist
    filter in a corpus-release pipeline.

    Pure scan-side higher-order functions (split -> filter -> size per
    category), no explode, no shuffle before any downstream agg — at
    100 TB the gate is free inside the scan projection. Real
    deployments swap the literal lists for a broadcast dictionary;
    the per-category column shape (one counter per category, verdict
    from their sum) is the part that matters and is value-verified."""
    d = load_tables(spark, sf_dir).documents
    toks = F.split(F.lower("text"), " ")

    def hits(words):
        # closure, NOT a default-arg lambda: pyspark dispatches HOF
        # lambdas by arity, so `lambda t, w=words:` reads as the
        # 2-arg (element, index) form and w receives the index column
        return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("bigint")

    hit_cols = {cat: hits(words) for cat, words in _T12_CATS.items()}
    total = None
    for c in hit_cols.values():
        total = c if total is None else total + c
    return d.select(
        "doc_id",
        *[col.alias(f"{cat}_hits") for cat, col in hit_cols.items()],
        (total >= _T12_THRESHOLD).alias("blocked"),
    )


_T13_LINE_TOKS = 3  # synthetic "line" = 3-token chunk (docs have no \n)
_T13_DF_MIN = 3  # a line present in >= 3 distinct docs is boilerplate

def token_lines(line_toks: int):
    """Synthetic "lines": the consecutive `line_toks`-token chunks of
    the `_toks` column (fixture docs carry no newlines; on real
    corpora swap in split('\\n')). Callers add `_toks` =
    split(text, ' ') as a column BEFORE this lambda: Spark does not
    CSE inside lambda functions, so an inline split() makes every
    per-line slice re-split the whole text — O(n_lines * n_tokens)
    per document (the t22 lesson; word_shingles' arrays_zip note is
    the same finding)."""
    toks = F.col("_toks")
    n_lines = F.expr(f"(size(_toks) + {line_toks - 1}) DIV {line_toks}")
    return F.transform(
        F.sequence(F.lit(1), n_lines.cast("int")),
        lambda i: F.array_join(
            F.slice(toks, (i - 1) * line_toks + 1, line_toks), " "
        ),
    )


def token_lines_sql(toks: str, line_toks: int) -> str:
    """DuckDB twin of token_lines over the token-list column `toks`.
    The line ladder is a range() LIST, so the chunker is unbounded
    exactly like the Spark side's transform-over-sequence (a fixed
    numbers table would silently truncate long documents)."""
    return f"""list_transform(range(1, (len({toks}) + {line_toks - 1}) // {line_toks} + 1),
           i -> array_to_string({toks}[(i - 1) * {line_toks} + 1 : i * {line_toks}], ' '))"""


def _numbered_lines(
    docs: DataFrame, line_toks: int, no_col: str, line_col: str
) -> DataFrame:
    """(doc_id, no_col, line_col) rows: each document's token_lines,
    numbered from 1."""
    return (
        docs.withColumn("_toks", F.split(F.col("text"), " "))
        .select("doc_id", F.posexplode(token_lines(line_toks)).alias("pos", line_col))
        .select("doc_id", (F.col("pos") + 1).alias(no_col), line_col)
    )


def numbered_lines_sql(line_toks: int, no_col: str, line_col: str) -> str:
    """DuckDB twin of _numbered_lines over `documents`: the line
    numbers and the lines are zipped positionally by parallel
    unnest."""
    return f"""SELECT doc_id, CAST(unnest(range(1, len(ls) + 1)) AS BIGINT) AS {no_col},
         unnest(ls) AS {line_col}
  FROM (SELECT doc_id, {token_lines_sql("tk", line_toks)} AS ls
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents))"""


_T13_ORACLE = f"""
WITH lines AS (
  {numbered_lines_sql(_T13_LINE_TOKS, "line_no", "line")}
),
freq AS (SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line),
flagged AS (
  SELECT l.doc_id, l.line_no, l.line, f.df >= {_T13_DF_MIN} AS dropped
  FROM lines l JOIN freq f USING (line)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(*) FILTER (WHERE dropped) AS BIGINT) AS n_dropped,
       coalesce(
         string_agg(line, ' ' ORDER BY line_no) FILTER (WHERE NOT dropped), ''
       ) AS cleaned_text
FROM flagged
GROUP BY doc_id
"""


def _reassemble(
    rows: DataFrame, n_col: str, dropped, kept, no_col: str, line_col: str
) -> DataFrame:
    """Numbered lines back to one row per document: doc_id, n_col
    (lines in), n_dropped and cleaned_text, the kept lines rejoined
    in order. collect_list(when(kept, ...)) drops the nulls of removed
    lines; array_sort on (no_col, line_col) structs restores document
    order deterministically."""
    kept_struct = F.when(kept, F.struct(F.col(no_col), F.col(line_col)))
    return rows.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias(n_col),
        F.sum(F.when(dropped, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s[line_col],
            ),
            " ",
        ).alias("cleaned_text"),
    )


def line_dedup(docs: DataFrame, line_toks: int = _T13_LINE_TOKS,
               df_min: int = _T13_DF_MIN) -> DataFrame:
    """t13's census → broadcast-membership → reassembly plan as a
    DataFrame-in/DataFrame-out helper (docs must carry doc_id + text),
    parameterized by chunk size and the boilerplate df threshold so
    the hypothesis property test drives the SHIPPED plan rather than
    an inline copy that could drift (round-7 advice). Output columns:
    doc_id, n_lines, n_dropped, cleaned_text."""
    lines = _numbered_lines(docs, line_toks, "line_no", "line")
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= df_min)
        .select("line", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(F.broadcast(boiler), "line", "left").withColumn(
        "dropped", F.coalesce(F.col("is_boiler"), F.lit(False))
    )
    dropped = F.col("dropped")
    return _reassemble(flagged, "n_lines", dropped, ~dropped, "line_no", "line")


@register("t13_line_dedup", _T13_ORACLE)
def t13_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency line deduplication — the C4-style boilerplate
    pass: any "line" occurring in >= _T13_DF_MIN (3) distinct
    documents is removed from every document, and the survivors are
    re-assembled in order. Fixture documents carry no newlines, so a
    line is synthesized as a _T13_LINE_TOKS (3)-token chunk (mirrored
    exactly in the oracle); on real corpora swap the chunker for
    split('\\n').

    Plan shape at 100 TB: tokenize + chunk are scan-side HOFs
    (transform over sequence + slice); the line-frequency census is
    one map-side-combinable groupBy(line); the boilerplate SET
    (df >= 3) is then broadcast back — frequent lines are few
    by construction (on open-web corpora cap the census with a df
    ceiling or count-min, as d4 does for shingles), so the corpus
    itself never shuffles for the membership test. The only
    data-sized shuffle is the final reassembly groupBy(doc_id)."""
    return line_dedup(load_tables(spark, sf_dir).documents)


# ---------------------------------------------------------------------------
# d20: paragraph-level keep-first dedup — the CCNet rule (Wenzek et
# al. 2020): hash every paragraph, keep ONLY the first occurrence in
# corpus order, drop every later instance (across documents AND
# within one). The third exact-dedup granularity: d1 drops duplicate
# DOCUMENTS, t13 removes lines whose corpus frequency crosses a
# threshold (both instances of a df=2 line survive t13; neither
# survives if df>=3), d20 keeps exactly one instance of every
# paragraph ever seen. "First" is the deterministic total order
# (doc_id, para_no) — CCNet's file-order made distributed: the
# survivor set is a pure function of content, independent of
# partitioning or execution order. Paragraphs are the t13 chunker
# (_T13_LINE_TOKS-token chunks; real corpora swap in split('\n')) so
# the two operators' contracts stay coupled.
#
# Scale shape (100 TB): exactly d1's class — a hash-partitioned
# window (row_number over PARTITION BY para), never a pair stream or
# a census broadcast (the distinct-paragraph set is corpus-sized,
# NOT broadcastable — what makes this op different from t13's plan).
# Two data-sized shuffles total: the para-keyed window exchange and
# the doc_id reassembly groupBy. Both map-combine nothing away but
# carry only (doc_id, para_no, para) rows. Hot paragraphs (the empty
# string, boilerplate) are bounded skew: a window partition is one
# paragraph's instance list, and the heaviest possible partition is
# the df of the most-duplicated paragraph — salt-and-two-phase it if
# a profiler flags one (j12's recipe).
_D20_ORACLE = f"""
WITH paras AS (
  {numbered_lines_sql(_T13_LINE_TOKS, "para_no", "para")}
),
ranked AS (
  SELECT doc_id, para_no, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, para_no) AS rn
  FROM paras
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped,
       coalesce(
         string_agg(para, ' ' ORDER BY para_no) FILTER (WHERE rn = 1), ''
       ) AS cleaned_text
FROM ranked
GROUP BY doc_id
"""


def paragraph_dedup(docs: DataFrame, line_toks: int = _T13_LINE_TOKS) -> DataFrame:
    """d20's chunk -> global keep-first -> reassembly plan as a
    DataFrame-in/out helper (docs must carry doc_id + text); chunker
    and reassembly are t13's (_numbered_lines, _reassemble) so the two
    contracts cannot drift. Output columns: doc_id, n_paras,
    n_dropped, cleaned_text."""
    paras = _numbered_lines(docs, line_toks, "para_no", "para")
    w = Window.partitionBy("para").orderBy("doc_id", "para_no")
    ranked = paras.withColumn("rn", F.row_number().over(w))
    return _reassemble(
        ranked, "n_paras", F.col("rn") > 1, F.col("rn") == 1, "para_no", "para"
    )


@register("d20_paragraph_dedup", _D20_ORACLE)
def d20_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet keep-first paragraph dedup (see block comment): one
    global instance of every paragraph survives, chosen by the
    deterministic (doc_id, para_no) order; documents reassemble from
    their surviving paragraphs. d1's hash-partitioned-window scale
    class — two data-sized shuffles, no census broadcast, no pair
    stream."""
    return paragraph_dedup(load_tables(spark, sf_dir).documents)


# t14 — graded contamination: t9's boolean gate -> per-doc overlap
# fraction + release action, over ALL corpus docs (0-hit docs too).
_T14_ORACLE = f"""
WITH sh AS (
  {shingle_sql()}
),
eval_set AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 29 = 0),
scored AS (
  SELECT c.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(count(e.shingle) AS BIGINT) AS n_hits
  FROM (SELECT doc_id, shingle FROM sh WHERE doc_id % 29 <> 0) c
  LEFT JOIN eval_set e ON c.shingle = e.shingle
  GROUP BY c.doc_id
)
SELECT doc_id, n_shingles, n_hits,
       (n_hits * 1000000) // n_shingles AS overlap_ppm,
       CASE WHEN (n_hits * 1000000) // n_shingles >= 500000 THEN 'drop'
            WHEN (n_hits * 1000000) // n_shingles >= 100000 THEN 'review'
            ELSE 'keep' END AS action
FROM scored
"""


@register("t14_contamination_score", _T14_ORACLE)
def t14_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded benchmark-contamination scoring: for EVERY corpus
    document, the fraction of its distinct 3-gram shingles that also
    occur anywhere in the held-out eval set (t9's split: doc_id % 29),
    mapped to a release action — >=50% overlap 'drop', >=10%
    'review', else 'keep'. t9 answers "which docs touch the eval set
    at all"; t14 is the policy layer a release pipeline actually
    runs, where a single shared boilerplate shingle must NOT nuke a
    10k-shingle document (the graded form of the GPT-3 appendix-C
    check).

    The fraction is integer ppm — (hits * 1e6) DIV distinct_shingles
    — so the bucket boundaries cannot split cross-engine. Scale
    shape mirrors t9's asymmetry: the eval shingle set is DISTINCT'd
    small and broadcast, the corpus side LEFT-joins it map-side (a
    hit is a build-side probe, a miss costs nothing), and the only
    shuffle is the per-doc count pair, map-side combined on doc_id.
    Shingles are per-doc distinct at the scan (word_shingles), so
    duplicate shingles inside one doc never inflate the join."""
    d = load_tables(spark, sf_dir).documents
    sh = shingle_rows(d)
    is_eval = F.col("doc_id") % 29 == 0
    eval_set = sh.filter(is_eval).select("shingle").distinct().withColumn(
        "hit", F.lit(1)
    )
    scored = (
        sh.filter(~is_eval)
        .join(F.broadcast(eval_set), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.count("hit").cast("bigint").alias("n_hits"),
        )
    )
    ppm = F.expr("(n_hits * 1000000) DIV n_shingles")
    return scored.select(
        "doc_id",
        "n_shingles",
        "n_hits",
        ppm.alias("overlap_ppm"),
        F.when(ppm >= 500_000, "drop")
        .when(ppm >= 100_000, "review")
        .otherwise("keep")
        .alias("action"),
    )


# t15 — bigram LM scoring, t8's order-2 form: score each document by
# the mean conditional log-probability ln(c(w1 w2)/c(w1 ·)) of its
# adjacent word pairs. Catches incoherent word-salad that unigram
# scoring cannot (every word common, no pair ever seen together).
_T15_ORACLE = """
WITH ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w
  FROM documents WHERE len(string_split(lower(text), ' ')) >= 2
),
big AS (
  SELECT doc_id, w[i] AS w1, concat(w[i], ' ', w[i+1]) AS bg
  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM ws)
),
cb AS (SELECT bg, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY bg),
cp AS (SELECT w1, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY w1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln(CAST(cb.c AS DOUBLE) / cp.c)), 4) AS lm2_score
FROM big JOIN cb USING (bg) JOIN cp USING (w1)
GROUP BY doc_id
"""


@register("t15_bigram_lm_score", _T15_ORACLE)
def t15_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM quality scoring: train corpus-wide bigram and prefix
    counts in-query, score each document as the mean conditional
    log-probability ln(c(w1,w2) / c(w1,·)) over its adjacent pairs —
    the order-2 rung of the CCNet-style LM gate t8 implements at
    order 1. The conditional form is what makes it a COHERENCE
    measure: a document of individually-common words in an order
    never seen together scores low where t8 scores it high; the two
    scores together separate "rare vocabulary" from "word salad".
    Single-word docs carry no bigram and are excluded on BOTH
    engines (an explicit >= 2 filter — Spark's sequence(1, 0)
    DESCENDS where DuckDB's range(1, 1) is empty, so without the
    mirrored filter the engines would disagree on degenerate docs).

    Plan shape is t8's with one extra count: ONE explode of per-doc
    (prefix, bigram) structs (built array-side from a single split —
    no window, no self-zip join), two map-combined count aggregates,
    then the score join keyed on the bigram/prefix. Every count is
    observed (no smoothing), so probabilities are exact rationals
    inside ln(); the 4dp round on the mean is t8's accepted
    cross-engine float seam. At 100 TB the production variant trains
    counts on a sample and broadcasts a top-K bigram vocabulary with
    an OOV floor — the same evolution t8's docstring pins."""
    d = load_tables(spark, sf_dir).documents
    ws = d.select("doc_id", F.split(F.lower("text"), " ").alias("w")).filter(
        F.size("w") >= 2
    )
    big = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(w[i-1] AS w1, concat(w[i-1], ' ', w[i]) AS bg))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.bg")
    cb = big.groupBy("bg").agg(F.count("*").cast("bigint").alias("cb"))
    cp = big.groupBy("w1").agg(F.count("*").cast("bigint").alias("cp"))
    return (
        big.join(cb, "bg")
        .join(cp, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("cb").cast("double") / F.col("cp"))), 4
            ).alias("lm2_score"),
        )
    )


# t16 — distributed BPE vocabulary TRAINING (t5 only counts pieces
# with a fixed regex; this learns the merge table itself — the one
# first-class LLM-pipeline stage the package lacked, r7 verdict #1).
#
# Word-boundary BPE (the Sennrich/GPT-2 discipline): tokens never
# cross words, so the corpus collapses to a word-frequency census
# ONCE — the only corpus-sized stage — and every merge round runs on
# the |vocab| table. Each word's symbol sequence is encoded as a
# sentinel-wrapped string (\x01 tok \x02 per symbol, chars the corpus
# cannot contain): with that encoding the literal string replace of
# "\x01 a \x02 \x01 b \x02" by "\x01 ab \x02" IS the greedy
# left-to-right non-overlapping BPE apply, identically in Spark and
# DuckDB — no UDF, no fold, and "aaa" + merge (a,a) gives [aa, a] in
# both engines by the shared L2R-scan contract of replace().
#
# Pair counts are per adjacent POSITION (so "aaa" contributes (a,a)
# twice), the classic counting rule; argmax tie-break is
# (count DESC, left ASC, right ASC) on raw byte order, which ASCII
# tokens make engine-identical. The oracle replays the k rounds as
# UNROLLED chained CTEs (w0 -> p1 -> m1 -> w1 -> ...), generated by
# the same Python constants so the two sides cannot drift.
_T16_MERGES = 8
_T16_L, _T16_R = "\x01", "\x02"


def _t16_oracle(k: int = _T16_MERGES) -> str:
    L, R = "chr(1)", "chr(2)"
    sep = f"{R} || {L}"
    ctes = [
        f"""wc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
w0 AS (
  SELECT {L} || array_to_string(string_split(word, ''), {sep}) || {R} AS enc,
         freq
  FROM wc
)"""
    ]
    for r in range(1, k + 1):
        ctes.append(
            f"""p{r} AS (
  SELECT tl AS lft, tr AS rgt, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(t[1:len(t) - 1]) AS tl, unnest(t[2:len(t)]) AS tr, freq
    FROM (SELECT string_split(substr(enc, 2, length(enc) - 2), {sep}) AS t,
                 freq
          FROM w{r - 1})
  )
  GROUP BY tl, tr
),
m{r} AS (
  SELECT {r} AS merge_rank, lft, rgt, cnt
  FROM p{r} ORDER BY cnt DESC, lft ASC, rgt ASC LIMIT 1
),
w{r} AS (
  SELECT replace(enc, {L} || lft || {R} || {L} || rgt || {R},
                 {L} || lft || rgt || {R}) AS enc, freq
  FROM w{r - 1}, m{r}
)"""
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM m{r}" for r in range(1, k + 1))
    return (
        "WITH\n"
        + ",\n".join(ctes)
        + f"""
SELECT CAST(merge_rank AS BIGINT) AS merge_rank,
       lft AS left_sym, rgt AS right_sym, lft || rgt AS merged,
       cnt AS pair_count
FROM ({union})"""
    )


_T16_ORACLE = _t16_oracle()


def _bpe_encode_words(words: DataFrame) -> DataFrame:
    """(word, freq) -> (enc, freq) with the sentinel symbol encoding
    both trainers and the oracle share: \\x01 tok \\x02 per symbol."""
    L, R = _T16_L, _T16_R
    return words.select(
        F.concat(
            F.lit(L), F.array_join(F.split("word", ""), R + L), F.lit(R)
        ).alias("enc"),
        "freq",
    )


def _bpe_pair_counts(w: DataFrame) -> DataFrame:
    """Adjacent-pair frequency table (lft, rgt, cnt) over an encoded
    word census — ONE map-side-combinable aggregate on the |vocab|
    table; pairs are counted per position ("aaa" contributes (a,a)
    twice), the classic BPE counting rule."""
    L, R = _T16_L, _T16_R
    return (
        w.withColumn(
            "t",
            F.split(F.expr("substring(enc, 2, length(enc) - 2)"), R + L),
        )
        .filter(F.size("t") >= 2)  # 1-symbol words carry no pairs
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(t[i - 1] AS lft, t[i] AS rgt))"
                )
            ).alias("p"),
            "freq",
        )
        .groupBy("p.lft", "p.rgt")
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_train(words: DataFrame, n_merges: int = _T16_MERGES) -> list[tuple]:
    """Learn ``n_merges`` BPE merges from a (word, freq) census frame.
    Returns the merge table as [(rank, left, right, merged, count)].

    Per round: ONE map-side-combinable pair-count aggregate over the
    vocab table, a top-1 argmax (TakeOrderedAndProject — per-partition
    top-1, never a total sort), and a literal-replace rewrite; the
    rewritten table is materialized (localCheckpoint) and the previous
    round's blocks released, graph.py's loop discipline, so lineage
    stays O(1) across rounds. Driver state = n_merges rows + the 1-row
    argmax per round. At 100 TB the census shrinks ~10^12 token
    occurrences to ~10^8 distinct words; every round after that is a
    vocab-sized shuffle, the economics that make corpus-level BPE
    training feasible at all."""
    from hive_to_es_spark.functions.lifecycle import materialize, release_checkpoint

    L, R = _T16_L, _T16_R
    w = materialize(_bpe_encode_words(words))
    merges: list[tuple] = []
    for r in range(1, n_merges + 1):
        pr = _bpe_pair_counts(w)
        top = pr.orderBy(F.col("cnt").desc(), "lft", "rgt").limit(1).collect()
        if not top:
            break  # vocabulary fully collapsed before n_merges
        best = top[0]
        merges.append(
            (r, best.lft, best.rgt, best.lft + best.rgt, int(best.cnt))
        )
        nxt = materialize(
            w.select(
                F.replace(
                    F.col("enc"),
                    F.lit(L + best.lft + R + L + best.rgt + R),
                    F.lit(L + best.lft + best.rgt + R),
                ).alias("enc"),
                "freq",
            )
        )
        release_checkpoint(w)
        w = nxt
    release_checkpoint(w)
    return merges


def _bpe_select_batch(top, batch_size: int, prior_outputs: set[str]) -> list:
    """The pure acceptance rule of one batched-BPE round: walk the
    ranked pair rows and accept a conflict-free prefix.

    Factored out of bpe_train_batched so the batch-close rules are
    unit-testable on SYNTHETIC rows — rule 5's precondition (an
    accepted pair's output string equals a PRIOR round's merge
    output) is unreachable from any real census under global-rank
    greedy left-to-right BPE (150k-corpus sweep + the two-path
    argument in bpe_train_batched's docstring), so only a synthetic
    row list can exercise the guard (round-10 advice).

    Rules (numbered as in bpe_train_batched's docstring):
    1. symbol-disjointness including outputs — a pair touching any
       symbol used or produced earlier in the batch defers;
    4. a self-pair (lft == rgt) is accepted but CLOSES its batch;
    5. an output-collision pair (lft+rgt already a prior round's
       output) is accepted but CLOSES its batch;
    trim: every accepted pair except the head must strictly beat the
    best non-accepted pair's count (a batch merge can only create new
    pairs below that bound).
    """
    accepted: list = []
    used: set[str] = set()
    bound = None  # count upper bound for every non-accepted pair
    for row in top:
        last = accepted[-1] if accepted else None
        if (
            len(accepted) >= batch_size
            # self-pair closes its batch (rule 4)
            or (last is not None and last.lft == last.rgt)
            # two-path output collision closes its batch (rule 5)
            or (last is not None and last.lft + last.rgt in prior_outputs)
            # symbol-disjointness including OUTPUTS (rule 1)
            or row.lft in used
            or row.rgt in used
            or row.lft + row.rgt in used
        ):
            bound = int(row.cnt)
            break
        accepted.append(row)
        used.update((row.lft, row.rgt, row.lft + row.rgt))
    # no break => the pair table was exhausted inside the window
    # (window > batch_size forces the break otherwise), so no
    # non-accepted pair exists and bound stays None: nothing a
    # batch merge creates can beat a pair that doesn't exist —
    # except via a self-pair's run rewrites, which the self-pair
    # batch-close above already walls off.
    if bound is not None:
        while len(accepted) > 1 and int(accepted[-1].cnt) <= bound:
            accepted.pop()  # can't prove it beats a new pair: defer
    return accepted


def bpe_train_batched(
    words: DataFrame,
    n_merges: int = _T16_MERGES,
    batch_size: int = 16,
) -> list[tuple]:
    """bpe_train with BATCHED merge rounds: apply up to ``batch_size``
    mutually non-interacting merges per Spark round, cutting the
    sequential trainer's one-driver-roundtrip-per-merge loop to
    ~ceil(k / batch_size) rounds (exactly k/batch_size when conflicts
    are rare; never more than k) — the shape a production 32k-merge
    vocabulary needs, where 32k sequential jobs is the wrong plan even
    though each is cheap (r8 verdict task 3).

    OUTPUT-IDENTICAL to bpe_train (the semantics pin — property-tested
    on random corpora and hash-gated through t16's sequential oracle).
    The batch acceptance rule is what makes that a theorem, not a
    hope. Rank all pairs by (cnt DESC, lft, rgt) — sequential's argmax
    order — and accept the maximal PREFIX such that:

    1. accepted pairs are pairwise symbol-disjoint, where a pair's
       symbols are its left input, right input AND its merged OUTPUT
       (a merge only perturbs counts of pairs sharing one of these;
       disjoint pairs' counts and rewrites are invariant under each
       other's application). Output-inclusion closes the round-9
       hole: a lower-ranked pair like (q, 'abc') is NOT count-
       invariant under an accepted (ab, c) — applying it mints new
       (q, 'abc') occurrences — and is now conflicting because 'abc'
       is in the accepted merge's symbol set;
    2. the prefix stops at the first conflicting pair, so every pair
       sharing a symbol with an accepted merge ranks BELOW the stop
       point — hence every NEW pair a batch merge creates (each
       occurrence of (x, ab) / (ab, y) comes from an old occurrence of
       (x, a) / (b, y), both conflicting) has count <= M, the count at
       the stop point;
    3. accepted pairs with cnt <= M are trimmed from the tail: each
       survivor strictly beats every pair sequential could newly see,
       so sequential's round-i argmax is exactly accepted[i] (old
       pairs ranked below it only lose count; ties resolve by the
       rank order already honored);
    4. a self-pair (a,a) closes its batch: run rewrites ("aaa" ->
       "aa a") can mint new pairs bounded only by the self-pair's own
       count, outside M's guarantee;
    5. a TWO-PATH SYMBOL COLLISION closes its batch: if an accepted
       merge's output string equals a symbol that already exists
       (reachable when the same string arises via two merge paths —
       'abc' minted earlier by (a, bc) while (ab, c) is accepted
       now), pairs touching that symbol have PRE-EXISTING counts, so
       a fresh (x, 'abc') occurrence ADDS to an old count and the
       new total can exceed M (up to old + minted <= 2M), escaping
       step 3's trim. The existing-symbol set is exactly known
       without touching the census — multi-char symbols only ever
       enter via a merge, so it is {outputs of all prior merges} —
       and a colliding merge is accepted ALONE at the end of its
       batch (a 1-suffix batch is literally a sequential step, so
       the recount that follows restores every invariant).

    The ranked read is a bounded top-(4*batch+1) collect — driver
    state stays O(batch) rows per round, and each round is still one
    map-side-combinable pair count + one literal-replace projection
    over the |vocab| census.

    Measured width economics (round 10, 64 merges over the sf0.01
    documents census): rounds 64 -> 54 at batch_size=4 and PLATEAU at
    54 for batch 8/16/32 — on Zipfian natural text the top-ranked
    pairs share their hottest symbols, so the conflict-free prefix
    rarely exceeds ~2 and the binding constraint is symbol overlap +
    the trim rule, not the width cap. The default is 16 (the cap is
    free when conflicts bind first); for a 32k-vocab production run
    the remaining lever is per-round cost (the census shrinks as
    merges land), not width."""
    from hive_to_es_spark.functions.lifecycle import materialize, release_checkpoint

    L, R = _T16_L, _T16_R
    window = batch_size * 4 + 1
    w = materialize(_bpe_encode_words(words))
    merges: list[tuple] = []
    while len(merges) < n_merges:
        top = (
            _bpe_pair_counts(w)
            .orderBy(F.col("cnt").desc(), "lft", "rgt")
            .limit(window)
            .collect()
        )
        if not top:
            break  # vocabulary fully collapsed before n_merges
        # multi-char symbols only enter the census as merge outputs,
        # so this set is exactly "which merged strings already exist"
        accepted = _bpe_select_batch(top, batch_size, {m[3] for m in merges})
        accepted = accepted[: n_merges - len(merges)]
        enc = F.col("enc")
        for row in accepted:
            merges.append(
                (len(merges) + 1, row.lft, row.rgt, row.lft + row.rgt, int(row.cnt))
            )
            enc = F.replace(
                enc,
                F.lit(L + row.lft + R + L + row.rgt + R),
                F.lit(L + row.lft + row.rgt + R),
            )
        nxt = materialize(w.select(enc.alias("enc"), "freq"))
        release_checkpoint(w)
        w = nxt
    release_checkpoint(w)
    return merges


@register("t16_bpe_train", _T16_ORACLE)
def t16_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary training: learn the first
    _T16_MERGES (8) merges from the documents corpus — highest-
    frequency adjacent symbol pair per round, tie-broken
    (count DESC, pair ASC), applied greedily left-to-right — and emit
    the merge table (rank, left, right, merged symbol, pair count),
    i.e. the artifact a tokenizer trainer ships.

    The corpus-sized work is ONE word-frequency census (map-side
    combinable groupBy); the merge rounds run over the |vocab| table
    via bpe_train_batched (round 10: up to 16 non-interacting merges
    per Spark round; on Zipfian text the conflict-free prefix binds
    first — measured 64 merges in 54 rounds at any width >= 4 — so
    the width cap is free headroom, not the lever; see its docstring
    for the equivalence proof and the measured width economics). The oracle unrolls the SEQUENTIAL k rounds as chained CTEs
    generated from the same constants — the hash gate is therefore
    also the empirical proof that batched == sequential on the
    fixtures. Both engines express "apply merge (a,b)" as a literal
    replace over a sentinel-encoded symbol string, so greedy L2R
    semantics (including overlapping runs like "aaa") agree by
    construction."""
    d = load_tables(spark, sf_dir).documents
    words = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    merges = bpe_train_batched(words)
    return d.sparkSession.createDataFrame(
        merges,
        "merge_rank BIGINT, left_sym STRING, right_sym STRING, "
        "merged STRING, pair_count BIGINT",
    )


# t17 — BPE ENCODE with the t16-learned merge table: tokenize the
# corpus with the trained vocab and account tokens per document — the
# production consumer of BPE training (token budgeting, sequence
# packing, per-doc cost attribution all start from this count).
def _t17_oracle(k: int = _T16_MERGES) -> str:
    L, R = "chr(1)", "chr(2)"
    sep = f"{R} || {L}"
    # t16's unrolled merge chain, but the word table CARRIES the word
    # through every rewrite so the final per-word token count can join
    # back to the corpus.
    ctes = [
        f"""wc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
w0 AS (
  SELECT word,
         {L} || array_to_string(string_split(word, ''), {sep}) || {R} AS enc,
         freq
  FROM wc
)"""
    ]
    for r in range(1, k + 1):
        ctes.append(
            f"""p{r} AS (
  SELECT tl AS lft, tr AS rgt, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(t[1:len(t) - 1]) AS tl, unnest(t[2:len(t)]) AS tr, freq
    FROM (SELECT string_split(substr(enc, 2, length(enc) - 2), {sep}) AS t,
                 freq
          FROM w{r - 1})
  )
  GROUP BY tl, tr
),
m{r} AS (
  SELECT lft, rgt FROM p{r} ORDER BY cnt DESC, lft ASC, rgt ASC LIMIT 1
),
w{r} AS (
  -- LEFT JOIN, not cross join: if the corpus exhausts mergeable pairs
  -- before round {r}, m{r} is empty and a cross join would empty the
  -- whole word table (while the Spark side just stops merging early).
  -- With the left join an absent merge row leaves enc unchanged —
  -- the exact semantics of "no merge learned this round" (ADVICE r8).
  SELECT word,
         CASE WHEN lft IS NULL THEN enc
              ELSE replace(enc, {L} || lft || {R} || {L} || rgt || {R},
                           {L} || lft || rgt || {R}) END AS enc, freq
  FROM w{r - 1} LEFT JOIN m{r} ON TRUE
)"""
        )
    return (
        "WITH\n"
        + ",\n".join(ctes)
        + f""",
wtok AS (
  SELECT word,
         len(string_split(substr(enc, 2, length(enc) - 2), {sep})) AS n_tok
  FROM w{k}
),
cnt AS (
  SELECT doc_id, word, count(*) AS n
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY doc_id, word
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_words,
       CAST(sum(n * n_tok) AS BIGINT) AS n_bpe_tokens
FROM cnt JOIN wtok USING (word)
GROUP BY doc_id"""
    )


_T17_ORACLE = _t17_oracle()


@register("t17_bpe_encode", _T17_ORACLE)
def t17_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the t16-trained BPE vocabulary: learn
    the 8 merges (bpe_train), apply them IN ORDER to every distinct
    word (8 chained literal replaces over the sentinel encoding — one
    projection, no UDF), and account per-document token counts
    (whitespace words vs BPE tokens — always words <= chars, with the
    compression the merges bought).

    Scale: the merge application runs on the |vocab| table (the t16
    census economics), and the corpus-sized work is one groupBy
    (doc_id, word) count + a join on word — at fixture scale the word
    table broadcasts; at 10^8-word vocab it is an ordinary shuffle
    join on a high-cardinality key. The oracle replays the identical
    merge chain carrying the word through every rewrite, then joins
    the same per-doc word counts."""
    d = load_tables(spark, sf_dir).documents
    words = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    merges = bpe_train_batched(words)
    L, R = _T16_L, _T16_R
    enc = F.concat(F.lit(L), F.array_join(F.split("word", ""), R + L), F.lit(R))
    for _, lft, rgt, merged, _ in merges:
        enc = F.replace(enc, F.lit(L + lft + R + L + rgt + R), F.lit(L + merged + R))
    wtok = words.select(
        "word", enc.alias("enc")
    ).select(
        "word",
        F.size(
            F.split(F.expr("substring(enc, 2, length(enc) - 2)"), R + L)
        ).alias("n_tok"),
    )
    cnt = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n"))
    )
    return cnt.join(F.broadcast(wtok), "word").groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_words"),
        F.sum(F.col("n") * F.col("n_tok")).cast("bigint").alias("n_bpe_tokens"),
    )


# t18 — repeated-passage mining: the memorization-risk / boilerplate
# audit a training corpus runs BEFORE the dedup ladder decides what to
# drop: which exact 5-word passages recur across documents, in how
# many documents, how often in total. t13 dedups repeated LINES inside
# a known boilerplate set; t14 scores contamination against a known
# eval set; t18 has no reference set — it MINES the repeated passages
# themselves, ranked, which is where both of those sets come from in
# practice (and the standard first probe for verbatim-memorization
# risk: passages duplicated across many documents are the ones a model
# is most likely to regurgitate).
_T18_MIN_DOCS = 2
_T18_TOP = 20
_T18_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, unnest(list_transform(
    range(1, len(w) - 4 + 1),
    i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])
  )) AS gram
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
  WHERE len(w) >= 5
)
SELECT gram,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       min(doc_id) AS first_doc
FROM grams GROUP BY gram
HAVING count(DISTINCT doc_id) >= {_T18_MIN_DOCS}
ORDER BY n_docs DESC, n_occurrences DESC, gram ASC
LIMIT {_T18_TOP}
"""


@register("t18_repeated_passages", _T18_ORACLE)
def t18_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 exact 5-word passages repeated across >= 2 documents,
    with document reach, total (per-position) occurrence count, and
    the first containing doc — the corpus-wide duplicated-passage
    census.

    Plan: scan-side transform+explode (one pass, no UDF) into ONE
    groupBy(gram) — the count-distinct is the standard two-phase
    Expand, and per-position occurrence counting rides the same
    aggregate. Hot passages are exactly what the op exists to find,
    and a count aggregate handles them map-side (partial combine) —
    unlike the dedup family there is no pair stream to block, so the
    whole audit is linear in corpus token mass at any scale. The
    top-20 is a total order with the gram itself as the unique
    tiebreaker (TakeOrderedAndProject, never a global sort of the
    census). At 100 TB the HAVING >= 2 prunes the (huge) unique-gram
    tail before the limit; raising the n-gram length or min-docs
    moves precision the way a production memorization audit tunes it."""
    d = load_tables(spark, sf_dir).documents
    grams = (
        d.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
        .filter(F.size("w") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 4), "
                    "i -> concat_ws(' ', w[i-1], w[i], w[i+1], w[i+2], w[i+3]))"
                )
            ).alias("gram"),
        )
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= _T18_MIN_DOCS)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), F.col("gram").asc()
        )
        .limit(_T18_TOP)
    )


# t19 — paraphrase-level benchmark decontamination (round 11,
# r10-verdict task 4). t9/t14 catch EXACT n-gram overlap with the
# eval set; a paraphrased eval question shares no 3-gram yet still
# leaks the benchmark. The standard second layer scores every corpus
# document's max embedding cosine against the eval-set embeddings and
# maps it to the same release actions t14 uses. The fixture's
# embeddings are 1:1 with documents (vec_id == doc_id), so the
# per-vector decision IS the per-document decision.
#
# Thresholds are calibrated to the fixture's real cosine geometry
# (no planted paraphrase pairs exist; max eval-cosine spans ~0.30-0.60
# across SFs): >= 0.45 'drop', >= 0.38 'review', else 'keep' — every
# tier is non-empty at sf0.01 AND sf0.1 (asserted in tests, so the
# policy layer can never verify vacuously). Decisions happen in
# integer MICRO-UNITS (round(cos*1e6) as BIGINT, the s14 rule): the
# tier compare and the nearest-neighbor argmax are pure-integer on
# both engines, so a float near-tie can never split a bucket or flip
# the reported neighbor cross-engine.
_T19_EVAL_MOD = 20
_T19_EVAL_REM = 7
_T19_DROP_U = 450_000
_T19_REVIEW_U = 380_000

_T19_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS eval_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id % {_T19_EVAL_MOD} = {_T19_EVAL_REM}
),
c AS (
  SELECT vec_id AS doc_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings WHERE vec_id % {_T19_EVAL_MOD} <> {_T19_EVAL_REM}
),
pairs AS (
  SELECT doc_id, eval_id,
         CAST(round(list_cosine_similarity(ev, qv) * 1000000) AS BIGINT) AS score_u
  FROM c CROSS JOIN q
),
best AS (
  SELECT doc_id, eval_id, score_u,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_u DESC, eval_id ASC) AS rn
  FROM pairs
)
SELECT doc_id, eval_id AS nearest_eval_id, score_u AS max_cos_u,
       CASE WHEN score_u >= {_T19_DROP_U} THEN 'drop'
            WHEN score_u >= {_T19_REVIEW_U} THEN 'review'
            ELSE 'keep' END AS action
FROM best WHERE rn = 1
"""


@register("t19_embedding_decontaminate", _T19_ORACLE)
def t19_embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine benchmark decontamination: for every corpus
    document, the maximum cosine similarity against any held-out
    eval-set embedding (split: vec_id % 20 == 7), the nearest eval id,
    and the release action — the paraphrase-level layer that runs
    AFTER t9/t14's exact-overlap gates in a real decontamination
    pipeline.

    Scale shape is s7's broadcast query-batch scan: the eval set is a
    bounded serving batch (thousands of rows at any corpus size), so
    it BROADCASTS and the corpus is read exactly once — cost is
    O(|corpus| x |eval|) flops but |corpus| x 1 I/O, embarrassingly
    parallel, zero pair shuffle. The per-document argmax is a
    groupBy max(struct(score_u, -eval_id)) — lexicographic struct max
    = highest score then lowest eval id, computed with MAP-SIDE
    partial aggregation, so only |corpus| best-so-far rows ever reach
    the exchange (a window over the pair stream would shuffle all
    |corpus| x |eval| rows). Tier boundaries and the argmax compare in
    integer micro-units on both engines (s14's decision-grade rule)."""
    from hive_to_es_spark.operators.similarity import _dbl, _dot, _norm

    e = load_tables(spark, sf_dir).embeddings
    is_eval = F.col("vec_id") % _T19_EVAL_MOD == _T19_EVAL_REM
    q = e.filter(is_eval).select(
        F.col("vec_id").alias("eval_id"),
        _dbl("embedding").alias("qv"),
        _norm(_dbl("embedding")).alias("nq"),
    )
    c = e.filter(~is_eval).select(
        F.col("vec_id").alias("doc_id"),
        _dbl("embedding").alias("ev"),
        _norm(_dbl("embedding")).alias("nc"),
    )
    cos = _dot(F.col("ev"), F.col("qv")) / (F.col("nc") * F.col("nq"))
    score_u = F.round(cos * 1_000_000).cast("bigint")
    best = (
        c.crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            F.struct(
                score_u.alias("s"), (-F.col("eval_id")).alias("neg_id")
            ).alias("cand"),
        )
        .groupBy("doc_id")
        .agg(F.max("cand").alias("m"))
    )
    max_u = F.col("m.s")
    return best.select(
        "doc_id",
        (-F.col("m.neg_id")).alias("nearest_eval_id"),
        max_u.alias("max_cos_u"),
        F.when(max_u >= _T19_DROP_U, "drop")
        .when(max_u >= _T19_REVIEW_U, "review")
        .otherwise("keep")
        .alias("action"),
    )


# ---------------------------------------------------------------------------# t20: corpus-relative quality gate — keep the top KEEP_FRAC of the
# corpus by quality, exact global rank semantics (rank by score DESC,
# doc_id ASC; keep rank <= ceil(frac * n)).
#
# Why a separate key from t4: t4's tiers are ABSOLUTE thresholds; real
# corpus cleaning (CCNet's percentile buckets, Gopher's rules) sets
# the bar RELATIVE to the corpus at hand, which needs a global
# quantile. Two design decisions:
#
# SCORE: t4's formula restated in EXACT integer ppm (the s14/a20
# decision-grade rule). The 6-dp double round diverges between
# engines on per-doc boundary rows — Spark's round() rounds the
# double's shortest decimal representation, DuckDB's rounds the
# binary value, and a raw score landing on a 7th-digit 5 flips
# (observed on the fixtures: 781817 vs 781818 ppm). t4 never sees
# this because it only emits group AVERAGES; a per-doc keep/drop
# decision would. So every term here is bigint: round-half-up of a
# ratio a/b as (2a + b) DIV (2b) — no doubles anywhere in the
# decision path.
#   score_ppm = least(n_tokens * 8000, 400000)            -- length
#             + 300000 - rnd(punct_len * 300000 / n_chars) -- punct
#             + least(rnd(stop_n * 1500000 / n_tokens), 300000)
#
# PLAN: the naive global row_number is a corpus sort; this computes
# the identical decision without one:
#   1. score census: groupBy(score_ppm) -> counts. The score domain
#      is bounded (0..1e6 ppm), so the census has AT MOST ~1e6 rows
#      no matter how large the corpus is.
#   2. one single-partition running sum over the census (bounded by
#      the domain — the textbook exception to the no-global-window
#      rule) finds the boundary score t*: the highest score whose
#      cumulative count reaches quota = ceil(frac * n).
#   3. every doc with score > t* keeps; the boundary GROUP (one exact
#      ppm score, bounded tie mass) is ranked by doc_id and keeps
#      only the remaining quota.
# The corpus is scanned twice (score + decide) and shuffled only as a
# map-side-combined census; no corpus-sized sort or window anywhere.
# ---------------------------------------------------------------------------

_T20_KEEP_FRAC = 0.30

# round-half-up of a/b for non-negative bigints, in pure integer
# arithmetic: (2a + b) DIV (2b)
_T20_SCORE_SQL = f"""scores AS (
  SELECT doc_id,
         least(len(string_split(text, ' ')) * 8000, 400000)
         + 300000 - (2 * length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 300000
                     + n_chars) // (2 * n_chars)
         + least((2 * len(list_filter(string_split(text, ' '),
                     w -> list_contains({list(_STOPWORDS)}, w))) * 1500000
                  + len(string_split(text, ' ')))
                 // (2 * len(string_split(text, ' '))), 300000) AS score_ppm
  FROM documents
)"""

_T20_ORACLE = f"""
WITH {_T20_SCORE_SQL},
ranked AS (
  SELECT doc_id, CAST(score_ppm AS BIGINT) AS score_ppm,
         row_number() OVER (ORDER BY score_ppm DESC, doc_id ASC) AS rn,
         count(*) OVER () AS n
  FROM scores
)
SELECT doc_id, score_ppm,
       CASE WHEN rn <= CAST(ceil({_T20_KEEP_FRAC} * n) AS BIGINT)
            THEN 'keep' ELSE 'drop' END AS decision
FROM ranked
"""


def _rnd_div(a, b):
    """Round-half-up of a/b for non-negative bigint columns as exact
    integer arithmetic: (2a + b) DIV (2b). The DIV is computed as
    (n - n % d) / d — after subtracting the exact bigint mod the
    numerator divides evenly, and IEEE division of two exact doubles
    with an integer quotient is exact (all terms here are per-DOC
    magnitudes < 2^53 at any corpus scale), so no floor-of-a-ratio
    boundary flip can occur (DuckDB's // is exact integer division;
    this must be too)."""
    n = 2 * a + b
    d = 2 * b
    return ((n - n % d) / d).cast("bigint")


def quantile_gate(scores: DataFrame, frac: float) -> DataFrame:
    """The census-first exact top-`frac` selection over a
    (doc_id, score_ppm) frame — t20's decision core, factored so edge
    geometries (all-equal scores, quota = 1, no boundary ties) can be
    pinned on synthetic inputs. Keep rank <= ceil(frac * n) under
    (score_ppm DESC, doc_id ASC); see the block comment above for why
    no corpus-sized sort or window appears."""
    census = scores.groupBy("score_ppm").agg(F.count("*").alias("n_s"))
    totals = census.agg(F.sum("n_s").alias("n_total"))
    w_cum = Window.orderBy(F.col("score_ppm").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        census.crossJoin(F.broadcast(totals))
        .withColumn("cum", F.sum("n_s").over(w_cum))
        .withColumn(
            "quota",
            F.ceil(F.lit(frac) * F.col("n_total")).cast("bigint"),
        )
        .withColumn("above", F.col("cum") - F.col("n_s"))
    )
    # boundary = the HIGHEST score whose cumulative count reaches the
    # quota; max(struct) keys on score_ppm first, so one reduce finds
    # it (no second sort). remaining = quota slots left for the
    # boundary-score tie group.
    boundary = (
        cum.filter(F.col("cum") >= F.col("quota"))
        .agg(F.max(F.struct("score_ppm", "above", "quota")).alias("b"))
        .select(
            F.col("b.score_ppm").alias("t_star"),
            (F.col("b.quota") - F.col("b.above")).alias("remaining"),
        )
    )
    # branch 1: strictly above / strictly below the boundary — a pure
    # broadcast-filtered scan, no shuffle of the corpus. The filter is
    # null-safe (round-11 ADVICE): a NULL score is not the boundary
    # score, lands here, fails the > comparison and routes to 'drop' —
    # matching the oracle, where DESC NULLS LAST ranks NULL scores past
    # every real score. (Contract edge: a corpus whose scores are ALL
    # NULL has no boundary and emits no rows.)
    others = (
        scores.crossJoin(F.broadcast(boundary))
        .filter(~F.col("score_ppm").eqNullSafe(F.col("t_star")))
        .select(
            "doc_id",
            "score_ppm",
            F.when(F.col("score_ppm") > F.col("t_star"), "keep")
            .otherwise("drop")
            .alias("decision"),
        )
    )
    # branch 2: the boundary tie group — bounded by the multiplicity
    # of ONE exact ppm score, ranked by doc_id for the last slots
    # (the single-partition window spans only this bounded group)
    w_tie = Window.orderBy(F.col("doc_id").asc())
    ties = (
        scores.crossJoin(F.broadcast(boundary))
        .filter(F.col("score_ppm") == F.col("t_star"))
        .withColumn("rn", F.row_number().over(w_tie))
        .select(
            "doc_id",
            "score_ppm",
            F.when(F.col("rn") <= F.col("remaining"), "keep")
            .otherwise("drop")
            .alias("decision"),
        )
    )
    return others.unionByName(ties)


@register("t20_quality_quantile_gate", _T20_ORACLE)
def t20_quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality gate: keep the top 30% by the integer-
    ppm quality score with exact global-rank semantics, computed
    census-first so no corpus-sized sort or window appears in the plan
    (see the block comment). Output: (doc_id, score_ppm, decision)."""
    d = load_tables(spark, sf_dir).documents
    tokens = F.split("text", " ")
    nt = F.size(tokens).cast("bigint")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    sw = F.size(
        F.filter(tokens, lambda w: F.array_contains(stop_arr, w))
    ).cast("bigint")
    pl = F.length(F.regexp_replace(F.col("text"), "[a-z0-9 ]", "")).cast("bigint")
    nc = F.col("n_chars").cast("bigint")
    score = (
        F.least(nt * 8000, F.lit(400000).cast("bigint"))
        + 300000
        - _rnd_div(pl * 300000, nc)
        + F.least(_rnd_div(sw * 1500000, nt), F.lit(300000).cast("bigint"))
    )
    return quantile_gate(
        d.select("doc_id", score.alias("score_ppm")), _T20_KEEP_FRAC
    )


# ---------------------------------------------------------------------------
# t21: the Gopher repetition/format rule family (Rae et al. 2021,
# arXiv:2112.11446, Table A1) — the document-format gates production
# quality filtering runs ALONGSIDE t11's top-unigram rule: duplicate-
# line fraction (> 30% drop), symbol-to-word ratio ('#' and '...'
# mass, > 10% drop), bullet-line fraction (> 90% drop) and
# ellipsis-line fraction (> 30% drop). One row per doc with per-rule
# ppm metrics AND per-rule verdicts, so the policy layer can report
# WHY a doc fell, not just that it fell; the composed corpus gate is
# t11 ∧ t21.
#
# Fixture texts are punctuation-free word soup (no bullets, ellipses,
# symbols, or newline structure), so — t10's synthetic-PII precedent —
# the operator first RENDERS each doc deterministically from doc_id:
# lines are t13's 3-token chunks, every 3rd line of doc_id%5==0 docs
# is replaced by line 1 (duplicate injection), doc_id%7==0 docs get
# every line bulleted, doc_id%11==0 docs get every 2nd line
# ellipsis-terminated, doc_id%13==0 docs get ' ###' appended per
# line. The decoration is mirrored token-for-token in the oracle, and
# every rule both fires and passes somewhere on the fixtures
# (asserted in tests). All scan-side: the whole operator is one
# projection of array HOFs — no explode, no join, no shuffle of any
# kind before the final (tiny) output.
#
# Integer discipline: every fraction is floor-ppm via exact integer
# DIV, every verdict a pure-integer compare — no float can flip a
# rule cross-engine.
# ---------------------------------------------------------------------------

_T21_LINE_TOKS = 3
_T21_DUP_PPM = 300_000
_T21_SYM_PPM = 100_000
_T21_BULLET_PPM = 900_000
_T21_ELLIPSIS_PPM = 300_000


def _t21_decorated_lines_sql() -> str:
    """The DuckDB rendering of the decorated line array — composed
    nested CASEs so Spark and SQL share the decoration rule
    term-for-term."""
    base = "CASE WHEN doc_id % 5 = 0 AND i % 3 = 0 THEN ls[1] ELSE ls[i] END"
    b = f"CASE WHEN doc_id % 7 = 0 THEN '- ' || ({base}) ELSE ({base}) END"
    e = f"CASE WHEN doc_id % 11 = 0 AND i % 2 = 0 THEN ({b}) || '...' ELSE ({b}) END"
    return f"CASE WHEN doc_id % 13 = 0 THEN ({e}) || ' ###' ELSE ({e}) END"


_T21_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE text IS NOT NULL
),
l0 AS (
  SELECT doc_id, {token_lines_sql("w", _T21_LINE_TOKS)} AS ls
  FROM t
),
dec AS (
  SELECT doc_id,
         list_transform(range(1, len(ls) + 1), i -> {_t21_decorated_lines_sql()}) AS dl
  FROM l0
),
m AS (
  SELECT doc_id,
         CAST(len(dl) AS BIGINT) AS n_lines,
         CAST(len(dl) - len(list_distinct(dl)) AS BIGINT) AS n_dup,
         CAST(len(list_filter(dl, l -> starts_with(l, '- '))) AS BIGINT) AS n_bullet,
         CAST(len(list_filter(dl, l -> ends_with(l, '...'))) AS BIGINT) AS n_ell,
         array_to_string(dl, ' ') AS fulltxt
  FROM dec
),
s AS (
  SELECT doc_id, n_lines, n_dup, n_bullet, n_ell,
         CAST(len(string_split(fulltxt, ' ')) AS BIGINT) AS n_words,
         CAST(length(fulltxt) - length(replace(fulltxt, '#', ''))
              + (length(fulltxt) - length(replace(fulltxt, '...', ''))) // 3
              AS BIGINT) AS n_sym
  FROM m
)
SELECT doc_id,
       n_dup * 1000000 // n_lines AS dup_line_ppm,
       n_sym * 1000000 // n_words AS symbol_ppm,
       n_bullet * 1000000 // n_lines AS bullet_ppm,
       n_ell * 1000000 // n_lines AS ellipsis_ppm,
       n_dup * 1000000 // n_lines <= {_T21_DUP_PPM} AS dup_ok,
       n_sym * 1000000 // n_words <= {_T21_SYM_PPM} AS symbol_ok,
       n_bullet * 1000000 // n_lines <= {_T21_BULLET_PPM} AS bullet_ok,
       n_ell * 1000000 // n_lines <= {_T21_ELLIPSIS_PPM} AS ellipsis_ok,
       CASE WHEN n_dup * 1000000 // n_lines <= {_T21_DUP_PPM}
             AND n_sym * 1000000 // n_words <= {_T21_SYM_PPM}
             AND n_bullet * 1000000 // n_lines <= {_T21_BULLET_PPM}
             AND n_ell * 1000000 // n_lines <= {_T21_ELLIPSIS_PPM}
            THEN 'keep' ELSE 'drop' END AS action
FROM s
"""


def repetition_rules(docs: DataFrame, line_toks: int = _T21_LINE_TOKS) -> DataFrame:
    """t21's render -> measure -> gate as a DataFrame-in/out helper
    (docs must carry doc_id + non-null text). One projection of array
    HOFs per row; see the block comment for the decoration rule."""
    ls = token_lines(line_toks)
    d5 = F.col("doc_id") % 5 == 0
    d7 = F.col("doc_id") % 7 == 0
    d11 = F.col("doc_id") % 11 == 0
    d13 = F.col("doc_id") % 13 == 0

    def _decorate(x, i0):
        i = i0 + 1  # 1-based line number, as in the oracle
        base = F.when(d5 & (i % 3 == 0), F.element_at(F.col("_ls"), 1)).otherwise(x)
        b = F.when(d7, F.concat(F.lit("- "), base)).otherwise(base)
        e = F.when(d11 & (i % 2 == 0), F.concat(b, F.lit("..."))).otherwise(b)
        return F.when(d13, F.concat(e, F.lit(" ###"))).otherwise(e)

    dec = (
        docs.withColumn("_toks", F.split(F.col("text"), " "))
        .withColumn("_ls", ls)
        .withColumn("dl", F.transform(F.col("_ls"), _decorate))
    )
    full = F.array_join(F.col("dl"), " ")
    stats = dec.select(
        "doc_id",
        F.size("dl").cast("bigint").alias("n_lines"),
        (F.size("dl") - F.size(F.array_distinct("dl"))).cast("bigint").alias("n_dup"),
        F.size(F.filter(F.col("dl"), lambda l: l.startswith("- ")))
        .cast("bigint")
        .alias("n_bullet"),
        F.size(F.filter(F.col("dl"), lambda l: l.endswith("...")))
        .cast("bigint")
        .alias("n_ell"),
        F.size(F.split(full, " ")).cast("bigint").alias("n_words"),
        (
            F.length(full)
            - F.length(F.replace(full, F.lit("#"), F.lit("")))
            + F.expr(
                "(length(array_join(dl, ' ')) "
                "- length(replace(array_join(dl, ' '), '...', ''))) DIV 3"
            )
        )
        .cast("bigint")
        .alias("n_sym"),
    )
    ppm = stats.select(
        "doc_id",
        F.expr("n_dup * 1000000 DIV n_lines").alias("dup_line_ppm"),
        F.expr("n_sym * 1000000 DIV n_words").alias("symbol_ppm"),
        F.expr("n_bullet * 1000000 DIV n_lines").alias("bullet_ppm"),
        F.expr("n_ell * 1000000 DIV n_lines").alias("ellipsis_ppm"),
    )
    dup_ok = F.col("dup_line_ppm") <= _T21_DUP_PPM
    sym_ok = F.col("symbol_ppm") <= _T21_SYM_PPM
    bullet_ok = F.col("bullet_ppm") <= _T21_BULLET_PPM
    ell_ok = F.col("ellipsis_ppm") <= _T21_ELLIPSIS_PPM
    return ppm.select(
        "*",
        dup_ok.alias("dup_ok"),
        sym_ok.alias("symbol_ok"),
        bullet_ok.alias("bullet_ok"),
        ell_ok.alias("ellipsis_ok"),
        F.when(dup_ok & sym_ok & bullet_ok & ell_ok, "keep")
        .otherwise("drop")
        .alias("action"),
    )


@register("t21_repetition_rules", _T21_ORACLE)
def t21_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetition/format rule family (see the block
    comment): per-doc duplicate-line / symbol-ratio / bullet-line /
    ellipsis-line ppm metrics with per-rule verdicts and the composed
    keep/drop action, over the deterministically rendered fixture
    corpus. Pure scan-side array HOFs — the plan has no exchange at
    all before the output."""
    return repetition_rules(
        load_tables(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    )


# ---------------------------------------------------------------------------
# t22: DSIR — Data Selection via Importance Resampling (Xie et al.
# 2023, arXiv:2302.03169). The data-SELECTION counterpart of the
# quality gates above: instead of scoring documents against absolute
# heuristics (t4) or the corpus's own LM (t8), DSIR scores each raw
# document by how much MORE likely its hashed n-gram features are
# under a TARGET-domain distribution than under the raw-corpus
# distribution, and keeps the documents whose importance weight
# clears a threshold. The paper's recipe: features = unigrams +
# bigrams hashed into a fixed B-bucket space, bag-of-hashed-ngrams
# unigram models with add-1 smoothing over buckets, importance
# weight = sum over feature OCCURRENCES of
# log p_target(bucket) - log p_raw(bucket).
#
# Fixture note (the t21/t10 rendering precedent): every fixture lang
# shares ONE 31-word vocabulary, so no natural column carries a
# lexical domain signal. The op therefore RENDERS a deterministic
# latent domain from doc_id, mirrored term-for-term in the oracle:
# target docs (doc_id % 3 = 0) carry one extra 'dom<k>' token per 4
# words, doc_id % 7 = 0 non-target docs one per 6 (weak contamination
# — the raw docs DSIR exists to find), everyone else none.
#
# Selection rule: add-1 smoothing over B buckets puts a systematic
# NEGATIVE drift on every ordinary-token occurrence (tt + B inflates
# the target model proportionally more than tr + B inflates the raw
# one), and the drift's magnitude moves with corpus size — so no
# absolute threshold on the raw sum separates the classes at every
# SF. The self-calibrating gate DSIR's top-fraction resampling
# implies: a doc is selected iff its PER-FEATURE mean log-ratio
# exceeds the CORPUS per-occurrence mean. The corpus mean needs no
# extra corpus pass — sum(s)/sum(n_features) over docs == the
# census-weighted mean sum(cr*lrat)/sum(cr) over the <=B bucket rows
# (both are sum-over-occurrences / count-of-occurrences), so it falls
# out of the same bounded census. Measured at sf0.001/0.01/0.1: 100%
# of target docs select, most weak-contaminated docs select, clean
# docs land below the mean with a handful of near-boundary
# exceptions — non-vacuous in both directions at every SF.
#
# Why hashed buckets (and why this scales): the two "models" are
# censuses over a CONSTANT domain of B=4096 buckets — at 100 TB the
# census aggregate still map-combines every partition down to <=B
# partial rows, and the finished log-ratio table is a <=B-row
# broadcast. The corpus is touched exactly twice, both times as a
# straight scan: once to count buckets (census pass), once to score
# (explode -> broadcast-hash probe -> per-doc partial sum); the only
# corpus-keyed exchange in the whole plan is the final groupBy(doc_id)
# whose partial aggregate already collapsed each task to its local
# doc set. Both distributions come out of ONE census pass
# (count FILTER), not two scans.
#
# Cross-engine determinism: buckets are hash_bucket (md5_60 mod B);
# the float sum of per-occurrence log-ratios is rounded to 4 dp
# exactly like t8's lm_score (per-term ln() may differ by <=1 ulp
# between libm and java.lang.Math — the documented 1e-13-class noise
# the rounding absorbs). `selected` thresholds the ROUNDED score so the verdict
# can never disagree across engines.
_T22_B = 4096
_T22_DOM_EVERY_TGT = 4  # one rendered domain token per 4 words (target)
_T22_DOM_EVERY_WEAK = 6  # ... per 6 words (doc_id%7 contaminated raw docs)

_T22_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
feats AS (
  SELECT doc_id, doc_id % 3 = 0 AS is_target,
         list_concat(
           list_concat(
             w, list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])
           ),
           list_transform(
             range(1, CASE WHEN doc_id % 3 = 0
                             THEN len(w) // {_T22_DOM_EVERY_TGT}
                           WHEN doc_id % 7 = 0
                             THEN len(w) // {_T22_DOM_EVERY_WEAK}
                           ELSE 0 END + 1),
             i -> 'dom' || CAST((doc_id * 31 + 7 * i) % 16 AS VARCHAR)
           )
         ) AS fs
  FROM t
),
occ AS (
  SELECT doc_id, is_target,
         {md5_60_sql("unnest(fs)")} % {_T22_B} AS b
  FROM feats
),
census AS (
  SELECT b,
         CAST(count(*) AS BIGINT) AS cr,
         CAST(count(*) FILTER (WHERE is_target) AS BIGINT) AS ct
  FROM occ GROUP BY b
),
tot AS (
  SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt
  FROM census
),
lr AS (
  SELECT b, cr,
         ln((ct + 1.0) / (tt + {_T22_B}.0))
           - ln((cr + 1.0) / (tr + {_T22_B}.0)) AS lrat
  FROM census, tot
),
gm AS (SELECT sum(cr * lrat) / sum(cr) AS mu FROM lr)
SELECT o.doc_id,
       CAST(count(*) AS BIGINT) AS n_features,
       round(sum(lr.lrat), 4) + 0.0 AS dsir_logratio,
       round(sum(lr.lrat) / count(*) - any_value(gm.mu), 4) + 0.0 AS dsir_rel,
       round(sum(lr.lrat) / count(*) - any_value(gm.mu), 4) > 0 AS selected
FROM occ o JOIN lr USING (b), gm
GROUP BY o.doc_id
"""
# ^ "+ 0.0" normalizes IEEE negative zero: a ~-1e-13 float sum rounds
# to -0.0 in one engine and +0.0 in the other (observed at 16x), and
# the comparator formats them differently ('-0.000000' vs '0.000000').
# -0.0 + 0.0 = +0.0 under round-to-nearest, identically in both.


def dsir_features(tokens_col: str = "_w"):
    """Unigram + bigram + rendered-domain feature array over a
    PRE-MATERIALIZED token-array column — the DSIR hashed-ngram
    feature stream, one entry per OCCURRENCE (counts matter; no
    dedup). See the block comment for the deterministic domain
    rendering.

    Why a column and not split(text) inline: Spark does NOT
    common-subexpression-eliminate inside lambda functions, so an
    inline split makes every element_at(w, i) in the bigram transform
    re-split the whole text — O(n_tokens²) splits per document
    (measured: 6.1s for the explode alone at sf0.1 vs 0.3s over a
    materialized column). The oracle's CTE materializes w for the
    same reason."""
    w = F.col(tokens_col)
    # Same sequence(1, 0)-steps-DOWNWARD pitfall as the dom branch
    # below: a 0/1-token doc (empty text splits to ['']) would make
    # sequence(1, size-1) yield [1, 0] and element_at(w, 0) raise
    # "SQL array indices start at 1" — guard to the oracle's empty
    # range(1, 1) semantics explicitly.
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(
                "_", F.element_at(w, i), F.element_at(w, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_dom = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.floor(F.size(w) / _T22_DOM_EVERY_TGT).cast("int"),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.floor(F.size(w) / _T22_DOM_EVERY_WEAK).cast("int"),
        )
        .otherwise(F.lit(0))
    )
    # Spark's sequence(1, 0) steps DOWNWARD ([1, 0]) instead of
    # returning the empty array DuckDB's range(1, 1) does — guard the
    # zero-token case explicitly.
    dom = F.when(
        n_dom > 0,
        F.transform(
            F.sequence(F.lit(1), n_dom),
            lambda i: F.concat(
                F.lit("dom"),
                ((F.col("doc_id") * 31 + 7 * i) % 16).cast("string"),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(w, bigrams, dom)


@register("t22_dsir_importance", _T22_ORACLE)
def t22_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (see block comment): per-doc hashed
    unigram+bigram log-likelihood ratio of the rendered target-domain
    model vs the raw-corpus model (add-1 smoothing over B=4096
    buckets), with `selected` = per-feature mean ratio above the
    corpus per-occurrence mean (self-calibrating at any SF).

    Plan shape (pinned): the corpus is exploded ONCE — round 15
    (guide §2.4; VERDICT r14 task 5): the r14 form ran the feature
    explode twice (census pass + scoring pass, two full corpus
    scans); both passes actually consume the same information, the
    per-(doc, bucket) occurrence counts, so that relation is now
    computed once (explode -> partial-aggregated groupBy(doc_id, b))
    and shared through a LAZY localCheckpoint: the census aggregates
    it by bucket (cr = sum(k), ct = sum(k) filter is_target) and the
    scoring side probes it against the broadcast log-ratio table with
    per-doc sums weighted by k (sum(k*lrat) == the occurrence sum
    exactly at 4 dp — verified value-identical against the oracle at
    both SFs). One corpus scan instead of two; measured 2.2-2.5 s ->
    1.5-1.9 s at sf0.1. The model totals (tr/tt) and the corpus mean
    (mu) stay UNPARTITIONED WINDOW sums over the census — bounded by
    the CONSTANT B=4096 bucket domain at any corpus size, the t20
    exemption class — so the census subtree is instantiated exactly
    once and (b, lrat, mu) broadcasts as one table. One
    BroadcastHashJoin probe, final partial-aggregated
    groupBy(doc_id). No cartesian, no corpus-keyed window, no sort."""
    from hive_to_es_spark.functions.lifecycle import materialize

    d = (
        load_tables(spark, sf_dir)
        .documents.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            (F.col("doc_id") % 3 == 0).alias("is_target"),
            F.split(F.lower(F.col("text")), " ").alias("_w"),
        )
        .select(
            "doc_id", "is_target", F.explode(dsir_features("_w")).alias("f")
        )
        .select("doc_id", "is_target", hash_bucket("f", _T22_B).alias("b"))
    )
    db = materialize(
        d.groupBy("doc_id", "is_target", "b").agg(
            F.count("*").cast("bigint").alias("k")
        ),
        eager=False,
    )
    census = db.groupBy("b").agg(
        F.sum("k").cast("bigint").alias("cr"),
        F.sum(F.when(F.col("is_target"), F.col("k")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("ct"),
    )
    everything = Window.partitionBy()  # <=B census rows by construction
    lr = census.select(
        "b",
        "cr",
        (
            F.log(
                (F.col("ct") + 1.0)
                / (F.sum("ct").over(everything) + float(_T22_B))
            )
            - F.log(
                (F.col("cr") + 1.0)
                / (F.sum("cr").over(everything) + float(_T22_B))
            )
        ).alias("lrat"),
    ).select(
        "b",
        "lrat",
        (
            F.sum(F.col("cr") * F.col("lrat")).over(everything)
            / F.sum("cr").over(everything)
        ).alias("mu"),
    )
    rel = F.round(
        F.sum(F.col("k") * F.col("lrat")) / F.sum("k") - F.any_value("mu"), 4
    )
    return (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_features"),
            # + 0.0 normalizes IEEE -0.0 (both engines; see the oracle
            # note — a ~-1e-13 sum rounds to signed zero at 16x)
            (F.round(F.sum(F.col("k") * F.col("lrat")), 4) + 0.0).alias(
                "dsir_logratio"
            ),
            (rel + 0.0).alias("dsir_rel"),
            (rel > 0).alias("selected"),
        )
    )


# ---------------------------------------------------------------------------
# t23 — unigram-LM tokenizer TRAINING (Kudo 2018, arXiv:1804.10959,
# the SentencePiece unigram model; r12-verdict task 5). t16 learns a
# BPE merge table; this learns the OTHER mainstream subword model:
# a piece inventory with log-probabilities, fit by fixed-round EM —
# seed vocabulary from substring counts (the t18 family), E-step =
# per-word Viterbi best segmentation under current piece costs,
# M-step = re-estimate piece probabilities from Viterbi usage and
# prune dead pieces (hard-EM / Viterbi-EM — the deterministic
# variant; Kudo's soft E-step sums over all segmentations and prunes
# by likelihood loss, which has no cross-engine-exact restatement).
#
# INTEGER discipline: piece costs are micro-nats,
# CAST(round(-ln(p) * 1e6) AS BIGINT), so the whole DP is bigint
# arithmetic — min/+ over identical integers in both engines, no
# float path sums to drift, and the Viterbi tie-break (prefer the
# LONGEST piece whose edge closes the optimum, k = 4..1) is a fixed
# CASE order both sides share.
#
# Scale shape (the t16 economics): the corpus collapses to the word
# census ONCE; seeding, both E-steps and the M-step run on
# |vocab|-bounded tables; the only other corpus-sized stage is the
# final per-doc accounting join (census-sized build side broadcasts).
# The per-word Viterbi is ONE scan-side F.aggregate expression — the
# dist array builds left-to-right over word positions with piece
# costs looked up in a broadcast map column, then a second aggregate
# walks the backpointers out of the SAME materialized dist column
# (no CSE inside lambdas — the dist array is projected as a column
# first, the t22/word_shingles lesson). No joins, no rounds, no UDF.
#
# The ORACLE replays both E-steps as UNROLLED CTE chains (dp{i} per
# word position, bw{s} per walk step — generated to _T23_LMAX from
# the same Python constants, the t16 discipline) over DuckDB
# relational joins: an INDEPENDENT algorithm (position-table
# Bellman + join-based backward walk) against Spark's in-row array
# program, so a DP bug cannot hide in a mirrored oracle.
# _T23_LMAX = 12 bounds the ORACLE's unrolling only (fixture max
# word length is 8; the Spark side is generic in word length).
# ---------------------------------------------------------------------------

_T23_MAX_PIECE = 4
_T23_LMAX = 12
_T23_INF = 1 << 62
_T23_MICRO = 1_000_000


def _t23_ctes(lmax: int = _T23_LMAX, maxp: int = _T23_MAX_PIECE) -> list[str]:
    """The full train-chain CTE list (census -> seed -> EM round 1 ->
    prune/M-step -> EM round 2 -> final per-word segmentation w2 +
    doc words dw), shared by the t23 oracle and t26's encode oracle
    so the two contracts cannot drift."""
    ctes = [
        """wc AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
)""",
        "sub AS MATERIALIZED (\n"
        + "\n  UNION ALL\n".join(
            f"""  SELECT substr(word, CAST(i AS INT), {k}) AS piece, freq
  FROM (SELECT word, freq, unnest(range(1, len(word) - {k} + 2)) AS i
        FROM wc WHERE len(word) >= {k})"""
            for k in range(1, maxp + 1)
        )
        + "\n)",
        "seed AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM sub GROUP BY piece)",
        f"""c0 AS MATERIALIZED (
  SELECT piece, CAST(round(-ln(cnt / t.tot) * {_T23_MICRO}) AS BIGINT) AS c
  FROM seed, (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM seed) t
)""",
    ]

    def em_round(r: int, cost: str) -> list[str]:
        out = [f"d{r}_0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS d FROM wc)"]
        for i in range(1, lmax + 1):
            branches = []
            for k in range(1, min(maxp, i) + 1):
                branches.append(
                    f"""    SELECT p.word, p.d + c.c AS dc
    FROM d{r}_{i - k} p JOIN {cost} c
      ON c.piece = substr(p.word, {i - k + 1}, {k})
    WHERE len(p.word) >= {i}"""
                )
            out.append(
                f"d{r}_{i} AS MATERIALIZED (\n  SELECT word, min(dc) AS d FROM (\n"
                + "\n    UNION ALL\n".join(branches)
                + "\n  ) GROUP BY word\n)"
            )
        out.append(
            f"dist{r} AS MATERIALIZED (\n  "
            + "\n  UNION ALL\n".join(
                f"SELECT word, {i} AS pos, d FROM d{r}_{i}"
                for i in range(0, lmax + 1)
            )
            + "\n)"
        )
        out.append(
            f"""bw{r}_0 AS MATERIALIZED (
  SELECT word, freq, CAST(len(word) AS INT) AS pos,
         CAST([] AS VARCHAR[]) AS ps
  FROM wc
)"""
        )
        for s in range(1, lmax + 1):
            whens = "\n        ".join(
                f"WHEN b.pos >= {k} AND dk{k}.d + ck{k}.c = dcur.d THEN {k}"
                for k in range(maxp, 1, -1)
            )
            joins = "\n    ".join(
                f"LEFT JOIN dist{r} dk{k} ON dk{k}.word = b.word AND dk{k}.pos = b.pos - {k}\n"
                f"    LEFT JOIN {cost} ck{k} ON ck{k}.piece = substr(b.word, b.pos - {k} + 1, {k})"
                for k in range(maxp, 0, -1)
            )
            out.append(
                f"""bw{r}_{s} AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN pos <= 0 THEN pos ELSE pos - kc END AS pos,
         CASE WHEN pos <= 0 THEN ps
              ELSE list_append(ps, substr(word, pos - kc + 1, kc)) END AS ps
  FROM (
    SELECT b.word, b.freq, b.pos, b.ps,
      CASE {whens}
        ELSE 1
      END AS kc
    FROM bw{r}_{s - 1} b
    JOIN dist{r} dcur ON dcur.word = b.word AND dcur.pos = b.pos
    {joins}
  )
)"""
            )
        return out

    ctes += em_round(1, "c0")
    ctes += [
        f"""u1 AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT unnest(ps) AS piece, freq FROM bw1_{lmax})
  GROUP BY piece
)""",
        """kept AS MATERIALIZED (
  SELECT k.piece, coalesce(u1.cnt, 0) AS cnt
  FROM (SELECT piece FROM seed WHERE len(piece) = 1
        UNION SELECT piece FROM u1) k
  LEFT JOIN u1 ON u1.piece = k.piece
)""",
        f"""c1 AS MATERIALIZED (
  SELECT piece,
         CAST(round(-ln((cnt + 1.0) / (t.tot + t.nk)) * {_T23_MICRO}) AS BIGINT) AS c
  FROM kept, (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
                     CAST(count(*) AS BIGINT) AS nk FROM kept) t
)""",
    ]
    ctes += em_round(2, "c1")
    ctes += [
        f"""w2 AS MATERIALIZED (
  SELECT b.word, b.ps, CAST(len(b.ps) AS BIGINT) AS n_pieces, d.d AS wcost
  FROM bw2_{lmax} b JOIN dist2 d ON d.word = b.word AND d.pos = len(b.word)
)""",
        """dw AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
  FROM documents
)""",
    ]
    return ctes


def _t23_oracle(lmax: int = _T23_LMAX, maxp: int = _T23_MAX_PIECE) -> str:
    return (
        "WITH\n"
        + ",\n".join(_t23_ctes(lmax, maxp))
        + """
SELECT doc_id,
       CAST(sum(n_pieces) AS BIGINT) AS n_tokens,
       CAST(sum(wcost) AS BIGINT) AS total_cost_micro
FROM (SELECT doc_id, word FROM dw WHERE word <> '') j
JOIN w2 USING (word)
GROUP BY doc_id
"""
    )


_T23_ORACLE = _t23_oracle()


def _t23_dist_expr(word_col: str = "word", cm_col: str = "cm"):
    """The Viterbi forward pass as one array program: dist[i+1] =
    min over k<=4 of dist[i-k+1] + cost(word[i-k+1 .. i]), missing
    pieces priced at _T23_INF (never optimal — single chars are
    always in the inventory)."""
    w, cm = F.col(word_col), F.col(cm_col)
    inf = F.lit(_T23_INF).cast("bigint")

    def edge(acc, i, k):
        start = (i - k + 1).cast("int")
        return F.when(
            i >= k,
            F.element_at(acc, start)
            + F.coalesce(F.element_at(cm, w.substr(start, F.lit(k))), inf),
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.length(w)),
        F.array(F.lit(0).cast("bigint")),
        lambda acc, i: F.concat(
            acc,
            F.array(
                F.least(
                    *[edge(acc, i, k) for k in range(1, _T23_MAX_PIECE + 1)]
                )
            ),
        ),
    )


def _t23_walk_expr(
    word_col: str = "word", dist_col: str = "_d", cm_col: str = "cm"
):
    """The backward walk over the MATERIALIZED dist column: from
    pos = len(word), take the longest k whose edge closes the
    optimum (dist[pos-k] + cost == dist[pos], k = 4..1 — the fixed
    tie-break the oracle mirrors), collect the piece, move to
    pos - k. Accumulator = struct(pos, pieces)."""
    w, d, cm = F.col(word_col), F.col(dist_col), F.col(cm_col)
    inf = F.lit(_T23_INF).cast("bigint")

    def step(acc):
        expr = None
        for k in range(_T23_MAX_PIECE, 0, -1):
            pos = acc["pos"]
            start = (pos - k + 1).cast("int")
            piece = w.substr(start, F.lit(k))
            closes = (pos >= k) & (
                F.element_at(d, start)
                + F.coalesce(F.element_at(cm, piece), inf)
                == F.element_at(d, (pos + 1).cast("int"))
            )
            nxt = F.struct(
                (pos - k).cast("int").alias("pos"),
                F.concat(acc["ps"], F.array(piece)).alias("ps"),
            )
            expr = F.when(closes, nxt) if expr is None else expr.when(closes, nxt)
        # unreachable by DP construction; mirrors the oracle's ELSE 1
        pos = acc["pos"]
        return expr.otherwise(
            F.struct(
                (pos - 1).cast("int").alias("pos"),
                F.concat(acc["ps"], F.array(w.substr(pos.cast("int"), F.lit(1))))
                .alias("ps"),
            )
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.length(w)),
        F.struct(
            F.length(w).cast("int").alias("pos"),
            F.array().cast("array<string>").alias("ps"),
        ),
        lambda acc, _i: F.when(acc["pos"] <= 0, acc).otherwise(step(acc)),
    )


def _t23_segment(census_with_cm: DataFrame) -> DataFrame:
    """(word, freq, cm) -> (word, freq, ps, n_pieces, wcost): Viterbi
    best segmentation per census word under the cost map column."""
    return (
        census_with_cm.withColumn("_d", _t23_dist_expr())
        .withColumn("_w", _t23_walk_expr())
        .select(
            "word",
            "freq",
            F.col("_w.ps").alias("ps"),
            F.size("_w.ps").cast("bigint").alias("n_pieces"),
            F.element_at(
                "_d", (F.length("word") + 1).cast("int")
            ).alias("wcost"),
        )
    )


def _t23_cost_map(costs: DataFrame):
    """(piece, c) -> 1-row (cm: map<string,bigint>) frame to
    broadcast onto the census."""
    return costs.agg(
        F.map_from_entries(
            F.collect_list(F.struct("piece", "c"))
        ).alias("cm")
    )


def unigram_lm_train(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fixed-round Viterbi-EM unigram-LM training over a documents
    frame (doc_id, text). Returns (pieces, seg): the final piece cost
    table (piece, cnt, c — micro-nat cost) and the final per-word
    segmentation (word, freq, ps, n_pieces, wcost). See the block
    comment for the plan; everything here runs on |vocab|-bounded
    tables after the one census scan."""
    from hive_to_es_spark.functions.lifecycle import materialize

    w = F.col("word")
    n = F.length(w)
    census = materialize(
        docs.select(
            F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .filter(w != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    # seed: every substring occurrence of length 1..4, freq-weighted.
    # NB the lambda comes from a closure FACTORY: `lambda i, k=k: ...`
    # would have TWO parameters, which F.transform silently treats as
    # the binary (element, index) form — k becomes the array index,
    # not the closure value (measured: garbage substrings).
    def _sub_k(k: int):
        return lambda i: w.substr(i.cast("int"), F.lit(k))

    subs = F.flatten(
        F.array(
            *[
                F.when(
                    n >= k,
                    F.transform(F.sequence(F.lit(1), (n - k + 1)), _sub_k(k)),
                ).otherwise(F.array().cast("array<string>"))
                for k in range(1, _T23_MAX_PIECE + 1)
            ]
        )
    )
    seed = (
        census.select(F.explode(subs).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    tot0 = seed.agg(F.sum("cnt").cast("bigint").alias("tot"))
    c0 = seed.crossJoin(F.broadcast(tot0)).select(
        "piece",
        F.round(-F.log(F.col("cnt") / F.col("tot")) * _T23_MICRO)
        .cast("bigint")
        .alias("c"),
    )
    # E-step 1 under seed costs
    seg1 = _t23_segment(census.crossJoin(F.broadcast(_t23_cost_map(c0))))
    u1 = (
        seg1.select(F.explode("ps").alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    # prune: drop multi-char pieces with zero Viterbi usage; single
    # chars stay for coverage (Kudo's base-character rule)
    kept = (
        seed.filter(F.length("piece") == 1)
        .select("piece")
        .unionByName(u1.select("piece"))
        .distinct()
        .join(u1, "piece", "left")
        .na.fill(0, ["cnt"])
    )
    # M-step: add-1 re-estimate over the kept inventory
    t1 = kept.agg(
        F.sum("cnt").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("nk"),
    )
    pieces = materialize(
        kept.crossJoin(F.broadcast(t1)).select(
            "piece",
            "cnt",
            F.round(
                -F.log(
                    (F.col("cnt") + 1.0) / (F.col("tot") + F.col("nk"))
                )
                * _T23_MICRO
            )
            .cast("bigint")
            .alias("c"),
        )
    )
    # E-step 2 under re-estimated costs = the final segmentation
    seg2 = materialize(
        _t23_segment(
            census.crossJoin(
                F.broadcast(_t23_cost_map(pieces.select("piece", "c")))
            )
        )
    )
    return pieces, seg2


@register("t23_unigram_lm_train", _T23_ORACLE)
def t23_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-class) tokenizer training by
    fixed-round Viterbi-EM (see the block comment), surfaced as the
    per-doc token accounting under the FINAL model: (doc_id,
    n_tokens, total_cost_micro) — any drift anywhere in the seed /
    E / M / prune / E chain changes segmentations and fails the hash.
    The corpus is touched exactly twice (census scan + this
    accounting join, census-sized build side broadcast)."""
    docs = load_tables(spark, sf_dir).documents
    _, seg2 = unigram_lm_train(docs)
    dw = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        dw.join(F.broadcast(seg2.select("word", "n_pieces", "wcost")), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_pieces").cast("bigint").alias("n_tokens"),
            F.sum("wcost").cast("bigint").alias("total_cost_micro"),
        )
    )


# ---------------------------------------------------------------------------
# t24 — character-entropy gibberish gate (round 13): the classic
# low-entropy filter (C4/RefinedWeb-class cleaning runs it alongside
# the repetition rules): a document whose character distribution is
# too concentrated (key-mash, padding runs, binary-ish dumps) scores
# low Shannon entropy and drops. H = -Σ p_c ln p_c over the doc's
# character census; gate at _T24_MIN_ENT nats (fixture-clean docs
# measure 2.547..2.932; the rendered low-entropy arm ~2.1).
#
# Fixture texts are uniform word soup (no natural gibberish), so —
# the t10/t21 rendering precedent — doc_id%17==0 docs get a
# same-length 'z'-run appended (mirrored token-for-token in the
# oracle), dragging H below the gate; every other doc passes. Both
# arms assert non-vacuous in tests.
#
# Plan: PURE SCAN-SIDE, zero exchanges before the (tiny) output —
# the census is an in-row array program (array_distinct + per-char
# size(filter(...)) over a PROJECTED chars column, O(distinct×len)
# per row), the t21 class; the oracle restates it as the relational
# explode + per-(doc,char) GROUP BY census — an independent
# algorithm. Float seam: the per-doc term sum has engine-dependent
# order (array order vs hash-agg order), absorbed by the t8-precedent
# 4-dp round (+ 0.0 normalizes IEEE negative zero).
# ---------------------------------------------------------------------------

_T24_MIN_ENT = 2.4

_T24_ORACLE = f"""
WITH rendered AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN text || repeat('z', length(text))
              ELSE text END AS rtext
  FROM documents WHERE text IS NOT NULL
),
ch AS (
  SELECT doc_id, unnest(string_split(lower(rtext), '')) AS c FROM rendered
),
cc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n
       FROM ch WHERE c <> '' GROUP BY doc_id, c),
tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS t FROM cc GROUP BY doc_id),
h AS (
  SELECT cc.doc_id, t.t AS n_chars_ent,
         -sum((n / t.t) * ln(n / t.t)) AS ent
  FROM cc JOIN tot t USING (doc_id) GROUP BY cc.doc_id, t.t
)
SELECT doc_id, n_chars_ent,
       round(ent, 4) + 0.0 AS entropy,
       CASE WHEN ent >= {_T24_MIN_ENT} THEN 'keep' ELSE 'drop' END AS decision
FROM h
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT) AS n_chars_ent, 0.0 AS entropy,
       'drop' AS decision
FROM rendered WHERE rtext = ''
"""


def char_entropy(docs: DataFrame, text_col: str = "rtext") -> DataFrame:
    """Per-doc character Shannon entropy as one scan-side array
    program over a (doc_id, <text_col>) frame — O(len log len) per
    row: sort the char array (JVM array_sort), find run boundaries,
    difference adjacent boundary positions into run LENGTHS (the
    census counts), sum p ln p over runs. (The obvious
    array_distinct + per-char size(filter(...)) census is
    O(alphabet x len) of interpreted HOF work per row — measured
    6.6 s for 5000 docs at sf0.1, ~5x this plan.) Every array the
    lambdas read is a PROJECTED column (no CSE inside lambdas); the
    i == n guard is a lazy CASE, not OR, because ANSI element_at
    raises out-of-bounds. No exchange, no explode, no join.

    Zero-char docs (text = '' -> the char filter leaves nothing) are
    the dsir sequence(1, 0)-steps-DOWNWARD pitfall (ADVICE r13):
    unguarded, F.sequence(1, 0) yields [1, 0] and the ends filter
    evaluates element_at on the EMPTY array — INVALID_ARRAY_INDEX
    under ANSI. Guarded here to an explicit row (n_chars_ent = 0,
    entropy 0.0 -> 'drop'), mirrored by the oracle's UNION ALL arm."""
    chars = F.filter(
        F.split(F.lower(F.col(text_col)), ""), lambda c: c != ""
    )
    d = docs.withColumn("_sc", F.array_sort(chars))
    n = F.size("_sc")
    # run END positions, 1-based ascending: i where sc[i] != sc[i+1]
    ends = F.when(
        n >= 1,
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: F.when(i == n, F.lit(True)).otherwise(
                F.element_at(F.col("_sc"), i.cast("int"))
                != F.element_at(F.col("_sc"), (i + 1).cast("int"))
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    d = d.withColumn("_re", ends)
    # run lengths: ends[j] - ends[j-1] (binary transform lambda —
    # j is the 0-based element index, so ends[j-1] is 1-based j)
    lens = F.transform(
        F.col("_re"),
        lambda e, j: e
        - F.when(j == 0, F.lit(0).cast("bigint")).otherwise(
            F.element_at(F.col("_re"), j.cast("int"))
        ),
    )
    ent = -F.aggregate(
        F.transform(lens, lambda c: (c / n) * F.log(c / n)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    # pass input columns through (p26 composes this gate into a wider
    # per-doc gate frame); internal census arrays dropped
    return d.select(
        "*",
        n.cast("bigint").alias("n_chars_ent"),
        ent.alias("_ent"),
    ).drop("_sc", "_re")


@register("t24_char_entropy", _T24_ORACLE)
def t24_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy gibberish gate (see the block comment):
    per-doc Shannon entropy over the rendered text's character
    census, keep at >= 2.4 nats. Zero-exchange scan-side plan; the
    oracle recomputes the census relationally."""
    docs = load_tables(spark, sf_dir).documents.filter(
        F.col("text").isNotNull()
    )
    rendered = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 17 == 0,
            F.concat(
                F.col("text"), F.repeat(F.lit("z"), F.length("text"))
            ),
        )
        .otherwise(F.col("text"))
        .alias("rtext"),
    )
    h = char_entropy(rendered)
    return h.select(
        "doc_id",
        "n_chars_ent",
        (F.round("_ent", 4) + 0.0).alias("entropy"),
        F.when(F.col("_ent") >= _T24_MIN_ENT, "keep")
        .otherwise("drop")
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# t25 — top-K-vocabulary LM scoring with an OOV floor (round 13):
# the PRODUCTION form t8's docstring promises. t8 joins every corpus
# word against the FULL frequency tail — at 100 TB that frequency
# table is itself corpus-scale (every typo and hash-like token is a
# row), so the join must shuffle the corpus. The production recipe
# caps the model at the top-K vocabulary (deterministic: count DESC,
# word ASC) and routes everything else through ONE unknown-word
# bucket whose mass is the remaining count total — the vocab is then
# K rows REGARDLESS of corpus size, rides a broadcast, and the
# corpus never shuffles for the score join; per-doc OOV counts come
# free. K = 20 sits below the fixtures' 31-word vocabulary so the
# OOV arm is non-vacuous at every SF. (c_unk > 0 whenever K <
# distinct words; a corpus fully covered by the top-K would need
# add-one smoothing — documented, not fixture-reachable.)
# ---------------------------------------------------------------------------

_T25_K = 20

_T25_ORACLE = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents
),
freq AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM freq),
vocab AS (SELECT w, c FROM freq ORDER BY c DESC, w ASC LIMIT {_T25_K}),
unk AS (
  SELECT t.t - (SELECT CAST(sum(c) AS BIGINT) FROM vocab) AS c_unk, t.t AS t
  FROM tot t
),
scored AS (
  SELECT wo.doc_id,
         ln(coalesce(v.c, u.c_unk) / u.t) AS lp,
         CASE WHEN v.c IS NULL THEN 1 ELSE 0 END AS oov
  FROM words wo LEFT JOIN vocab v ON wo.w = v.w, unk u
)
SELECT doc_id,
       round(avg(lp), 4) + 0.0 AS lm_topk_score,
       CAST(sum(oov) AS BIGINT) AS n_oov
FROM scored GROUP BY doc_id
"""


def lm_topk_doc_scores(docs: DataFrame, k: int | None = None) -> DataFrame:
    """The t25 scorer as a shared helper: per-doc top-K + OOV-floor
    unigram-LM scores (doc_id, lm4 = 4-dp-rounded mean log-prob,
    n_oov) over a (doc_id, text) frame. The K-row vocab comes off a
    TakeOrderedAndProject over the map-combined census and reaches
    the corpus as a BroadcastHashJoin build side — the corpus is
    scanned twice (census + scoring) and shuffled only map-combined;
    the word-keyed corpus shuffle of a full-tail join (t8's) never
    appears. Consumers: t25 (the registered scorer) and o15 (the
    CCNet bucket mixture — VERDICT r13 task 1 moved its scoring
    stage here off t8's shuffle). k = None resolves _T25_K at CALL
    time (tests monkeypatch the module constant)."""
    if k is None:
        k = _T25_K
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    freq = words.groupBy("w").agg(F.count("*").cast("bigint").alias("c"))
    tot = freq.agg(F.sum("c").cast("bigint").alias("t"))
    vocab = freq.orderBy(F.col("c").desc(), F.col("w").asc()).limit(k)
    unk = (
        vocab.agg(F.sum("c").cast("bigint").alias("vsum"))
        .crossJoin(F.broadcast(tot))
        .select((F.col("t") - F.col("vsum")).alias("c_unk"), "t")
    )
    lp = F.log(F.coalesce(F.col("c"), F.col("c_unk")) / F.col("t"))
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(unk))
        .select("doc_id", lp.alias("lp"), F.col("c").isNull().alias("oov"))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("lp"), 4).alias("lm4"),
            F.count_if("oov").cast("bigint").alias("n_oov"),
        )
    )


# ---------------------------------------------------------------------------
# t26 — unigram-LM ENCODE (round 14, VERDICT r13 task 2): consume the
# model t23 TRAINS to actually tokenize the corpus — the t16 -> t17
# train->encode precedent for the SentencePiece-class ladder (a
# tokenizer you can't encode with is half a tokenizer). Pieces get
# deterministic integer ids (rank by trained count DESC, piece ASC —
# the order a real vocab file is written in), each census word is
# Viterbi-segmented under the final model (the E-step DP reused
# verbatim via unigram_lm_train's seg2 — encode-with-final-model IS
# the final E-step, pinned against t23's accounting in tests), and
# every document is re-assembled into its token-id stream in word
# order. Output per doc: n_tokens, total_cost_micro (both identical
# to t23's accounting by construction) and token_ids — the
# comma-joined id stream a sequence-packing stage (p12/m9) would
# consume.
#
# Scale shape: training is t23's (census-bounded EM — corpus touched
# once for the census); encoding adds ONE posexplode scan of the
# corpus and a word-keyed join against the census-sized
# (word -> ids/cost) table, broadcast here like t23's accounting join
# (fixture vocab is tiny; an open-web vocabulary would hash-partition
# that join instead — same trade t23 documents). The piece-id rank is
# one unpartitioned window over the piece INVENTORY (bounded by
# construction: |seed pieces| <= 4 x census substring mass, pruned to
# Viterbi-used + single chars — the a19/w10 tiny-input exemption
# class). Doc reassembly is the d20 idiom: collect_list of
# (wpos, ids) structs + array_sort, no global window.
#
# The ORACLE extends t23's shared CTE chain (_t23_ctes — same seed /
# EM / prune / E constants, so the two oracles cannot drift) with a
# relational id assignment (row_number over kept) and a join-based
# reassembly (string_agg ORDER BY position) — an independent
# algorithm against Spark's broadcast-map array program.
# ---------------------------------------------------------------------------


def _t26_oracle(lmax: int = _T23_LMAX, maxp: int = _T23_MAX_PIECE) -> str:
    ctes = _t23_ctes(lmax, maxp)
    ctes += [
        """pid AS MATERIALIZED (
  SELECT piece,
         CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC) AS BIGINT)
           AS pid
  FROM kept
)""",
        """wexp AS MATERIALIZED (
  SELECT word, unnest(range(1, len(ps) + 1)) AS ppos, unnest(ps) AS piece
  FROM w2
)""",
        """wid AS MATERIALIZED (
  SELECT we.word,
         string_agg(CAST(p.pid AS VARCHAR), ',' ORDER BY we.ppos) AS ids_str
  FROM wexp we JOIN pid p USING (piece) GROUP BY we.word
)""",
        """dwp AS MATERIALIZED (
  SELECT doc_id, unnest(range(1, len(tk) + 1)) AS wpos, unnest(tk) AS word
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents)
)""",
    ]
    return (
        "WITH\n"
        + ",\n".join(ctes)
        + """
SELECT j.doc_id,
       CAST(sum(w2.n_pieces) AS BIGINT) AS n_tokens,
       CAST(sum(w2.wcost) AS BIGINT) AS total_cost_micro,
       string_agg(wid.ids_str, ',' ORDER BY j.wpos) AS token_ids
FROM (SELECT doc_id, wpos, word FROM dwp WHERE word <> '') j
JOIN w2 USING (word)
JOIN wid USING (word)
GROUP BY j.doc_id
"""
    )


def unigram_lm_encode(docs: DataFrame) -> DataFrame:
    """Train t23's unigram LM on `docs` and Viterbi-encode every
    document with the final model (see the t26 block comment).
    Returns (doc_id, n_tokens, total_cost_micro, token_ids)."""
    pieces, seg2 = unigram_lm_train(docs)
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("piece").asc())
    pid = pieces.select(
        "piece", F.row_number().over(w_rank).cast("bigint").alias("pid")
    )
    pid_map = pid.agg(
        F.map_from_entries(F.collect_list(F.struct("piece", "pid"))).alias(
            "pm"
        )
    )
    seg_ids = seg2.crossJoin(F.broadcast(pid_map)).select(
        "word",
        "n_pieces",
        "wcost",
        F.array_join(
            F.transform(
                "ps",
                lambda p: F.element_at(F.col("pm"), p).cast("string"),
            ),
            ",",
        ).alias("ids_str"),
    )
    dw = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("wpos", "word"),
    ).filter(F.col("word") != "")
    kept_struct = F.struct(F.col("wpos"), F.col("ids_str"))
    return (
        dw.join(F.broadcast(seg_ids), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_pieces").cast("bigint").alias("n_tokens"),
            F.sum("wcost").cast("bigint").alias("total_cost_micro"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["ids_str"],
                ),
                ",",
            ).alias("token_ids"),
        )
    )


@register("t26_unigram_lm_encode", _t26_oracle())
def t26_unigram_lm_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer ENCODE under t23's trained model (see the
    t26 block comment): deterministic piece ids, per-word Viterbi
    segmentation from the shared final E-step, per-doc token-id
    streams in word order plus the t23-identical accounting columns."""
    return unigram_lm_encode(load_tables(spark, sf_dir).documents)


@register("t25_lm_score_topk", _T25_ORACLE)
def t25_lm_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K + OOV-floor unigram LM scoring (see the block comment).
    Plan (pinned): the K-row vocab comes off a TakeOrderedAndProject
    over the map-combined census and reaches the corpus as a
    BroadcastHashJoin build side — the corpus is scanned twice
    (census + scoring) and shuffled only map-combined; t8's
    word-keyed corpus shuffle is gone. Core in lm_topk_doc_scores
    (shared with o15's bucket mixture)."""
    d = load_tables(spark, sf_dir).documents
    return lm_topk_doc_scores(d).select(
        "doc_id",
        (F.col("lm4") + 0.0).alias("lm_topk_score"),
        "n_oov",
    )
