"""Extended deduplication operators (training-data pipeline set):
SimHash (d3), n-gram Jaccard (d4), embedding-cosine near-dup (d5).

Together with d1 (exact hash) and d2 (MinHash-LSH) these cover the
standard LLM-corpus dedup ladder. Scale rule shared by all: candidate
pairs must come from a blocking key (shared shingle, signature band,
label/LSH bucket) — the all-pairs product never appears in any plan.
"""

from __future__ import annotations

import logging
import warnings

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_to_es_spark.io import load_tables, table_row_count

_LOG = logging.getLogger(__name__)
_SUBHALF_THRESHOLD_LOGGED = False  # once-per-process log gate (d16/e11)
from hive_to_es_spark.functions.graph import components_ctes
from hive_to_es_spark.functions.hashing import md5_60, md5_60_sql
from hive_to_es_spark.functions.lifecycle import materialize
from hive_to_es_spark.operators.dedup import shingle_rows, shingle_sql, word_shingles
from hive_to_es_spark.operators.similarity import (
    SIGN_BUCKET_SQL,
    _dbl,
    _dot,
    _ivf_codebook,
    _norm,
    _rank_cells,
    ivf_codebook_sql,
    rank_cells_sql,
)
from hive_to_es_spark.registry import register


# 60-bit SimHash with a cross-engine word hash, md5_60(word). The vote
# sums / signature / band SQL is generated to mirror the Spark
# expressions term-for-term.
_D3_BITS = 60
_D3_ORACLE = f"""
WITH words AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS w
  FROM documents
),
hashed AS (
  SELECT doc_id, {md5_60_sql("w")} AS h
  FROM words
),
votes AS (
  SELECT doc_id,
    {', '.join(f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(_D3_BITS))}
  FROM hashed GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
    CAST({' + '.join(f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(_D3_BITS))} AS BIGINT) AS simhash
  FROM votes
)
SELECT doc_id, simhash,
  {', '.join(f"CAST((simhash >> {15 * i}) & 32767 AS BIGINT) AS band{i}" for i in range(4))}
FROM sig
"""


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per (doc_id, text) row, plus 4x15-bit band keys.

    Classic SimHash: each word hashes to 60 bits; bit b of the
    signature is the sign of sum(+-1 over words, + if word's bit b is
    set). Near-dups differ in few bits, so any of the 4 band keys
    colliding is the candidate condition (banding = the blocking key).
    Everything is JVM expressions: explode to (doc, word-hash) rows,
    then 60 literal-shift vote aggregates — every expression is a
    codegen'd bit op (the higher-order-function form measured ~10x
    slower: HOF lambdas are interpreted per element).
    """
    words = F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("w")
    word_hash = md5_60("w")
    hashed = docs.select("doc_id", words).select("doc_id", word_hash.alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(_D3_BITS)
        ]
    )
    sig = votes.select(
        "doc_id",
        sum(
            (
                F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
                for b in range(_D3_BITS)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("simhash"),
    )
    return sig.select(
        "doc_id",
        "simhash",
        *[
            F.shiftright("simhash", 15 * i).bitwiseAND(F.lit(32767)).alias(f"band{i}")
            for i in range(4)
        ],
    )


@register("d3_dedup_simhash", _D3_ORACLE)
def d3_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures + band blocking keys over documents — see
    simhash_signatures. Hash-verified vs DuckDB via the portable
    md5-prefix word hash (xxhash64 was Spark-only → was rows-only)."""
    d = load_tables(spark, sf_dir).documents
    return simhash_signatures(d).orderBy("doc_id")


def capped_shingles(
    docs: DataFrame, df_cap: int, checkpoint_dir: str | None = None
) -> DataFrame:
    """Materialized (doc_id, shingle) stream with hot shingles removed
    — the shared blocking substrate of ngram_jaccard_pairs and d15.

    Hot-shingle removal via aggregate + broadcast ANTI join, not a
    window: the window form shuffles every (doc, shingle) row to
    count per-shingle frequency; the aggregate combines map-side
    (one count per distinct shingle crosses the wire) and the hot
    set it yields is tiny by construction — broadcast, so the rows
    themselves never shuffle for the cap. Measured ~2x on the whole
    d4 pair plan at sf0.1.

    The capped table feeds multiple consumers (sizes + both self-join
    sides in d4; min-aggregate + container side in d15); without
    materialization each one re-runs the explode + cap from the scan.
    Measured at sf0.1: 15.5s -> 1.1s for the whole pair plan. (On a
    cluster: .persist() or a checkpoint to shared storage — same
    principle, reuse not recompute.) Retention is intentional: the
    RETURNED plan reads these blocks, so there is no safe release
    point inside the builder. Consumers that are done with the result
    free them via functions/lifecycle.py (tools/check.py sweeps after
    every key)."""
    sh0 = shingle_rows(docs)
    hot = (
        sh0.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > df_cap)
        .select("shingle")
    )
    return materialize(
        sh0.join(F.broadcast(hot), "shingle", "left_anti"), checkpoint_dir
    )


def capped_shingle_sql(df_cap: int) -> str:
    """DuckDB twin of capped_shingles over `documents`: the hot-shingle
    cap as a QUALIFY window, the same rows as the Spark side's
    aggregate + anti join."""
    return f"""SELECT doc_id, shingle FROM ({shingle_sql()})
  QUALIFY count(*) OVER (PARTITION BY shingle) <= {df_cap}"""


# Corpus-size gate for ngram_jaccard_pairs (the w7->w8 auto-gate
# pattern, r7-verdict task 3): below the limit the pedagogical
# shared-shingle blocking is fine and keeps the EXACT contract; above
# it the Σ|block|² candidate stream is the repo's worst growth class
# (SCALE.md b≈1.12-1.14) and the banded-MinHash generator takes over.
# 100k docs ≈ where the measured sf0.1 pair stream (1.13M candidates
# from 6k docs) extrapolates past the 10^9-candidate class.
_D4_BLOCKED_DOC_LIMIT = 100_000


def choose_jaccard_plan(
    n_docs: int, blocked_doc_limit: int = _D4_BLOCKED_DOC_LIMIT
) -> str:
    """Pure gate decision for ngram_jaccard_pairs' auto mode, factored
    out so the branch logic is unit-testable without building either
    plan (choose_range_plan's discipline)."""
    return "blocked" if n_docs <= blocked_doc_limit else "banded"


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    df_cap: int = 1000,
    checkpoint_dir: str | None = None,
    plan: str = "auto",
    blocked_doc_limit: int = _D4_BLOCKED_DOC_LIMIT,
    n_docs: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs from a (doc_id, text)
    DataFrame, blocked by shared shingle with a document-frequency cap.

    Real corpora have power-law shingles ("of the and"-class); one hot
    shingle key would form a near-quadratic block and a badly skewed
    shuffle. Shingles appearing in more than `df_cap` documents carry
    no discriminating power and are dropped from the whole computation
    (blocking AND set sizes), bounding every block at df_cap docs →
    pair count ≤ n_shingles · df_cap², never n². The DF count itself
    is a window over shingle — one shuffle, millions of small groups.

    Rejected rewrites (measured at sf0.1, round 4): an inverted-index
    form (collect_list per shingle, pairs generated by nested array
    transforms — no checkpoint, no self-join) and a packed-long pair
    key (doc_a*2^32+doc_b instead of a two-column groupBy) were both
    output-identical but only ~8-10% faster — inside run-to-run
    variance, because the cost is the Σ|block|² candidate-pair stream
    itself, which is intrinsic to exact Jaccard at threshold 0.2.
    AllPairs/PPJoin prefix filtering (block only on each set's
    (|d|-ceil(t|d|)+1)-prefix under a global df order; smallest common
    token provably lands in both prefixes) is the real candidate-count
    lever, but its prefix is 80% of the set at t=0.2 — it pays at
    t>=0.7, the wrong regime for this operator's contract.

    AUTO GATE (round 8): even df-capped, the shared-shingle candidate
    stream is Σ|block|² — the worst growth class in SCALE.md. Above
    `blocked_doc_limit` documents the candidate GENERATOR switches to
    d11's banded MinHash over the SAME capped shingle stream, with the
    same exact-verify join back to it, so reported values stay exact
    Jaccard over the capped sets. Contract boundary (documented, not
    hidden): on the banded branch recall for boundary-similarity pairs
    follows the (b=16, r=2) S-curve — near-certain for J >= 0.5
    (miss <= 3%% at 0.5, 8e-8 at 0.8, where real near-dup mass lives),
    probabilistic near t=0.2 — the Lee-et-al. production trade. Below
    the gate the blocked branch keeps the complete-recall exact
    contract; `plan` pins a branch for testing ("blocked" | "banded" |
    "auto").

    The auto gate's input is `n_docs` when the caller already knows it
    (d4/d9 pass the parquet-footer count from io.table_row_count — no
    job), else one count() action (driver state one long). When the
    gate TRIPS to the banded branch, a UserWarning + log line names the
    plan swap and its recall boundary, so the contract change is never
    silent (ADVICE r8 medium): callers that need complete recall at
    scale must pass plan="blocked" explicitly and own the Σ|block|²
    cost; callers that accept the S-curve trade can silence the warning
    by calling the banded plan (or d11) explicitly.
    """
    if plan == "auto":
        n = n_docs if n_docs is not None else docs.count()
        plan = choose_jaccard_plan(n, blocked_doc_limit)
        if plan == "banded":
            msg = (
                f"ngram_jaccard_pairs auto gate: {n} docs > "
                f"{blocked_doc_limit} — switching candidate generator to "
                f"banded MinHash (b=16, r=2). Reported Jaccard values stay "
                f"exact, but recall for boundary pairs follows the banding "
                f"S-curve (~50% near J=0.21 at threshold 0.2; >=97% at "
                f"J>=0.5). Pass plan='blocked' to keep complete recall at "
                f"quadratic candidate cost, or plan='banded' to accept the "
                f"trade silently."
            )
            warnings.warn(msg, UserWarning, stacklevel=2)
            _LOG.warning(msg)
    sh = capped_shingles(docs, df_cap, checkpoint_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    if plan == "banded":
        return _verified_jaccard(minhash_candidate_pairs(sh), sh, sizes, threshold)
    assert plan == "blocked", f"unknown ngram_jaccard_pairs plan {plan!r}"
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_from_common(common, sizes, threshold)


def _jaccard_from_common(
    common: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Shared tail of d4/d10: join per-doc set sizes onto intersection
    counts, threshold on the UNROUNDED Jaccard (the repo rule — a
    rounded filter would disagree with the oracle at the boundary),
    round to 6dp for output."""
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def _verified_jaccard(
    cand: DataFrame, sh: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Exact-verify tail of d4's banded branch, d10 and d11: join each
    (doc_a, doc_b) candidate back to both full shingle sets of the
    (doc_id, shingle) relation `sh`, count the shared shingles, then
    _jaccard_from_common."""
    sha = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        cand.join(sha, "doc_a")
        .join(shb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_from_common(common, sizes, threshold)


def jaccard_pair_ctes(sh: str, threshold: float) -> str:
    """DuckDB twin of the shared-shingle self-join + _jaccard_from_common
    over the (doc_id, shingle) relation `sh`: CTEs sizes, common and
    pairs (doc_a, doc_b, jaccard), thresholded on the unrounded
    Jaccard."""
    return f"""sizes AS (SELECT doc_id, count(*) AS n FROM {sh} GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM {sh} a JOIN {sh} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b,
         round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {threshold}
)"""


_D4_ORACLE = f"""
WITH sh AS ({capped_shingle_sql(1000)}),
{jaccard_pair_ctes("sh", 0.2)}
SELECT doc_a, doc_b, jaccard FROM pairs
"""


# TRUE Jaccard over full shingle sets — no df cap: the oracle states
# pure semantics (every pair with J >= t). Shared by d10 (t=0.8, prefix
# filter) and d11 (t=0.2, MinHash prefilter): for both, completeness
# of the Spark side's candidate generation is exactly what the hash
# compare proves.
def _exact_jaccard_oracle(threshold: float) -> str:
    return f"""
WITH sh AS ({shingle_sql()}),
{jaccard_pair_ctes("sh", threshold)}
SELECT doc_a, doc_b, jaccard FROM pairs
"""


_D10_ORACLE = _exact_jaccard_oracle(0.8)
_D11_ORACLE = _exact_jaccard_oracle(0.2)


def prefix_jaccard_candidates(docs: DataFrame, threshold: float) -> DataFrame:
    """AllPairs/PPJoin-style candidate pairs for Jaccard >= threshold:
    block only on each document's (|d| - ceil(t*|d|) + 1)-token PREFIX
    under a global rarity order, plus the t*|A| <= |B| <= |A|/t length
    filter.

    Completeness (no false negatives): J(A,B) >= t implies the overlap
    I = J*|A∪B| >= t*|A| and >= t*|B|, and the classic prefix-filter
    theorem (overlap >= a ⇒ the (|d|-a+1)-prefixes under ONE global
    token order share a token) then guarantees the prefix-prefix join
    finds the pair. The global order is ascending document frequency
    with the shingle string as tiebreaker — rarest first, so prefixes
    are made of the rarest tokens and prefix blocks stay small (the
    hot "of the and" shingles sort LAST and almost never enter a
    prefix: the frequency skew that forces d4's df cap prunes itself
    here, with no semantic change).

    No global rank is materialized: each document sorts its own
    shingles by (df, shingle) — a per-doc row_number window, never an
    unpartitioned one — because prefix membership only needs the
    within-document position under the global order.

    At t=0.8 the prefix is ~|d|/5 tokens vs d4's full-set blocking, so
    candidate counts drop superlinearly (asserted in tests); at t=0.2
    the prefix is 80% of the set and this plan loses — which is why d4
    keeps full-shingle blocking for its low-threshold contract
    (measured trade-off documented there).
    """
    sh = shingle_rows(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    return _prefix_candidates(sh, sizes, threshold)


def _prefix_candidates(sh: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """Candidate generation over a prepared (doc_id, shingle) relation
    — see prefix_jaccard_candidates for the completeness argument."""
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    pos = Window.partitionBy("doc_id").orderBy(F.col("_df").asc(), F.col("shingle").asc())
    pref = (
        sh.join(dfreq, "shingle")
        .withColumn("_pos", F.row_number().over(pos))
        .join(sizes, "doc_id")
        .filter(F.col("_pos") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
    )
    a = pref.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "shingle")
    b = pref.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: J >= t bounds the size ratio by t
            & (F.col("nb") * F.lit(threshold) <= F.col("na"))
            & (F.col("na") * F.lit(threshold) <= F.col("nb"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def prefix_filtered_jaccard_pairs(
    docs: DataFrame, threshold: float, checkpoint_dir: str | None = None
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via prefix-filter blocking —
    the high-threshold twin of ngram_jaccard_pairs (see
    prefix_jaccard_candidates for the completeness argument).

    Verification joins each candidate pair back to the two full
    shingle sets to count the exact intersection — the work is
    |candidates| * |doc| rows, which the prefix+length filters keep
    near the true-positive count at production thresholds.

    The exploded shingle relation feeds SIX consumers (df ranking,
    prefix rows, candidate sizes, both verification sides, output
    sizes), so like d4 it is materialized once (lifecycle.materialize:
    localCheckpoint by default, reliable checkpoint via
    `checkpoint_dir` on a cluster) — unmaterialized, the scan +
    explode subtree re-ran ~7x per query (caught by review)."""
    sh = materialize(shingle_rows(docs), checkpoint_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    cand = _prefix_candidates(sh, sizes, threshold)
    return _verified_jaccard(cand, sh, sizes, threshold)


@register("d10_dedup_jaccard_prefix", _D10_ORACLE)
def d10_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs at the PRODUCTION threshold
    (t=0.8) via AllPairs/PPJoin prefix filtering — the candidate-count
    lever d4's docstring reserves for the t >= 0.7 regime, where
    near-dup gates actually sit. Unlike d4 there is no df cap: the
    result is true Jaccard over full shingle sets, and the rarity-
    ordered prefixes neutralize hot shingles by construction."""
    d = load_tables(spark, sf_dir).documents
    return prefix_filtered_jaccard_pairs(d, threshold=0.8)


_D11_N_HASHES = 32
_D11_ROWS_PER_BAND = 2


def minhash_band_rows(
    sh: DataFrame,
    n_hashes: int = _D11_N_HASHES,
    rows_per_band: int = _D11_ROWS_PER_BAND,
) -> DataFrame:
    """Banded-MinHash bucket rows (doc_id, band, k0..k{r-1}) from a
    prepared (doc_id, shingle) relation — the joinable (and, for d16,
    the PERSISTABLE) form of the signature: ~n_bands rows of a band id
    plus r 8-byte minhash keys per document, independent of document
    size. Factored out of minhash_candidate_pairs so an incremental
    pipeline can write these rows as its near-dup index and band-join
    later increments against them."""
    assert n_hashes % rows_per_band == 0, "bands must tile the signature"

    def h(i):
        return F.xxhash64(F.lit(i), F.col("shingle"))

    mh = sh.groupBy("doc_id").agg(
        *[F.min(h(i)).alias(f"mh{i}") for i in range(n_hashes)]
    )
    n_bands = n_hashes // rows_per_band
    return mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        *[
                            F.col(f"mh{i * rows_per_band + r}").alias(f"k{r}")
                            for r in range(rows_per_band)
                        ],
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.*")


def band_candidates(
    bands_d: DataFrame, bands_p: DataFrame, require_smaller: bool = False
) -> DataFrame:
    """(d, p) candidate pairs from two band-row relations equi-joined
    on (band, k0..k{r-1}); ``require_smaller`` adds p < d (the
    within-batch "earlier id wins" rule). Shared by the incremental
    batch path and the streaming fold so the candidate condition
    cannot drift between them (round-9 review)."""
    key_cols = [c for c in bands_d.columns if c.startswith("k")]
    x = bands_d.select(F.col("doc_id").alias("d"), "band", *key_cols)
    y = bands_p.select(
        F.col("doc_id").alias("p"),
        F.col("band").alias("band_y"),
        *[F.col(k).alias(f"{k}_y") for k in key_cols],
    )
    cond = F.col("band") == F.col("band_y")
    for k in key_cols:
        cond = cond & (F.col(k) == F.col(f"{k}_y"))
    if require_smaller:
        cond = cond & (F.col("p") < F.col("d"))
    return x.join(y, cond).select("d", "p")


def verified_jaccard_matches(
    cand: DataFrame, sh_d: DataFrame, sh_p: DataFrame, threshold: float
) -> DataFrame:
    """Exact-verify (d, p) candidates against two (doc_id, shingle)
    relations: keep pairs with true full-set Jaccard >= threshold.
    The one definition of |A∩B| / (|A|+|B|-|A∩B|) the incremental
    batch path, the streaming fold, and their oracles all share."""
    sizes_d = sh_d.groupBy("doc_id").agg(F.count("*").alias("n"))
    sizes_p = sh_p.groupBy("doc_id").agg(F.count("*").alias("n"))
    common = (
        cand.join(sh_d.select(F.col("doc_id").alias("d"), "shingle"), "d")
        .join(sh_p.select(F.col("doc_id").alias("p"), "shingle"), ["p", "shingle"])
        .groupBy("d", "p")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(
            sizes_d.select(F.col("doc_id").alias("d"), F.col("n").alias("n_d")), "d"
        )
        .join(
            sizes_p.select(F.col("doc_id").alias("p"), F.col("n").alias("n_p")), "p"
        )
        .filter(
            F.col("n_common") / (F.col("n_d") + F.col("n_p") - F.col("n_common"))
            >= threshold
        )
        .select("d", "p")
    )


def minhash_candidate_pairs(
    sh: DataFrame,
    n_hashes: int = _D11_N_HASHES,
    rows_per_band: int = _D11_ROWS_PER_BAND,
) -> DataFrame:
    """Banded-MinHash candidate pairs (doc_a, doc_b) from a prepared
    (doc_id, shingle) relation — 32 hash functions banded 16 x r=2.

    Hash family: seeded xxhash64, NOT d8's salted md5-prefix. d8
    needs md5 because its ORACLE recomputes the signatures in DuckDB;
    here the signatures are only a prefilter and the oracle is pure
    exact-Jaccard SQL, so the family is free to be the cheapest
    64-bit hash the JVM has — xxhash64 is a single codegen'd
    expression vs md5's digest + substring + base-16 conv (measured
    5.5x faster end-to-end at sf0.1, 8.85s -> 1.60s best-of-3 eager,
    because the 32-hash signature stage is d11's dominant linear
    term per docs/SCALE.md). A pair with true Jaccard J becomes a
    candidate with p = 1-(1-J^r)^b — at J=0.8 the miss probability is
    (1-0.64)^16 ≈ 8e-8, while a J=0.05 coincidental overlap survives
    only ~4% of bands. r=2 is what kills the hot-shingle pathology of
    r=1 banding (measured on the fixtures: a globally-common shingle
    is the min-hash of many documents at once, so single-hash buckets
    ballooned to 1624 candidate pairs at sf0.01; requiring TWO
    simultaneous minhash matches cut that to ~the true-pair count).
    Candidates only ever come from shared (band, mh-tuple) buckets —
    the all-pairs product appears nowhere, and total candidates are
    bounded by Σ_bucket |bucket|² over band buckets, not over shingle
    buckets. Raising n_hashes or rows_per_band moves the recall/cost
    S-curve with no plan change."""
    bands = minhash_band_rows(sh, n_hashes, rows_per_band)
    key_cols = [f"k{r}" for r in range(rows_per_band)]
    x = bands.select(F.col("doc_id").alias("doc_a"), "band", *key_cols)
    y = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band").alias("band_y"),
        *[F.col(k).alias(f"{k}_y") for k in key_cols],
    )
    match = (x.band == y.band_y) & (x.doc_a < y.doc_b)
    for k in key_cols:
        match = match & (F.col(k) == F.col(f"{k}_y"))
    return x.join(y, match).select("doc_a", "doc_b").distinct()


def minhash_verified_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    n_hashes: int = _D11_N_HASHES,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Hybrid low-threshold dedup: banded-MinHash PREFILTER -> exact
    Jaccard VERIFY — the standard production shape for near-dup mining
    at thresholds where neither of the exact blockings wins (Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    ACL 2022, use exactly this candidates-then-verify composition).

    d4's full-shingle blocking streams every pair sharing ONE shingle
    (measured on the fixtures: 11.5k candidate pairs at sf0.01, 1.13M
    at sf0.1 — vs 25 / 256 true pairs); d10's prefix filter only pays
    at t >= 0.7. Here the candidate stream is minhash-band collisions
    instead — measured 42 / 1,938 candidates at sf0.01 / sf0.1, a
    274x / 583x reduction (>=10x asserted in tests/test_units.py like
    d10's) that GROWS with corpus size because band-bucket collisions
    track true similarity, not shingle co-occurrence — and every
    candidate
    is then verified EXACTLY by joining back to the full shingle sets,
    so reported jaccard values carry no approximation — only recall is
    probabilistic, with per-pair miss p = (1-J^2)^16: ~8e-8 at J=0.8,
    but ~0.5 at J=0.21. That boundary behavior is FUNDAMENTAL to
    banded LSH — the (b=16, r=2) S-curve midpoint (1/b)^(1/r)=0.25
    sits near the registered threshold, and pushing the midpoint far
    below 0.2 either explodes the candidate stream (r=1, b=32
    measured: 290,342 candidates at sf0.1, 150x worse, only 4x below
    d4 — the hot-bucket pathology) or needs hundreds of hashes. So
    the EFFECTIVE contract is: exact values, recall ~1 for the
    high-J mass where real near-dup clusters live (fixtures are all
    J >= 0.8; the DuckDB oracle is pure exact-Jaccard SQL, so the
    hash gate proves empirical 100% recall on them), and
    boundary-J pairs missed at the S-curve rate — the same trade
    production systems (Lee et al.) accept. A corpus whose dup mass
    sits at J ≈ t needs d4's exact blocking (t <= ~0.4) or d10's
    prefix filter (t >= ~0.7) instead.

    The exploded shingle relation feeds FOUR consumers (signature agg,
    both verify sides, output sizes) — materialized once, same as
    d4/d10."""
    sh = materialize(shingle_rows(docs), checkpoint_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    cand = minhash_candidate_pairs(sh, n_hashes)
    return _verified_jaccard(cand, sh, sizes, threshold)


@register("d11_dedup_minhash_verified", _D11_ORACLE)
def d11_dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs at the LOW threshold (t=0.2) via
    MinHash-prefilter + exact-verify — the hybrid that removes d4's
    intrinsic shared-shingle pair stream (its docstring's one
    remaining lever). Same output contract as d4 modulo the df cap:
    true Jaccard over FULL shingle sets, value-identical to the pure
    exact-Jaccard oracle whenever the prefilter's recall is 100%
    (which the hash gate verifies empirically at both fixture SFs)."""
    d = load_tables(spark, sf_dir).documents
    return minhash_verified_jaccard_pairs(d, threshold=0.2)


@register("d4_dedup_ngram_jaccard", _D4_ORACLE)
def d4_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, blocked by shared shingle
    (document-frequency-capped — see ngram_jaccard_pairs).

    Only documents sharing at least one sub-cap 3-word shingle ever
    meet (the shingle equi-join IS the blocking key); Jaccard is then
    exact: |A∩B| / (|A|+|B|-|A∩B|). The d2 MinHash op approximates
    exactly this quantity — d4 is its ground truth at test scale.

    Above ngram_jaccard_pairs' auto gate (100k docs) the candidate
    generator routes to d11's banded MinHash over the same capped
    shingle stream, so a run_job caller can no longer pick up the
    quadratic pair-stream class at scale by accident (round-8 gate;
    boundary semantics documented on ngram_jaccard_pairs).
    """
    d = load_tables(spark, sf_dir).documents
    return ngram_jaccard_pairs(
        d, threshold=0.2, df_cap=1000,
        n_docs=table_row_count(spark, sf_dir, "documents"),
    )


# Demo threshold 0.3: the fixture embeddings are diffuse (within-label
# max cosine ~0.47 at sf0.01); a production near-dup gate would sit at
# ~0.95 with the identical plan.
_D5_ORACLE = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(
         list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
         list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(
        list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.3
"""


@register("d5_dedup_embedding", _D5_ORACLE)
def d5_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by label.

    Same blocked-pair plan as s2 with a threshold filter instead of a
    top-k window; at 100 TB the label becomes an LSH/IVF bucket id and
    the plan is unchanged.
    """
    e = load_tables(spark, sf_dir).embeddings
    a = e.select(
        F.col("vec_id").alias("id_a"),
        "label",
        _dbl("embedding").alias("ea"),
        _norm(_dbl("embedding")).alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        _dbl("embedding").alias("eb"),
        _norm(_dbl("embedding")).alias("nb"),
    )
    # cosine computed ONCE per pair (projected before the filter, so
    # the predicate references the scalar, not the array fold)
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, (a.label == b.label_b) & (a.id_a < b.id_b))
        .select("id_a", "id_b", cos.alias("cos_raw"))
        .filter(F.col("cos_raw") >= 0.3)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos_sim"))
    )


# The composed 100 TB dedup path: s4's deterministic sign-bit LSH
# bucket as the blocking key + s2's blocked-pair plan + d5's cosine
# threshold. Unlike d5 (whose fixture block key is the ground-truth
# label), the bucket here needs NO labels — this is the plan an
# unlabeled corpus actually runs. Sign buckets are engine-portable, so
# the whole path gets a full value-level oracle (d2/d3's MinHash and
# xxhash variants could not).
_D6_ORACLE = f"""
WITH bucketed AS (
  SELECT vec_id, {SIGN_BUCKET_SQL} AS bucket,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket AS bucket,
       round(list_cosine_similarity(a.ev, b.ev), 6) AS cos_sim
FROM bucketed a JOIN bucketed b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.ev, b.ev) >= 0.3
"""


def lsh_near_dup_pairs(e: DataFrame, threshold: float | None) -> DataFrame:
    """Candidate near-dup pairs over sign-LSH buckets: (id_a, id_b,
    bucket, cos_raw) with cos_raw >= threshold and id_a < id_b. The
    shared pair plan for d6 (pair report) and d7 (component closure):
    bucket equi-join, norms precomputed per vector, cosine computed
    once per candidate pair. `threshold=None` skips the filter
    entirely (s9's top-k path wants ALL bucket pairs) — safer than a
    -1.0 sentinel, which would still evaluate and could drop an
    antipodal pair whose floating-point cosine lands a ulp below
    -1.0."""
    from hive_to_es_spark.operators.similarity import sign_bucket

    bucketed = e.select(
        "vec_id",
        sign_bucket("embedding").alias("bucket"),
        _dbl("embedding").alias("ev"),
        _norm(_dbl("embedding")).alias("nrm"),
    )
    a = bucketed.select(
        F.col("vec_id").alias("id_a"),
        "bucket",
        F.col("ev").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("id_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("ev").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    pairs = a.join(b, (a.bucket == b.bucket_b) & (a.id_a < b.id_b)).select(
        "id_a", "id_b", "bucket", cos.alias("cos_raw")
    )
    if threshold is None:
        return pairs
    return pairs.filter(F.col("cos_raw") >= threshold)


@register("d6_dedup_lsh_blocked", _D6_ORACLE)
def d6_dedup_lsh_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise embedding near-dup over LSH sign buckets — the
    label-free composition of s4 (bucket) + s2 (blocked pairs) + d5
    (threshold), i.e. the dedup plan that actually runs on an
    unlabeled 100 TB corpus.

    Pair expansion is Σ|bucket|², bounded by the 2^bits bucket count
    (raise bits to shrink blocks; 100 TB would use 16-20 bits and a
    multi-probe union for recall — implemented as
    similarity.probe_buckets / s10_ann_multiprobe, with measured
    recall@10 floors pinned in tests/test_units.py).

    Demo threshold 0.3 (fixture embeddings are diffuse, max within-
    bucket cosine ~0.43 at sf0.01); a production near-dup gate sits at
    ~0.95 with the identical plan.
    """
    e = load_tables(spark, sf_dir).embeddings
    return lsh_near_dup_pairs(e, 0.3).select(
        "id_a", "id_b", "bucket", F.round("cos_raw", 6).alias("cos_sim")
    )


# d7 — the dedup ENDGAME: pairs only say "a~b"; deduplication needs
# transitive GROUPS ("a~b, b~c => {a,b,c} is one document; keep one").
# Spark side: iterative min-label propagation (functions/graph.py).
# Oracle side: the same closure as a recursive CTE — reachability from
# every node, then min reachable id per node. Engine-portable because
# the pair set under the sign-bucket plan is (proven by d6's oracle).
# Threshold 0.2 (vs d6's 0.3) so fixture components reach size ~6 and
# propagation genuinely runs multiple rounds.
_D7_ORACLE = f"""
WITH RECURSIVE bucketed AS (
  SELECT vec_id, {SIGN_BUCKET_SQL} AS bucket,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.ev, b.ev) >= 0.2
),
{components_ctes("embeddings", "vec_id", "pairs", "id_a", "id_b")}
SELECT id AS vec_id, component AS component_id,
       CAST(CASE WHEN component = id THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
FROM components
"""


@register("d7_dedup_components", _D7_ORACLE)
def d7_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate groups over LSH near-dup pairs — the
    composed end-to-end dedup path: d6's blocked pair plan feeds
    connected components (functions/graph.py min-label propagation);
    every vector gets its component's min vec_id, `is_canonical` marks
    the one row per group a dedup job would keep.

    The oracle closes the same graph with a recursive CTE, so this
    iterative operator is fully value-verified cross-engine (unlike
    s6, whose float centroids drift across engines, the closure here
    is integer-exact)."""
    from hive_to_es_spark.functions.graph import connected_components

    e = load_tables(spark, sf_dir).embeddings
    pairs = lsh_near_dup_pairs(e, 0.2).select("id_a", "id_b")
    comp = connected_components(
        e.select("vec_id"), pairs, id_col="vec_id", src_col="id_a", dst_col="id_b"
    )
    return comp.select(
        "vec_id",
        F.col("component").alias("component_id"),
        (F.col("component") == F.col("vec_id")).cast("int").alias("is_canonical"),
    )


# d8 — MinHash-LSH with an ENGINE-PORTABLE hash family, closing the
# gap d2 must leave open: pyspark.ml's MinHashLSH signatures are
# engine-specific (rows-only forever), but the same algorithm built
# from salted md5_60 hashes is value-verifiable in DuckDB down to
# every signature component. 8 hash functions, banded 8x1 (threshold
# ~ (1/b)^(1/r): high-recall candidate generation); estimated
# Jaccard = matching-component fraction, gated at 0.25.
_D8_N_HASHES = 8


def portable_minhash_candidates(d: DataFrame):
    """Shared d8/d13 pipeline head: (shingles, signatures, banded
    candidate pairs) with the salted md5_60 hash family the DuckDB
    oracle can recompute term-for-term."""
    shingles = d.select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("w")
    )

    mh = shingles.groupBy("doc_id").agg(
        *[
            F.min(md5_60(F.concat(F.lit(f"s{i}|"), F.col("w")))).alias(f"mh{i}")
            for i in range(_D8_N_HASHES)
        ]
    )
    bands = mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), F.col(f"mh{i}").alias("mh"))
                    for i in range(_D8_N_HASHES)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.mh")
    x = bands.select(F.col("doc_id").alias("id_a"), "band", "mh")
    y = bands.select(
        F.col("doc_id").alias("id_b"), F.col("band").alias("band_y"), F.col("mh").alias("mh_y")
    )
    cand = (
        x.join(y, (x.band == y.band_y) & (x.mh == y.mh_y) & (x.id_a < y.id_b))
        .select("id_a", "id_b")
        .distinct()
    )
    a = mh.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_D8_N_HASHES)],
    )
    b = mh.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_D8_N_HASHES)],
    )
    matches = sum(
        (
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            for i in range(_D8_N_HASHES)
        ),
        F.lit(0),
    )
    # every candidate pair with its signature-match estimate — the one
    # place the estimator formula lives; d8 thresholds it, d13 audits
    # it against exact Jaccard
    scored = (
        cand.join(a, cand.id_a == a.a_id)
        .join(b, cand.id_b == b.b_id)
        .select("id_a", "id_b", (matches / float(_D8_N_HASHES)).alias("est_jaccard"))
    )
    return shingles, mh, cand, scored


def portable_minhash_ctes(shingles: str) -> str:
    """DuckDB twin of portable_minhash_candidates over the (doc_id,
    shingle) relation `shingles`: CTEs mh (signatures), bands, cand
    (id_a, id_b) and scored (cand with est_jaccard)."""
    n = _D8_N_HASHES
    mins = ", ".join(
        "min(" + md5_60_sql(f"concat('s{i}|', shingle)") + f") AS mh{i}"
        for i in range(n)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, mh{i} AS mh FROM mh" for i in range(n)
    )
    matches = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(n)
    )
    return f"""mh AS (
  SELECT doc_id, {mins}
  FROM {shingles} GROUP BY doc_id
),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.mh = y.mh AND x.doc_id < y.doc_id
),
scored AS (
  SELECT id_a, id_b, ({matches}) / {n}.0 AS est_jaccard
  FROM cand JOIN mh a ON id_a = a.doc_id JOIN mh b ON id_b = b.doc_id
)"""


_D8_ORACLE = f"""
WITH shingles AS ({shingle_sql()}),
{portable_minhash_ctes("shingles")}
SELECT id_a, id_b, est_jaccard FROM scored WHERE est_jaccard >= 0.25
"""


@register("d8_dedup_minhash_portable", _D8_ORACLE)
def d8_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates with salted md5-prefix hashes —
    the d2 algorithm (shingle -> minhash signature -> banded bucket
    join) rebuilt from engine-portable primitives so the WHOLE path,
    signatures included, hash-verifies against DuckDB.

    Plan shape (identical cost model to d2): one explode + 8-way min
    aggregate per doc (map-side partial), an 8x1-banded self equi-join
    on (band, minhash) — candidates only ever come from shared
    buckets, never all-pairs — and a signature re-join to estimate
    Jaccard as the matching-component fraction. At 100 TB you raise
    the hash count / rows-per-band to move the S-curve; the plan is
    unchanged."""
    _, _, _, scored = portable_minhash_candidates(
        load_tables(spark, sf_dir).documents
    )
    return scored.filter(F.col("est_jaccard") >= 0.25)


# d9 — the TEXT-side dedup endgame (d7 is the embedding-side twin):
# d4's exact n-gram Jaccard pairs closed into transitive duplicate
# groups. Keep-min-id per component = the surviving corpus.
_D9_ORACLE = f"""
WITH RECURSIVE sh AS ({capped_shingle_sql(1000)}),
{jaccard_pair_ctes("sh", 0.2)},
{components_ctes("documents", "doc_id", "pairs", "doc_a", "doc_b")}
SELECT id AS doc_id, component AS group_id,
       CAST(CASE WHEN component = id THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
FROM components
"""


@register("d9_text_dup_groups", _D9_ORACLE)
def d9_text_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive text-duplicate groups: d4's shingle-blocked Jaccard
    pairs (threshold 0.2, df-capped) closed into components by the
    same min-label propagation d7 uses on embedding pairs — the
    text-side dedup endgame. `is_canonical` marks the min-doc_id
    survivor per group; the oracle closes the identical pair graph
    with a recursive CTE (integer-exact). Inherits ngram_jaccard_pairs'
    round-8 auto gate: above 100k docs the pair stage routes to the
    banded MinHash generator instead of the shared-shingle blocking."""
    from hive_to_es_spark.functions.graph import connected_components

    d = load_tables(spark, sf_dir).documents
    pairs = ngram_jaccard_pairs(
        d, threshold=0.2, n_docs=table_row_count(spark, sf_dir, "documents")
    ).select("doc_a", "doc_b")
    comp = connected_components(
        d.select("doc_id"), pairs, id_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    return comp.select(
        "doc_id",
        F.col("component").alias("group_id"),
        (F.col("component") == F.col("doc_id")).cast("int").alias("is_canonical"),
    )


_D12_ORACLE = f"""
WITH RECURSIVE sh AS ({shingle_sql()}),
{jaccard_pair_ctes("sh", 0.2)},
{components_ctes("documents", "doc_id", "pairs", "doc_a", "doc_b")}
SELECT id AS doc_id, component AS group_id,
       CAST(CASE WHEN component = id THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
FROM components
"""


@register("d12_dup_groups_hybrid", _D12_ORACLE)
def d12_dup_groups_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate groups over the CAP-FREE exact-Jaccard
    pair graph, with the pairs generated by d11's MinHash-prefilter +
    exact-verify hybrid — the production composition for corpus-scale
    dedup (Lee et al. ACL'22: candidates from LSH, verify exactly,
    close into clusters, keep one per cluster).

    Contract difference vs d9: d9's pair relation is d4's df-capped
    blocking (its oracle QUALIFYies shingle df <= 1000 — the cap is
    part of that contract); here the oracle is the PURE Jaccard >= 0.2
    pair graph over full shingle sets, which the hybrid reproduces
    whenever its prefilter recall is 100% — verified by the hash gate
    at both fixture SFs. The prefilter's boundary-J recall limit is
    inherited (see minhash_verified_jaccard_pairs: miss ~0.5 at
    J=0.21, fundamental to the LSH S-curve) and vanishes toward the
    J >= 0.8 mass real near-dup clusters have; the closure also
    softens it — a missed boundary edge a-b still lands both docs in
    one group whenever any path a-…-b survives.

    Scale shape: d11's candidate stream (hundreds of pairs where
    blocking streams millions) + O(diameter) min-label closure with
    the large-star/small-star fallback — both sides of the
    composition carry their own growth-curve rows in docs/SCALE.md.
    `is_canonical` marks the min-doc_id survivor; filtering on it IS
    the dedup."""
    from hive_to_es_spark.functions.graph import connected_components

    d = load_tables(spark, sf_dir).documents
    pairs = minhash_verified_jaccard_pairs(d, threshold=0.2).select("doc_a", "doc_b")
    comp = connected_components(
        d.select("doc_id"), pairs, id_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    return comp.select(
        "doc_id",
        F.col("component").alias("group_id"),
        (F.col("component") == F.col("doc_id")).cast("int").alias("is_canonical"),
    )


# d13 — sketch-accuracy report: the estimator audited against ground
# truth, pair by pair. est/exact/err per candidate, ALL candidates
# (no est threshold — the low-est tail is exactly where accuracy
# reporting matters).
def sketch_accuracy_frame(docs: DataFrame) -> DataFrame:
    """The d13 audit plan over an arbitrary documents frame (full
    corpus for the registered oracle key, a hash-sampled slice for the
    production posture / SCALE harness)."""
    shingles, _, cand, scored = portable_minhash_candidates(docs)
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    sx = shingles.select(F.col("doc_id").alias("id_a"), F.col("w").alias("wa"))
    sy = shingles.select(F.col("doc_id").alias("id_b2"), F.col("w").alias("wb"))
    inter = (
        cand.join(sx, "id_a")
        .join(sy, (F.col("wb") == F.col("wa")) & (F.col("id_b2") == F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    n_common = F.coalesce(F.col("n_common"), F.lit(0))
    est = F.round(F.col("est_jaccard"), 6)
    exact = F.round(
        n_common.cast("double") / (F.col("na") + F.col("nb") - n_common), 6
    )
    return (
        scored.join(sa, "id_a")
        .join(sb, "id_b")
        .join(inter, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


def sketch_accuracy_sql(source: str) -> str:
    """DuckDB twin of sketch_accuracy_frame over the relation `source`."""
    return f"""
WITH shingles AS ({shingle_sql(source)}),
{portable_minhash_ctes("shingles")},
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN shingles x ON x.doc_id = c.id_a
  JOIN shingles y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b
),
audit AS (
  SELECT s.id_a, s.id_b,
         round(s.est_jaccard, 6) AS est_jaccard,
         round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
               / (sa.n + sb.n - coalesce(i.n_common, 0)), 6) AS exact_jaccard
  FROM scored s
  JOIN sizes sa ON s.id_a = sa.doc_id
  JOIN sizes sb ON s.id_b = sb.doc_id
  LEFT JOIN inter i ON s.id_a = i.id_a AND s.id_b = i.id_b
)
SELECT id_a, id_b, est_jaccard, exact_jaccard,
       round(abs(est_jaccard - exact_jaccard), 6) AS abs_err
FROM audit
"""


_D13_ORACLE = sketch_accuracy_sql("documents")


@register("d13_sketch_accuracy", _D13_ORACLE)
def d13_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: for every banded-MinHash candidate pair,
    the signature's Jaccard ESTIMATE next to the exact shingle-set
    Jaccard and the absolute error — the measurement every
    sketch-tuned dedup pipeline owes its operator ("are 8 hashes
    enough at our threshold?"). d8's candidates and signatures are
    reused verbatim (portable_minhash_candidates), so this op is the
    ACCURACY COLUMN for d8's production decisions: E[|err|] ~
    sqrt(J(1-J)/k) at k hashes; raising k moves it as 1/sqrt(k) with
    no plan change.

    Cost shape: the exact verify joins each candidate pair back to
    its two shingle sets — |candidates| x |doc| work, bounded by the
    banded blocking exactly as in d11's verify stage; the estimate
    itself is one 8-column compare on the already-joined signatures.
    At 100 TB you run this on a hash-sampled slice (o4) — accuracy
    is a population statistic, not a per-corpus scan obligation;
    d13_sketch_accuracy_sampled below is that posture, and SCALE.md's
    audit-pair section proves its cost stays ~constant while this full
    form grows with the candidate stream."""
    return sketch_accuracy_frame(load_tables(spark, sf_dir).documents)


_D13S_N_DOCS = 200  # < the smallest fixture corpus (500 docs), so the
# sampled audit is non-vacuous (a strict subset) at every test SF

_D13S_ORACLE = f"""
WITH doc_slice AS (
  SELECT * FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
  LIMIT {_D13S_N_DOCS}
)
SELECT * FROM ({sketch_accuracy_sql("doc_slice")})
"""


@register("d13_sketch_accuracy_sampled", _D13S_ORACLE)
def d13_sketch_accuracy_sampled(
    spark: SparkSession, sf_dir: str, n_docs: int = _D13S_N_DOCS
) -> DataFrame:
    """d13's documented production posture, registered as its own key
    (round-11 verdict task 3: the full audit is the inventory's most
    expensive op — 174 s at the 16x rung, b=1.51 — while the posture
    the docs recommend was invisible to the driver): the same audit on
    a DETERMINISTIC fixed-size hash-sampled slice. Sketch accuracy is
    a population statistic — E[|err|] per candidate pair does not
    depend on corpus size — so a fixed-size slice answers the tuning
    question ("are 8 hashes enough at our threshold?") at fixed cost
    no matter how large the corpus grows. The slice is the first
    `n_docs` docs in md5(doc_id) order (o8's deterministic-shuffle
    trick — a global top-k by hash is one reduce of per-partition
    top-ks, scan-side at any scale), so the audit population is
    reproducible across reruns and engines; at real scale you'd use
    o4's rate predicate (bucket < rate, no sort at all) with the rate
    chosen to land the same absolute sample size."""
    d = load_tables(spark, sf_dir).documents
    slice_ = d.orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    ).limit(n_docs)
    return sketch_accuracy_frame(slice_)


# d14 — canonical-copy selection: d12's pair graph and closure,
# composed from the same fragments as d12's oracle, with the min-id
# survivor rule replaced by the production one.
_D14_ORACLE = f"""
WITH RECURSIVE sh AS ({shingle_sql()}),
{jaccard_pair_ctes("sh", 0.2)},
{components_ctes("documents", "doc_id", "pairs", "doc_a", "doc_b")},
scored AS (
  SELECT c.id AS doc_id, c.component AS group_id, d.n_chars
  FROM components c JOIN documents d ON d.doc_id = c.id
),
canon AS (
  SELECT group_id, doc_id AS canonical_id FROM (
    SELECT group_id, doc_id, row_number() OVER (
      PARTITION BY group_id ORDER BY n_chars DESC, doc_id ASC) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT s.doc_id, c.canonical_id,
       CAST(CASE WHEN s.doc_id = c.canonical_id THEN 1 ELSE 0 END AS INTEGER)
         AS is_canonical,
       CAST(count(*) OVER (PARTITION BY s.group_id) AS BIGINT) AS group_size
FROM scored s JOIN canon c USING (group_id)
"""


@register("d14_canonical_pick", _D14_ORACLE)
def d14_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-copy selection — the step AFTER clustering that d12's
    min-id rule only stubs: within every duplicate group keep the
    HIGHEST-QUALITY copy (longest text, doc_id tiebreak — the
    keep-longest heuristic corpus dedup pipelines default to) and emit
    the full doc -> canonical replacement map, including singletons
    mapping to themselves. Downstream consumers join on this map to
    rewrite references; filtering is_canonical = 1 IS the dedup.

    Same pair generation + closure as d12 (MinHash-prefiltered exact
    Jaccard >= 0.2, min-label components); the added survivor election
    is one row_number window PARTITIONed BY component — components
    are duplicate clusters, small by nature, so the window never sees
    a skewed partition. The oracle is composed from the same pair-graph
    and closure fragments as d12's, so the two contracts stay welded."""
    from hive_to_es_spark.functions.graph import connected_components

    d = load_tables(spark, sf_dir).documents
    pairs = minhash_verified_jaccard_pairs(d, threshold=0.2).select("doc_a", "doc_b")
    comp = connected_components(
        d.select("doc_id"), pairs, id_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    scored = comp.join(d.select("doc_id", "n_chars"), "doc_id")
    w_rank = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    canon = (
        scored.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") == 1)
        .select("component", F.col("doc_id").alias("canonical_id"))
    )
    w_cnt = Window.partitionBy("component")
    return (
        scored.join(canon, "component")
        .select(
            "doc_id",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).cast("int")
              .alias("is_canonical"),
            F.count("*").over(w_cnt).cast("bigint").alias("group_size"),
        )
    )


# d15 — substring-subsumption dedup: scraped corpora carry documents
# that are VERBATIM substrings of longer documents (article vs
# article+boilerplate, snippet vs full page). Jaccard misses these
# when the container is much longer (|A∩B|/|A∪B| = |A|/|B| -> 0), so
# subsumption needs its own operator. Blocking: a doc contained at a
# WORD boundary shares every one of its 3-word shingles with its
# container, so its MINIMUM shingle-md5 must appear in the container's
# shingle set — one candidate row per (contained doc, container that
# shares that one shingle), linear in corpus shingle mass, never
# all-pairs. Shingles hotter than the d4 df-cap are dropped from both
# sides (same skew rule, same recall note: a doc whose every shingle
# is boilerplate-hot is unfindable by design). Verification is an
# exact position() containment check joined back to the two texts.
_D15_DF_CAP = 1000

_D15_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lower(text) AS t, length(lower(text)) AS n FROM documents
),
sh AS (SELECT doc_id, md5(shingle) AS h FROM ({capped_shingle_sql(_D15_DF_CAP)})),
mn AS (SELECT doc_id, min(h) AS minsh FROM sh GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS contained_id, b.doc_id AS container_id
  FROM mn a JOIN sh b ON a.minsh = b.h AND a.doc_id <> b.doc_id
)
SELECT c.contained_id, c.container_id,
       da.n AS n_chars_contained, db.n AS n_chars_container
FROM cand c
JOIN d da ON da.doc_id = c.contained_id
JOIN d db ON db.doc_id = c.container_id
WHERE da.n < db.n AND position(da.t IN db.t) > 0
"""


@register("d15_subsumed_docs", _D15_ORACLE)
def d15_subsumed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-subsumption pairs: every document whose full
    (lowercased) text occurs verbatim inside a strictly longer
    document, with the candidate set blocked by the contained doc's
    minimum shingle-md5 (see the module comment above for why Jaccard
    cannot express this and why the block is linear).

    Plan shape: shingle explode -> broadcast-anti df-cap (d4's hot-key
    rule) -> per-doc min aggregate on one side, the capped shingle
    stream on the other -> hash equi-join on the 32-char md5 -> the
    id-only candidate pairs join BACK to documents twice for the exact
    position() verify. Texts never ride through the explode or the
    candidate join — at 100 TB only ids and 32-byte digests shuffle,
    and the verify join touches each matched text once.

    Recall contract (documented, mirrored in the oracle): finds every
    containment that starts/ends on word boundaries of the container
    (then shingle-subset holds); mid-word substring hits are out of
    contract. The oracle replays the identical block + verify."""
    d = load_tables(spark, sf_dir).documents.select(
        "doc_id", F.lower("text").alias("t")
    ).withColumn("n", F.length("t"))
    sh = capped_shingles(
        d.withColumnRenamed("t", "text"), _D15_DF_CAP
    ).select("doc_id", F.md5("shingle").alias("h"))
    mn = sh.groupBy("doc_id").agg(F.min("h").alias("minsh"))
    cand = mn.join(
        sh.select(F.col("doc_id").alias("container_id"), "h"),
        (F.col("minsh") == F.col("h")) & (F.col("doc_id") != F.col("container_id")),
    ).select(F.col("doc_id").alias("contained_id"), "container_id")
    da = d.select(
        F.col("doc_id").alias("contained_id"),
        F.col("t").alias("ta"),
        F.col("n").alias("n_chars_contained"),
    )
    db = d.select(
        F.col("doc_id").alias("container_id"),
        F.col("t").alias("tb"),
        F.col("n").alias("n_chars_container"),
    )
    return (
        cand.join(da, "contained_id")
        .join(db, "container_id")
        .filter(
            (F.col("n_chars_contained") < F.col("n_chars_container"))
            & (F.instr("tb", F.col("ta")) > 0)
        )
        .select(
            "contained_id", "container_id",
            "n_chars_contained", "n_chars_container",
        )
    )


# d16 — incremental NEAR-dup dedup against a persisted MinHash index:
# p11's corpus-growth sync pattern (hash index, anti-join the batch)
# upgraded from exact-hash identity to banded-MinHash similarity — the
# production shape for "new crawl arrives, drop what the corpus
# already has" (Lee et al. ACL'22 candidates-then-verify, persisted).
# The oracle states pure semantics: an incoming doc (doc_id >= 200) is
# a dup iff some partner — any already-indexed doc (< 250, INCLUDING
# its own id: at-least-once redelivery) or an earlier doc of the same
# batch (< its id) — has exact full-set Jaccard >= 0.2.
_D16_ORACLE = f"""
WITH sh AS (
  {shingle_sql()}
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS d, b.doc_id AS p, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id >= 200
    AND (b.doc_id < 250 OR b.doc_id < a.doc_id)
    AND (b.doc_id <> a.doc_id OR b.doc_id < 250)
  GROUP BY a.doc_id, b.doc_id
),
matches AS (
  SELECT d, min(p) AS dup_of
  FROM common
  JOIN sizes sa ON sa.doc_id = d
  JOIN sizes sb ON sb.doc_id = p
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
  GROUP BY d
)
SELECT i.doc_id,
       CAST(CASE WHEN m.d IS NULL THEN 1 ELSE 0 END AS INTEGER) AS accepted,
       m.dup_of
FROM (SELECT doc_id FROM documents WHERE doc_id >= 200) i
LEFT JOIN matches m ON m.d = i.doc_id
"""


def incremental_neardup(
    spark: SparkSession,
    docs: DataFrame,
    incoming: DataFrame,
    index_path: str,
    threshold: float = 0.2,
) -> DataFrame:
    """Near-dup-dedup an ``incoming`` batch against a PERSISTED banded-
    MinHash index plus itself, exact-verifying every candidate; emits
    one row per incoming doc (doc_id, accepted, dup_of) and APPENDS the
    accepted docs' band rows to the index (the delta a next batch will
    see). ``docs`` is the full corpus relation used for the exact
    verify (the indexed docs' text still lives in the lake).

    Like d4/d9's banded gate, a threshold below the (b=16, r=2)
    S-curve's reliable zone emits a UserWarning + log line (ADVICE r9:
    this path's accept/reject decision is made from banded candidates,
    so boundary-pair recall at J ~= threshold follows the S-curve —
    ~50% near J = 0.21 — even though every SURFACED candidate is
    exact-verified; the default 0.2 contract accepts that trade, but
    it must never be silent in production ingest).

    Candidate generation never touches text: incoming band rows join
    the index's persisted band rows on (band, k0, k1) — a doc
    re-delivered at-least-once collides with its own index entry on
    ALL 16 bands (identical signature, not probabilistic) and is
    rejected with dup_of = itself — plus a within-batch band self-join
    (earlier id wins). Every candidate is then verified with exact
    full-set Jaccard, so like d11 the reported decision carries no
    approximation; only boundary-pair recall follows the (b=16, r=2)
    S-curve (~1 for the J >= 0.5 mass where real dups live).

    100 TB shape: the index is ~16 band rows x (1 int + 2 longs) per
    document — ~300 bytes/doc, three orders below the corpus —
    partitionable by band; the band join shuffles the increment's
    band rows only; the verify SEMI-JOIN-PRUNES ``docs`` to the
    candidate partner ids before shingling (round-9 review: the prune
    is unconditionally correct, so the helper does it rather than
    documenting it), making partner IO proportional to candidates,
    never the lake. The index delta append is bounded by the accepted
    docs. Failure semantics are p11's at-least-once: re-delivery of
    an already-indexed doc is rejected by its own index entry, so
    replays converge instead of duplicating."""
    if threshold < 0.5:
        msg = (
            f"incremental_neardup: threshold {threshold} sits below the "
            f"(b=16, r=2) banded candidate generator's reliable zone — "
            f"boundary-pair recall follows the S-curve (~50% near "
            f"J=0.21, ~1 for J>=0.5). Surfaced candidates are still "
            f"exact-verified, but near-threshold dups may be silently "
            f"ACCEPTED; raise rows_per_band/n_hashes (more bands) or "
            f"the threshold for complete boundary recall."
        )
        # Once per PROCESS for both channels (round-11 ADVICE nit:
        # warnings.warn dedups per call SITE, so five call sites each
        # surfaced it once in the pytest summary; logging dedups not
        # at all — in a per-micro-batch ingest loop it would fire
        # every batch, round-10 advice). The recall trade is a
        # property of the configuration, not of the caller.
        global _SUBHALF_THRESHOLD_LOGGED
        if not _SUBHALF_THRESHOLD_LOGGED:
            warnings.warn(msg, UserWarning, stacklevel=2)
            _LOG.warning(msg)
            _SUBHALF_THRESHOLD_LOGGED = True
    sh_inc = materialize(shingle_rows(incoming))
    bands_inc = minhash_band_rows(sh_inc)
    # Pin the index bytes BEFORE the delta append: the returned frame
    # must reflect the index as of batch start, not re-read the path
    # after this function appends to it (lazy-read poisoning).
    idx = materialize(spark.read.parquet(index_path))
    # Materialized: cand feeds the partner prune AND the verify join —
    # unmaterialized, the band joins would run twice.
    cand = materialize(
        band_candidates(bands_inc, idx)
        .unionByName(band_candidates(bands_inc, bands_inc, require_smaller=True))
        .distinct()
    )
    # Exact verify over full shingle sets; partner side = corpus docs
    # pruned to candidate partner ids (the lake fetch, candidate-bounded).
    partner_docs = docs.join(
        cand.select(F.col("p").alias("doc_id")).distinct(), "doc_id", "left_semi"
    )
    sh_p = shingle_rows(partner_docs)
    jacc = verified_jaccard_matches(cand, sh_inc, sh_p, threshold)
    m = materialize(jacc.groupBy("d").agg(F.min("p").alias("dup_of")))
    # Index delta: band rows of the ACCEPTED docs only (the survivors a
    # later batch must dedup against). m is materialized above, so this
    # append cannot feed back into the decision or the returned frame.
    delta = bands_inc.join(m, bands_inc.doc_id == m.d, "left_anti")
    delta.write.mode("append").parquet(index_path)
    out = incoming.select("doc_id").join(m, F.col("doc_id") == F.col("d"), "left")
    return out.select(
        "doc_id",
        F.when(F.col("d").isNull(), 1).otherwise(0).cast("int").alias("accepted"),
        "dup_of",
    )


@register("d16_incremental_neardup", _D16_ORACLE)
def d16_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup of an incoming batch (doc_id >= 200,
    overlapping the indexed base by 50 docs = simulated at-least-once
    re-delivery) against a persisted banded-MinHash index of the base
    corpus (doc_id < 250) — see incremental_neardup for the plan and
    its 100 TB posture. The base index is (re)built and written in-op
    (p11's discipline); the oracle restates the decision as pure exact
    Jaccard over full shingle sets, so the hash gate also proves the
    banded prefilter's empirical 100% recall on the fixtures."""
    from hive_to_es_spark.pipeline import dataset_tmp_path

    docs = load_tables(spark, sf_dir).documents
    base = docs.filter(F.col("doc_id") < 250)
    incoming = docs.filter(F.col("doc_id") >= 200)
    index_path = dataset_tmp_path("d16_minhash_index", sf_dir)
    sh_base = shingle_rows(base)
    minhash_band_rows(sh_base).write.mode("overwrite").parquet(index_path)
    return incremental_neardup(spark, docs, incoming, index_path)


# ---------------------------------------------------------------------------
# d17: semantic (cluster-scoped) embedding dedup — the SemDeDup recipe
# (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus embeddings
# with the IVF codebook, then WITHIN each cluster drop every vector
# that has a cosine-near neighbor FARTHER from the cluster centroid,
# keeping the LEAST-central member of each near-dup neighborhood (the
# paper's "keep low similarity to centroid" rule — it preserves the
# cluster's diversity frontier instead of its densest core).
#
# How this differs from the rest of the dedup ladder: d5 blocks pairs
# by the ground-truth label and d6 by a sign-LSH bucket, and both STOP
# at the pair report; d7 closes pairs into components with an
# iterative propagation loop. d17 is the one-pass DECISION operator —
# no closure, no iteration: a vector is dropped iff a dominating
# neighbor exists (cos >= tau AND farther from the centroid, id
# tiebreak). Dominance is a strict total order within a cell
# (d DESC, vec_id ASC), so exactly the per-neighborhood maximum-d
# member survives and the decision is independent of evaluation order —
# what makes the single SQL replay (and the oracle hash gate) exact.
#
# Scale shape (100 TB): the cell is the blocking key, so the quadratic
# term is per-cell pair mass, never the corpus product. The codebook
# grows with the corpus (the IVF sizing discipline, s16/s18), which
# bounds |cell| and turns sum(|cell|^2) linear — the same argument
# d4/d6 enforce for shingle/LSH blocks. One broadcast of the codebook
# (k rows), one Exchange on vec_id for the assignment window, one
# Exchange on cell for the pair join; vectors never shuffle twice.
# ---------------------------------------------------------------------------

_D17_TAU = 0.3

_D17_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
),
codebook AS ({ivf_codebook_sql("e", "ev")}),
assigned AS (
  SELECT vec_id, c_label AS cell, d, ev
  FROM ({rank_cells_sql("e", "codebook")}) WHERE rn = 1
),
dominated AS (
  SELECT b.vec_id AS v,
         min(a.vec_id) AS partner,
         arg_min(list_cosine_similarity(a.ev, b.ev), a.vec_id) AS pcos
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id <> b.vec_id
  WHERE list_cosine_similarity(a.ev, b.ev) >= {_D17_TAU}
    AND (a.d > b.d OR (a.d = b.d AND a.vec_id < b.vec_id))
  GROUP BY b.vec_id
)
SELECT s.vec_id, s.cell,
       CASE WHEN dm.partner IS NULL THEN 'keep' ELSE 'drop' END AS action,
       dm.partner,
       CAST(round(dm.pcos * 1000000) AS BIGINT) AS partner_cos_ppm
FROM assigned s LEFT JOIN dominated dm ON s.vec_id = dm.v
"""


def semantic_dedup(e: DataFrame) -> DataFrame:
    """d17's core over an embeddings frame (vec_id, embedding, label)
    — factored from the registered op so the SCALE ladder can drive it
    over a GROWN-codebook corpus (docs/SCALE.md "d17 grown-codebook
    rung": k ∝ n cells, the IVF sizing discipline the 100 TB argument
    rests on).
    The codebook is the per-label centroid table, so cell count scales
    with the label domain of the input."""
    vecs = e.select("vec_id", _dbl("embedding").alias("evec"))
    # d, the distance to the winning centroid, is the centrality the
    # dominance rule orders on
    assigned = (
        _rank_cells(vecs, _ivf_codebook(e))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("c_label").alias("cell"),
            "d",
            "evec",
            _norm(F.col("evec")).alias("nrm"),
        )
    )
    a = assigned.select(
        F.col("vec_id").alias("u"),
        F.col("cell").alias("cell_a"),
        F.col("d").alias("du"),
        F.col("evec").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("v"),
        "cell",
        F.col("d").alias("dv"),
        F.col("evec").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # cosine projected ONCE per candidate pair before the threshold
    # filter (d5's rule), dominance as a residual predicate on the
    # cell equi-join
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    dominated = (
        a.join(b, (F.col("cell_a") == F.col("cell")) & (F.col("u") != F.col("v")))
        .select("u", "v", cos.alias("cos_raw"), "du", "dv")
        .filter(
            (F.col("cos_raw") >= _D17_TAU)
            & (
                (F.col("du") > F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
            )
        )
        # min(struct(u, cos)) = the minimal-id dominator AND its cosine
        # in one deterministic reduce (u is unique per group)
        .groupBy("v")
        .agg(F.min(F.struct("u", "cos_raw")).alias("m"))
        .select("v", F.col("m.u").alias("partner"), F.col("m.cos_raw").alias("pcos"))
    )
    return (
        assigned.select("vec_id", "cell")
        .join(dominated, F.col("vec_id") == F.col("v"), "left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("partner").isNull(), "keep").otherwise("drop").alias("action"),
            "partner",
            F.round(F.col("pcos") * 1e6).cast("bigint").alias("partner_cos_ppm"),
        )
    )


@register("d17_semantic_dedup", _D17_ORACLE)
def d17_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup): per-vector keep/drop decision with
    the dominating neighbor as evidence. See the block comment above
    for the decision rule and the 100 TB shape. Output: (vec_id, cell,
    action, partner, partner_cos_ppm) — partner is the minimal-id
    dominating neighbor of a dropped vector, NULL for keeps."""
    return semantic_dedup(load_tables(spark, sf_dir).embeddings)


# ---------------------------------------------------------------------------
# d18: repeated-span REMOVAL — the ExactSubstr side of Lee et al. 2022
# ("Deduplicating Training Data Makes Language Models Better",
# arXiv:2107.06499): where d11/d12 (NearDup) drop whole near-duplicate
# DOCUMENTS, ExactSubstr-class dedup cuts the repeated SPANS out of
# documents that otherwise survive, because verbatim passages repeated
# across the corpus are what a model memorizes even when the documents
# around them differ. t18 MINES the repeated passages (the census);
# d18 CONSUMES the same census as an edit: every k-token (k=5) span
# occurring in >= 2 distinct documents is removed from every document,
# the remaining tokens are reassembled in order, and the removed mass
# is accounted per doc. (The paper removes 50-token spans found via a
# suffix array over the concatenated corpus; over short fixture docs
# the 5-gram census is the same contract — span membership by exact
# token identity — with the blocking key being the gram itself.)
#
# Plan shape at 100 TB: one scan explodes per-position 5-grams into a
# map-side-combinable census (groupBy(gram), countDistinct doc_id);
# the hot set (df >= 2) joins back onto a second gram pass (broadcast
# only below the size gate — see next paragraph) and
# the flagged START POSITIONS collapse to one bounded array per doc
# (collect_set over <= tokens-per-doc ints). The edit itself is then
# a pure per-row array program — expand starts to covered positions,
# filter the token array by index, rejoin — so the corpus text never
# shuffles at all; the only corpus-keyed exchange is the doc_id join
# of the (smaller) flagged-positions table back to the documents scan.
# The hot-set SIZE is the scale risk: on an open-web corpus the set of
# spans occurring in >= 2 documents is itself corpus-scale (billions of
# grams — exactly why Lee et al. use suffix arrays), so an
# unconditional broadcast hint dies at the 8 GB broadcast ceiling long
# before 100 TB. span_dedup therefore size-gates the hint on the d4
# precedent: broadcast below _D18_BROADCAST_MAX_DOCS input docs, plain
# gram-keyed shuffle join above (the join is data-sized either way and
# the rest of the plan is unchanged; AQE may still broadcast at runtime
# if the REAL hot set turns out tiny — gating on measured size is the
# correct behavior). Threshold arithmetic is MEASURED, not guessed
# (docs/SCALE.md "d18 paper-shape rung", round 13): hot-set bytes
# grow linearly with corpus docs (fitted exponent 1.05) at ~200 B/doc
# for the Lee-et-al. k=50 span shape and ~65 B/doc at the fixture k=5
# shape, so 1M docs put ~65-200 MB of
# gram strings (a few hundred MB with join-relation overhead) on the
# broadcast side — safely inside executor memory — while the open-web
# regime (10M+ docs, duplicated mass a large corpus fraction) lands
# multi-GB, so the gate sits at 1e6 docs with an order of magnitude
# of headroom under the 8 GB ceiling.
# ---------------------------------------------------------------------------

_D18_K = 5
_D18_MIN_DOCS = 2
_D18_BROADCAST_MAX_DOCS = 1_000_000

_D18_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
  WHERE text IS NOT NULL
),
pos AS (
  SELECT doc_id, w, unnest(generate_series(1, len(w) - {_D18_K - 1})) AS i
  FROM d WHERE len(w) >= {_D18_K}
),
grams AS (
  SELECT doc_id, i - 1 AS gpos,
         concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS gram
  FROM pos
),
hot AS (
  SELECT gram FROM grams GROUP BY gram
  HAVING count(DISTINCT doc_id) >= {_D18_MIN_DOCS}
),
flagged AS (SELECT g.doc_id, g.gpos FROM grams g JOIN hot USING (gram)),
cov AS (
  SELECT DISTINCT f.doc_id, f.gpos + t.k AS p
  FROM flagged f CROSS JOIN generate_series(0, {_D18_K - 1}) t(k)
),
toks AS (
  SELECT doc_id, unnest(w) AS token,
         unnest(generate_series(1, len(w))) AS i
  FROM d
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(c.p) AS BIGINT) AS n_removed,
       coalesce(string_agg(t.token, ' ' ORDER BY t.i)
                FILTER (WHERE c.p IS NULL), '') AS cleaned_text
FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.i - 1 = c.p
GROUP BY t.doc_id
"""


def span_dedup(docs: DataFrame, k: int = _D18_K,
               min_docs: int = _D18_MIN_DOCS,
               n_docs: int | None = None) -> DataFrame:
    """d18's census -> hot-set-probe -> per-row array edit as a
    DataFrame-in/DataFrame-out helper (docs must carry doc_id + text;
    NULL text is out of contract — filter it upstream), parameterized
    so synthetic-input tests can drive the SHIPPED plan. Output:
    (doc_id, n_tokens, n_removed, cleaned_text); overlapping flagged
    spans remove the UNION of their positions (each token cut once).

    The hot-set probe join is broadcast only when n_docs (parquet
    footer count, the d4 gate precedent) is known to sit below
    _D18_BROADCAST_MAX_DOCS — see the block comment for the threshold
    arithmetic; above it (or when the caller cannot bound the input,
    n_docs=None) the hint is omitted and the gram-keyed shuffle join
    plans, hash-identical at any gate setting."""
    base = docs.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
    grams = (
        base.filter(F.size("w") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(w) - {k - 1}), i -> "
                    f"concat_ws(' ', {', '.join(f'w[i+{j - 1}]' for j in range(k))}))"
                )
            ).alias("gpos", "gram"),
        )
    )
    hot = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("gram")
    )
    small = n_docs is not None and n_docs <= _D18_BROADCAST_MAX_DOCS
    flagged = (
        grams.join(F.broadcast(hot) if small else hot, "gram")
        .groupBy("doc_id")
        .agg(F.collect_set("gpos").alias("gps"))
    )
    cov = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("gps"), F.array().cast("array<int>")),
                lambda g: F.sequence(g, g + F.lit(k - 1)),
            )
        )
    )
    edited = base.join(flagged, "doc_id", "left").withColumn("cov", cov)
    kept = F.filter(
        F.transform(F.col("w"), lambda t, i: F.struct(i.alias("i"), t.alias("t"))),
        lambda s: ~F.array_contains(F.col("cov"), s["i"]),
    )
    return edited.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.size("cov").cast("bigint").alias("n_removed"),
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("cleaned_text"),
    )


@register("d18_span_dedup", _D18_ORACLE)
def d18_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-class repeated-span removal (see the block comment):
    cut every 5-token span occurring in >= 2 distinct documents out of
    every document, reassemble the survivors in order, and account the
    removed token mass per doc. The oracle restates the edit as the
    exploded token/coverage LEFT JOIN, so the hash gate proves the
    per-row array program equals the relational replay exactly —
    including overlapping-span unions and docs shorter than one span."""
    return span_dedup(
        load_tables(spark, sf_dir).documents.filter(F.col("text").isNotNull()),
        n_docs=table_row_count(spark, sf_dir, "documents"),
    )


# ---------------------------------------------------------------------------
# d19: cross-source overlap matrix — the provenance/duplication report
# corpus curation runs BEFORE mixing sources: for every source pair,
# how much content do they share (same articles syndicated, mirrored
# crawls, re-scraped dumps)? Feeds o6/o14's mixture weights (double-
# counted mass inflates a source's effective epoch) and decides which
# source pairs to route through the d11/d12 near-dup ladder at all.
# Content key = the shared 8-word-prefix fingerprint (o11/o13's ONE
# spelling — full-text md5 is near-vacuous on fixtures and too strict
# in practice: syndicated copies differ in tails).
#
# Scale shape (100 TB): the Spark plan never self-joins the
# fingerprint table. distinct(fp, source) collapses the corpus
# map-side; ONE groupBy(fp) collect_set builds the per-fingerprint
# source set (bounded by |sources| — a curated registry, dozens not
# millions); unordered pairs explode from that array scan-side
# (<= |sources|²/2 per fingerprint) into a map-combined pair count
# whose output is at most |sources|² rows; per-source totals broadcast
# back. The ORACLE deliberately restates the semantics as the naive
# fp-equijoin self-join (a DIFFERENT algorithm, so a bug in the
# array-pair program cannot hide in a mirrored oracle).
# Jaccard in integer ppm (n_shared·1e6 DIV (n_a + n_b − n_shared)) —
# no float seam.
_D19_ORACLE = """
WITH fp AS (
  SELECT DISTINCT
    md5(array_to_string(string_split(lower(text), ' ')[1:8], ' ')) AS f,
    source
  FROM documents WHERE text IS NOT NULL
),
per_src AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM fp GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, n_shared,
       pa.n AS n_a, pb.n AS n_b,
       n_shared * 1000000 // (pa.n + pb.n - n_shared) AS jaccard_ppm
FROM shared
JOIN per_src pa ON pa.source = source_a
JOIN per_src pb ON pb.source = source_b
"""


@register("d19_source_overlap", _D19_ORACLE)
def d19_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap matrix (see block comment): one
    row per unordered source pair sharing at least one 8-word-prefix
    fingerprint, with shared-fingerprint count, per-source distinct
    totals and integer-ppm Jaccard.

    Plan: distinct → ONE collect_set aggregate keyed on the
    fingerprint → scan-side pair explosion from the (bounded,
    sorted) source array → map-combined pair count → two broadcast
    probes for the per-source totals. No self-join anywhere."""
    from hive_to_es_spark.operators.sort_set import prefix_fingerprint

    fp = (
        load_tables(spark, sf_dir)
        .documents.filter(F.col("text").isNotNull())
        .select(prefix_fingerprint().alias("f"), "source")
        .distinct()
    )
    per_src = fp.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    src_sets = fp.groupBy("f").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    )
    pairs = src_sets.filter(F.size("ss") >= 2).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ss"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ss"), i + 2, F.size(F.col("ss"))),
                        lambda y: F.struct(
                            x.alias("source_a"), y.alias("source_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    shared = pairs.groupBy("p.source_a", "p.source_b").agg(
        F.count("*").cast("bigint").alias("n_shared")
    )
    pa = per_src.select(
        F.col("source").alias("source_a"), F.col("n").alias("n_a")
    )
    pb = per_src.select(
        F.col("source").alias("source_b"), F.col("n").alias("n_b")
    )
    return (
        shared.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr("n_shared * 1000000 DIV (n_a + n_b - n_shared)").alias(
                "jaccard_ppm"
            ),
        )
    )
