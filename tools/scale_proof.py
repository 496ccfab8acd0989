#!/usr/bin/env python
"""Empirical scale growth-curve proof: run the heaviest registered
operators at sf0.1 and at synthetically scaled 2x/4x/8x copies, fit
the growth exponent, and check measured growth against each
operator's cost model — two-sided, so BOTH superlinear creep and
"grew less than the model" (usually a sign the timed section misses
the real work) are visible.

Scaling strategy (k copies written to .tmp/scale{k}x as parquet):
- documents / embeddings: k copies with offset ids, SAME content —
  every blocking key's block grows k-fold, so blocked-pair operators
  (d4, s2, d6) should grow ~k² (Σ|block|² with k-fold blocks),
  validating that runtime tracks Σ|block|², not corpus size alone.
- customer: k copies with offset c_custkey, names UNCHANGED — x13's
  match-pair OUTPUT grows k² (every copy of a matching name pairs
  with every copy of its partner; since round 10 the name-level
  matcher is distinct-name-collapsed, so only the output-sized
  expansion scales), and the scaled orders' offset custkeys keep
  matching customers (q8/p19 joins stay honest instead of dangling).
- orders: k copies with offset o_orderkey AND o_custkey — the block
  COUNT grows k-fold instead, so j10 should grow ~k (linear).
- lineitem / events: offset keys, linear shapes (t2, w4) ~k.

The production story then follows: at real scale the block keys are
SIZED (d4's df_cap, more LSH bits for d6, bounded buckets) so that
|block| stays bounded as n grows — which turns Σ|block|² linear. The
mechanism is enforced by tests (test_ngram_jaccard_hot_shingle_cap
bounds d4's blocks); this proof shows runtime actually follows the
pair-count model, so bounding blocks bounds runtime.

Ops that materialize at DataFrame-build time (d4's eager shingle
checkpoint, d7/d9's propagation loop) are rebuilt inside the timed
section (bench.EAGER_BUILD, shared with bench.py), so the published
numbers include the work that actually dominates them. d10 is eager
for a different reason than d4's checkpoint: repeated collect() of
one built DataFrame reuses materialized shuffle stages, so non-eager
timing measures only the post-shuffle tail — and WHICH stages are
still materialized differs across scales (eviction), which made
d10's first published growth curve flip between LOW and FAIL run to
run. Rebuilding per timed run recomputes everything.

Usage: python tools/scale_proof.py   (writes docs/SCALE.md, ~20 min)
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import EAGER_BUILD
from hive_to_es_spark.functions.lifecycle import release_all_persistent
from hive_to_es_spark.io import TABLES, read_table
from hive_to_es_spark.pipeline import TMP_ROOT
from hive_to_es_spark.registry import queries
from hive_to_es_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DOC_MD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "SCALE.md"
)
OFFSET = 10_000_000
# Round 6 (VERDICT r5 task 4): extended from [1, 2, 4] to k=8 so the
# asymptotic exponent can emerge for ops whose per-job fixed overhead
# (~tens of ms x rounds) still dominated at 4x — 9 of 14 rows were
# LOW at k<=4.
SCALES = [1, 2, 4, 8]

# Measurement-noise floor: a per-collect() Spark job on local[32]
# costs ~25-40 ms in scheduling/codegen/result-fetch regardless of
# data volume. An op whose LARGEST-scale runtime is still under this
# floor cannot exhibit its asymptote at any k we can build locally;
# its verdict is reported as LOW(floor) — documented, not a failure.
NOISE_FLOOR_S = 0.25

# op -> (expected per-DOUBLING growth factor, cost model note).
# Exponent model = log2(factor): 4.0 -> t ~ k², 2.0 -> t ~ k.
OPS = {
    "d4_dedup_ngram_jaccard": (4.0, "blocked pairs; identical copies grow every shingle block"),
    "s2_pairwise_topk": (4.0, "blocked pairs; label blocks grow k-fold"),
    "d6_dedup_lsh_blocked": (4.0, "blocked pairs; sign-buckets grow k-fold"),
    "d7_dedup_components": (4.0, "edge joins scale with the pair graph; same round count"),
    "d9_text_dup_groups": (4.0, "d4 pairs + closure; pair stage dominates growth"),
    "t2_tfidf_terms": (2.0, "explode + agg, linear scan"),
    "j10_interval_overlap": (2.0, "self-join; offset custkeys grow the block COUNT"),
    "w4_range_frame": (2.0, "group-agg + broadcast back, linear"),
    "q8_market_share": (2.0, "fact-fact join + broadcast dims, linear"),
    "p10_corpus_pipeline": (2.0, "scan-side scoring + digest-window + 15-group agg, linear"),
    "p12_token_shards": (2.0, "weighted two-pass paging: range totals + within-range window, linear"),
    # round 5: the RANGE-frame ceiling pair — same semantics, the plain
    # window is pinned to partition-key parallelism (3 tasks) while the
    # bucketed-donor plan spreads each key over ~4x-parallelism buckets;
    # both linear in rows, but w8's slope should stay flat while w7's
    # 3 sorting tasks eat the whole k-fold growth.
    "w7_range_frame_highcard": (2.0, "plain partitioned RANGE window: 3 tasks sort everything — the ceiling"),
    "w8_range_frame_scalable": (2.0, "bucketed-donor RANGE window: n_parts x n_buckets tasks — the escape"),
    # identical document copies grow every prefix block k-fold -> pair
    # stream ~k^2, same Σ|block|² model as d4
    "d10_dedup_jaccard_prefix": (4.0, "prefix-blocked pairs; identical copies grow every prefix block"),
    # round 6: the hybrid MinHash-prefilter + exact-verify plan — the
    # candidate stream is banded-equality pairs, which also grow k²
    # when every band bucket gets k identical copies; the point of the
    # op is the CONSTANT (candidates << all shingle-block pairs), not
    # a different exponent.
    "d11_dedup_minhash_verified": (4.0, "banded MinHash candidate pairs; identical copies grow every band bucket. A LOW verdict here is the op WORKING: total runtime = 32-hash signatures (linear, dominant) + candidate verify (k², suppressed 245-494x vs d4 by design), so the quadratic term stays invisible until far larger scale"),
    # round 6: d11's pairs + closure — inherits d11's linear-dominated
    # profile plus a fixed number of propagation rounds
    "d12_dup_groups_hybrid": (4.0, "d11 candidate pairs + min-label closure; same suppressed-quadratic profile as d11 with ~3 rounds of fixed join cost on top"),
    # round 6 batch 2: linear shapes for the new operators. events
    # scale by event_id offset with user_id UNCHANGED, so per-user
    # groups grow k-fold — exactly the stress these two need:
    "w9_sessionize": (2.0, "one shuffle, two stacked windows sharing the sort + co-partitioned agg; per-user rows grow k-fold"),
    "g6_cogrouped_asof": (2.0, "cogroup shuffle + per-user numpy as-of kernel; cost is per-GROUP Python overhead x n_users (constant here — users do not scale with k), data term invisible: the flat curve IS the model. First cut inverted (9.4s->2.4s): AQE coalesced the byte-tiny shuffle to 1 partition, serializing all groups — fixed by a group-count partition floor"),
    "a18_heavy_hitters": (2.0, "MG sketch pass + candidate-restricted exact count, linear; candidate set fixed at k_counters x n_partitions"),
    # round 6 batch 3+: d13 inherits d8's banded-candidate model
    # (identical copies grow every band bucket k-fold -> pairs k²,
    # then an exact verify join per pair); s12's brute arm is corpus x
    # query-batch and BOTH grow k-fold with offset vec_ids -> k²;
    # x13's OUTPUT pair count grows k² under identical-name copies
    # (since round 10 the matcher itself is distinct-name-collapsed
    # and constant; only the answer-sized expansion scales); p19 is
    # one aggregate scan per table + two anti-joins, linear.
    "d13_sketch_accuracy": (4.0, "d8's banded candidates (k² with identical copies) + per-pair exact shingle verify"),
    "s12_recall_report": (4.0, "brute arm corpus x queries, both k-fold under offset-id scaling"),
    "x13_fuzzy_match": (4.0, "round 10: name-level matching collapses to DISTINCT names (constant under the replicated-copy ladder); the k² term is the OUTPUT-sized expansion join — the oracle's n_match_pairs counts k² key pairs, so the answer itself grows 4x per doubling"),
    "p19_data_quality": (2.0, "count_if aggregate scans + two anti-joins, linear"),
    # round 7: s13's corpus AND query sides both grow k-fold under
    # offset-id scaling (offset ids stay ≡ 0 mod 50) -> k² flops in
    # the prefilter; everything else in the batch is a linear scan or
    # a scan + tiny-key aggregate.
    "s13_two_stage_rerank": (4.0, "quantized prefilter is corpus x queries, both k-fold; rerank stays |q| x 20"),
    "w10_cumulative_distinct": (2.0, "one key-agg shuffle is the only data-sized stage; window sees |months| rows"),
    "w11_transition_matrix": (2.0, "lag window shuffle + |types|² count, linear per partition"),
    "x14_url_normalize": (2.0, "codegen'd regexp chain in the scan + one hash agg on the canonical key"),
    "a20_decimal_money": (2.0, "two-phase decimal hash agg, long-backed codegen path"),
    "m5_audio_features": (2.0, "Arrow-batched encode+decode, per-row byte math, no shuffle"),
    "g7_scalar_iter_udf": (2.0, "SCALAR_ITER Arrow batches, linear; init amortized per worker"),
    "p20_sync_reconcile": (2.0, "sync write + two partial-combined agg scans + |years|-row join (eager: the write IS the op)"),
    "j16_nearest_event": (2.0, "one user_id shuffle, both RANGE frames share the window sort; linear per partition"),
    "t12_blocklist_filter": (2.0, "scan-side HOF token counting, no shuffle"),
    "o10_temperature_mix": (2.0, "scan-side hash-threshold filter; only the |langs|-row census shuffles"),
    "w12_ewma_decay": (2.0, "one custkey window shuffle; 8-tap integer FIR over a shared sort, linear per partition"),
    "t13_line_dedup": (2.0, "chunking is scan-side HOF; line census map-combines; boilerplate set broadcast; one doc_id reassembly shuffle"),
    "s14_mmr_rerank": (2.0, "broadcast 5-query candidate scan is the only corpus-sized stage; pairs + greedy fixed k_cand² per query"),
    "b9_file_metadata": (2.0, "eager partitioned write dominates; metadata columns are scan-constant, one |files|-key agg"),
    "p21_forget_keys": (2.0, "eager baseline write + selective rewrite of affected months only; report aggregates are linear scans"),
    "d14_canonical_pick": (2.0, "d12's banded pair stream + closure dominates; the survivor election windows over small components"),
    "w13_funnel": (2.0, "one (user_id, ts) window sort carries both range frames and the rollup; linear per partition"),
    "g8_arrow_udtf": (2.0, "Arrow-batched lateral UDTF over the scan; output rows/doc bounded by doc length"),
    "d15_subsumed_docs": (4.0, "min-shingle candidates are k² under the replication ladder (every copy of a container pairs with every copy of its substring — same class as d13; measured rows 248/992/3968/15872 track exactly); in organic growth new docs are distinct and the df-cap bounds blocks"),
    "j17_lerp_join": (2.0, "one user_id shuffle; both IGNORE-NULLS frames share the window sort; integer lerp, linear per partition"),
    "o11_dup_aware_sample": (2.0, "one prefix-hash window shuffle (tiny groups) + scan-side integer threshold filter"),
    "p22_compact_small_files": (2.0, "eager fragmented write + compacting rewrite dominate; report is one agg over the compacted scan"),
    "m6_image_signature": (2.0, "Arrow-batched encode+decode+signature, per-pixel byte math, no shuffle"),
    "a21_exact_quantile_hist": (2.0, "map-combined (flag,value) histogram; window + picks run on |flags|x|domain| rows only"),
    "w14_rolling_zscore": (2.0, "one custkey window sort carries count/sum/sumsq; integer z^2 filter scan-side above the Window"),
    "o12_epoch_upsample": (2.0, "|langs|-row census broadcast back; replication is a scan-side explode, no corpus shuffle"),
    "t14_contamination_score": (2.0, "eval shingle set broadcast; corpus LEFT-joins map-side; per-doc count pair map-combined"),
    "w15_interval_merge": (2.0, "running-max + island-id share one user window sort; island rollup reuses the partitioning — one Exchange total"),
    "p23_table_profile": (2.0, "one scan, single Expand feeding two-phase distinct aggregates; output is |columns| rows"),
    "m7_image_neardup": (4.0, "replicated images share signatures, so band-block pairs are k² under the ladder (d13's class); organically, block occupancy bounds the stream — dims+band keys keep distinct images apart"),
    "a22_trend_slope": (2.0, "five bigint sums in one partial-combined aggregate; rational slope math on |customers| rows"),
    "w16_seq_pattern": (2.0, "one groupBy shuffle with partial-merged collect_list; regex on |users| journey strings"),
    "p24_scd2_build": (2.0, "change-detect + validity windows stack over one user shuffle; output |kept versions| rows"),
    "o13_group_split": (2.0, "scan-side group-hash split; one prefix-md5 window for the audit size column"),
    "w17_retention_cohorts": (2.0, "one custkey window + distinct agg onto the constant |cohorts|x|offsets| grid"),
    "j18_bloom_prefilter": (2.0, "constant 2KB bloom broadcast kills ~98% of facts scan-side before the exact semi join"),
    "s15_ann_pq": (2.0, "encode = broadcast join vs 1024 codebook rows; ADC scan reads 16 bytes/vector; exact re-rank touches only the 100-row shortlist"),
    "w18_twap": (2.0, "lead window + rollup share one user shuffle; exact cents-x-us rational, no division"),
    "w19_drawdown": (2.0, "running sum + running peak + rollup share one custkey sort"),
    "p25_dataset_card": (2.0, "corpus reduces map-side to |cells| rows in one scan; shares/rank are windows over the tiny table"),
    "t15_bigram_lm_score": (2.0, "one explode + two map-combined counts; score join keyed on bigram/prefix — t8's shape with one extra count"),
    "t16_bpe_train": (2.0, "corpus collapses to one word census; the k merge rounds are vocab-sized aggregates + literal replaces, so corpus growth prices only the census"),
    "e10_stream_stream_outer_join": (2.0, "e8's equi-key shuffle + residual time range, left-outer: output adds one NULL row per unmatched click, still O(matches + clicks)"),
    "m8_video_container": (2.0, "embarrassingly parallel container walk, no shuffle; output bounded by ceil(n_frames/2) <= 5 rows/doc"),
    "t17_bpe_encode": (2.0, "t16's census economics + one (doc_id, word) count shuffle and a word join; merge application is vocab-sized"),
    # round 9: incremental near-dup — the increment (doc_id >= 200)
    # grows k-fold under the ladder while the indexed base stays 250
    # docs, so the within-batch banded self-join inherits d11's
    # replicated-copy k² candidate class; the index band-join side
    # stays k-linear (k copies x fixed index).
    "d16_incremental_neardup": (4.0, "within-batch banded candidates over replicated copies are k² (d11's class); index join and signatures linear; exact verify prices the candidate stream"),
    "m9_multimodal_pack": (2.0, "scan-side item explode + p12's two-pass range window + |sequences|-key agg, linear"),
    # s16: offset vec_ids stay ≡ 0 mod 50, so corpus AND queries both
    # grow k-fold; probed-cell occupancy × queries → k² candidates
    # (s12/s13's class); index build is the linear term.
    "s16_ann_ivf_persisted": (4.0, "index build linear; serving candidates = probed-cell occupancy x queries, both k-fold under offset-id scaling"),
    "t18_repeated_passages": (2.0, "one explode + map-combined gram census + top-20 TakeOrdered; no pair stream, linear in token mass"),
    "t19_embedding_decontaminate": (1.0, "eval batch broadcast (fixed size), corpus scanned once; per-doc argmax is a map-side partial max(struct) — linear in corpus"),
    "e11_stream_neardup_ingest": (4.0, "whole-corpus banded candidates over replicated copies are k² (d11's class); signatures + verify ride the candidate stream"),
    # round 10: s17's exact filtered scoring is |eligible| x |queries|
    # and BOTH grow k-fold under offset-id scaling (s12/s16's class);
    # b10/b11/e12 are linear scans/joins/writes.
    "s17_filtered_ann": (4.0, "index build linear; exact filtered scoring = eligible x queries, both k-fold under offset-id scaling"),
    "s18_ivf_index_maintain": (4.0, "base build + delta assign linear; serve = probed-cell occupancy x queries, both k-fold under offset-id scaling"),
    "s19_ivf_hot_cell_split": (4.0, "flag + split work linear in flagged-cell mass (2 broadcast probes/member); serve = split-cell occupancy x queries"),
    "b10_cbo_stats_reorder": (2.0, "ANALYZE scans + the CBO-reordered 3-table join; fact joins last against a filtered build side, linear"),
    "b11_python_datasource_writer": (2.0, "Arrow-batched staged write + |tasks| commit renames + read-back aggregate, linear in rows"),
    "e12_stream_session_metrics": (2.0, "session-window agg over one user shuffle; per-user rows grow k-fold (events scale with user_id unchanged)"),
    # round 11: d13's production posture must stay ~FLAT while the full
    # audit grows k² — the audit slice is a FIXED 200 docs in md5 order,
    # so only the slice selection (one hash top-k reduce) and the band
    # rows it joins grow with the corpus.
    "d13_sketch_accuracy_sampled": (2.0, "fixed 200-doc audit slice; slice selection + band-row join linear, audit mass constant — expect LOW/flat, that is the point of the key"),
    # d17: identical replicated embeddings land in the same cell, so
    # every cell grows k-fold -> within-cell pair mass k² (d5/d6's
    # replicated-copy class); assignment probes linear.
    "d17_semantic_dedup": (4.0, "within-cell pairs are k² under replicated copies; codebook probes linear; organically the IVF sizing discipline bounds cells"),
    "t20_quality_quantile_gate": (2.0, "two scan passes + domain-bounded census window; boundary group broadcast back — linear in corpus"),
    "e13_stream_decontaminate": (2.0, "eval shingle set constant under the ladder (copies share shingles); per-row array_intersect gate, linear scan, no shuffle"),
    # w20: replicated events share timestamps (event_id offset, ts
    # unchanged) so they MERGE into the same sessions — the boundary
    # stream and both driver roundtrips stay constant; only the
    # sessionize window over k-fold per-user rows grows.
    "w20_peak_concurrency": (2.0, "sessionize window over k-fold per-user rows dominates; boundary stream constant under the ladder (copies share ts)"),
    # o14: replicated docs get NEW doc_ids (offset), so every source's
    # token mass and row count grow k-fold -> census + carry-in window
    # both linear; budgets scale with the mass, cut stays 40%.
    "o14_token_budget_mix": (2.0, "per-(source, range) sums + within-range window, all linear in docs; driver state fixed at |sources| x |ranges|"),
}

# Ops whose OUTPUT is corpus-sized (d13 emits the ENTIRE candidate
# audit table: 5.4M rows at 8x, 21.7M at 16x — k² by design). Timing
# collect() on those prices the driver's single-threaded row pickling
# (measured round 9: the 16x step jumped 7.1x and FAILed the k² model
# while the distributed compute itself was FLAT, 13.5s@8x vs 12s@16x
# by count()), which no production deployment of an audit TABLE
# executes — they sink it. These ops are timed through the noop sink:
# the full plan runs distributed, rows are discarded executor-side.
SINK_TIMED = {"d13_sketch_accuracy"}

# Round 8 (VERDICT r7 task 5): a 16x rung for the multi-second ops,
# so their exponents are fit over the full 16x range where the
# asymptote can actually emerge (several were still overhead-bent at
# 8x). Cheap ops stay at <=8x — their 16x point is still under or
# near the noise floor and would only add ~nothing but wall-clock.
SCALE16_OPS = {
    "d4_dedup_ngram_jaccard",
    "d7_dedup_components",
    "d9_text_dup_groups",
    "d10_dedup_jaccard_prefix",
    "d11_dedup_minhash_verified",
    "d12_dup_groups_hybrid",
    "d13_sketch_accuracy",  # audit section reuses these points at 16x
    "d14_canonical_pick",
    "d15_subsumed_docs",
    "w4_range_frame",
    "w7_range_frame_highcard",
    "w8_range_frame_scalable",
    "m7_image_neardup",
    "s12_recall_report",
    "t13_line_dedup",
    "d16_incremental_neardup",
}

# Two-sided slack per doubling step. Upper breach = superlinear creep
# (FAIL: the scale danger). Lower breach = grew less than the model
# (LOW: either fixed per-job overhead dominating at this size, or the
# timed section missing real work — investigate, don't celebrate).
SLACK = 1.6


def scaled_dir(k: int) -> str:
    return os.path.join(TMP_ROOT, f"scale{k}x")


def build_scaled(spark, k: int) -> None:
    """Write k offset copies of each scalable table (dims unchanged)."""
    out = scaled_dir(k)
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out, exist_ok=True)
    key_cols = {
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
        "customer": ["c_custkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey"],
        "events": ["event_id"],
    }
    for name in TABLES:
        t = read_table(spark, SF_DIR, name)
        if name in key_cols:
            copies = [t]
            for i in range(1, k):
                c = t
                for col in key_cols[name]:
                    c = c.withColumn(col, F.col(col) + i * OFFSET)
                copies.append(c)
            scaled = copies[0]
            for c in copies[1:]:
                scaled = scaled.unionByName(c)
        else:  # bounded dims: unchanged
            scaled = t
        scaled.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))


def bench_one(
    spark, fn, sf_dir: str, eager: bool = False, sink: bool = False
) -> tuple[float, int]:
    def run(df) -> None:
        if sink:  # SINK_TIMED: full plan, rows discarded executor-side
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()

    if eager:
        df0 = fn(spark, sf_dir)
        rows = df0.count() if sink else len(df0.collect())  # warm-up
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            run(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        release_all_persistent(spark)  # eager builders checkpoint per build
        return best, rows
    df = fn(spark, sf_dir)
    rows = df.count() if sink else len(df.collect())  # warm-up
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        run(df)
        best = min(best, time.perf_counter() - t0)
    release_all_persistent(spark)
    return best, rows


def fit_exponent(ks: list[int], ts: list[float]) -> float:
    """Least-squares slope of log t vs log k — the growth exponent."""
    xs = [math.log(k) for k in ks]
    ys = [math.log(max(t, 1e-9)) for t in ts]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def main() -> int:
    spark = get_spark("scale_proof")
    spark.sparkContext.setLogLevel("ERROR")
    all_scales = SCALES + [16]
    dirs = {1: SF_DIR}
    for k in all_scales[1:]:
        build_scaled(spark, k)
        dirs[k] = scaled_dir(k)
    # include_deprecated: SCALE.md deliberately charts the deprecated
    # w7 ceiling next to its replacement (w8)
    qs = queries(include_deprecated=True)
    scale_list = "/".join(f"{k}x" for k in all_scales)
    t_heads = " | ".join(f"t({k}x) s" for k in all_scales)
    step_heads = " | ".join(
        f"step {a}x→{b}x" for a, b in zip(all_scales, all_scales[1:])
    )
    lines = [
        "# SCALE — empirical growth curve",
        "",
        f"Generated by tools/scale_proof.py at {SF_DIR} vs synthetically",
        f"scaled copies at k={scale_list} (see the tool's docstring for the",
        "scaling strategy and why each expectation holds). Times are",
        f"best-of-2 collect() after a warm-up, {spark.sparkContext.master}"
        " (corpus-sized-OUTPUT",
        "ops — d13's full audit table — time a noop SINK instead: collect()",
        "would price single-threaded driver pickling of k²-many rows, not",
        "the plan; see SINK_TIMED); eager-build ops",
        "(bench.EAGER_BUILD) rebuild inside the timed section. `b` is",
        f"the least-squares exponent of t vs k over the op's measured",
        f"rung set; model b = log2(per-doubling factor). Multi-second ops",
        f"(SCALE16_OPS) carry a fifth 16x rung so the asymptote can emerge",
        f"(round 8); '—' marks rungs not run for the cheap ops. The",
        f"verdict is TWO-SIDED per doubling step (slack {SLACK}x):",
        "",
        "- **FAIL**: any step grew MORE than model*slack — superlinear creep.",
        "- **LOW**: the LAST doubling step grew LESS than model/slack — fixed",
        "  per-job overhead still dominating at this size, or the timed",
        "  section missing real work. Flagged, not celebrated.",
        f"- **LOW(floor)**: largest-scale runtime is under the measured",
        f"  per-job noise floor ({NOISE_FLOOR_S}s of scheduling/codegen/fetch per",
        "  collect) — the asymptote CANNOT emerge locally for this op; the",
        "  pair/edge ROW counts in the table still grow with the model.",
        "",
        f"| op | {t_heads} | rows {scale_list} | b | model b | {step_heads} | verdict |",
        "|" + "---|" * (len(all_scales) * 2 + 4),
    ]
    any_fail = False
    main_measurements: dict[str, tuple[list[float], list[int]]] = {}
    for op, (factor, note) in OPS.items():
        op_scales = all_scales if op in SCALE16_OPS else SCALES
        ts, rows = [], []
        for k in op_scales:
            t, r = bench_one(
                spark,
                qs[op],
                dirs[k],
                eager=op in EAGER_BUILD,
                sink=op in SINK_TIMED,
            )
            ts.append(t)
            rows.append(r)
        main_measurements[op] = (ts, rows)
        steps = [
            (b / a if a > 0 else float("inf")) for a, b in zip(ts, ts[1:])
        ]
        b = fit_exponent(op_scales, ts)
        b_model = math.log2(factor)
        fail = any(g > factor * SLACK for g in steps)
        low = steps[-1] < factor / SLACK
        floor = ts[-1] < NOISE_FLOOR_S
        # Sub-floor rows are noise-suppressed CONSISTENTLY: a "step"
        # on a ~20ms measurement is scheduling jitter, so it neither
        # renders FAIL in the table nor fails the exit code.
        any_fail |= fail and not floor
        verdict = (
            "LOW(floor)" if floor
            else "FAIL" if fail
            else ("LOW" if low else "PASS")
        )
        pad = len(all_scales) - len(op_scales)
        t_cells = " | ".join([f"{t:.3f}" for t in ts] + ["—"] * pad)
        step_cells = " | ".join([f"{g:.2f}x" for g in steps] + ["—"] * pad)
        row_cells = "/".join([str(r) for r in rows] + ["—"] * pad)
        lines.append(
            f"| {op} | {t_cells} | {row_cells} | {b:.2f} | {b_model:.0f} "
            f"| {step_cells} | {verdict} |"
        )
        print(f"{op}: t={['%.3f' % t for t in ts]} b={b:.2f} (model {b_model:.0f}) {verdict}")
    # ---- Audit-pair posture at 16x (VERDICT r6 task 6): d13 is the
    # one op whose cost rides the full model-2 candidate stream. The
    # documented production posture is to run the audit on a
    # fixed-size hash-sampled slice (accuracy is a population
    # statistic). Prove it: the full audit keeps growing through 16x,
    # the sampled form must stay ~flat (exponent ~ 0).
    from hive_to_es_spark.operators.dedup_ext import d13_sketch_accuracy_sampled

    audit_k = SCALES + [16]
    audit_rows_md = []
    # the full d13 already ran at every rung (incl. 16x — it is in
    # SCALE16_OPS) in the OPS loop with identical bench_one settings —
    # reuse those points verbatim
    full_prior = main_measurements["d13_sketch_accuracy"]
    for label, fn, model_b, flat, prior in (
        ("d13_sketch_accuracy (full corpus)", qs["d13_sketch_accuracy"], 2.0, False, full_prior),
        ("d13_sampled (fixed 200-doc hash slice)", d13_sketch_accuracy_sampled, 0.0, True, None),
    ):
        ts = list(prior[0]) if prior else []
        rows = list(prior[1]) if prior else []
        for k in audit_k[len(ts):]:
            t, r = bench_one(spark, fn, dirs[k])
            ts.append(t)
            rows.append(r)
        b = fit_exponent(audit_k, ts)
        if flat:
            # flat posture: the exponent itself is the claim
            ok = abs(b) < 0.35
            verdict = "PASS(flat)" if ok else "FAIL"
            any_fail |= not ok
        else:
            verdict = "info"
        t_cells = " | ".join(f"{t:.3f}" for t in ts)
        audit_rows_md.append(
            f"| {label} | {t_cells} | {'/'.join(str(r) for r in rows)} "
            f"| {b:.2f} | {model_b:.0f} | {verdict} |"
        )
        print(f"audit {label}: t={['%.3f' % t for t in ts]} b={b:.2f} {verdict}")
    lines += [
        "",
        "## Audit-pair posture at 16x",
        "",
        "d13's exact verify rides the banded candidate stream (pairs ~k²",
        "under identical-copy scaling) — intrinsic to an exact audit. The",
        "production posture (docstring) runs the audit on a FIXED-SIZE",
        "hash-sampled slice, because sketch accuracy is a population",
        "statistic: per-pair E[|err|] does not depend on corpus size. The",
        "sampled row must stay flat (|b| < 0.35) while the corpus grows 16x:",
        "",
        "| op | " + " | ".join(f"t({k}x) s" for k in audit_k)
        + " | rows | b | model b | verdict |",
        "|" + "---|" * (len(audit_k) + 5),
        *audit_rows_md,
        "",
    ]
    # ---- Gated-plan posture (VERDICT r8 task 2): above the 100k-doc
    # auto gate d4/d9's candidate GENERATOR routes to the banded
    # MinHash branch — the plan a 100x caller actually gets — but the
    # main table's d4 row measures the complete-recall blocked branch
    # the fixture-scale keys take. Force plan="banded" at every rung
    # so the post-gate plan has its own measured growth curve. Model:
    # d11's class (linear 32-hash signature term dominates; banded
    # candidates are k² under identical-copy scaling but suppressed by
    # orders of magnitude), so like d11 a LOW verdict here is the gate
    # WORKING — only FAIL (superlinear beyond even the k² model) is a
    # defect.
    def _d4_banded(spark_, sf_dir_):
        from hive_to_es_spark.operators.dedup_ext import ngram_jaccard_pairs

        from hive_to_es_spark.io import load_tables

        d = load_tables(spark_, sf_dir_).documents
        return ngram_jaccard_pairs(d, threshold=0.2, df_cap=1000, plan="banded")

    banded_ts, banded_rows = [], []
    for k in all_scales:
        t, r = bench_one(spark, _d4_banded, dirs[k], eager=True)
        banded_ts.append(t)
        banded_rows.append(r)
    banded_b = fit_exponent(all_scales, banded_ts)
    banded_steps = [b_ / a_ for a_, b_ in zip(banded_ts, banded_ts[1:])]
    banded_fail = any(g > 4.0 * SLACK for g in banded_steps)
    any_fail |= banded_fail and not banded_ts[-1] < NOISE_FLOOR_S
    blocked_ts = main_measurements["d4_dedup_ngram_jaccard"][0]
    print(
        f"gated d4 banded: t={['%.3f' % t for t in banded_ts]} "
        f"b={banded_b:.2f} {'FAIL' if banded_fail else 'ok'}"
    )
    lines += [
        "",
        "## Gated-plan posture: d4 above the auto gate (forced banded)",
        "",
        "Above 100k docs ngram_jaccard_pairs' auto gate swaps the blocked",
        "candidate generator (complete recall, Σ|block|² stream — the d4",
        "row above) for d11's banded MinHash over the same capped shingle",
        "stream (loud UserWarning, exact values, S-curve boundary recall).",
        "This row measures that post-gate plan at every rung so the growth",
        "class 100x callers actually get is empirical, not asserted:",
        "",
        "| plan | " + " | ".join(f"t({k}x) s" for k in all_scales)
        + " | rows | b | verdict |",
        "|" + "---|" * (len(all_scales) + 4),
        "| d4 blocked (pre-gate, from main table) | "
        + " | ".join(f"{t:.3f}" for t in blocked_ts)
        + f" | {'/'.join(str(r) for r in main_measurements['d4_dedup_ngram_jaccard'][1])}"
        + f" | {fit_exponent(all_scales, blocked_ts):.2f} | info |",
        "| d4 banded (post-gate, forced) | "
        + " | ".join(f"{t:.3f}" for t in banded_ts)
        + f" | {'/'.join(str(r) for r in banded_rows)}"
        + f" | {banded_b:.2f} | {'FAIL' if banded_fail else 'PASS'} |",
        "",
        "Identical-copy scaling grows every band bucket k-fold, so the",
        "banded candidate stream is also k² — the CLASS is the same; the",
        "lever is the constant (hundreds of times fewer candidates than",
        "shared-shingle blocks, per d11's measurements), which is why the",
        "banded curve should sit below the blocked one and stay",
        "signature-dominated (b near 1) through 16x.",
        "",
    ]
    lines += [
        "",
        "Model notes per op:",
        "",
    ]
    lines += [f"- **{op}**: {note}" for op, (_, note) in OPS.items()]
    lines += [
        "",
        "Reading: blocked-pair ops track Σ|block|² (pairs k² when block sizes",
        "grow k-fold, NOT corpus-n²); linear shapes track n. At production",
        "scale the block keys are sized to keep |block| bounded (d4 df_cap,",
        "d6 LSH bits), which makes Σ|block|² linear in n — runtime follows,",
        "as shown here. LOW rows mean the op is still overhead-dominated at",
        "this data size (per-job fixed costs ~tens of ms x rounds), so its",
        "asymptotic exponent has not emerged yet — the pair/edge ROW counts",
        "in the table grow exactly with the model either way. LOW(floor)",
        f"rows never exceed {NOISE_FLOOR_S}s even at {SCALES[-1]}x: their entire runtime",
        "is per-job overhead, and no local scale multiple can surface a",
        "data-dependent term for them.",
        "",
    ]
    os.makedirs(os.path.dirname(DOC_MD), exist_ok=True)
    with open(DOC_MD, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {DOC_MD}; any_fail={any_fail}")
    return 1 if any_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
