"""Distributed connected components via iterative min-label
propagation — the transitive-closure step that turns near-duplicate
PAIRS into duplicate GROUPS (the last stage of every corpus-dedup
pipeline: pairs say "a~b, b~c"; the component says "{a,b,c} is one
document, keep min-id").

Algorithm: every node starts labeled with its own id; each round,
every node takes the min of its label and its neighbors' labels.
Converges in O(component diameter) rounds. Per round: one shuffle
join (edges x labels, keyed on node id) + one min-aggregate — the
same plan a GraphFrames/Pregel round runs. Driver state per round is
ONE count (the number of labels that changed), like s6's codebook
discipline; per-node state never leaves the cluster.

100 TB posture: rounds scale with graph DIAMETER, not size — near-dup
graphs are shallow (dup clusters are cliques-ish), so <10 rounds in
practice. Per-round lineage is truncated via lifecycle.materialize:
`localCheckpoint` by default, or RELIABLE checkpoints when callers
pass `checkpoint_dir` (shared storage on a real cluster — survives
executor loss; same results, asserted in tests).
For graphs DEEPER than the round budget (adversarial chains — e.g. a
corpus whose near-dup pairs form one long similarity path),
min-propagation's O(diameter) rounds are the wrong algorithm;
`connected_components` then switches automatically to the alternating
large-star/small-star contraction (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14), which converges in
O(log² n) rounds (O(log n) in practice) — implemented below in
`connected_components_star`. Min-propagation stays the default
because its 1-join round is measurably cheaper on the shallow graphs
dedup actually produces (round-3 measurement), and both paths emit
the identical deterministic contract: component = min reachable id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_to_es_spark.functions.lifecycle import materialize, release_checkpoint


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Label every node with the MINIMUM node id reachable from it.

    `nodes`: one row per node (id_col). `edges`: undirected edge list
    (src_col, dst_col) — symmetrized internally, so each pair needs to
    appear only once in either direction.

    Returns (id_col, "component") — component = min reachable id,
    deterministic. Isolated nodes are their own component. Raises if
    propagation hasn't converged after max_rounds (graph diameter >
    max_rounds means the caller should switch to star-contraction).

    `checkpoint_dir`: None (default) keeps per-round state in the
    executor block manager (localCheckpoint — fastest, lost-executor-
    fatal); a path switches every materialization in the loop to
    RELIABLE checkpoints on that directory (shared storage), which is
    what a multi-hour 100 TB closure runs with. Results are identical
    (asserted in tests/test_units.py::test_reliable_checkpoint_dir_identical_results).
    """
    # Materialize the symmetrized edge list ONCE — it is joined every
    # round, and without this the upstream plan (e.g. d7's LSH pair
    # generation) would re-execute per round.
    sym = materialize(
        edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
        .union(edges.select(F.col(dst_col).alias("_s"), F.col(src_col).alias("_d"))),
        checkpoint_dir,
    )

    labels = nodes.select(F.col(id_col).alias("_id"), F.col(id_col).alias("component"))
    prev = None  # previous round's checkpointed frame, released once superseded
    for _ in range(max_rounds):
        nbr_min = (
            sym.join(labels, sym._s == labels._id)
            .groupBy("_d")
            .agg(F.min("component").alias("_nbr_min"))
        )
        # One cluster action per round: the lazy localCheckpoint
        # (lineage truncation) materializes under the changed-count
        # job, and carrying _old in the checkpointed frame means the
        # count needs no second join against the previous labels.
        # (Pointer jumping — label <- label-of-label for O(log d)
        # rounds — was measured SLOWER here: near-dup components are
        # shallow cliques, so rounds are already ~3 and the extra
        # self-join per round is pure overhead. Worth revisiting only
        # for deep-chain graphs.)
        new = (
            labels.join(nbr_min, labels._id == nbr_min._d, "left")
            .select(
                "_id",
                F.col("component").alias("_old"),
                F.least(
                    F.col("component"),
                    F.coalesce("_nbr_min", F.col("component")),
                ).alias("component"),
            )
        )
        new = materialize(new, checkpoint_dir, eager=False)
        changed = new.filter(F.col("component") != F.col("_old")).count()
        # The count materialized THIS round's checkpoint, so the
        # previous round's blocks are dead — release them now instead
        # of pinning one label table per round for the session
        # lifetime (py4j refs defeat GC-driven cleanup; measured).
        if prev is not None:
            release_checkpoint(prev)
        prev = new
        # the ONLY per-round driver state: one integer
        labels = new.select("_id", "component")
        if changed == 0:
            # Converged: the edge table is dead too. The FINAL round's
            # checkpoint stays — the returned frame reads it; callers
            # that fully consume the result can release_checkpoint it
            # (tools/check.py sweeps per key).
            release_checkpoint(sym)
            return labels.select(F.col("_id").alias(id_col), "component")
    # Diameter exceeded the round budget: min-propagation is the wrong
    # algorithm for this graph shape. Hand the ALREADY-MATERIALIZED
    # symmetric edge list to star contraction (O(log) rounds) instead
    # of failing — the upstream pair plan is not re-executed.
    if prev is not None:
        release_checkpoint(prev)
    result = _star_contraction(nodes, sym, id_col, checkpoint_dir=checkpoint_dir)
    release_checkpoint(sym)
    return result


def components_ctes(nodes: str, id_col: str, pairs: str, a: str, b: str) -> str:
    """DuckDB twin of connected_components: CTEs edges (the pairs
    `pairs`(a, b), symmetrized), reach (reachability from every node
    of `nodes`.`id_col`) and components (id, component = min reachable
    id). The caller's WITH must be RECURSIVE."""
    return f"""edges AS (
  SELECT {a} AS a, {b} AS b FROM {pairs}
  UNION ALL
  SELECT {b} AS a, {a} AS b FROM {pairs}
),
reach AS (
  SELECT {id_col} AS id, {id_col} AS r FROM {nodes}
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
),
components AS (SELECT id, min(r) AS component FROM reach GROUP BY id)"""


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., SoCC'14) — same contract as
    `connected_components` (component = min reachable id,
    deterministic), but O(log) rounds regardless of diameter. Use
    directly when the graph is known-deep; `connected_components`
    falls back to it automatically when min-propagation exhausts its
    round budget."""
    sym = materialize(
        edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
        .union(edges.select(F.col(dst_col).alias("_s"), F.col(src_col).alias("_d"))),
        checkpoint_dir,
    )
    result = _star_contraction(nodes, sym, id_col, checkpoint_dir=checkpoint_dir)
    release_checkpoint(sym)
    return result


def _star_contraction(nodes: DataFrame, sym: DataFrame, id_col: str,
                      max_rounds: int = 64,
                      checkpoint_dir: str | None = None) -> DataFrame:
    """Alternating large-star/small-star over a symmetric edge list
    (columns _s, _d). Per round: large-star hangs every
    larger-than-center neighbor onto the neighborhood minimum, then
    small-star re-hangs each center and its smaller neighbors onto
    their minimum; the edge set monotonically flattens into stars
    (node -> component min) in O(log² n) rounds, O(log n) observed.
    Same per-round lifecycle discipline as min-propagation: lazy
    checkpoint materialized by the convergence count, previous round
    released."""
    # canonical working set: directed (u > v), self-loops dropped
    e = (
        sym.filter(F.col("_s") != F.col("_d"))
        .select(
            F.greatest("_s", "_d").alias("u"), F.least("_s", "_d").alias("v")
        )
        .distinct()
    )
    e = materialize(e, checkpoint_dir)
    n_edges = e.count()
    for _ in range(max_rounds):
        # ---- large-star: m(u) = min(Γ(u) ∪ {u}); (w, m) for w > u --
        adj = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = adj.groupBy("u").agg(F.min("v").alias("_mn"))
        m = m.select("u", F.least("_mn", "u").alias("m"))
        large = (
            adj.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # ---- small-star on (u > v) rows: hang u and its smaller
        # neighbors onto min(Γ<(u) ∪ {u}) = min(v's) ----------------
        sm = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(sm, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .union(sm.select("u", F.col("m").alias("v")))
            .distinct()
        )
        small = materialize(small, checkpoint_dir, eager=False)
        # convergence: the (distinct) edge sets are equal — one count
        # (which also materializes the lazy checkpoint) plus a bounded
        # anti-join probe; the only per-round driver state is two ints
        n_new = small.count()
        stable = n_new == n_edges and small.subtract(e).limit(1).count() == 0
        old, e, n_edges = e, small, n_new
        release_checkpoint(old)  # new round's set is materialized; old is dead
        if stable:
            roots = e.groupBy("u").agg(F.min("v").alias("component"))
            return (
                nodes.select(F.col(id_col).alias("_id"))
                .join(roots, F.col("_id") == F.col("u"), "left")
                .select(
                    F.col("_id").alias(id_col),
                    F.coalesce("component", "_id").alias("component"),
                )
            )
    raise RuntimeError(
        f"star contraction: no convergence in {max_rounds} rounds "
        "(should be impossible — O(log^2 n) bound)"
    )
