"""Property-based cross-engine spot checks (SURVEY.md §5.3): randomized
predicates over lineitem must agree between Spark and DuckDB — corners
the hand-written oracle fixtures may not hit."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hive_to_es_spark.io import load_tables


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    qty=st.integers(min_value=0, max_value=55),
    disc_cents=st.integers(min_value=0, max_value=10),
    flag=st.sampled_from(["A", "N", "R"]),
)
def test_filter_count_parity(spark, duck, sf_dir, qty, disc_cents, flag):
    disc = disc_cents / 100.0
    li = load_tables(spark, sf_dir).lineitem
    n_spark = li.filter(
        (F.col("l_quantity") >= qty)
        & (F.col("l_discount") <= disc)
        & (F.col("l_returnflag") == flag)
    ).count()
    n_duck = duck.execute(
        "SELECT count(*) FROM lineitem WHERE l_quantity >= ? AND l_discount <= ? "
        "AND l_returnflag = ?",
        [qty, disc, flag],
    ).fetchone()[0]
    assert n_spark == n_duck


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lo=st.integers(min_value=0, max_value=500000))
def test_grouped_sum_parity(spark, duck, sf_dir, lo):
    o = load_tables(spark, sf_dir).orders
    got = {
        r.o_orderstatus: r.t
        for r in o.filter(F.col("o_totalprice") >= lo)
        .groupBy("o_orderstatus")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("t"))
        .collect()
    }
    want = dict(
        duck.execute(
            "SELECT o_orderstatus, round(sum(o_totalprice), 2) FROM orders "
            "WHERE o_totalprice >= ? GROUP BY o_orderstatus",
            [lo],
        ).fetchall()
    )
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(k=st.integers(min_value=1, max_value=5), seg=st.sampled_from(
    ["MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE", "AUTOMOBILE"]))
def test_window_topk_parity(spark, duck, sf_dir, k, seg):
    """Randomized top-k-per-customer window vs DuckDB."""
    from pyspark.sql import Window

    o = load_tables(spark, sf_dir)
    cust = o.customer.filter(F.col("c_mktsegment") == seg).select("c_custkey")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    got = (
        o.orders.join(cust, o.orders.o_custkey == cust.c_custkey, "left_semi")
        .select("o_custkey", "o_orderkey", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= k)
        .count()
    )
    want = duck.execute(
        """
        SELECT count(*) FROM (
          SELECT row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders
          WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = ?)
        ) WHERE rn <= ?
        """,
        [seg, k],
    ).fetchone()[0]
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=15),
                  st.integers(min_value=0, max_value=15)),
        max_size=20,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """d7's distributed min-label propagation must agree with a
    reference union-find on arbitrary small graphs (self-loops and
    duplicate edges included)."""
    from hive_to_es_spark.functions.graph import connected_components

    nodes = sorted({n for e in edges for n in e} | set(range(4)))

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = {n: find(n) for n in nodes}
    expected = {n: min(m for m in nodes if roots[m] == roots[n]) for n in nodes}

    nodes_df = spark.createDataFrame([(n,) for n in nodes], "id LONG")
    edges_df = spark.createDataFrame(
        edges or [(0, 0)], "src LONG, dst LONG"
    )
    got = {
        r.id: r.component for r in connected_components(nodes_df, edges_df).collect()
    }
    assert got == expected


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    how=st.sampled_from(["inner", "left", "right", "full", "left_semi", "left_anti"]),
    lo=st.integers(min_value=0, max_value=500000),
    nat=st.integers(min_value=0, max_value=24),
)
def test_join_type_parity(spark, duck, sf_dir, how, lo, nat):
    """Every join type over randomized one-sided filters: the filters
    carve mismatches on BOTH sides (orders above a price, customers in
    one nation), so outer joins produce real null-extended rows and
    semi/anti real drop-outs — counted identically by DuckDB."""
    t = load_tables(spark, sf_dir)
    o = t.orders.filter(F.col("o_totalprice") >= lo)
    c = t.customer.filter(F.col("c_nationkey") == nat)
    n_spark = o.join(c, o.o_custkey == c.c_custkey, how).count()
    sql_how = {
        "inner": "JOIN", "left": "LEFT JOIN", "right": "RIGHT JOIN",
        "full": "FULL JOIN", "left_semi": "SEMI JOIN", "left_anti": "ANTI JOIN",
    }[how]
    n_duck = duck.execute(
        f"""
        SELECT count(*) FROM
          (SELECT * FROM orders WHERE o_totalprice >= ?) o
          {sql_how}
          (SELECT * FROM customer WHERE c_nationkey = ?) c
          ON o.o_custkey = c.c_custkey
        """,
        [lo, nat],
    ).fetchone()[0]
    assert n_spark == n_duck, how


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    preceding=st.integers(min_value=0, max_value=10),
    following=st.integers(min_value=0, max_value=10),
    agg=st.sampled_from(["sum", "min", "max", "count"]),
)
def test_window_rows_frame_parity(spark, duck, sf_dir, preceding, following, agg):
    """Randomized ROWS BETWEEN frames (both directions, all basic
    aggregates) partitioned by o_orderstatus — deterministic because
    (o_totalprice, o_orderkey) is a unique total order (o_orderkey is
    unique in the fixture), verified row-for-row vs DuckDB."""
    from pyspark.sql import Window

    o = load_tables(spark, sf_dir).orders.filter(F.col("o_custkey") <= 200)
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-preceding, following)
    )
    fn = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.count}[agg]
    got = sorted(
        (r.o_orderkey, r.v)
        for r in o.select(
            "o_orderkey", F.round(fn("o_totalprice").over(w), 2).alias("v")
        ).collect()
    )
    want = sorted(
        map(
            tuple,
            duck.execute(
                f"""
                SELECT o_orderkey,
                       round({agg}(o_totalprice) OVER (
                         PARTITION BY o_orderstatus
                         ORDER BY o_totalprice ASC, o_orderkey ASC
                         ROWS BETWEEN {preceding} PRECEDING AND {following} FOLLOWING), 2) AS v
                FROM orders WHERE o_custkey <= 200
                """
            ).fetchall(),
        )
    )
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=15),
                  st.integers(min_value=0, max_value=15)),
        max_size=20,
    )
)
def test_star_contraction_matches_union_find(spark, edges):
    """The O(log)-round star-contraction path must agree with union-
    find on arbitrary small graphs (self-loops and duplicate edges
    included) — same oracle as the min-propagation property test."""
    from hive_to_es_spark.functions.graph import connected_components_star

    nodes = sorted({n for e in edges for n in e} | set(range(4)))
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = {n: find(n) for n in nodes}
    expected = {n: min(m for m in nodes if roots[m] == roots[n]) for n in nodes}

    nodes_df = spark.createDataFrame([(n,) for n in nodes], "id LONG")
    edges_df = spark.createDataFrame(edges or [(0, 0)], "src LONG, dst LONG")
    got = {
        r.id: r.component
        for r in connected_components_star(nodes_df, edges_df).collect()
    }
    assert got == expected


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=30), min_size=2, max_size=12
    ),
    thresh_pct=st.sampled_from([70, 80, 90]),
)
def test_prefix_jaccard_matches_python_sets(spark, docs, thresh_pct):
    """d10's prefix-filter plan must equal brute-force set Jaccard on
    arbitrary tiny corpora — tiny alphabet forces heavy shingle
    sharing, duplicate docs, and single-shingle docs, the corners
    where a prefix-length off-by-one would silently drop pairs."""
    from hive_to_es_spark.operators.dedup_ext import prefix_filtered_jaccard_pairs

    t = thresh_pct / 100.0

    def shingles(text):
        # mirror word_shingles exactly: 3-word windows, shorter tail
        # windows shrink (concat_ws skips out-of-range NULLs) but
        # EMPTY words from doubled spaces are kept, like concat_ws
        w = text.lower().split(" ")
        k = max(len(w) - 2, 1)
        return {" ".join(w[i:i + 3]) for i in range(k)}

    sets = {i: shingles(d) for i, d in enumerate(docs)}
    expected = set()
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and inter / union >= t:
                    expected.add((a, b))

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id LONG, text STRING"
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filtered_jaccard_pairs(df, t).collect()
    }
    assert got == expected


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
        min_size=1,
        max_size=40,
    ),
    delta=st.sampled_from([1, 5, 100]),
    n_buckets=st.integers(min_value=2, max_value=7),
)
def test_bucketed_range_frame_matches_plain_window(spark, vals, delta, n_buckets):
    """ALL THREE RANGE-frame plans must agree for ANY values
    (negatives, duplicates, all-equal, NULL order keys — which RANGE
    treats as one peer group — and a NULL partition key), delta, and
    bucket count — including bucket widths right at the delta floor,
    where a donor off-by-one at a bucket edge would double-count or
    drop frame members. The broadcast rewrite needs null-safe joins to
    pass this (a plain equi-join silently drops NULL keys — caught by
    review, locked in here)."""
    from hive_to_es_spark.operators.windows import (
        _bucketed_range_frame,
        range_frame_sum,
    )

    rows = [
        (
            i,
            1,
            None if i % 5 == 4 else ("K" if i % 2 else "J"),
            None if v is None else float(v),
        )
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "l_orderkey LONG, l_linenumber INT, pk STRING, val DOUBLE"
    )
    args = (df, "pk", "val", "val", float(delta))
    canon = lambda d: sorted(
        tuple((x is None, x) for x in row) for row in map(tuple, d.collect())
    )
    via_window = canon(range_frame_sum(*args, plan="window"))
    assert canon(_bucketed_range_frame(*args, n_buckets=n_buckets)) == via_window
    assert canon(range_frame_sum(*args, plan="broadcast")) == via_window


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
    n_base=st.integers(min_value=2, max_value=3),
)
def test_prefix_filter_complete_at_boundary(spark, data, n_base):
    """Adversarial completeness check for d10's prefix filter: corpora
    engineered so document pairs straddle the J=0.8 boundary (twins
    produced by 0-3 word replacements over a 12-word vocabulary, plus
    exact duplicates and short docs), with heavy document-frequency
    TIES — the corner where a broken tiebreak in the global (df,
    shingle) rarity order could desynchronize two documents' prefixes
    and silently drop a true pair. The theorem under test: the
    prefix-candidate set must be a SUPERSET of the exact J>=0.8 pairs
    (ground truth recomputed in pure Python, independent of any Spark
    or DuckDB plan), and the verified operator must return exactly the
    true pairs."""
    from hive_to_es_spark.operators.dedup_ext import (
        prefix_filtered_jaccard_pairs,
        prefix_jaccard_candidates,
    )

    vocab = [f"w{i}" for i in range(12)]
    words = st.sampled_from(vocab)
    docs: list[str] = []
    for _ in range(n_base):
        base = data.draw(st.lists(words, min_size=4, max_size=18))
        docs.append(" ".join(base))
        for _ in range(data.draw(st.integers(min_value=1, max_value=2))):
            twin = list(base)
            for _ in range(data.draw(st.integers(min_value=0, max_value=3))):
                pos = data.draw(st.integers(min_value=0, max_value=len(twin) - 1))
                twin[pos] = data.draw(words)
            docs.append(" ".join(twin))
    docs.append(data.draw(words))  # 1-word doc: partial-shingle corner

    def py_shingles(text: str) -> set[str]:
        ws = text.lower().split(" ")
        return {" ".join(ws[i : i + 3]) for i in range(max(len(ws) - 2, 1))}

    sets = {i: py_shingles(t) for i, t in enumerate(docs)}
    truth = set()
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if inter / union >= 0.8:
                    truth.add((a, b))

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id LONG, text STRING"
    )
    cand = {(r.doc_a, r.doc_b) for r in prefix_jaccard_candidates(df, 0.8).collect()}
    assert truth <= cand, f"prefix filter dropped true pairs: {sorted(truth - cand)}"

    verified = {
        (r.doc_a, r.doc_b)
        for r in prefix_filtered_jaccard_pairs(df, 0.8).collect()
    }
    assert verified == truth


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    bin_width_s=st.sampled_from([60, 3600, 86400]),
)
def test_binned_interval_join_matches_naive(spark, seed, bin_width_s):
    """j13's bin rewrite must find EXACTLY the naive range-join pairs,
    for interval endpoints engineered to stress bin edges: lengths up
    to the full bin width, lo values snapped onto and one second off
    bin boundaries, points at lo, hi-1 and hi."""
    import random

    from hive_to_es_spark.operators.joins import binned_interval_join

    rnd = random.Random(seed)
    base = 1_600_000_000  # fixed epoch anchor, bin-aligned below
    anchor = base - base % bin_width_s
    intervals = []
    for i in range(40):
        if i % 4 == 0:  # lo exactly on a bin boundary
            lo = anchor + rnd.randrange(0, 50) * bin_width_s
        elif i % 4 == 1:  # lo one second before a boundary
            lo = anchor + rnd.randrange(1, 50) * bin_width_s - 1
        else:
            lo = anchor + rnd.randrange(0, 50 * bin_width_s)
        length = rnd.choice([1, bin_width_s // 2 + 1, bin_width_s])
        intervals.append((i, lo, lo + length))
    points = []
    for j, (i, lo, hi) in enumerate(intervals):
        # points pinned to the half-open boundary: in, last-in, first-out
        points.extend([(100 + 3 * j, lo), (101 + 3 * j, hi - 1), (102 + 3 * j, hi)])
    for j in range(200):
        points.append((1000 + j, anchor + rnd.randrange(0, 52 * bin_width_s)))

    idf = spark.createDataFrame(
        [(i, *map(_ts, (lo, hi))) for i, lo, hi in intervals],
        "iid int, lo timestamp, hi timestamp",
    )
    pdf = spark.createDataFrame(
        [(p, _ts(t)) for p, t in points], "pid int, t timestamp"
    )
    got = sorted(
        (r.pid, r.iid)
        for r in binned_interval_join(pdf, idf, "t", "lo", "hi", bin_width_s)
        .select("pid", "iid")
        .collect()
    )
    want = sorted(
        (p, i) for p, t in points for i, lo, hi in intervals if lo <= t < hi
    )
    assert got == want


def _ts(epoch_s: int):
    import datetime

    return datetime.datetime.fromtimestamp(epoch_s, datetime.timezone.utc).replace(
        tzinfo=None
    )


# --- a18: Misra-Gries candidate-superset guarantee -------------------
# The op's correctness rests on a theorem, so property-test the
# theorem over adversarial streams: for ANY partitioning of ANY word
# stream, the union of per-partition k-counter MG survivors must
# contain every item with global count > N/k. (The Spark plan then
# exact-counts candidates, so superset => exact final answer.)

from hypothesis import given, settings as hyp_settings
from hypothesis import strategies as st


@given(
    words=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=300),
    k=st.integers(min_value=2, max_value=8),
    n_parts=st.integers(min_value=1, max_value=5),
    data=st.data(),
)
@hyp_settings(max_examples=200, deadline=None)
def test_misra_gries_candidates_are_superset(words, k, n_parts, data):
    from hive_to_es_spark.operators.aggregates import misra_gries_survivors

    # adversarial partitioning: each word routed to a drawn partition
    routes = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=n_parts - 1),
            min_size=len(words),
            max_size=len(words),
        )
    )
    parts = [[] for _ in range(n_parts)]
    for w, r in zip(words, routes):
        parts[r].append(w)

    candidates = set()
    for part in parts:
        survivors = misra_gries_survivors(part, k)
        assert len(survivors) <= k  # bounded-memory invariant
        candidates |= survivors

    n = len(words)
    from collections import Counter

    heavy = {w for w, c in Counter(words).items() if c * k > n}
    assert heavy <= candidates, (
        f"MG lost heavy hitters {heavy - candidates} (n={n}, k={k})"
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # partition id
            st.one_of(st.none(), st.integers(min_value=0, max_value=5)),  # key
        ),
        min_size=1,
        max_size=24,
    ),
    target=st.integers(min_value=0, max_value=5),
)
@example(data=[(0, 0)], target=0)  # every row matches: nothing survives
def test_selective_partition_delete_matches_python_model(spark, tmp_path_factory, data, target):
    """selective_partition_delete vs a direct Python model over random
    partition layouts: exactly the pred-matching rows die (NULL keys
    survive), fully-emptied partition dirs disappear, untouched
    partitions keep identical file listings."""
    import os

    from hive_to_es_spark.operators.pipeline_ops import selective_partition_delete

    path = str(tmp_path_factory.mktemp("seldel") / "t")
    rows = [(f"p{p}", k) for p, k in data]
    df = spark.createDataFrame(rows, "part STRING, k INT")
    df.repartition(F.col("part")).write.partitionBy("part").parquet(path)

    def listing():
        out = {}
        for dirpath, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    st_ = os.stat(p)
                    out[p] = (st_.st_size, st_.st_mtime_ns)
        return out

    before = listing()
    expect_survive = sorted(
        ((p, k) for p, k in rows if k is None or k != target),
        key=lambda t: (t[0], -1 if t[1] is None else t[1]),
    )
    expect_affected = {p for p, k in rows if k == target}
    expect_gone_dirs = expect_affected - {p for p, k in expect_survive}

    affected = set(
        selective_partition_delete(spark, path, "part", F.col("k") == target)
    )
    assert affected == expect_affected

    # known schema: an all-rows delete leaves no data file to infer from
    got = sorted(
        ((r.part, r.k) for r in spark.read.schema("part STRING, k INT").parquet(path).collect()),
        key=lambda t: (t[0], -1 if t[1] is None else t[1]),
    )
    assert got == expect_survive
    after = listing()
    for p, sig in before.items():
        part = next(s for s in p.split(os.sep) if s.startswith("part="))[5:]
        if part not in expect_affected:
            assert after.get(p) == sig, f"untouched partition changed: {p}"
    for part in expect_gone_dirs:
        assert not os.path.exists(os.path.join(path, f"part={part}"))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seqs=st.lists(
        st.lists(st.integers(min_value=0, max_value=10_000_000), min_size=1, max_size=12),
        min_size=1,
        max_size=5,
    )
)
def test_w12_fir_matches_direct_python_sum(spark, seqs):
    """w12's 8-tap window FIR vs the direct Python convolution on
    random per-key cents sequences — including sequences shorter and
    longer than the kernel."""
    from pyspark.sql import Window

    rows = [
        (cust, pos, cents)
        for cust, seq in enumerate(seqs)
        for pos, cents in enumerate(seq)
    ]
    df = spark.createDataFrame(rows, "cust INT, pos INT, cents LONG")
    w = Window.partitionBy("cust").orderBy("pos")
    ewma = None
    for j, wt in enumerate([128, 64, 32, 16, 8, 4, 2, 1]):
        term = F.coalesce(F.lag("cents", j).over(w), F.lit(0)) * F.lit(wt)
        ewma = term if ewma is None else ewma + term
    got = {
        (r.cust, r.pos): r.e
        for r in df.select("cust", "pos", ewma.cast("bigint").alias("e")).collect()
    }
    for cust, seq in enumerate(seqs):
        for n in range(len(seq)):
            expect = sum(
                seq[n - j] * (1 << (7 - j)) for j in range(min(n + 1, 8))
            )
            assert got[(cust, n)] == expect


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=20),
        min_size=3,
        max_size=12,
    ),
    df_min=st.integers(min_value=2, max_value=4),
)
def test_line_dedup_matches_python_model(spark, docs, df_min):
    """t13's census → broadcast-membership → reassembly plan vs the
    direct Python model on random tiny-vocabulary corpora (small
    alphabet forces real chunk collisions across docs). Checks count
    accounting AND order-preserving reassembly at arbitrary df
    thresholds, not just the registered fixture's."""
    from hive_to_es_spark.operators.text_ext import line_dedup

    texts = [" ".join(toks) for toks in docs]
    d = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    got = {
        r.doc_id: (r.n_lines, r.n_dropped, r.cleaned_text)
        for r in line_dedup(d, line_toks=3, df_min=df_min).collect()
    }

    def chunks(toks):
        return [" ".join(toks[i : i + 3]) for i in range(0, len(toks), 3)]

    census = {}
    for toks in docs:
        for line in set(chunks(toks)):
            census[line] = census.get(line, 0) + 1
    boiler_py = {line for line, n in census.items() if n >= df_min}
    for doc_id, toks in enumerate(docs):
        cs = chunks(toks)
        kept = [c for c in cs if c not in boiler_py]
        assert got[doc_id] == (len(cs), len(cs) - len(kept), " ".join(kept))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # user
            st.integers(min_value=0, max_value=50),     # start
            st.integers(min_value=0, max_value=20),     # length
        ),
        min_size=1,
        max_size=25,
    )
)
def test_interval_merge_matches_sweep_line(spark, ivs):
    """w15's SHIPPED plan (merge_intervals) over arbitrary interval
    sets vs a Python sweep line — random starts/lengths hit zero-length
    intervals, exact-touch boundaries, containment, and duplicate
    starts that the fixture distribution may not."""
    from collections import defaultdict

    from hive_to_es_spark.operators.windows import merge_intervals

    rows = [
        (u, i, s, s + ln) for i, (u, s, ln) in enumerate(ivs)
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, start_us bigint, end_us bigint"
    )
    got = {
        (r.user_id, r.island_id): (r.n_events, r.island_start_us, r.island_end_us)
        for r in merge_intervals(df).collect()
    }
    by_user = defaultdict(list)
    for u, i, s, e in rows:
        by_user[u].append((s, i, e))
    expect = {}
    for u, user_ivs in by_user.items():
        user_ivs.sort()
        island, prev_max = 0, None
        members = defaultdict(list)
        for s, i, e in user_ivs:
            if prev_max is None or s > prev_max:
                island += 1
            members[island].append((s, e))
            prev_max = e if prev_max is None else max(prev_max, e)
        for isl, ms in members.items():
            expect[(u, isl)] = (
                len(ms),
                min(s for s, _ in ms),
                max(e for _, e in ms),
            )
    assert got == expect


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    log=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),          # user
            st.integers(min_value=0, max_value=100),        # ts
            st.one_of(st.none(), st.integers(min_value=0, max_value=3)),  # tier
        ),
        min_size=1,
        max_size=20,
    )
)
def test_scd2_build_matches_replay(spark, log):
    """p24's SHIPPED plan (scd2_from_changes) over arbitrary change
    logs vs a Python replay — random NULL payloads exercise the
    null-safe change detection (NULL->NULL must suppress, NULL->x and
    x->NULL must open versions), which the fixtures never hit (their
    tier is never NULL)."""
    from collections import defaultdict

    from hive_to_es_spark.operators.pipeline_ops import scd2_from_changes

    rows = [(u, i, ts, t) for i, (u, ts, t) in enumerate(log)]
    df = spark.createDataFrame(
        rows, "user_id bigint, signup_id bigint, vf bigint, tier bigint"
    )
    got = {
        (r.user_id, r.version_n): (
            r.signup_id, r.tier, r.valid_from_us, r.valid_to_us, r.is_current
        )
        for r in scd2_from_changes(df).collect()
    }
    by_user = defaultdict(list)
    for u, i, ts, t in rows:
        by_user[u].append((ts, i, t))
    expect = {}
    sentinel = object()
    for u, evs in by_user.items():
        evs.sort(key=lambda x: (x[0], x[1]))
        kept, prev = [], sentinel
        for ts, i, t in evs:
            if prev is sentinel or t != prev:
                kept.append((ts, i, t))
            prev = t
        for v, (ts, i, t) in enumerate(kept, start=1):
            nxt = kept[v][0] if v < len(kept) else None
            expect[(u, v)] = (i, t, ts, nxt, 1 if nxt is None else 0)
    assert got == expect


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    dim_keys=st.sets(st.integers(min_value=-10**9, max_value=10**9), min_size=1, max_size=40),
    fact_keys=st.lists(
        st.integers(min_value=-10**9, max_value=10**9), min_size=1, max_size=60
    ),
)
def test_bloom_never_false_negative(spark, dim_keys, fact_keys):
    """j18's bitmap helpers over arbitrary key sets: every fact row
    whose key IS in the dim must survive the probe (the property the
    whole prefilter rests on — false POSITIVES are repaired by the
    exact join, false negatives would silently drop results)."""
    from hive_to_es_spark.operators.joins import _bloom_build, _bloom_probe

    dim = spark.createDataFrame([(k,) for k in dim_keys], "k bigint")
    fact = spark.createDataFrame(
        [(i, k) for i, k in enumerate(fact_keys)], "row_id bigint, k bigint"
    )
    cand = set(
        r.row_id for r in _bloom_probe(fact, _bloom_build(dim, "k"), "k").collect()
    )
    must_pass = {i for i, k in enumerate(fact_keys) if k in dim_keys}
    assert must_pass <= cand, f"false negatives: {must_pass - cand}"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.text(alphabet="ab", min_size=1, max_size=10),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=12,
    ),
    batch=st.sampled_from([2, 3, 4, 8, 16]),
)
def test_bpe_batched_equals_sequential(spark, data, batch):
    """bpe_train_batched's acceptance rule claims OUTPUT-IDENTITY with
    the sequential trainer (its docstring's five-step argument). Random
    tiny-alphabet corpora hammer exactly the hostile cases: count ties,
    self-pairs ("aa"), overlapping runs ("aaa"), merges whose products
    immediately dominate the next round, and — the round-10 extension
    (2-letter alphabet, depth-8 merges, words to 10 chars) — deep merge
    chains where one string could be reachable via two merge paths
    (the two-path output collision rule 5 guards; a 150k-corpus offline
    sweep of this generator never even fired the collision
    precondition, consistent with it being unreachable under global-
    rank greedy L2R BPE, but the rule keeps the equivalence a theorem
    rather than a conjecture)."""
    from hive_to_es_spark.operators.text_ext import bpe_train, bpe_train_batched

    # collapse duplicate words into a census (bpe_train's input contract)
    census: dict[str, int] = {}
    for word, freq in data:
        census[word] = census.get(word, 0) + freq
    words = spark.createDataFrame(
        list(census.items()), "word STRING, freq BIGINT"
    )
    seq = bpe_train(words, n_merges=8)
    assert bpe_train_batched(words, n_merges=8, batch_size=batch) == seq


def _py_del1(s: str) -> set[str]:
    return {s[:i] + s[i + 1 :] for i in range(len(s))}


def _py_d2(s: str) -> set[str]:
    d1 = _py_del1(s)
    out = {s} | d1
    for t in d1:
        out |= _py_del1(t)
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    s=st.text(alphabet="ab0", min_size=0, max_size=8),
    edits=st.lists(
        st.tuples(
            st.sampled_from(["ins", "del", "sub"]),
            st.integers(min_value=0, max_value=8),
            st.sampled_from("ab0"),
        ),
        min_size=0,
        max_size=2,
    ),
)
def test_deletion_neighborhood_expr_and_symspell_lemma(spark, s, edits):
    """x13's candidate generator rests on two facts, both re-proven
    here on random inputs: (a) the codegen'd SQL deletion-
    neighborhood expression computes exactly D_2 (vs a Python
    reference, including the empty-string sequence(1,0) guard);
    (b) the SymSpell lemma — b within <= 2 edit operations of a
    implies D_2(a) and D_2(b) intersect — which is what makes the
    candidate join COMPLETE for lev <= 2 and the oracle hash exact."""
    from hive_to_es_spark.operators.scalars import deletion_neighborhood

    row = (
        spark.range(1)
        .select(F.lit(s).alias("s"))
        .select(deletion_neighborhood("s").alias("v"))
        .collect()[0]
    )
    assert set(row.v) == _py_d2(s)
    # apply <= 2 random edit operations -> lev(s, b) <= 2
    b = s
    for op, pos, ch in edits:
        p = min(pos, len(b))
        if op == "ins":
            b = b[:p] + ch + b[p:]
        elif op == "del" and b:
            p = min(pos, len(b) - 1)
            b = b[:p] + b[p + 1 :]
        elif op == "sub" and b:
            p = min(pos, len(b) - 1)
            b = b[:p] + ch + b[p + 1 :]
    assert _py_d2(s) & _py_d2(b), (s, b)
