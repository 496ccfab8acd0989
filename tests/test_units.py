"""Edge-case unit tests on tiny in-line DataFrames — semantics corners
the fixed oracle fixtures do not exercise (duplicates, ties, empties,
nulls, boundaries)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def test_except_distinct_drops_multiplicity(spark):
    """EXCEPT must drop a left row entirely if it appears on the right,
    even when the left multiplicity is > 1 (the u4 semantics bug class:
    exceptAll().distinct() would keep it)."""
    left = spark.createDataFrame([(1,), (1,), (2,)], "v INT")
    right = spark.createDataFrame([(1,)], "v INT")
    assert [r.v for r in left.subtract(right).collect()] == [2]
    # and the wrong formulation really is wrong, which is why we don't use it:
    assert [r.v for r in left.exceptAll(right).distinct().collect()] == [1, 2]


def test_asof_join_ties_take_equal_timestamp(spark):
    """As-of (latest click ts <= purchase ts): a click at EXACTLY the
    purchase timestamp must be taken — mirrors j9's window form."""
    from pyspark.sql import Window

    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (1, 10, t0, "click"),
            (2, 10, t0 + dt.timedelta(minutes=5), "purchase"),
            (3, 10, t0 + dt.timedelta(minutes=5), "click"),  # tie with purchase
        ],
        "event_id LONG, user_id LONG, ts TIMESTAMP, event_type STRING",
    )
    tagged = ev.select(
        "event_id", "user_id", "ts", "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    # click sorts before purchase at equal ts -> equal-ts click is visible
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_type").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = (
        tagged.withColumn("last_click", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .collect()
    )
    assert got[0].last_click == t0 + dt.timedelta(minutes=5)


def test_agg_on_empty_input(spark):
    empty = spark.createDataFrame([], "k STRING, v DOUBLE")
    assert empty.groupBy("k").agg(F.sum("v")).count() == 0  # grouped: no rows
    row = empty.agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()[0]
    assert row.n == 0 and row.s is None  # global: one row, null sum


def test_window_rank_on_empty_and_single(spark):
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("v")
    empty = spark.createDataFrame([], "k STRING, v INT")
    assert empty.select(F.rank().over(w).alias("r")).count() == 0
    single = spark.createDataFrame([("a", 1)], "k STRING, v INT")
    assert single.select(F.rank().over(w).alias("r")).collect()[0].r == 1


def test_groupby_null_keys_form_one_group(spark):
    df = spark.createDataFrame([(None, 1), (None, 2), ("a", 3)], "k STRING, v INT")
    got = {r.k: r.s for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    assert got == {None: 3, "a": 3}


def test_max_by_deterministic_with_unique_key(spark):
    """a11's tiebreak contract: with a unique ordering key, max_by is
    deterministic even when the value column ties."""
    df = spark.createDataFrame(
        [("g", 1, 10.0), ("g", 2, 10.0), ("g", 3, 5.0)], "g STRING, id INT, v DOUBLE"
    )
    key = F.col("v") * 100 + F.col("id")
    got = df.groupBy("g").agg(F.max_by("id", key).alias("best")).collect()[0]
    assert got.best == 2


def test_cosine_known_values(spark):
    from hive_to_es_spark.operators.similarity import cosine, _dbl

    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0]), ([1.0, 0.0], [-1.0, 0.0])],
        "a ARRAY<FLOAT>, b ARRAY<FLOAT>",
    )
    got = df.select(F.round(cosine(_dbl("a"), _dbl("b")), 6).alias("c")).collect()
    assert [r.c for r in got] == [0.0, 1.0, -1.0]


def test_session_window_boundary_merges_at_exact_gap(spark):
    """An event exactly gap minutes after the previous one joins the
    SAME session (verified Spark behavior; the e3 oracle's `>` gap
    test encodes the same rule)."""
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t0), (1, t0 + dt.timedelta(minutes=30)), (1, t0 + dt.timedelta(minutes=90))],
        "user_id INT, ts TIMESTAMP",
    )
    got = sorted(
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id").count().collect(),
        key=lambda r: r[0].start,
    )
    assert [r["count"] for r in got] == [2, 1]


def test_dedup_exact_counts_duplicates(spark):
    from hive_to_es_spark.io import load_tables  # noqa: F401 (pattern parity)

    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "hello world"), (3, "other")], "doc_id INT, text STRING"
    )
    h = F.md5(F.lower("text"))
    row = df.agg(
        F.count("*").alias("n"), F.countDistinct(h).alias("d")
    ).collect()[0]
    assert (row.n, row.d) == (3, 2)  # case-normalized dup detected


def test_minhash_shingles_nonempty_for_short_text(spark):
    """d2's shingle expression must not produce an empty array for
    texts shorter than the shingle width (MinHashLSH rejects empty
    feature vectors)."""
    from hive_to_es_spark.operators.dedup import word_shingles

    df = spark.createDataFrame([("ab",), ("a b c d",)], "text STRING")
    out = df.select(word_shingles(F.col("text")).alias("sh")).collect()
    assert [r.sh for r in out] == [["ab"], ["a b c", "b c d"]]


def test_shingle_rows_match_shingle_sql(spark):
    """The Spark shingle relation and its DuckDB twin agree on the
    corners the fixtures lack: NULL and empty text, fewer than 3
    words, repeats, doubled/edge spaces and non-ASCII case."""
    import duckdb

    from hive_to_es_spark.operators.dedup import shingle_rows, shingle_sql

    texts = [None, "", "a", "a b", "A b A b A b", "a  b c", " a b ", "Ärger ÜBER über"]
    rows = list(enumerate(texts))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(con.execute(shingle_sql()).fetchall())
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = sorted(map(tuple, shingle_rows(docs).collect()))
    assert got == want


def test_token_lines_match_token_lines_sql(spark):
    """The Spark line chunker and its DuckDB twin agree on NULL and
    empty text, 1-4 and 7 tokens, and doubled spaces (empty tokens)."""
    import duckdb

    from hive_to_es_spark.operators.text_ext import token_lines, token_lines_sql

    texts = [None, "", "a", "a b", "a b c", "a b c d", "a b c d e f g", "a  b c  d"]
    rows = list(enumerate(texts))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(con.execute(
        f"SELECT doc_id, {token_lines_sql('tk', 3)} FROM "
        "(SELECT doc_id, string_split(text, ' ') AS tk FROM documents)"
    ).fetchall())
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = sorted(map(tuple, docs.withColumn("_toks", F.split("text", " "))
                     .select("doc_id", token_lines(3)).collect()))
    assert got == want


def test_sign_bucket_matches_sign_bucket_sql(spark):
    """sign_bucket and SIGN_BUCKET_SQL agree on zeros, -0.0,
    negatives, vectors shorter than the 8 sign bits and NULL."""
    import duckdb

    from hive_to_es_spark.operators.similarity import SIGN_BUCKET_SQL, sign_bucket

    vecs = [
        [0.0] * 8,
        [-0.0] * 8,
        [-1.0, 2.0, -3.0, 4.0, -5.0, 6.0, -7.0, 8.0, 9.0],
        [1.0, -0.0, 0.0, 1e-9, -1e-9, 1.0, 1.0, 1.0],
        [1.0, 1.0, 1.0],
        [-1.0],
        [],
        None,
    ]
    rows = list(enumerate(vecs))
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id INTEGER, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    want = sorted(con.execute(
        f"SELECT vec_id, {SIGN_BUCKET_SQL} FROM embeddings"
    ).fetchall())
    e = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    got = sorted(map(tuple, e.select("vec_id", sign_bucket("embedding")).collect()))
    assert got == want


def test_md5_60_matches_md5_60_sql(spark):
    """md5_60 and md5_60_sql agree on bigint keys at both ends of the
    signed range, on empty, salted and non-ASCII string keys, and on
    NULL (NULL in both engines)."""
    import duckdb

    from hive_to_es_spark.functions.hashing import md5_60, md5_60_sql

    con = duckdb.connect()
    for duck_type, spark_type, keys in [
        ("BIGINT", "BIGINT", [0, 1, -1, 42, 2**62, -(2**63), None]),
        ("VARCHAR", "STRING", ["", "e5|42", "ß漢字 ", None]),
    ]:
        rows = list(enumerate(keys))
        con.execute(f"CREATE OR REPLACE TABLE t (i INTEGER, k {duck_type})")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        want = sorted(con.execute(f"SELECT i, {md5_60_sql('k')} FROM t").fetchall())
        t = spark.createDataFrame(rows, f"i INT, k {spark_type}")
        got = sorted(map(tuple, t.select("i", md5_60("k")).collect()))
        assert got == want, duck_type
        assert want[-1][1] is None and all(0 <= h < 2**60 for _, h in want[:-1])


def test_centroids_match_centroids_sql(spark):
    """_centroids and centroids_sql agree on vectors narrower (3) and
    wider (70) than the fixtures' 64 dimensions, over two groups; a
    NULL vector drops out of its group's means in both engines."""
    import duckdb

    from hive_to_es_spark.operators.similarity import _centroids, centroids_sql

    wide = [float(i % 7 - 3) for i in range(70)]
    rows = [
        (0, 1, [1.0, 2.0, 3.0]),
        (1, 1, [3.0, -2.0, 0.5]),
        (2, 1, None),
        (3, 2, wide),
        (4, 2, [x / 2 for x in wide]),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE vecs (vec_id INTEGER, label INTEGER, evec DOUBLE[])")
    con.executemany("INSERT INTO vecs VALUES (?, ?, ?)", rows)
    want = sorted(con.execute(centroids_sql("vecs", "label", "evec")).fetchall())
    v = spark.createDataFrame(rows, "vec_id INT, label INT, evec ARRAY<DOUBLE>")
    got = sorted(map(tuple, _centroids(v, ["label"]).collect()))
    assert got == want
    assert [len(cvec) for _, cvec in got] == [3, 70]


def test_rank_cells_and_ivf_serve_match_sql_twins(spark):
    """_rank_cells and _ivf_serve agree with rank_cells_sql and
    ivf_serve_sql: [0, 0] is equidistant from cells 0 and 1, so the
    label tie-break decides its assignment; an `on` restriction ranks
    each row only against its group's two cells (s19's shape); serving
    probes two cells per query, one of them chosen by a distance tie,
    and cuts the top-2 through a cosine tie broken by vec_id."""
    import duckdb

    from hive_to_es_spark.operators.similarity import (
        _ivf_serve,
        _rank_cells,
        ivf_serve_sql,
        rank_cells_sql,
    )

    cells = [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [0.0, 2.0]), (3, [0.0, -2.0])]
    vecs = [
        (0, 0, [0.0, 0.0]),
        (1, 0, [0.9, 0.1]),
        (2, 1, [-0.5, 1.5]),
        (3, 1, [0.2, -1.0]),
        (4, 1, [-2.0, -0.1]),
        (5, 0, [1.0, 1.0]),
        (6, 1, [2.0, 2.0]),
    ]
    queries = [(100, [0.0, 1.0]), (101, [1.0, 0.5]), (102, [-1.0, -1.0])]
    con = duckdb.connect()
    con.execute("CREATE TABLE codebook (c_label INTEGER, cvec DOUBLE[])")
    con.executemany("INSERT INTO codebook VALUES (?, ?)", cells)
    con.execute("CREATE TABLE vecs (vec_id INTEGER, grp INTEGER, ev DOUBLE[])")
    con.executemany("INSERT INTO vecs VALUES (?, ?, ?)", vecs)
    con.execute("CREATE TABLE queries (vec_id INTEGER, ev DOUBLE[])")
    con.executemany("INSERT INTO queries VALUES (?, ?)", queries)
    cb = spark.createDataFrame(cells, "c_label INT, cvec ARRAY<DOUBLE>")
    v = spark.createDataFrame(vecs, "vec_id INT, grp INT, evec ARRAY<DOUBLE>")
    q = spark.createDataFrame(queries, "vec_id INT, evec ARRAY<DOUBLE>")

    def rank_rows(sql_on, spark_on):
        want = sorted(
            con.execute(
                "SELECT vec_id, grp, ev, c_label, d, rn "
                f"FROM ({rank_cells_sql('vecs', 'codebook', sql_on)})"
            ).fetchall()
        )
        got = _rank_cells(v, cb, spark_on)
        assert got.columns == ["vec_id", "grp", "evec", "c_label", "d", "rn"]
        got = sorted(map(tuple, got.collect()))
        assert got == want
        return got

    ranked = rank_rows("TRUE", None)
    assert [t[3] for t in ranked if t[0] == 0 and t[5] == 1] == [0]
    own = rank_rows(
        "cb.c_label IN (2 * v.grp, 2 * v.grp + 1)",
        (F.col("c_label") == 2 * F.col("grp")) | (F.col("c_label") == 2 * F.col("grp") + 1),
    )
    assert {(t[0], t[3]) for t in own} == {
        (vid, 2 * grp + i) for vid, grp, _ in vecs for i in (0, 1)
    }

    # the zero vector has no cosine, so it stays out of the served corpus
    con.execute("CREATE VIEW corpus AS SELECT * FROM vecs WHERE vec_id > 0")
    con.execute(
        "CREATE TABLE inverted AS SELECT vec_id, c_label AS bucket "
        f"FROM ({rank_cells_sql('corpus', 'codebook')}) WHERE rn = 1"
    )
    want = sorted(
        con.execute(ivf_serve_sql("inverted", "corpus", "queries", "codebook", 2, 2)).fetchall()
    )
    corpus = v.filter(F.col("vec_id") > 0)
    inverted = (
        _rank_cells(corpus, cb)
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("c_label").alias("bucket"))
    )
    got = sorted(map(tuple, _ivf_serve(inverted, corpus, q, cb, nprobe=2, k=2).collect()))
    assert got == want
    assert {t[0] for t in got} == {100, 101, 102}


def test_ranged_running_sum_matches_global_window(spark):
    """ranged_running_sum's _cum equals the global ROWS running window
    it stands in for: on more splits than ranges, on key gaps that
    leave whole ranges empty, on leading-key ties broken by a DESC
    column (w20's boundary order), with a Column value, and on an
    empty frame."""
    from pyspark.sql import Window

    from hive_to_es_spark.operators.windows import ranged_running_sum

    def check(df, value, order, n_ranges):
        w = Window.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        want = sorted(map(tuple, df.withColumn("_cum", F.sum(value).over(w)).collect()))
        got = ranged_running_sum(df, value, order, n_ranges)
        assert got.columns == df.columns + ["_cum"]
        assert sorted(map(tuple, got.collect())) == want

    dense = spark.createDataFrame(
        [(k, k % 5 - 2) for k in range(-20, 20)], "k LONG, v LONG"
    ).repartition(7)
    check(dense, "v", ["k"], 3)
    check(dense, F.lit(1), ["k"], 3)
    # width ceil(101 / 8) = 13: ranges 1, 2, 4, 5 and 6 hold no key
    gaps = spark.createDataFrame(
        [(k, k + 1) for k in (0, 1, 2, 50, 51, 99, 100)], "k LONG, v LONG"
    ).repartition(3)
    check(gaps, "v", ["k"], 8)
    bnd = [(0, 1, 1), (0, -1, 2), (0, 1, 3), (5, -1, 1), (5, 1, 4), (9, -1, 3), (9, -1, 4)]
    ties = spark.createDataFrame(bnd, "tus LONG, delta INT, user_id LONG").repartition(5)
    check(ties, "delta", ["tus", F.col("delta").desc(), "user_id"], 4)
    check(spark.createDataFrame([], "k LONG, v LONG"), "v", ["k"], 4)


def test_range_frame_includes_peers(spark):
    from pyspark.sql import Window

    df = spark.createDataFrame([("g", 1.0), ("g", 1.0), ("g", 2.0)], "g STRING, v DOUBLE")
    w = Window.partitionBy("g").orderBy("v").rangeBetween(-1, Window.currentRow)
    got = df.select("v", F.count("*").over(w).alias("n")).collect()
    by_v = {}
    for r in got:
        by_v.setdefault(r.v, set()).add(r.n)
    assert by_v[1.0] == {2}  # both peers counted for each 1.0 row
    assert by_v[2.0] == {3}  # 2.0's frame spans [1.0, 2.0] incl. both peers


@pytest.mark.parametrize("mode", ["overwrite", "append"])
def test_parquet_sink_modes(spark, tmp_path, mode):
    from hive_to_es_spark.pipeline import Job, write_sink

    df = spark.createDataFrame([(1,), (2,)], "v INT")
    path = str(tmp_path / "sink")
    write_sink(df, Job(name="sink_modes", sink_path=path, mode="overwrite"))
    write_sink(df, Job(name="sink_modes", sink_path=path, mode=mode))
    n = spark.read.parquet(path).count()
    assert n == (4 if mode == "append" else 2)


def test_minhash_approximates_exact_jaccard(spark, sf_dir):
    """d2 (MinHash-LSH, approximate) and d4 (exact shingle Jaccard)
    must agree on the strong near-dup pairs: every exact pair with
    Jaccard >= 0.5 should be recalled by the LSH join at distance 0.6
    (i.e. similarity >= 0.4) with 8 hash tables."""
    from hive_to_es_spark.registry import queries

    qs = queries()
    exact = {
        (r.doc_a, r.doc_b)
        for r in qs["d4_dedup_ngram_jaccard"](spark, sf_dir).collect()
        if r.jaccard >= 0.5
    }
    approx = {(r.doc_a, r.doc_b) for r in qs["d2_dedup_minhash"](spark, sf_dir).collect()}
    assert exact, "fixture should contain at least one strong near-dup pair"
    missed = exact - approx
    assert not missed, f"LSH missed strong pairs: {missed}"


def test_simhash_identical_docs_share_signature(spark):
    """Identical text -> identical signature and band keys; unrelated
    text -> different signature. A one-word change flips few bits, so
    at least one of the 4 band keys still collides (the d6 blocking
    premise)."""
    from hive_to_es_spark.operators.dedup_ext import simhash_signatures

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "alpha beta gamma delta epsilon zeta eta CHANGED"),
            (4, "totally different words everywhere here now ok yes"),
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r.doc_id: r for r in simhash_signatures(df).collect()}
    assert rows[1].simhash == rows[2].simhash
    assert [rows[1][f"band{i}"] for i in range(4)] == [rows[2][f"band{i}"] for i in range(4)]
    assert rows[1].simhash != rows[4].simhash
    # near-dup: some band survives the single-word edit
    shared = [i for i in range(4) if rows[1][f"band{i}"] == rows[3][f"band{i}"]]
    assert shared, "near-identical docs must collide on >=1 band"


def test_kmeans_refinement_reduces_inertia(spark, sf_dir):
    """s6's 3 Lloyd iterations must end with total inertia <= the
    inertia of the initial (per-label centroid) assignment, and keep
    every vector assigned."""
    from pyspark.sql import Window
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.operators.similarity import _dbl
    from hive_to_es_spark.registry import queries

    e = load_tables(spark, sf_dir).embeddings
    n_vecs = e.count()
    comp = (
        e.select("label", F.posexplode(_dbl("embedding")).alias("pos0", "v"))
        .groupBy("label", "pos0").agg(F.avg("v").alias("cv"))
    )
    cb = comp.groupBy("label").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos0", "cv"))), lambda x: x.cv).alias("cvec")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("evec"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("label").asc())
    init_inertia = (
        e.select("vec_id", _dbl("embedding").alias("evec"))
        .crossJoin(F.broadcast(cb))
        .select("vec_id", d2.alias("d2"), "label")
        .select("vec_id", "d2", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .agg(F.sum("d2")).collect()[0][0]
    )
    out = queries()["s6_kmeans_refine"](spark, sf_dir).collect()
    assert sum(r.n_members for r in out) == n_vecs
    final_inertia = sum(r.inertia for r in out)
    assert final_inertia <= init_inertia + 1e-6


def test_ngram_jaccard_hot_shingle_cap_bounds_pairs(spark):
    """One shingle shared by every document must not create a
    quadratic block: with the document-frequency cap the hot shingle
    is dropped and otherwise-unique docs produce ZERO pairs; without
    it the same corpus explodes to n*(n-1)/2 pairs."""
    from hive_to_es_spark.operators.dedup_ext import ngram_jaccard_pairs

    n = 40
    rows = [(i, f"common shared phrase unique{i} word{i} token{i}") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    capped = ngram_jaccard_pairs(docs, threshold=0.0, df_cap=10)
    uncapped = ngram_jaccard_pairs(docs, threshold=0.0, df_cap=10**9)
    assert capped.count() == 0
    assert uncapped.count() == n * (n - 1) // 2


def test_connected_components_chain_star_isolated(spark):
    """Min-label propagation must close a CHAIN transitively (the case
    pair-level dedup misses: 1~2, 2~3 => {1,2,3} even though 1 and 3
    never paired), keep disjoint groups apart, and leave isolated
    nodes as their own component."""
    from hive_to_es_spark.functions.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id LONG")
    # chain 1-2-3-4, star 5<-6,7 ; 8 isolated
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (5, 7)], "src LONG, dst LONG"
    )
    got = {
        r.id: r.component
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8}


def test_connected_components_deep_graph_falls_back_to_star(spark):
    """A graph whose diameter exceeds max_rounds must NOT return
    half-propagated labels OR fail: min-propagation hands its
    materialized edge list to star contraction, which closes the
    40-node chain in O(log) rounds with the identical contract."""
    from hive_to_es_spark.functions.graph import connected_components

    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id LONG")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src LONG, dst LONG"
    )
    got = {
        r.id: r.component
        for r in connected_components(nodes, chain, max_rounds=3).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_star_contraction_direct(spark):
    """connected_components_star on chain + star + isolated — the
    same semantics test min-propagation passes."""
    from hive_to_es_spark.functions.graph import connected_components_star

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id LONG")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (5, 7)], "src LONG, dst LONG"
    )
    got = {
        r.id: r.component
        for r in connected_components_star(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8}


def test_reliable_checkpoint_dir_identical_results(spark, sf_dir, tmp_path):
    """checkpoint_dir switches every materialization in the iterative
    closure and the dedup pair plans from localCheckpoint (executor
    memory — lost-executor-fatal on a cluster) to RELIABLE checkpoints
    on shared storage. Results must be bit-identical either way, and
    checkpoint files must actually land in the directory — proof the
    reliable path ran, not the default."""
    from hive_to_es_spark.functions.graph import connected_components
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.operators.dedup_ext import minhash_verified_jaccard_pairs

    ckpt = str(tmp_path / "reliable_ckpt")

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id LONG")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (5, 7)], "src LONG, dst LONG"
    )
    canon_cc = lambda df: sorted(map(tuple, df.collect()))
    assert canon_cc(
        connected_components(nodes, edges, checkpoint_dir=ckpt)
    ) == canon_cc(connected_components(nodes, edges))

    docs = load_tables(spark, sf_dir).documents
    canon = lambda df: sorted(map(tuple, df.collect()))
    assert canon(
        minhash_verified_jaccard_pairs(docs, 0.2, checkpoint_dir=ckpt)
    ) == canon(minhash_verified_jaccard_pairs(docs, 0.2))

    import os

    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "no checkpoint files written — reliable path never ran"


def test_quantized_knn_recall_vs_exact(spark, sf_dir):
    """s8's int8-quantized top-10 must recover most of the exact
    float-cosine top-10 (the quantization-error bound in practice):
    require >= 7/10 overlap, and the exact #1 neighbor must survive."""
    from hive_to_es_spark.registry import queries

    qs = queries()
    exact = [r.vec_id for r in qs["s1_knn_cosine"](spark, sf_dir).collect()]
    quant = [r.vec_id for r in qs["s8_knn_quantized"](spark, sf_dir).collect()]
    assert len(set(exact) & set(quant)) >= 7
    assert exact[0] in quant  # the self-match / top neighbor survives


def test_range_frame_all_three_paths_identical(spark, sf_dir):
    """range_frame_sum's broadcast rewrite, plain-window fallback and
    bucketed-donor plan are three physical plans for ONE semantics —
    pinned onto the same input via `plan=`, they must agree row for
    row (this is what lets w7/w8 share one DuckDB oracle)."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.operators.windows import range_frame_sum

    li = load_tables(spark, sf_dir).lineitem.limit(5000)
    args = (li, "l_returnflag", "l_extendedprice", "l_extendedprice", 100.0)
    canon = lambda df: sorted(map(tuple, df.collect()))
    via_window = canon(range_frame_sum(*args, plan="window"))
    assert canon(range_frame_sum(*args, plan="broadcast")) == via_window
    assert canon(range_frame_sum(*args, plan="bucketed")) == via_window


def test_range_frame_auto_gate_highcard_partitions(spark):
    """The auto gate's third outcome: when the PARTITION key alone
    exceeds cluster parallelism, the plain window is already parallel
    enough and auto must pick it (no bucket column, no join) — the
    branch w7 pins artificially, chosen here by measurement."""
    import contextlib
    import io as _io

    from pyspark.sql import functions as F

    from hive_to_es_spark.operators.windows import range_frame_sum

    n_parts = spark.sparkContext.defaultParallelism * 4
    df = (
        spark.range(n_parts * 20)
        .select(
            F.col("id").alias("l_orderkey"),
            F.lit(1).alias("l_linenumber"),
            (F.col("id") % n_parts).alias("pk"),
            (F.rand(seed=7) * 1000).alias("val"),
        )
    )
    out = range_frame_sum(df, "pk", "val", "val", 10.0, broadcast_distinct_limit=100)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "windowspecdefinition" in plan
    assert "_bkt" not in plan
    assert "Join" not in plan


def test_range_bucket_count_math():
    """Pure gate math for the bucketed RANGE plan: n_parts x buckets
    covers ~4x parallelism, floor of 2 buckets, and fewer partition
    keys always means at least as many buckets per key."""
    from hive_to_es_spark.operators.windows import range_bucket_count

    assert range_bucket_count(32, 3) == 43          # ceil(128/3)
    assert range_bucket_count(32, 1000) == 2        # floor: never 1
    assert range_bucket_count(1000, 3) * 3 >= 4 * 1000
    for p in (8, 32, 1000):
        counts = [range_bucket_count(p, n) for n in (1, 2, 4, 64, 10_000)]
        assert counts == sorted(counts, reverse=True)
        assert all(c >= 2 for c in counts)


def test_ann_recall_floors_and_multiprobe_gain(spark, sf_dir):
    """The ANN recall/probe tradeoff, MEASURED (VERDICT r4 item 4):
    recall@10 vs s1-style exact ground truth over 20 query vectors.
    Floors pinned below the observed values (single 0.125, multi 0.24
    at sf0.01) with margin for fixture regeneration; the structural
    claim is multi-probe strictly improves on single-probe."""
    from hive_to_es_spark.operators.similarity import ann_recall

    r_single = ann_recall(spark, sf_dir, multiprobe=False)
    r_multi = ann_recall(spark, sf_dir, multiprobe=True)
    assert r_multi > r_single, (r_single, r_multi)
    assert r_single >= 0.08, r_single
    assert r_multi >= 0.15, r_multi


def test_balanced_mixture_actually_balances(spark, sf_dir):
    """o6's output strata must be near-equal (each hash-sampled toward
    the min stratum): every kept count within 2x of the smallest, and
    the dominant stratum visibly downsampled."""
    from hive_to_es_spark.registry import queries

    rows = queries()["o6_balanced_mixture"](spark, sf_dir).collect()
    kept = {r.lang: r.n_kept for r in rows}
    before = {r.lang: r.n_before for r in rows}
    assert len(kept) >= 3
    assert max(kept.values()) <= 2 * min(kept.values()), kept
    dominant = max(before, key=before.get)
    assert kept[dominant] < before[dominant]
    assert all(kept[l] <= before[l] for l in kept)


def test_ivf_recall_floors_and_nprobe_gain(spark, sf_dir):
    """IVF recall@10 vs exact ground truth over 20 query vectors —
    the s5/s11 counterpart of the LSH recall measurement (VERDICT r4
    item 4 asked for BOTH families). Observed at sf0.01: nprobe=1
    0.25, nprobe=2 0.415, nprobe=3 0.52; floors pinned below with
    margin, plus the structural claim that more probes help."""
    from hive_to_es_spark.operators.similarity import ivf_recall

    r1 = ivf_recall(spark, sf_dir, nprobe=1)
    r2 = ivf_recall(spark, sf_dir, nprobe=2)
    assert r2 > r1, (r1, r2)
    assert r1 >= 0.15, r1
    assert r2 >= 0.30, r2


def test_ivf_nprobe_dominates_single_cell(spark, sf_dir):
    """s11 (nprobe=2) searches a strict superset of s5's candidate
    pool, so its top-5 similarities must dominate s5's element-wise
    (sorted desc) — the structural guarantee behind 'more probes =
    more recall'."""
    from hive_to_es_spark.registry import queries

    qs = queries()
    s5 = sorted((r.cos_sim for r in qs["s5_ann_ivf"](spark, sf_dir).collect()), reverse=True)
    s11 = sorted((r.cos_sim for r in qs["s11_ann_ivf_nprobe"](spark, sf_dir).collect()), reverse=True)
    assert len(s11) == len(s5) == 5
    assert all(a >= b for a, b in zip(s11, s5)), (s11, s5)


def test_prefix_filter_prunes_and_stays_complete(spark, sf_dir):
    """d10's prefix blocking must generate STRICTLY fewer candidate
    pairs than d4's full-shingle blocking on the same input (that is
    its whole point at t=0.8), while finding exactly the pairs the
    cap-free full-blocking plan finds — completeness of the prefix
    filter, checked against an independent Spark plan on top of the
    DuckDB oracle gate."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.operators.dedup import shingle_rows
    from hive_to_es_spark.operators.dedup_ext import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
        prefix_jaccard_candidates,
    )
    from pyspark.sql import functions as F

    docs = load_tables(spark, sf_dir).documents
    sh = shingle_rows(docs)
    full_block = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    prefix_block = prefix_jaccard_candidates(docs, 0.8).count()
    assert prefix_block < full_block, (prefix_block, full_block)

    canon = lambda df: sorted(map(tuple, df.collect()))
    via_prefix = canon(prefix_filtered_jaccard_pairs(docs, 0.8))
    via_full = canon(ngram_jaccard_pairs(docs, threshold=0.8, df_cap=10**9))
    assert via_prefix == via_full
    assert via_prefix, "threshold too high: vacuous test data"


def test_minhash_prefilter_cuts_candidate_stream(spark, sf_dir):
    """d11's banded-MinHash prefilter must generate an order-of-
    magnitude smaller candidate stream than d4's full-shingle blocking
    on the same input (that is its whole point at t=0.2: 11.5k vs
    ~tens at sf0.01), while the verified output still equals the
    cap-free exact plan's — the recall claim, checked against an
    independent Spark plan on top of the DuckDB oracle gate."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.operators.dedup import shingle_rows
    from hive_to_es_spark.operators.dedup_ext import (
        minhash_candidate_pairs,
        minhash_verified_jaccard_pairs,
        ngram_jaccard_pairs,
    )
    from pyspark.sql import functions as F

    docs = load_tables(spark, sf_dir).documents
    sh = shingle_rows(docs)
    full_block = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    mh_block = minhash_candidate_pairs(sh).count()
    assert mh_block * 10 < full_block, (mh_block, full_block)

    canon = lambda df: sorted(map(tuple, df.collect()))
    via_minhash = canon(minhash_verified_jaccard_pairs(docs, 0.2))
    via_full = canon(ngram_jaccard_pairs(docs, threshold=0.2, df_cap=10**9))
    assert via_minhash == via_full
    assert via_minhash, "threshold too high: vacuous test data"


def test_release_checkpoint_frees_blocks(spark):
    """functions/lifecycle.py: a localCheckpoint'ed frame pins block-
    manager storage that GC never frees driver-side; release_checkpoint
    must free it (and is a no-op on non-checkpointed frames)."""
    from hive_to_es_spark.functions.lifecycle import (
        release_all_persistent,
        release_checkpoint,
    )

    sc = spark.sparkContext
    release_all_persistent(spark)  # clean slate

    def n_cached():
        return len(sc._jsc.sc().getRDDStorageInfo())

    base = n_cached()
    plain = spark.range(1000).selectExpr("id", "id * 2 AS y")
    assert release_checkpoint(plain) is False  # not a checkpoint: no-op
    ck = plain.localCheckpoint(eager=True)
    assert n_cached() == base + 1
    assert release_checkpoint(ck) is True
    assert n_cached() == base


def test_release_all_persistent_sweeps(spark):
    from hive_to_es_spark.functions.lifecycle import release_all_persistent

    sc = spark.sparkContext
    release_all_persistent(spark)
    a = spark.range(500).localCheckpoint(eager=True)
    b = spark.range(600).selectExpr("id AS x").persist()
    b.count()
    assert len(sc._jsc.sc().getRDDStorageInfo()) >= 2
    released = release_all_persistent(spark)
    assert released >= 2
    assert len(sc._jsc.sc().getRDDStorageInfo()) == 0
    # a persisted (non-checkpoint) frame can still recompute after release
    assert b.count() == 600


def test_page_assign_empty_and_tiny_inputs(spark):
    """page_assign (p6's engine): empty input yields zero batches with
    the right schema; a tiny input yields exact page bounds."""
    from hive_to_es_spark.operators.pipeline_ops import page_assign

    empty = spark.createDataFrame([], "k LONG")
    out = page_assign(empty, "k", 10, 4)
    assert out.columns == ["batch_id", "n_rows", "min_key", "max_key"]
    assert out.count() == 0

    tiny = spark.createDataFrame([(i,) for i in range(25)], "k LONG")
    rows = {r.batch_id: r for r in page_assign(tiny, "k", 10, 4).collect()}
    assert {b: (rows[b].n_rows, rows[b].min_key, rows[b].max_key) for b in sorted(rows)} == {
        0: (10, 0, 9),
        1: (10, 10, 19),
        2: (5, 20, 24),
    }


def test_shard_assign_packing_semantics(spark):
    """shard_assign (p12's engine): greedy start-offset packing —
    shards exceed budget by at most one straddling doc, an oversized
    doc still lands in exactly one shard, empty input yields zero
    shards, and every doc is assigned exactly once."""
    from hive_to_es_spark.operators.pipeline_ops import shard_assign, shard_assign_rows

    rows = [(1, 40), (2, 40), (3, 40), (4, 250), (5, 10), (6, 10)]
    df = spark.createDataFrame(rows, "k LONG, w LONG")
    out = {r.shard_id: r for r in shard_assign(df, "k", "w", 100, 4).collect()}
    # starts: 0,40,80,120,370,380 -> shards 0,0,0,1,3,3
    assert {b: (out[b].n_docs, out[b].total_weight) for b in sorted(out)} == {
        0: (3, 120),   # doc 3 straddles: shard 0 carries 120 > budget
        1: (1, 250),   # the oversized doc gets its own shard
        3: (2, 20),    # packing resumes at the next start offset
    }
    assert sum(r.n_docs for r in out.values()) == len(rows)

    empty = spark.createDataFrame([], "k LONG, w LONG")
    assert shard_assign(empty, "k", "w", 100, 4).count() == 0
    empty_rows = shard_assign_rows(empty, "k", "w", 100, 4)
    assert empty_rows.columns == ["k", "w", "shard_id"]
    assert empty_rows.count() == 0


def test_sketch_accuracy_error_bound(spark, sf_dir):
    """d13's reported |est - exact| must respect the MinHash variance
    bound: with k=8 hashes the standard error is sqrt(J(1-J)/8) <=
    0.177, so the MEAN absolute error across candidate pairs should
    sit well under 2 sigma and the estimate must not be biased (mean
    signed error near zero would need the signed column; here we pin
    the mean |err| and that exact==1 pairs estimate 1 exactly)."""
    from hive_to_es_spark.registry import queries

    rows = queries()["d13_sketch_accuracy"](spark, sf_dir).collect()
    assert rows, "banded candidates must exist on the fixture"
    mean_abs = sum(r.abs_err for r in rows) / len(rows)
    assert mean_abs <= 0.35, f"mean |err| {mean_abs:.3f} breaches 2-sigma-ish bound"
    for r in rows:
        if r.exact_jaccard == 1.0:
            assert r.est_jaccard == 1.0, (
                "identical shingle sets must produce identical signatures"
            )


def test_recall_report_exposes_bucket_occupancy_ceiling(spark, sf_dir):
    """s12 is an AUDIT: at sf0.01 a single 8-bit bucket holds ~2 of
    500 vectors, so recall@10 is occupancy-bounded near 0.2/query max
    (measured avg 0.04) — the op's value is reporting that honestly.
    Pin: nonzero (the bucket join does find true neighbors), within
    [0,1], one row per query, and every per-query recall is a
    multiple of 1/k (it counts set overlap)."""
    from hive_to_es_spark.registry import queries

    rows = queries()["s12_recall_report"](spark, sf_dir).collect()
    assert len(rows) == 10  # one per query vector (vec_id % 50 == 0)
    avg = sum(r.recall_at_k for r in rows) / len(rows)
    assert avg > 0.0, "LSH bucket search found no true neighbor at all"
    for r in rows:
        assert 0.0 <= r.recall_at_k <= 1.0
        assert abs(r.recall_at_k * 10 - r.n_overlap) < 1e-9


def test_o3_sample_is_seed_deterministic_and_rate_bounded(spark, sf_dir):
    """o3 is rows-only by design (PRNG streams differ per engine), but
    its BEHAVIOR is assertable (VERDICT r6 task 4):

    1. determinism — the same seed over the same source partitioning
       must return the exact same row set on a rerun (a sync pipeline
       re-running a sampled job must not ship a different sample);
    2. distribution — the realized rate is Binomial(N, 0.1), so it
       must sit within 4 sigma of 0.1 (false-positive odds ~1/16000);
    3. containment — sampling WITHOUT replacement: every sampled key
       exists in the source and appears at most once.
    """
    from hive_to_es_spark.registry import queries

    o3 = queries()["o3_sample"]
    got1 = sorted((r.l_orderkey, r.l_linenumber) for r in o3(spark, sf_dir).collect())
    got2 = sorted((r.l_orderkey, r.l_linenumber) for r in o3(spark, sf_dir).collect())
    assert got1 == got2, "same seed, same source -> must be the same sample"

    from hive_to_es_spark.io import load_tables

    li = load_tables(spark, sf_dir).lineitem
    n_total = li.count()
    rate = len(got1) / n_total
    sigma = (0.1 * 0.9 / n_total) ** 0.5
    assert abs(rate - 0.1) < 4 * sigma, (
        f"sample rate {rate:.4f} deviates from 0.1 beyond 4 sigma ({4 * sigma:.4f})"
    )

    # containment as a MULTISET: the fixture's (orderkey, linenumber)
    # pairs are not unique, so a sampled pair may legitimately appear
    # as often as the source carries it — but never more (that would
    # be sampling WITH replacement).
    from collections import Counter

    src = Counter(
        (r.l_orderkey, r.l_linenumber)
        for r in li.select("l_orderkey", "l_linenumber").collect()
    )
    over = {k: c for k, c in Counter(got1).items() if c > src[k]}
    assert not over, f"sampled rows exceed source multiplicity: {over}"


def test_s13_two_stage_rerank_recall_vs_exact(spark, sf_dir):
    """The quantize-then-rerank pipeline must recover (nearly) the
    exact answer: the int8 stage only risks dropping a true top-3
    neighbor if quantization error pushes it below the top-20 cut.
    Measured recall@3 vs the exact single-stage s7 is 1.0 at both
    fixture SFs; pin a floor of 0.9 to keep headroom for fixture
    regeneration while still catching a broken candidate cut."""
    from hive_to_es_spark.registry import queries

    exact = {
        (r.query_id, r.vec_id)
        for r in queries()["s7_knn_batch"](spark, sf_dir).collect()
    }
    got = {
        (r.query_id, r.vec_id)
        for r in queries()["s13_two_stage_rerank"](spark, sf_dir).collect()
    }
    assert exact, "exact baseline must be non-empty"
    assert len(exact & got) / len(exact) >= 0.9


def test_x14_canonical_groups_collapse_multiple_surface_forms(spark, sf_dir):
    """x14's reason to exist: distinct SURFACE urls must normalize
    into shared canonical groups. Guard against the vacuous-synthesis
    bug class (a variant selector correlated with the path class gives
    every group exactly one form, and then a normalize step that
    silently no-ops would still hash-verify)."""
    from hive_to_es_spark.registry import queries

    rows = queries()["x14_url_normalize"](spark, sf_dir).collect()
    multi = [r for r in rows if r.n_surface_forms >= 2]
    assert multi, "no canonical group collapses >1 surface form — synthesis vacuous"
    assert max(r.n_surface_forms for r in rows) >= 3


def test_o10_temperature_mix_upweights_low_resource_langs(spark, sf_dir):
    """o10's reason to exist: after temperature re-sampling, the
    dominant language's share must shrink toward (not grow from) its
    corpus share, and every language's keep-rate must match its ppm
    threshold within binomial noise. Guards against a vacuous quota
    (uniform thresholds would still hash-verify)."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    corpus = {
        r.lang: r.n
        for r in load_tables(spark, sf_dir)
        .documents.groupBy("lang")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    rows = queries()["o10_temperature_mix"](spark, sf_dir).collect()
    sel = {}
    thresh = {}
    for r in rows:
        sel[r.lang] = sel.get(r.lang, 0) + 1
        thresh[r.lang] = r.thresh_ppm
    total_c = sum(corpus.values())
    total_s = len(rows)
    assert set(thresh) == set(corpus), "some language selected zero docs"
    # thresholds must actually differ (the non-vacuity guard): the
    # biggest language gets the smallest keep-probability
    big = max(corpus, key=corpus.get)
    small = min(corpus, key=corpus.get)
    assert thresh[big] < thresh[small]
    # dominant language share strictly shrinks vs its corpus share
    assert sel[big] / total_s < corpus[big] / total_c
    # realized keep-rate tracks the ppm threshold (4-sigma binomial)
    for lang, c in corpus.items():
        p = thresh[lang] / 1_000_000
        sigma = (c * p * (1 - p)) ** 0.5
        assert abs(sel[lang] - c * p) <= 4 * sigma + 1


def test_w12_ewma_matches_direct_decay_sum(spark, sf_dir):
    """w12's integer ewma_x128 must equal the directly-computed
    sum(cents[n-j] * 2^(7-j)) on a handful of customers, and the
    first order of every customer must have ewma_x128 == cents*128
    (no leakage across the partition boundary)."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    out = {
        r.o_orderkey: r.ewma_x128
        for r in queries()["w12_ewma_decay"](spark, sf_dir).collect()
    }
    orders = (
        load_tables(spark, sf_dir)
        .orders.selectExpr(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .collect()
    )
    by_cust = {}
    for r in sorted(orders, key=lambda r: (r.o_custkey, r.o_orderdate, r.o_orderkey)):
        by_cust.setdefault(r.o_custkey, []).append(r)
    checked = 0
    for cust, seq in list(by_cust.items())[:50]:
        cents = [r.cents for r in seq]
        for n, r in enumerate(seq):
            expect = sum(
                cents[n - j] * (1 << (7 - j)) for j in range(min(n + 1, 8))
            )
            assert out[r.o_orderkey] == expect
            checked += 1
        assert out[seq[0].o_orderkey] == seq[0].cents * 128
    assert checked > 100


def test_t13_line_dedup_removes_shared_boilerplate_only(spark, sf_dir):
    """t13's full semantics recomputed in Python: corpus-frequent
    lines (df >= 3 distinct docs) disappear from EVERY document, rare
    lines survive, reassembly preserves order. Non-vacuity: some docs
    lose lines while others keep everything."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    docs = {
        r.doc_id: r.text
        for r in load_tables(spark, sf_dir).documents.select("doc_id", "text").collect()
    }

    def chunks(text):
        toks = text.split(" ")
        return [" ".join(toks[i : i + 3]) for i in range(0, len(toks), 3)]

    df = {}
    for text in docs.values():
        for line in set(chunks(text)):
            df[line] = df.get(line, 0) + 1
    boiler = {line for line, n in df.items() if n >= 3}
    assert boiler, "fixture has no boilerplate lines at df>=3 - test vacuous"

    rows = {r.doc_id: r for r in queries()["t13_line_dedup"](spark, sf_dir).collect()}
    assert set(rows) == set(docs)
    any_dropped = any_intact = False
    for doc_id, text in docs.items():
        cs = chunks(text)
        kept = [c for c in cs if c not in boiler]
        r = rows[doc_id]
        assert r.n_lines == len(cs)
        assert r.n_dropped == len(cs) - len(kept)
        assert r.cleaned_text == " ".join(kept)
        any_dropped = any_dropped or r.n_dropped > 0
        any_intact = any_intact or r.n_dropped == 0
    assert any_dropped and any_intact


def test_s14_mmr_diversifies_vs_pure_relevance(spark, sf_dir):
    """s14's reason to exist: for at least one query the MMR-selected
    set must differ from the pure-relevance top-5 (otherwise the
    diversity term is vacuous), rank-1 must equal the relevance
    argmax (MMR step 1 is pure relevance), and within each query the
    selected set's max pairwise similarity must not exceed that of
    the relevance top-5 it replaced."""
    from hive_to_es_spark.operators.similarity import (
        _S14_N_QUERIES,
        _dbl,
        _dot,
        _norm,
    )
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries
    from pyspark.sql import functions as F

    rows = queries()["s14_mmr_rerank"](spark, sf_dir).collect()
    sel = {}
    for r in rows:
        sel.setdefault(r.query_id, {})[r.rank] = r.vec_id
    assert set(sel) == set(range(_S14_N_QUERIES))
    assert all(len(v) == 5 for v in sel.values())

    e = load_tables(spark, sf_dir).embeddings
    q = e.filter(F.col("vec_id") < _S14_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _dbl("embedding").alias("qv"),
        _norm(_dbl("embedding")).alias("nq"),
    )
    c = e.select(
        "vec_id", _dbl("embedding").alias("ev"), _norm(_dbl("embedding")).alias("nc")
    )
    rel = _dot(F.col("ev"), F.col("qv")) / (F.col("nc") * F.col("nq"))
    rel_rows = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(rel * 1_000_000).cast("bigint").alias("rel_u"),
        )
        .collect()
    )
    by_q = {}
    for r in rel_rows:
        by_q.setdefault(r.query_id, []).append((-r.rel_u, r.vec_id))
    top5 = {qid: [v for _, v in sorted(lst)[:5]] for qid, lst in by_q.items()}
    # step 1 is pure relevance
    for qid in sel:
        assert sel[qid][1] == top5[qid][0]
    # the diversity term must bite somewhere
    assert any(
        set(sel[qid].values()) != set(top5[qid]) for qid in sel
    ), "MMR chose exactly the relevance top-5 for every query - diversity vacuous"


def test_s14_mmr_selected_set_less_redundant(spark, sf_dir):
    """Where MMR's set differs from the relevance top-5, its MEAN
    intra-set cosine must be strictly lower (the max pair can be
    inherited unchanged from the forced early picks, so the mean is
    the redundancy aggregate the greedy provably reduces) — and never
    higher anywhere."""
    import numpy as np

    from hive_to_es_spark.operators.similarity import _S14_N_QUERIES
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = queries()["s14_mmr_rerank"](spark, sf_dir).collect()
    sel = {}
    for r in rows:
        sel.setdefault(r.query_id, set()).add(r.vec_id)
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load_tables(spark, sf_dir).embeddings.collect()
    }

    def cos(a, b):
        return float(emb[a] @ emb[b] / (np.linalg.norm(emb[a]) * np.linalg.norm(emb[b])))

    def mean_pair(ids):
        ids = sorted(ids)
        ps = [cos(x, y) for i, x in enumerate(ids) for y in ids[i + 1 :]]
        return sum(ps) / len(ps)

    diverged = 0
    for qid in range(_S14_N_QUERIES):
        rels = sorted(
            ((cos(qid, v), -v) for v in emb if v != qid), reverse=True
        )[:5]
        rel_top5 = {-nv for _, nv in rels}
        if sel[qid] != rel_top5:
            diverged += 1
            assert mean_pair(sel[qid]) < mean_pair(rel_top5)
    assert diverged >= 1


def test_s14_mmr_single_candidate_pool_emits_anchor(spark):
    """A query whose candidate pool has exactly ONE member produces
    zero self-pair rows; the greedy must still emit its rank-1 anchor
    (the oracle's recursive-CTE base case comes from cands alone, so a
    pairs-only plan silently drops such queries — the ADVICE r7
    divergence). Pool-of-one query 100 must yield one row with
    score = 7*rel_u; pool-of-three query 200 exhausts at 3 < k_out."""
    from hive_to_es_spark.operators.similarity import _mmr_rerank_from_cands

    cands = spark.createDataFrame(
        [
            (100, 7, 900_000, [1.0, 0.0], 1.0),
            (200, 1, 800_000, [1.0, 0.0], 1.0),
            (200, 2, 700_000, [0.0, 1.0], 1.0),
            (200, 3, 600_000, [1.0, 0.0], 1.0),
        ],
        "query_id LONG, vec_id LONG, rel_u LONG, ev ARRAY<DOUBLE>, nc DOUBLE",
    )
    rows = _mmr_rerank_from_cands(cands, k_out=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.rank] = r
    assert set(by_q) == {100, 200}, "single-candidate query must not vanish"
    assert list(by_q[100]) == [1]
    assert by_q[100][1].vec_id == 7
    assert by_q[100][1].score_x1e7 == 7 * 900_000
    # pool of 3 exhausts after 3 picks; rank-1 is the relevance argmax
    assert sorted(by_q[200]) == [1, 2, 3]
    assert by_q[200][1].vec_id == 1


def test_d14_canonical_is_best_quality_not_min_id(spark, sf_dir):
    """d14's reason to exist over d12's min-id rule: the canonical
    copy must hold the group-max n_chars (doc_id tiebreak), the
    grouping must be exactly d12's partition of the corpus, and for
    at least one group the quality winner must NOT be the min id
    (otherwise the election is indistinguishable from d12)."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    d14 = queries()["d14_canonical_pick"](spark, sf_dir).collect()
    d12 = queries()["d12_dup_groups_hybrid"](spark, sf_dir).collect()
    nchars = {
        r.doc_id: r.n_chars
        for r in load_tables(spark, sf_dir).documents.select("doc_id", "n_chars").collect()
    }
    group_of = {r.doc_id: r.group_id for r in d12}
    by_group = {}
    for r in d14:
        by_group.setdefault(group_of[r.doc_id], []).append(r)
    assert len(d14) == len(d12)
    diverged = 0
    for gid, members in by_group.items():
        canon_ids = {r.canonical_id for r in members}
        assert len(canon_ids) == 1, f"group {gid} disagrees on canonical"
        canon = canon_ids.pop()
        ids = [r.doc_id for r in members]
        assert canon in ids
        best = min(ids, key=lambda i: (-nchars[i], i))
        assert canon == best
        assert all(r.group_size == len(ids) for r in members)
        assert sum(r.is_canonical for r in members) == 1
        if len(ids) > 1 and canon != min(ids):
            diverged += 1
    assert diverged >= 1, "keep-longest never disagreed with min-id - election vacuous"


def test_w13_funnel_stages_populated_and_consistent(spark, sf_dir):
    """w13's attribution windows must produce a non-degenerate stage
    distribution (every stage 1-3 populated — three independent mins
    would put everyone at 3), and per user the timestamps must
    witness the claimed stage: stage>=2 implies a conversion click
    after a view within 4 h; stage 3 implies a purchase within 24 h
    of a qualified click."""
    from hive_to_es_spark.registry import queries

    rows = queries()["w13_funnel"](spark, sf_dir).collect()
    dist = {}
    for r in rows:
        dist[r.funnel_stage] = dist.get(r.funnel_stage, 0) + 1
    assert set(dist) >= {1, 2, 3}, dist
    assert all(dist[s] >= 5 for s in (1, 2, 3)), dist
    for r in rows:
        if r.funnel_stage >= 1:
            assert r.t_first_view is not None
        if r.funnel_stage >= 2:
            assert r.t_first_conv_click is not None
            assert r.t_first_conv_click > r.t_first_view
        else:
            assert r.t_first_conv_click is None
        if r.funnel_stage == 3:
            assert r.t_first_conv_purchase is not None
            assert r.t_first_conv_purchase > r.t_first_conv_click
        else:
            assert r.t_first_conv_purchase is None


def test_d15_subsumption_matches_blocked_python_model(spark, sf_dir):
    """d15 vs an engine-independent Python replay of its full contract
    (3-word shingles with the short-doc partial, df-cap, min-md5
    block, strict-shorter verbatim containment). Also proves the
    fixture is non-vacuous: the corpus must contain at least one
    word-aligned subsumption pair, and at least one must survive the
    blocking so the op is exercised end-to-end."""
    import hashlib

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    docs = {
        r.doc_id: r.text.lower()
        for r in load_tables(spark, sf_dir).documents.select("doc_id", "text").collect()
    }

    def shingles(t):
        w = t.split(" ")
        n = max(len(w) - 2, 1)
        return {" ".join(w[i : i + 3]) for i in range(n)}

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    sh = {i: shingles(t) for i, t in docs.items()}
    df = {}
    for ss in sh.values():
        for s in ss:
            df[s] = df.get(s, 0) + 1
    capped = {i: {md5(s) for s in ss if df[s] <= 1000} for i, ss in sh.items()}
    owners = {}
    for i, hs in capped.items():
        for h in hs:
            owners.setdefault(h, set()).add(i)
    expect = set()
    for a, hs in capped.items():
        if not hs:
            continue
        for b in owners.get(min(hs), ()):
            if b != a and len(docs[a]) < len(docs[b]) and docs[a] in docs[b]:
                expect.add((a, b))
    got = {
        (r.contained_id, r.container_id): (r.n_chars_contained, r.n_chars_container)
        for r in queries()["d15_subsumed_docs"](spark, sf_dir).collect()
    }
    assert set(got) == expect
    assert len(got) > 0, "fixture has no subsumption pairs — op untested"
    for (a, b), (na, nb) in got.items():
        assert (na, nb) == (len(docs[a]), len(docs[b]))


def test_j17_lerp_matches_python_floor_model(spark, sf_dir):
    """j17 vs a bisect-based Python model using true floor division
    (Python //). Proves: bracketing picks the right neighbors, probes
    without both brackets drop, and the emulated floor division
    matches Python's on NEGATIVE slopes — plus non-vacuity: the
    fixture must actually contain a case where floor != truncate
    (otherwise the floor emulation is untested) and at least one
    dropped probe."""
    import bisect

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    ev = [
        (r.event_id, r.user_id, r.event_type, r.us, r.cents)
        for r in load_tables(spark, sf_dir)
        .events.filter(F.col("ts").isNotNull())
        .select(
            "event_id", "user_id", "event_type",
            F.unix_micros("ts").alias("us"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .collect()
        if r.event_type in ("view", "purchase")
    ]
    purch = {}
    for eid, uid, et, us, cents in ev:
        if et == "purchase" and cents is not None:
            purch.setdefault(uid, []).append((us, eid, cents))
    for v in purch.values():
        v.sort()
    expect, n_floor_cases, n_dropped = {}, 0, 0
    for eid, uid, et, us, cents in ev:
        if et != "view":
            continue
        ps = purch.get(uid, [])
        i = bisect.bisect_right(ps, (us, float("inf"), 0))
        if i == 0 or i == len(ps):
            n_dropped += 1
            continue
        (t0, _, v0), (t1, _, v1) = ps[i - 1], ps[i]
        nmr, dnm = (v1 - v0) * (us - t0), t1 - t0
        lerp = v0 + nmr // dnm
        # floor != truncate exactly when the numerator is negative and
        # the division is inexact (dnm > 0 always). Pure-integer test:
        # float `int(nmr/dnm)` would misclassify above 2^53.
        if nmr < 0 and nmr % dnm != 0:
            n_floor_cases += 1
        expect[eid] = (uid, us, t0, v0, t1, v1, lerp)
    got = {
        r.event_id: (
            r.user_id, r.us, r.prev_us, r.prev_cents,
            r.next_us, r.next_cents, r.lerp_cents,
        )
        for r in queries()["j17_lerp_join"](spark, sf_dir).collect()
    }
    assert got == expect
    assert n_floor_cases > 0, "no negative-slope inexact division in fixture"
    assert n_dropped > 0, "no unbracketed probe in fixture"


def test_o11_dup_aware_sample_matches_python_model(spark, sf_dir):
    """o11 vs a Python replay of its whole contract (8-word-prefix
    grouping, o4 ppm draw, floor(1e6/g) threshold). Non-vacuity: the
    fixture must contain multi-doc prefix groups, at least one doc
    must be dropped (a dup that lost its draw), and at least one
    multi-doc group must still have a survivor."""
    import hashlib

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    docs = {
        r.doc_id: r.text.lower()
        for r in load_tables(spark, sf_dir).documents.select("doc_id", "text").collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    groups = {}
    for i, t in docs.items():
        groups.setdefault(md5(" ".join(t.split(" ")[:8])), []).append(i)
    expect = {}
    for members in groups.values():
        g = len(members)
        for i in members:
            if int(md5(str(i))[:15], 16) % 1_000_000 < 1_000_000 // g:
                expect[i] = g
    got = {
        r.doc_id: r.group_size
        for r in queries()["o11_dup_aware_sample"](spark, sf_dir).collect()
    }
    assert got == expect
    assert any(len(m) > 1 for m in groups.values()), "no dup groups"
    assert len(got) < len(docs), "nothing dropped — thinning untested"
    assert any(g > 1 for g in got.values()), "no multi-doc group survivor"


def test_a21_quantiles_are_exact_dataset_values(spark, sf_dir):
    """a21 vs Python's sorted-list type-1 quantile (value at ceil(n*q)
    1-indexed): every reported quantile must be that exact dataset
    value. (On this fixture's dense integer domain the interpolated
    answer happens to coincide at these percentiles — the histogram
    plan's exactness is structural, all-integer picks — so the model
    equality, not an interpolation-divergence probe, is the test.)"""
    import math

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    vals = {}
    for r in (
        load_tables(spark, sf_dir).lineitem.select("l_returnflag", "l_quantity").collect()
    ):
        vals.setdefault(r.l_returnflag, []).append(int(r.l_quantity))
    got = {r.l_returnflag: r for r in queries()["a21_exact_quantile_hist"](spark, sf_dir).collect()}
    assert set(got) == set(vals)
    for flag, xs in vals.items():
        xs.sort()
        n = len(xs)
        row = got[flag]
        assert row.n_rows == n
        for q in (25, 50, 75, 99):
            assert getattr(row, f"q{q}") == xs[math.ceil(n * q / 100) - 1]


def test_w14_zscore_matches_python_model(spark, sf_dir):
    """w14 vs a Python replay of the integer z^2 contract (trailing
    <=6-order baseline, current excluded, n>=4, (n*x-S)^2 > 9(n*SS-S^2)).
    Non-vacuity: outliers in BOTH directions, and at least one row
    with a full baseline that is NOT flagged (the filter discriminates)."""
    from collections import defaultdict

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = (
        load_tables(spark, sf_dir)
        .orders.filter(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .collect()
    )
    by_cust = defaultdict(list)
    for r in rows:
        by_cust[r.o_custkey].append(
            (r.o_orderdate, r.o_orderkey, round(r.o_totalprice * 100))
        )
    expect = {}
    n_full_unflagged = 0
    for cust, orders in by_cust.items():
        orders.sort()
        cents = [c for _, _, c in orders]
        for i, (_, okey, x) in enumerate(orders):
            base = cents[max(0, i - 6) : i]
            n, s1, s2 = len(base), sum(base), sum(c * c for c in base)
            if n >= 4 and (n * x - s1) ** 2 > 9 * (n * s2 - s1 * s1):
                expect[okey] = (cust, x, n, 1 if n * x - s1 > 0 else -1)
            elif n >= 4:
                n_full_unflagged += 1
    got = {
        r.o_orderkey: (r.o_custkey, r.cents, r.n_base, r.direction)
        for r in queries()["w14_rolling_zscore"](spark, sf_dir).collect()
    }
    assert got == expect
    dirs = {d for _, _, _, d in got.values()}
    assert dirs == {1, -1}, "need outliers in both directions"
    assert n_full_unflagged > 0, "every full-baseline row flagged — vacuous"


def test_o12_upsample_matches_python_model(spark, sf_dir):
    """o12 vs a Python replay of the quota math (parity with the
    largest lang, 4-epoch cap, md5-ppm fractional copy). Non-vacuity:
    the dominant lang stays at exactly 1 copy, some lang reaches >=2
    copies, and the fractional draw goes BOTH ways within one lang."""
    import hashlib
    from collections import Counter, defaultdict

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    docs = [
        (r.doc_id, r.lang)
        for r in load_tables(spark, sf_dir).documents.select("doc_id", "lang").collect()
    ]
    census = Counter(lang for _, lang in docs)
    mc = max(census.values())
    wppm = {l: min((mc * 1_000_000) // c, 4_000_000) for l, c in census.items()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    expect = {}
    for doc_id, lang in docs:
        w = wppm[lang]
        n = w // 1_000_000 + (
            1 if int(md5(str(doc_id))[:15], 16) % 1_000_000 < w % 1_000_000 else 0
        )
        expect[doc_id] = (lang, n)
    got = defaultdict(set)
    langs = {}
    for r in queries()["o12_epoch_upsample"](spark, sf_dir).collect():
        got[r.doc_id].add(r.copy_idx)
        langs[r.doc_id] = r.lang
    assert {i: (langs[i], len(got[i])) for i in got} == expect
    for copies in got.values():  # contiguous 1..n, no gaps or dups
        assert copies == set(range(1, len(copies) + 1))
    per_lang = defaultdict(set)
    for doc_id, (lang, n) in expect.items():
        per_lang[lang].add(n)
    top_lang = max(census, key=lambda l: census[l])
    assert per_lang[top_lang] == {1}, "dominant lang must not be upsampled"
    assert any(max(ns) >= 2 for ns in per_lang.values()), "no lang upsampled"
    assert any(len(ns) > 1 for ns in per_lang.values()), (
        "fractional draw never split within a lang — frac path untested"
    )
    assert all(n <= 4 for _, n in expect.values()), "4-epoch cap violated"


def test_t14_contamination_matches_python_model(spark, sf_dir):
    """t14 vs a Python replay of the graded-overlap contract (distinct
    3-gram shingles incl. the partial tail, eval = doc_id % 29, integer
    ppm buckets). Non-vacuity: all three actions occur, and both
    zero-hit and full-overlap docs exist."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    docs = {
        r.doc_id: r.text.lower()
        for r in load_tables(spark, sf_dir).documents.select("doc_id", "text").collect()
    }

    def shingles(text):
        words = text.split(" ")
        return {
            " ".join(words[i : i + 3]) for i in range(max(len(words) - 2, 1))
        }

    eval_set = set()
    for i, t in docs.items():
        if i % 29 == 0:
            eval_set |= shingles(t)
    expect = {}
    for i, t in docs.items():
        if i % 29 == 0:
            continue
        sh = shingles(t)
        hits = len(sh & eval_set)
        ppm = hits * 1_000_000 // len(sh)
        action = "drop" if ppm >= 500_000 else "review" if ppm >= 100_000 else "keep"
        expect[i] = (len(sh), hits, ppm, action)
    got = {
        r.doc_id: (r.n_shingles, r.n_hits, r.overlap_ppm, r.action)
        for r in queries()["t14_contamination_score"](spark, sf_dir).collect()
    }
    assert got == expect
    actions = {a for _, _, _, a in got.values()}
    assert actions == {"keep", "review", "drop"}, f"buckets unexercised: {actions}"
    assert any(h == 0 for _, h, _, _ in got.values()), "no clean doc"
    assert any(h > 0 for _, h, _, _ in got.values()), "no contaminated doc"


def test_w15_interval_merge_matches_python_model(spark, sf_dir):
    """w15 vs a Python sweep-line replay (sort by start, island closes
    when start > running max end). Non-vacuity: multi-event islands
    exist, AND at least one merge happens where the bridging interval
    is not the latest-starting one (the containment case a lag(end)
    formulation gets wrong)."""
    from collections import defaultdict

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = (
        load_tables(spark, sf_dir)
        .events.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .selectExpr(
            "user_id",
            "event_id",
            "unix_micros(ts) AS s",
            "unix_micros(ts) + CAST(round(value * 60 * 1000000) AS BIGINT) AS e",
        )
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.s, r.event_id, r.e))
    expect = {}
    n_containment_bridges = 0
    for uid, ivs in by_user.items():
        ivs.sort()
        island, prev_max, islands = 0, None, defaultdict(list)
        for s, eid, e in ivs:
            if prev_max is None or s > prev_max:
                island += 1
            islands[island].append((s, e))
            prev_max = e if prev_max is None else max(prev_max, e)
        for isl, members in islands.items():
            expect[(uid, isl)] = (
                len(members),
                min(s for s, _ in members),
                max(e for _, e in members),
            )
    # containment probe: a merge where prev interval's end < running max
    for uid, ivs in by_user.items():
        ivs.sort()
        prev_max, prev_e = None, None
        for s, eid, e in ivs:
            # the case lag(end) gets WRONG: start is past the previous
            # interval's end but still inside the running max
            if prev_max is not None and prev_e < s <= prev_max:
                n_containment_bridges += 1
            prev_e = e
            prev_max = e if prev_max is None else max(prev_max, e)
    got = {
        (r.user_id, r.island_id): (r.n_events, r.island_start_us, r.island_end_us)
        for r in queries()["w15_interval_merge"](spark, sf_dir).collect()
    }
    assert got == expect
    assert any(n > 1 for n, _, _ in got.values()), "no merged islands"
    assert n_containment_bridges > 0, (
        "no containment bridge — the running-max-vs-lag distinction untested"
    )


def test_p23_profile_matches_python_model(spark, sf_dir):
    """p23 vs a Python replay over the collected table. Non-vacuity:
    ndv must discriminate (doc_id unique, lang tiny) and text min/max
    must be genuine strings."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = load_tables(spark, sf_dir).documents.collect()
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    expect = {}
    for c in cols:
        vals = [getattr(r, c) for r in rows]
        nn = [v for v in vals if v is not None]
        expect[c] = (
            len(set(nn)),
            len(vals) - len(nn),
            str(min(nn)),
            str(max(nn)),
            sum(len(str(v)) for v in nn),
        )
    got = {
        r.col_name: (r.ndv, r.n_nulls, r.min_val, r.max_val, r.total_len)
        for r in queries()["p23_table_profile"](spark, sf_dir).collect()
    }
    assert got == expect
    assert got["doc_id"][0] == len(rows), "doc_id must be unique"
    assert got["lang"][0] < 10 < got["text"][0], "ndv not discriminating"


def test_m7_neardup_matches_bruteforce_and_pigeonhole_is_exact(spark, sf_dir):
    """m7 vs brute-force all-pairs hamming over the m6 signatures —
    proves the 2-band pigeonhole candidate generation misses nothing.
    Non-vacuity: both hamming=0 and hamming=1 pairs exist (the XOR
    path is exercised, not just signature equality)."""
    from itertools import combinations

    from hive_to_es_spark.registry import queries

    sigs = {
        r.doc_id: (r.width, r.height, r.sig_cols * 256 + r.sig_rows)
        for r in queries()["m6_image_signature"](spark, sf_dir).collect()
    }
    expect = {}
    for a, b in combinations(sorted(sigs), 2):
        wa, ha, sa = sigs[a]
        wb, hb, sb = sigs[b]
        if wa == wb and ha == hb:
            ham = bin(sa ^ sb).count("1")
            if ham <= 1:
                expect[(a, b)] = (wa, ha, ham)
    got = {
        (r.doc_a, r.doc_b): (r.width, r.height, r.hamming)
        for r in queries()["m7_image_neardup"](spark, sf_dir).collect()
    }
    assert got == expect
    hams = {h for _, _, h in got.values()}
    assert hams == {0, 1}, f"hamming classes unexercised: {hams}"


def test_a22_trend_slope_matches_python_model(spark, sf_dir):
    """a22 vs an exact integer replay of the rational OLS slope.
    Non-vacuity: both rising and falling trends exist, and at least
    one customer is excluded for den=0 (all orders on one day) or
    has n_orders == 1."""
    from collections import defaultdict
    from datetime import date

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = (
        load_tables(spark, sf_dir)
        .orders.filter(F.col("o_orderdate").isNotNull())
        .selectExpr(
            "o_custkey",
            "CAST(o_orderdate AS DATE) AS d",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS y",
        )
        .collect()
    )
    base = date(1992, 1, 1)
    acc = defaultdict(lambda: [0, 0, 0, 0, 0])  # n, sx, sy, sxy, sxx
    for r in rows:
        x = (r.d - base).days
        a = acc[r.o_custkey]
        a[0] += 1
        a[1] += x
        a[2] += r.y
        a[3] += x * r.y
        a[4] += x * x
    expect = {}
    n_excluded = 0
    for ck, (n, sx, sy, sxy, sxx) in acc.items():
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        if den > 0:
            expect[ck] = (n, num, den, (num > 0) - (num < 0))
        else:
            n_excluded += 1
    got = {
        r.o_custkey: (r.n_orders, r.slope_num, r.slope_den, r.direction)
        for r in queries()["a22_trend_slope"](spark, sf_dir).collect()
    }
    assert got == expect
    dirs = {d for _, _, _, d in got.values()}
    assert {1, -1} <= dirs, f"trend directions unexercised: {dirs}"
    assert n_excluded > 0, "den=0 exclusion branch vacuous"


def test_w16_seq_pattern_matches_python_model(spark, sf_dir):
    """w16 vs Python re over the replayed journey (Python re and Java
    regex agree on this unambiguous pattern by construction).
    Non-vacuity: conversions exist AND some user has purchases that
    did NOT convert (no preceding unconsumed view)."""
    import re
    from collections import defaultdict

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = (
        load_tables(spark, sf_dir)
        .events.filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type[0]))
    expect = {}
    for uid, evs in by_user.items():
        evs.sort()
        j = "".join(ch for _, _, ch in evs)
        expect[uid] = (
            len(j),
            j.count("p"),
            len(re.findall("v[^p]*p", j)),
        )
    got = {
        r.user_id: (r.n_events, r.n_purchases, r.n_conversions)
        for r in queries()["w16_seq_pattern"](spark, sf_dir).collect()
    }
    assert got == expect
    assert any(c > 0 for _, _, c in got.values()), "no conversions"
    assert any(p > c for _, p, c in got.values()), "no unattributed purchase"


def test_p24_scd2_build_matches_python_model(spark, sf_dir):
    """p24 vs a Python replay of change-suppressed SCD2 versioning.
    Non-vacuity: no-op suppressions happen, multi-version users exist,
    and every user has exactly one is_current=1 row whose valid_to is
    NULL; consecutive kept versions chain valid_to == next valid_from."""
    from collections import defaultdict

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = (
        load_tables(spark, sf_dir)
        .events.filter((F.col("event_type") == "signup") & F.col("ts").isNotNull())
        .selectExpr(
            "user_id",
            "event_id",
            "unix_micros(ts) AS vf",
            "CAST(floor(value / 20) AS BIGINT) AS tier",
        )
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.vf, r.event_id, r.tier))
    expect, n_suppressed = {}, 0
    for uid, evs in by_user.items():
        evs.sort(key=lambda t: (t[0], t[1]))
        kept = []
        for i, (vf, eid, tier) in enumerate(evs):
            if i == 0 or tier != kept[-1][2]:
                kept.append((vf, eid, tier))
            else:
                n_suppressed += 1
        for v, (vf, eid, tier) in enumerate(kept, start=1):
            nxt = kept[v][0] if v < len(kept) else None
            expect[(uid, v)] = (eid, tier, vf, nxt, 1 if nxt is None else 0)
    got = {
        (r.user_id, r.version_n): (
            r.signup_id,
            r.tier,
            r.valid_from_us,
            r.valid_to_us,
            r.is_current,
        )
        for r in queries()["p24_scd2_build"](spark, sf_dir).collect()
    }
    assert got == expect
    assert n_suppressed > 0, "no-op suppression branch vacuous"
    per_user = defaultdict(int)
    for (uid, _), (_, _, _, vt, cur) in got.items():
        per_user[uid] += cur
        assert (vt is None) == (cur == 1)
    assert all(c == 1 for c in per_user.values())
    assert any(v > 1 for _, v in got), "no multi-version user"


def test_o13_group_split_is_leakage_free(spark, sf_dir):
    """Every 8-word-prefix group must land ENTIRELY in one split (the
    op's whole point vs o5), splits must follow the group-hash 90/5/5
    draw, and multi-doc groups must exist so the guarantee is not
    vacuous (a row-level split would also pass on singleton groups)."""
    from collections import defaultdict

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    out = queries()["o13_group_split"](spark, sf_dir)
    rows = out.collect()
    from hive_to_es_spark.operators.sort_set import prefix_fingerprint

    docs = (
        load_tables(spark, sf_dir)
        .documents.select("doc_id", prefix_fingerprint().alias("gkey"))
        .collect()
    )
    gkey_of = {r.doc_id: r.gkey for r in docs}
    splits_per_group = defaultdict(set)
    sizes = defaultdict(int)
    for r in rows:
        splits_per_group[gkey_of[r.doc_id]].add(r.split)
        sizes[gkey_of[r.doc_id]] += 1
    assert all(len(s) == 1 for s in splits_per_group.values()), "split leakage"
    for r in rows:
        assert r.group_size == sizes[gkey_of[r.doc_id]]
    assert any(n > 1 for n in sizes.values()), "no multi-doc group: vacuous"
    assert {r.split for r in rows} == {"train", "val", "test"}


def test_w17_retention_cohorts_matches_python_model(spark, sf_dir):
    """w17 vs a Python replay. Non-vacuity: several cohorts exist and
    retention extends past offset 0."""
    from collections import defaultdict

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = (
        load_tables(spark, sf_dir)
        .orders.filter(F.col("o_orderdate").isNotNull())
        .selectExpr("o_custkey", "CAST(o_orderdate AS DATE) AS d")
        .collect()
    )
    months = defaultdict(list)
    for r in rows:
        months[r.o_custkey].append((r.d.year - 1992) * 12 + r.d.month - 1)
    agg = defaultdict(lambda: [set(), 0])
    for ck, ms in months.items():
        cohort = min(ms)
        for m in ms:
            cell = agg[(cohort, m - cohort)]
            cell[0].add(ck)
            cell[1] += 1
    expect = {k: (len(us), n) for k, (us, n) in agg.items()}
    got = {
        (r.cohort_month, r.month_offset): (r.n_active, r.n_orders)
        for r in queries()["w17_retention_cohorts"](spark, sf_dir).collect()
    }
    assert got == expect
    assert len({c for c, _ in got}) > 3, "too few cohorts"
    assert any(off > 12 for _, off in got), "no long-horizon retention cell"


def test_j18_bloom_prefilter_reduces_without_false_negatives(spark, sf_dir):
    """The bloom candidate stream must contain EVERY true match (no
    false negatives — guaranteed by building and probing with the same
    hashes, measured here) while killing the vast majority of the fact
    stream scan-side; false positives must stay rare enough that the
    exact semi join above it is cheap."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.operators.joins import _bloom_build, _bloom_probe

    t = load_tables(spark, sf_dir)
    dim = t.customer.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000)
    ).select("c_custkey")
    n_orders = t.orders.count()
    cand = _bloom_probe(t.orders, _bloom_build(dim, "c_custkey"), "o_custkey")
    n_cand = cand.count()
    exact = t.orders.join(
        dim, t.orders["o_custkey"] == dim["c_custkey"], "left_semi"
    )
    n_exact = exact.count()
    # no false negatives: every exact match is in the candidate set
    n_missed = exact.join(
        cand.select("o_orderkey"), "o_orderkey", "left_anti"
    ).count()
    assert n_missed == 0
    assert n_exact > 0, "dim filter matched nothing: vacuous"
    assert n_cand >= n_exact
    assert n_cand < n_orders // 10, f"no reduction: {n_cand}/{n_orders}"
    assert n_cand - n_exact < max(1, n_orders // 100), (
        f"fp rate too high: {n_cand - n_exact} of {n_orders}"
    )


def test_s15_pq_rerank_recall_floor(spark, sf_dir):
    """s15's two-stage answer vs the full exact integer-L2 scan:
    recall@10 must clear 0.7 (measured 1.0 at sf0.01 / 0.8 at sf0.1 —
    the one-stage ADC ranking alone measures 0.2–0.5 here, so the
    re-rank is doing real work), and the distances it emits must BE
    the exact distances (equal to the brute-force values for every
    returned id)."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    e = load_tables(spark, sf_dir).embeddings
    iv = e.selectExpr(
        "vec_id",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000)"
        " AS BIGINT)) AS v",
    )
    qv = iv.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    exact = (
        iv.crossJoin(F.broadcast(qv))
        .selectExpr(
            "vec_id",
            "aggregate(zip_with(v, q, (x, y) -> (x-y)*(x-y)),"
            " CAST(0 AS BIGINT), (s, x) -> s + x) AS l2_dist",
        )
        .orderBy("l2_dist", "vec_id")
        .limit(10)
        .collect()
    )
    exact_dist = {r.vec_id: r.l2_dist for r in exact}
    got = queries()["s15_ann_pq"](spark, sf_dir).collect()
    got_ids = [r.vec_id for r in got]
    assert len(got_ids) == 10
    recall = len(set(got_ids) & set(exact_dist)) / 10
    assert recall >= 0.7, f"recall@10 {recall} below floor"
    for r in got:
        if r.vec_id in exact_dist:
            assert r.l2_dist == exact_dist[r.vec_id], "re-rank not exact"
    assert got[0].vec_id == 0 and got[0].l2_dist == 0, "query not its own NN"


def test_w18_twap_matches_python_model(spark, sf_dir):
    """w18 vs an exact integer replay. Non-vacuity: TWAP must differ
    from the plain average for some user (else the weighting is
    decorative)."""
    from collections import defaultdict

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = (
        load_tables(spark, sf_dir)
        .events.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .selectExpr(
            "user_id",
            "unix_micros(ts) AS us",
            "CAST(round(value * 100) AS BIGINT) AS cents",
        )
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.us, r.cents))
    expect = {}
    weighting_matters = False
    for uid, evs in by_user.items():
        evs.sort(key=lambda t: t[0])
        segs = [
            (c, evs[i + 1][0] - us)
            for i, (us, c) in enumerate(evs[:-1])
            if evs[i + 1][0] - us > 0
        ]
        if not segs:
            continue
        num = sum(c * d for c, d in segs)
        den = sum(d for _, d in segs)
        expect[uid] = (len(segs), num, den)
        # plain mean of segment values vs duration-weighted mean
        if num * len(segs) != sum(c for c, _ in segs) * den:
            weighting_matters = True
    got = {
        r.user_id: (r.n_segments, r.twap_num, r.twap_den)
        for r in queries()["w18_twap"](spark, sf_dir).collect()
    }
    assert got == expect
    assert weighting_matters, "TWAP == plain mean everywhere: vacuous"


def test_w19_drawdown_matches_python_model(spark, sf_dir):
    """w19 vs a Python replay of the signed backlog series. Both
    regimes must be populated: customers with strictly positive max
    drawdown (a fulfilled order after a peak) AND monotone customers
    whose drawdown is exactly 0."""
    from collections import defaultdict

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = (
        load_tables(spark, sf_dir)
        .orders.filter(F.col("o_orderdate").isNotNull())
        .selectExpr(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            "CASE WHEN o_orderstatus = 'F' THEN -1 ELSE 1 END"
            " * CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .collect()
    )
    by_cust = defaultdict(list)
    for r in rows:
        by_cust[r.o_custkey].append((r.o_orderdate, r.o_orderkey, r.cents))
    expect = {}
    for ck, evs in by_cust.items():
        evs.sort(key=lambda t: (t[0], t[1]))
        bal = peak_all = 0
        peak = None
        dd = 0
        for _, _, c in evs:
            bal += c
            peak = bal if peak is None else max(peak, bal)
            dd = max(dd, peak - bal)
        expect[ck] = (len(evs), peak, dd)
    got = {
        r.o_custkey: (r.n_orders, r.peak_cents, r.max_drawdown_cents)
        for r in queries()["w19_drawdown"](spark, sf_dir).collect()
    }
    assert got == expect
    dds = [d for _, _, d in got.values()]
    assert any(d > 0 for d in dds), "no positive drawdown: vacuous"
    assert any(d == 0 for _, _, d in got.values() if True) and any(
        d == 0 and n > 1 for n, _, d in got.values()
    ), "no monotone multi-order customer"


def test_p25_dataset_card_matches_python_model(spark, sf_dir):
    """p25 vs a Python replay: exact ppm floor-division shares, full
    coverage (shares sum to <= 1e6 with bounded rounding loss), and a
    deterministic dense ranking."""
    from collections import defaultdict

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = load_tables(spark, sf_dir).documents.select(
        "lang", "source", "n_chars"
    ).collect()
    cell = defaultdict(lambda: [0, 0])
    for r in rows:
        c = cell[(r.lang, r.source)]
        c[0] += 1
        c[1] += r.n_chars
    td = sum(v[0] for v in cell.values())
    tc = sum(v[1] for v in cell.values())
    ranked = sorted(cell.items(), key=lambda kv: (-kv[1][1], kv[0][0], kv[0][1]))
    expect = {
        k: (v[0], v[1], v[0] * 1_000_000 // td, v[1] * 1_000_000 // tc, i + 1)
        for i, (k, v) in enumerate(ranked)
    }
    got = {
        (r.lang, r.source): (
            r.n_docs,
            r.n_chars,
            r.docs_ppm,
            r.chars_ppm,
            r.weight_rank,
        )
        for r in queries()["p25_dataset_card"](spark, sf_dir).collect()
    }
    assert got == expect
    ppm_sum = sum(v[3] for v in got.values())
    assert 1_000_000 - len(got) <= ppm_sum <= 1_000_000
    assert len(got) > 3, "too few cells to be a meaningful card"


def test_t15_bigram_lm_matches_python_model(spark, sf_dir):
    """t15 vs a Python replay of conditional bigram scoring (counts
    exact-matched; the float mean compared within one 4dp rounding
    step since summation order differs). Non-vacuity: bigram and
    unigram scores must rank some doc pair DIFFERENTLY — the
    coherence signal t15 adds over t8 — and short docs are excluded
    identically."""
    import math
    from collections import Counter, defaultdict

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    docs = {
        r.doc_id: r.text.lower().split(" ")
        for r in load_tables(spark, sf_dir).documents.select("doc_id", "text").collect()
        if r.text is not None
    }
    cb, cp = Counter(), Counter()
    per_doc = defaultdict(list)
    for did, w in docs.items():
        if len(w) < 2:
            continue
        for a, b in zip(w, w[1:]):
            cb[(a, b)] += 1
            cp[a] += 1
            per_doc[did].append((a, b))
    expect = {
        did: (len(pairs), sum(math.log(cb[p] / cp[p[0]]) for p in pairs) / len(pairs))
        for did, pairs in per_doc.items()
    }
    got = {
        r.doc_id: (r.n_bigrams, r.lm2_score)
        for r in queries()["t15_bigram_lm_score"](spark, sf_dir).collect()
    }
    assert set(got) == set(expect), "short-doc exclusion mismatch"
    for did, (n, mean) in expect.items():
        gn, gs = got[did]
        assert gn == n
        assert abs(gs - mean) <= 5e-4, (did, gs, mean)
    # coherence signal: t8 and t15 must disagree on some ranking
    t8 = {
        r.doc_id: r.lm_score
        for r in queries()["t8_unigram_lm_score"](spark, sf_dir).collect()
    }
    ids = sorted(set(got) & set(t8))
    disagree = any(
        (t8[a] < t8[b]) != (got[a][1] < got[b][1])
        for a, b in zip(ids, ids[1:])
    )
    assert disagree, "bigram score perfectly rank-matches unigram: no added signal"


def test_t16_bpe_train_matches_hand_computed_merges(spark):
    """bpe_train on a 2-word census with hand-derived merges. Covers
    the overlapping-run rule ("aaa" + merge (a,a) -> [aa, a], greedy
    L2R), the (count DESC, pair ASC) argmax, hierarchy (round 3 merges
    two earlier merge products), and early exhaustion (round 4 has no
    pairs left -> 3 merges returned from n_merges=4)."""
    from hive_to_es_spark.operators.text_ext import bpe_train

    words = spark.createDataFrame(
        [("aaab", 3), ("ab", 2)], "word STRING, freq LONG"
    )
    got = bpe_train(words, n_merges=4)
    # r1: (a,a) = 2*3 = 6 beats (a,b) = 3+2 = 5 -> aaab = [aa,a,b]
    # r2: (a,b) = 3+2 = 5 beats (aa,a) = 3    -> [aa,ab], [ab]
    # r3: (aa,ab) = 3 is the only pair        -> [aaab], [ab]
    # r4: no adjacent pairs anywhere -> loop exhausts early
    assert got == [
        (1, "a", "a", "aa", 6),
        (2, "a", "b", "ab", 5),
        (3, "aa", "ab", "aaab", 3),
    ]


def test_bpe_select_batch_rules_on_synthetic_rows():
    """The batched-BPE acceptance rules on constructed row lists —
    including rule 5 (two-path output collision), whose precondition
    is unreachable from any real census under greedy L2R BPE (the
    docstring theorem), so the guard can ONLY be exercised here
    (round-10 advice: the property test's generator never fired it)."""
    from collections import namedtuple

    from hive_to_es_spark.operators.text_ext import _bpe_select_batch

    Row = namedtuple("Row", "lft rgt cnt")

    # rule 5: the collision pair ('a','bc' -> 'abc', already a prior
    # round's output) is ACCEPTED but closes its batch — ('x','y') is
    # symbol-disjoint and higher-count than the trim bound, yet must
    # be deferred to the next round
    top = [Row("a", "bc", 10), Row("x", "y", 9), Row("p", "q", 8)]
    got = _bpe_select_batch(top, batch_size=8, prior_outputs={"abc"})
    assert got == [top[0]]

    # control: same rows without the prior output accept the full
    # disjoint prefix (counts strictly above the no-break bound=None)
    got = _bpe_select_batch(top, batch_size=8, prior_outputs=set())
    assert got == top

    # rule 4 twin (same close mechanics): a self-pair is accepted
    # alone even with disjoint followers
    top4 = [Row("a", "a", 10), Row("x", "y", 9)]
    assert _bpe_select_batch(top4, batch_size=8, prior_outputs=set()) == [top4[0]]

    # the collision close still applies the count-bound trim: the
    # closing row sets bound=9 ('x','y'), so a tied-at-9 second
    # accepted pair would be deferred — construct collision at pos 3
    top5 = [
        Row("a", "b", 12),
        Row("c", "d", 9),  # ties the bound below -> trimmed
        Row("e", "f", 9),  # closes the batch: 'ef' is a prior output
    ]
    got = _bpe_select_batch(top5, batch_size=8, prior_outputs={"ef"})
    # 'e','f' is accepted THEN closes; trim pops it (cnt 9 <= bound?)
    # — no: the close fires on the NEXT row only. Here rule 5 fires
    # when 'e','f' is last and a 4th row arrives; with only 3 rows
    # the table is exhausted -> bound=None -> no trim: all 3 accepted
    assert got == top5

    # same rows + a 4th: rule 5 fires on the 4th row (bound=7), trim
    # keeps counts > 7, so all three survive
    top6 = top5 + [Row("g", "h", 7)]
    got = _bpe_select_batch(top6, batch_size=8, prior_outputs={"ef"})
    assert got == top5


def test_t16_bpe_train_fixture_merges_are_hierarchical(spark, sf_dir):
    """The registered key's output on real fixtures: 8 ranks, merged
    symbol always left||right, positive counts, and at least one
    merge consumes a PREVIOUS merge's product — the compositionality
    that distinguishes BPE training from flat pair counting."""
    from hive_to_es_spark.registry import queries

    rows = sorted(
        queries()["t16_bpe_train"](spark, sf_dir).collect(),
        key=lambda r: r.merge_rank,
    )
    assert [r.merge_rank for r in rows] == list(range(1, 9))
    produced = set()
    hierarchical = False
    for r in rows:
        assert r.merged == r.left_sym + r.right_sym
        assert r.pair_count > 0
        if r.left_sym in produced or r.right_sym in produced:
            hierarchical = True
        produced.add(r.merged)
    assert hierarchical, "no merge built on an earlier merge's product"


def test_t17_bpe_encode_counts_are_consistent_and_compress(spark, sf_dir):
    """t17's accounting identities on real fixtures: every document
    appears; n_words matches the whitespace token count; n_bpe_tokens
    is bounded by [n_words, n_letters] (a token is >= 1 word piece,
    <= 1 char each); and the 8 learned merges buy real compression —
    strictly fewer tokens than characters for every doc (the fixture
    vocabulary repeats heavily, so merges must bite everywhere)."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries
    from pyspark.sql import functions as F

    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in queries()["t17_bpe_encode"](spark, sf_dir).collect()
    }
    base = {
        r.doc_id: (r.nw, r.nl)
        for r in load_tables(spark, sf_dir)
        .documents.select(
            "doc_id",
            F.size(F.filter(F.split(F.lower("text"), " "), lambda w: w != ""))
            .alias("nw"),
            F.length(F.regexp_replace(F.lower("text"), " ", "")).alias("nl"),
        )
        .collect()
    }
    assert set(got) == set(base)
    for did, (nw, nbpe) in got.items():
        bw, bl = base[did]
        assert nw == bw, (did, nw, bw)
        assert nw <= nbpe < bl, (did, nw, nbpe, bl)


def test_table_row_count_matches_count_without_job(spark, sf_dir):
    """io.table_row_count (the auto-gate's no-job row count, ADVICE r8)
    must agree with a real count() on every fixture table it claims to
    know, and return None — never a wrong number — for unknowable
    sources."""
    from hive_to_es_spark.io import load_tables, table_row_count

    t = load_tables(spark, sf_dir)
    for name in ("documents", "orders", "region"):
        n = table_row_count(spark, sf_dir, name)
        assert n is not None
        assert n == getattr(t, name).count(), name
    assert table_row_count(spark, "/nonexistent/dir", "documents") is None


def test_jaccard_auto_gate_warns_on_banded_swap(spark, sf_dir):
    """ADVICE r8 (medium): when the auto gate swaps d4/d9's
    complete-recall contract for banded-MinHash candidates, the swap
    must be LOUD — a UserWarning naming the recall boundary — and the
    caller-supplied n_docs must drive the gate (no count() action).
    Below the gate, and on explicitly pinned plans, no warning."""
    import warnings as w

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.operators.dedup_ext import ngram_jaccard_pairs

    d = load_tables(spark, sf_dir).documents
    with pytest.warns(UserWarning, match="banded MinHash"):
        ngram_jaccard_pairs(d, blocked_doc_limit=1, n_docs=2)
    with w.catch_warnings():
        w.simplefilter("error")  # any warning fails the test
        ngram_jaccard_pairs(d, n_docs=2)  # under the gate: blocked
        ngram_jaccard_pairs(d, plan="banded")  # explicit opt-in: silent


def test_t17_oracle_survives_merge_exhaustion(duck):
    """ADVICE r8: a corpus of single-char words exhausts mergeable
    pairs at round 1 — every m{r} is empty. The oracle's per-round
    LEFT JOIN must leave the word table intact (one row per doc, one
    token per char), where the old cross-join emptied it to 0 rows
    while Spark returned all docs."""
    from hive_to_es_spark.operators.text_ext import _t17_oracle

    duck.execute(
        "CREATE OR REPLACE VIEW documents AS "
        "SELECT * FROM (VALUES (1, 'a b c'), (2, 'a a')) t(doc_id, text)"
    )
    try:
        rows = duck.execute(_t17_oracle()).fetchall()
        got = {r[0]: (r[1], r[2]) for r in rows}
        # no merges apply => every BPE token is a single char
        assert got == {1: (3, 3), 2: (2, 2)}
    finally:
        import os

        # restore the shared session fixture's documents view
        sf = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
        duck.execute(
            "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')"
        )


def test_s16_serving_candidates_come_from_probed_cells_only(spark, sf_dir):
    """s16's serving contract beyond the oracle hash: every returned
    neighbor belongs to one of its query's 2 probed cells in the
    PERSISTED inverted lists (the result is index-served, not a corpus
    scan); every query returns <= 3 rows; and the persisted index
    partitions the corpus exactly (each non-query vector in exactly
    one bucket)."""
    from pyspark.sql import functions as F

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.pipeline import dataset_tmp_path
    from hive_to_es_spark.registry import queries

    res = queries()["s16_ann_ivf_persisted"](spark, sf_dir).collect()
    index_dir = dataset_tmp_path("s16_ivf_index", sf_dir)
    inv = {
        r.vec_id: r.bucket
        for r in spark.read.parquet(index_dir + "/inverted").collect()
    }
    e = load_tables(spark, sf_dir).embeddings
    n_corpus = e.filter(F.col("vec_id") % 50 != 0).count()
    assert len(inv) == n_corpus  # exact partition of the corpus
    qids = {
        r.vec_id for r in e.filter(F.col("vec_id") % 50 == 0).select("vec_id").collect()
    }
    per_q: dict = {}
    for r in res:
        per_q.setdefault(r.query_id, []).append(r)
        assert r.vec_id in inv  # served from the index
        assert r.query_id in qids
    for qid, rows in per_q.items():
        assert len(rows) <= 3
        cells = {inv[r.vec_id] for r in rows}
        assert len(cells) <= 2  # nprobe = 2
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_t19_decontaminate_matches_python_model(spark, sf_dir):
    """t19 vs a numpy replay of the paraphrase-decontamination
    contract (eval = vec_id % 20 == 7, micro-unit argmax with lowest-
    eval-id tie-break, 450k/380k tier bounds). Non-vacuity: all three
    actions occur at every fixture SF (thresholds were calibrated to
    the fixture's real cosine geometry — this pin is what keeps a
    fixture regen from silently making the policy layer vacuous)."""
    import numpy as np

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = load_tables(spark, sf_dir).embeddings.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    eval_ids = sorted(i for i in vecs if i % 20 == 7)
    expect = {}
    for i, v in vecs.items():
        if i % 20 == 7:
            continue
        best = None
        for e in eval_ids:
            q = vecs[e]
            cos = float(v @ q) / (np.linalg.norm(v) * np.linalg.norm(q))
            u = int(np.round(cos * 1_000_000))
            if best is None or u > best[0]:
                best = (u, e)  # eval_ids ascending => first max wins ties
        u, e = best
        action = "drop" if u >= 450_000 else "review" if u >= 380_000 else "keep"
        expect[i] = (e, u, action)
    got = {
        r.doc_id: (r.nearest_eval_id, r.max_cos_u, r.action)
        for r in queries()["t19_embedding_decontaminate"](spark, sf_dir).collect()
    }
    assert got == expect
    actions = {a for _, _, a in got.values()}
    assert actions == {"keep", "review", "drop"}, f"buckets unexercised: {actions}"


def test_s18_drift_report_matches_replay_and_is_nonvacuous(spark, sf_dir):
    """s18's drift report vs a numpy replay of the maintenance
    contract: centroids = per-label means over the BASE corpus only
    (the codebook is immutable on append), every corpus vector
    assigned to its nearest centroid (label tiebreak), per-cell
    built/delta/total counts, integer-ppm growth, 28% flag. built_n
    matching the base-only replay IS the no-read-own-writes proof —
    a lazy re-read of the inverted dir after the append would fold
    the delta rows into built_n and zero out every growth figure.
    Non-vacuity: flagged AND unflagged cells both exist."""
    import numpy as np

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.pipeline import dataset_tmp_path
    from hive_to_es_spark.registry import queries

    queries()["s18_ivf_index_maintain"](spark, sf_dir).collect()  # runs build+append
    drift = {
        r.bucket: (r.built_n, r.delta_n, r.total_n, r.growth_ppm, r.recluster)
        for r in spark.read.parquet(
            dataset_tmp_path("s18_ivf_maintain", sf_dir) + "/drift"
        ).collect()
    }
    rows = load_tables(spark, sf_dir).embeddings.select(
        "vec_id", "embedding", "label"
    ).collect()
    base = [(r.vec_id, np.asarray(r.embedding, np.float64), r.label)
            for r in rows if r.vec_id % 50 != 0 and r.vec_id % 5 != 4]
    delta = [(r.vec_id, np.asarray(r.embedding, np.float64))
             for r in rows if r.vec_id % 50 != 0 and r.vec_id % 5 == 4]
    labels = sorted({l for _, _, l in base})
    cents = {
        l: np.mean([v for _, v, ll in base if ll == l], axis=0) for l in labels
    }

    def assign(v):
        return min(labels, key=lambda l: (float(np.linalg.norm(v - cents[l])), l))

    built, grew = {}, {}
    for _, v, _ in base:
        built[assign(v)] = built.get(assign(v), 0) + 1
    for _, v in delta:
        grew[assign(v)] = grew.get(assign(v), 0) + 1
    expect = {}
    # union of keys + max(b, 1): a delta-only cell must appear in the
    # report and flag (mirrors the op's LEFT join + greatest rule)
    for l in sorted(set(built) | set(grew)):
        b, d = built.get(l, 0), grew.get(l, 0)
        ppm = d * 1_000_000 // max(b, 1)
        expect[l] = (b, d, b + d, ppm, ppm >= 280_000)
    assert drift == expect
    flags = {f for _, _, _, _, f in drift.values()}
    assert flags == {True, False}, f"drift flag vacuous: {flags}"


def test_s19_hot_cell_split_nonvacuous(spark, sf_dir):
    """s19's split must be exercised end to end on the fixtures, not
    just hash-match: (a) flagged AND unflagged cells both exist (same
    geometry pin as s18's drift test), (b) every flagged cell's TWO
    subcells receive members after the nearest-subcentroid
    re-assignment (a one-sided split would mean the delta-mean seed
    collapsed into the base-mean one), and (c) the split actually
    changes the served answers vs s18's unsplit index for some query
    (narrower cells => different nprobe=2 candidate sets) while both
    serve the same per-query row count."""
    import numpy as np

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = load_tables(spark, sf_dir).embeddings.select(
        "vec_id", "embedding", "label"
    ).collect()
    corpus = [(r.vec_id, np.asarray(r.embedding, np.float64), r.label)
              for r in rows if r.vec_id % 50 != 0]
    labels = sorted({l for _, _, l in corpus})
    cents = {
        l: np.mean([v for i, v, ll in corpus if ll == l and i % 5 != 4], axis=0)
        for l in labels
    }
    cell_of = {
        i: min(labels, key=lambda l: (float(np.linalg.norm(v - cents[l])), l))
        for i, v, _ in corpus
    }
    members = {l: [(i, v) for i, v, _ in corpus if cell_of[i] == l] for l in labels}
    flagged = [
        l for l in labels
        if (sum(1 for i, _ in members[l] if i % 5 == 4) * 1_000_000
            // sum(1 for i, _ in members[l] if i % 5 != 4)) >= 280_000
    ]
    assert flagged and set(flagged) != set(labels), flagged  # (a)
    for l in flagged:  # (b)
        seeds = {
            2 * l: np.mean([v for i, v in members[l] if i % 5 != 4], axis=0),
            2 * l + 1: np.mean([v for i, v in members[l] if i % 5 == 4], axis=0),
        }
        got = {
            min(seeds, key=lambda s: (float(np.linalg.norm(v - seeds[s])), s))
            for _, v in members[l]
        }
        assert got == set(seeds), f"one-sided split in cell {l}: {got}"
    s18 = {(r.query_id, r.vec_id) for r in
           queries()["s18_ivf_index_maintain"](spark, sf_dir).collect()}
    s19 = {(r.query_id, r.vec_id) for r in
           queries()["s19_ivf_hot_cell_split"](spark, sf_dir).collect()}
    assert len(s18) == len(s19)
    assert s19 != s18, "split changed nothing — serve stage vacuous"  # (c)


def test_d17_semantic_dedup_matches_python_model(spark, sf_dir):
    """d17 vs a numpy replay of the SemDeDup contract: codebook =
    per-label dim means, assignment = nearest centroid (l2, label
    tiebreak), drop iff a dominating same-cell neighbor exists
    (cos >= 0.3 AND farther-from-centroid-wins ordering: the KEPT
    member of every near-dup neighborhood is the LEAST central one),
    partner = minimal-id dominator. Non-vacuity: both actions occur
    at every fixture SF."""
    import numpy as np

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = (
        load_tables(spark, sf_dir)
        .embeddings.select("vec_id", "label", "embedding")
        .collect()
    )
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    labels = sorted({r.label for r in rows})
    cents = {
        lb: np.mean([vecs[r.vec_id] for r in rows if r.label == lb], axis=0)
        for lb in labels
    }
    cell, dist = {}, {}
    for i, v in vecs.items():
        best = min(labels, key=lambda lb: (np.linalg.norm(v - cents[lb]), lb))
        cell[i], dist[i] = best, float(np.linalg.norm(v - cents[best]))
    expect = {}
    for v_id in vecs:
        dominators = []
        for u_id in vecs:
            if u_id == v_id or cell[u_id] != cell[v_id]:
                continue
            cos = float(vecs[u_id] @ vecs[v_id]) / (
                np.linalg.norm(vecs[u_id]) * np.linalg.norm(vecs[v_id])
            )
            if cos >= 0.3 and (
                dist[u_id] > dist[v_id]
                or (dist[u_id] == dist[v_id] and u_id < v_id)
            ):
                dominators.append((u_id, cos))
        if dominators:
            partner, pcos = min(dominators)
            expect[v_id] = (
                cell[v_id],
                "drop",
                partner,
                int(np.round(pcos * 1_000_000)),
            )
        else:
            expect[v_id] = (cell[v_id], "keep", None, None)
    got = {
        r.vec_id: (r.cell, r.action, r.partner, r.partner_cos_ppm)
        for r in queries()["d17_semantic_dedup"](spark, sf_dir).collect()
    }
    assert got == expect
    actions = {a for _, a, _, _ in got.values()}
    assert actions == {"keep", "drop"}, f"actions unexercised: {actions}"


def test_t20_quantile_gate_matches_global_rank(spark, sf_dir):
    """t20's census-first decision vs the naive global-rank replay:
    keep exactly the first ceil(0.30 * n) docs ordered by
    (score_ppm DESC, doc_id ASC). Also pins that the boundary-score
    tie group exists (> 1 doc at t*) somewhere in the fixture domain —
    the branch that ranks the last quota slots is the part a naive
    threshold filter would get wrong."""
    import math

    from hive_to_es_spark.registry import queries

    rows = queries()["t20_quality_quantile_gate"](spark, sf_dir).collect()
    n = len(rows)
    quota = math.ceil(0.30 * n)
    ranked = sorted(rows, key=lambda r: (-r.score_ppm, r.doc_id))
    expect_keep = {r.doc_id for r in ranked[:quota]}
    got_keep = {r.doc_id for r in rows if r.decision == "keep"}
    assert got_keep == expect_keep
    assert len(got_keep) == quota
    # the boundary score group: the last kept row's score
    t_star = ranked[quota - 1].score_ppm
    tie_mass = sum(1 for r in rows if r.score_ppm == t_star)
    kept_at_boundary = sum(
        1 for r in rows if r.score_ppm == t_star and r.decision == "keep"
    )
    assert kept_at_boundary >= 1
    # decisions within the tie group follow doc_id order
    tie_sorted = sorted(
        (r for r in rows if r.score_ppm == t_star), key=lambda r: r.doc_id
    )
    assert [r.decision for r in tie_sorted] == ["keep"] * kept_at_boundary + [
        "drop"
    ] * (tie_mass - kept_at_boundary)


def test_w20_peak_concurrency_matches_naive_replay(spark, sf_dir):
    """w20's two-pass carry-in running sum vs the naive global replay
    (sessionize in pandas, sort the +1/-1 boundary stream once, take
    per-day maxima after +1 rows). Non-vacuity: multiple days, and at
    least one day where the peak is LESS than the number of sessions
    started (i.e. the running sum actually went down in between — a
    plain per-day session count would get it wrong)."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.operators.windows import _W9_GAP_US, _W20_DAY_US
    from hive_to_es_spark.registry import queries

    ev = (
        load_tables(spark, sf_dir)
        .events.filter("ts IS NOT NULL")
        .selectExpr("user_id", "event_id", "unix_micros(ts) AS tus")
        .collect()
    )
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.tus, r.event_id))
    bounds = []
    for uid, rows in by_user.items():
        rows.sort()
        start = prev = rows[0][0]
        for tus, _ in rows[1:]:
            if tus - prev > _W9_GAP_US:
                bounds += [(start, 1, uid), (prev, -1, uid)]
                start = tus
            prev = tus
        bounds += [(start, 1, uid), (prev, -1, uid)]
    bounds.sort(key=lambda b: (b[0], -b[1], b[2]))
    conc, expect = 0, {}
    for tus, delta, _ in bounds:
        conc += delta
        if delta == 1:
            day = tus // _W20_DAY_US
            peak, n = expect.get(day, (0, 0))
            expect[day] = (max(peak, conc), n + 1)
    got = {
        r.epoch_day: (r.peak_concurrency, r.n_sessions_started)
        for r in queries()["w20_peak_concurrency"](spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) > 1
    assert any(peak < n for peak, n in got.values()), (
        "every day's peak equals its session count — concurrency "
        "never dropped, the running sum is untested"
    )


def test_o14_token_budget_mix_matches_naive_replay(spark, sf_dir):
    """o14's two-pass carry-in cumulative vs the naive greedy replay
    (sort each source's docs by (md5-hash, doc_id), take while the
    inclusive token sum stays within budget). Non-vacuity: every
    source both keeps and drops docs, and kept_tok never exceeds
    budget_tok."""
    import hashlib
    import math

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    docs = (
        load_tables(spark, sf_dir)
        .documents.selectExpr(
            "doc_id", "source", "CAST(size(split(text, ' ')) AS BIGINT) AS tok"
        )
        .collect()
    )
    by_src: dict = {}
    for r in docs:
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16)
        by_src.setdefault(r.source, []).append((h, r.doc_id, r.tok))
    tok_total = {s: sum(t for _, _, t in rows) for s, rows in by_src.items()}
    w = {s: math.floor(math.sqrt(tok_total[s]) * 1e6) for s in by_src}
    sw, gt = sum(w.values()), sum(tok_total.values())
    budget = {s: (gt * 2 * w[s]) // (sw * 5) for s in by_src}
    expect = {}
    for s, rows in by_src.items():
        rows.sort()
        kept_n = kept_t = cum = 0
        for _, _, t in rows:
            cum += t
            if cum <= budget[s]:
                kept_n += 1
                kept_t += t
        expect[s] = (tok_total[s], budget[s], kept_n, kept_t)
    got = {
        r.source: (r.tok_total, r.budget_tok, r.n_kept, r.kept_tok)
        for r in queries()["o14_token_budget_mix"](spark, sf_dir).collect()
    }
    assert got == expect
    for s, (tt, b, n, kt) in got.items():
        assert kt <= b, (s, kt, b)
        assert 0 < n < len(by_src[s]), (s, n, "keep AND drop must both occur")


def test_quantile_gate_edge_geometries(spark):
    """t20's decision core on synthetic score frames: (a) ALL scores
    equal — the entire quota is decided by the tie ranker; (b) quota
    collapses to 1 doc; (c) strictly distinct scores — no ties, pure
    threshold; (d) frac so large every doc keeps. Each case is
    compared against the naive sorted replay."""
    import math

    from hive_to_es_spark.operators.text_ext import quantile_gate

    def replay(rows, frac):
        quota = math.ceil(frac * len(rows))
        ranked = sorted(rows, key=lambda r: (-r[1], r[0]))
        keep = {d for d, _ in ranked[:quota]}
        return {d: ("keep" if d in keep else "drop") for d, _ in rows}

    cases = [
        ([(i, 500000) for i in range(10)], 0.30),           # all equal
        ([(i, 100000 * i) for i in range(1, 8)], 0.10),     # quota = 1
        ([(i, 100000 * i) for i in range(1, 8)], 0.50),     # distinct
        ([(i, 900000 - 7 * i) for i in range(9)], 1.0),     # keep all
        ([(0, 1)], 0.30),                                   # single doc
    ]
    for rows, frac in cases:
        df = spark.createDataFrame(rows, "doc_id long, score_ppm long")
        got = {
            r.doc_id: r.decision for r in quantile_gate(df, frac).collect()
        }
        assert got == replay(rows, frac), (rows, frac)


def test_peak_concurrency_edge_geometries(spark):
    """w20's core on a hand-built event frame exercising: a
    single-event (zero-length) session, a session spanning three
    days, two users starting sessions at the SAME microsecond, and a
    start coinciding with another session's end (endpoint-inclusive:
    both count). Expected values derived by hand."""
    from hive_to_es_spark.operators.windows import _W20_DAY_US, peak_concurrency

    D = _W20_DAY_US
    rows = [
        # user 1: one session spanning day0..day2 (events within 12 h)
        (1, 100, 0),
        (1, 101, D // 2),
        (1, 102, D + D // 2),
        (1, 103, 2 * D + D // 4),
        # user 2: zero-length session on day 0 at the same instant
        # user 1's session starts
        (2, 200, 0),
        # user 3: session on day 1 starting exactly when user 4's ends
        (3, 300, D + D // 4),
        (3, 301, D + D // 2),
        # user 4: session day0 -> ends exactly at day1 + D//4
        (4, 400, D - 1),
        (4, 401, D + D // 4),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, tus long")
    got = {
        r.epoch_day: (r.peak_concurrency, r.n_sessions_started)
        for r in peak_concurrency(df).collect()
    }
    # sessions (12-h gap = D//2, strictly-greater starts a new one):
    #   u1: [0, D//2] (the D//2 gap is NOT > 12 h), then zero-length
    #       [1.5D] (gap D > 12 h) and [2.25D] (gap 0.75D > 12 h)
    #   u2: zero-length [0]      u3: [1.25D, 1.5D]   u4: [D-1, 1.25D]
    # day 0: at tus=0 order is +1(u1), +1(u2), -1(u2) -> conc 1,2,1;
    #   -1(u1) at D//2 -> 0; +1(u4) at D-1 -> 1. peak 2, starts 3.
    # day 1: +1(u3) at 1.25D sorts BEFORE -1(u4) (endpoint-inclusive)
    #   -> conc 2; at 1.5D +1(u1) before the two ends -> conc 2,1,0.
    #   peak 2, starts 2.
    # day 2: u1's last zero-length session -> +1 then -1: peak 1.
    assert got == {0: (2, 3), 1: (2, 2), 2: (1, 1)}, got
    empty = peak_concurrency(df.limit(0))
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == [
        ("epoch_day", "bigint"),
        ("peak_concurrency", "bigint"),
        ("n_sessions_started", "bigint"),
    ]
    assert empty.count() == 0


def test_o14_null_source_stratum_kept(spark):
    """o14's carry-in key and budget join must be null-safe (round-11
    ADVICE): a NULL source is a stratum like any other — its audit row
    must appear with the exact greedy-cut values, verified against a
    pure-Python replay of the whole mixture cut."""
    import hashlib
    import math

    from hive_to_es_spark.operators.sort_set import token_budget_mix

    rows = [
        (1, "web", "a b c d e f g h"),
        (2, "web", "a b c d"),
        (3, None, "x y z w v u"),
        (4, None, "x y"),
        (5, None, "q r s t u v w x y z"),
        (6, "book", "m n o p q r"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.source: (r.tok_total, r.budget_tok, r.n_kept, r.kept_tok)
        for r in token_budget_mix(df).collect()
    }

    # pure-Python replay of the contract
    toks = [
        (
            did,
            src,
            len(text.split(" ")),
            int(hashlib.md5(str(did).encode()).hexdigest()[:15], 16),
        )
        for did, src, text in rows
    ]
    totals: dict = {}
    for _, src, tok, _h in toks:
        totals[src] = totals.get(src, 0) + tok
    wts = {s: math.floor(math.sqrt(t) * 1_000_000) for s, t in totals.items()}
    sw, gt = sum(wts.values()), sum(totals.values())
    expected = {}
    for src, t in totals.items():
        budget = (gt * 2 * wts[src]) // (sw * 5)
        ordered = sorted((x for x in toks if x[1] == src), key=lambda x: (x[3], x[0]))
        ctok = n_kept = kept = 0
        for did, _, tok, _h in ordered:
            ctok += tok
            if ctok <= budget:
                n_kept += 1
                kept += tok
        expected[src] = (t, budget, n_kept, kept)
    assert got == expected, (got, expected)
    assert None in got, "NULL-source stratum missing from the audit"


def test_o14_null_text_matches_oracle(spark):
    """o14 on NULL-text documents equals _O14_ORACLE: a NULL text has
    a NULL token count, so doc 17 (alone in its hash range, after doc
    27's non-empty range) takes the carry as its cumulative count and
    is kept, doc 9 (first in book's hash order, alone in its range)
    has no cumulative count, and doc 13 shares a range with doc 12.
    Range groups holding only NULL-text docs once raised in the carry
    loop."""
    import duckdb
    import pandas as pd

    from hive_to_es_spark.operators.sort_set import _O14_ORACLE, token_budget_mix

    rows = [
        (27, "web", "a"),
        (17, "web", None),
        (22, "web", "a b c d e f g h i j"),
        (12, "web", "b c"),
        (13, "web", None),
        (9, "book", None),
        (25, "book", "m n"),
        (10, "book", "x y z w v u t s"),
    ]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "source", "text"]))
    want = {r[0]: tuple(r[1:]) for r in con.execute(_O14_ORACLE).fetchall()}
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.source: (r.tok_total, r.budget_tok, r.n_kept, r.kept_tok)
        for r in token_budget_mix(df).collect()
    }
    assert got == want
    assert want == {"web": (13, 4, 2, 1), "book": (10, 4, 1, 2)}, want


def test_t20_null_scores_route_to_drop(spark):
    """quantile_gate on a frame with NULL scores (round-11 ADVICE): a
    NULL score must surface as an explicit 'drop' row — the old
    non-null-safe boundary filter silently removed the doc from the
    output entirely."""
    from hive_to_es_spark.operators.text_ext import quantile_gate

    rows = [(1, 900), (2, 800), (3, 700), (4, None), (5, None), (6, 600)]
    df = spark.createDataFrame(rows, "doc_id long, score_ppm long")
    got = {r.doc_id: r.decision for r in quantile_gate(df, 0.30).collect()}
    # quota = ceil(0.3 * 6) = 2 -> docs 1,2 keep; 3,6 drop; NULLs drop
    assert got == {1: "keep", 2: "keep", 3: "drop", 4: "drop", 5: "drop", 6: "drop"}, got


def test_dataset_tmp_path_is_process_scoped():
    """Two concurrent sessions against the SAME sf_dir must use
    disjoint scratch paths (round-11 verdict: a transient s18 failure
    when check.py ran alongside pytest) — the path embeds a
    per-process token, so a sibling process computes a different one."""
    import subprocess
    import sys

    from hive_to_es_spark.pipeline import dataset_tmp_path

    mine = dataset_tmp_path("s18_index", "/root/testdata/sf0.01")
    theirs = subprocess.run(
        [
            sys.executable,
            "-c",
            "from hive_to_es_spark.pipeline import dataset_tmp_path;"
            "print(dataset_tmp_path('s18_index', '/root/testdata/sf0.01'))",
        ],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert mine != theirs, (mine, theirs)
    # same dataset digest, different process token
    assert mine.rsplit("_", 1)[0] == theirs.rsplit("_", 1)[0], (mine, theirs)


def test_d18_span_dedup_overlap_and_union_geometry(spark):
    """span_dedup on a hand-built corpus exercising: two docs sharing
    one exact 5-gram (both lose exactly those 5 tokens), OVERLAPPING
    flagged spans in one doc (union of positions — shared tokens cut
    once), a doc shorter than one span (never edited), and a unique
    doc (untouched). Expected values derived by hand."""
    from hive_to_es_spark.operators.dedup_ext import span_dedup

    rows = [
        # docs 1,2: share "a b c d e" at different offsets
        (1, "x a b c d e y"),
        (2, "a b c d e z w q r"),
        # docs 3,4: share BOTH "p q r s t" and "q r s t u" -> doc 3
        # has overlapping spans covering positions 1..6 (union = 6
        # tokens), not 10
        (3, "m p q r s t u n o v"),
        (4, "p q r s t u"),
        (5, "too short"),
        (6, "totally unique text with nothing repeated here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in span_dedup(df).collect()
    }
    assert got[1] == (7, 5, "x y"), got[1]
    assert got[2] == (9, 5, "z w q r"), got[2]
    # doc 3: flagged starts {1, 2} -> covered 1..6 (6 tokens)
    assert got[3] == (10, 6, "m n o v"), got[3]
    # doc 4: starts {0, 1} -> covered 0..5 = the whole doc
    assert got[4] == (6, 6, ""), got[4]
    assert got[5] == (2, 0, "too short"), got[5]
    assert got[6] == (9, 0, rows[5][1]), got[6]
    # n_docs=None above exercised the shuffle (no-hint) gate arm; the
    # broadcast arm must be value-identical at any gate setting.
    got_bcast = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in span_dedup(df, n_docs=len(rows)).collect()
    }
    assert got_bcast == got


def test_t21_each_rule_fires_and_passes(spark, sf_dir):
    """Non-vacuity for every Gopher rule at the fixture SF: each of
    the four verdict columns must be False somewhere AND True
    somewhere, and both composed actions must occur — otherwise the
    policy layer verifies nothing."""
    from hive_to_es_spark.registry import queries

    rows = queries()["t21_repetition_rules"](spark, sf_dir).collect()
    for col in ("dup_ok", "symbol_ok", "bullet_ok", "ellipsis_ok"):
        vals = {getattr(r, col) for r in rows}
        assert vals == {True, False}, (col, vals)
    assert {r.action for r in rows} == {"keep", "drop"}


def test_t21_decoration_geometry(spark):
    """repetition_rules on a hand-built doc frame: doc 35 (%5 and %7)
    gets duplicate lines AND bullets; doc 11 gets ellipses on even
    lines; doc 13 gets ' ###' per line; doc 1 is untouched and passes
    every rule. Metrics derived by hand."""
    from hive_to_es_spark.operators.text_ext import repetition_rules

    text12 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"  # 4 lines of 3
    df = spark.createDataFrame(
        [(1, text12), (11, text12), (13, text12), (35, text12)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_rules(df).collect()}
    r1 = got[1]
    assert (r1.dup_line_ppm, r1.symbol_ppm, r1.bullet_ppm, r1.ellipsis_ppm) == (
        0, 0, 0, 0,
    ), r1
    assert r1.action == "keep"
    # doc 11: lines 2 and 4 ellipsis-terminated -> 2/4 = 500000 ppm
    assert got[11].ellipsis_ppm == 500_000 and not got[11].ellipsis_ok
    # doc 13: ' ###' per line -> 3 '#' per 3-word line + 1 extra word
    # per line: 12 '#' chars over 16 words = 750000 ppm
    assert got[13].symbol_ppm == 750_000 and not got[13].symbol_ok
    # doc 35: line 3 replaced by line 1 -> 1 dup in 4 lines = 250000
    # ppm (passes at 30%), all lines bulleted -> 1000000 ppm fails
    assert got[35].dup_line_ppm == 250_000 and got[35].dup_ok
    assert got[35].bullet_ppm == 1_000_000 and not got[35].bullet_ok
    assert got[35].action == "drop"


def test_w21_carried_in_daily_peaks_vs_w20(spark):
    """The ADVICE-r11 scenario pinned: a multi-day session makes (a)
    boundary-free middle days emit carried-peak rows, (b) a day whose
    only boundary is an END report the carried concurrency, and (c) a
    day whose post-start maximum is BELOW the carried-in concurrency
    report the carry — all places w20's peaks-at-starts contract
    understates or omits. Expected values derived by hand."""
    import duckdb

    from hive_to_es_spark.operators.windows import (
        _W9_GAP_US,
        _W20_DAY_US,
        _W20_ORACLE,
        _W21_ORACLE,
        peak_concurrency,
        peak_concurrency_daily,
    )

    D = _W20_DAY_US
    ev = []
    eid = 0

    def sess(uid, *times):
        nonlocal eid
        for t in times:
            ev.append((uid, (eid := eid + 1), t))

    sess(1, 0, D // 2, D, 3 * D // 2, 2 * D, 5 * D // 2, 3 * D, 7 * D // 2, 4 * D)
    sess(2, 0, D // 4)
    sess(3, D // 4)
    sess(4, 5 * D, 11 * D // 2, 6 * D, 6 * D + D // 4)
    sess(7, 5 * D, 11 * D // 2, 6 * D, 6 * D + 3 * D // 8)
    sess(5, 5 * D, 5 * D + D // 4)
    sess(6, 6 * D + D // 2)
    df = spark.createDataFrame(ev, "user_id long, event_id long, tus long")
    got21 = {
        r.epoch_day: (r.peak_concurrency, r.n_sessions_started)
        for r in peak_concurrency_daily(df).collect()
    }
    assert got21 == {
        0: (3, 3),  # three starts, peak after u3's start
        1: (1, 0),  # gap days: u1 alone, carried
        2: (1, 0),
        3: (1, 0),
        4: (1, 0),  # only u1's END — w20 emits nothing for this day
        5: (3, 3),
        6: (2, 1),  # carry 2 (u4,u7) > post-start max 1 (u6)
    }, got21
    got20 = {
        r.epoch_day: (r.peak_concurrency, r.n_sessions_started)
        for r in peak_concurrency(df).collect()
    }
    # w20's documented contract on the same frame: start-days only,
    # day-6 peak sampled at u6's start AFTER the carried sessions ended
    assert got20 == {0: (3, 3), 5: (3, 3), 6: (1, 1)}, got20
    # both oracles on the same 17 events: the fixtures cannot tell w21
    # from w20 (their oracle results are equal there), this frame can
    con = duckdb.connect()
    con.execute("CREATE TABLE raw (user_id BIGINT, event_id BIGINT, tus BIGINT)")
    con.executemany("INSERT INTO raw VALUES (?, ?, ?)", ev)
    con.execute(
        "CREATE VIEW events AS SELECT user_id, event_id, make_timestamp(tus) AS ts FROM raw"
    )
    for oracle, want in [(_W21_ORACLE, got21), (_W20_ORACLE, got20)]:
        rows = con.execute(oracle.format(gap=_W9_GAP_US)).fetchall()
        assert {d: (p, n) for d, p, n in rows} == want
    empty = peak_concurrency_daily(df.limit(0))
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == [
        ("epoch_day", "bigint"),
        ("peak_concurrency", "bigint"),
        ("n_sessions_started", "bigint"),
    ]
    assert empty.count() == 0


def test_t22_dsir_selects_target_and_contaminated(spark, sf_dir):
    """DSIR's gate must (a) select EVERY rendered target doc, (b) pull
    in a nonzero share of the weak-contaminated raw docs (what the op
    exists to find), and (c) leave most clean raw docs below the
    corpus-mean importance — non-vacuous in both directions on the
    raw slice."""
    from hive_to_es_spark.registry import queries

    rows = {
        r["doc_id"]: r
        for r in queries()["t22_dsir_importance"](spark, sf_dir).collect()
    }
    target = [r for d, r in rows.items() if d % 3 == 0]
    weak = [r for d, r in rows.items() if d % 3 != 0 and d % 7 == 0]
    clean = [r for d, r in rows.items() if d % 3 != 0 and d % 7 != 0]
    assert target and weak and clean
    assert all(r["selected"] for r in target)
    n_weak_sel = sum(r["selected"] for r in weak)
    assert 0 < n_weak_sel  # contamination detected...
    n_clean_sel = sum(r["selected"] for r in clean)
    assert n_clean_sel < len(clean) / 2  # ...without flooding the gate
    # per-feature mean centering: dsir_rel is the selection statistic
    for r in rows.values():
        assert r["selected"] == (r["dsir_rel"] > 0)


def test_t22_dsir_features_degenerate_docs(spark):
    """dsir_features on 0/1-token docs must yield NO bigrams (the
    oracle's empty range(1, 1)), not crash: Spark's sequence(1, 0)
    steps DOWNWARD to [1, 0] and element_at(w, 0) raises at runtime —
    the guard added round 13 (ADVICE r12 medium). Empty text splits to
    [''] (one token, one unigram feature); a two-token doc gets
    exactly one bigram."""
    from hive_to_es_spark.operators.text_ext import dsir_features

    df = spark.createDataFrame(
        [(1, ""), (2, "solo"), (4, "two words")], ["doc_id", "text"]
    ).select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("_w")
    )
    got = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", dsir_features("_w").alias("f")
        ).collect()
    }
    assert got[1] == [""]  # one unigram, no bigram, no crash
    assert got[2] == ["solo"]
    assert got[4] == ["two", "words", "two_words"]


def _t23_python_replay(texts):
    """Independent pure-Python implementation of t23's Viterbi-EM
    contract (seed from substring counts -> E1 -> prune+add-1 M-step
    -> E2), mirroring the spec constants: max piece 4, micro-nat
    integer costs, longest-piece-first walk tie-break. Returns
    (pieces: {piece: (cnt, cost)}, perdoc: [(n_tokens, cost)] per
    text in order)."""
    import math
    from collections import Counter

    MICRO = 1_000_000
    INF = 1 << 62

    def q(x):  # round-half-up of a positive float, micro-nats
        return int(math.floor(x * MICRO + 0.5))

    words_per_doc = [[w for w in t.lower().split(" ") if w] for t in texts]
    census = Counter(w for ws in words_per_doc for w in ws)
    seed = Counter()
    for w, f in census.items():
        for k in range(1, 5):
            for i in range(len(w) - k + 1):
                seed[w[i : i + k]] += f
    tot = sum(seed.values())
    c0 = {p: q(-math.log(c / tot)) for p, c in seed.items()}

    def viterbi(w, cost):
        dist = [0] + [None] * len(w)
        for i in range(1, len(w) + 1):
            dist[i] = min(
                dist[i - k] + cost.get(w[i - k : i], INF)
                for k in range(1, min(4, i) + 1)
            )
        ps, pos = [], len(w)
        while pos > 0:
            for k in (4, 3, 2, 1):  # longest-first tie-break
                if pos >= k and dist[pos - k] + cost.get(
                    w[pos - k : pos], INF
                ) == dist[pos]:
                    ps.append(w[pos - k : pos])
                    pos -= k
                    break
        return ps, dist[len(w)]

    u1 = Counter()
    for w, f in census.items():
        ps, _ = viterbi(w, c0)
        for p in ps:
            u1[p] += f
    kept = {p for p in seed if len(p) == 1} | set(u1)
    tot1, nk = sum(u1.values()), len(kept)
    c1 = {p: q(-math.log((u1.get(p, 0) + 1.0) / (tot1 + nk))) for p in kept}
    seg2 = {w: viterbi(w, c1) for w in census}
    pieces = {p: (u1.get(p, 0), c1[p]) for p in kept}
    perdoc = [
        (
            sum(len(seg2[w][0]) for w in ws),
            sum(seg2[w][1] for w in ws),
        )
        for ws in words_per_doc
    ]
    return pieces, perdoc


def test_t23_em_vs_python_replay(spark):
    """unigram_lm_train vs the pure-Python replay above on a
    hand-built corpus with real subword structure (shared stems
    'walk'/'talk' + suffixes) — the replay implements the identical
    contract independently (x15's replay discipline), so piece
    inventory, costs, counts AND per-doc accounting must match
    EXACTLY (integer arithmetic, no tolerance)."""
    from hive_to_es_spark.operators.text_ext import unigram_lm_train

    texts = [
        "walk walked walking talk",
        "talked talking walk talk talk",
        "ing ed walk",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    pieces, seg2 = unigram_lm_train(docs)
    exp_pieces, exp_perdoc = _t23_python_replay(texts)
    got_pieces = {
        r.piece: (r.cnt, r.c) for r in pieces.collect()
    }
    diff = {
        p: (got_pieces.get(p), exp_pieces.get(p))
        for p in set(got_pieces) | set(exp_pieces)
        if got_pieces.get(p) != exp_pieces.get(p)
    }
    assert got_pieces == exp_pieces, diff
    # replay the registered accounting join on the same tiny frame
    from pyspark.sql import functions as F2

    dw = docs.select(
        "doc_id", F2.explode(F2.split(F2.lower("text"), " ")).alias("word")
    ).filter(F2.col("word") != "")
    got_doc = {
        r.doc_id: (r.n_tokens, r.total_cost_micro)
        for r in dw.join(
            seg2.select("word", "n_pieces", "wcost"), "word"
        )
        .groupBy("doc_id")
        .agg(
            F2.sum("n_pieces").cast("bigint").alias("n_tokens"),
            F2.sum("wcost").cast("bigint").alias("total_cost_micro"),
        )
        .collect()
    }
    assert got_doc == {i: v for i, v in enumerate(exp_perdoc)}, got_doc


def test_t23_fixture_nonvacuous_compression(spark, sf_dir):
    """On the fixtures the trained model must actually compress:
    total subword tokens strictly below total characters (multi-char
    pieces fired) and strictly above total words (no word is one
    piece of cost 0 — the inventory is subword-grained with max
    piece 4 < max word length 8); and the piece table must carry
    used multi-char pieces."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.operators.text_ext import unigram_lm_train
    from hive_to_es_spark.registry import queries

    docs = load_tables(spark, sf_dir).documents
    pieces, _ = unigram_lm_train(docs)
    multi_used = pieces.filter(
        (F.length("piece") > 1) & (F.col("cnt") > 0)
    ).count()
    assert multi_used > 0
    out = queries()["t23_unigram_lm_train"](spark, sf_dir).collect()
    n_tokens = sum(r.n_tokens for r in out)
    stats = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "").agg(
        F.count("*").alias("n_words"),
        F.sum(F.length("w")).alias("n_chars"),
    ).first()
    assert stats.n_words < n_tokens < stats.n_chars, (
        stats.n_words, n_tokens, stats.n_chars,
    )


def test_t26_encode_matches_t23_accounting(spark, sf_dir):
    """Encode-with-final-model ≡ the final E-step: t26's per-doc
    (n_tokens, total_cost_micro) must equal t23's output row-for-row
    (same model, same DP, same tie-break — any drift in the id
    assignment or reassembly that touched segmentation would show
    here), the token-id stream must carry exactly n_tokens ids, and
    every id must be a valid 1..|inventory| rank."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.operators.text_ext import unigram_lm_train
    from hive_to_es_spark.registry import queries

    t23 = {
        r.doc_id: (r.n_tokens, r.total_cost_micro)
        for r in queries()["t23_unigram_lm_train"](spark, sf_dir).collect()
    }
    t26 = queries()["t26_unigram_lm_encode"](spark, sf_dir).collect()
    assert len(t26) == len(t23)
    n_pieces = unigram_lm_train(
        load_tables(spark, sf_dir).documents
    )[0].count()
    for r in t26:
        assert (r.n_tokens, r.total_cost_micro) == t23[r.doc_id], r.doc_id
        ids = [int(x) for x in r.token_ids.split(",")]
        assert len(ids) == r.n_tokens, r.doc_id
        assert all(1 <= i <= n_pieces for i in ids), r.doc_id


def test_e14_horizon_chain_depth4_and_edges(spark):
    """dedup_within_horizon's general greedy recursion on a
    hand-built frame the registered input never produces: key 1 has
    copies every 45 min against a 60-min horizon, so the chain is
    keep 0:00 (horizon 1:00) -> drop 0:45 -> keep 1:30 (horizon
    2:30) -> drop 2:15 -> keep 3:00 — three rounds of the iterative
    plan, one more than the registered input ever needs; key 2 has a
    copy exactly AT the horizon boundary (kept — the >= contract);
    key 3 is a singleton. Expected keeps derived by hand."""
    import datetime as dt

    from hive_to_es_spark.streaming.ops import dedup_within_horizon

    def t(m):
        return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=m)

    rows = [
        # key 1: copies at 0, 45, 90, 135, 180 -> keep 0, 90, 180
        *[(1, t(m), 1.0) for m in (0, 45, 90, 135, 180)],
        # key 2: copies at 0 and exactly 60 -> BOTH kept (>= horizon)
        (2, t(0), 2.0),
        (2, t(60), 2.0),
        # key 3: singleton
        (3, t(7), 3.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    got = sorted(
        (r.event_id, r.ts.minute + 60 * r.ts.hour)
        for r in dedup_within_horizon(df, delay_minutes=60).collect()
    )
    assert got == [
        (1, 0), (1, 90), (1, 180),
        (2, 0), (2, 60),
        (3, 7),
    ], got


def test_e14_max_rounds_cap_boundary(spark):
    """VERDICT r13 task 4: the horizon-chain loop must be depth-capped,
    not input-bounded. A hand-built 5-deep chain (copies every 60 min
    at the >= boundary, so every copy is kept and each round retires
    exactly one) must SUCCEED at max_rounds = 5 and raise the explicit
    capped error (naming the streaming fallback) at max_rounds = 4 —
    both arms of the guard, at the exact boundary."""
    import datetime as dt

    import pytest

    from hive_to_es_spark.streaming.ops import dedup_within_horizon

    def t(m):
        return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=m)

    df = spark.createDataFrame(
        [(1, t(60 * i), 1.0) for i in range(5)],
        "event_id long, ts timestamp, value double",
    )
    ok = dedup_within_horizon(df, delay_minutes=60, max_rounds=5).collect()
    assert len(ok) == 5, ok  # every copy sits AT the horizon: all kept
    with pytest.raises(RuntimeError, match="max_rounds|streaming form"):
        dedup_within_horizon(df, delay_minutes=60, max_rounds=4)


def test_e14_registered_input_has_both_arms(spark, sf_dir):
    """Non-vacuity for the registered key: the redelivered input must
    carry BOTH within-horizon duplicates (so the drop arm does real
    work) and beyond-horizon redeliveries (so some key legitimately
    emits twice — the eviction arm), and the output must show it:
    n_out strictly between n_unique_keys and n_input, with at least
    one key appearing exactly twice."""
    from collections import Counter

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries
    from hive_to_es_spark.streaming.ops import e14_redelivered_input

    ev = load_tables(spark, sf_dir).events
    duped = e14_redelivered_input(ev)
    n_in, n_keys = duped.count(), ev.count()
    assert n_in > n_keys  # redelivery really happened
    out = queries()["e14_stream_dedup_watermarked"](spark, sf_dir).collect()
    assert n_keys < len(out) < n_in, (n_keys, len(out), n_in)
    mult = Counter(r.event_id for r in out)
    assert max(mult.values()) == 2  # eviction arm: re-emitted keys
    assert sum(1 for v in mult.values() if v == 2) > 0


def test_o15_bucket_boundary_geometry(spark):
    """perplexity_buckets on hand-built score frames: (a) nine
    distinct scores split exactly 3/3/3 at the 1/3 and 2/3 ranks; (b)
    an all-equal corpus collapses entirely into head (both boundaries
    are the one score); (c) a boundary TIE group lands wholly in the
    better bucket — [10,10,10,5] puts all three 10s in head (quota 2,
    tie-inclusive) and the 5 in tail, middle empty. Head rate is
    1.0, so n_kept == n_docs there by construction."""
    from hive_to_es_spark.operators.sort_set import perplexity_buckets

    def run(scores):
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(scores)],
            "doc_id long, score_fp long",
        )
        return {
            r.bucket: (r.n_docs, r.n_kept, r.min_score_fp, r.max_score_fp)
            for r in perplexity_buckets(df).collect()
        }

    a = run([90, 80, 70, 60, 50, 40, 30, 20, 10])
    assert a["head"][:1] == (3,) and a["head"][2:] == (70, 90), a
    assert a["middle"][:1] == (3,) and a["middle"][2:] == (40, 60), a
    assert a["tail"][:1] == (3,) and a["tail"][2:] == (10, 30), a
    assert a["head"][1] == 3  # head keep-rate is 1.0

    b = run([5, 5, 5, 5, 5, 5])
    assert set(b) == {"head"} and b["head"][0] == 6, b

    c = run([10, 10, 10, 5])
    assert set(c) == {"head", "tail"}, c
    assert c["head"][0] == 3 and c["tail"][0] == 1, c


def test_o15_fixture_buckets_nonvacuous(spark, sf_dir):
    """On the fixtures all three buckets must be populated, bucket
    score ranges must be disjoint and ordered (head > middle > tail),
    and the kept fraction must follow the configured rates: head
    keeps everything, middle keeps a strict subset, tail keeps least
    (the mixture does actual thinning in both lower buckets)."""
    from hive_to_es_spark.registry import queries

    rows = {
        r.bucket: r
        for r in queries()["o15_perplexity_buckets"](spark, sf_dir).collect()
    }
    assert set(rows) == {"head", "middle", "tail"}, rows
    assert rows["head"].min_score_fp > rows["middle"].max_score_fp
    assert rows["middle"].min_score_fp > rows["tail"].max_score_fp
    assert rows["head"].n_kept == rows["head"].n_docs
    mid_frac = rows["middle"].n_kept / rows["middle"].n_docs
    tail_frac = rows["tail"].n_kept / rows["tail"].n_docs
    assert 0 < tail_frac < mid_frac < 1, (mid_frac, tail_frac)


def test_x15_pagerank_dangling_vs_python_replay(spark):
    """Exact replay of the integer-ppb update on a hand-built graph
    whose fixture-rendered counterpart never occurs: a dangling node
    (in-links, no out-links), an unequal-weight fan-out, and a
    no-inlink source. The pure-Python replay implements the update
    rule independently; ranks must match EXACTLY (integer arithmetic,
    no float tolerance)."""
    from hive_to_es_spark.operators.scalars import pagerank

    #   1 -> 2 (w=3), 1 -> 3 (w=1), 2 -> 3 (w=1); 3 dangling; 1 no inlinks
    edges = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1), (2, 3, 1)], "src long, dst long, w long"
    )
    got = {r["v"]: (r["has_out"], r["r"]) for r in pagerank(edges).collect()}

    nodes, n = [1, 2, 3], 3
    wppm = {(1, 2): 3 * 1_000_000 // 4, (1, 3): 1_000_000 // 4, (2, 3): 1_000_000}
    has_out = {1: True, 2: True, 3: False}
    r = {v: 1_000_000_000 // n for v in nodes}
    base = (1_000_000_000 - 850_000_000) // n
    for _ in range(5):
        contrib = {v: 0 for v in nodes}
        for (s, d), w in wppm.items():
            contrib[d] += r[s] * w // 1_000_000
        dang = sum(r[v] for v in nodes if not has_out[v])
        r = {v: base + 850 * (contrib[v] + dang // n) // 1000 for v in nodes}
    assert got == {v: (has_out[v], r[v]) for v in nodes}
    # sanity on the rendered-corpus key itself: full mass ~1e9, spread
    from hive_to_es_spark.registry import queries

    rows = queries()["x15_domain_pagerank"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    total = sum(x["rank_ppb"] for x in rows)
    assert 0.99e9 < total <= 1e9  # floor-leak only
    assert len({x["rank_ppb"] for x in rows}) > 1  # non-uniform


def test_d19_pair_program_hand_frame(spark):
    """The array pair-explosion must emit every unordered source pair
    exactly once per shared fingerprint, with correct ppm Jaccard —
    pinned on a hand-built frame with a 3-source fingerprint (3 pairs),
    a 2-source one and two singletons (no pairs)."""
    from hive_to_es_spark.registry import queries
    import os
    import tempfile

    # fp F1 in s1,s2,s3 via identical 8-word prefixes; F2 in s1,s2
    t1 = "alpha beta gamma delta epsilon zeta eta theta tail-%d"
    t2 = "one two three four five six seven eight tail-%d"
    docs = [
        (1, t1 % 1, "s1"), (2, t1 % 2, "s2"), (3, t1 % 3, "s3"),
        (4, t2 % 4, "s1"), (5, t2 % 5, "s2"),
        (6, "unique a b c d e f g h", "s1"),
        (7, "another q w e r t y u i", "s3"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "documents.parquet")
        df.coalesce(1).write.parquet(path)
        got = {
            (r.source_a, r.source_b): (r.n_shared, r.n_a, r.n_b, r.jaccard_ppm)
            for r in queries()["d19_source_overlap"](spark, d).collect()
        }
    # s1: {F1,F2,u} n=3; s2: {F1,F2} n=2; s3: {F1,a} n=2
    assert got == {
        ("s1", "s2"): (2, 3, 2, 2_000_000 // 3),      # J = 2/3
        ("s1", "s3"): (1, 3, 2, 1_000_000 // 4),      # J = 1/4
        ("s2", "s3"): (1, 2, 2, 1_000_000 // 3),      # J = 1/3
    }


def test_d20_keep_first_across_and_within_docs(spark):
    """The CCNet keep-first rule on a hand-built frame: a chunk
    repeated across docs survives only in the earliest doc; a chunk
    repeated within one doc survives only at its earliest position;
    t13 (df>=3 removal) would treat both differently."""
    from hive_to_es_spark.operators.text_ext import paragraph_dedup

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),       # paras: "a b c", "d e f"
            (2, "a b c x y z"),       # "a b c" dropped (doc 1 has it)
            (3, "p q r p q r"),       # second "p q r" dropped
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_paras, r.n_dropped, r.cleaned_text)
        for r in paragraph_dedup(df).collect()
    }
    assert got == {
        1: (2, 0, "a b c d e f"),
        2: (2, 1, "x y z"),
        3: (2, 1, "p q r"),
    }


def test_a23_hub_cells_always_flag(spark, sf_dir):
    """The 5 rendered hub cells (hub h at cell (4+6h, 3+5h)) must flag
    as hotspots at any SF; the overwhelming majority of cells must
    not; and every flagged cell must actually satisfy the present-cell
    cross-multiplied rule."""
    from hive_to_es_spark.registry import queries

    rows = queries()["a23_grid_hotspots"](spark, sf_dir).collect()
    by_cell = {(r.cx, r.cy): r for r in rows}
    hubs = {(4 + 6 * h, 3 + 5 * h) for h in range(5)}
    for hub in hubs:
        assert by_cell[hub].hotspot, hub
    flagged = [r for r in rows if r.hotspot]
    assert len(flagged) < len(rows) / 10  # hotspots are the exception
    for r in rows:
        assert r.hotspot == (r.n_points * r.nbhd_cells > 2 * r.nbhd_points)


def test_t24_entropy_hand_values(spark):
    """char_entropy on hand-built strings with closed-form entropy:
    a single-char run has H = 0; an even two-char alternation
    H = ln 2; a uniform 12-char alphabet H = ln 12 (= 2.4849, the
    only one above the 2.4-nat gate). Values checked to the output's
    4-dp rounding; decisions by the registered rule."""
    import math

    from hive_to_es_spark.operators.text_ext import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaa"),
            (2, "abababab"),
            (3, "abcdefghijkl"),
        ],
        "doc_id long, rtext string",
    )
    got = {
        r.doc_id: (r.n_chars_ent, round(r._ent, 4))
        for r in char_entropy(df).collect()
    }
    assert got[1] == (4, 0.0), got[1]
    assert got[2] == (8, round(math.log(2), 4)), got[2]
    assert got[3] == (12, round(math.log(12), 4)), got[3]


def test_t24_empty_text_guarded(spark):
    """ADVICE r13: text = '' leaves a zero-char census and the
    unguarded ends filter crashed with INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    (sequence(1, 0) steps DOWNWARD — the dsir pitfall). The guard must
    emit an explicit row (n = 0, entropy 0.0) instead of crashing, and
    the all-whitespace-class doc ('   ' splits to spaces, which ARE
    chars) must still flow through the normal arm."""
    from hive_to_es_spark.operators.text_ext import char_entropy

    df = spark.createDataFrame(
        [(1, ""), (2, "ab")], "doc_id long, rtext string"
    )
    got = {
        r.doc_id: (r.n_chars_ent, round(r._ent, 4))
        for r in char_entropy(df).collect()
    }
    assert got[1] == (0, 0.0), got[1]
    assert got[2][0] == 2, got[2]


def test_t24_fixture_gate_nonvacuous(spark, sf_dir):
    """The rendered %17 low-entropy arm must drop IN FULL and every
    clean doc must keep — the gate separates the two populations
    with real margin on the fixtures (clean min 2.547 vs rendered
    ~2.1 vs gate 2.4)."""
    from hive_to_es_spark.registry import queries

    rows = queries()["t24_char_entropy"](spark, sf_dir).collect()
    dec = {r.doc_id: r.decision for r in rows}
    assert set(dec.values()) == {"keep", "drop"}
    for doc_id, d in dec.items():
        assert d == ("drop" if doc_id % 17 == 0 else "keep"), (doc_id, d)


def test_t25_topk_oov_hand_values(spark):
    """t25's scoring rule on a hand-built corpus with K forced tiny:
    with vocab = top-1 ('aa' x 3 of 5 words), every other word runs
    through the OOV bucket (c_unk = 2): doc 1 = [aa, aa, bb] scores
    mean(ln .6, ln .6, ln .4), doc 2 = [aa, cc] mean(ln .6, ln .4) —
    derived by hand; OOV counts exact. Exercises the registered rule
    off-fixture via a monkeypatched K."""
    import math

    import hive_to_es_spark.operators.text_ext as tx

    df = spark.createDataFrame(
        [(1, "aa aa bb"), (2, "aa cc")], "doc_id long, text string"
    )
    import hive_to_es_spark.io as io_mod

    orig_k, orig_load = tx._T25_K, io_mod.load_tables

    class _T:
        documents = df

    tx._T25_K = 1
    tx.load_tables = lambda spark, sf_dir: _T()
    try:
        got = {
            r.doc_id: (r.lm_topk_score, r.n_oov)
            for r in tx.t25_lm_score_topk(spark, "ignored").collect()
        }
    finally:
        tx._T25_K = orig_k
        tx.load_tables = orig_load
    exp1 = round((2 * math.log(3 / 5) + math.log(2 / 5)) / 3, 4)
    exp2 = round((math.log(3 / 5) + math.log(2 / 5)) / 2, 4)
    assert got == {1: (exp1, 1), 2: (exp2, 1)}, got


def test_t25_fixture_oov_nonvacuous_and_tracks_t8(spark, sf_dir):
    """K=20 < the 31-word fixture vocabulary, so OOV must fire on
    real docs (some n_oov > 0) AND some docs must be fully in-vocab
    (n_oov = 0); and for a fully in-vocab doc the top-K score equals
    t8's full-tail score exactly (same probabilities for vocab
    words), pinning the two models' shared core."""
    from hive_to_es_spark.registry import queries

    t25 = {
        r.doc_id: r
        for r in queries()["t25_lm_score_topk"](spark, sf_dir).collect()
    }
    oov_counts = {r.n_oov for r in t25.values()}
    assert any(v > 0 for v in oov_counts)
    full_vocab_docs = [d for d, r in t25.items() if r.n_oov == 0]
    assert full_vocab_docs
    t8 = {
        r.doc_id: r.lm_score
        for r in queries()["t8_unigram_lm_score"](spark, sf_dir).collect()
    }
    for d in full_vocab_docs[:50]:
        assert abs(t8[d] - t25[d].lm_topk_score) < 1e-9, (
            d, t8[d], t25[d].lm_topk_score,
        )


def test_p26_accounting_telescopes_and_stages_fire(spark, sf_dir):
    """p26's accounting must be internally consistent (n_in -
    n_removed == n_out per stage; n_out telescopes into the next
    stage's n_in; stage 1 sees the whole non-null corpus) and the
    pipeline must do real work: the URL canon, langid, quality,
    repetition and decontamination stages each remove documents at
    every SF (entropy / near-dedup / mixture arms are additionally
    non-vacuous at sf0.1 — binomial/threshold stages legitimately
    fire at zero on a 79-survivor sf0.01 tail), and a non-empty
    mixture survives the full chain."""
    from pyspark.sql import functions as F

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.registry import queries

    rows = sorted(
        queries()["p26_llm_corpus_pipeline"](spark, sf_dir).collect(),
        key=lambda r: r.stage_no,
    )
    assert [r.stage for r in rows] == [
        "url_canon", "langid", "quality", "repetition",
        "entropy", "near_dedup", "decontaminate", "mixture",
    ]
    n_base = (
        load_tables(spark, sf_dir)
        .documents.filter(F.col("text").isNotNull())
        .count()
    )
    assert rows[0].n_in == n_base
    for i, r in enumerate(rows):
        assert r.n_in - r.n_removed == r.n_out, r
        if i + 1 < len(rows):
            assert r.n_out == rows[i + 1].n_in, (r, rows[i + 1])
    for idx in (0, 1, 2, 3, 6):  # url, langid, quality, rep, decon
        assert rows[idx].n_removed > 0, rows[idx]
    assert rows[-1].n_out > 0, rows[-1]


def test_langid_multisplit_parity(spark, sf_dir):
    """langid_predictions on a multi-split input returns exactly the
    rows of the single-split run. Every fixture scans as one split, so
    without the repartition the profile aggregate, the broadcast score
    join and both row_number windows never see rows spread across
    tasks."""
    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.operators.text_ext import langid_predictions

    d = load_tables(spark, sf_dir).documents

    def rows(df):
        return sorted((r.doc_id, r.lang, r.predicted) for r in df.collect())

    base = rows(langid_predictions(d))
    assert len(base) > 0
    assert rows(langid_predictions(d.repartition(4))) == base


def test_split_empty_separator_pin():
    """ADVICE r14: _bigrams_from_chars silently depends on
    F.split(text, '') emitting one element per character with NO
    trailing empty string (Java's Pattern.split with limit -1 has
    historically kept trailing empties). Pin the exact cases the
    docstring guard reasons about — 'ab', 'a', '' and NULL — so a
    Spark upgrade that shifts the behavior fails loudly here instead
    of silently adding a spurious last-char 'bigram' to every doc."""
    from pyspark.sql import functions as F
    from hive_to_es_spark.session import get_spark

    spark = get_spark("split-pin")
    rows = (
        spark.createDataFrame(
            [("ab",), ("a",), ("",), (None,)], "t string"
        )
        .select(F.split("t", "").alias("ch"))
        .collect()
    )
    assert rows[0].ch == ["a", "b"], rows[0].ch
    assert rows[1].ch == ["a"], rows[1].ch
    assert rows[2].ch == [""], rows[2].ch
    assert rows[3].ch is None, rows[3].ch
