"""Digest canonicalization: the expected and the observed side must
reduce the same rows to the same digest whatever their order, and any
changed value must change it."""

from __future__ import annotations

import datetime
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import digests
import mock_es


def test_rows_digest_ignores_row_and_column_order():
    a = digests.rows_digest(["x", "y"], [(1, "a"), (2, None)])
    b = digests.rows_digest(["y", "x"], [(None, 2), ("a", 1)])
    assert a == b and a["rows"] == 2


def test_rows_digest_floats_at_six_places_and_values_matter():
    base = digests.rows_digest(["v"], [(0.1 + 0.2,)])
    assert base == digests.rows_digest(["v"], [(0.3,)])
    assert base != digests.rows_digest(["v"], [(0.300001,)])
    assert digests.rows_digest(["v"], [(None,)]) != digests.rows_digest(["v"], [("None",)])


def test_rows_digest_dates_and_lists():
    d = digests.rows_digest(["t", "l"], [(datetime.datetime(1998, 1, 2), [2, 1])])
    assert d == digests.rows_digest(["t", "l"], [(datetime.datetime(1998, 1, 2, 0, 0), (2, 1))])
    assert d != digests.rows_digest(["t", "l"], [(datetime.datetime(1998, 1, 2), [1, 2])])


def test_relation_digest_matches_parquet_written_elsewhere(tmp_path):
    """A table and a copy of it split over partition directories, with
    the timestamp at another precision, give one digest."""
    con = duckdb.connect()
    src = pa.table({
        "k": pa.array([1, 2, 3], pa.int64()),
        "p": pa.array([0, 1, 1], pa.int32()),
        "t": pa.array([0, 86_400_000, 2 * 86_400_000], pa.timestamp("ms")),
        "v": pa.array([1.5, None, 2.25]),
    })
    pq.write_table(src, tmp_path / "src.parquet")
    for p in (0, 1):
        part = src.filter(pa.compute.equal(src["p"], p)).drop(["p"])
        part = part.set_column(1, "t", part["t"].cast(pa.timestamp("us")))
        os.makedirs(tmp_path / "out" / f"p={p}")
        pq.write_table(part, tmp_path / "out" / f"p={p}" / "part-0.parquet")
    want = digests.relation_digest(con, f"SELECT * FROM read_parquet('{tmp_path}/src.parquet')")
    got = digests.parquet_digest(con, str(tmp_path / "out"))
    assert got == want and want["rows"] == 3
    other = digests.relation_digest(con, f"SELECT k, p, t, v + 1 AS v FROM read_parquet('{tmp_path}/src.parquet')")
    assert other != want


def test_expected_es_doc_is_the_sink_encoding():
    """es_doc must produce the bytes es_http's send_partition sends."""
    row = (5, datetime.datetime(1997, 3, 4), 12.5, "3")
    doc = digests.es_doc(["order_id", "day", "total", "priority"], row)
    assert doc == b'{"day":"1997-03-04T00:00:00","order_id":5,"priority":"3","total":12.5}'
    n, d1 = mock_es.doc_digest([("5", doc), ("6", b"{}")])
    assert (n, d1) == mock_es.doc_digest([("6", b"{}"), ("5", doc)])
    assert d1 != mock_es.doc_digest([("5", doc), ("7", b"{}")])[1]
