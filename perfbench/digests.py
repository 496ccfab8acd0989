"""Canonical digests of workload outputs, and the expected ones.

Every output is reduced to ``(row count, digest)``:

- parquet sinks and DuckDB relations: each row becomes its cells in
  column-name order, rendered as text (timestamps as epoch
  microseconds, NULL as ``<NULL>``) and joined with \\x1f; the digest is
  the sum of the first 60 bits of each row's md5, computed in DuckDB;
- ES indexes: ``mock_es.doc_digest`` over ``(_id, source JSON)``;
- collected operator results: the rows canonicalized as the package's
  oracle gate does (sorted column names, floats at 6 dp, rows sorted)
  and hashed with sha256.

``regenerate`` computes the expected digests from DuckDB over the
generated inputs (the equivalent SQL for sync jobs, each operator's
registered oracle for corpus_ops) and writes expected.json, which is
committed; the corpus oracles are too slow to run on every benchmark
run.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os

import pyarrow as pa

import datagen
import mock_es
import workloads

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def data_fingerprint(tables: dict[str, pa.Table]) -> str:
    """sha256 over the Arrow IPC form of every generated table."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as writer:
            writer.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def duck_connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in datagen.SIZES.keys() | {"region", "nation"}:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def relation_digest(con, sql: str) -> dict:
    """Row count and order-independent digest of a DuckDB relation."""
    cols = con.execute(f"DESCRIBE {sql}").fetchall()
    cells = []
    for name, typ, *_ in sorted(cols):
        ref = f'"{name}"'
        text = f"epoch_us({ref})" if typ.startswith("TIMESTAMP") else ref
        cells.append(f"coalesce(CAST({text} AS VARCHAR), '<NULL>')")
    row = f"concat_ws(chr(31), {', '.join(cells)})"
    n, total = con.execute(
        f"SELECT count(*), coalesce(sum(CAST('0x' || substr(md5({row}), 1, 15) AS BIGINT)), 0)"
        f" FROM ({sql})"
    ).fetchone()
    return {"rows": int(n), "digest": str(total)}


def parquet_digest(con, path: str) -> dict:
    return relation_digest(
        con, f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
    )


def _iso(v):
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    raise TypeError(f"not JSON-serializable: {type(v).__name__}")


def es_doc(columns: list[str], row: tuple) -> bytes:
    """The source JSON the es_http sink sends for one projected row."""
    return json.dumps(
        dict(zip(columns, row)), default=_iso, sort_keys=True, separators=(",", ":")
    ).encode()


def expected_es_index(con, cutoff: str) -> dict:
    """The ``orders`` index after orders_full then orders_incr."""

    def project(cols: dict[str, str], where: str = "TRUE"):
        sel = ", ".join(f"{expr} AS {name}" for name, expr in cols.items())
        cur = con.execute(f"SELECT {sel} FROM orders WHERE {where}")
        names = [d[0] for d in cur.description]
        return {str(r[0]): es_doc(names, r) for r in cur.fetchall()}

    docs = project(workloads.ORDERS_FULL_COLUMNS)
    incr = project(workloads.ORDERS_INCR_COLUMNS, workloads.orders_incr_filter(cutoff))
    docs.update(incr)
    n, digest = mock_es.doc_digest(docs.items())
    return {"rows": n, "digest": digest, "incr_rows": len(incr)}


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_digest(columns: list[str], rows) -> dict:
    """Digest of a collected result, independent of row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return {"rows": len(lines), "digest": h.hexdigest()}


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def regenerate(data_dir: str) -> dict:
    """Compute every expected digest over the inputs in ``data_dir``
    (written by ``datagen.write_tables``) and store them in expected.json."""
    from hive_to_es_spark.registry import oracles

    con = duck_connect(data_dir)
    out = {
        "data_sha256": data_fingerprint(datagen.tables()),
        "es_index": {c: expected_es_index(con, c) for c in workloads.ORDER_CUTOFFS},
        "parquet": {
            "cust_day_rev": relation_digest(con, workloads.CUST_DAY_REV_SQL),
            "lineitem_copy": relation_digest(con, "SELECT * FROM lineitem"),
            "lineitem_incr": {
                c: relation_digest(
                    con, f"SELECT * FROM lineitem WHERE {workloads.lineitem_incr_filter(c)}"
                )
                for c in workloads.LINEITEM_CUTOFFS
            },
        },
        "corpus_ops": {},
    }
    sqls = oracles()
    for key in workloads.OPS:
        cur = con.execute(sqls[key])
        out["corpus_ops"][key] = rows_digest([d[0] for d in cur.description], cur.fetchall())
    with open(EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return out
