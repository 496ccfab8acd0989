"""Deterministic input tables for the benchmark.

The benchmark runs from a bare checkout, so it cannot rely on any
fixture directory outside it. This module writes the ten tables that
``hive_to_es_spark.io.TABLES`` names, with the column names and
physical types the package reads (TPC-H-ish star schema, an events
stream and the LLM-corpus tables), from a fixed generator seed. The
workload seed never reaches this module: it only picks incremental
cutoffs (workloads.py), so the committed expected digests hold for
every run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20261016

# Row counts: a fifth of the sf0.1 fixture shape (documents too), so
# that set-up, a cold pass and several warm passes of every workload fit
# in one run of well under a minute on 4 cores.
SIZES = {
    "customer": 3_000,
    "supplier": 200,
    "part": 4_000,
    "orders": 30_000,
    "lineitem": 120_000,
    "events": 5_000,
    "documents": 1_000,
    "embeddings": 200,
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "zh", "fr", "es"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - ORDER_DAY0).astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_ms(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[ms]"), type=pa.timestamp("ms"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Space-separated vocabulary words, 15-65 per doc, with ~1% exact
    duplicates and ~2% near duplicates (a few words swapped) so the
    dedup operators have groups to find."""
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.03:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(15, 66))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
    })


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(GEN_SEED)
    s = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    n = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    n = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })
    n = s["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(n)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(11, 56, n)]),
        "p_type": _pick(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"], n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(_money(rng, 900, 2100, n)),
    })
    n = s["orders"]
    order_days = ORDER_DAY0 + rng.integers(0, ORDER_DAYS + 1, n)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n, p=[0.49, 0.49, 0.02]),
        "o_totalprice": pa.array(_money(rng, 850, 550_000, n)),
        "o_orderdate": _ts_ms(order_days),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })
    n = s["lineitem"]
    l_order = rng.integers(0, s["orders"], n)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, s["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts_ms(order_days[l_order] + rng.integers(1, 96, n)),
    })
    n = s["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 29 * 86_400_000_000, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.uniform(0, 100, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 10, n)]),
    })
    out["documents"] = _documents(rng, s["documents"])
    n = s["embeddings"]
    emb = rng.standard_normal((n, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })
    return out


def write_tables(data_dir: str, tabs: dict[str, pa.Table]) -> None:
    """Write each table as ``<data_dir>/<name>.parquet`` (one file each,
    like the fixture directories the package reads)."""
    os.makedirs(data_dir, exist_ok=True)
    for name, table in tabs.items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
