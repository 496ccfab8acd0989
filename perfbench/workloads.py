"""The two workloads: their job lists, operators and seed handling.

The seed only picks the incremental cutoff dates (one of
``len(ORDER_CUTOFFS)`` per table), so the expected digests for every
seed fit in the committed expected.json. The program sees only the
resulting ``Job`` list.
"""

from __future__ import annotations

import datetime
import os
import random

# sync and corpus_ops stress disjoint layers: sync runs every sink
# (es_http and parquet) through run_jobs, corpus_ops bypasses run_jobs
# and every sink. Each side is the no-change control for the other.
WORKLOADS = ("sync", "corpus_ops")

# Incremental cutoffs: 1996-12-02 .. 1997-01-31 for orders and
# 1997-12-02 .. 1998-01-31 for lineitem, every 4 days. The window is
# narrow so that the rows an incremental job writes vary by a few
# percent between seeds, not by multiples.
ORDER_CUTOFFS = tuple(
    (datetime.date(1996, 12, 2) + datetime.timedelta(days=4 * i)).isoformat() for i in range(16)
)
LINEITEM_CUTOFFS = tuple(
    (datetime.date(1997, 12, 2) + datetime.timedelta(days=4 * i)).isoformat() for i in range(16)
)

# Warm passes a run makes at least, whatever --seconds says. Warm passes
# keep getting faster for a while (the JIT is still compiling), so runs
# that made fewer passes would report a slower median: with a floor that
# already spans --seconds (18 in BENCHMARK.json), the median is taken
# over the same pass indices in every run. The first warm pass is the
# slowest, so the median of 4 leaves it out.
MIN_WARM_PASSES = {"sync": 4, "corpus_ops": 2}

OPS = (
    "p26_llm_corpus_pipeline",
    "t7_langid_ngram",
    "t22_dsir_importance",
    "d14_canonical_pick",
)

ES_INDEX = "orders"

# orders_full writes every order; orders_incr re-sends the orders on or
# after the cutoff into the same index with `priority` mapped to its
# one-digit code, so the final index shows whether the second job
# replaced documents by _id.
ORDERS_FULL_COLUMNS = {
    "order_id": "o_orderkey",
    "cust_id": "o_custkey",
    "status": "o_orderstatus",
    "total": "o_totalprice",
    "day": "o_orderdate",
    "priority": "o_orderpriority",
}
ORDERS_INCR_COLUMNS = {**ORDERS_FULL_COLUMNS, "priority": "substring(o_orderpriority, 1, 1)"}

# Revenue per customer and order day, in decimal arithmetic so Spark and
# DuckDB agree to the cent. Valid in both dialects.
CUST_DAY_REV_SQL = """
SELECT c.c_nationkey AS nation,
       c.c_custkey AS cust_id,
       CAST(o.o_orderdate AS DATE) AS day,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12, 2))
                * (1 - CAST(l.l_discount AS DECIMAL(4, 2)))) AS DECIMAL(18, 4)) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey, c.c_custkey, CAST(o.o_orderdate AS DATE)
"""


def cutoffs(seed: int) -> dict[str, str]:
    rng = random.Random(seed)
    return {"orders": rng.choice(ORDER_CUTOFFS), "lineitem": rng.choice(LINEITEM_CUTOFFS)}


def orders_incr_filter(cutoff: str) -> str:
    return f"o_orderdate >= DATE '{cutoff}'"


def lineitem_incr_filter(cutoff: str) -> str:
    return f"l_shipdate >= DATE '{cutoff}'"


def sync_jobs(cut: dict[str, str], sink_root: str, es_url: str):
    """The ``Job`` list the sync workload hands to ``pipeline.run_jobs``:
    the ES jobs, then the parquet jobs."""
    from hive_to_es_spark.pipeline import Job

    es = dict(
        source_table="orders",
        id_column="order_id",
        sink_format="es_http",
        es_index=ES_INDEX,
        options={"es.nodes": es_url},
    )
    return [
        Job(name="orders_full", columns=ORDERS_FULL_COLUMNS, mode="overwrite", **es),
        Job(
            name="orders_incr",
            columns=ORDERS_INCR_COLUMNS,
            incremental_filter=orders_incr_filter(cut["orders"]),
            mode="append",
            **es,
        ),
        Job(
            name="cust_day_rev",
            source_sql=CUST_DAY_REV_SQL,
            sink_path=os.path.join(sink_root, "cust_day_rev"),
            partition_by=("nation",),
        ),
        Job(
            name="lineitem_copy",
            source_table="lineitem",
            sink_path=os.path.join(sink_root, "lineitem_copy"),
        ),
        Job(
            name="lineitem_incr",
            source_table="lineitem",
            incremental_filter=lineitem_incr_filter(cut["lineitem"]),
            mode="append",
            sink_path=os.path.join(sink_root, "lineitem_incr"),
        ),
    ]


ES_JOBS = ("orders_full", "orders_incr")
PARQUET_JOBS = ("cust_day_rev", "lineitem_copy", "lineitem_incr")
