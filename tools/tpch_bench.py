#!/usr/bin/env python
"""Run all 22 TPC-H query shapes at $SPARK_GRAFT_SF_DIR (default
sf0.1) and write docs/TPCH.md with per-query wall times (best-of-3
collect() after a warm-up, the BASELINE.md method).

Shape key: a1 is Q1; q2..q22 are their numbered shapes (fixture-
adapted where official columns are absent — see operators/tpch_ext.py
docstrings for each adaptation).

Usage: python tools/tpch_bench.py   (~1 min)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_to_es_spark.registry import queries
from hive_to_es_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DOC_MD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "TPCH.md"
)

# Q-number -> registry key (a1 doubles as Q1; j11 is the Q5 join used
# as the flagship, q5 is the full Q5 shape with the cross-dim edge).
TPCH = {
    1: "a1_hash_agg", 2: "q2_min_cost", 3: "q3_shipping_priority",
    4: "q4_order_priority", 5: "q5_local_supplier", 6: "q6_forecast_revenue",
    7: "q7_volume_shipping", 8: "q8_market_share", 9: "q9_product_profit",
    10: "q10_returned_items", 11: "q11_important_stock", 12: "q12_shipmode_priority",
    13: "q13_customer_distribution", 14: "q14_promo_revenue", 15: "q15_top_supplier",
    16: "q16_supplier_variety", 17: "q17_small_quantity", 18: "q18_large_orders",
    19: "q19_disjunctive_revenue", 20: "q20_excess_stock", 21: "q21_waiting_supplier",
    22: "q22_global_sales_opportunity",
}


def main() -> int:
    spark = get_spark("tpch_bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    lines = [
        "# TPC-H — all 22 query shapes, measured",
        "",
        f"Per-query best-of-3 collect() after warm-up at {SF_DIR},",
        f"{spark.sparkContext.master} (BASELINE.md method). Shapes are"
        " fixture-adapted where",
        "official columns are absent (operators/tpch_ext.py documents each",
        "adaptation); all 22 hash-verify vs DuckDB (tools/check.py).",
        "",
        "| Q | key | rows | best (s) |",
        "|---|---|---|---|",
    ]
    total = 0.0
    for qn, key in TPCH.items():
        df = qs[key](spark, SF_DIR)
        rows = len(df.collect())
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df.collect()
            best = min(best, time.perf_counter() - t0)
        total += best
        lines.append(f"| {qn} | `{key}` | {rows} | {best:.3f} |")
    lines += ["", f"**Total: {total:.3f} s** for the 22-query suite.", ""]
    with open(DOC_MD, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {DOC_MD}; total={total:.3f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
