"""Workload definitions: which registered queries one pass runs."""

from __future__ import annotations

TPCH = (
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_top_unshipped",
    "order_priority_exists",  # Q4
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_profit_by_nation",
    "q10_returned_items",
    "q11_important_stock",
    "q12_priority_shipmode",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_count",
    "q17_small_qty_revenue",
    "q18_large_orders",
    "q19_discounted_revenue",
    "q20_dominant_suppliers",
    "q21_waiting_suppliers",
    "q22_global_sales_opportunity",
    "orders_market_basket",  # memo-cold: builds its item-pair memo every time
)

# The reference's four tools plus one stream, memos kept.
REFERENCE_IO = (
    "yolo_label_roundtrip",  # annotation -> YOLO label files, written and read back
    "competition_json_roundtrip",  # predictions -> competition JSON, written and read back
    "server_pipeline",  # batched inference through mapInPandas
    "detection_eval",  # IoU evaluation; rides its IoU-pair memo once built
    "events_stream_tumbling",  # stream with checkpoint and state commits
)

WORKLOADS = {"tpch_floor": TPCH, "reference_io": REFERENCE_IO}

# Queries run memo-cold: caching.clear_all_memos() runs before each
# run of them, outside its timing, so every run pays its memo build.
MEMO_COLD = frozenset({"orders_market_basket"})
