"""Physical-plan audit of the headline queries at sf0.1: each query must
compile to a plan shape that holds up on a large cluster. The checks
fail on known pathologies:

  - BroadcastNestedLoopJoin / CartesianProduct anywhere
  - an un-partitioned (global) Window
  - the ts-range scan not reaching PushedFilters
  - missing broadcast on the dimension joins
  - extra Exchanges on the as-of / window joins and interp
  - a second scan of events for interp
"""

import re

import pytest

SF = "/root/testdata/sf0.1"

AUDITED = [
    "scan_filter_project",
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "interval_1h_by_type",
    "interval_fill_prev",
    "session_windows_30m",
    "asof_join_purchase_click",
    "window_join_5m",
    "interp_linear_daily",
    "last_row_per_user",
    "cosine_topk_bruteforce",
    "dedup_exact_documents",
    "slimit_first_groups",
    "over_clause_analytics",
    "diff_csum_mavg",
    "external_window_agg",
    "interp_prev_6h",
]


@pytest.mark.parametrize("name", AUDITED)
def test_plan_shape(spark, name):
    import tdengine_spark.queries_extra  # noqa: F401
    import tdengine_spark.queries_pipeline  # noqa: F401
    from tdengine_spark.queries import REGISTRY

    df = REGISTRY[name].spark_fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    exch = p.count("Exchange")
    if name != "cosine_topk_bruteforce":
        # brute-force ANN is a deliberate broadcast cross join
        bnlj = p.count("BroadcastNestedLoopJoin") + p.count("CartesianProduct")
        assert bnlj == 0, "nested-loop/cartesian join"
    # an un-partitioned Window funnels every row into one partition:
    # windowspecdefinition's first arg being an order-spec (ASC/DESC)
    # means there are no partition columns
    assert not re.search(
        r"windowspecdefinition\([^,()]+ (ASC|DESC)", p
    ), "un-partitioned (global) Window"
    if name == "scan_filter_project":
        m = re.search(r"PushedFilters: \[([^\]]*)", p)
        pushed = m.group(1) if m else ""
        assert "GreaterThanOrEqual(ts" in pushed, "ts range not pushed to parquet"
    if name == "join_revenue_by_nation":
        assert p.count("BroadcastHashJoin") >= 2, "dimension joins not broadcast"
    if name == "asof_join_purchase_click":
        assert exch <= 2, f"as-of join shuffles {exch}x"
    if name == "window_join_5m":
        assert exch <= 3, f"window join shuffles {exch}x"
    if name in ("interp_linear_daily", "interp_prev_6h"):
        # single-fact-scan contract: key spine from the catalog tag
        # domain, not a second scan of events; ≤2 exchanges (window
        # hash + output range sort)
        scans = p.count("events.parquet")
        assert scans <= 1, f"{scans} scans of events"
        assert exch <= 2, f"interp shuffles {exch}x"
