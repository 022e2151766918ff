"""The pure-SQL user surface: `register_tables` + `spark.sql` must
produce the same results as the DataFrame API for the ANSI subset of
the suite's oracle strings (the same text DuckDB runs).

This pins engine-dialect neutrality: a reference user migrating raw SQL
can run it unchanged on this engine's views.
"""

from __future__ import annotations

import pytest

from etl_pack_spark import suite
from etl_pack_spark.sources.reader import register_tables

# oracle strings that are plain ANSI SQL (no DuckDB list_* / QUALIFY /
# lateral), runnable verbatim on spark.sql
ANSI_KEYS = [
    "p2_window",
    "p4_page",
    # agg_pricing_summary left r4: its oracle gained quantile_cont
    # (DuckDB spelling of percentile_cont) — no longer verbatim-ANSI.
    "join_revenue_by_nation",
    "tpch_q3_like",
    "tpch_q5_like",
    "set_except",
    "dedup_exact_docs",
]


@pytest.mark.parametrize("name", ANSI_KEYS)
def test_spark_sql_matches_dataframe_api(spark, sf_dir, name):
    register_tables(spark, sf_dir)
    # retired (merged-away) entries keep their SQL surface pinned too
    oracles = {**suite.ORACLES, **suite.RETIRED_ORACLES}
    queries = {**suite.QUERIES, **suite.RETIRED_QUERIES}
    via_sql = spark.sql(oracles[name])
    via_df = queries[name](spark, sf_dir)
    a = sorted(map(tuple, via_sql.collect()))
    b = sorted(map(tuple, via_df.collect()))
    assert [c.lower() for c in via_sql.columns] == [c.lower() for c in via_df.columns]
    assert len(a) == len(b)
    if name != "set_except":  # legitimately empty at sf0.001
        assert len(a) > 0
    assert a == b
