"""Registry-consolidation safety net: every framing merged OUT of the
50-entry query registry that is still the sole oracle pin of a public
entry point keeps full DuckDB hash-parity here, with the same compare
tools/check_oracle.py applies (shared via etl_pack_spark.oracle)."""

from __future__ import annotations

import pytest

from etl_pack_spark import suite
from etl_pack_spark.oracle import canon_frame, duck_connect


@pytest.mark.parametrize("name", sorted(suite.RETIRED_QUERIES))
def test_retired_query_keeps_oracle_parity(spark, sf_dir, name):
    got = suite.RETIRED_QUERIES[name](spark, sf_dir).toPandas()
    want = duck_connect(sf_dir).execute(suite.RETIRED_ORACLES[name]).fetchdf()
    assert sorted(got.columns.str.lower()) == sorted(want.columns.str.lower())
    got.columns = [c.lower() for c in got.columns]
    want.columns = [c.lower() for c in want.columns]
    a, b = canon_frame(got), canon_frame(want)
    assert len(a) == len(b) > 0
    assert a == b


def test_retired_sets_are_consistent():
    # a retired query must not also be registered, and each has an oracle
    assert not set(suite.RETIRED_QUERIES) & set(suite.QUERIES)
    assert set(suite.RETIRED_QUERIES) == set(suite.RETIRED_ORACLES)
