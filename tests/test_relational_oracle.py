"""Every relational query hash-matches its DuckDB oracle at sf0.001."""

from __future__ import annotations

import pytest

from datafoundation_multi_source_retail_data_integration_hub_spark.queries import relational

from .conftest import SF_SMOKE
from .oracle import compare_case, oracle_cases


@pytest.mark.parametrize("name,prepared", oracle_cases(relational))
def test_relational_query_matches_oracle(spark, name, prepared):
    compare_case(spark, SF_SMOKE, relational, name, prepared)


def test_flagship_nonempty(spark):
    df = relational.flagship_star_revenue(spark, SF_SMOKE)
    assert df.count() > 0
