"""Answers do not depend on the shuffle partition count: a sample of
queries (α lead, batch pricing, the TPC-H join, the status envelope)
returns the same rows with ``spark.sql.shuffle.partitions`` at 4 and
at 13. So does each operator of the ranged carry-scan family
(``operators/shards.py``), whose partition count P is that session
setting: count/ntile (q72), running sums (q227), running max (q224),
cusum (q266) and the EWMA scan (q245)."""

from __future__ import annotations

import pytest

from public_projet_data_engineering_tarification_electrique_spark.operators.util import (
    scoped_conf,
)
from public_projet_data_engineering_tarification_electrique_spark.plans import (
    registry,
)

from .conftest import SF_SMOKE


@pytest.mark.parametrize(
    "name",
    [
        "q07_alpha_lead",
        "q09_price_batch",
        "q60_tpch_shipping_priority",
        "q94_price_batch_status",
        "q72_value_quartile_bands",
        "q227_exact_auc",
        "q224_pareto_frontier",
        "q266_cusum_scan",
        "q245_ewma_scan",
    ],
)
def test_rows_do_not_depend_on_shuffle_partitions(spark, name):
    query = getattr(registry, name)
    results = []
    for partitions in (4, 13):
        with scoped_conf(spark, "spark.sql.shuffle.partitions", partitions):
            results.append(sorted(query(spark, SF_SMOKE).collect(), key=repr))
    assert results[0] and results[0] == results[1]
