"""api.create_views: the derived supplier_kpis / supplier_risk_summary
views are materialized once per call, and hold the registered queries'
rows."""

from __future__ import annotations

import pandas as pd
import pytest

from supplier_performance_data_pipeline_spark.api import create_views
from supplier_performance_data_pipeline_spark.functions.scalar import round_doubles
from supplier_performance_data_pipeline_spark.plans.registry import load_all
from tests.conftest import SF_SMOKE

DERIVED = ["supplier_kpis", "supplier_risk_summary"]


@pytest.fixture(scope="module")
def views(spark):
    return create_views(spark, SF_SMOKE)


def _optimized_plan(spark, view: str) -> str:
    return spark.table(view)._jdf.queryExecution().optimizedPlan().toString()


def _keyed(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values("supplier_id").reset_index(drop=True)


@pytest.mark.parametrize("view", DERIVED)
def test_derived_view_is_a_checkpoint_scan(spark, views, view):
    # A request on the view reads the materialized rows: no KPI join or
    # aggregate and no risk bounds aggregate or cross join is re-planned.
    assert view in views
    plan = _optimized_plan(spark, view)
    assert "LogicalRDD" in plan
    assert "Join" not in plan
    assert "Aggregate" not in plan


@pytest.mark.parametrize("view", DERIVED)
def test_derived_view_equals_registered_query(spark, views, view):
    got = _keyed(round_doubles(spark.table(view)).toPandas())
    want = _keyed(load_all()[view].build(spark, SF_SMOKE).toPandas())
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want[got.columns], check_dtype=False)


def test_second_create_views_replaces_derived_views(spark, views):
    before = {v: spark.table(v).count() for v in DERIVED}
    assert set(DERIVED) <= set(create_views(spark, SF_SMOKE))
    for v in DERIVED:
        assert "LogicalRDD" in _optimized_plan(spark, v)
        assert spark.table(v).count() == before[v]
