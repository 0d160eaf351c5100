"""api.create_views: the derived supplier_kpis / supplier_risk_summary
views are materialized once per call, and hold the registered queries'
rows. Base tables are read with declared schemas: no inference job, and
a file that disagrees with its declaration fails rather than reading
NULLs."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError

from supplier_performance_data_pipeline_spark.api import create_views
from supplier_performance_data_pipeline_spark.functions.scalar import round_doubles
from supplier_performance_data_pipeline_spark.plans.registry import load_all
from supplier_performance_data_pipeline_spark.schemas import TESTDATA_SCHEMAS
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


@pytest.mark.parametrize("table", sorted(TESTDATA_SCHEMAS))
def test_declared_schema_matches_inferred(spark, table):
    # Names and types; file sources read every column as nullable.
    inferred = spark.read.parquet(os.path.join(SF_SMOKE, f"{table}.parquet")).schema
    assert [(f.name, f.dataType) for f in TESTDATA_SCHEMAS[table]] == [
        (f.name, f.dataType) for f in inferred
    ]


def test_create_views_job_count(spark):
    # 1 events schema inference, 4 jobs for the KPI checkpoint (the risk
    # bounds are observed on it), 1 for the risk checkpoint and 1 for the
    # driver-held copy of the summary; the declared-schema reads run none.
    sc = spark.sparkContext
    group = "test_create_views_job_count"
    sc.setJobGroup(group, "create_views")
    try:
        create_views(spark, SF_SMOKE)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 7


DRILLDOWN = (
    "SELECT l_returnflag, COUNT(*) AS n_lines, SUM(l_quantity) AS qty, "
    "SUM(l_extendedprice) AS revenue FROM lineitem "
    "WHERE l_suppkey = {} GROUP BY l_returnflag"
)


def test_drilldown_runs_one_job(spark, views, job_count):
    # lineitem is one split, so the aggregate plans no shuffle stage.
    lineitem = pd.read_parquet(os.path.join(SF_SMOKE, "lineitem.parquet"))
    supp = int(lineitem["l_suppkey"].iloc[0])
    got, jobs = job_count(lambda: spark.sql(DRILLDOWN.format(supp)).toPandas())
    assert jobs == 1
    want = (
        lineitem[lineitem["l_suppkey"] == supp]
        .groupby("l_returnflag")
        .agg(n_lines=("l_quantity", "size"), qty=("l_quantity", "sum"),
             revenue=("l_extendedprice", "sum"))
        .reset_index()
    )
    got = got.sort_values("l_returnflag").reset_index(drop=True)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _warehouse_with(tmp_path, table: str, edit) -> str:
    """A copy of SF_SMOKE with ``table`` rewritten as ``edit(table)``."""
    shutil.copytree(SF_SMOKE, tmp_path, dirs_exist_ok=True)
    path = tmp_path / f"{table}.parquet"
    pq.write_table(edit(pq.read_table(path)), path)
    return str(tmp_path)


def test_missing_column_fails_at_create_views(spark, tmp_path):
    wh = _warehouse_with(tmp_path, "supplier", lambda t: t.drop(["s_nationkey"]))
    with pytest.raises(ValueError, match=r"supplier\.parquet.*missing columns \['s_nationkey'\]"):
        create_views(spark.newSession(), wh)


def test_wrong_typed_column_fails_on_first_read(spark, tmp_path):
    def as_string(t):
        i = t.schema.get_field_index("s_nationkey")
        return t.set_column(i, "s_nationkey", t.column(i).cast(pa.string()))

    wh = _warehouse_with(tmp_path, "supplier", as_string)
    # A session of its own, so the broken views stay out of the shared one.
    session = spark.newSession()
    mismatch = "FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH"
    with pytest.raises(Py4JJavaError, match=mismatch):
        create_views(session, wh)
    with pytest.raises(Py4JJavaError, match=mismatch):
        session.table("supplier").collect()
