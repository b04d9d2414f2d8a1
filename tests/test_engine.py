"""Engine facade: tables, named queries, free-form SQL."""

from __future__ import annotations

import pytest

from hackatonbigdata_spark.engine import Engine
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark, SF_DIR)


def test_tables_and_query(eng):
    assert "lineitem" in eng.tables()
    assert eng.table("region").count() == 5
    df = eng.query("flagship_weekly_brand_demand")
    assert df.count() > 0


def test_sql_over_views(eng):
    n = eng.sql(
        "SELECT count(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey"
    ).first().n
    assert n == eng.table("lineitem").count()


def test_unknown_query_is_clear(eng):
    with pytest.raises(KeyError, match="unknown query"):
        eng.query("nope")


def test_queries_fail_cleanly_on_missing_sf_dir(spark):
    """The driver's robustness probe: a bad sf_dir must raise a clean
    AnalysisException (PATH_NOT_FOUND), not a hang or a wrong result."""
    import pytest
    from pyspark.errors import AnalysisException

    from hackatonbigdata_spark.registry import all_queries

    from hackatonbigdata_spark.streaming import jobs

    bad = f"{SF_DIR}_does_not_exist"
    # an events-reading query too: the events footer probe must let a path
    # it cannot stat fall through to Spark's own error
    for name in ("flagship_weekly_brand_demand", "seq_event_transitions"):
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            all_queries()[name](spark, bad).collect()
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        jobs.read_events_stream(spark, bad)
