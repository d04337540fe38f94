"""``tables.star_sql``: one SQL statement over the session's star views.

The dashboard tiles build through it, so their cost on the driver is a
handful of py4j round trips instead of hundreds. These tests pin that
cost, and that the views it keeps for the session never show stale or
foreign rows.
"""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_MEDIUM, SF_SMALL
from tools.harness import py4j_commands
from wheels_in_motion_analytics_spark import tables
from wheels_in_motion_analytics_spark.registry import load_all_queries
from wheels_in_motion_analytics_spark.tables import star_sql, table

SPECS = load_all_queries()

# py4j round trips to build each SQL tile once its star views are
# registered: measured 5 at sf0.001 (the Column-API bodies took 58-793),
# + headroom for a py4j version that splits a call.
_ROUND_TRIP_BUDGETS = {
    "top_unshipped_orders": 5 + 5,
    "returned_item_customers": 5 + 5,
    "regional_market_share": 5 + 5,
    "priority_shipping_summary": 5 + 5,
    "pricing_summary_report": 5 + 5,
    "promo_revenue_share": 5 + 5,
    "star_join_enriched": 5 + 5,
    "flagship_rides_by_dim": 5 + 5,
    "group_topk": 5 + 5,
    "window_running_sum": 5 + 5,
}


@pytest.fixture
def view_registrations(spark, monkeypatch):
    """Names of the temp views registered while the test runs."""
    calls: list[str] = []
    frame_class = type(spark.range(1))  # the concrete (classic) DataFrame
    orig = frame_class.createOrReplaceTempView

    def counting(self, name):
        calls.append(name)
        return orig(self, name)

    monkeypatch.setattr(frame_class, "createOrReplaceTempView", counting)
    return calls


def _count(spark, sf_dir, name) -> int:
    return star_sql(spark, sf_dir, f"SELECT COUNT(*) AS n FROM {{{name}}}").collect()[0]["n"]


@pytest.mark.parametrize("name", sorted(_ROUND_TRIP_BUDGETS))
def test_sql_tile_build_round_trips(spark, view_registrations, name):
    SPECS[name].fn(spark, SF_SMALL)  # registers the tile's views
    del view_registrations[:]
    with py4j_commands(spark) as sent:
        df = SPECS[name].fn(spark, SF_SMALL)
    assert view_registrations == [], "a second build registered views again"
    assert 0 < len(sent) <= _ROUND_TRIP_BUDGETS[name], (
        f"{name}: {len(sent)} py4j round trips vs budget "
        f"{_ROUND_TRIP_BUDGETS[name]}: {[c[:40] for c in sent]}"
    )
    assert df.columns  # the plan was built, not deferred


@pytest.mark.parametrize("order", [(SF_SMALL, SF_MEDIUM), (SF_MEDIUM, SF_SMALL)])
def test_scale_factors_keep_their_own_views(spark, order):
    session = spark.newSession()
    for sf_dir in order:
        assert _count(session, sf_dir, "orders") == table(spark, sf_dir, "orders").count()
    assert _count(session, SF_SMALL, "orders") < _count(session, SF_MEDIUM, "orders")


def test_rewritten_table_file_is_read_again(spark, tmp_path):
    import pyarrow.parquet as pq

    sf_dir = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf_dir)
    assert _count(spark, sf_dir, "region") == 5
    path = os.path.join(sf_dir, "region.parquet")
    two = pq.read_table(path).slice(0, 2)
    os.chmod(path, 0o644)
    os.remove(path)
    pq.write_table(two, path)
    assert _count(spark, sf_dir, "region") == 2


def test_user_view_with_a_table_name_is_left_alone(spark):
    spark.range(3).createOrReplaceTempView("orders")
    try:
        assert _count(spark, SF_SMALL, "orders") == table(spark, SF_SMALL, "orders").count()
        assert spark.table("orders").count() == 3
    finally:
        spark.catalog.dropTempView("orders")


def test_new_session_registers_its_own_views(spark, view_registrations):
    _count(spark, SF_SMALL, "nation")
    del view_registrations[:]
    session = spark.newSession()
    assert _count(session, SF_SMALL, "nation") == 25
    assert len(view_registrations) == 1
    assert session.catalog.tableExists(view_registrations[0])


def test_dropped_view_is_registered_again(spark):
    _count(spark, SF_SMALL, "nation")
    stamps = tables._STAR_VIEWS[spark]
    (view,) = [v for v, st in stamps.items() if st[0] == f"{SF_SMALL}/nation.parquet"]
    spark.catalog.dropTempView(view)
    assert _count(spark, SF_SMALL, "nation") == 25


def test_placeholders(spark):
    with pytest.raises(KeyError, match="lineitems"):
        star_sql(spark, SF_SMALL, "SELECT * FROM {lineitems}")
    # braces that are not an identifier pass through untouched
    row = star_sql(
        spark,
        SF_SMALL,
        """SELECT regexp_extract('ab1234', '[0-9]{4}', 0) AS r,
                  get_json_object('{"a": 1}', '$.a') AS j
           FROM {region} LIMIT 1""",
    ).collect()[0]
    assert (row["r"], row["j"]) == ("1234", "1")
