"""The query lookup shared by the bench and the tools."""

import pytest

from hbase_snapshotter_spark.queries import relational
from hbase_snapshotter_spark.queries.registry import QUERIES
from hbase_snapshotter_spark.testing import resolve


def test_resolve_registry_key_folded_lane_and_unknown():
    assert resolve("snapshot_events_wide") is QUERIES["snapshot_events_wide"]
    # a lane folded into a union suite: no registry key, module function
    assert "asof_latest_order" not in QUERIES
    assert resolve("asof_latest_order") is relational.asof_latest_order
    with pytest.raises(KeyError):
        resolve("no_such_query")
