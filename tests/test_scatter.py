"""Operator calls release what they cache: every layout an operator
builds is memoized on its Graph (plans/scatter.py, csr_fixpoint.stage,
Graph.derived), so after the call plus ``Graph.unpersist()`` the
session holds exactly the cache entries it held before."""

from __future__ import annotations

import numpy as np
import pytest

from okapi_spark.graph.graph import Graph
from okapi_spark.operators.components import connected_components
from okapi_spark.operators.lpa import label_propagation, spinner_partition
from okapi_spark.operators.pagerank import pagerank
from okapi_spark.operators.sybilrank import sybilrank
from tests.conftest import toy_edges

_rng = np.random.default_rng(5)
EDGES = sorted({
    (int(s), int(d), 1.0) for s, d in zip(_rng.integers(0, 60, 200), _rng.integers(0, 60, 200)) if s != d
})

CALLS = {
    "pagerank_broadcast": lambda g, t: pagerank(g, iterations=2, mode="sql", state_broadcast=True),
    "pagerank_salted": lambda g, t: pagerank(g, iterations=2, mode="sql", state_broadcast=False),
    "cc_broadcast": lambda g, t: connected_components(g, mode="sql", state_broadcast=True),
    "cc_salted": lambda g, t: connected_components(g, mode="sql", state_broadcast=False),
    "lpa_broadcast": lambda g, t: label_propagation(g, iterations=2, mode="sql", state_broadcast=True),
    "lpa_salted": lambda g, t: label_propagation(g, iterations=2, mode="sql", state_broadcast=False),
    "sybilrank_sql_broadcast": lambda g, t: sybilrank(g, t, state_broadcast=True),
    "sybilrank_sql_salted": lambda g, t: sybilrank(g, t, state_broadcast=False),
    "sybilrank_csr": lambda g, t: sybilrank(g, t, mode="csr"),
    "spinner_sql": lambda g, t: spinner_partition(g, k=3, max_iterations=3),
    "spinner_salted": lambda g, t: spinner_partition(g, k=3, max_iterations=3, state_broadcast=False),
    "spinner_csr": lambda g, t: spinner_partition(g, k=3, max_iterations=3, mode="csr"),
}


def _cache_entries(spark) -> int:
    """The session CacheManager's entry count (persisted DataFrames)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


@pytest.mark.parametrize("name", list(CALLS))
def test_operator_call_releases_its_caches(spark, name):
    trusted = spark.createDataFrame([(EDGES[0][0],), (EDGES[1][1],)], "id long")
    before = _cache_entries(spark)
    g = Graph.from_edges(toy_edges(spark, EDGES))
    res = CALLS[name](g, trusted)
    assert res.state.count() > 0
    g.unpersist()
    assert _cache_entries(spark) == before, name
