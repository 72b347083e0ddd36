"""graph.connected_components: the engine's one component closure, checked
against a pure-Python union-find (label = the component's min node id)."""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from osgeo_gdal_spark.operators import graph as GG

EDGE_SCHEMA = "src LONG, dst LONG"
# ids far apart and past 2^31, so LONG handling and the decimal
# fingerprint sum are exercised
BASE, STEP = 1 << 40, 1_000_003


def _uf_labels(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _cc(spark, edges, nodes=None, shuffle_partitions=None):
    e = spark.createDataFrame(edges, EDGE_SCHEMA)
    n = (None if nodes is None
         else spark.createDataFrame([(x,) for x in nodes], "node LONG"))
    out = GG.connected_components(e, n, shuffle_partitions)
    got = {r["node"]: r["label"] for r in out.collect()}
    assert len(got) == out.count()  # one row per node
    return got


@st.composite
def graphs(draw):
    ids = st.integers(0, 24).map(lambda i: BASE + STEP * i)
    edges = draw(st.lists(st.tuples(ids, ids), max_size=30))
    isolated = draw(st.sets(ids, max_size=6))
    return edges, isolated


@pytest.mark.parametrize("shuffle_partitions", [1, None])
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(g=graphs(), pass_nodes=st.booleans())
def test_cc_matches_union_find(spark, shuffle_partitions, g, pass_nodes):
    edges, isolated = g
    endpoints = {x for e in edges for x in e}
    if pass_nodes:
        nodes = endpoints | isolated
        got = _cc(spark, edges, sorted(nodes), shuffle_partitions)
    else:
        nodes = endpoints
        got = _cc(spark, edges, None, shuffle_partitions)
    assert got == _uf_labels(edges, nodes)


def _path(n):
    return [(BASE + i, BASE + i + 1) for i in range(n - 1)]


def test_cc_long_path_needs_more_than_three_rounds(spark, monkeypatch):
    # labels travel ~2^r hops in r rounds along an id-ordered path, so a
    # 32-node path cannot settle in 3 rounds but settles well below the cap
    edges = _path(32)
    assert _cc(spark, edges, shuffle_partitions=1) == {
        BASE + i: BASE for i in range(32)}
    monkeypatch.setattr(GG, "CC_MAX_ROUNDS", 3)
    with pytest.raises(RuntimeError, match="after 3 rounds"):
        _cc(spark, edges, shuffle_partitions=1)


def test_cc_raises_when_round_cap_is_hit(spark, monkeypatch):
    monkeypatch.setattr(GG, "CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="labels still changing"):
        _cc(spark, _path(8), shuffle_partitions=1)


def test_cc_restores_session_conf(spark):
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
            "spark.sql.codegen.wholeStage")
    before = [spark.conf.get(k) for k in keys]
    _cc(spark, _path(4), shuffle_partitions=1)
    assert [spark.conf.get(k) for k in keys] == before
