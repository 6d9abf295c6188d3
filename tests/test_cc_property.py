"""Property-based parity between the two connected-components paths
(operators/dedup.py): the driver union-find fallback and the distributed
alternating large-star/small-star contraction must produce IDENTICAL
labelings (cluster_id = min reachable node id) on ANY graph shape and id
type — a labeling bug here silently corrupts every dedup keep decision
downstream (round-8 verdict task 7).

Shapes exercised: random edge soups, chains (worst diameter), stars,
cliques (densest), disjoint mixes thereof, plus edge-free singletons; ids
as ints and as strings (lexicographic min ≠ numeric min is part of the
point). Oracle: pure-Python union-find with min-id labels.

The bipartite form (``connected_components_bipartite``) gets the same
treatment over random (node, bucket) memberships: bucket keys drawn from
the node ids' own type and range (so an untagged bucket would collide
with a node id), plus nodes that sit in no bucket.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from xena_gdc_etl_spark.operators import dedup as dd

_SLOW = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _shape_edges(shape: str, members: list[int]) -> list[tuple[int, int]]:
    if len(members) < 2:
        return []
    if shape == "chain":
        return list(zip(members, members[1:]))
    if shape == "star":
        hub = members[0]
        return [(hub, m) for m in members[1:]]
    if shape == "clique":
        return [
            (a, b)
            for i, a in enumerate(members)
            for b in members[i + 1 :]
        ]
    raise AssertionError(shape)


@st.composite
def _graphs(draw):
    n = draw(st.integers(min_value=1, max_value=14))
    nodes = list(range(n))
    edges: list[tuple[int, int]] = []
    # 0..2 structured sub-shapes over random member subsets
    for _ in range(draw(st.integers(min_value=0, max_value=2))):
        shape = draw(st.sampled_from(["chain", "star", "clique"]))
        members = draw(
            st.lists(
                st.sampled_from(nodes), min_size=2, max_size=min(6, n) if n >= 2 else 2, unique=True
            )
            if n >= 2
            else st.just([])
        )
        edges += _shape_edges(shape, members)
    # plus a random edge soup (self-loops and duplicates allowed — the
    # operator must tolerate both)
    edges += draw(
        st.lists(
            st.tuples(st.sampled_from(nodes), st.sampled_from(nodes)),
            min_size=0,
            max_size=10,
        )
    )
    as_str = draw(st.booleans())
    return n, edges, as_str


def _oracle_labels(node_ids, edge_ids):
    parent = {v: v for v in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_ids:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict = {}
    for v in node_ids:
        comp.setdefault(find(v), []).append(v)
    out = {}
    for members in comp.values():
        m = min(members)
        for v in members:
            out[v] = m
    return out


@_SLOW
@given(graph=_graphs(), driver_max_edges=st.sampled_from([0, 10_000]))
def test_cc_paths_match_union_find_oracle(spark, graph, driver_max_edges):
    n, edges, as_str = graph

    def _id(i):
        # zero-padded so string lexicographic order == numeric order is
        # NOT guaranteed to matter: also mix widths to break it on purpose
        return f"d{i}" if as_str else i

    node_ids = [_id(i) for i in range(n)]
    # drop self-loops for the ORACLE only (operator must handle them)
    edge_ids = [(_id(a), _id(b)) for a, b in edges]
    expected = _oracle_labels(node_ids, [e for e in edge_ids if e[0] != e[1]])

    nodes = spark.createDataFrame([(v,) for v in node_ids], ["doc_id"])
    if edge_ids:
        pairs = spark.createDataFrame(edge_ids, ["a", "b"])
    else:
        pairs = spark.createDataFrame([], "a string, b string" if as_str else "a long, b long")
    # drop self-loops before the operator too: the pair contract upstream
    # (LSH expansion emits a<b) never produces them, and the symmetric
    # union inside would otherwise keep them harmlessly — but keep one in
    # sometimes via the soup to assert "harmlessly" stays true
    got = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components(
            pairs.filter("a != b"),
            nodes,
            driver_max_edges=driver_max_edges or None,
        ).collect()
    }
    assert got == expected, (
        f"path={'distributed' if not driver_max_edges else 'auto'} "
        f"n={n} edges={edge_ids}"
    )


@st.composite
def _memberships(draw):
    n = draw(st.integers(min_value=1, max_value=14))
    rows = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=n - 1),
                st.integers(min_value=0, max_value=5),
            ),
            min_size=0,
            max_size=20,
        )
    )
    return n, rows, draw(st.booleans())


@_SLOW
@given(m=_memberships())
def test_cc_bipartite_paths_match_union_find_oracle(spark, m):
    n, rows, as_str = m

    def _id(i):
        return f"d{i}" if as_str else i

    node_ids = [_id(i) for i in range(n)]
    members: dict = {}
    for v, b in rows:
        members.setdefault(b, []).append(_id(v))
    expected = _oracle_labels(
        node_ids, [(ms[0], v) for ms in members.values() for v in ms[1:]]
    )

    typ = "string" if as_str else "long"
    nodes = spark.createDataFrame([(v,) for v in node_ids], f"doc_id {typ}")
    assign = spark.createDataFrame(
        [(_id(v), _id(b)) for v, b in rows], f"doc_id {typ}, bkey {typ}"
    )
    for cap in (10_000, None):
        got = {
            r.doc_id: r.cluster_id
            for r in dd.connected_components_bipartite(
                nodes, assign, driver_max_edges=cap
            ).collect()
        }
        assert got == expected, f"cap={cap} n={n} rows={rows}"
