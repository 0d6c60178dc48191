"""Property test: connected_components (min-label propagation) vs a
pure-Python union-find reference on hypothesis-generated graphs.

The operator labels every vertex with its component's MINIMUM id
(`operators/graph.py` contract) and feeds the near-dup survivor
selection — a split component keeps too many documents, a merged one
drops survivors, so the labeling must be exact on arbitrary graph
shapes (chains past the round count, dense cliques, self-loops,
duplicate and reversed edges), not just the hand graphs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st


def _uf_reference(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    # component label = min vertex id; self-loop-only vertices still
    # appear in the operator's output (they are edge endpoints)
    comp_min: dict[int, int] = {}
    for v in parent:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in parent}


def test_components_match_union_find_reference(spark):
    edge_st = st.tuples(st.integers(0, 24), st.integers(0, 24))

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(edges=st.lists(edge_st, min_size=1, max_size=50))
    def run(edges):
        # the operator ignores self-loops; a vertex whose ONLY edges are
        # self-loops contributes no symmetric edge rows, so drop pure
        # self-loop vertices from the reference the same way
        real = [(a, b) for a, b in edges if a != b]
        looped_only = {a for a, b in edges if a == b} - {v for e in real for v in e}
        want = _uf_reference(real)
        df = spark.createDataFrame(edges, ["src", "dst"]).repartition(3)
        from callysto_spark.operators.graph import connected_components

        got = {
            r["vertex"]: r["component"]
            for r in connected_components(df, max_iterations=40).collect()
        }
        # self-loop-only vertices may or may not surface; they are
        # singletons either way
        extra = {v: c for v, c in got.items() if v in looped_only}
        assert all(v == c for v, c in extra.items()), extra
        core = {v: c for v, c in got.items() if v not in looped_only}
        assert core == want, f"mismatch {dict(set(core.items()) ^ set(want.items()))}"

    run()
