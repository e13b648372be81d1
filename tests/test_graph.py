"""Graph operators (operators/graph.py): connected components against a
driver-side union-find oracle (determinism under partitioning, the
large-star/small-star fallback, stray edge ids), triangle enumeration
under both orientations and fixed-point PageRank against a Python
replay, plus the empty-input contract of the round-3 corpus operators."""

from __future__ import annotations

import random

from airflow_etl_finance_market_spark.operators.graph import (
    connected_components,
)


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical component = min id in component
    comp = {}
    for v in range(n_nodes):
        r = find(v)
        comp.setdefault(r, []).append(v)
    return {v: min(members) for r, members in comp.items() for v in members}


def test_chain_transitivity_and_singletons(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, vertices=verts).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_random_graph_matches_union_find(spark):
    rng = random.Random(42)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    expect = _union_find(n, edges)
    edf = spark.createDataFrame(edges, "src long, dst long")
    vdf = spark.createDataFrame([(i,) for i in range(n)], "id long")
    for parts in (1, 7):
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                edf.repartition(parts), vertices=vdf
            ).collect()
        }
        assert got == expect


def test_empty_inputs_yield_empty_not_crash(spark):
    """Empty-corpus runs of the round-3 operators return empty frames with
    the right schema instead of raising — the behavior a pipeline
    restarted on an empty partition depends on."""
    from airflow_etl_finance_market_spark.operators.corpus import (
        tfidf_top_terms,
        unigram_logprob,
    )
    from airflow_etl_finance_market_spark.operators.dedup import (
        winnow_fingerprints,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert tfidf_top_terms(empty_docs).collect() == []
    assert unigram_logprob(empty_docs).collect() == []
    assert winnow_fingerprints(empty_docs).collect() == []
    verts = spark.createDataFrame([(1,), (2,)], "id long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(empty_pairs.withColumnRenamed("id_a", "src")
                                      .withColumnRenamed("id_b", "dst"),
                                      vertices=verts).collect()
    }
    assert got == {1: 1, 2: 2}


class TestStarFallback:
    """Large-star/small-star — the worst-case-safe completion that kicks in
    when the primary min-label loop exhausts max_iterations."""

    def test_star_algorithm_matches_union_find(self, spark):
        from airflow_etl_finance_market_spark.operators.graph import (
            _alternating_star_components,
        )

        rng = random.Random(7)
        n = 120
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(90)
                )
                if a != b
            }
        )
        expect = _union_find(n, edges)
        e = spark.createDataFrame(edges, "u long, v long").localCheckpoint()
        got = {
            r["id"]: r["component"]
            for r in _alternating_star_components(e).collect()
        }
        # star frame holds non-roots only; roots map to themselves
        endpoints = {x for ab in edges for x in ab}
        for v in endpoints:
            assert got.get(v, v) == expect[v]

    def test_long_path_fallback_converges(self, spark):
        """The pathological-diameter case the old code raised on: a long
        path with a tiny primary budget must now fall through to the star
        contraction and still return the exact union-find answer."""
        n = 64
        path = [(i, i + 1) for i in range(n - 1)]
        expect = _union_find(n, path)
        edf = spark.createDataFrame(path, "src long, dst long")
        vdf = spark.createDataFrame([(i,) for i in range(n)], "id long")
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                edf, vertices=vdf, max_iterations=2
            ).collect()
        }
        assert got == expect  # every node labeled 0

    def test_fallback_respects_isolated_vertices(self, spark):
        """Singletons and already-converged components must pass through
        the star composition unchanged (no star row -> coalesce to the
        primary label)."""
        edges = [(10, 11)] + [(i, i + 1) for i in range(8)]  # path 0..8
        edf = spark.createDataFrame(edges, "src long, dst long")
        vdf = spark.createDataFrame([(i,) for i in list(range(12)) + [99]], "id long")
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                edf, vertices=vdf, max_iterations=1
            ).collect()
        }
        expect = {i: 0 for i in range(9)} | {9: 9, 10: 10, 11: 10, 99: 99}
        assert got == expect


class TestTriangles:
    def test_enumerates_known_triangles(self, spark):
        from airflow_etl_finance_market_spark.operators.graph import triangles

        # K4 on {1,2,3,4} (4 triangles) + a dangling path 5-6-7 (0)
        edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 6), (6, 7)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r.u, r.v, r.w) for r in triangles(df).collect()
        }
        assert got == {(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)}

    def test_orientation_and_dups_harmless(self, spark):
        from airflow_etl_finance_market_spark.operators.graph import triangles

        # same triangle given with mixed orientations, duplicates, self-loop
        edges = [(2, 1), (1, 2), (3, 2), (1, 3), (3, 3)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = [(r.u, r.v, r.w) for r in triangles(df).collect()]
        assert got == [(1, 2, 3)]

    def test_degree_orientation_equivalent(self, spark):
        """Both orientations enumerate the identical triangle set — every
        triangle has exactly one vertex with two out-edges under ANY
        total-order orientation."""
        from airflow_etl_finance_market_spark.operators.graph import triangles

        # hub 0 (low id, high degree) fanned to 1..12, triangles planted
        # through the hub (0-k-(k+1)) and off-hub (20-21-22, 21-22-23),
        # plus K4 on {30,31,32,33} and noise paths
        edges = (
            [(0, k) for k in range(1, 13)]
            + [(1, 2), (5, 6), (9, 10)]  # hub triangles 0-1-2, 0-5-6, 0-9-10
            + [(20, 21), (21, 22), (20, 22), (22, 23), (21, 23)]
            + [(30, 31), (30, 32), (30, 33), (31, 32), (31, 33), (32, 33)]
            + [(40, 41), (41, 42), (42, 43)]
        )
        df = spark.createDataFrame(edges, "src long, dst long")
        by_id = {(r.u, r.v, r.w) for r in triangles(df, orient="id").collect()}
        by_deg = {
            (r.u, r.v, r.w) for r in triangles(df, orient="degree").collect()
        }
        assert by_id == by_deg
        assert {(0, 1, 2), (0, 5, 6), (20, 21, 22), (30, 31, 32)} <= by_id

    def test_degree_orientation_bounds_hub_fanout(self, spark):
        """The skew case the degree orientation exists for: a LOW-id hub of
        degree d emits C(d, 2) wedges under id orientation (quadratic in
        the hub degree) but ZERO under degree orientation (every leaf has
        lower degree, so all edges point INTO the hub)."""
        from airflow_etl_finance_market_spark.operators.graph import (
            oriented_wedges,
        )

        n = 200
        star = spark.createDataFrame(
            [(0, k) for k in range(1, n + 1)], "src long, dst long"
        )
        assert oriented_wedges(star, orient="id").count() == n * (n - 1) // 2
        assert oriented_wedges(star, orient="degree").count() == 0

    def test_degree_wedges_bounded_on_powerlaw_fixture(self, spark):
        """Two hubs sharing all leaves (the near-dup template-family shape):
        id orientation puts both wedge fans on the low-id hub; degree
        orientation spreads wedges to the leaves — bounded per-vertex
        fan-out (each leaf: C(2,2)=1 wedge) at a tiny total."""
        from airflow_etl_finance_market_spark.operators.graph import (
            oriented_wedges,
            triangles,
        )

        n = 100
        # hubs 0 and 1 each connected to leaves 2..n+1, plus the hub-hub edge
        edges = (
            [(0, k) for k in range(2, n + 2)]
            + [(1, k) for k in range(2, n + 2)]
            + [(0, 1)]
        )
        df = spark.createDataFrame(edges, "src long, dst long")
        # id orientation: hub 0 out-degree n+1 and hub 1 out-degree n ->
        # C(n+1, 2) + C(n, 2) wedges, quadratic in hub degree
        assert (
            oriented_wedges(df, orient="id").count()
            == (n + 1) * n // 2 + n * (n - 1) // 2
        )
        # degree orientation: each leaf (degree 2) points at both hubs ->
        # one wedge per leaf, plus nothing from the hubs themselves
        assert oriented_wedges(df, orient="degree").count() == n
        # and the triangle answer is identical (all n triangles 0-1-k)
        assert triangles(df, orient="degree").count() == n
        assert triangles(df, orient="id").count() == n


class TestPageRank:
    def _pr(self, spark, edges, **kw):
        from airflow_etl_finance_market_spark.operators.graph import (
            pagerank_fixed_point,
        )

        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            r.node: r.score for r in pagerank_fixed_point(df, **kw).collect()
        }

    def test_matches_python_replay(self, spark):
        # star (0 center) + a 2-cycle off to the side, symmetrized
        base = [(0, 1), (0, 2), (0, 3), (4, 5)]
        edges = base + [(b, a) for a, b in base]
        got = self._pr(spark, edges, iterations=3)

        # exact integer replay
        from collections import defaultdict

        out = defaultdict(list)
        for a, b in edges:
            out[a].append(b)
        nodes = sorted(out)
        s = {n: 1_000_000 for n in nodes}
        for _ in range(3):
            nxt = {n: 150_000 for n in nodes}
            for u in nodes:
                share = (s[u] * 85) // (100 * len(out[u]))
                for v in out[u]:
                    nxt[v] += share
            s = nxt
        assert got == s
        # the hub outranks leaves; the 2-cycle keeps its mass symmetric
        assert got[0] > got[1] == got[2] == got[3]
        assert got[4] == got[5]

    def test_dangling_nodes_keep_base_only(self, spark):
        # directed 1->2: node 2 is dangling (never contributes)
        got = self._pr(spark, [(1, 2)], iterations=2)
        # round 1: s(2) = base + (1e6*85)//100 ; s(1) = base
        # round 2: s(2) = base + (s1(1)*85)//100
        assert got[1] == 150_000
        assert got[2] == 150_000 + (150_000 * 85) // 100


def test_cc_stray_edge_ids_still_converge(spark):
    """An edge endpoint missing from a vertices_complete frame must still
    propagate labels fully (counted as changed every round it moves), not
    NULL-out of the convergence observation and stop early."""
    from airflow_etl_finance_market_spark.operators.graph import (
        connected_components,
    )

    # chain 1-2-3-4-5 but the vertices frame omits 3 and 5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    verts = spark.createDataFrame([(1,), (2,), (4,)], "id long")
    got = {
        r.id: r.component
        for r in connected_components(
            edges, vertices=verts, vertices_complete=True
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}
