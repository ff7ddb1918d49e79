"""Hop-bounded Bellman-Ford pins: hand graph, hop-bound semantics,
multi-source min, corpus reachability."""

from mapnik_vector_tile_spark.operators.graph import bellman_ford


def _bf(spark, edges, sources, rounds):
    e = spark.createDataFrame(edges, "u long, v long, w long")
    s = spark.createDataFrame([(x,) for x in sources], "node long")
    return {r["node"]: r["d"] for r in bellman_ford(e, s, rounds).collect()}


def test_chain_with_shortcut(spark):
    # 0-1-2-3 chain (w=1 each) plus direct 0->3 w=10: shortest 0->3 is 3
    edges = [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 10)]
    d = _bf(spark, edges, [0], 12)
    assert d == {0: 0, 1: 1, 2: 2, 3: 3}


def test_hop_bound_semantics(spark):
    # with rounds=1 only the direct edge is usable: d(3) = 10, d(2) = 1-hop
    edges = [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 10)]
    d = _bf(spark, edges, [0], 1)
    assert d == {0: 0, 1: 1, 3: 10}
    d2 = _bf(spark, edges, [0], 2)
    assert d2 == {0: 0, 1: 1, 2: 2, 3: 10}


def test_multi_source_min(spark):
    edges = [(0, 5, 4), (9, 5, 1)]
    d = _bf(spark, edges, [0, 9], 3)
    assert d[5] == 1


def test_unreachable_absent(spark):
    d = _bf(spark, [(0, 1, 1), (7, 8, 1)], [0], 5)
    assert 7 not in d and 8 not in d


def test_corpus_giant_component(spark):
    from mapnik_vector_tile_spark.plans.oracles.graph import q_bellman_ford

    d = q_bellman_ford(spark, "/root/testdata/sf0.01").collect()
    # 15k king-move edges on a 64x64 lattice: the 12-hop field from the
    # west edge covers a substantial node set (894 at sf0.01 — the
    # 12-hop horizon, not the component, is the binding constraint)
    assert len(d) > 500
    assert any(r["d"] > 0 for r in d)
    assert all(r["d"] >= 0 for r in d)


# --- viterbi_match ---------------------------------------------------------


def _vit(spark, rows, C=10):
    from mapnik_vector_tile_spark.operators.graph import viterbi_match

    df = spark.createDataFrame(
        rows, "tid long, t long, sid long, emis long"
    )
    return {r["tid"]: r for r in viterbi_match(df, C).collect()}


def test_viterbi_stay_beats_switch_within_penalty(spark):
    from mapnik_vector_tile_spark.operators.graph import _vit_h

    rows = [
        (1, 0, 101, 0), (1, 1, 101, 5),   # stay path cost 5
        (1, 0, 102, 3), (1, 1, 102, 0),   # stay on 102 = 3; switch 101->102 = 10
    ]
    r = _vit(spark, rows)[1]
    assert r["total_cost"] == 3  # [102,102]
    assert r["kh"] == (_vit_h(102, 0) + _vit_h(102, 1)) % (1 << 31)


def test_viterbi_switch_when_worth_it(spark):
    from mapnik_vector_tile_spark.operators.graph import _vit_h

    rows = [(1, 0, 7, 0), (1, 1, 9, 0)]  # forced switch, penalty 10
    r = _vit(spark, rows)[1]
    assert r["total_cost"] == 10
    assert r["kh"] == (_vit_h(7, 0) + _vit_h(9, 1)) % (1 << 31)
    assert r["n_off"] == 0


def test_viterbi_off_road_counted(spark):
    rows = [(1, 0, -1, 1000), (1, 1, 5, 0)]
    r = _vit(spark, rows)[1]
    assert r["n_off"] == 1 and r["n_steps"] == 2
    assert r["total_cost"] == 1000 + 10  # off -> switch to 5


def test_viterbi_tie_prefers_stay(spark):
    from mapnik_vector_tile_spark.operators.graph import _vit_h

    # make switch cost exactly equal to stay: stay must win
    rows = [
        (1, 0, 5, 0), (1, 0, 6, 10),  # bp = (0, sid 5)
        (1, 1, 6, 0),                 # stay from 6: 10; switch from 5: 0+10=10
    ]
    r = _vit(spark, rows, C=10)[1]
    assert r["total_cost"] == 10
    assert r["kh"] == (_vit_h(6, 0) + _vit_h(6, 1)) % (1 << 31)  # stayed


def test_pagerank_exact_star(spark):
    from mapnik_vector_tile_spark.operators.graph import pagerank_rounds

    # undirected star: hub 0 -- leaves 1..4 (symmetrized edges)
    e = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    df = spark.createDataFrame(e, "u long, v long")
    out = {r["node"]: r for r in pagerank_rounds(df, rounds=2).collect()}
    S = 10**12
    n = 5
    r0 = S // n
    b = (15 * r0) // 100
    # round 1: hub gets 4 leaf contribs (r0 div 1), leaf gets r0 div 4
    hub1 = b + (85 * (4 * (r0 // 1))) // 100
    leaf1 = b + (85 * (r0 // 4)) // 100
    # round 2
    hub2 = b + (85 * (4 * (leaf1 // 1))) // 100
    leaf2 = b + (85 * (hub1 // 4)) // 100
    assert out[0]["deg"] == 4 and out[0]["r"] == hub2
    for i in range(1, 5):
        assert out[i]["deg"] == 1 and out[i]["r"] == leaf2


def test_isochrone_stats_two_islands(spark):
    from mapnik_vector_tile_spark.operators.graph import isochrone_stats

    m = 256
    # island A: 2x2 block at (10,10); island B: single cell (50,50);
    # one cell over budget must drop out
    rows = [
        (10 * m + 10, 5), (10 * m + 11, 6), (11 * m + 10, 7),
        (11 * m + 11, 8),
        (50 * m + 50, 3),
        (60 * m + 60, 99),  # over budget
    ]
    dist = spark.createDataFrame(rows, "node long, d long")
    out = isochrone_stats(dist, budget=18, m=m).collect()[0]
    assert out["n_cells"] == 5
    # 2x2 block perimeter 8, singleton 4
    assert out["perim"] == 12
    assert out["n_components"] == 2
    assert out["sum_d"] == 5 + 6 + 7 + 8 + 3
    assert (out["minx"], out["maxx"]) == (10, 50)
    assert (out["miny"], out["maxy"]) == (10, 50)


def test_triangle_count_fixtures(spark):
    from mapnik_vector_tile_spark.operators.graph import triangle_count

    # K4: 6 edges, 4 triangles, 12 ordered wedges... compute: wedges
    # a<b<c with a-b and b-c edges: for K4 nodes 0..3: middle b can be
    # 1 (a=0,c in {2,3}) or 2 (a in {0,1}, c=3) -> 4 wedges? no:
    # wedges = pairs of oriented edges (a<b, b<c): edges (0,1),(0,2),
    # (0,3),(1,2),(1,3),(2,3); b=1: a=0, c in {2,3} -> 2; b=2: a in
    # {0,1}, c=3 -> 2; total 4 wedges, all close -> 4 triangles
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    df = spark.createDataFrame(k4, "u long, v long")
    out = triangle_count(df).collect()[0]
    assert (out["n_edges"], out["n_wedges"], out["n_triangles"]) == (6, 4, 4)
    # duplicate + reversed edges collapse; path graph has no triangle
    path = [(0, 1), (1, 0), (1, 2), (1, 2)]
    o2 = triangle_count(
        spark.createDataFrame(path, "u long, v long")
    ).collect()[0]
    assert (o2["n_edges"], o2["n_wedges"], o2["n_triangles"]) == (2, 1, 0)


def test_kcore_peeling_rounds(spark):
    from mapnik_vector_tile_spark.operators.graph import kcore_rounds

    # K4 plus a tail path 4-5-6: for k=2 the tail peels in order
    # (6 first, then 5, then 4... wait 4 is in K4 so deg stays >= 3)
    edges = (
        [(i, j) for i in range(4) for j in range(i + 1, 4)]
        + [(3, 4), (4, 5), (5, 6)]
    )
    df = spark.createDataFrame(edges, "u long, v long")
    out = {r["node"]: r for r in kcore_rounds(df, k=2, rounds=4).collect()}
    # node 6 (deg 1) drops round 1; node 5 drops round 2 (deg fell to
    # 1); node 4 then has deg 1 (only edge to 3) -> drops round 3
    assert out[6]["dropped_round"] == 1
    assert out[5]["dropped_round"] == 2
    assert out[4]["dropped_round"] == 3
    # K4 members survive with deg0 counted on the symmetric table
    for n in range(4):
        assert out[n]["dropped_round"] == -1
    assert out[0]["deg0"] == 3 and out[3]["deg0"] == 4


def test_delta_stepping_equals_converged_bellman_ford(spark):
    """G1b: for every Δ the bucketed SSSP equals the fully-converged
    relaxation on random positive-weight graphs (rounds = n nodes is
    provably past convergence), including unreachable nodes (absent
    from both) and parallel edges."""
    import numpy as np

    from mapnik_vector_tile_spark.operators.graph import (
        bellman_ford,
        delta_stepping,
    )

    rng = np.random.default_rng(11)
    for trial in range(3):
        n = 30
        m = 120
        rows = [
            (int(rng.integers(0, n)), int(rng.integers(0, n)),
             int(rng.integers(1, 10)))
            for _ in range(m)
        ]
        rows = [(u, v, w) for u, v, w in rows if u != v]
        edges = spark.createDataFrame(rows, "u long, v long, w long")
        sources = spark.createDataFrame([(0,), (1,)], "node long")
        want = {
            (r.node, r.d)
            for r in bellman_ford(edges, sources, rounds=n).collect()
        }
        for delta in (1, 3, 8, 100):
            got = {
                (r.node, r.d)
                for r in delta_stepping(edges, sources, delta).collect()
            }
            assert got == want, (trial, delta)


def test_delta_stepping_rejects_nonpositive_weights(spark):
    import pytest as _pytest

    from mapnik_vector_tile_spark.operators.graph import delta_stepping

    edges = spark.createDataFrame([(0, 1, 0)], "u long, v long, w long")
    src = spark.createDataFrame([(0,)], "node long")
    with _pytest.raises(ValueError, match="weights"):
        delta_stepping(edges, src, 4)
