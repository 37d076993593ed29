"""graph.pagerank: exact-integer semantics on hand-computable graphs."""

from __future__ import annotations

import pytest

from data__converter_spark.graph import pagerank


def _ranks(df):
    return {r["node"]: r["rank_micro"] for r in df.collect()}


def test_two_node_cycle_is_stationary(spark):
    # A <-> B splits all rank evenly forever: 150000 + 850000 = 1000000
    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    assert _ranks(pagerank(e, iterations=3)) == {1: 1_000_000, 2: 1_000_000}


def test_dangling_source_decays_to_teleport_floor(spark):
    # A -> B only: A never receives, B's inflow dies once A hits the floor
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    r1 = _ranks(pagerank(e, iterations=1))
    assert r1 == {1: 150_000, 2: 1_000_000}
    r3 = _ranks(pagerank(e, iterations=3))
    assert r3 == {1: 150_000, 2: 277_500}  # 150000 + floor(850*150000/1000)


def test_zero_iterations_is_uniform_init(spark):
    e = spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long")
    assert _ranks(pagerank(e, iterations=0)) == {1: 1_000_000, 2: 1_000_000, 3: 1_000_000}
    with pytest.raises(ValueError):
        pagerank(e, iterations=-1)


def test_hub_outranks_leaves(spark):
    # star: all leaves point at the hub and back
    edges = [(i, 99) for i in range(1, 6)] + [(99, i) for i in range(1, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    r = _ranks(pagerank(e, iterations=3))
    hub = r[99]
    assert all(hub > r[i] for i in range(1, 6))
    # rank mass is conserved up to floor losses (no dangling nodes here)
    assert sum(r.values()) <= 6 * 1_000_000
    assert sum(r.values()) > 6 * 1_000_000 - 6_000  # floors lose < 1000 each


def test_triangle_count_known_graphs(spark):
    from data__converter_spark.graph import triangle_count

    # K4 on {1,2,3,4}: C(4,3)=4 triangles, every node in exactly 3.
    # A pendant edge (4,5) and a 4-cycle {10,11,12,13} add no triangles.
    # Edges arrive in BOTH directions + duplicated to test canonicalization.
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    square = [(10, 11), (11, 12), (12, 13), (13, 10), (11, 10)]
    edges = spark.createDataFrame(
        k4 + [(4, 5), (5, 4)] + square + [(7, 7)], "src long, dst long"
    )
    out = {r["node"]: r["n_triangles"] for r in triangle_count(edges).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # two triangles sharing edge (1,2): per-corner credit is exact
    shared = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (2, 4)], "src long, dst long"
    )
    out2 = {r["node"]: r["n_triangles"] for r in triangle_count(shared).collect()}
    assert out2 == {1: 2, 2: 2, 3: 1, 4: 1}


def test_pagerank_until_matches_fixed_iterations(spark):
    """The convergence loop's rank state after k supersteps is
    bit-identical to pagerank(iterations=k) — the probe machinery
    changes WHEN we stop, never WHAT we compute — for both probe
    cadences, and probe-to-probe deltas shrink monotonically on a
    contracting graph."""
    from data__converter_spark.graph import pagerank, pagerank_until
    from data__converter_spark.scale import release_persisted

    edges = [(i, 99) for i in range(1, 6)] + [(99, i) for i in range(1, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    want4 = _ranks(pagerank(e, iterations=4))
    for cadence in (1, 2):
        ranks, hist = pagerank_until(
            e, max_iterations=4, tol_micro=0, probe_every=cadence
        )
        got = _ranks(ranks)
        release_persisted()
        assert got == want4, f"cadence {cadence} diverged from fixed run"
        assert [h[0] for h in hist] == (
            [1, 2, 3, 4] if cadence == 1 else [2, 4]
        )
        deltas = [h[1] for h in hist]
        assert deltas == sorted(deltas, reverse=True)
        assert all(h[2] >= 0 for h in hist)


def test_pagerank_until_early_stop(spark):
    """A generous tolerance stops the loop before max_iterations, and
    the returned ranks equal the fixed-iteration run of the same
    length (no extra superstep applied after the stop decision)."""
    from data__converter_spark.graph import pagerank, pagerank_until
    from data__converter_spark.scale import release_persisted

    # 2-cycle: stationary after iteration 1 (delta 0 at iteration 2)
    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    ranks, hist = pagerank_until(e, max_iterations=10, tol_micro=0)
    got = _ranks(ranks)
    release_persisted()
    k = len(hist)
    assert k < 10, f"never stopped: {hist}"
    assert hist[-1][1] == 0 and hist[-1][2] == 0
    assert got == _ranks(pagerank(e, iterations=k))
    # probe cadence > 1 still stops (at the first probe whose window
    # saw no movement), at most cadence-1 supersteps late
    _, hist2 = pagerank_until(e, max_iterations=10, tol_micro=0, probe_every=3)
    release_persisted()
    assert hist2[-1][1] == 0 and len(hist2) < 4


def test_pagerank_until_adaptive_cadence_thins_probes(spark):
    """adaptive_cadence doubles the probe interval once the delta
    series contracts geometrically: on a star graph (contracting from
    the first probe) a 12-superstep run pays O(log) probes instead of
    12, the probe iterations stay strictly increasing and end at the
    budget, and the final ranks are bit-identical to the fixed run of
    the same length (probe placement never changes the arithmetic).
    With a budget <= 2*probe_every the series is identical to the
    non-adaptive run — the invariant the pinned 4-superstep oracle
    query relies on."""
    from data__converter_spark.graph import pagerank, pagerank_until
    from data__converter_spark.scale import release_persisted

    edges = [(i, 99) for i in range(1, 6)] + [(99, i) for i in range(1, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    ranks, hist = pagerank_until(
        e, max_iterations=12, tol_micro=0, probe_every=1,
        adaptive_cadence=True,
    )
    got = _ranks(ranks)
    release_persisted()
    its = [h[0] for h in hist]
    assert its == sorted(set(its)) and its[-1] == 12
    assert len(hist) < 12  # thinned
    assert got == _ranks(pagerank(e, iterations=12))
    release_persisted()
    # short-budget invariance: adaptive == fixed series
    _, h_fix = pagerank_until(e, max_iterations=4, tol_micro=0, probe_every=2)
    release_persisted()
    _, h_ad = pagerank_until(
        e, max_iterations=4, tol_micro=0, probe_every=2,
        adaptive_cadence=True,
    )
    release_persisted()
    assert h_fix == h_ad


def test_bfs_hops_min_distance_and_cutoff(spark):
    """Path 0-1-2-3-4 plus a shortcut 0-3: BFS must label each node
    with its MINIMUM hop (3 is 1 hop via the shortcut, 4 is 2), and
    nodes beyond max_hops stay out."""
    from data__converter_spark.graph import bfs_hops
    from data__converter_spark.scale import release_persisted

    undirected = [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3)]
    e = spark.createDataFrame(
        undirected + [(b, a) for a, b in undirected], "src long, dst long"
    )
    got = {r["node"]: r["hop"] for r in bfs_hops(e, 0, max_hops=2).collect()}
    release_persisted()
    assert got == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2}
    got1 = {r["node"]: r["hop"] for r in bfs_hops(e, 0, max_hops=1).collect()}
    release_persisted()
    assert got1 == {0: 0, 1: 1, 3: 1}


def test_bfs_hops_source_frame_runs_no_job(spark):
    """The 1-row source is a local relation with no lineage to cut, so
    building the zero-hop result submits no Spark job."""
    from data__converter_spark.graph import bfs_hops

    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    out = bfs_hops(e, 1, max_hops=0)
    assert sched.nextJobId() - before == 0
    assert [tuple(r) for r in out.collect()] == [(1, 0)]


def test_bfs_hops_early_exit_and_degenerate(spark):
    """Exhausted component stops before the hop budget (empty-frontier
    probe) and never revisits; max_hops=0 is just the source; an
    unreachable island never appears."""
    from data__converter_spark.graph import bfs_hops
    from data__converter_spark.scale import release_persisted

    e = spark.createDataFrame(
        [(0, 1), (1, 0), (7, 8), (8, 7)], "src long, dst long"
    )
    got = {r["node"]: r["hop"] for r in bfs_hops(e, 0, max_hops=10).collect()}
    release_persisted()
    assert got == {0: 0, 1: 1}
    got0 = [tuple(r) for r in bfs_hops(e, 0, max_hops=0).collect()]
    release_persisted()
    assert got0 == [(0, 0)]


def test_lpa_two_cliques_converge_to_min_labels(spark):
    """Two triangles joined by one bridge edge: after 2 supersteps
    each triangle carries its own minimum label, and the deterministic
    (count desc, label asc) tie-break picks the smaller label when
    neighbor labels tie."""
    from data__converter_spark.graph import label_propagation

    tri1 = [(0, 1), (1, 2), (2, 0)]
    tri2 = [(10, 11), (11, 12), (12, 10)]
    und = tri1 + tri2 + [(2, 10)]
    e = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r["node"]: r["lab"] for r in label_propagation(e, 2).collect()}
    # triangle 1: every node's neighbors all distinct -> min label 0
    # wins the tie; triangle 2 pulls toward its own min (10) except
    # where the bridge injects the smaller 2-side labels
    assert got[1] == 0 and got[0] <= 1 and got[11] <= 10
    # determinism: second run bit-identical
    again = {r["node"]: r["lab"] for r in label_propagation(e, 2).collect()}
    assert got == again


def test_lpa_no_in_edges_keeps_label_and_zero_iters(spark):
    from data__converter_spark.graph import label_propagation

    # directed: 5 -> 6 only; 5 has no in-edges and must keep label 5
    e = spark.createDataFrame([(5, 6)], "src long, dst long")
    got = {r["node"]: r["lab"] for r in label_propagation(e, 3).collect()}
    assert got == {5: 5, 6: 5}
    got0 = {r["node"]: r["lab"] for r in label_propagation(e, 0).collect()}
    assert got0 == {5: 5, 6: 6}


def test_link_predict_ra_index_and_cap(spark):
    from data__converter_spark.graph import link_predict

    # middles: m1 shared by {1,2} (deg 2), m2 by {1,2,3} (deg 3),
    # m3 by {2,3} (deg 2), hot by {1,2,3,4} (deg 4 -> capped out).
    rows = (
        [("m1", n) for n in (1, 2)]
        + [("m2", n) for n in (1, 2, 3)]
        + [("m3", n) for n in (2, 3)]
        + [("hot", n) for n in (1, 2, 3, 4)]
    )
    df = spark.createDataFrame(rows, "mid string, node int")
    out = {
        (r["node_a"], r["node_b"]): (r["common_middles"], r["ra_micro"])
        for r in link_predict(df, "mid", "node", max_middle_degree=3).collect()
    }
    # (1,2): m1 (1/2) + m2 (1/3) -> 500000 + 333333
    assert out[(1, 2)] == (2, 833333)
    # (2,3): m2 + m3 -> 333333 + 500000
    assert out[(2, 3)] == (2, 833333)
    # (1,3): m2 only
    assert out[(1, 3)] == (1, 333333)
    # node 4 only appears under the capped hot middle -> no pairs
    assert not any(4 in k for k in out)


def test_link_predict_dedupes_memberships_and_validates(spark):
    import pytest as _pytest

    from data__converter_spark.graph import link_predict

    rows = [("m", 1), ("m", 1), ("m", 2)]  # duplicate membership row
    df = spark.createDataFrame(rows, "mid string, node int")
    out = link_predict(df, "mid", "node").collect()
    assert len(out) == 1 and out[0]["common_middles"] == 1
    with _pytest.raises(ValueError):
        link_predict(df, "mid", "node", max_middle_degree=1)


def test_feature_propagate_floored_mean_and_keep(spark):
    from data__converter_spark.graph import feature_propagate

    # edges INTO node 1 from {2, 3}; node 4 has no in-edges
    e = spark.createDataFrame([(2, 1), (3, 1), (1, 2)], "src long, dst long")
    f = spark.createDataFrame(
        [(1, 10), (2, 7), (3, 8), (4, 99)], "node long, feat long"
    )
    got = {
        r["node"]: r["feat"]
        for r in feature_propagate(e, f, hops=1).collect()
    }
    # node 1: floor((7+8)/2) = 7; node 2: mean of {node1}=10; node 4 keeps
    assert got[1] == 7 and got[2] == 10 and got[4] == 99
    # node 3 has no in-edges either -> keeps
    assert got[3] == 8
    # two hops: node 1 now averages the hop-1 values of {2,3} = {10, 8} -> 9
    got2 = {
        r["node"]: r["feat"]
        for r in feature_propagate(e, f, hops=2).collect()
    }
    assert got2[1] == 9

