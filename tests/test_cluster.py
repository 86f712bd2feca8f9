"""Connected components (engine/cluster.py) vs an exact union-find oracle.

The loop's two scaling claims are asserted directly: correctness (min id per
component, any topology) and round count (pointer jumping contracts a path
graph in O(log n) rounds where plain hash-min needs O(n))."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_s2_spark.engine.cluster import connected_components, release


def _union_find(n_edges):
    parent = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = set()
    for a, b in n_edges:
        nodes.add(a)
        nodes.add(b)
    return {x: find(x) for x in nodes}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    )
    got = connected_components(df, **kw)
    return {r.node: r.cluster for r in got.collect()}


def test_two_components_and_isolated_edge(spark):
    edges = [(1, 2), (2, 3), (10, 11), (3, 1)]
    assert _run(spark, edges) == _union_find(edges)


def test_path_graph_logarithmic_rounds(spark):
    """A 120-node path: plain hash-min needs ~120 rounds; hash-min with
    pointer jumping must finish in well under 20."""
    edges = [(i, i + 1) for i in range(1, 120)]
    stats = {}
    got = _run(spark, edges, stats=stats)
    assert got == _union_find(edges)
    assert set(got.values()) == {1}
    assert stats["rounds"] <= 20, stats


def test_random_graphs_match_union_find(spark):
    rng = np.random.RandomState(7)
    for trial in range(3):
        n = 150
        m = int(rng.randint(40, 200))
        edges = set()
        while len(edges) < m:
            a, b = rng.randint(1, n + 1, 2)
            if a != b:
                edges.add((int(min(a, b)), int(max(a, b))))
        edges = sorted(edges)
        assert _run(spark, edges) == _union_find(edges)


def test_label_ids_shuffled_are_component_minima(spark):
    """Labels must be the MIN id even when the min enters through a long
    chain (descending ids stress the monotone-convergence argument)."""
    edges = [(i + 1, i) for i in range(1, 60)]  # 60 -> ... -> 1 descending
    got = _run(spark, edges)
    assert set(got.values()) == {1}


def _dbscan_brute(ids, minpts, radius):
    """Blocked numpy brute-force DBSCAN over the derived event geometry:
    returns {event_id: (role, cluster_id)} with the same deterministic
    tie-breaks as q_dbscan (cluster = min core id of the component, border
    joins its minimum-cluster core neighbor, noise = -1)."""
    import math

    from rust_s2_spark.engine import specs

    ids = np.asarray(sorted(ids), dtype=np.int64)
    lat, lng = specs.latlng_np(ids)
    la, ln = np.radians(lat), np.radians(lng)
    P = np.stack([np.cos(la) * np.cos(ln), np.cos(la) * np.sin(ln), np.sin(la)], 1)
    chord = 2.0 * math.sin(radius / 2.0)
    r2 = chord * chord
    n = len(ids)
    deg = np.zeros(n, dtype=np.int64)
    nbrs = [[] for _ in range(n)]
    B = 2000
    for s in range(0, n, B):
        d2 = ((P[s : s + B, None, :] - P[None, :, :]) ** 2).sum(-1)
        for r in range(d2.shape[0]):
            d2[r, s + r] = np.inf
        hit = d2 <= r2
        deg[s : s + B] = hit.sum(1)
        for r, c in zip(*np.nonzero(hit)):
            nbrs[s + r].append(int(c))
    core = deg + 1 >= minpts
    core_edges = [
        (int(ids[i]), int(ids[j]))
        for i in range(n)
        if core[i]
        for j in nbrs[i]
        if core[j] and i < j
    ]
    cc = _union_find(core_edges)
    out = {}
    for i in range(n):
        eid = int(ids[i])
        if core[i]:
            out[eid] = ("core", cc.get(eid, eid))
        else:
            cands = [
                cc.get(int(ids[j]), int(ids[j])) for j in nbrs[i] if core[j]
            ]
            out[eid] = ("border", min(cands)) if cands else ("noise", -1)
    return out


def test_dbscan_matches_brute_force_sf001(spark):
    """q_dbscan vs blocked numpy brute force at sf0.01 (the gate scale) —
    roles, cluster ids, and border tie-breaks all exact; asserts the
    fixture genuinely exercises all three roles."""
    from rust_s2_spark.engine import specs
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    sf = "/root/testdata/sf0.01"
    got = {
        r.event_id: (r.role, r.cluster_id)
        for r in QUERIES["s2_dbscan"](spark, sf).collect()
    }
    ids = list(got)
    expect = _dbscan_brute(ids, specs.DBSCAN_MINPTS, specs.DISTANCE_JOIN_RADIUS)
    assert got == expect
    roles = {v[0] for v in got.values()}
    assert roles == {"core", "border", "noise"}, roles
    clear_geo_cache()


def test_dbscan_all_noise_degenerate(spark):
    """sf0.001's epsilon graph has max degree 1 < minPts-1: every event is
    noise and no core machinery fires (the empty-core-edge-set branch of
    connected_components).  q_dbscan -> clear_geo_cache -> q_dbscan (and
    s2_cluster_stats) returns identical rows: the rebuild reads no block the
    clear, or q_dbscan's own release of its intermediates, freed."""
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    sf = "/root/testdata/sf0.001"
    rows = sorted(QUERIES["s2_dbscan"](spark, sf).collect())
    assert len(rows) == 1000
    assert all(r.role == "noise" and r.cluster_id == -1 for r in rows)
    stats = sorted(QUERIES["s2_cluster_stats"](spark, sf).collect())
    clear_geo_cache()
    assert sorted(QUERIES["s2_dbscan"](spark, sf).collect()) == rows
    assert sorted(QUERIES["s2_cluster_stats"](spark, sf).collect()) == stats
    clear_geo_cache()


def test_query_matches_union_find_on_real_pairs(spark):
    """q_spatial_cluster vs union-find over q_distance_join's own pairs at
    sf0.001 — pins query wiring (memoization, sizes join) to the kernel."""
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache

    sf = "/root/testdata/sf0.001"
    pairs = [
        (r.event_a, r.event_b)
        for r in QUERIES["s2_distance_join"](spark, sf).collect()
    ]
    expect = _union_find(pairs)
    out = {
        r.event_id: (r.cluster_id, r.cluster_size)
        for r in QUERIES["s2_spatial_cluster"](spark, sf).collect()
    }
    from collections import Counter

    sizes = Counter(expect.values())
    assert {k: v[0] for k, v in out.items()} == expect
    assert all(v[1] == sizes[v[0]] for v in out.values())
    assert len(out) > 20
    clear_geo_cache()


def _persisted_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _joined_edges(spark):
    """Edges built through joins over a PERSISTED input (the shape q_dbscan
    hands the loop: a deep plan whose rows come from a cache): points share
    an edge when they sit in the same bucket and their ids differ by at most
    3.  Returns (edge frame, persisted points, the edges as python pairs)."""
    rng = np.random.RandomState(11)
    pts = spark.createDataFrame(
        [(int(i), int(b)) for i, b in enumerate(rng.randint(0, 9, 240))],
        "id long, bucket long",
    ).persist()
    pts.count()
    a = pts.select(F.col("id").alias("src"), F.col("bucket").alias("ba"))
    b = pts.select(F.col("id").alias("dst"), F.col("bucket").alias("bb"))
    edges = (
        a.join(b, F.col("ba") == F.col("bb"))
        .where((F.col("src") < F.col("dst")) & (F.col("dst") - F.col("src") <= 3))
        .select("src", "dst")
    )
    pairs = [(r.src, r.dst) for r in edges.collect()]
    return edges, pts, pairs


def test_joins_over_persisted_input_match_union_find(spark):
    edges, pts, pairs = _joined_edges(spark)
    assert len(pairs) > 20
    got = {r.node: r.cluster for r in connected_components(edges).collect()}
    assert got == _union_find(pairs)
    pts.unpersist()


def test_only_the_labels_leaf_stays_persisted(spark):
    """Every round's checkpoint, the symmetric edge leaf and each superseded
    contracted edge set are released before the call returns: the persisted
    RDDs afterwards are the ones before plus exactly the returned labels'
    leaf."""
    edges, pts, _ = _joined_edges(spark)
    before = _persisted_ids(spark)
    stats = {}
    got = connected_components(edges, stats=stats)
    after = _persisted_ids(spark)
    assert stats["rounds"] >= 2  # several rounds' leaves were released
    leaves = got._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1
    assert after - before == {leaves.apply(0).rdd().id()}
    release(got)
    assert _persisted_ids(spark) - before == set()
    pts.unpersist()


def test_non_convergence_releases_its_checkpoints(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "src long, dst long"
    )
    before = _persisted_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_rounds=1)
    assert _persisted_ids(spark) - before == set()

