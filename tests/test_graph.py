"""Graph queries: SQL-expressible ones vs DuckDB oracle; iterative ones
vs pure-Python references (union-find, power iteration) at sf0.001."""

import pytest

from tests.oracle import compare, duck_connection
from torua_spark.queries import graph_q


@pytest.mark.parametrize("name", sorted(graph_q.ORACLE))
def test_graph_query_matches_oracle(spark, sf_dir, name):
    compare(graph_q.QUERIES[name](spark, sf_dir), graph_q.ORACLE[name], sf_dir)


def _edges(sf_dir):
    con = duck_connection(sf_dir)
    try:
        return con.execute(
            "SELECT DISTINCT o_custkey * 2, l_suppkey * 2 + 1 FROM orders o "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey"
        ).fetchall()
    finally:
        con.close()


def test_connected_components_vs_union_find(spark, sf_dir):
    edges = _edges(sf_dir)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # the root is always the min id in its component (union keeps min as
    # parent), so find(v) is the expected canonical label
    expected = {v: find(v) for v in parent}
    got = {
        r["vertex"]: r["component"]
        for r in graph_q.q_connected_components(spark, sf_dir).collect()
    }
    assert got == expected


def test_pagerank_vs_power_iteration(spark, sf_dir):
    edges = _edges(sf_dir)
    vertices = sorted({v for e in edges for v in e})
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    ranks = {v: 1.0 for v in vertices}
    for _ in range(10):
        contrib = {v: 0.0 for v in vertices}
        for s, d in edges:
            contrib[d] += ranks[s] / out_deg[s]
        ranks = {v: 0.15 + 0.85 * contrib[v] for v in vertices}
    got = {r["vertex"]: r["rank"] for r in graph_q.q_pagerank(spark, sf_dir).collect()}
    assert set(got) == set(vertices)
    for v in vertices:
        assert abs(got[v] - ranks[v]) < 1e-3, (v, got[v], ranks[v])


# A small graph for the superstep operators, one component: a path
# (CC needs 22 rounds), a cycle, a star, a 6-clique (the 3-core) and
# a triangle strip hung off the clique that 3-core peeling eats one
# vertex per round (13 rounds) — every loop iterates for real.
_SYN_EDGES = (
    [(i, i + 1) for i in range(11)]
    + [(20 + i, 20 + (i + 1) % 10) for i in range(10)]
    + [(40, 41 + i) for i in range(7)]
    + [(60 + i, 60 + j) for i in range(6) for j in range(i + 1, 6)]
    + [(11, 60), (29, 40), (47, 65)]
    + [(v, v + 1) for v in range(80, 91)]
    + [(v, v + 2) for v in range(80, 90)]
    + [(90, 60), (91, 61), (91, 62)]
)


def _superstep_op(spark, name):
    """A thunk building operator ``name`` over _SYN_EDGES."""
    from torua_spark.operators import dedup as dd, graph as g, graphrag as gr

    def edges():
        return spark.createDataFrame(_SYN_EDGES, "src long, dst long")

    def seeds():
        return spark.createDataFrame([(0,), (40,)], "id long")

    def weighted():
        return spark.createDataFrame(
            [(a, b, (a * 7 + b * 3) % 5 + 1) for a, b in _SYN_EDGES],
            "src long, dst long, w long",
        )

    def canonical():
        ids = sorted({v for e in _SYN_EDGES for v in e})
        docs = spark.createDataFrame(
            [(v, (v * 37) % 101) for v in ids], "doc_id long, n_chars long"
        )
        pairs = edges().toDF("doc_a", "doc_b")
        return dd.canonicalize_near_dups(docs, pairs=pairs)

    return {
        "connected_components": lambda: g.connected_components(edges()),
        "bfs_hop_histogram": lambda: g.bfs_hop_histogram(edges(), seeds(), 4),
        "pagerank": lambda: g.pagerank(edges()),
        "shortest_paths": lambda: g.shortest_paths(edges(), 0, None),
        "weighted_shortest_paths": lambda: g.weighted_shortest_paths(weighted(), 0),
        "label_propagation": lambda: g.label_propagation(edges()),
        "k_core": lambda: g.k_core(edges(), 3),
        "canonicalize_near_dups": canonical,
        "personalized_pagerank": lambda: gr.personalized_pagerank(edges(), seeds()),
    }[name]


# Spark jobs each operator fired building and collecting its result
# over _SYN_EDGES (local[4], broadcast shape) while every operator
# still carried its own copy of the loop. The shared superstep driver
# must not exceed them.
_SUPERSTEP_JOB_CEILING = {
    "connected_components": 83,
    "bfs_hop_histogram": 25,
    "pagerank": 33,
    "shortest_paths": 81,
    "weighted_shortest_paths": 20,
    "label_propagation": 23,
    "k_core": 57,
    "canonicalize_near_dups": 37,
    "personalized_pagerank": 40,
}


@pytest.mark.parametrize("name", sorted(_SUPERSTEP_JOB_CEILING))
def test_shuffle_shape_matches_broadcast(spark, monkeypatch, name):
    """The broadcast and shuffle loop bodies are alternative physical
    shapes of the SAME algorithm — results must be identical, so the
    broadcast threshold can move without changing any answer."""
    from torua_spark.operators import graph as g

    build = _superstep_op(spark, name)
    broadcast = sorted(map(tuple, build().collect()))
    monkeypatch.setattr(g, "_BROADCAST_STATE_MAX_VERTICES", -1)
    assert sorted(map(tuple, build().collect())) == broadcast
    assert broadcast


@pytest.mark.parametrize("name", sorted(_SUPERSTEP_JOB_CEILING))
def test_superstep_job_ceiling(spark, name):
    sc = spark.sparkContext
    group = f"superstep_jobs_{name}"
    sc.setJobGroup(group, group)
    try:
        _superstep_op(spark, name)().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= _SUPERSTEP_JOB_CEILING[name]


def test_recommend_items_matches_oracle(spark, sf_dir):
    from tests.oracle import compare
    from torua_spark.queries import graph_q

    compare(
        graph_q.QUERIES["recommend_items"](spark, sf_dir),
        graph_q.ORACLE["recommend_items"],
        sf_dir,
    )


def test_recommend_items_semantics(spark, sf_dir):
    """Never recommends an already-bought item; ranks are a prefix
    ordered by score desc; scores positive."""
    from pyspark.sql import functions as F

    from torua_spark.operators import recommend as rec
    from torua_spark.queries import graph_q
    from torua_spark.sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    out = graph_q.QUERIES["recommend_items"](spark, sf_dir).collect()
    assert out, "custkey 0 must receive recommendations"
    assert sorted(r["rank"] for r in out) == list(range(1, len(out) + 1))
    ordered = sorted(out, key=lambda r: r["rank"])
    scores = [r["rec_score"] for r in ordered]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    bought = {
        r["part"]
        for r in rec.order_baskets(orders, lineitem)
        .filter(F.col("o_custkey") == graph_q.REC_CUSTKEY)
        .select("part")
        .distinct()
        .collect()
    }
    assert not ({r["part"] for r in out} & bought)


def test_temporal_graph_evolution_matches_oracle(spark, sf_dir):
    from tests.oracle import compare
    from torua_spark.queries import graph_q

    compare(
        graph_q.QUERIES["temporal_graph_evolution"](spark, sf_dir),
        graph_q.ORACLE["temporal_graph_evolution"],
        sf_dir,
    )


def _bfs_reference(edges, source, max_hops):
    """Pure-Python BFS with the same (hops, via) lexicographic
    tie-break as graph.shortest_paths' struct-min."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    if source not in adj:
        return {}
    dist = {source: (0, None)}
    frontier = [source]
    for _ in range(max_hops):
        nxt = []
        for a in frontier:
            for b in adj[a]:
                cand = (dist[a][0] + 1, a)
                if b not in dist:
                    dist[b] = cand
                    nxt.append(b)
                elif cand[0] == dist[b][0] and cand[1] < dist[b][1]:
                    dist[b] = cand
        frontier = nxt
    return dist


def test_shortest_paths_vs_python_bfs(spark, sf_dir):
    edges = _edges(sf_dir)
    expected = _bfs_reference(edges, graph_q.SSSP_SOURCE, graph_q.SSSP_MAX_HOPS)
    got = {
        r["id"]: (r["hops"], r["via"])
        for r in graph_q.q_shortest_path(spark, sf_dir).collect()
    }
    assert got == expected


def test_reconstruct_path_walks_predecessors(spark, sf_dir):
    from torua_spark.operators import graph as g
    from torua_spark.sources.catalog import load_table

    edges_df = g.copurchase_vertex_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    paths = g.shortest_paths(edges_df, graph_q.SSSP_SOURCE, graph_q.SSSP_MAX_HOPS)
    rows = {r["id"]: r for r in paths.collect()}
    # pick the farthest reached vertex (deterministic: max hops, then id)
    target = max(rows.values(), key=lambda r: (r["hops"], r["id"]))["id"]
    walk = g.reconstruct_path(paths, target)
    assert walk[0] == graph_q.SSSP_SOURCE and walk[-1] == target
    assert len(walk) == rows[target]["hops"] + 1
    adj = set()
    for a, b in _edges(sf_dir):
        adj.add((a, b))
        adj.add((b, a))
    assert all((a, b) in adj for a, b in zip(walk, walk[1:]))
    # hops along the walk are 0..k in order
    assert [rows[v]["hops"] for v in walk] == list(range(len(walk)))
    # unreached target returns []
    assert g.reconstruct_path(paths, -999) == []


def _weighted_edges_py(sf_dir):
    con = duck_connection(sf_dir)
    try:
        return con.execute(
            "SELECT o_custkey * 2, l_suppkey * 2 + 1, min(CAST(l_quantity AS BIGINT)) "
            "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey GROUP BY 1, 2"
        ).fetchall()
    finally:
        con.close()


def test_weighted_shortest_paths_vs_python_bellman_ford(spark, sf_dir):
    adj = {}
    for s, d, w in _weighted_edges_py(sf_dir):
        adj.setdefault(s, {})[d] = min(w, adj.get(s, {}).get(d, w))
        adj.setdefault(d, {})[s] = min(w, adj.get(d, {}).get(s, w))
    src = graph_q.SSSP_SOURCE
    dist = {src: (0, None)}
    for _ in range(graph_q.WSSSP_ROUNDS):
        cur = dict(dist)
        for a, (da, _) in cur.items():
            for b, w in adj.get(a, {}).items():
                cand = (da + w, a)
                if b not in dist or cand < dist[b]:
                    dist[b] = cand
    got = {
        r["id"]: (r["dist"], r["via"])
        for r in graph_q.q_weighted_shortest_path(spark, sf_dir).collect()
    }
    assert got == dist


def test_label_propagation_vs_python_lpa(spark, sf_dir):
    adj = {}
    for a, b in _edges(sf_dir):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    for _ in range(graph_q.LPA_ROUNDS):
        nxt = {}
        for v in adj:
            votes = {}
            for u in adj[v]:
                votes[labels[u]] = votes.get(labels[u], 0) + 1
            votes[labels[v]] = votes.get(labels[v], 0) + 1  # self-vote
            nxt[v] = min(votes, key=lambda l: (-votes[l], l))
        labels = nxt
    got = {
        r["vertex"]: r["community"]
        for r in graph_q.q_label_propagation(spark, sf_dir).collect()
    }
    assert got == labels


def test_k_core_vs_python_peeling(spark, sf_dir):
    """k_core == the true peeling fixpoint (pure-Python reference run
    to convergence, not round-bounded) — proving 8 rounds cover the
    cascade depth at this scale, and the reported core_degree is the
    induced degree inside the fixpoint set."""
    adj = {}
    for a, b in _edges(sf_dir):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    k = 5
    alive = set(adj)
    while True:
        drop = {v for v in alive
                if sum(1 for u in adj[v] if u in alive) < k}
        if not drop:
            break
        alive -= drop
    want = {
        v: sum(1 for u in adj[v] if u in alive) for v in alive
    }
    from torua_spark.operators import graph as g
    from torua_spark.sources.catalog import load_table

    edges = g.copurchase_vertex_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    got = {
        r["vertex"]: r["core_degree"] for r in g.k_core(edges, k, 8).collect()
    }
    assert got == want
    assert len(got) > 0  # non-vacuous: a k-core exists at this k
    # and something was actually peeled
    assert len(got) < len(adj)


def test_weighted_shortest_paths_convergence_mode(spark):
    """rounds=None (round 9): converged Bellman-Ford == a
    sufficiently-large fixed-round run, including the case the BFS
    count probe would get WRONG — a path graph whose heavy shortcut
    is replaced by a lighter longer route rounds after every vertex
    is first reached (count stabilizes early, distances keep
    improving) — plus the loud cap on a too-deep graph."""
    import pytest

    from torua_spark.operators import graph as g

    # shortcut 0-3 (w=100) reaches 3 in round 1; the light chain
    # 0-1-2-3 (total 3) only relaxes 3's dist by round 3 — after the
    # reached COUNT went stable. The triple-aggregate probe must keep
    # iterating until dist stabilizes too.
    edges = spark.createDataFrame(
        [(0, 3, 100), (0, 1, 1), (1, 2, 1), (2, 3, 1), (3, 4, 1)],
        "src long, dst long, w long",
    )
    got = {
        r.id: (r.dist, r.via)
        for r in g.weighted_shortest_paths(edges, 0, None).collect()
    }
    want = {
        r.id: (r.dist, r.via)
        for r in g.weighted_shortest_paths(edges, 0, 10).collect()
    }
    assert got == want
    assert got[3] == (3, 2) and got[4] == (4, 3)
    # loud cap: a chain longer than the cap
    n = g.SSSP_CONVERGE_CAP + 8
    deep = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(n)], "src long, dst long, w long"
    )
    with pytest.raises(ValueError, match="still relaxing"):
        g.weighted_shortest_paths(deep, 0, None)
