"""Graph operators (reference §2.B B1/B2/B6 — documented, never
implemented: ARCHITECTURE.md:219-226 property-graph sharding,
ARCHITECTURE.md:548-568 multi-hop traversal, README.md:120-127).

The reference's design stores vertices hashed across shards with edges
co-located at their source vertex. The Spark realization: vertex and
edge DataFrames, traversal = self-joins on dst=src, co-location =
repartition on src (the analog of torua's edge placement), iterative
algorithms (connected components, PageRank, BFS, k-core, ...) = loops
of joins with ``localCheckpoint`` to truncate lineage each round, all
run by one superstep driver, `_supersteps` (the Pregel pattern
re-expressed on DataFrames, since PySpark has no GraphX binding).

Scale notes:
- the edge build (orders ⋈ lineitem) is a co-partitioned shuffle join
  on l_orderkey; at 100 TB both facts should be bucketed on orderkey
  so it degrades to a zero-shuffle sort-merge join
- per-iteration state in CC/PageRank is one (vertex, label) table;
  messages = one shuffle per hop on dst — exactly the scatter-gather
  the reference's docs describe per-shard
- localCheckpoint every iteration keeps the plan O(1) deep instead of
  O(iterations); without it Catalyst re-derives the whole lineage and
  planning time explodes by iteration 10
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

from torua_spark.functions.compat import round4

_ROWS_PER_PARTITION = 50_000

# The vertex state enters each round's edge join through a chained
# BroadcastExchange while it fits this many vertices (~16 B/vertex per
# in-flight round): the big static edge list then never moves inside
# the loop and the only per-round shuffle is the message aggregation —
# measured 1.5-2.5x over the shuffle join on the co-purchase graph at
# sf0.1. Past it the state joins by shuffle, the shape for a vertex set
# too big to broadcast (there the deployment answer is an edge table
# bucketed on the join key). Both shapes give identical results.
_BROADCAST_STATE_MAX_VERTICES = 8_000_000


@contextmanager
def _iteration_partitions(df: DataFrame, n_rows: int):
    """Size shuffle partitions for an iterative loop to the working
    set instead of the session default: AQE right-sizes single queries
    but not the dozens of tiny shuffles an iterative algorithm issues.
    Clamped below by 8 and above by the session setting (a 10B-edge
    graph keeps the full configured parallelism)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    parts = max(8, min(int(prev), n_rows // _ROWS_PER_PARTITION + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@contextmanager
def _supersteps(edges: DataFrame, vertex_cols: tuple[str, ...] = ("a",)):
    """The superstep driver of every iterative graph operator — the
    Pregel pattern on DataFrames: each round joins the vertex state
    against the static edge list (the messages) and aggregates them
    into the next state.

    Checkpoints the loop-invariant ``edges`` once, then runs ONE stats
    job (edge count plus approximate distinct counts over
    ``vertex_cols``, summed — an upper bound on |V| for a directed
    edge list) that picks the join shape and sizes the shuffle
    partitions (`_iteration_partitions`) for the whole ``with`` block,
    so the caller's state set-up and post-loop work run at the loop
    width too. Yields ``(edges, run)``, with

    ``run(state, body, rounds, probe=None, every=1, cap_error=None)``

    chaining ``body(state, r)`` for rounds ``r = 1, 2, ...``. ``body``
    receives the state already wrapped for the edge join (broadcast
    while |V| fits `_BROADCAST_STATE_MAX_VERTICES`) and returns the
    next state. Without a ``probe`` exactly ``rounds`` rounds run and
    the result is materialized by one eager checkpoint. With one,
    ``rounds`` is a ceiling: ``probe(state)`` runs before the first
    round and after every ``every`` rounds (the last batch clipped to
    the ceiling), and the loop stops at the first value equal to the
    previous one — the probed state is already materialized. An
    operator whose extra rounds are idempotent returns its state at
    the ceiling; with ``cap_error(rounds_done, probe_value)`` it
    raises ``ValueError`` with that message instead.

    Cost: each round is a ``localCheckpoint(eager=False)``, which cuts
    the lineage so planning stays O(1) per round instead of
    re-deriving every earlier round. It does NOT fuse the loop into
    one Spark job: under AQE, building a round's plan runs its
    exchanges (the state broadcast, the message shuffle) as jobs
    before any action. Measured at local[4] on a 70-edge graph: 2 jobs
    per `pagerank` iteration and 3 per `label_propagation` round, and
    every job of a run but one fires before its first action. A probe
    costs its own aggregate jobs, which ``every`` amortizes. Lineage
    is cut with driver-local checkpoints; a real cluster would
    checkpoint to object storage for fault tolerance."""
    edges = edges.localCheckpoint()
    stats = edges.agg(
        F.count(F.lit(1)),
        *[F.approx_count_distinct(c) for c in vertex_cols],
    ).collect()[0]
    n_edges, n_vertices = stats[0], sum(stats[1:])
    wrap = F.broadcast if n_vertices <= _BROADCAST_STATE_MAX_VERTICES else (lambda d: d)

    def run(state, body, rounds, probe=None, every=1, cap_error=None):
        def step(s: DataFrame, r: int) -> DataFrame:
            return body(wrap(s), r).localCheckpoint(eager=False)

        if probe is None:
            for r in range(1, rounds + 1):
                state = step(state, r)
            return state.localCheckpoint(eager=True)
        prev, done = probe(state), 0
        while done < rounds:
            for _ in range(min(every, rounds - done)):
                done += 1
                state = step(state, done)
            cur = probe(state)
            if cur == prev:
                return state
            prev = cur
        if cap_error is not None:
            raise ValueError(cap_error(done, prev))
        return state

    with _iteration_partitions(edges, n_edges):
        yield edges, run


def copurchase_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Edge list customer -> supplier through orders ⋈ lineitem
    (FIXTURES.md §2.5). Distinct (src, dst) pairs."""
    return (
        orders.select("o_orderkey", "o_custkey")
        .join(lineitem.select("l_orderkey", "l_suppkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )


def coproduct_edges(orders: DataFrame, lineitem: DataFrame, distinct: bool = True) -> DataFrame:
    """Bipartite edge list customer -> (supplier, part): the customer
    bought that part from that supplier. Distinct triples.

    This is the scale-safe projection key for co-purchase analysis:
    grouping by (supplier, part) keeps pair blow-up linear in the edge
    count (measured max group size 3 at sf0.1, vs 345M raw pairs when
    keyed on supplier alone — a dense projection no engine should
    materialize at 100 TB).

    `distinct=False` skips the dedup shuffle for consumers whose next
    step dedups anyway (e.g. collect_set per (supp, part))."""
    out = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            lineitem.select("l_orderkey", "l_suppkey", "l_partkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("src"),
            F.col("l_suppkey").alias("supp"),
            F.col("l_partkey").alias("part"),
        )
    )
    return out.distinct() if distinct else out


def two_hop(orders: DataFrame, lineitem: DataFrame,
            customer: DataFrame, supplier: DataFrame) -> DataFrame:
    """B2 — `MATCH (c)-[*2]->(s)` over the star schema: distinct
    (c_custkey, s_suppkey) pairs reachable customer->order->line->supplier,
    with both endpoints verified against their vertex tables."""
    e = copurchase_edges(orders, lineitem)
    return (
        e.join(customer.select(F.col("c_custkey").alias("src")), "src", "left_semi")
        .join(supplier.select(F.col("s_suppkey").alias("dst")), "dst", "left_semi")
        .select(F.col("src").alias("c_custkey"), F.col("dst").alias("s_suppkey"))
    )


def out_degree(edges: DataFrame) -> DataFrame:
    """B6 — out-degree per source vertex: one partial+final count."""
    return edges.groupBy(F.col("src").alias("custkey")).agg(F.count(F.lit(1)).alias("degree"))


def triangle_pattern(customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """B1/B3 — pattern match customer->nation->region + aggregate:
    `MATCH (c:Customer)-[:IN]->(n:Nation)-[:IN]->(r:Region)` with group
    counts and balance stats per (region, nation). Both dims broadcast."""
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            round4(F.sum("c_acctbal")).alias("sum_acctbal"),
        )
    )


def _undirected(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Symmetrized edge list. ``dedup=False`` skips the distinct
    shuffle over 2|E| rows — safe whenever reversal cannot create a
    duplicate (e.g. a bipartite-encoded vertex space where src and dst
    ids never overlap) AND the input is already distinct; min/Pregel
    consumers stay CORRECT either way (idempotent messages), duplicate
    edges only cost message volume per round."""
    fwd = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    out = fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return out.distinct() if dedup else out


def _id_labels(und: DataFrame) -> DataFrame:
    """(id, label = id) for every vertex of the symmetric edge list."""
    return (
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )


def _min_labels(und: DataFrame, rounds: int, **loop) -> DataFrame:
    """(id, label) by min-label propagation over the symmetric edge
    list ``und`` (a, b): labels start as the vertex ids and each round
    every vertex takes the min of its own and its neighbors' labels.
    ``loop`` passes the probe arguments of `_supersteps`' ``run``."""
    with _supersteps(und) as (und, run):
        labels = _id_labels(und)

        def _round(state: DataFrame, _r: int) -> DataFrame:
            msgs = und.join(state, und.a == state.id).select(
                F.col("b").alias("id"), F.col("label")
            )
            return (
                msgs.unionByName(state.select("id", "label"))
                .groupBy("id")
                .agg(F.min("label").alias("label"))
            )

        return run(labels, _round, rounds, **loop)


def connected_components(edges: DataFrame, max_iter: int = 25,
                         undirected_dedup: bool = True) -> DataFrame:
    """B6 — connected components by iterative min-label propagation:
    the fixpoint labels every vertex with the min vertex id of its
    component. ``max_iter`` is a ceiling: a label-sum probe runs every
    2 rounds and the loop stops at the first unchanged sum (labels
    only fall, so an unchanged sum is the fixpoint); the worst case
    runs one idempotent round past it. ``undirected_dedup=False``
    skips the distinct over the symmetrized edges (see `_undirected`).

    Input edges must already be over a single numeric vertex-id space.
    """
    labels = _min_labels(
        _undirected(edges, dedup=undirected_dedup), max_iter,
        probe=lambda s: s.agg(F.sum("label")).collect()[0][0], every=2,
    )
    return labels.select(F.col("id").alias("vertex"), F.col("label").alias("component"))


def bfs_hop_histogram(edges: DataFrame, seed_ids: DataFrame,
                      max_hops: int = 4) -> DataFrame:
    """B2 generalized — multi-source BFS over the undirected graph:
    min hop distance from the seed set (`seed_ids`: one `id` column),
    emitted as a histogram (hops, n_vertices) plus one `hops = -1` row
    counting vertices unreached within `max_hops`.

    State is the SPARSE reached set (id, hops) — rounds only touch the
    frontier's neighborhood, not the full vertex table, so early
    rounds are proportional to the expanding ball, not |V|; min-
    aggregation makes re-discovery idempotent."""
    with _supersteps(_undirected(edges)) as (und, run):
        vertices = und.select(F.col("a").alias("id")).distinct().localCheckpoint()
        n_vertices = vertices.count()  # exact: it is in the output
        dist = (
            seed_ids.select("id")
            .join(vertices, "id", "left_semi")
            .select("id", F.lit(0).cast("int").alias("hops"))
            .localCheckpoint()
        )

        def _round(state: DataFrame, _r: int) -> DataFrame:
            msgs = und.join(state, und.a == state.id).select(
                F.col("b").alias("id"), (F.col("hops") + F.lit(1)).alias("hops")
            )
            return (
                msgs.unionByName(state.select("id", "hops"))
                .groupBy("id")
                .agg(F.min("hops").cast("int").alias("hops"))
            )

        dist = run(dist, _round, max_hops)
        n_reached = dist.count()
    hist = dist.groupBy("hops").agg(F.count(F.lit(1)).alias("n_vertices"))
    spark = edges.sparkSession
    unreached = spark.range(1).select(
        F.lit(-1).cast("int").alias("hops"),
        F.lit(n_vertices - n_reached).cast("long").alias("n_vertices"),
    )
    return hist.unionByName(unreached)


def copurchase_vertex_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Co-purchase edges re-encoded into one numeric vertex space:
    customer c -> 2c, supplier s -> 2s+1 (bipartite disambiguation)."""
    e = copurchase_edges(orders, lineitem)
    return e.select((F.col("src") * 2).alias("src"), (F.col("dst") * 2 + 1).alias("dst"))


def _transition(edges: DataFrame, weight_col: str | None = None) -> DataFrame:
    """(src, dst, w) with the loop-invariant out-degree folded in once:
    w = 1/out_deg(src) — or, given ``weight_col``, w_ij / sum_j w_ij
    (rank flows in proportion to edge weight) — so a rank loop joins
    only this relation per round, not the degrees again."""
    if weight_col is None:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
        w = F.lit(1.0) / F.col("out_deg")
    else:
        deg = edges.groupBy("src").agg(
            F.sum(F.col(weight_col).cast("double")).alias("out_deg")
        )
        w = F.col(weight_col).cast("double") / F.col("out_deg")
    return edges.join(deg, "src").select("src", "dst", w.alias("w")).localCheckpoint()


def pagerank(edges: DataFrame, iterations: int = 10, damping: float = 0.85,
             weight_col: str | None = None) -> DataFrame:
    """B6 — PageRank via iterative DataFrame joins (directed edges).

    Standard power iteration: rank = (1-d) + d * sum(incoming rank /
    out_degree), or with ``weight_col`` incoming rank in proportion to
    edge weight. Vertices with no outgoing edges contribute nothing
    (classic simplified formulation). A fixed iteration count, no
    probe. Output rounded to 4 dp."""
    with _supersteps(edges, ("src", "dst")) as (edges, run):
        vertices = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
            .localCheckpoint()
        )
        ew = _transition(edges, weight_col)
        # Zero-contribution rows for every vertex replace a final
        # vertices left-join: dangling/no-inbound vertices survive the
        # groupBy, so a rank update = union + ONE aggregation shuffle.
        zeros = vertices.select("id", F.lit(0.0).alias("c"))

        def _round(state: DataFrame, _r: int) -> DataFrame:
            contribs = ew.join(state, ew.src == state.id).select(
                F.col("dst").alias("id"), (F.col("rank") * F.col("w")).alias("c")
            )
            return (
                contribs.unionByName(zeros)
                .groupBy("id")
                .agg(F.sum("c").alias("s"))
                .select(
                    "id",
                    (F.lit(1.0 - damping) + F.lit(damping) * F.col("s")).alias("rank"),
                )
            )

        ranks = run(vertices.withColumn("rank", F.lit(1.0)), _round, iterations)
    return ranks.select(F.col("id").alias("vertex"), round4("rank").alias("rank"))


# Unbounded-BFS safety rail: probe for convergence every batch of
# rounds (amortizing the probe's jobs), and refuse to return a
# possibly-incomplete reached set if a pathological graph (a 100k-hop
# path) is still growing at the cap — loud beats silently partial.
SSSP_CONVERGE_BATCH = 3
SSSP_CONVERGE_CAP = 64
# probes fall on batch ends, so the cap bites at the first one at or past it
_SSSP_ROUNDS = -(-SSSP_CONVERGE_CAP // SSSP_CONVERGE_BATCH) * SSSP_CONVERGE_BATCH


def shortest_paths(edges: DataFrame, source_id: int,
                   max_hops: int | None = 6,
                   undirected_dedup: bool = True) -> DataFrame:
    """B2 — Cypher ``shortestPath((src)-[*..k]-(v))`` parity: single-
    source unweighted shortest paths over the undirected graph, with a
    DETERMINISTIC predecessor per vertex so callers can reconstruct one
    canonical shortest path (reference ARCHITECTURE.md:548-568 multi-hop
    traversal; README.md:120-127 graph queries).

    Returns (id, hops, via): `hops` = min distance from `source_id`
    within `max_hops`, `via` = the smallest-id predecessor among all
    shortest paths (NULL for the source itself). Determinism matters
    because the driver hash-compares against a DuckDB oracle: ties are
    broken lexicographically on (hops, via) via a struct-min, which both
    engines order identically (hops first; `via` ties are always
    non-null because only the source holds hops=0).

    ``max_hops=None`` (the Cypher ``[:R*]`` unbounded hop) runs BFS to
    CONVERGENCE: the reached set grows by >= 1 vertex per round until
    the component is exhausted, so an unchanged count over a batch of
    rounds proves the fixpoint; the count probe runs once per
    SSSP_CONVERGE_BATCH rounds, extra post-fixpoint rounds are
    idempotent (struct-min), and a graph still growing at
    SSSP_CONVERGE_CAP rounds raises rather than return a silently
    partial reached set.

    Scale shape — the sparse-frontier skeleton of `bfs_hop_histogram`:
    state is the reached set only and message volume per round is the
    frontier's neighborhood, not |E|. At 100 TB the edge table should
    be bucketed on `a` so the per-round join is shuffle-free on the
    edge side.
    """
    with _supersteps(_undirected(edges, dedup=undirected_dedup)) as (und, run):
        dist = (
            und.filter(F.col("a") == F.lit(source_id))
            .select(F.col("a").alias("id"))
            .distinct()
            .select(
                "id",
                F.lit(0).cast("int").alias("hops"),
                F.lit(None).cast("long").alias("via"),
            )
            .localCheckpoint()
        )

        def _round(state: DataFrame, r: int) -> DataFrame:
            # FRONTIER-only messages: only vertices first reached in
            # the previous round send. A vertex's hops is final at
            # first reach (BFS level order) and every minimal-hops
            # predecessor of a vertex is first reached in the SAME
            # round, so every (hops, via) message that can win the
            # struct-min arrives together the round after — re-sends
            # from older vertices only repeat messages the min already
            # consumed.
            frontier = state.filter(F.col("hops") == F.lit(r - 1))
            msgs = und.join(frontier, und.a == frontier.id).select(
                F.col("b").alias("id"),
                (F.col("hops") + F.lit(1)).cast("int").alias("hops"),
                F.col("a").cast("long").alias("via"),
            )
            return (
                msgs.unionByName(state.select("id", "hops", "via"))
                .groupBy("id")
                # struct-min = arg-min: smallest (hops, via) pair wins,
                # making the surviving predecessor deterministic.
                .agg(F.min(F.struct("hops", "via")).alias("s"))
                .select("id", F.col("s.hops").alias("hops"), F.col("s.via").alias("via"))
            )

        if max_hops is not None:
            return run(dist, _round, max_hops)
        return run(
            dist, _round, _SSSP_ROUNDS,
            probe=lambda s: s.count(), every=SSSP_CONVERGE_BATCH,
            cap_error=lambda rounds, n: (
                f"unbounded shortestPath still expanding after "
                f"{rounds} BFS rounds ({n} vertices reached) — "
                f"graph diameter exceeds SSSP_CONVERGE_CAP="
                f"{SSSP_CONVERGE_CAP}; pass an explicit *..k "
                f"bound for a partial traversal"
            ),
        )


def reconstruct_path(paths: DataFrame, target_id: int) -> list[int]:
    """Walk `shortest_paths` predecessors from `target_id` back to the
    source; returns [source, ..., target] or [] if unreached.

    The walk stays DISTRIBUTED: k rounds of broadcast-joining the
    (≤1-row) current node's `via` back into the paths relation, chained
    lazily, then ONE collect of the k+1 path rows. Never collects the
    reached set itself (which is O(|V|) — the predecessor relation is
    the distributed artifact; a path is O(k) rows)."""
    paths = paths.localCheckpoint()
    cur = paths.filter(F.col("id") == F.lit(target_id)).localCheckpoint()
    head = cur.collect()  # 1 row: the target (or unreached)
    if not head:
        return []
    chain = cur
    for _ in range(int(head[0]["hops"])):
        cur = (
            paths.join(
                F.broadcast(cur.select(F.col("via").alias("id"))), "id"
            )
            .select("id", "hops", "via")
            .localCheckpoint(eager=False)
        )
        chain = chain.unionByName(cur)
    rows = chain.select("id", "hops").collect()  # k+1 rows
    return [r["id"] for r in sorted(rows, key=lambda r: r["hops"])]


def weighted_shortest_paths(edges: DataFrame, source_id: int,
                            rounds: int | None = 6,
                            undirected_dedup: bool = True) -> DataFrame:
    """B2 weighted — k-bounded lightest paths (Bellman-Ford rounds)
    over the undirected weighted graph: `dist` = minimum total edge
    weight among paths of <= `rounds` edges from `source_id`, with the
    same deterministic (dist, via) struct-min predecessor tie-break as
    `shortest_paths` (reference ARCHITECTURE.md:548-568 — traversal
    over edges carrying attributes).

    Input `edges` must carry (src, dst, w) with an EXACT (integer)
    weight column — exactness is what lets the driver hash-compare
    the result against the loop-unrolled oracle (floating-point
    min-plus would tie-break on rounding noise). Full Bellman-Ford is
    `rounds = |V| - 1`; a bounded k is the weighted analog of Cypher's
    `[*..k]` and keeps the job count fixed.

    ``rounds=None`` (the weighted twin of
    ``shortest_paths(max_hops=None)``) runs to CONVERGENCE. The BFS
    count probe is NOT sufficient here: distances keep improving
    after first reach, so the fixpoint probe compares THREE monotone
    aggregates — row count (non-decreasing), sum(dist)
    (componentwise non-increasing under the struct-min, so the sum
    strictly falls whenever any dist improves) and sum(via) over
    dist-stable states (via only improves downward at equal dist) —
    all three stable over a batch of rounds == nothing changed,
    exactly (no hashing, no false convergence). Probes amortize over
    SSSP_CONVERGE_BATCH rounds; a graph still relaxing at
    SSSP_CONVERGE_CAP rounds raises (for non-negative integer
    weights Bellman-Ford needs <= |V|-1 rounds, so the cap also
    catches a negative-cycle input loudly instead of looping).

    Scale shape: identical to `shortest_paths` — sparse state, one
    aggregation shuffle per round."""
    und = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), "w"
    ).unionByName(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"), "w")
    )
    if undirected_dedup:
        # parallel edges: keep the lightest. ``undirected_dedup=False``
        # skips this shuffle when the caller's input is already one row
        # per (src, dst) AND src/dst ids cannot collide (the bipartite
        # vertex encoding) — reversal then cannot create a duplicate
        # (a, b), so the groupBy is the identity.
        und = und.groupBy("a", "b").agg(F.min("w").alias("w"))
    with _supersteps(und) as (und, run):
        dist = (
            und.filter(F.col("a") == F.lit(source_id))
            .select(F.col("a").alias("id"))
            .distinct()
            .select(
                "id",
                F.lit(0).cast("long").alias("dist"),
                F.lit(None).cast("long").alias("via"),
                F.lit(True).alias("act"),
            )
            .localCheckpoint()
        )

        def _round(state: DataFrame, _r: int) -> DataFrame:
            # DELTA messages: only vertices whose (dist, via) changed
            # last round send. A vertex that did not change would
            # resend byte-identical messages, no-ops under the
            # struct-min (its last change already delivered its
            # current dist+w to every neighbor, and the state keeps
            # the min of everything ever received). ``act`` marks the
            # changed set: the winning struct differs from the best
            # previously-held row (or the vertex is newly reached).
            frontier = state.filter(F.col("act"))
            msgs = und.join(frontier, und.a == frontier.id).select(
                F.col("b").alias("id"),
                (F.col("dist") + F.col("w")).cast("long").alias("dist"),
                F.col("a").cast("long").alias("via"),
                F.lit(True).alias("msg"),
            )
            held = state.select(
                "id", "dist", "via", F.lit(False).alias("msg")
            )
            return (
                msgs.unionByName(held)
                .groupBy("id")
                .agg(
                    F.min(F.struct("dist", "via")).alias("s"),
                    F.min(
                        F.when(~F.col("msg"), F.struct("dist", "via"))
                    ).alias("s_old"),
                )
                .select(
                    "id",
                    F.col("s.dist").alias("dist"),
                    F.col("s.via").alias("via"),
                    (
                        F.col("s_old").isNull()
                        | (F.col("s") < F.col("s_old"))
                    ).alias("act"),
                )
            )

        def _fingerprint(d: DataFrame) -> tuple:
            r = d.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("dist").alias("sd"),
                F.sum(F.coalesce(F.col("via"), F.lit(0))).alias("sv"),
            ).collect()[0]
            return (r["n"], r["sd"], r["sv"])

        if rounds is not None:
            dist = run(dist, _round, rounds)
        else:
            dist = run(
                dist, _round, _SSSP_ROUNDS,
                probe=_fingerprint, every=SSSP_CONVERGE_BATCH,
                cap_error=lambda done, _fp: (
                    f"weighted shortest paths still relaxing after "
                    f"{done} Bellman-Ford rounds — graph diameter "
                    f"exceeds SSSP_CONVERGE_CAP={SSSP_CONVERGE_CAP} "
                    f"or the input has a negative cycle; pass an "
                    f"explicit rounds bound for a partial relaxation"
                ),
            )
    # ``act`` is loop machinery, not part of the contract
    return dist.select("id", "dist", "via")


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """B6 — community detection via synchronous label propagation with
    a SELF-VOTE and a deterministic tie-break: each round every vertex
    adopts the most frequent label among its neighbors plus itself,
    ties broken by the smallest label (arg-max on (count, -label)).

    The self-vote damps the 2-cycle oscillation synchronous LPA
    exhibits on bipartite graphs (the co-purchase graph IS bipartite);
    with a FIXED round count the run is deterministic either way, so
    the loop-unrolled oracle matches round-for-round — the same
    determinism contract as `pagerank`'s fixed power iteration.

    Cost: two aggregation shuffles per round ((id, label) vote count,
    then per-id arg-max) plus the message join — label state is one
    row per vertex, the same sparse-state scaling as the other
    iterative operators."""
    with _supersteps(_undirected(edges)) as (und, run):
        labels = _id_labels(und)

        def _round(state: DataFrame, _r: int) -> DataFrame:
            votes = (
                und.join(state, und.a == state.id)
                .select(F.col("b").alias("id"), "label")
                .unionByName(state.select("id", "label"))  # self-vote
            )
            return (
                votes.groupBy("id", "label")
                .agg(F.count(F.lit(1)).alias("n"))
                .groupBy("id")
                # arg-max (count, -label): most frequent label, ties to
                # the smallest label value
                .agg(F.max(F.struct(F.col("n"), (-F.col("label")).alias("neg"))).alias("s"))
                .select("id", (-F.col("s.neg")).alias("label"))
            )

        labels = run(labels, _round, rounds)
    return labels.select(F.col("id").alias("vertex"), F.col("label").alias("community"))


def k_core(edges: DataFrame, k: int = 2, rounds: int = 16,
           undirected_dedup: bool = True) -> DataFrame:
    """B6 — k-core membership by synchronous peeling: each round drops
    every vertex whose degree in the INDUCED surviving subgraph is
    < k; the fixpoint is the k-core. Returns (vertex, core_degree)
    for surviving vertices, core_degree = induced degree at the
    fixpoint. Peeling is monotone (survivors only shrink), so extra
    rounds past convergence are idempotent — the loop-unrolled oracle
    matches at ANY unroll depth >= the convergence round count, the
    same contract as connected_components.

    ``rounds`` is a CEILING, not a fixed count: the alive-set size is
    probed every 2 rounds and the loop stops at the first stable
    probe. Monotone peeling makes a stable COUNT a sound fixpoint
    witness: membership cannot change without the count dropping.
    Worst case runs one idempotent extra round, which the
    depth-idempotent oracle absorbs. The state carries each
    survivor's induced degree, so the fixpoint state is the result.

    Cost per round: the alive set re-enters the edge relation as two
    semi-joins plus one degree aggregation; state is one row per
    surviving vertex and the edge list is checkpointed once. Rounds
    needed ~ the peeling depth (cascade length), typically far below
    diameter."""
    with _supersteps(_undirected(edges, dedup=undirected_dedup)) as (und, run):
        alive = und.select(F.col("a").alias("id")).distinct().localCheckpoint()

        def _round(state: DataFrame, _r: int) -> DataFrame:
            induced = und.join(
                state.select(F.col("id").alias("a")), "a", "left_semi"
            ).join(state.select(F.col("id").alias("b")), "b", "left_semi")
            return (
                induced.groupBy(F.col("a").alias("id"))
                .agg(F.count(F.lit(1)).alias("core_degree"))
                .filter(F.col("core_degree") >= F.lit(k))
            )

        core = run(alive, _round, rounds, probe=lambda s: s.count(), every=2)
    return core.select(F.col("id").alias("vertex"), F.col("core_degree"))
