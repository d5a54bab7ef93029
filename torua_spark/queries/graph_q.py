"""Declared graph queries (B1/B2/B6) + oracles.

`graph_2hop`, `graph_degree`, `graph_triangle_agg` are directly
SQL-expressible. The iterative pair (`connected_components`,
`graph_pagerank`) is hash-checked too, via LOOP-UNROLLED oracles —
one generated CTE per round (see `_cc_oracle_sql`/`_pr_oracle_sql`);
pytest additionally verifies both against pure-Python references at
sf0.001.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from torua_spark.operators import graph as g
from torua_spark.sources.catalog import load_table

EDGES_SQL = """
    SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
"""


def q_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 `MATCH (c)-[*2]->(s)` — routed through the Cypher-style
    pattern front-end (plans/pattern.py; reference ARCHITECTURE.md:
    327-339) so the declared entry driver-proves the compiler: the
    2-hop chain compiles to the same orders/lineitem joins with
    unique-key endpoint verification that operators/graph.two_hop
    hand-writes (equality pinned in tests/test_pattern.py)."""
    from pyspark.sql import functions as F

    from torua_spark.plans.pattern import PropertyGraph

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_vertex("supplier", load_table(spark, sf_dir, "supplier"), "s_suppkey")
        .add_edge("PLACED", orders.select("o_custkey", "o_orderkey"),
                  "o_custkey", "o_orderkey")
        .add_edge("HAS_SUPP", lineitem.select("l_orderkey", "l_suppkey"),
                  "l_orderkey", "l_suppkey")
    )
    return pg.query(
        "MATCH (c:customer)-[:PLACED]->(o)-[:HAS_SUPP]->(s:supplier) "
        "RETURN DISTINCT c AS c_custkey, s AS s_suppkey"
    )


def q_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    return g.out_degree(
        g.copurchase_edges(
            load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
        )
    )


def q_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1/B3 pattern + aggregate — routed through the pattern
    front-end. The FK edges compile to ZERO extra joins (the
    star-schema fast path), so the binding's join tree is exactly
    operators/graph.triangle_pattern's broadcast star join, and the
    RETURN aggregate is compiled by PropertyGraph.query — the declared
    entry driver-proves the full MATCH/RETURN clause chain of the
    reference's example (ARCHITECTURE.md:327-339)."""
    from pyspark.sql import functions as F

    from torua_spark.functions.compat import round4
    from torua_spark.plans.pattern import PropertyGraph

    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_vertex("nation", load_table(spark, sf_dir, "nation"),
                    "n_nationkey", broadcast=True)
        .add_vertex("region", load_table(spark, sf_dir, "region"),
                    "r_regionkey", broadcast=True)
        .add_edge("IN_NATION", None, "c_custkey", "c_nationkey")
        .add_edge("IN_REGION", None, "n_nationkey", "n_regionkey")
    )
    out = pg.query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation)-[:IN_REGION]->(r:region) "
        "RETURN r.r_name AS region, n.n_name AS nation, "
        "count(*) AS n_customers, sum(c.c_acctbal) AS sum_acctbal"
    )
    # round4 is engine-portability plumbing, not query semantics —
    # applied after the RETURN aggregate exactly as a caller would.
    return out.withColumn("sum_acctbal", round4("sum_acctbal"))


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # undirected_dedup=False: copurchase_vertex_edges is already
    # distinct and bipartite-encoded (src even, dst odd), so reversal
    # cannot create a duplicate — the 2|E| distinct shuffle is pure
    # waste here.
    return g.connected_components(
        g.copurchase_vertex_edges(
            load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
        ),
        undirected_dedup=False,
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return g.pagerank(
        g.copurchase_vertex_edges(
            load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
        ),
        iterations=10,
    )


QUERIES = {
    "graph_2hop": q_two_hop,
    "graph_degree": q_degree,
    "graph_triangle_agg": q_triangle,
    "connected_components": q_connected_components,
    "graph_pagerank": q_pagerank,
}

ORACLE = {
    "graph_2hop": f"""
        WITH e AS ({EDGES_SQL})
        SELECT src AS c_custkey, dst AS s_suppkey FROM e
        WHERE src IN (SELECT c_custkey FROM customer)
          AND dst IN (SELECT s_suppkey FROM supplier)
    """,
    "graph_degree": f"""
        WITH e AS ({EDGES_SQL})
        SELECT src AS custkey, count(*) AS degree FROM e GROUP BY src
    """,
    "graph_triangle_agg": """
        SELECT r.r_name AS region, n.n_name AS nation,
               count(*) AS n_customers,
               floor((sum(c.c_acctbal)) * 10000.0 + 0.5 + 1e-9) / 10000.0 AS sum_acctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    """,
}

# Iterative queries, oracle-checked by LOOP UNROLLING: the oracle SQL
# generates one CTE per round. PageRank runs a fixed 10 iterations on
# both sides. CC's Spark side iterates to the fixpoint; the oracle
# unrolls _CC_ORACLE_ROUNDS rounds — min-label propagation is
# idempotent past convergence, so any unroll depth >= the convergence
# round count (measured 4-5 at these SFs; 12 gives a wide margin at
# sf0.01's ~300-vertex graph diameter) yields the identical fixpoint.

_VEDGES_SQL = """
    SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
"""

_CC_ORACLE_ROUNDS = 12
_PR_ITERATIONS = 10


def _cc_oracle_sql(rounds: int = _CC_ORACLE_ROUNDS) -> str:
    # AS MATERIALIZED: each CTE is referenced more than once; without
    # the hint DuckDB may inline them, re-planning (and re-opening)
    # the base parquet per reference.
    ctes = [
        f"e AS MATERIALIZED ({_VEDGES_SQL})",
        "und AS MATERIALIZED (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e)",
        "l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS label FROM und)",
    ]
    for r in range(rounds):
        ctes.append(f"""l{r + 1} AS MATERIALIZED (
            SELECT id, min(label) AS label FROM (
                SELECT und.b AS id, l{r}.label FROM und JOIN l{r} ON und.a = l{r}.id
                UNION ALL SELECT id, label FROM l{r}
            ) GROUP BY id
        )""")
    return f"WITH {', '.join(ctes)} SELECT id AS vertex, label AS component FROM l{rounds}"


def _pr_oracle_sql(iterations: int = _PR_ITERATIONS, damping: float = 0.85) -> str:
    ctes = [
        f"e AS MATERIALIZED ({_VEDGES_SQL})",
        "v AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e))",
        """ew AS MATERIALIZED (
            SELECT e.src, e.dst, 1.0 / d.out_deg AS w
            FROM e JOIN (SELECT src, count(*) AS out_deg FROM e GROUP BY src) d
              ON e.src = d.src
        )""",
        "r0 AS MATERIALIZED (SELECT id, 1.0 AS rank FROM v)",
    ]
    for r in range(iterations):
        ctes.append(f"""r{r + 1} AS MATERIALIZED (
            SELECT id, {1.0 - damping} + {damping} * sum(c) AS rank FROM (
                SELECT ew.dst AS id, r{r}.rank * ew.w AS c
                FROM ew JOIN r{r} ON ew.src = r{r}.id
                UNION ALL SELECT id, 0.0 FROM v
            ) GROUP BY id
        )""")
    return (
        f"WITH {', '.join(ctes)} "
        f"SELECT id AS vertex, "
        f"floor(rank * 10000.0 + 0.5 + 1e-9) / 10000.0 AS rank FROM r{iterations}"
    )


ORACLE["connected_components"] = _cc_oracle_sql()
ORACLE["graph_pagerank"] = _pr_oracle_sql()


def q_copurchase_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase projection of the bipartite purchase graph: two
    customers are partners when they bought the SAME part from the SAME
    supplier (3-hop path class customer->(supplier,part)->customer).
    Output: per-customer count of distinct co-purchase partners.

    Keyed on (supplier, part) — not supplier alone — so the pair
    blow-up stays linear in |edges| (dense projections through hub
    vertices are the classic graph-analytics scale trap; supplier-only
    keying is 345M raw pairs at sf0.1 vs 618k here, max group size 3).

    Formulated as groupBy + collect_set + double explode rather than a
    self-join: one shuffle builds the per-(supplier, part) customer
    set, pair expansion is then narrow (no second shuffle of the edge
    list, no join). Customers-per-(supp, part) is bounded by data
    semantics (≈ lineitems per partsupp, constant in SF), so collected
    sets stay tiny at any scale."""
    from pyspark.sql import functions as F

    e = g.coproduct_edges(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        distinct=False,  # collect_set dedups; skip the extra shuffle
    )
    groups = e.groupBy("supp", "part").agg(F.collect_set("src").alias("cs"))
    return (
        groups.filter(F.size("cs") > 1)
        .select(F.explode("cs").alias("c1"), "cs")
        .select("c1", F.explode("cs").alias("c2"))
        .filter(F.col("c1") != F.col("c2"))
        .distinct()
        .groupBy(F.col("c1").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_partners"))
    )


QUERIES["graph_copurchase_degree"] = q_copurchase_degree

ORACLE["graph_copurchase_degree"] = """
    WITH e AS (
        SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS supp, l.l_partkey AS part
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    pairs AS (
        SELECT DISTINCT a.src AS c1, b.src AS c2
        FROM e a JOIN e b ON a.supp = b.supp AND a.part = b.part
        WHERE a.src != b.src
    )
    SELECT c1 AS custkey, count(*) AS n_partners FROM pairs GROUP BY c1
"""


# ---- Recommendation (reference README.md:221-224 use case 4:
# "Recommendation Systems — collaborative filtering queries") ----

REC_CUSTKEY = 0   # smallest custkey; present at every SF
REC_K = 10
REC_MIN_COOC = 1


def q_recommend_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from torua_spark.operators import recommend as rec

    return rec.recommend_for_customer(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        REC_CUSTKEY,
        REC_K,
        REC_MIN_COOC,
    )


QUERIES["recommend_items"] = q_recommend_items

ORACLE["recommend_items"] = f"""
    WITH baskets AS (
        SELECT DISTINCT o.o_orderkey, o.o_custkey, l.l_partkey AS part
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    pop AS (SELECT part, count(*)::BIGINT AS pop FROM baskets GROUP BY part),
    cooc AS (
        SELECT a.part AS part_a, b.part AS part_b, count(*)::BIGINT AS cooc
        FROM baskets a JOIN baskets b
          ON a.o_orderkey = b.o_orderkey AND a.part < b.part
        GROUP BY 1, 2
        HAVING count(*) >= {REC_MIN_COOC}
    ),
    sims AS (
        SELECT part_a, part_b,
               cooc / sqrt(pa.pop * pb.pop) AS score
        FROM cooc
        JOIN pop pa ON pa.part = cooc.part_a
        JOIN pop pb ON pb.part = cooc.part_b
    ),
    nbrs AS (
        SELECT part_a AS src, part_b AS dst, score FROM sims
        UNION ALL
        SELECT part_b AS src, part_a AS dst, score FROM sims
    ),
    bought AS (
        SELECT DISTINCT part FROM baskets WHERE o_custkey = {REC_CUSTKEY}
    ),
    cands AS (
        SELECT n.dst AS part,
               floor(sum(n.score) * 10000.0 + 0.5 + 1e-9) / 10000.0 AS rec_score
        FROM nbrs n JOIN bought ON bought.part = n.src
        WHERE n.dst NOT IN (SELECT part FROM bought)
        GROUP BY n.dst
    )
    SELECT part, rec_score, CAST(rank AS INTEGER) AS rank FROM (
        SELECT *, row_number() OVER (ORDER BY rec_score DESC, part) AS rank
        FROM cands
    ) WHERE rank <= {REC_K}
"""


# ---- Temporal graph analysis (reference README.md:216-219 use case
# 3: "store time-series graph data, execute temporal queries, and
# aggregate at the coordinator") ----


def q_temporal_graph_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly snapshots of the co-purchase graph: distinct edges,
    endpoint counts, average out-degree, and month-over-month edge
    delta. Scale shape: one distinct over (month, src, dst) — the
    month key rides the same shuffle as the edge key — then a
    per-month partial+final aggregate; the trend window orders the
    month-count relation (≈ corpus months, tiny)."""
    from pyspark.sql import Window, functions as F

    from torua_spark.functions.compat import round4

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    e = (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .join(
            lineitem.select("l_orderkey", "l_suppkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("month", F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    per = e.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.countDistinct("src").alias("n_customers"),
        F.countDistinct("dst").alias("n_suppliers"),
    )
    w = Window.orderBy("month")
    return per.select(
        "month",
        "n_edges",
        "n_customers",
        "n_suppliers",
        round4(F.col("n_edges") / F.col("n_customers")).alias("avg_out_degree"),
        (F.col("n_edges") - F.lag("n_edges").over(w)).alias("edge_delta"),
    )


QUERIES["temporal_graph_evolution"] = q_temporal_graph_evolution

ORACLE["temporal_graph_evolution"] = """
    WITH e AS (
        SELECT DISTINCT strftime(date_trunc('month', CAST(o.o_orderdate AS TIMESTAMP)), '%Y-%m') AS month,
               o.o_custkey AS src, l.l_suppkey AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    per AS (
        SELECT month, count(*)::BIGINT AS n_edges,
               count(DISTINCT src)::BIGINT AS n_customers,
               count(DISTINCT dst)::BIGINT AS n_suppliers
        FROM e GROUP BY month
    )
    SELECT month, n_edges, n_customers, n_suppliers,
           floor((n_edges::DOUBLE / n_customers) * 10000.0 + 0.5 + 1e-9) / 10000.0
               AS avg_out_degree,
           (n_edges - lag(n_edges) OVER (ORDER BY month))::BIGINT AS edge_delta
    FROM per
"""


def q_pattern_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k traversal through the FULL clause chain of the pattern
    front-end — MATCH / RETURN aggregate / ORDER BY / LIMIT (VERDICT
    r5 #4; reference internal/shard/doc.go:205-225 "Path traversals /
    Pattern matching", ARCHITECTURE.md:327-339): the 20 suppliers
    reached by the most customer->order->supplier paths. ORDER BY +
    LIMIT compiles to TakeOrderedAndProject (per-partition top-n +
    driver merge — no global sort at any scale); the tie-break on
    s_suppkey makes the top-k set deterministic for the hash check."""
    from torua_spark.plans.pattern import PropertyGraph

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_vertex("supplier", load_table(spark, sf_dir, "supplier"), "s_suppkey")
        .add_edge("PLACED", orders.select("o_custkey", "o_orderkey"),
                  "o_custkey", "o_orderkey")
        .add_edge("HAS_SUPP", lineitem.select("l_orderkey", "l_suppkey"),
                  "l_orderkey", "l_suppkey")
    )
    return pg.query(
        "MATCH (c:customer)-[:PLACED]->(o)-[:HAS_SUPP]->(s:supplier) "
        "RETURN s AS s_suppkey, count(*) AS n_paths "
        "ORDER BY n_paths DESC, s_suppkey LIMIT 20"
    )


QUERIES["graph_pattern_topk"] = q_pattern_topk

ORACLE["graph_pattern_topk"] = """
    SELECT l.l_suppkey AS s_suppkey, count(*)::BIGINT AS n_paths
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY 1 ORDER BY n_paths DESC, s_suppkey LIMIT 20
"""


def q_optional_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL MATCH (left-join continuation, VERDICT r5 #4): every
    customer with the count of orders they placed — INCLUDING the
    zero-order customers a plain MATCH would drop (count(o) counts
    matches only, Cypher semantics)."""
    from torua_spark.plans.pattern import PropertyGraph

    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_edge("PLACED",
                  load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey"),
                  "o_custkey", "o_orderkey")
    )
    return pg.query(
        "MATCH (c:customer) OPTIONAL MATCH (c)-[:PLACED]->(o) "
        "RETURN c AS c_custkey, count(o) AS n_orders"
    )


QUERIES["graph_optional_match"] = q_optional_match

ORACLE["graph_optional_match"] = """
    SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1
"""


def q_comma_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comma-pattern conjunction (round 7, VERDICT r6 #7; re-declared
    round 9 in its scale-safe form, VERDICT r8 #2): pairs of distinct
    customers buying the SAME PART from the SAME SUPPLIER, counted per
    supplier — two chains joined over the shared listing vertex,
    compiled as one join tree (plans/pattern.py _compile_chain state
    threading). The a < b WHERE keeps each unordered pair once; the
    grouped RETURN reads the supplier key off the listing vertex's
    attributes (sp.s_suppkey), proving attribute group keys through
    the conjunction path.

    SCALE: the shared vertex is the (supplier, part) COMPOSITE —
    recommend_items' blocking key — so the pair space is
    Σ(per-listing degree)², with degree bounded by how many customers
    bought that exact part from that exact supplier (measured max 3
    at BOTH sf0.1 and sf1): pair volume stays LINEAR in the edge
    count at any corpus size (sf1 sweep: 1.74x for 10x rows). The supplier-keyed dense projection
    (Σ(per-supplier degree)², quadratic in corpus growth — 345M pairs
    at sf0.1 unbounded) is kept as the `graph_comma_conjunction_dense`
    extra with its nation bound and SCALE.md note."""
    from torua_spark.plans.pattern import PropertyGraph

    edges = g.coproduct_edges(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )
    # one vertex id per (supplier, part) listing: packed long (partkey
    # < 2^32 at any TPC-H SF; both keys are 32-bit in the spec)
    sp_id = (F.col("supp").cast("long") * F.lit(1 << 32) + F.col("part"))
    listing = edges.select(
        sp_id.alias("sp_id"), F.col("supp").alias("s_suppkey")
    ).distinct()
    bought = edges.select("src", sp_id.alias("dst"))
    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_vertex("listing", listing, "sp_id")
        .add_edge("BOUGHT", bought, "src", "dst")
    )
    return pg.query(
        "MATCH (a:customer)-[:BOUGHT]->(sp:listing), "
        "(b:customer)-[:BOUGHT]->(sp) "
        "WHERE a < b "
        "RETURN sp.s_suppkey AS s_suppkey, count(*) AS n_pairs"
    )


QUERIES["graph_comma_conjunction"] = q_comma_conjunction

ORACLE["graph_comma_conjunction"] = """
    WITH e AS (
        SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS supp,
               l.l_partkey AS part
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT a.supp AS s_suppkey, count(*)::BIGINT AS n_pairs
    FROM e a JOIN e b
      ON a.supp = b.supp AND a.part = b.part AND a.src < b.src
    GROUP BY 1
"""


def q_comma_conjunction_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier-keyed DENSE form of the comma conjunction (the
    declared witness r7-r8; driver-green r8, rotated to extra in r9
    for the bounded composite form above). Pairs of distinct customers
    sharing a supplier, any part.

    SCALE NOTE (why this is the extra, not the witness): the pair
    space is Σ(per-supplier degree)² — per-supplier degree grows
    linearly with the corpus, so pair volume grows QUADRATICALLY
    (sf1 factor 5.36x, SCALE.md r8). The s_nationkey bound keeps it
    tractable at test SFs and is honest about being a bound on the
    ASKED question, not a fix for the shape."""
    from torua_spark.plans.pattern import PropertyGraph

    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_vertex("supplier", load_table(spark, sf_dir, "supplier"), "s_suppkey")
        .add_edge(
            "SOLD_TO",
            g.copurchase_edges(
                load_table(spark, sf_dir, "orders"),
                load_table(spark, sf_dir, "lineitem"),
            ),
            "src",
            "dst",
        )
    )
    return pg.query(
        "MATCH (a:customer)-[:SOLD_TO]->(s:supplier), "
        "(b:customer)-[:SOLD_TO]->(s) "
        "WHERE a < b AND s.s_nationkey = 3 "
        "RETURN s AS s_suppkey, count(*) AS n_pairs"
    )


QUERIES["graph_comma_conjunction_dense"] = q_comma_conjunction_dense

ORACLE["graph_comma_conjunction_dense"] = """
    WITH e AS (
        SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE s.s_nationkey = 3
    )
    SELECT a.dst AS s_suppkey, count(*) AS n_pairs
    FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
    GROUP BY 1
"""


def q_edge_attr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-variable surface (round 7): -[r:PLACED]-> binds the order
    relation's attributes to r, so the WHERE filters ON THE EDGE and
    the RETURN aggregates it — the compiler projects r__cols only
    because the query names them (column pruning otherwise)."""
    from torua_spark.plans.pattern import PropertyGraph

    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_edge("PLACED", load_table(spark, sf_dir, "orders"),
                  "o_custkey", "o_orderkey")
    )
    return pg.query(
        "MATCH (c:customer)-[r:PLACED]->(o) WHERE r.o_totalprice >= 100000 "
        "RETURN c AS c_custkey, count(*) AS n_big_orders, "
        "max(r.o_totalprice) AS max_price"
    )


QUERIES["graph_edge_attr_filter"] = q_edge_attr_filter

ORACLE["graph_edge_attr_filter"] = """
    SELECT o_custkey AS c_custkey, count(*) AS n_big_orders,
           max(o_totalprice) AS max_price
    FROM orders WHERE o_totalprice >= 100000
    GROUP BY 1
"""


def q_with_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH pipeline stage (round 7): aggregate mid-query, then filter
    post-aggregation (Cypher's HAVING idiom) — heavy customers by
    order count."""
    from torua_spark.plans.pattern import PropertyGraph

    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_edge("PLACED",
                  load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey"),
                  "o_custkey", "o_orderkey")
    )
    return pg.query(
        "MATCH (c:customer)-[:PLACED]->(o) WITH c, count(o) AS n_orders "
        "WHERE n_orders >= 10 RETURN c AS c_custkey, n_orders"
    )


QUERIES["graph_with_having"] = q_with_having

ORACLE["graph_with_having"] = """
    SELECT o_custkey AS c_custkey, count(*) AS n_orders
    FROM orders GROUP BY 1 HAVING count(*) >= 10
"""


def q_with_topk_rematch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 pipeline-form proof (VERDICT r7 #6): ``WITH ... ORDER BY
    ... LIMIT`` MID-pipeline — top-k an aggregate, then MATCH onward
    from the k survivors. The k-row stage plans as
    TakeOrderedAndProject and the re-MATCH joins it broadcast-sized.
    Ref query-language contract: ARCHITECTURE.md:327-339."""
    from torua_spark.plans.pattern import PropertyGraph

    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_vertex("orders", load_table(spark, sf_dir, "orders"), "o_orderkey")
        .add_edge(
            "PLACED",
            load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey"),
            "o_custkey", "o_orderkey",
        )
    )
    return pg.query(
        "MATCH (c:customer)-[:PLACED]->(o) "
        "WITH c, count(o) AS n_orders ORDER BY n_orders DESC, c LIMIT 5 "
        "MATCH (c)-[:PLACED]->(o2:orders) "
        "RETURN c AS c_custkey, n_orders, "
        "min(o2.o_orderpriority) AS first_priority, count(*) AS n_again"
    )


QUERIES["graph_with_topk_rematch"] = q_with_topk_rematch

ORACLE["graph_with_topk_rematch"] = """
    WITH topk AS (
        SELECT o_custkey AS c_custkey, count(*)::BIGINT AS n_orders
        FROM orders GROUP BY 1 ORDER BY n_orders DESC, c_custkey LIMIT 5
    )
    SELECT t.c_custkey, t.n_orders,
           min(o.o_orderpriority) AS first_priority,
           count(*)::BIGINT AS n_again
    FROM topk t JOIN orders o ON o.o_custkey = t.c_custkey
    GROUP BY 1, 2
"""


def q_string_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 WHERE surface proof: OR disjunction + STARTS WITH +
    IN-list, all compiled to pushable filters."""
    from torua_spark.plans.pattern import PropertyGraph

    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_vertex("nation", load_table(spark, sf_dir, "nation"),
                    "n_nationkey", broadcast=True)
        .add_edge("IN_NATION", None, "c_custkey", "c_nationkey")
    )
    return pg.query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) "
        "WHERE n.n_name STARTS WITH 'NATION_1' OR n.n_name IN ['NATION_2', 'NATION_3'] "
        "RETURN n.n_name AS nation, count(*) AS n_customers"
    )


QUERIES["graph_string_predicates"] = q_string_predicates

ORACLE["graph_string_predicates"] = """
    SELECT n.n_name AS nation, count(*)::BIGINT AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_name LIKE 'NATION\\_1%' ESCAPE '\\'
       OR n.n_name IN ('NATION_2', 'NATION_3')
    GROUP BY 1
"""


SSSP_SOURCE = 2       # customer 1 in the bipartite vertex encoding (2c)
SSSP_MAX_HOPS = 6


def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 — Cypher shortestPath parity: single-source unweighted
    shortest paths WITH deterministic predecessors over the bipartite
    co-purchase graph (customer 2c / supplier 2s+1), source =
    customer 1. Hash-checked including the `via` column, so the
    tie-break (struct-min on (hops, via)) is driver-proven against the
    loop-unrolled arg-min oracle."""
    edges = g.copurchase_vertex_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    # bipartite-encoded + distinct input: symmetrizing cannot create a
    # duplicate, so the operator's undirected-dedup shuffle is skipped
    return g.shortest_paths(
        edges, SSSP_SOURCE, SSSP_MAX_HOPS, undirected_dedup=False
    )


def _sssp_oracle_sql(source: int = SSSP_SOURCE,
                     max_hops: int = SSSP_MAX_HOPS) -> str:
    """Loop-unrolled BFS with arg-min predecessor: each round keeps,
    per vertex, the lexicographically smallest (hops, via) — the same
    deterministic tie-break as `graph.shortest_paths`' struct-min."""
    ctes = [
        """e AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        )""",
        """und AS MATERIALIZED (
            SELECT DISTINCT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b FROM (
                SELECT src AS a, dst AS b FROM e
                UNION ALL SELECT dst AS a, src AS b FROM e
            )
        )""",
        "v AS MATERIALIZED (SELECT DISTINCT a AS id FROM und)",
        f"""d0 AS MATERIALIZED (
            SELECT id, 0 AS hops, CAST(NULL AS BIGINT) AS via
            FROM v WHERE id = {source}
        )""",
    ]
    for k in range(max_hops):
        ctes.append(f"""d{k + 1} AS MATERIALIZED (
            SELECT id, hops, via FROM (
                SELECT id, hops, via,
                       row_number() OVER (PARTITION BY id ORDER BY hops, via) AS r
                FROM (
                    SELECT und.b AS id, d{k}.hops + 1 AS hops, d{k}.id AS via
                    FROM und JOIN d{k} ON und.a = d{k}.id
                    UNION ALL SELECT id, hops, via FROM d{k}
                )
            ) WHERE r = 1
        )""")
    return f"""WITH {', '.join(ctes)}
        SELECT CAST(id AS BIGINT) AS id, CAST(hops AS INTEGER) AS hops,
               CAST(via AS BIGINT) AS via
        FROM d{max_hops}"""


QUERIES["graph_shortest_path"] = q_shortest_path
ORACLE["graph_shortest_path"] = _sssp_oracle_sql()


WSSSP_ROUNDS = 6
LPA_ROUNDS = 4


def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite co-purchase edges carrying an EXACT integer weight:
    w = min quantity ever shipped on the (customer, supplier) pair.
    l_quantity is whole-valued in the testdata, so Spark's truncating
    cast and DuckDB's rounding cast agree."""
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        orders.select("o_orderkey", "o_custkey")
        .join(
            lineitem.select("l_orderkey", "l_suppkey", "l_quantity"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .agg(F.min(F.col("l_quantity").cast("long")).alias("w"))
    )


def q_weighted_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 weighted — k-bounded lightest paths (6 Bellman-Ford rounds)
    from customer 1 over min-quantity-weighted co-purchase edges;
    hash-checked including the deterministic `via` predecessor."""
    # one row per (src, dst) by construction (the groupBy/min) and
    # bipartite-encoded: the operator's lightest-parallel-edge groupBy
    # over the symmetrized list is the identity — skip it
    return g.weighted_shortest_paths(
        _weighted_edges(spark, sf_dir), SSSP_SOURCE, WSSSP_ROUNDS,
        undirected_dedup=False,
    )


def _wsssp_oracle_sql(source: int = SSSP_SOURCE,
                      rounds: int = WSSSP_ROUNDS) -> str:
    ctes = [
        """e AS MATERIALIZED (
            SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst,
                   min(CAST(l.l_quantity AS BIGINT)) AS w
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        )""",
        """und AS MATERIALIZED (
            SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, min(w) AS w
            FROM (
                SELECT src AS a, dst AS b, w FROM e
                UNION ALL SELECT dst AS a, src AS b, w FROM e
            ) GROUP BY 1, 2
        )""",
        "v AS MATERIALIZED (SELECT DISTINCT a AS id FROM und)",
        f"""d0 AS MATERIALIZED (
            SELECT id, CAST(0 AS BIGINT) AS dist, CAST(NULL AS BIGINT) AS via
            FROM v WHERE id = {source}
        )""",
    ]
    for k in range(rounds):
        ctes.append(f"""d{k + 1} AS MATERIALIZED (
            SELECT id, dist, via FROM (
                SELECT id, dist, via,
                       row_number() OVER (PARTITION BY id ORDER BY dist, via) AS r
                FROM (
                    SELECT und.b AS id, d{k}.dist + und.w AS dist, d{k}.id AS via
                    FROM und JOIN d{k} ON und.a = d{k}.id
                    UNION ALL SELECT id, dist, via FROM d{k}
                )
            ) WHERE r = 1
        )""")
    return f"""WITH {', '.join(ctes)}
        SELECT CAST(id AS BIGINT) AS id, CAST(dist AS BIGINT) AS dist,
               CAST(via AS BIGINT) AS via
        FROM d{rounds}"""


QUERIES["graph_weighted_shortest_path"] = q_weighted_shortest_path
ORACLE["graph_weighted_shortest_path"] = _wsssp_oracle_sql()


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 — community detection: 4 synchronous LPA rounds with
    self-vote and min-label tie-break over the co-purchase graph."""
    edges = g.copurchase_vertex_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    return g.label_propagation(edges, LPA_ROUNDS)


def _lpa_oracle_sql(rounds: int = LPA_ROUNDS) -> str:
    """Loop-unrolled synchronous LPA: per round, count neighbor+self
    votes per (id, label), keep the arg-max by (count desc, label asc)
    — the same tie-break as graph.label_propagation's struct-max."""
    ctes = [
        """e AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        )""",
        """und AS MATERIALIZED (
            SELECT DISTINCT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b FROM (
                SELECT src AS a, dst AS b FROM e
                UNION ALL SELECT dst AS a, src AS b FROM e
            )
        )""",
        "v AS MATERIALIZED (SELECT DISTINCT a AS id FROM und)",
        "l0 AS MATERIALIZED (SELECT id, id AS label FROM v)",
    ]
    for k in range(rounds):
        ctes.append(f"""l{k + 1} AS MATERIALIZED (
            SELECT id, label FROM (
                SELECT id, label,
                       row_number() OVER (PARTITION BY id ORDER BY n DESC, label) AS r
                FROM (
                    SELECT id, label, count(*) AS n FROM (
                        SELECT und.b AS id, l{k}.label
                        FROM und JOIN l{k} ON und.a = l{k}.id
                        UNION ALL SELECT id, label FROM l{k}
                    ) GROUP BY 1, 2
                )
            ) WHERE r = 1
        )""")
    return f"""WITH {', '.join(ctes)}
        SELECT CAST(id AS BIGINT) AS vertex, CAST(label AS BIGINT) AS community
        FROM l{rounds}"""


QUERIES["graph_label_propagation"] = q_label_propagation
ORACLE["graph_label_propagation"] = _lpa_oracle_sql()


def q_varlength_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 range-hop proof: undirected walks of length 1..2 over
    the bipartite co-purchase graph through the pattern compiler's
    ``[:CP*1..2]`` expansion (per-length bindings union BEFORE the
    aggregate, so count(*) counts walks of every length) — per-
    endpoint walk counts, hash-checked."""
    from torua_spark.plans.pattern import PropertyGraph
    from pyspark.sql import functions as F

    edges = g.copurchase_vertex_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    pg = (
        PropertyGraph()
        .add_vertex("node", nodes, "id")
        .add_edge("CP", edges, "src", "dst")
    )
    return pg.query(
        f"MATCH (a:node)-[:CP*1..2]-(b) WHERE a = {VARLEN_SOURCE} "
        f"RETURN b AS vertex, count(*) AS n_walks"
    )


VARLEN_SOURCE = 2  # customer 1 in the bipartite encoding

QUERIES["graph_varlength_range"] = q_varlength_range

# Oracle mirrors the compiler exactly: an undirected hop is
# fwd UNION ALL rev of the (distinct) edge relation; the 1..2 range is
# walks, not trails (homomorphic join semantics — edges may repeat).
# The source anchor keeps the walk relation a frontier, not sum(deg^2)
# over the whole graph — Catalyst pushes a = const into the first hop.
ORACLE["graph_varlength_range"] = f"""
    WITH e AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    und AS MATERIALIZED (
        SELECT src AS a, dst AS b FROM e
        UNION ALL SELECT dst AS a, src AS b FROM e
    ),
    walks AS (
        SELECT a, b FROM und WHERE a = {{src}}
        UNION ALL
        SELECT u1.a, u2.b FROM und u1 JOIN und u2 ON u1.b = u2.a
        WHERE u1.a = {{src}}
    )
    SELECT CAST(b AS BIGINT) AS vertex, count(*)::BIGINT AS n_walks
    FROM walks GROUP BY 1
""".format(src=VARLEN_SOURCE)


def q_collect_priorities_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect() proof, raw-array form: per-customer sorted DISTINCT
    order priorities through the pattern compiler. ArrayType output —
    the driver's pandas canonicalization cannot hash list cells
    (round-7 lesson), so this form lives in extras; the DECLARED entry
    is :func:`q_collect_priorities`, which serializes it."""
    from torua_spark.plans.pattern import PropertyGraph

    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_vertex("orders", load_table(spark, sf_dir, "orders"), "o_orderkey")
        .add_edge(
            "PLACED",
            load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey"),
            "o_custkey", "o_orderkey",
        )
    )
    return pg.query(
        "MATCH (c:customer)-[:PLACED]->(o:orders) "
        "RETURN c AS c_custkey, collect(DISTINCT o.o_orderpriority) AS priorities, "
        "count(*) AS n_orders"
    )


def q_collect_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 re-declaration of the collect() proof (VERDICT r7 #1):
    the compiler's sorted collect(DISTINCT) array is serialized with
    array_join before it crosses the driver boundary — declared
    outputs must stay scalar (see queries/__init__.py driver-canon
    contract). The raw-array form remains available as the
    ``graph_collect_priorities_raw`` extra."""
    from pyspark.sql import functions as F

    raw = q_collect_priorities_raw(spark, sf_dir)
    return raw.select(
        "c_custkey",
        F.array_join("priorities", ",").alias("priorities"),
        "n_orders",
    )


QUERIES["graph_collect_priorities"] = q_collect_priorities
QUERIES["graph_collect_priorities_raw"] = q_collect_priorities_raw

ORACLE["graph_collect_priorities"] = """
    SELECT o_custkey AS c_custkey,
           array_to_string(
               list(DISTINCT o_orderpriority ORDER BY o_orderpriority), ','
           ) AS priorities,
           count(*)::BIGINT AS n_orders
    FROM orders GROUP BY 1
"""

ORACLE["graph_collect_priorities_raw"] = """
    SELECT o_custkey AS c_custkey,
           list(DISTINCT o_orderpriority ORDER BY o_orderpriority) AS priorities,
           count(*)::BIGINT AS n_orders
    FROM orders GROUP BY 1
"""


def q_shortest_path_cypher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 Cypher shortestPath() FORM proof: the same single-source
    BFS as `graph_shortest_path`, but entered through the pattern
    front-end's ``MATCH p = shortestPath((a)-[:R*..k]-(b)) WHERE a =
    <id> RETURN b, length(p)`` — compiled onto the iterative operator
    (sparse-frontier rounds), never onto a k-hop join tree."""
    from torua_spark.plans.pattern import PropertyGraph

    edges = g.copurchase_vertex_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    # unlabeled anchors: the source is a literal id and b needs no
    # vertex join, so the form costs exactly the BFS operator
    pg = PropertyGraph().add_edge("CP", edges, "src", "dst")
    return pg.query(
        f"MATCH p = shortestPath((a)-[:CP*..{SSSP_MAX_HOPS}]-(b)) "
        f"WHERE a = {SSSP_SOURCE} "
        f"RETURN b AS id, length(p) AS hops"
    )


QUERIES["graph_shortest_path_cypher"] = q_shortest_path_cypher

# the same loop-unrolled arg-min oracle as graph_shortest_path, minus
# the source row (a path has length >= 1) and the via column (the
# Cypher form projects b and length(p))
ORACLE["graph_shortest_path_cypher"] = f"""
    SELECT id, CAST(hops AS BIGINT) AS hops
    FROM ({_sssp_oracle_sql()}) WHERE hops > 0
"""


# Margin for the unbounded oracle's unroll depth: BFS rounds are
# idempotent past convergence, so any depth >= the source's
# eccentricity is exact. Measured eccentricity from SSSP_SOURCE over
# the copurchase vertex graph: 3 (sf0.001), 4 (sf0.01, sf0.1) — and
# it SHRINKS as SF grows (denser graph); 8 is a 2x margin.
SSSP_UNBOUNDED_UNROLL = 8


def q_shortest_path_unbounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-9 bound-set proof (VERDICT r8 #6): the bare ``[:CP*]``
    UNBOUNDED Cypher shortestPath — compiled onto the same iterative
    BFS operator, now run to CONVERGENCE (amortized fixpoint probes,
    loud cap) instead of a fixed hop budget: the form a user writes
    when they don't know the diameter. Oracle: the loop-unrolled BFS
    at a depth comfortably past the measured eccentricity (unrolling
    past convergence is idempotent — struct-min keeps the fixpoint)."""
    from torua_spark.plans.pattern import PropertyGraph

    edges = g.copurchase_vertex_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    pg = PropertyGraph().add_edge("CP", edges, "src", "dst")
    return pg.query(
        f"MATCH p = shortestPath((a)-[:CP*]-(b)) "
        f"WHERE a = {SSSP_SOURCE} "
        f"RETURN b AS id, length(p) AS hops"
    )


QUERIES["graph_shortest_path_unbounded"] = q_shortest_path_unbounded

ORACLE["graph_shortest_path_unbounded"] = f"""
    SELECT id, CAST(hops AS BIGINT) AS hops
    FROM ({_sssp_oracle_sql(max_hops=SSSP_UNBOUNDED_UNROLL)}) WHERE hops > 0
"""


def q_alternation_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-9 form proof: relationship-type ALTERNATION ``[:A|B]``
    (per-type bindings unioned — bag semantics — before the aggregate)
    composed with a node PROPERTY MAP (``{c_mktsegment: 'BUILDING'}``,
    Cypher's sugar for the equality WHERE, pushed into the customer
    scan by Catalyst). Edge types model order status — the typed-edge
    shape a property-graph user actually builds over transactions."""
    from torua_spark.plans.pattern import PropertyGraph

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus"
    )
    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_edge("OPEN", orders.filter(F.col("o_orderstatus") == "O"),
                  "o_custkey", "o_orderkey")
        .add_edge("DONE", orders.filter(F.col("o_orderstatus") == "F"),
                  "o_custkey", "o_orderkey")
    )
    return pg.query(
        "MATCH (c:customer {c_mktsegment: 'BUILDING'})-[:OPEN|DONE]->(o) "
        "RETURN c AS c_custkey, count(*) AS n_settled"
    )


QUERIES["graph_alternation_map"] = q_alternation_map

ORACLE["graph_alternation_map"] = """
    SELECT o.o_custkey AS c_custkey, count(*)::BIGINT AS n_settled
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus IN ('O', 'F')
    GROUP BY 1
"""


def q_edge_property_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 form proof (VERDICT r9 #4): RELATIONSHIP property maps
    — a multi-key map ``{o_orderstatus: 'F', o_orderpriority:
    '1-URGENT'}`` on an ANONYMOUS edge (the standard Cypher form the
    reference's query family implies, ARCHITECTURE.md:335) desugars to
    equality WHERE terms on a synthesized edge variable and is pushed
    into the edge scan by Catalyst, composed with a node property map
    in the same clause scope. The named-variable form, the
    range/alternation rejections, and the plan-equality pin live in
    tests/test_pattern.py."""
    from torua_spark.plans.pattern import PropertyGraph

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_edge("PLACED", orders, "o_custkey", "o_orderkey")
    )
    return pg.query(
        "MATCH (c:customer {c_mktsegment: 'BUILDING'})"
        "-[:PLACED {o_orderstatus: 'F', o_orderpriority: '1-URGENT'}]->(o) "
        "RETURN c AS c_custkey, count(*) AS n_urgent_done"
    )


QUERIES["graph_edge_property_map"] = q_edge_property_map

ORACLE["graph_edge_property_map"] = """
    SELECT o.o_custkey AS c_custkey, count(*)::BIGINT AS n_urgent_done
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'F'
          AND o.o_orderpriority = '1-URGENT'
    GROUP BY 1
"""


def q_return_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 expression-item proof: per-customer discounted revenue
    (sum over an arithmetic aggregate argument) plus a projected
    expression — both compiled from the RETURN text."""
    from torua_spark.functions.compat import round4
    from torua_spark.plans.pattern import PropertyGraph

    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_vertex("orders", load_table(spark, sf_dir, "orders"), "o_orderkey")
        .add_edge(
            "PLACED",
            load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey"),
            "o_custkey", "o_orderkey",
        )
    )
    out = pg.query(
        "MATCH (c:customer)-[:PLACED]->(o:orders) "
        "RETURN c AS c_custkey, count(*) AS n_orders, "
        "sum(o.o_totalprice * 0.9) AS discounted"
    )
    return out.withColumn("discounted", round4("discounted"))


QUERIES["graph_return_arithmetic"] = q_return_arithmetic

ORACLE["graph_return_arithmetic"] = """
    SELECT o_custkey AS c_custkey, count(*)::BIGINT AS n_orders,
           floor((sum(o_totalprice * 0.9)) * 10000.0 + 0.5 + 1e-9)
               / 10000.0 AS discounted
    FROM orders GROUP BY 1
"""


def q_unwind_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 UNWIND proof: collect() then UNWIND round-trips the
    grouping — per-customer DISTINCT priorities re-exploded to rows."""
    from torua_spark.plans.pattern import PropertyGraph

    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_vertex("orders", load_table(spark, sf_dir, "orders"), "o_orderkey")
        .add_edge(
            "PLACED",
            load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey"),
            "o_custkey", "o_orderkey",
        )
    )
    return pg.query(
        "MATCH (c:customer)-[:PLACED]->(o:orders) "
        "WITH c, collect(DISTINCT o.o_orderpriority) AS ps "
        "UNWIND ps AS p RETURN c AS c_custkey, p AS priority"
    )


QUERIES["graph_unwind_roundtrip"] = q_unwind_roundtrip

ORACLE["graph_unwind_roundtrip"] = """
    SELECT DISTINCT o_custkey AS c_custkey, o_orderpriority AS priority
    FROM orders
"""


KCORE_K = 30
KCORE_ROUNDS = 8


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 — 30-core of the co-purchase graph by synchronous peeling
    (8 rounds, idempotent past convergence); hash-checked including
    the fixpoint induced degree."""
    return g.k_core(
        g.copurchase_vertex_edges(
            load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
        ),
        KCORE_K, KCORE_ROUNDS,
        # bipartite-encoded + distinct: no duplicate (a, b) can exist,
        # so induced degrees are identical without the dedup shuffle
        undirected_dedup=False,
    )


def _kcore_oracle_sql(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    ctes = [
        f"e AS MATERIALIZED ({_VEDGES_SQL})",
        """und AS MATERIALIZED (
            SELECT src AS a, dst AS b FROM e
            UNION ALL SELECT dst AS a, src AS b FROM e
        )""",
        "a0 AS MATERIALIZED (SELECT DISTINCT a AS id FROM und)",
    ]
    for r in range(rounds):
        ctes.append(f"""d{r} AS MATERIALIZED (
            SELECT und.a AS id, count(*) AS cd FROM und
            JOIN a{r} x ON und.a = x.id
            JOIN a{r} y ON und.b = y.id
            GROUP BY 1
        )""")
        ctes.append(
            f"a{r + 1} AS MATERIALIZED (SELECT id FROM d{r} WHERE cd >= {k})"
        )
    return f"""WITH {', '.join(ctes)}
        SELECT CAST(d.id AS BIGINT) AS vertex, CAST(d.cd AS BIGINT) AS core_degree
        FROM d{rounds - 1} d JOIN a{rounds} USING (id)"""


QUERIES["graph_k_core"] = q_k_core
ORACLE["graph_k_core"] = _kcore_oracle_sql()


def q_exists_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 existential-predicate proof: customers who placed at
    least one order (EXISTS -> semi-join) but never an URGENT one
    (NOT EXISTS -> anti-join) — both compiled from WHERE conjuncts,
    with the urgent restriction expressed as its own edge relation."""
    from pyspark.sql import functions as F

    from torua_spark.plans.pattern import PropertyGraph

    orders = load_table(spark, sf_dir, "orders")
    pg = (
        PropertyGraph()
        .add_vertex("customer", load_table(spark, sf_dir, "customer"), "c_custkey")
        .add_edge("PLACED", orders.select("o_custkey", "o_orderkey"),
                  "o_custkey", "o_orderkey")
        .add_edge(
            "PLACED_URGENT",
            orders.filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_custkey", "o_orderkey"),
            "o_custkey", "o_orderkey",
        )
    )
    return pg.query(
        "MATCH (c:customer) "
        "WHERE EXISTS((c)-[:PLACED]->(o)) "
        "AND NOT EXISTS((c)-[:PLACED_URGENT]->(u)) "
        "RETURN c AS c_custkey, c.c_acctbal AS acctbal"
    )


QUERIES["graph_exists_filter"] = q_exists_filter

ORACLE["graph_exists_filter"] = """
    SELECT c_custkey, c_acctbal AS acctbal FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
"""


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 weighted — PageRank where rank flows in proportion to the
    exact integer min-quantity edge weight (w_ij / sum_j w_ij instead
    of 1/out_deg); same chained power iteration, same oracle class."""
    return g.pagerank(
        _weighted_edges(spark, sf_dir), iterations=_PR_ITERATIONS,
        weight_col="w",
    )


def _prw_oracle_sql(iterations: int = _PR_ITERATIONS,
                    damping: float = 0.85) -> str:
    ctes = [
        """e AS MATERIALIZED (
            SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst,
                   min(CAST(l.l_quantity AS BIGINT)) AS wq
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        )""",
        "v AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e))",
        """ew AS MATERIALIZED (
            SELECT e.src, e.dst, CAST(e.wq AS DOUBLE) / t.wsum AS w
            FROM e JOIN (SELECT src, sum(CAST(wq AS DOUBLE)) AS wsum
                         FROM e GROUP BY src) t
              ON e.src = t.src
        )""",
        "r0 AS MATERIALIZED (SELECT id, 1.0 AS rank FROM v)",
    ]
    for r in range(iterations):
        ctes.append(f"""r{r + 1} AS MATERIALIZED (
            SELECT id, {1.0 - damping} + {damping} * sum(c) AS rank FROM (
                SELECT ew.dst AS id, r{r}.rank * ew.w AS c
                FROM ew JOIN r{r} ON ew.src = r{r}.id
                UNION ALL SELECT id, 0.0 FROM v
            ) GROUP BY id
        )""")
    return (
        f"WITH {', '.join(ctes)} "
        f"SELECT id AS vertex, "
        f"floor(rank * 10000.0 + 0.5 + 1e-9) / 10000.0 AS rank FROM r{iterations}"
    )


QUERIES["graph_pagerank_weighted"] = q_pagerank_weighted
ORACLE["graph_pagerank_weighted"] = _prw_oracle_sql()
