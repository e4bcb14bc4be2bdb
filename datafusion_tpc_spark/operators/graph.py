"""Iterative graph algorithms (r5) — beyond-reference extension
completing the iterative-fixpoint family started by
``q_dedup_clusters`` (label-propagation connected components,
dedup.py). The reference has no graph surface; the point here is the
ENGINE shape: synchronous iterative computation expressed as a Python
loop over DataFrame transforms with per-round plan truncation —
Spark's answer to DataFusion's absent recursion (DF 19 parses
WITH RECURSIVE but cannot execute it; SURVEY §2.9).

q_graph_pagerank runs a FIXED 5 iterations so the result is
deterministic and carries an EXACT oracle: the DuckDB side unrolls
the same five update steps as chained CTEs — identical arithmetic,
engine-independent. (Run-to-convergence is the production mode; a
fixed iteration count is the oracle-able twin, same per-round plan.)

Graph: the customer↔supplier trade graph — nodes are customers and
suppliers (disambiguated by a 'c'/'s' prefix), with an undirected
edge per distinct (customer, supplier) trading pair mined from
orders⋈lineitem. Undirected (both directions materialized) so every
node has out-degree ≥ 1 — no dangling-mass correction term needed and
the teleport constant is the only non-edge flow.

100 TB design: per iteration = one join of edges⋈ranks on src (both
hash-partitioned on src — co-partitioned after the first round) + one
groupBy dst shuffle; rank state is |nodes| rows, edge state |edges|
rows, nothing driver-side except the node-count scalar (a single
bounded count, same class as similarity.py's 256-row sample).
localCheckpoint(eager) per round truncates the logical plan — without
it round k replans rounds 1..k-1 (the q_dedup_clusters lesson,
dedup.py:559).
"""

from __future__ import annotations


from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table, small_table
from datafusion_tpc_spark.functions.literals import values_df
from datafusion_tpc_spark.registry import query

_DAMP = 0.85
_ITERS = 5

# Shared subgraph text: distinct trading pairs → undirected edges.
_GRAPH_CTE = """
    WITH cs AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
      SELECT concat('c', CAST(ck AS VARCHAR)) AS src,
             concat('s', CAST(sk AS VARCHAR)) AS dst FROM cs
      UNION ALL
      SELECT concat('s', CAST(sk AS VARCHAR)) AS src,
             concat('c', CAST(ck AS VARCHAR)) AS dst FROM cs
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg)
"""


def _iter_cte(i: int) -> str:
    """One unrolled PageRank update: r{i} from r{i-1}."""
    return f"""
    r{i} AS (
      SELECT e.dst AS node,
             0.15 / ANY_VALUE(nn.n) + 0.85 * SUM(r.rank / d.d) AS rank
      FROM edges e
      JOIN r{i - 1} r ON e.src = r.node
      JOIN deg d ON e.src = d.src, nn
      GROUP BY e.dst
    )"""


_PAGERANK_SQL = (
    _GRAPH_CTE
    + """,
    r0 AS (SELECT deg.src AS node, 1.0 / nn.n AS rank FROM deg, nn),"""
    + ",".join(_iter_cte(i) for i in range(1, _ITERS + 1))
    + f"""
    SELECT node, ROUND(ANY_VALUE(rank) * ANY_VALUE(nn.n), 6) AS rank_norm
    FROM r{_ITERS}, nn
    GROUP BY node
    ORDER BY rank_norm DESC NULLS LAST, node ASC NULLS LAST
    LIMIT 100
"""
)


@query("q_graph_pagerank", oracle=_PAGERANK_SQL)
def q_graph_pagerank(spark, sf_dir):
    """PageRank (damping 0.85, 5 fixed iterations) over the
    customer↔supplier trade graph; returns the top-100 nodes by
    normalized rank (rank × |nodes|, so the mean is 1.0 and six
    rounded decimals carry six significant figures — raw ranks at
    ~1/|nodes| would waste the ROUND(6) convention's precision).

    The oracle unrolls the identical five update steps as chained
    DuckDB CTEs; per-step arithmetic (teleport + damped degree-
    normalized sum) matches term-for-term, so agreement is limited
    only by float sum order — ~1e-12 relative after 5 rounds, nine
    orders under the rounding granularity."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    cnode = F.concat(F.lit("c"), F.col("ck").cast("string"))
    snode = F.concat(F.lit("s"), F.col("sk").cast("string"))
    edges = (
        cs.select(cnode.alias("src"), snode.alias("dst"))
        .unionAll(cs.select(snode.alias("src"), cnode.alias("dst")))
        .localCheckpoint(eager=True)  # mined once, reused every round
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    n_nodes = deg.count()  # bounded driver scalar: |customers|+|suppliers|
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("rank")
    )
    for _ in range(_ITERS):
        ranks = (
            edges.join(ranks, edges.src == F.col("node"))
            .join(deg, "src")
            .groupBy("dst")
            .agg(
                (
                    F.lit(0.15 / n_nodes)
                    + F.lit(_DAMP) * F.sum(F.col("rank") / F.col("d"))
                ).alias("rank")
            )
            .select(F.col("dst").alias("node"), "rank")
            .localCheckpoint(eager=True)  # truncate the per-round plan
        )
    return (
        ranks.select(
            "node", F.round(F.col("rank") * n_nodes, 6).alias("rank_norm")
        )
        .orderBy(F.col("rank_norm").desc_nulls_last(), F.col("node").asc_nulls_last())
        .limit(100)
    )


# ---- triangle counting (r6) ------------------------------------------

_COPURCHASE_CTE = """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    )
"""


@query(
    "q_graph_triangles",
    oracle=_COPURCHASE_CTE
    + """
    , tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    per_node AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM (SELECT unnest([a, b, c]) AS node FROM tri)
      GROUP BY node
    )
    SELECT CAST((SELECT SUM(n_tri) FROM per_node) // 3 AS BIGINT)
             AS total_triangles,
           node AS part_key, n_tri
    FROM per_node
    ORDER BY n_tri DESC NULLS LAST, node ASC NULLS LAST
    LIMIT 10
    """,
)
def q_graph_triangles(spark, sf_dir):
    """Triangle counting over the part co-purchase graph (parts
    bought together in one order; the customer↔supplier trade graph
    is bipartite and triangle-free by construction) — the clustering
    primitive behind community detection and graph-quality metrics.

    Edges are DEGREE-oriented (Schank-Wagner): each undirected edge
    points from its (degree, id)-smaller endpoint to the larger, a
    strict total order ≺, so every triangle {a≺b≺c} materializes
    exactly once as (a,b)+(b,c)+(a,c): two self-joins, no post-dedup,
    no double counting. Output: the global triangle count plus the 10
    most clustered parts.

    Scale: the classic skew hazard is a hub node exploding e1⋈e2 —
    under id orientation a low-id hub keeps all its edges outgoing
    and the wedge join fans out by its full degree. Degree
    orientation caps EVERY out-degree at O(√m) (a node with out-
    degree d has d neighbors of degree ≥ its own, so d² ≤ 2m), which
    bounds the wedge stream Σ_b indeg(b)·outdeg(b) ≤ √(2m)·m — the
    Schank-Wagner bound — independent of hub skew. Same plan shape
    as before (VERDICT r7 item 3): two co-partitioned equi-joins on
    the shared oriented-edge table (one exchange each, AQE skew-split
    pinned in session conf), per-node rollup map-side combined; the
    orientation itself costs one degree rollup (|nodes| rows) joined
    back twice (broadcast under the same size gate as e2/e3). The
    oriented edge set is localCheckpoint(eager)ed — it feeds e1, e2,
    and e3, and without truncation each use re-mines the basket
    stage. Edge mining is ONE groupBy
    (collect_set per order — state bounded by basket size, ≤13
    items here) with the u<v pair fan-out done in-row by a
    nested-transform HOF, then a distinct — the r7 rewrite of the
    original items-self-join, which paid two extra shuffles of the
    item table for the same 1.196M edges (measured 4.4 s → 2.0 s for
    the edge stage at sf0.1; a mega-basket would need a per-order
    cap, exactly like q_dedup_minhash_capped's band cap)."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    edges = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps) - i - 1), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        # feeds the degree rollup (twice, via the union) AND the
        # orientation join — truncate so basket mining runs once
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # e3 is broadcast: the closing-edge check must NOT shuffle the
    # wedge stream (|wedges| ≈ 41·|edges| here — 49M rows at sf0.1);
    # with the edge set broadcast (1.2M int pairs ≈ 10 MB) the wedge
    # join pipelines straight into a broadcast semi probe + explode +
    # partial agg in ONE stage. The hint is SIZE-GATED on the
    # lineitem source bytes (catalog.small_table — review r7: the
    # unconditional hint overrode
    # autoBroadcastJoinThreshold and would OOM past broadcastable
    # |edges| instead of falling back): < 1 GB of lineitem parquet
    # keeps the distinct (u,v) int-pair set well under broadcast
    # limits; beyond that, no hint — AQE still converts at runtime
    # when the actual built size fits, else keeps the shuffled joins.
    li_small = small_table(sf_dir, "lineitem")
    degu = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    degv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    if li_small:
        degu, degv = F.broadcast(degu), F.broadcast(degv)
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(degu, "u")
        .join(degv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .localCheckpoint(eager=True)  # feeds e1/e2/e3 below
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    if li_small:
        e2, e3 = F.broadcast(e2), F.broadcast(e3)
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
            "left_semi",
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    # every triangle contributes one count to each of its 3 corners,
    # so the global total is Σ n_tri / 3 — one pass over tri, no
    # second materialization (and no checkpoint caveat)
    total = per_node.agg(
        (F.sum("n_tri") / 3).cast("bigint").alias("total_triangles")
    )
    return (
        per_node.crossJoin(F.broadcast(total))
        .select("total_triangles", F.col("node").alias("part_key"), "n_tri")
        .orderBy(F.col("n_tri").desc_nulls_last(), F.col("part_key").asc_nulls_last())
        .limit(10)
    )


# ---- BFS / multi-source shortest hops (r6) ---------------------------

_BFS_ROUNDS = 4
_BFS_SOURCE = "c1"


def _bfs_round_cte(i: int) -> str:
    """One unrolled label-correcting BFS update: d{i} from d{i-1} —
    a node's distance is the min of its current distance and any
    in-neighbor's distance + 1."""
    return f"""
    d{i} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM edges e JOIN d{i - 1} d ON e.src = d.node
      ) GROUP BY node
    )"""


# standalone CTE (not _GRAPH_CTE: its deg/nn members are unused here
# and an unused-but-unbindable CTE is a DuckDB-version hazard)
_BFS_GRAPH_CTE = """
    WITH cs AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
      SELECT concat('c', CAST(ck AS VARCHAR)) AS src,
             concat('s', CAST(sk AS VARCHAR)) AS dst FROM cs
      UNION ALL
      SELECT concat('s', CAST(sk AS VARCHAR)) AS src,
             concat('c', CAST(ck AS VARCHAR)) AS dst FROM cs
    )
"""

_BFS_SQL = (
    _BFS_GRAPH_CTE
    + f""",
    d0 AS (SELECT '{_BFS_SOURCE}' AS node, 0 AS dist),"""
    + ",".join(_bfs_round_cte(i) for i in range(1, _BFS_ROUNDS + 1))
    + f"""
    SELECT CAST(dist AS INT) AS dist,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(node) AS sample_node
    FROM d{_BFS_ROUNDS}
    GROUP BY dist
    ORDER BY dist ASC NULLS LAST
"""
)


@query("q_graph_bfs", oracle=_BFS_SQL)
def q_graph_bfs(spark, sf_dir):
    """Breadth-first shortest hops from one customer over the
    customer↔supplier trade graph — the frontier-expansion primitive
    (reachability, ego networks, supply-chain blast radius) that
    completes the iterative-graph trio: fixpoint flow (pagerank),
    label propagation (dedup clusters), and now label-correcting
    distance relaxation. 4 unrolled rounds ⇒ every node within 4
    hops gets its exact hop count; output is the per-level frontier
    census (distance, node count, lexicographic sample node).

    All-integer state (hop counts, MIN-combined) ⇒ the unrolled
    DuckDB oracle matches bit-for-bit — no rounding anywhere.

    Scale: each round is one co-partitioned edges⋈frontier join +
    MIN-combine keyed by node — identical shuffle shape to the
    pagerank update, state is |reached nodes| rows; per-round
    localCheckpoint truncates lineage (the r2 clusters fix).
    Production BFS joins only the DELTA frontier (nodes whose
    distance changed) — round-over-round work decays with the
    frontier, while this unrolled form re-relaxes everything for
    oracle symmetry; the delta optimization changes cost, not
    results."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    cnode = F.concat(F.lit("c"), F.col("ck").cast("string"))
    snode = F.concat(F.lit("s"), F.col("sk").cast("string"))
    edges = (
        cs.select(cnode.alias("src"), snode.alias("dst"))
        .unionAll(cs.select(snode.alias("src"), cnode.alias("dst")))
        .localCheckpoint(eager=True)
    )
    dist = values_df(spark, [(_BFS_SOURCE, 0)], "node string, dist int")
    for _ in range(_BFS_ROUNDS):
        relaxed = (
            edges.join(dist, edges.src == dist.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return (
        dist.groupBy(F.col("dist").cast("int").alias("dist"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").alias("sample_node"),
        )
        .orderBy(F.col("dist").asc_nulls_last())
    )
