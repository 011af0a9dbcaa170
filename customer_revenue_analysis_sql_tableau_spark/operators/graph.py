"""Iterative graph analytics over relational facts: PageRank on the
part co-purchase graph.

The reference's analytical surface is single-pass SQL (its heaviest
query is the 8-table revenue view, ``queries_shan.sql``); a
training-data/feature platform also needs ITERATIVE algorithms whose
per-step state is a distributed join — link analysis being the
canonical one (PageRank, public Brin/Page 1998 formulation). This
module runs it Spark-first: the graph is derived from ``lineitem``
(two parts are linked when they appear in the same order — the classic
co-purchase projection), each power iteration is one shuffle join +
one aggregation, and the driver only steers the loop (no per-row
driver work, no ``collect`` of state).

Exactness discipline (the driver value-hash gate): float PageRank is
partition-order dependent (float sums don't associate), so ranks are
INTEGER FIXED-POINT — ``SCALE`` units = rank 1.0, every per-edge
contribution is a truncating integer division ``rank div degree``,
the damping step is ``TELEPORT + (85 * incoming) div 100``, and all
folds are BIGINT sums (exact, order-independent). DuckDB recomputes
the identical recurrence with ``//`` over three unrolled CTE
iterations, so the final ranks hash-match to the last unit.

Scale posture (100 TB):
- the co-purchase self-join keys on ``l_orderkey``; TPC-H order
  baskets are bounded (≤ 7 lines), so the join fans out ≤ C(7,2) rows
  per order — linear in the fact table, never quadratic in parts; the
  ``shuffle_hash`` hint skips the pointless sort (output feeds a
  distinct re-shuffle anyway).
- the edge list is materialized ONCE (eager ``localCheckpoint``) and
  reused by the degree pass + every iteration — without it each
  iteration would recompute the self-join from scratch (lineage
  re-execution, measured elsewhere in this repo).
- each iteration shuffles edges joined to the (node, rank) state on
  ``src`` and aggregates on ``dst`` — the standard distributed
  PageRank step; on a real cluster the edge frame would be
  pre-partitioned/bucketed by ``src`` so only the (small) rank state
  moves between iterations.
- BIGINT headroom: total mass is ``n_nodes * SCALE``; the damping
  multiply needs ``85 * incoming < 2^63``, which holds to ~10^7 nodes
  at SCALE 10^10. At 10^9-node scale, drop SCALE to 10^8 or switch
  the fold to DECIMAL(38,0) — same plan, wider buffer.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..session import checkpoint_layout, scoped_conf

#: Fixed-point scale: SCALE units == rank 1.0 (10 decimal digits).
SCALE = 10_000_000_000
#: Damping factor 0.85 as an exact integer recurrence:
#: rank' = TELEPORT + (DAMP_NUM * incoming) div DAMP_DEN.
DAMP_NUM, DAMP_DEN = 85, 100
TELEPORT = SCALE * (DAMP_DEN - DAMP_NUM) // DAMP_DEN  # (1-d) * SCALE
#: Power iterations; unrolled identically in the DuckDB oracle.
N_ITERS = 3
#: Result cap (deterministic total order: rank desc, part_id asc).
TOP_N = 100


#: Target rows per partition for checkpointed iteration state (~5 MB of
#: (long, long) rows): partition count derives from the DATA SIZE, not
#: from a core count or a fixed conf, so the same code picks 8
#: partitions for the 2.4M-row sf0.1 edge list and saturates the
#: ``spark.sql.shuffle.partitions`` cap (the conf a cluster deployment
#: sizes) at 100 TB. Measured at sf0.1 (interleaved min-of-3,
#: copurchase): 8 parts 1.75 s, 4 parts 2.12 s, 16 parts 2.26 s,
#: 32 parts 3.13 s, unpartitioned 2.49 s.
_CKPT_ROWS_PER_PARTITION = 300_000


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric distinct edge list (src, dst): parts sharing an
    order. Self-join on the order key (bounded basket ⇒ bounded
    fan-out), ``p1 < p2`` kills self-loops and halves the pair space,
    then both directions are emitted so the graph is undirected and
    every node has in-degree == out-degree ≥ 1 (no dangling mass)."""
    li = load_tables(spark, sf_dir, names=("lineitem",), register=False)[
        "lineitem"
    ].select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("p1"), F.col("b.pk").alias("p2"))
        .distinct()
    )
    return pairs.union(
        pairs.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"))
    ).toDF("src", "dst")


def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TOP_N`` parts by integer fixed-point PageRank after
    ``N_ITERS`` power iterations on the co-purchase graph. Every
    arithmetic step is exact integer math (module docstring), so the
    DuckDB oracle reproduces the ranks bit-for-bit."""
    # edges checkpointed PARTITIONED on src: every iteration's
    # edges⋈contrib join and the degree aggregation are keyed on src,
    # so the captured hashpartitioning(src) makes them exchange-free on
    # the edge side (guide §2.4). deg is checkpointed too (every
    # iteration's rank update reads it): its groupBy needs no exchange
    # over the partitioned edges, and the AQE-off checkpoint keeps
    # hash(src) for the update join.
    edges = checkpoint_layout(
        spark, _copurchase_edges(spark, sf_dir), _CKPT_ROWS_PER_PARTITION, "src"
    )
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).localCheckpoint()
    state = deg.withColumn("rank", F.lit(SCALE).cast("long"))
    # both per-iteration joins feed hash aggregates / projections —
    # no sort order is ever needed, so shuffle_hash (build = the
    # smaller rank-state side) skips six SMJ sorts per run; measured
    # 2.67 → 2.07 s min-of-3 at sf0.1 (plan test freezes the strategy)
    for _ in range(N_ITERS):
        contrib = state.select("src", F.expr("rank div d").alias("c"))
        inc = (
            edges.join(contrib.hint("shuffle_hash"), "src")
            .groupBy("dst")
            .agg(F.sum("c").alias("inc"))
            .withColumnRenamed("dst", "src")
        )
        # inner join is total: symmetric edges ⇒ every node has
        # in-edges, so no teleport-only stragglers are lost
        state = (
            deg.join(inc.hint("shuffle_hash"), "src")
            .withColumn(
                "rank",
                F.lit(TELEPORT)
                + F.expr(f"({DAMP_NUM} * inc) div {DAMP_DEN}"),
            )
            .drop("inc")
        )
    return (
        state.select(
            F.col("src").alias("part_id"), F.col("rank").alias("rank_fp")
        )
        .orderBy(F.desc("rank_fp"), F.asc("part_id"))
        .limit(TOP_N)
    )


#: Back-edges (part → customer) exist only for high-quantity returns —
#: deliberately sparse so the directed fixture has REAL teleport-only
#: nodes (in-degree 0: 73/727/6988 at sf0.001/0.01/0.1) and dangling
#: nodes (out-degree 0: 102/1134/10930).
RETURN_QTY_MIN = 48


def _supply_return_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED distinct edge list over a two-kind node space
    (customer = 2·custkey, part = 2·partkey+1 — parity disambiguates
    the overlapping key ranges): customer → part for every purchase,
    part → customer only for returned high-quantity lines
    (``l_returnflag = 'R'``, quantity ≥ ``RETURN_QTY_MIN``). The two
    legs are disjoint by parity, so their union is already distinct."""
    t = load_tables(spark, sf_dir, names=("lineitem", "orders"), register=False)
    li, o = t["lineitem"], t["orders"]
    joined = li.join(
        o.select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.col("o_custkey").alias("custkey"),
        ),
        "l_orderkey",
    )
    fwd = joined.select(
        (F.col("custkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    ).distinct()
    ret = (
        joined.filter(
            (F.col("l_returnflag") == "R")
            & (F.col("l_quantity") >= RETURN_QTY_MIN)
        )
        .select(
            (F.col("l_partkey") * 2 + 1).alias("src"),
            (F.col("custkey") * 2).alias("dst"),
        )
        .distinct()
    )
    return fwd.union(ret)


def graph_pagerank_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TOP_N`` nodes by integer fixed-point PageRank on the
    DIRECTED supply/return graph — the twin the symmetric co-purchase
    entry cannot exercise (its inner join is total only because every
    node there has in-edges; ``graph.py`` r7 verdict item). Two extra
    mechanisms of the published formulation appear here:

    - **teleport-only nodes** (in-degree 0 — customers nobody returns
      to, never-returned parts): the per-iteration rank update is a
      LEFT join from the node set to the incoming-contribution
      aggregate with ``coalesce(inc, 0)``, so they re-rank to the
      teleport term instead of silently dropping out of the state (an
      inner join shrinks the graph every iteration);
    - **dangling mass** (out-degree 0 — parts never returned): their
      rank cannot flow along edges, so each iteration redistributes it
      uniformly — ``share = (Σ rank of d=0 nodes) div n_nodes``, an
      exact-integer scalar computed as a 1-row frame and cross-joined
      (broadcast) into the update, never a driver collect.

    rank' = TELEPORT + 85·(coalesce(inc, 0) + share) div 100, all
    BIGINT — the DuckDB oracle unrolls the identical recurrence, so
    ranks hash-match to the last fixed-point unit. Scale posture
    matches the co-purchase entry: edges checkpointed once, one
    shuffle_hash join + one aggregation per iteration, plus two
    broadcast-sized scalar frames (dangling sum, node count)."""
    # edges checkpointed PARTITIONED on src, base on id: the
    # contribution join keys on src and the rank-update left join on
    # id, so the captured hash layouts leave ONE exchange per iteration
    # (the groupBy(dst) re-key) instead of re-shuffling edges + base
    # every iteration (guide §2.4).
    edges = checkpoint_layout(
        spark, _supply_return_edges(spark, sf_dir), _CKPT_ROWS_PER_PARTITION, "src"
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    base = checkpoint_layout(  # node set + out-degrees, reused every iteration
        spark,
        nodes.join(outdeg.withColumnRenamed("src", "id"), "id", "left").select(
            "id", F.coalesce("d", F.lit(0)).alias("d")
        ),
        _CKPT_ROWS_PER_PARTITION,
        "id",
    )
    n_frame = base.agg(F.count(F.lit(1)).alias("n_nodes"))
    state = base.withColumn("rank", F.lit(SCALE).cast("long"))
    for _ in range(N_ITERS):
        contrib = state.filter(F.col("d") > 0).select(
            F.col("id").alias("src"), F.expr("rank div d").alias("c")
        )
        inc = (
            edges.join(contrib.hint("shuffle_hash"), "src")
            .groupBy("dst")
            .agg(F.sum("c").alias("inc"))
            .withColumnRenamed("dst", "id")
        )
        share = (
            state.filter(F.col("d") == 0)
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dm"))
            .crossJoin(n_frame)
            .select(F.expr("dm div n_nodes").alias("share"))
        )
        state = (
            base.join(inc.hint("shuffle_hash"), "id", "left")
            .crossJoin(F.broadcast(share))
            .select(
                "id",
                "d",
                (
                    F.lit(TELEPORT)
                    + F.expr(
                        f"({DAMP_NUM} * (coalesce(inc, CAST(0 AS BIGINT))"
                        f" + share)) div {DAMP_DEN}"
                    )
                ).alias("rank"),
            )
        )
        # unlike the co-purchase loop (one state reference per
        # iteration), this recurrence reads state TWICE (contrib +
        # dangling sum), so an untruncated lineage doubles per
        # iteration (28 join nodes in the 3-iteration plan);
        # checkpointing is a measured wash at sf0.1 (3.06 vs
        # 3.19 s min-of-4) and removes the 2^iters re-execution
        # hazard at scale. This stays a PLAIN localCheckpoint (state's
        # own partitioning is lost, but contrib is node-sized and
        # re-shuffled cheaply anyway): capturing it with AQE off made
        # iterations 2-3× slower at sf0.1 (0.27 → 0.75 s each — the
        # un-coalesced 32-partition groupBy exchange), while the
        # partitioned EDGES + BASE checkpoints alone already drop the
        # per-iteration edge/base Exchanges (guide §2.4).
        state = state.localCheckpoint()
    return (
        state.select(
            F.col("id").alias("node_id"), F.col("rank").alias("rank_fp")
        )
        .orderBy(F.desc("rank_fp"), F.asc("node_id"))
        .limit(TOP_N)
    )


def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row co-purchase graph summary: node count, undirected edge
    count, and the EXACT triangle count via the DEGREE-ORDERED wedge
    algorithm (public Schank/Wagner & MapReduce-triangles
    formulation). Each undirected edge is oriented from its
    lower-(degree, id) endpoint to the higher; every triangle then has
    exactly one pivot vertex with two out-edges, so counting
    (pivot→b, pivot→c) wedges closed by the oriented edge b→c counts
    each triangle once — and out-degrees are bounded by O(√m), which
    is what keeps the wedge self-join from exploding on hubs at
    100 TB (orienting by raw id instead leaves hub fan-outs unbounded;
    that is the whole point of the degree order). All counts are exact
    BIGINTs; the oracle replays the identical orientation and joins."""
    sym = _copurchase_edges(spark, sf_dir).localCheckpoint()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        sym.filter(F.col("src") < F.col("dst"))
        .join(deg.select(F.col("src"), F.col("d").alias("ds")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("dd")),
            "dst",
        )
    )
    fwd = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    oriented = pairs.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("b"),
        F.when(fwd, F.col("dd")).otherwise(F.col("ds")).alias("db"),
    ).localCheckpoint()
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    wedges = e1.join(
        e2,
        (F.col("e1.a") == F.col("e2.a"))
        & (
            (F.col("e1.db") < F.col("e2.db"))
            | (
                (F.col("e1.db") == F.col("e2.db"))
                & (F.col("e1.b") < F.col("e2.b"))
            )
        ),
    )
    tris = wedges.join(
        e3,
        (F.col("e3.a") == F.col("e1.b")) & (F.col("e3.b") == F.col("e2.b")),
    )
    n_tri = tris.agg(F.count(F.lit(1)).alias("n")).select("n")
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n")).select("n")
    n_edges = oriented.agg(F.count(F.lit(1)).alias("n")).select("n")
    # wedges = Σ C(d, 2): the global clustering coefficient is
    # 3·n_triangles / n_wedges — emitted as exact BIGINT numerator and
    # denominator (a double ratio would be fine too, but exact integers
    # keep the entry float-free)
    n_wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("n")
    ).select("n")
    return (
        n_nodes.withColumnRenamed("n", "n_nodes")
        .crossJoin(n_edges.withColumnRenamed("n", "n_edges"))
        .crossJoin(n_tri.withColumnRenamed("n", "n_triangles"))
        .crossJoin(n_wedges.withColumnRenamed("n", "n_wedges"))
    )


def _pagerank_oracle() -> str:
    """Unrolled exact-integer recurrence, one CTE pair per iteration."""
    sql = f"""
        WITH pairs AS (
            SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey),
        edges AS (
            SELECT p1 AS src, p2 AS dst FROM pairs
            UNION ALL
            SELECT p2 AS src, p1 AS dst FROM pairs),
        deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
        r0 AS (
            SELECT src, d, CAST({SCALE} AS BIGINT) AS rank FROM deg)"""
    prev = "r0"
    for i in range(1, N_ITERS + 1):
        sql += f""",
        i{i} AS (
            SELECT e.dst AS src, CAST(SUM(r.rank // r.d) AS BIGINT) AS inc
            FROM edges e JOIN {prev} r ON e.src = r.src
            GROUP BY e.dst),
        r{i} AS (
            SELECT g.src, g.d,
                   CAST({TELEPORT} + ({DAMP_NUM} * i.inc) // {DAMP_DEN}
                        AS BIGINT) AS rank
            FROM deg g JOIN i{i} i ON g.src = i.src)"""
        prev = f"r{i}"
    sql += f"""
        SELECT src AS part_id, rank AS rank_fp FROM {prev}
        ORDER BY rank_fp DESC, part_id LIMIT {TOP_N}"""
    return sql


def _pagerank_directed_oracle() -> str:
    """Unrolled directed recurrence with dangling-share and left-join
    teleport re-rank — identical integer math to the Spark loop."""
    sql = f"""
        WITH fwd AS (
            SELECT DISTINCT o.o_custkey * 2 AS src,
                   l.l_partkey * 2 + 1 AS dst
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        ret AS (
            SELECT DISTINCT l.l_partkey * 2 + 1 AS src,
                   o.o_custkey * 2 AS dst
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_returnflag = 'R'
              AND l.l_quantity >= {RETURN_QTY_MIN}),
        edges AS (SELECT * FROM fwd UNION SELECT * FROM ret),
        nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        deg AS (
            SELECT n.id, COALESCE(o.d, 0) AS d
            FROM nodes n LEFT JOIN (
                SELECT src, COUNT(*) AS d FROM edges GROUP BY src) o
              ON o.src = n.id),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        r0 AS (
            SELECT id, d, CAST({SCALE} AS BIGINT) AS rank FROM deg)"""
    prev = "r0"
    for i in range(1, N_ITERS + 1):
        sql += f""",
        d{i} AS (
            SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dm
            FROM {prev} WHERE d = 0),
        i{i} AS (
            SELECT e.dst AS id, CAST(SUM(r.rank // r.d) AS BIGINT) AS inc
            FROM edges e JOIN {prev} r ON e.src = r.id
            WHERE r.d > 0 GROUP BY e.dst),
        r{i} AS (
            SELECT g.id, g.d,
                   CAST({TELEPORT} + ({DAMP_NUM} * (COALESCE(i.inc, 0) +
                        (SELECT dm FROM d{i}) // (SELECT n FROM nn)))
                        // {DAMP_DEN} AS BIGINT) AS rank
            FROM deg g LEFT JOIN i{i} i ON g.id = i.id)"""
        prev = f"r{i}"
    sql += f"""
        SELECT id AS node_id, rank AS rank_fp FROM {prev}
        ORDER BY rank_fp DESC, node_id LIMIT {TOP_N}"""
    return sql


#: Recursive-CTE reachability (r11): BFS depth bound and the seed
#: customer ids (custkey 1..8 → even node ids 2..16 in the parity
#: node space). Depth 3 spans the graph's full alternation
#: (customer → part → returning customer → part) while the sparse
#: return edges keep the path bag bounded.
REACH_MAX_DEPTH = 3

#: The SHARED SQL text — Spark 4.1 and DuckDB both implement standard
#: ``WITH RECURSIVE``, so the oracle IS the query: one dialect-portable
#: string, no translation layer to drift.
_REACHABILITY_SQL = f"""
WITH RECURSIVE base AS (
    SELECT l.l_partkey AS partkey, o.o_custkey AS custkey,
           l.l_returnflag AS rf, l.l_quantity AS qty
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
edges AS (
    SELECT DISTINCT custkey * 2 AS src, partkey * 2 + 1 AS dst FROM base
    UNION
    SELECT DISTINCT partkey * 2 + 1 AS src, custkey * 2 AS dst
    FROM base WHERE rf = 'R' AND qty >= {RETURN_QTY_MIN}),
seeds AS (
    SELECT DISTINCT src AS node FROM edges
    WHERE src IN (2, 4, 6, 8, 10, 12, 14, 16)),
reach AS (
    SELECT node, 0 AS depth FROM seeds
    UNION ALL
    SELECT e.dst AS node, r.depth + 1 AS depth
    FROM reach r JOIN edges e ON e.src = r.node
    WHERE r.depth < {REACH_MAX_DEPTH})
SELECT CAST(node AS BIGINT) AS node,
       CAST(min(depth) AS BIGINT) AS min_depth,
       CAST(count(*) AS BIGINT) AS n_paths
FROM reach GROUP BY node"""


def graph_reachability_recursive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Depth-bounded BFS over the directed supply/return graph as a
    STANDARD ``WITH RECURSIVE`` CTE (Spark 4.1's recursive-CTE
    support) — the SQL-surface way to express iterative graph
    traversal, next to the DataFrame-loop PageRank entries. Seeds are
    the first eight customers; each recursion step is one
    edges ⋈ frontier join, bounded by ``REACH_MAX_DEPTH``; the output
    pins per node both ``min_depth`` (the BFS answer) and ``n_paths``
    (the full path-bag cardinality — a trajectory-strength check: a
    wrong frontier at ANY depth changes it).

    The oracle is the IDENTICAL SQL string run by DuckDB — both
    engines implement the standard, so there is no translation to
    drift (probed: bag semantics of the recursive UNION ALL, the
    UNION-dedup in the edge CTE, and integer division-free parity
    node ids agree bit-for-bit).

    Scale: the recursion materializes only the frontier bag per step;
    edges build once from the fact join (one shuffle). A production
    unbounded-reachability would switch to the big-star/small-star
    pattern ``dedup_components_bigstar`` already implements; the recursive
    CTE is the right tool for the DEPTH-BOUNDED traversals (fraud
    rings, n-hop features) a pipeline actually runs."""
    load_tables(spark, sf_dir, names=("lineitem", "orders"))
    return spark.sql(_REACHABILITY_SQL)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "graph_pagerank_copurchase": graph_pagerank_copurchase,
    "graph_pagerank_directed": graph_pagerank_directed,
    "graph_triangle_stats": graph_triangle_stats,
    "graph_reachability_recursive": graph_reachability_recursive,
}

#: Shared edge CTEs for the oracle twins.
_EDGE_CTES = """
        pairs AS (
            SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey),
        deg AS (
            SELECT src, COUNT(*) AS d FROM (
                SELECT p1 AS src FROM pairs
                UNION ALL SELECT p2 FROM pairs) GROUP BY src)"""

ORACLES: dict[str, str] = {
    "graph_pagerank_copurchase": _pagerank_oracle(),
    # the oracle IS the query: one standard-SQL recursive CTE text
    "graph_reachability_recursive": _REACHABILITY_SQL,
    "graph_pagerank_directed": _pagerank_directed_oracle(),
    # identical degree orientation and wedge closure, replayed in SQL
    "graph_triangle_stats": f"""
        WITH {_EDGE_CTES},
        oriented AS (
            SELECT CASE WHEN (ds.d, p1) < (dd.d, p2) THEN p1 ELSE p2 END
                       AS a,
                   CASE WHEN (ds.d, p1) < (dd.d, p2) THEN p2 ELSE p1 END
                       AS b,
                   CASE WHEN (ds.d, p1) < (dd.d, p2) THEN dd.d ELSE ds.d END
                       AS db
            FROM pairs
            JOIN deg ds ON ds.src = p1
            JOIN deg dd ON dd.src = p2)
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM oriented) AS n_edges,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM oriented e1
                JOIN oriented e2
                  ON e1.a = e2.a AND (e1.db, e1.b) < (e2.db, e2.b)
                JOIN oriented e3
                  ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles,
               (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg)
                   AS n_wedges""",
}
