"""Graph algorithms over the derived trade-edge graph."""

from __future__ import annotations

from pyspark.sql import functions as F
from chesscom_etl_tableau_spark.registry.common import _t
from chesscom_etl_tableau_spark.registry.record import query


def _trade_edges(spark, sf_dir):
    # customer<->supplier trade graph (both directions), shared by the
    # graph-suite entries (pagerank, label propagation)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


@query(oracle="""
        WITH pe AS (SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (SELECT c AS src, s AS dst FROM pe
                  UNION ALL SELECT s AS src, c AS dst FROM pe),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        l0 AS (SELECT node, node AS label FROM nodes),
        c1 AS (SELECT e.dst AS node, l.label, count(*) AS n
               FROM edges e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
        b1 AS (SELECT node, label FROM (
                   SELECT *, row_number() OVER (PARTITION BY node
                       ORDER BY n DESC, label ASC) AS rn FROM c1) WHERE rn = 1),
        l1 AS (SELECT l0.node, coalesce(b1.label, l0.label) AS label
               FROM l0 LEFT JOIN b1 USING (node)),
        c2 AS (SELECT e.dst AS node, l.label, count(*) AS n
               FROM edges e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
        b2 AS (SELECT node, label FROM (
                   SELECT *, row_number() OVER (PARTITION BY node
                       ORDER BY n DESC, label ASC) AS rn FROM c2) WHERE rn = 1),
        l2 AS (SELECT l1.node, coalesce(b2.label, l1.label) AS label
               FROM l1 LEFT JOIN b2 USING (node)),
        c3 AS (SELECT e.dst AS node, l.label, count(*) AS n
               FROM edges e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
        b3 AS (SELECT node, label FROM (
                   SELECT *, row_number() OVER (PARTITION BY node
                       ORDER BY n DESC, label ASC) AS rn FROM c3) WHERE rn = 1),
        l3 AS (SELECT l2.node, coalesce(b3.label, l2.label) AS label
               FROM l2 LEFT JOIN b3 USING (node))
        SELECT label, count(*) AS n_members, min(node) AS min_member
        FROM l3 GROUP BY label
        ORDER BY n_members DESC, label ASC
        LIMIT 25
    """)
def _q_graph_label_prop(spark, sf_dir):
    # Community detection (r5 cont.): 3 synchronous label-propagation
    # rounds over the trade graph — deterministic (most-frequent
    # neighbor label, min tie-break), so DuckDB replays all 3 rounds
    # through chained CTEs. Top-25 communities by size.
    from chesscom_etl_tableau_spark.operators.components import label_propagation

    lab = label_propagation(_trade_edges(spark, sf_dir), iterations=3)
    return (
        lab.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("node").alias("min_member"))
        .orderBy(F.col("n_members").desc(), F.col("label").asc())
        .limit(25)
    )


@query(oracle="""
        WITH pe AS (SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (SELECT c AS src, s AS dst FROM pe
                  UNION ALL SELECT s AS src, c AS dst FROM pe),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        m1 AS (SELECT e.dst AS node, CAST(sum(r.r // d.deg) AS BIGINT) AS s
               FROM edges e JOIN r0 r ON e.src = r.node
               JOIN deg d ON d.src = e.src GROUP BY e.dst),
        r1 AS (SELECT n.node,
                      CAST(150000 + (85 * coalesce(m1.s, 0)) // 100 AS BIGINT) AS r
               FROM nodes n LEFT JOIN m1 USING (node)),
        m2 AS (SELECT e.dst AS node, CAST(sum(r.r // d.deg) AS BIGINT) AS s
               FROM edges e JOIN r1 r ON e.src = r.node
               JOIN deg d ON d.src = e.src GROUP BY e.dst),
        r2 AS (SELECT n.node,
                      CAST(150000 + (85 * coalesce(m2.s, 0)) // 100 AS BIGINT) AS r
               FROM nodes n LEFT JOIN m2 USING (node)),
        m3 AS (SELECT e.dst AS node, CAST(sum(r.r // d.deg) AS BIGINT) AS s
               FROM edges e JOIN r2 r ON e.src = r.node
               JOIN deg d ON d.src = e.src GROUP BY e.dst),
        r3 AS (SELECT n.node,
                      CAST(150000 + (85 * coalesce(m3.s, 0)) // 100 AS BIGINT) AS r
               FROM nodes n LEFT JOIN m3 USING (node))
        SELECT node, r AS rank_micro FROM r3
        ORDER BY rank_micro DESC, node ASC LIMIT 20
    """)
def _q_graph_pagerank(spark, sf_dir):
    # Graph analytics (r5 cont.): 3-iteration PageRank over the
    # customer<->supplier trade graph, in exact integer micro-units
    # (operators/components.py::pagerank) so the iterative float sum
    # nondeterminism disappears and DuckDB replays the identical
    # arithmetic. Deterministic top-20.
    from chesscom_etl_tableau_spark.operators.components import pagerank

    return (
        pagerank(_trade_edges(spark, sf_dir), iterations=3)
        .orderBy(F.col("rank_micro").desc(), F.col("node").asc())
        .limit(20)
    )


@query(oracle="""
        WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS u
                    FROM lineitem),
        pairs AS (
            SELECT a.u AS u, b.u AS v
            FROM os a JOIN os b ON a.o = b.o AND a.u < b.u),
        supp AS (SELECT u, v, count(*) AS n FROM pairs GROUP BY u, v),
        edges AS (SELECT u, v FROM supp WHERE 2 * n >= (SELECT max(n) FROM supp)),
        deg AS (SELECT node, count(*) AS dg FROM (
                    SELECT u AS node FROM edges
                    UNION ALL SELECT v FROM edges) GROUP BY node),
        o AS (SELECT CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
                          THEN e.u ELSE e.v END AS s,
                     CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
                          THEN e.v ELSE e.u END AS t
              FROM edges e
              JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
        w AS (SELECT o1.s AS a, o1.t AS b, o2.t AS c
              FROM o o1 JOIN o o2 ON o1.s = o2.s
              JOIN deg db ON db.node = o1.t JOIN deg dc ON dc.node = o2.t
              WHERE db.dg < dc.dg OR (db.dg = dc.dg AND o1.t < o2.t)),
        tri AS (SELECT w.a, w.b, w.c FROM w
                JOIN o ON o.s = w.b AND o.t = w.c)
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri) GROUP BY node
    """)
def _q_graph_triangles(spark, sf_dir):
    # Triangle counting (new in r5 final): per-node triangle counts
    # over the supplier CO-SUPPLY graph (suppliers linked when they
    # co-supply enough orders) via degree-ordered orientation
    # (operators/components.py::triangle_count — the Suri/
    # Vassilvitskii "last reducer" fix). The bipartite->unipartite
    # projection is thinned by a DATA-ADAPTIVE support cut
    # (2·support >= max support, integer-exact on any engine): a fixed
    # threshold can't serve both scale factors because per-pair
    # support GROWS with orders while supplier pairs grow slower.
    from chesscom_etl_tableau_spark.operators.components import triangle_count

    # distinct (order, supplier) FIRST: it shrinks the self-join input
    # (a supplier appears once per PART in an order) and makes the
    # joined (o,u,v) triples unique, so support is a plain count — no
    # countDistinct shuffle on the pair stream.
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("u"))
        .distinct()
    )
    supp = (
        li.join(li.select(F.col("o"), F.col("u").alias("v")), "o")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mx = supp.agg(F.max("n").alias("__mx"))
    edges = (
        supp.join(F.broadcast(mx))
        .where(F.col("n") * 2 >= F.col("__mx"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    return triangle_count(edges)


@query(oracle="""
        WITH e AS (SELECT DISTINCT l_suppkey AS u, l_partkey AS nb
                   FROM lineitem),
        deg AS (SELECT u, count(*) AS deg FROM e GROUP BY 1),
        c AS (SELECT a.u AS u, b.u AS v, count(*) AS n_common
              FROM e a JOIN e b ON a.nb = b.nb AND a.u < b.u
              GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT c.u AS l_suppkey_a, c.v AS l_suppkey_b, n_common,
               floor(CAST(n_common AS DOUBLE)
                     / CAST(da.deg + db.deg - n_common AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        FROM c JOIN deg da ON da.u = c.u JOIN deg db ON db.u = c.v
        ORDER BY jaccard DESC, l_suppkey_a ASC, l_suppkey_b ASC
        LIMIT 20
    """)
def _q_graph_jaccard(spark, sf_dir):
    # Link prediction (new in r5 sixth session,
    # operators/components.py::neighbor_jaccard): supplier pairs scored
    # by Jaccard of their part neighborhoods — inverted-index pair
    # generation (shared parts only), never all-pairs.
    from chesscom_etl_tableau_spark.operators.components import neighbor_jaccard

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    return neighbor_jaccard(li, "l_suppkey", "l_partkey", min_common=2, top_k=20)


_TRADE_E0 = """pe AS MATERIALIZED (
            SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        e0 AS MATERIALIZED (SELECT c AS src, s AS dst FROM pe
                            UNION ALL SELECT s AS src, c AS dst FROM pe)"""


def _kcore_round(j: int) -> str:
    # one peel round: degree filter at the adaptive k, then keep
    # only edges with BOTH endpoints surviving. MATERIALIZED is
    # load-bearing: each CTE is referenced twice, and DuckDB would
    # otherwise inline them — exponential plan growth by round 8.
    return f""",
        k{j} AS MATERIALIZED (SELECT src AS n FROM e{j - 1}
                              GROUP BY src
                              HAVING count(*) >= (SELECT k FROM kk)),
        e{j} AS MATERIALIZED (SELECT e.src, e.dst FROM e{j - 1} e
                              JOIN k{j} a ON e.src = a.n
                              JOIN k{j} b ON e.dst = b.n)"""


# Eager: per-round lineage cut: under AQE even a lazy localCheckpoint
# materializes its stages (toRdd executes so AQE can observe runtime
# stats) — the peel is eager by nature.
@query(eager=True, oracle=f"""
        WITH {_TRADE_E0},
        d0 AS MATERIALIZED (SELECT src, count(*) AS dg FROM e0 GROUP BY src),
        kk AS MATERIALIZED (SELECT CAST(floor(quantile_cont(dg, 0.5)) + 1
                                        AS BIGINT) AS k FROM d0)"""
        + "".join(_kcore_round(j) for j in range(1, 9))
        + """
        SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
        FROM e8 GROUP BY src
    """)
def _q_graph_kcore(spark, sf_dir):
    # k-core extraction (new in r5 sixth session,
    # operators/components.py::kcore): bounded-round peeling of the
    # trade graph at a DATA-ADAPTIVE k = floor(median degree) + 1 —
    # a fixed k cannot bite at every scale factor (degree grows with
    # sf), the triangles lesson. The threshold is a 1-row broadcast
    # joined into each round, so the whole 8-round peel is ONE lazy
    # plan; the oracle unrolls the same rounds as MATERIALIZED CTEs.
    # Convergence by round 8 verified at 3 sfs (r7 == r8 in the probe);
    # at sf0.001 the median-degree cut empties the core (all customer
    # degrees <= 10 suppliers) — a correct, converged answer.
    from chesscom_etl_tableau_spark.operators.components import kcore

    e = _trade_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("dg"))
    kdf = deg.agg(
        (F.floor(F.percentile("dg", F.lit(0.5))) + F.lit(1)).cast("bigint").alias("k")
    )
    return kcore(e, kdf, rounds=8)


# Eager: frontier loop with per-round isEmpty checks.
@query(eager=True, oracle=f"""
        WITH RECURSIVE {_TRADE_E0},
        walk(node, dist) AS (
            SELECT * FROM (VALUES ('s1', 0), ('s2', 0), ('s3', 0))
                AS seeds(node, dist)
            UNION
            SELECT e.dst, w.dist + 1
            FROM walk w JOIN e0 e ON e.src = w.node
            WHERE w.dist < 4
        )
        SELECT node, CAST(min(dist) AS INT) AS dist FROM walk GROUP BY node
    """)
def _q_graph_bfs(spark, sf_dir):
    # Multi-source BFS reach (new in r5 sixth session,
    # operators/components.py::bfs_distances): minimum hop distance
    # from a 3-supplier seed set over the trade graph, depth-bounded at
    # 4. Frontier iteration with per-round persist; the oracle is the
    # textbook recursive CTE (UNION-dedup on (node, dist), min at the
    # end).
    from chesscom_etl_tableau_spark.operators.components import bfs_distances

    seeds = spark.createDataFrame([("s1",), ("s2",), ("s3",)], "node string")
    return bfs_distances(_trade_edges(spark, sf_dir), seeds, max_depth=4)
