package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Graph}
import graft.queries.Fixtures._

/** Graph analytics: PageRank, connected components, triangle counting. */
object GraphQueries {
  val all: Seq[Query] = Seq(
    // ---- PageRank over the customer–supplier trade graph ---------
    // 5 fixed power-method iterations, d=0.85, on the symmetrized
    // distinct (cust ↔ supp) edge set; the oracle unrolls the same 5
    // iterations as chained CTEs. Ranks are emitted ×N (uniform = 1)
    // and rounded: 5 rounds of per-group double sums accumulate
    // last-bit drift between engines.
    Query("q_pagerank", (s, dir) => {
      // Node ids are PACKED LONGS inside the iteration (custkey*2,
      // suppkey*2+1) and only stringified at output: every
      // per-iteration shuffle then hashes/compares 8-byte keys
      // instead of variable-length strings — measured ~25% off the
      // whole query at sf0.1. The oracle-facing output is unchanged.
      val e0 = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // symmetrize via explode, not union: the union spelling
      // evaluates the join+distinct subtree twice
      val e = e0.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      val ranks = Graph.pagerank(e, "src", "dst",
        iterations = 5, damping = 0.85)
      val n = ranks.agg(count(lit(1)).as("_n"))
      ranks.crossJoin(n)
        .select(
          when(col("node") % 2 === 0,
            concat(lit("c"), (col("node") / 2).cast("long")))
            .otherwise(concat(lit("s"), ((col("node") - 1) / 2).cast("long")))
            .as("node"),
          r(col("rank") * col("_n"), 6).as("rank_n"))
        .orderBy("node")
    },
      // 5 unrolled power-method iterations over the symmetrized
      // customer–supplier edge set; no dangling term needed (every node
      // of a symmetric graph has out-degree ≥ 1, and the Spark side's
      // dangling aggregate is exactly 0 there too). Every CTE is
      // MATERIALIZED: without the pin DuckDB inlines the iteration
      // chain and replays subtrees — measured 714.8 s vs 20.9 s pinned
      // at the ×10 fixture (hash-identical both ways), which is what
      // made the sf1 gate SLOW-SKIP this oracle in round 12.
      Some("""WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), e AS MATERIALIZED (
        |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
        |), nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
        |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS d
        |        FROM e GROUP BY src),
        |r0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank
        |       FROM nodes, nn),
        |r1 AS MATERIALIZED (SELECT nodes.node,
        |    (1 - 0.85) / nn.n + 0.85 * coalesce(c.s, 0) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN (
        |    SELECT e.dst AS node, sum(r0.rank / deg.d) AS s
        |    FROM e JOIN deg ON e.src = deg.src JOIN r0 ON e.src = r0.node
        |    GROUP BY e.dst) c ON nodes.node = c.node),
        |r2 AS MATERIALIZED (SELECT nodes.node,
        |    (1 - 0.85) / nn.n + 0.85 * coalesce(c.s, 0) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN (
        |    SELECT e.dst AS node, sum(r1.rank / deg.d) AS s
        |    FROM e JOIN deg ON e.src = deg.src JOIN r1 ON e.src = r1.node
        |    GROUP BY e.dst) c ON nodes.node = c.node),
        |r3 AS MATERIALIZED (SELECT nodes.node,
        |    (1 - 0.85) / nn.n + 0.85 * coalesce(c.s, 0) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN (
        |    SELECT e.dst AS node, sum(r2.rank / deg.d) AS s
        |    FROM e JOIN deg ON e.src = deg.src JOIN r2 ON e.src = r2.node
        |    GROUP BY e.dst) c ON nodes.node = c.node),
        |r4 AS MATERIALIZED (SELECT nodes.node,
        |    (1 - 0.85) / nn.n + 0.85 * coalesce(c.s, 0) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN (
        |    SELECT e.dst AS node, sum(r3.rank / deg.d) AS s
        |    FROM e JOIN deg ON e.src = deg.src JOIN r3 ON e.src = r3.node
        |    GROUP BY e.dst) c ON nodes.node = c.node),
        |r5 AS MATERIALIZED (SELECT nodes.node,
        |    (1 - 0.85) / nn.n + 0.85 * coalesce(c.s, 0) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN (
        |    SELECT e.dst AS node, sum(r4.rank / deg.d) AS s
        |    FROM e JOIN deg ON e.src = deg.src JOIN r4 ON e.src = r4.node
        |    GROUP BY e.dst) c ON nodes.node = c.node)
        |SELECT node, r(rank * nn.n, 6) AS rank_n
        |FROM r5, nn ORDER BY node""".stripMargin),
      headline = true),

    // ---- connected components over a derived org graph -----------
    // Two-level star: every customer links to its nation's min
    // custkey, every nation hub to its region's min — so components
    // are regions. Exercises clusterPairs (default large-star/
    // small-star contraction, stopping at the first star forest)
    // under the oracle, which computes the fixpoint directly as the
    // per-region min.
    Query("q_components", (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val nhub = cust.groupBy("c_nationkey")
        .agg(min("c_custkey").as("hub"))
      val e1 = cust.join(nhub, Seq("c_nationkey"))
        .select(col("c_custkey").as("id_a"), col("hub").as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      val nh = nhub.join(nation, col("c_nationkey") === col("n_nationkey"))
      val rhub = nh.groupBy("n_regionkey").agg(min("hub").as("rhub"))
      val e2 = nh.join(rhub, Seq("n_regionkey"))
        .select(col("hub").as("id_a"), col("rhub").as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      Dedup.clusterPairs(cust.select(col("c_custkey")), "c_custkey",
          e1.union(e2))
        .orderBy("c_custkey")
    },
      // the two-level star's fixpoint has a closed form: every
      // customer's component label is the min custkey of its REGION
      Some("""WITH nm AS (
        |  SELECT c_nationkey, min(c_custkey) AS hub
        |  FROM customer GROUP BY c_nationkey
        |), rm AS (
        |  SELECT n_regionkey, min(hub) AS rhub
        |  FROM nm JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_regionkey)
        |SELECT c.c_custkey, rm.rhub AS cluster_id
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN rm ON n.n_regionkey = rm.n_regionkey
        |ORDER BY c_custkey""".stripMargin),
      headline = true),

    // ---- exact triangle counting (co-purchase graph) -------------
    // Parts are connected when they ship in the same order; per-node
    // triangle counts are the clustering-coefficient numerator. The
    // Spark side orients edges by (degree, id) — the O(m^1.5) bound
    // that survives hub skew — while the oracle replays the simple
    // id-ordered enumeration: the wedge sets differ, the triangle
    // SET is identical (each counted once), so the hash matches.
    Query("q_triangles", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
        .select(col("pa"), col("pb")).distinct()
      graft.ops.Graph.triangles(edges, "pa", "pb").orderBy("node")
    },
      // id-ordered triangle enumeration over the canonical (a < b)
      // co-purchase edge set; every triangle appears exactly once with
      // x < y < z, so the 3-way node credit matches the degree-ordered
      // Spark enumeration
      Some("""WITH pp AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM pp e1
        |  JOIN pp e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN pp e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT node, count(*) AS n_triangles FROM (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |GROUP BY node ORDER BY node""".stripMargin),
      headline = true)
  )
}
