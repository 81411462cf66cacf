package graft.operators

import graft.{Op, T}
import graft.streaming.Streaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Graph analytics over the part co-purchase graph (parts appearing in the
  * same order are neighbors — the item-item graph every recommender starts
  * from). Complements d06/d09's connected components with whole-graph
  * iterative computation.
  *
  * Determinism scheme: PageRank runs in FIXED-POINT INTEGER arithmetic
  * (ranks are scaled BIGINTs, per-edge contributions use integral division).
  * Integer sums are addition-order independent, so the result is
  * bit-identical under any partitioning, any executor count, and any
  * engine — the full ranking hash-matches a DuckDB oracle that unrolls the
  * same iterations as chained CTEs. The truncation "mass leak" of integral
  * division is deterministic and identical in both engines (all values
  * positive, so floor == truncate).
  *
  * Scale shape: two physical strategies behind one integer recurrence.
  * (a) BROADCAST (node count ≤ [[Graph.BroadcastMaxNodes]]):
  * degree folds into the persisted edge list once; each iteration is ONE
  * broadcast join of the O(nodes) rank table against the edge scan + ONE
  * aggregation on the destination — the edge list never re-shuffles.
  * (b) CO-PARTITIONED (rank table past broadcast size — the 100 TB graph):
  * the degree-annotated edge list is hash-partitioned by source ONCE and
  * persisted; every iteration shuffles ONLY the O(nodes) rank table to the
  * same partitioning and shuffle-hash-joins against the cached edge side
  * with ZERO exchange on the O(edges) side — no driver-sized broadcast
  * anywhere in the plan. Both paths are bit-identical (integer arithmetic
  * is addition-order independent), so which one runs is purely a physical
  * choice. The rank table is localCheckpointed between iterations (the
  * d06 lesson: unbounded lazy plan chaining turns 5 iterations into 5
  * recomputations of everything).
  */
object Graph {

  private[graft] val Scale = 1000000000000L // 1e12: rank mass; 85x fits int64

  /** The DIRECTED part co-purchase edge list (both orientations of every
    * co-ordered part pair, with `w` = number of shared orders),
    * materialized once per fixture in a [[Streaming.stagedDir]] and shared
    * by g01–g05 — the 100 TB shape: the item-item edge table is a
    * built-once artifact every graph query reads, not a self-join each
    * query repeats. The first graph query per JVM pays the lineitem
    * self-join; the oracles still derive edges from lineitem directly, so
    * the materialization is purely physical.
    */
  private[graft] def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    s.read.parquet(Streaming.stagedDir("edges", d) { p =>
      val li = T.lineitem(s, d).select("l_orderkey", "l_partkey")
      li.as("l1")
        .join(li.as("l2"), col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_partkey") =!= col("l2.l_partkey"))
        .select(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("w"))
        .write.mode("overwrite").parquet(p)
    })

  /** g02/g03's thinned undirected view of [[coPurchaseEdges]]: one
    * orientation per pair + the deterministic md5 1/16 sample.
    */
  private[graft] def sampledUndirectedEdges(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    coPurchaseEdges(s, d)
      .select("a", "b")
      .filter(col("a") < col("b"))
      .filter(substring(md5(concat(col("a").cast("string"), lit(":"),
        col("b").cast("string"))), 1, 1) === "0")

  /** g06/g07's finer 1/256 thinning: CC/community structure is only an
    * interesting gate when the graph FRAGMENTS (the 1/16 sample leaves one
    * giant component and a single histogram row); at 1/256 the fixture
    * yields ~280 components across 8 size classes.
    */
  private[graft] def fineSampledUndirectedEdges(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    coPurchaseEdges(s, d)
      .select("a", "b")
      .filter(col("a") < col("b"))
      .filter(substring(md5(concat(col("a").cast("string"), lit(":"),
        col("b").cast("string"))), 1, 2) === "00")

  /** Star-contraction CC labels over [[fineSampledUndirectedEdges]],
    * materialized once per fixture in a [[Streaming.stagedDir]] and shared
    * by g06/g07 — the 100 TB posture again: a community labeling is a
    * maintained artifact consumed by many queries, not a per-query
    * recomputation.
    */
  private[graft] def fineCcLabels(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    s.read.parquet(Streaming.stagedDir("cclabels", d) { p =>
      Dedup.connectedComponents(fineSampledUndirectedEdges(s, d), "a", "b")
        .write.mode("overwrite").parquet(p)
    })

  /** Oracle mirror of [[fineSampledUndirectedEdges]] alone (the `und` CTE
    * + both orientations `bi`) — shared by the CC closure below and g09's
    * Louvain pass, which needs the edges but not the recursive closure.
    */
  private val sqlUndCtes =
    """und AS (
      |  SELECT a, b FROM (
      |    SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      |    FROM lineitem l1 JOIN lineitem l2
      |      ON l1.l_orderkey = l2.l_orderkey
      |     AND l1.l_partkey < l2.l_partkey)
      |  WHERE substr(md5(CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)),
      |               1, 2) = '00'),
      |bi AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und)""".stripMargin

  /** Oracle mirror of [[fineSampledUndirectedEdges]] + the recursive-CTE
    * min-label transitive closure: CTEs `und`/`bi`/`nodes`/`reach`/`lab`,
    * shared by g06 (histogram) and g07 (modularity). Splice after
    * `WITH RECURSIVE`.
    */
  private val sqlFineCcCtes =
    s"""$sqlUndCtes,
      |nodes AS (SELECT DISTINCT a AS n FROM bi),
      |reach(n, m) AS (
      |  SELECT n, n FROM nodes
      |  UNION
      |  SELECT e.b, r.m FROM reach r JOIN bi e ON e.a = r.n
      |  WHERE r.m < e.b),
      |lab AS (SELECT n, MIN(m) AS label FROM reach GROUP BY n)""".stripMargin

  /** Above this node count the rank table stops broadcasting and the
    * co-partitioned plan takes over (~16 B/row → 1M nodes ≈ 16 MB, past
    * the point a per-iteration driver broadcast is sane on a real cluster).
    */
  private val BroadcastMaxNodes = 1000000L

  /** Fixed-point integer PageRank over a DIRECTED edge list (a -> b),
    * `iters` rounds; picks broadcast vs co-partitioned per the node count.
    * Exposed for the randomized brute-force parity test.
    */
  private[graft] def pagerankFp(es: DataFrame, iters: Int): DataFrame = {
    val deg = es.groupBy("a").agg(count(lit(1)).as("deg"))
    val n = deg.count()
    if (n <= BroadcastMaxNodes) pagerankFpBroadcast(es, deg, n, iters)
    else pagerankFpCoPartitioned(es, deg, n, iters)
  }

  private def pagerankFpBroadcast(
      es: DataFrame, deg: DataFrame, n: Long, iters: Int): DataFrame = {
    // degree folded into the edge list ONCE — each iteration then costs
    // a single broadcast join (the O(nodes) rank table) + one aggregate,
    // instead of re-joining deg against the O(edges) side every round
    val ej = es.join(deg, "a").persist()
    val base = Scale / n
    var ranks: DataFrame = deg.select(col("a").as("node"), lit(base).as("r"))
    for (_ <- 1 to iters) {
      val contrib = ej
        .join(broadcast(ranks), ej("a") === ranks("node"))
        .select(col("b").as("node"), expr("r DIV deg").as("c"))
        .groupBy("node")
        .agg(sum("c").as("s"))
      ranks = contrib
        .select(col("node"),
          (lit(15L * base / 100L) + expr("(85 * s) DIV 100")).as("r"))
        .localCheckpoint()
    }
    ranks
  }

  /** Frontier-expansion BFS: `rounds` layers of (hop, node) from `src`
    * over a directed edge list (a -> b). Joins only the CURRENT frontier
    * (O(layer), not O(visited)) against the edge list each round; visited
    * grows O(reached); lineage is truncated per round. Exposed for the
    * randomized sequential-parity test.
    */
  private[graft] def bfsLayers(es: DataFrame, src: Long, rounds: Int): DataFrame = {
    val s = es.sparkSession
    import s.implicits._
    var visited = Seq((src, 0)).toDF("n", "hop").localCheckpoint()
    var frontier = visited.select("n")
    for (k <- 1 to rounds) {
      val nxt = es
        .join(frontier.withColumnRenamed("n", "a"), "a")
        .select(col("b").as("n")).distinct()
        .join(visited.select("n"), Seq("n"), "left_anti")
        .withColumn("hop", lit(k))
        .localCheckpoint()
      visited = visited.unionByName(nxt).localCheckpoint()
      frontier = nxt.select("n")
    }
    visited
  }

  /** Multi-source BFS: one frontier table keyed (seed, node) advances all
    * seeds' frontiers in the SAME per-round join — k seeds cost one edge
    * join per round, not k (the textbook batch-BFS trick that makes
    * k-source centrality affordable on a shared-nothing engine). Same
    * localCheckpoint lineage-truncation discipline as [[bfsLayers]].
    */
  private[graft] def multiBfsLayers(es: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    var visited = seeds.select(col("s"), col("s").as("n"),
      lit(0).as("hop")).localCheckpoint()
    var frontier = visited.select("s", "n")
    for (k <- 1 to rounds) {
      val nxt = es
        .join(frontier.withColumnRenamed("n", "a"), "a")
        .select(col("s"), col("b").as("n")).distinct()
        .join(visited.select("s", "n"), Seq("s", "n"), "left_anti")
        .withColumn("hop", lit(k))
        .localCheckpoint()
      visited = visited.unionByName(nxt).localCheckpoint()
      frontier = nxt.select("s", "n")
    }
    visited
  }

  /** ONE-TIME cost of the co-partitioned plan: hash-partition the
    * degree-annotated edge list by source and pin it. deg is already
    * partitioned by a (it came from groupBy(a)), so this join itself only
    * exchanges the raw edge scan. Exposed for the PlanSuite guard.
    */
  private[graft] def coPartPrep(es: DataFrame, p: Int): DataFrame = {
    val ej = es.repartition(p, col("a"))
      .join(es.groupBy("a").agg(count(lit(1)).as("deg"))
        .repartition(p, col("a")), "a")
      .persist()
    ej.count() // materialize so iterations hit the partitioned cache
    ej
  }

  /** One co-partitioned iteration: only the O(nodes) rank table moves —
    * it is shuffled to the edge list's partitioning and becomes the
    * SHUFFLE_HASH build side; the cached O(edges) side satisfies the
    * join's distribution as-is (zero exchange, no broadcast — the
    * PlanSuite guard pins both). Exposed for that guard.
    */
  private[graft] def coPartIteration(
      ej: DataFrame, ranks: DataFrame, base: Long, p: Int): DataFrame = {
    val r2 = ranks.repartition(p, col("node")).hint("SHUFFLE_HASH")
    ej.join(r2, col("a") === col("node"))
      .select(col("b").as("node"), expr("r DIV deg").as("c"))
      .groupBy("node")
      .agg(sum("c").as("s"))
      .select(col("node"),
        (lit(15L * base / 100L) + expr("(85 * s) DIV 100")).as("r"))
  }

  /** The co-partitioned strategy; exposed so that its parity test runs it
    * on a graph below [[BroadcastMaxNodes]].
    */
  private[graft] def pagerankFpCoPartitioned(
      es: DataFrame, deg: DataFrame, n: Long, iters: Int): DataFrame = {
    val p = es.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ej = coPartPrep(es, p)
    val base = Scale / n
    var ranks: DataFrame = deg.select(col("a").as("node"), lit(base).as("r"))
    for (_ <- 1 to iters)
      ranks = coPartIteration(ej, ranks, base, p).localCheckpoint()
    ej.unpersist(blocking = false)
    ranks
  }

  /** Degree-oriented wedge/triangle counts over an UNDIRECTED distinct
    * edge list (a < b): (n_edges, n_wedges, n_triangles) as one row.
    * Exposed for the randomized brute-force parity test.
    */
  private[graft] def orientedTriangles(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    val ed = und
      .join(deg.select(col("n").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("dg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst"))
    // r12 optimization: the old form computed the wedge join TWICE (once
    // under the n_wedges aggregate, once under the triangle join) and the
    // oriented edge list three times. Persist `ed` (O(sampled edges), the
    // same tier as the already-persisted `und`) and fold both counts into
    // ONE pass over the wedge join: `ed` is unique on (src,dst) — distinct
    // undirected edges, deterministic orientation — so a LEFT join against
    // e3 matches at most once per wedge and count(e3.src) equals the old
    // inner-join count. Values unchanged; one wedge materialization
    // instead of two (guide §1.2/§2.4). Lifecycle (ADVICE r12): the wedge
    // join consuming edP is the returned lazy plan, so no in-body unpersist
    // is possible; callers own post-action release (Bench/Verify
    // clearCache() between queries), same contract as the und persist.
    val edP = ed.persist()
    val wt = edP.as("e1")
      .join(edP.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("x"), col("e2.dst").as("z"))
      .join(edP.as("e3"),
        col("x") === col("e3.src") && col("z") === col("e3.dst"), "left")
      .agg(count(lit(1)).as("n_wedges"),
        count(col("e3.src")).as("n_triangles"))
    und.agg(count(lit(1)).as("n_edges_sampled"))
      .crossJoin(wt)
      .select("n_edges_sampled", "n_wedges", "n_triangles")
  }

  val ops: Seq[Op] = Seq(
    Op(
      "g01_pagerank",
      (s, d) => {
        val es = coPurchaseEdges(s, d).select("a", "b")
        pagerankFp(es, 5)
          .orderBy(col("r").desc, col("node")).limit(20)
          .select(col("node"), col("r").as("rank_fp"))
      },
      Some {
        val iter = (k: Int) =>
          s"""c$k AS (
             |  SELECT e.b AS node, SUM(r.r // d.deg) AS s
             |  FROM es e JOIN r${k - 1} r ON r.node = e.a
             |  JOIN deg d ON d.a = e.a GROUP BY e.b),
             |r$k AS (
             |  SELECT node, (15 * (SELECT base FROM params)) // 100
             |    + (85 * s) // 100 AS r
             |  FROM c$k)""".stripMargin
        s"""WITH es AS (
           |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
           |  FROM lineitem l1 JOIN lineitem l2
           |    ON l1.l_orderkey = l2.l_orderkey
           |   AND l1.l_partkey <> l2.l_partkey),
           |deg AS (SELECT a, COUNT(*) AS deg FROM es GROUP BY a),
           |params AS (
           |  SELECT CAST(${Scale} AS BIGINT) // COUNT(*) AS base FROM deg),
           |r0 AS (SELECT a AS node, (SELECT base FROM params) AS r FROM deg),
           |${(1 to 5).map(iter).mkString(",\n")}
           |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r5
           |ORDER BY rank_fp DESC, node LIMIT 20""".stripMargin
      }),
    // ------------------------------------------------------------------
    // Triangle counting with DEGREE ORIENTATION — the standard trick that
    // makes the wedge join tractable on skewed graphs: direct every
    // undirected edge from its lower-(degree, id) endpoint to the higher
    // one, so a celebrity node's wedges are generated by its (few) lower-
    // degree neighbors, bounding the join fan-out by arboricity instead of
    // max-degree^2. Each triangle is counted exactly once. The edge list is
    // first thinned by a DETERMINISTIC md5 hash sample (the q36 scheme —
    // reproducible across retries, partitionings, engines), which is how
    // you'd bound the wedge volume on a 100 TB graph; everything is
    // integer, so counts hash-match exactly.
    Op(
      "g02_triangles",
      (s, d) => {
        val und = sampledUndirectedEdges(s, d).persist()
        orientedTriangles(und)
      },
      Some("""WITH und AS (
        |  SELECT a, b FROM (
        |    SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |    FROM lineitem l1 JOIN lineitem l2
        |      ON l1.l_orderkey = l2.l_orderkey
        |     AND l1.l_partkey < l2.l_partkey)
        |  WHERE substr(md5(CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)),
        |               1, 1) = '0'),
        |deg AS (
        |  SELECT n, COUNT(*) AS dg FROM (
        |    SELECT a AS n FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY n),
        |ed AS (
        |  SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
        |              THEN u.a ELSE u.b END AS src,
        |         CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b)
        |              THEN u.b ELSE u.a END AS dst
        |  FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b),
        |wedges AS (
        |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        |  FROM ed e1 JOIN ed e2 ON e1.dst = e2.src)
        |SELECT (SELECT COUNT(*) FROM und) AS n_edges_sampled,
        |  (SELECT COUNT(*) FROM wedges) AS n_wedges,
        |  (SELECT COUNT(*) FROM wedges w
        |     JOIN ed e3 ON w.x = e3.src AND w.z = e3.dst) AS n_triangles"""
        .stripMargin),
    ),
    // ------------------------------------------------------------------
    // k-core PEELING (k=2, 3 rounds) over the deterministically-sampled
    // co-purchase graph — the standard dense-subgraph screen (spam rings,
    // bot cliques, coordinated duplication) before expensive per-cluster
    // work. Each round drops nodes with degree < k and the edges touching
    // them; a production run iterates this same primitive to the fixpoint,
    // here three rounds are unrolled so the oracle can replay them as
    // chained CTEs and hash-match the per-round survivor counts exactly.
    // Scale shape per round: ONE degree aggregation (map-side partial) +
    // two semi-joins of the edge list against the O(nodes) survivor set
    // (broadcast when it fits, AQE decides) — no windows, no sorts, and
    // the edge list shrinks monotonically so later rounds get cheaper.
    Op(
      "g03_kcore_peel",
      (s, d) => {
        import s.implicits._
        var e = sampledUndirectedEdges(s, d).localCheckpoint()
        val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
        for (round <- 1 to 3) {
          val deg = e.select(col("a").as("n"))
            .unionByName(e.select(col("b").as("n")))
            .groupBy("n").agg(count(lit(1)).as("dg"))
          val keep = deg.filter(col("dg") >= 2).select("n")
          e = e
            .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
            .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
            .localCheckpoint() // truncate the iterative lineage (d06 rule)
          val nEdges = e.count()
          val nNodes = e.select(col("a").as("n"))
            .unionByName(e.select(col("b").as("n"))).distinct().count()
          out += ((round, nNodes, nEdges))
        }
        out.toSeq.toDF("round", "n_nodes", "n_edges").orderBy("round")
      },
      Some {
        def peel(k: Int): String =
          s"""d$k AS (
             |  SELECT n, COUNT(*) AS dg FROM (
             |    SELECT a AS n FROM e${k - 1} UNION ALL SELECT b FROM e${k - 1})
             |  GROUP BY n),
             |e$k AS (
             |  SELECT a, b FROM e${k - 1}
             |  WHERE a IN (SELECT n FROM d$k WHERE dg >= 2)
             |    AND b IN (SELECT n FROM d$k WHERE dg >= 2))""".stripMargin
        s"""WITH e0 AS (
           |  SELECT a, b FROM (
           |    SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
           |    FROM lineitem l1 JOIN lineitem l2
           |      ON l1.l_orderkey = l2.l_orderkey
           |     AND l1.l_partkey < l2.l_partkey)
           |  WHERE substr(md5(CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)),
           |               1, 1) = '0'),
           |${(1 to 3).map(peel).mkString(",\n")}
           |SELECT CAST(r AS INTEGER) AS round, CAST(nn AS BIGINT) AS n_nodes,
           |  CAST(ne AS BIGINT) AS n_edges
           |FROM (
           |  SELECT 1 AS r,
           |    (SELECT COUNT(DISTINCT n) FROM
           |      (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1)) AS nn,
           |    (SELECT COUNT(*) FROM e1) AS ne
           |  UNION ALL
           |  SELECT 2,
           |    (SELECT COUNT(DISTINCT n) FROM
           |      (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2)),
           |    (SELECT COUNT(*) FROM e2)
           |  UNION ALL
           |  SELECT 3,
           |    (SELECT COUNT(DISTINCT n) FROM
           |      (SELECT a AS n FROM e3 UNION ALL SELECT b FROM e3)),
           |    (SELECT COUNT(*) FROM e3))
           |ORDER BY round""".stripMargin
      }),
    // ------------------------------------------------------------------
    // Single-source BFS (hop-distance layers): the reachability/radius
    // probe every graph pipeline needs (link spam neighborhoods, citation
    // depth, lineage blast-radius). 3 unrolled frontier-expansion rounds
    // from the minimum part key over the directed co-purchase graph.
    // Frontier algebra is exact set logic — join the CURRENT frontier
    // (not the whole visited set) against the edge list, dedup, anti-join
    // the visited set — so the layer membership is engine-independent and
    // the per-hop rollup (count, sum of node ids, min, max) hash-matches
    // DuckDB's unrolled-CTE replay. Scale shape: per round ONE join that
    // shuffles only the O(frontier) side against the edge list (at scale
    // the edge list would be pre-hash-partitioned on `a` exactly like
    // g01's co-partitioned path, making the edge side zero-exchange), one
    // distinct, one anti-join; visited stays O(reached nodes); lineage is
    // truncated per round (localCheckpoint — the d06 rule).
    Op(
      "g04_bfs_hops",
      (s, d) => {
        // persist: three frontier rounds + the src probe would otherwise
        // re-scan the edge parquet 4x
        val es = coPurchaseEdges(s, d).select("a", "b").persist()
        val src = es.agg(min("a")).head().getLong(0)
        bfsLayers(es, src, 3)
          .groupBy("hop")
          .agg(count(lit(1)).as("n_nodes"), sum("n").as("sum_nodes"),
            min("n").as("min_node"), max("n").as("max_node"))
          .orderBy("hop")
      },
      Some("""WITH es AS (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey <> l2.l_partkey),
        |a0 AS (SELECT min(a) AS n FROM es),
        |f1 AS (SELECT DISTINCT e.b AS n FROM es e JOIN a0 ON a0.n = e.a
        |       WHERE e.b NOT IN (SELECT n FROM a0)),
        |a1 AS (SELECT n FROM a0 UNION SELECT n FROM f1),
        |f2 AS (SELECT DISTINCT e.b AS n FROM es e JOIN f1 ON f1.n = e.a
        |       WHERE e.b NOT IN (SELECT n FROM a1)),
        |a2 AS (SELECT n FROM a1 UNION SELECT n FROM f2),
        |f3 AS (SELECT DISTINCT e.b AS n FROM es e JOIN f2 ON f2.n = e.a
        |       WHERE e.b NOT IN (SELECT n FROM a2)),
        |lv AS (
        |  SELECT 0 AS hop, n FROM a0
        |  UNION ALL SELECT 1, n FROM f1
        |  UNION ALL SELECT 2, n FROM f2
        |  UNION ALL SELECT 3, n FROM f3)
        |SELECT CAST(hop AS INTEGER) AS hop, COUNT(*) AS n_nodes,
        |  CAST(SUM(n) AS BIGINT) AS sum_nodes,
        |  CAST(MIN(n) AS BIGINT) AS min_node,
        |  CAST(MAX(n) AS BIGINT) AS max_node
        |FROM lv GROUP BY hop ORDER BY hop""".stripMargin)),
    // ------------------------------------------------------------------
    // WEIGHTED single-source shortest paths (3 Bellman-Ford relaxation
    // rounds): g04's hop-count complement for AFFINITY distance — edge
    // cost is 1000000 DIV w (w = shared-order count from the materialized
    // edge table), so strongly co-purchased parts are "close". The
    // relaxation algebra is pure integer min-plus: dist' = min(dist,
    // min over edges a→b of dist[a] + cost(a,b)) — addition-order
    // independent, so the 20 nearest nodes hash-match DuckDB's unrolled-
    // CTE replay exactly. Scale shape per round: ONE join of the O(dist)
    // frontier table against the (pre-partitionable) edge list + one
    // min-aggregate on the destination; dist stays O(reached); lineage
    // truncates per round (the d06 rule). Unlike BFS, already-settled
    // nodes keep participating — that is Bellman-Ford's contract (a
    // cheaper path through a later-discovered node must still relax).
    Op(
      "g05_shortest_path",
      (s, d) => {
        val s2 = s
        import s2.implicits._
        val we = coPurchaseEdges(s, d)
          .select(col("a"), col("b"), expr("1000000 DIV w").as("cost"))
          .persist() // three relaxation rounds + the src probe share one scan
        val src = we.agg(min("a")).head().getLong(0)
        var dist = Seq((src, 0L)).toDF("n", "dist").localCheckpoint()
        for (_ <- 1 to 3) {
          val relax = we
            .join(dist.select(col("n").as("a"), col("dist").as("da")), "a")
            .select(col("b").as("n"), (col("da") + col("cost")).as("dist"))
          dist = dist.unionByName(relax)
            .groupBy("n").agg(min("dist").as("dist"))
            .localCheckpoint()
        }
        dist.orderBy("dist", "n").limit(20)
          .select(col("n").as("node"), col("dist"))
      },
      Some {
        def round(k: Int): String =
          s"""d$k AS (
             |  SELECT n, MIN(dist) AS dist FROM (
             |    SELECT n, dist FROM d${k - 1}
             |    UNION ALL
             |    SELECT e.b, d.dist + e.cost FROM we e
             |    JOIN d${k - 1} d ON d.n = e.a)
             |  GROUP BY n)""".stripMargin
        s"""WITH we AS (
           |  SELECT l1.l_partkey AS a, l2.l_partkey AS b,
           |    1000000 // COUNT(*) AS cost
           |  FROM lineitem l1 JOIN lineitem l2
           |    ON l1.l_orderkey = l2.l_orderkey
           |   AND l1.l_partkey <> l2.l_partkey
           |  GROUP BY 1, 2),
           |d0 AS (SELECT MIN(a) AS n, CAST(0 AS BIGINT) AS dist FROM we),
           |${(1 to 3).map(round).mkString(",\n")}
           |SELECT n AS node, CAST(dist AS BIGINT) AS dist FROM d3
           |ORDER BY dist, n LIMIT 20""".stripMargin
      }),
    // ------------------------------------------------------------------
    // Whole-graph connected components as a first-class GRAPH query (the
    // community/cluster primitive d06/d09 apply to near-dup pairs, here
    // over the shared co-purchase edge table): runs the engine's one CC
    // kernel, Dedup.connectedComponents (O(log n) large-star/small-star
    // contraction, Kiveris et al., SoCC'14), and rolls the labeling up
    // into a component-size histogram with a sum-of-labels checksum per
    // size class. The label of a component is its minimum node id (an
    // engine-independent canonical choice), so the histogram plus checksum
    // hash-matches a DuckDB recursive-CTE transitive closure exactly.
    // Scale shape: every contraction round is two (min-aggregate +
    // equi-join + distinct) passes over a monotonically shrinking edge
    // multiset — no windows, no per-node neighborhood arrays (a celebrity
    // node never materializes its neighbor list in one task), lineage
    // truncated per round; the rollup is two map-side-combinable
    // aggregations.
    Op(
      "g06_connected_components",
      (s, d) => {
        fineCcLabels(s, d)
          .groupBy("label").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_components"),
            sum("label").as("sum_min_label"))
          .select(col("sz").as("component_size"), col("n_components"),
            col("sum_min_label"))
          .orderBy("component_size")
      },
      Some(s"""WITH RECURSIVE $sqlFineCcCtes,
        |comp AS (SELECT label, COUNT(*) AS sz FROM lab GROUP BY label)
        |SELECT CAST(sz AS BIGINT) AS component_size,
        |  COUNT(*) AS n_components,
        |  CAST(SUM(label) AS BIGINT) AS sum_min_label
        |FROM comp GROUP BY sz ORDER BY component_size""".stripMargin)),
    // ------------------------------------------------------------------
    // MODULARITY of the component partition — the quality score every
    // community-detection pipeline reports (Newman's Q), computed in EXACT
    // RATIONAL arithmetic so it hash-matches: Q = sum_c [e_c/m -
    // (deg_c/2m)^2] is emitted as the integer pair (4m*sum(e_c) -
    // sum(deg_c^2), 4m^2) — numerator/denominator BIGINTs instead of an
    // FP-order-dependent double (for CC labels every edge is intra-
    // community, so Q measures how much the degree distribution
    // concentrates inside components vs a random rewiring). Scale shape:
    // one label join per edge endpoint (broadcast the O(nodes) label
    // table), two map-side-combinable aggregates — modularity at any
    // graph size costs two passes over the edge list.
    Op(
      "g07_modularity",
      (s, d) => {
        val und = fineSampledUndirectedEdges(s, d).persist()
        val m = und.count()
        val lab = fineCcLabels(s, d).select(col("node"), col("label"))
        val intra = und
          .join(lab.select(col("node").as("a"), col("label").as("la")), "a")
          .join(lab.select(col("node").as("b"), col("label").as("lb")), "b")
          .filter(col("la") === col("lb"))
          .groupBy("la").agg(count(lit(1)).as("e_c"))
        val degByComm = und.select(col("a").as("node"))
          .unionByName(und.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("dg"))
          .join(lab, "node")
          .groupBy("label").agg(sum("dg").as("deg_c"))
        val sumE = intra.agg(sum("e_c")).head().getLong(0)
        val sumD2 = degByComm.agg(sum(col("deg_c") * col("deg_c")))
          .head().getLong(0)
        val s2 = s
        import s2.implicits._
        Seq((m, lab.select("label").distinct().count(),
          4L * m * sumE - sumD2, 4L * m * m))
          .toDF("m_edges", "n_communities", "q_num", "q_den")
      },
      Some(s"""WITH RECURSIVE $sqlFineCcCtes,
        |ie AS (
        |  SELECT COUNT(*) AS se FROM und
        |  JOIN lab la ON la.n = und.a JOIN lab lb ON lb.n = und.b
        |  WHERE la.label = lb.label),
        |dg AS (
        |  SELECT n, COUNT(*) AS dg FROM (
        |    SELECT a AS n FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY n),
        |dc AS (
        |  SELECT lab.label, SUM(dg.dg) AS deg_c FROM dg
        |  JOIN lab ON lab.n = dg.n GROUP BY lab.label),
        |agg AS (
        |  SELECT (SELECT COUNT(*) FROM und) AS m,
        |    (SELECT COUNT(DISTINCT label) FROM lab) AS nc,
        |    (SELECT se FROM ie) AS se,
        |    (SELECT SUM(deg_c * deg_c) FROM dc) AS sd2)
        |SELECT CAST(m AS BIGINT) AS m_edges, CAST(nc AS BIGINT) AS n_communities,
        |  CAST(4 * m * se - sd2 AS BIGINT) AS q_num,
        |  CAST(4 * m * m AS BIGINT) AS q_den
        |FROM agg""".stripMargin)),
    // ------------------------------------------------------------------
    // The co-purchase edge TABLE itself as a first-class gated query —
    // the bipartite (order x part) projection every graph query in this
    // family reads. g01-g07 consume it as a maintained scratch artifact;
    // this op gates the artifact's CONTENT (strongest 50 edges by shared-
    // order weight, canonical a < b orientation) so a projection bug
    // can't hide inside the cache all the other gates build on. Scale
    // shape: the projection is one self-join of the fact table on the
    // order key (co-partitionable; the quadratic blow-up is bounded by
    // per-order basket size, the bipartite-projection contract) + one
    // map-side-combinable weight aggregate; top-50 takes TakeOrdered,
    // not a global sort.
    Op(
      "g08_copurchase_table",
      (s, d) =>
        coPurchaseEdges(s, d)
          .filter(col("a") < col("b"))
          .select(col("a"), col("b"), col("w"))
          .orderBy(col("w").desc, col("a"), col("b"))
          .limit(50),
      Some(copurchaseTop50Oracle)),
    // ------------------------------------------------------------------
    // ONE SYNCHRONOUS LOUVAIN PASS from singleton communities — the move
    // step of the standard community-detection loop (g06/g07 give the CC
    // labels and their quality; this is the step that BUILDS finer
    // communities). Each node evaluates moving into a neighbor's
    // singleton community; the modularity gain for that case reduces to
    // the EXACT INTEGER score 2m - k_i*k_j (positive iff the move helps),
    // so the argmax (ties -> smallest neighbor id) and the whole output
    // hash-match with no FP anywhere. Scale shape: one degree aggregate
    // (map-side partial), one self-equi-join of the O(edges) directed
    // list against the O(nodes) degree table per endpoint (broadcast
    // here; shuffled equi-join on the node key at 100 TB), and a
    // per-node window argmax partitioned by a key the join already
    // hashes. Synchronous moves need no conflict resolution — each row
    // only reads its neighbors' PRE-PASS state, the Jacobi iteration
    // every distributed Louvain uses.
    Op(
      "g09_louvain_pass",
      (s, d) => {
        val und = fineSampledUndirectedEdges(s, d).persist()
        val m = und.count()
        val bi = und.select(col("a"), col("b"))
          .unionByName(und.select(col("b").as("a"), col("a").as("b")))
        val deg = bi.groupBy(col("a").as("n")).agg(count(lit(1)).as("k"))
        val cand = bi
          .join(deg.select(col("n").as("a"), col("k").as("ki")), "a")
          .join(deg.select(col("n").as("b"), col("k").as("kj")), "b")
          .withColumn("gain", lit(2L * m) - col("ki") * col("kj"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("a").orderBy(col("gain").desc, col("b"))
        cand.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("a").as("node"), col("ki").as("k"),
            when(col("gain") > 0L, col("b")).otherwise(col("a"))
              .as("new_comm"),
            col("gain").as("best_gain"))
          .orderBy("node")
      },
      Some(s"""WITH $sqlUndCtes,
        |deg AS (SELECT a AS n, COUNT(*) AS k FROM bi GROUP BY a),
        |m AS (SELECT COUNT(*) AS m FROM und),
        |cand AS (
        |  SELECT bi.a AS node, bi.b AS nb, da.k AS ki,
        |    2 * m.m - da.k * db.k AS gain
        |  FROM bi JOIN deg da ON da.n = bi.a
        |  JOIN deg db ON db.n = bi.b, m),
        |best AS (
        |  SELECT node, ki, nb, gain,
        |    ROW_NUMBER() OVER (PARTITION BY node
        |      ORDER BY gain DESC, nb) AS rk
        |  FROM cand)
        |SELECT node, CAST(ki AS BIGINT) AS k,
        |  CAST(CASE WHEN gain > 0 THEN nb ELSE node END AS BIGINT)
        |    AS new_comm,
        |  CAST(gain AS BIGINT) AS best_gain
        |FROM best WHERE rk = 1 ORDER BY node""".stripMargin)),
    // ------------------------------------------------------------------
    // TWO-HOP RECOMMENDATIONS ("customers who bought this also
    // bought...") — the item-item collaborative-filtering step over the
    // co-purchase graph: candidate c for item a scores sum over shared
    // neighbors m of w(a,m)*w(m,c), EXCLUDING items already co-purchased
    // directly (a LEFT ANTI join on the edge set) and self-loops.
    // Integer path arithmetic -> exact hash gate. Scale shape: ONE
    // self-equi-join of the weighted edge list on the middle node
    // (wedge-bounded like g02, on the same 1/16-thinned view), a
    // map-side-combinable score aggregate on (a, c), the anti join on
    // the canonical edge key, and TakeOrdered for the top-100 — never a
    // global sort. At 100 TB both joins shuffle on item keys the edge
    // artifact is already bucketed by.
    Op(
      "g10_two_hop_recs",
      (s, d) => {
        val bi = sampledWeightedBi(s, d).persist()
        val paths = bi.select(col("a"), col("b").as("m"), col("w").as("w1"))
          .join(bi.select(col("a").as("m"), col("b").as("c"),
            col("w").as("w2")), "m")
          .filter(col("a") =!= col("c"))
          .groupBy("a", "c").agg(sum(col("w1") * col("w2")).as("score"))
        paths
          .join(bi.select(col("a"), col("b").as("c")),
            Seq("a", "c"), "left_anti")
          .orderBy(col("score").desc, col("a"), col("c"))
          .limit(100)
      },
      Some("""WITH ed AS (
        |  SELECT a, b, w FROM (
        |    SELECT l1.l_partkey AS a, l2.l_partkey AS b, COUNT(*) AS w
        |    FROM lineitem l1 JOIN lineitem l2
        |      ON l1.l_orderkey = l2.l_orderkey
        |     AND l1.l_partkey <> l2.l_partkey
        |    GROUP BY 1, 2)
        |  WHERE substr(md5(CAST(LEAST(a, b) AS VARCHAR) || ':' ||
        |    CAST(GREATEST(a, b) AS VARCHAR)), 1, 1) = '0'),
        |paths AS (
        |  SELECT x.a, y.b AS c, SUM(x.w * y.w) AS score
        |  FROM ed x JOIN ed y ON x.b = y.a
        |  WHERE x.a <> y.b GROUP BY 1, 2)
        |SELECT p.a, p.c, CAST(p.score AS BIGINT) AS score
        |FROM paths p
        |WHERE NOT EXISTS (SELECT 1 FROM ed
        |  WHERE ed.a = p.a AND ed.b = p.c)
        |ORDER BY score DESC, a, c LIMIT 100""".stripMargin)),
    // ------------------------------------------------------------------
    // PERSONALIZED PAGERANK — g01's fixed-point integer recurrence with
    // the teleport mass concentrated on a deterministic seed set (parts
    // with key ≡ 0 mod 97): the "related to THESE items" ranking behind
    // every seeded recommendation surface. Differences from g01 that the
    // gate must honor exactly: rank mass starts on the seeds only
    // (Scale/|S| each), and each round's teleport term re-injects into
    // seeds via a FULL OUTER join of the contribution table against the
    // seed set (a seed with no in-contributions this round must not
    // vanish; a non-seed keeps only its damped contributions). All
    // arithmetic is integral (DIV), so the ranking hash-matches the
    // DuckDB unrolled-CTE oracle bit-for-bit under any partitioning.
    // Scale shape: identical to g01's broadcast path — the O(nodes) rank
    // table broadcasts against the degree-folded persisted edge list each
    // round (seeds are a broadcast-sized side by construction); past
    // broadcast size the g01 co-partitioned iteration applies unchanged.
    Op(
      "g11_personalized_pagerank",
      (s, d) => {
        val es = coPurchaseEdges(s, d).select("a", "b")
        val deg = es.groupBy("a").agg(count(lit(1)).as("deg"))
        val ej = es.join(deg, "a").persist()
        val seeds = es.filter(col("a") % 97 === 0)
          .select(col("a").as("node")).distinct().persist()
        val nSeeds = seeds.count()
        val basep = Scale / nSeeds
        var ranks = seeds.select(col("node"), lit(basep).as("r"))
        for (_ <- 1 to 5) {
          val contrib = ej
            .join(broadcast(ranks), ej("a") === ranks("node"))
            .select(col("b").as("node"), expr("r DIV deg").as("c"))
            .groupBy("node")
            .agg(sum("c").as("s"))
          ranks = contrib
            .join(seeds.select(col("node"), lit(1).as("isSeed")),
              Seq("node"), "full_outer")
            .select(col("node"),
              (when(col("isSeed").isNotNull, lit(15L * basep / 100L))
                .otherwise(0L)
                + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100"))
                .as("r"))
            .localCheckpoint()
        }
        ej.unpersist(blocking = false)
        seeds.unpersist(blocking = false)
        ranks.orderBy(col("r").desc, col("node")).limit(20)
          .select(col("node"), col("r").as("rank_fp"))
      },
      Some {
        val iter = (k: Int) =>
          s"""c$k AS (
             |  SELECT e.b AS node, SUM(r.r // d.deg) AS s
             |  FROM es e JOIN r${k - 1} r ON r.node = e.a
             |  JOIN deg d ON d.a = e.a GROUP BY e.b),
             |r$k AS (
             |  SELECT COALESCE(c.node, sd.node) AS node,
             |    (CASE WHEN sd.node IS NOT NULL
             |       THEN (15 * (SELECT basep FROM params)) // 100
             |       ELSE 0 END)
             |    + (85 * COALESCE(c.s, 0)) // 100 AS r
             |  FROM c$k c FULL OUTER JOIN seeds sd ON c.node = sd.node)"""
            .stripMargin
        s"""WITH es AS (
           |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
           |  FROM lineitem l1 JOIN lineitem l2
           |    ON l1.l_orderkey = l2.l_orderkey
           |   AND l1.l_partkey <> l2.l_partkey),
           |deg AS (SELECT a, COUNT(*) AS deg FROM es GROUP BY a),
           |seeds AS (SELECT DISTINCT a AS node FROM es WHERE a % 97 = 0),
           |params AS (
           |  SELECT CAST(${Scale} AS BIGINT) // COUNT(*) AS basep
           |  FROM seeds),
           |r0 AS (SELECT node, (SELECT basep FROM params) AS r FROM seeds),
           |${(1 to 5).map(iter).mkString(",\n")}
           |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r5
           |ORDER BY rank_fp DESC, node LIMIT 20""".stripMargin
      }),
    // ------------------------------------------------------------------
    // DEGREE ASSORTATIVITY — the Pearson correlation of endpoint degrees
    // across directed edges, the one-number answer to "do popular items
    // co-sell with popular items?". Float-parity scheme: every moment
    // (Σx, Σy, Σxy, Σx², Σy², m) is an EXACT integer aggregate
    // (order-independent under any partitioning); the correlation is then
    // one fixed expression tree of multiply/subtract/sqrt/divide on those
    // integers — and IEEE 754 requires sqrt to be correctly rounded (it
    // is NOT a libm transcendental), so the double is bit-identical in
    // both engines. Scale shape: two broadcast-or-shuffle joins attach
    // the O(nodes) degree table to the edge scan, then a six-cell
    // partial-agg fold — no edge-side shuffle survives. At 100 TB the
    // moment sums would be lifted to DECIMAL(38,0) (deg ≤ 1e6 edges
    // squared exceeds int64); at fixture scale int64 is exact and the
    // oracle's HUGEINT sums cast down losslessly.
    Op(
      "g12_degree_assortativity",
      (s, d) => {
        val es = coPurchaseEdges(s, d).select("a", "b")
        val deg = es.groupBy("a").agg(count(lit(1)).as("deg"))
        val de = es
          .join(deg.select(col("a"), col("deg").as("x")), "a")
          .join(deg.select(col("a").as("b"), col("deg").as("y")), "b")
          .select("x", "y")
        de.agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sx2"),
            sum(col("y") * col("y")).as("sy2"))
          .select(col("m"), col("sx"), col("sxy"), {
            // moment PRODUCTS go through DECIMAL(38,0) (r7 advice): int64
            // m*sxy wraps silently in non-ANSI Spark while the DuckDB
            // oracle (HUGEINT products) stays exact, so an intermediate
            // scale would be silently wrong rather than loudly divergent.
            // The frame is one row, so the decimal cost is nil; both
            // engines now compute the exact integer then cast to double.
            import org.apache.spark.sql.types.DecimalType
            val dec = (c: org.apache.spark.sql.Column) =>
              c.cast(DecimalType(38, 0))
            ((dec(col("m")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy")))
              .cast(DoubleType)
              / (sqrt((dec(col("m")) * dec(col("sx2"))
                    - dec(col("sx")) * dec(col("sx"))).cast(DoubleType))
                * sqrt((dec(col("m")) * dec(col("sy2"))
                    - dec(col("sy")) * dec(col("sy"))).cast(DoubleType))))
              .as("assortativity")
          })
      },
      Some("""WITH es AS (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_partkey <> l2.l_partkey),
        |deg AS (SELECT a, COUNT(*) AS deg FROM es GROUP BY a),
        |de AS (
        |  SELECT da.deg AS x, db.deg AS y
        |  FROM es JOIN deg da ON da.a = es.a
        |  JOIN deg db ON db.a = es.b),
        |s AS (
        |  SELECT COUNT(*) AS m,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy,
        |    CAST(SUM(x*x) AS BIGINT) AS sx2,
        |    CAST(SUM(y*y) AS BIGINT) AS sy2
        |  FROM de)
        |SELECT m, sx, sxy,
        |  CAST(CAST(m AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
        |  / (sqrt(CAST(CAST(m AS HUGEINT)*sx2 - CAST(sx AS HUGEINT)*sx AS DOUBLE))
        |     * sqrt(CAST(CAST(m AS HUGEINT)*sy2 - CAST(sy AS HUGEINT)*sy AS DOUBLE)))
        |    AS assortativity
        |FROM s""".stripMargin)),
    // ------------------------------------------------------------------
    // BOUNDED-RADIUS HARMONIC CENTRALITY — sum of 1/d(s,v) over nodes
    // within 3 hops, for the 4 smallest part keys: the seed-importance
    // measure (Boldi & Vigna's harmonic variant of closeness, well-defined
    // on disconnected graphs) curation stacks use to pick representative
    // exemplars from a similarity graph. All seeds advance in ONE frontier
    // table keyed (seed, node) — k seeds cost one edge join per round, not
    // k BFS runs (multiBfsLayers). Exactness scheme: hop counts are exact;
    // each level's 1/hop contribution is quantized at 9 dp into
    // DECIMAL(18,9) (only `rounds` distinct values exist), so the harmonic
    // sum is exact decimal addition. Scale shape: identical per-round cost
    // to g04's single-source BFS (frontier equi-join + left_anti against
    // visited, both keyed (s, n)); the visited set is O(seeds x reach),
    // bounded by the radius; localCheckpoint truncates iteration lineage.
    Op("g13_harmonic_centrality", (s, d) => {
      // persist: 3 frontier rounds + the seed probe would otherwise
      // re-scan the edge parquet per round (the g04 rule)
      val es = coPurchaseEdges(s, d).select("a", "b").persist()
      val seeds = es.select(col("a").as("s")).distinct()
        .orderBy("s").limit(4)
      multiBfsLayers(es, broadcast(seeds), 3)
        .filter(col("hop") > 0)
        .groupBy("s")
        .agg(
          sum(when(col("hop") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("hop") === 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("hop") === 3, 1L).otherwise(0L)).as("n3"),
          sum(expr("CAST(ROUND(1.0 / CAST(hop AS DOUBLE), 9)" +
            " AS DECIMAL(18,9))")).cast(DoubleType).as("harmonic"))
        .orderBy("s")
    }, Some("""WITH es AS (
      |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey
      |   AND l1.l_partkey <> l2.l_partkey),
      |sd AS (SELECT DISTINCT a AS s FROM es ORDER BY s LIMIT 4),
      |l0 AS (SELECT s, s AS n FROM sd),
      |f1 AS (SELECT DISTINCT l0.s, e.b AS n FROM es e JOIN l0 ON l0.n = e.a
      |       WHERE e.b <> l0.s),
      |a1 AS (SELECT s, n FROM l0 UNION SELECT s, n FROM f1),
      |f2 AS (SELECT DISTINCT f.s, e.b AS n FROM es e JOIN f1 f ON f.n = e.a
      |       WHERE NOT EXISTS (SELECT 1 FROM a1
      |                         WHERE a1.s = f.s AND a1.n = e.b)),
      |a2 AS (SELECT s, n FROM a1 UNION SELECT s, n FROM f2),
      |f3 AS (SELECT DISTINCT f.s, e.b AS n FROM es e JOIN f2 f ON f.n = e.a
      |       WHERE NOT EXISTS (SELECT 1 FROM a2
      |                         WHERE a2.s = f.s AND a2.n = e.b)),
      |lv AS (SELECT s, 1 AS hop, n FROM f1
      |  UNION ALL SELECT s, 2, n FROM f2
      |  UNION ALL SELECT s, 3, n FROM f3)
      |SELECT s,
      |  CAST(SUM(CASE WHEN hop = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |  CAST(SUM(CASE WHEN hop = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |  CAST(SUM(CASE WHEN hop = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
      |  CAST(SUM(CAST(ROUND(1.0 / CAST(hop AS DOUBLE), 9)
      |    AS DECIMAL(18,9))) AS DOUBLE) AS harmonic
      |FROM lv GROUP BY s ORDER BY s""".stripMargin)),
    // ------------------------------------------------------------------
    // ADAMIC–ADAR LINK PREDICTION (Adamic & Adar, "Friends and neighbors
    // on the Web", 2003) over g10's thinned co-purchase view: candidate
    // pairs are 2-hop endpoints, and each common neighbor m contributes
    // 1/ln(deg(m)) — a rare shared neighbor is stronger evidence than a
    // hub. Complements g10, whose path score rewards hubs; AA is the
    // standard normalized index. Exactness: deg is an exact integer,
    // each 1/ln(deg) contribution is quantized at 9 dp into
    // DECIMAL(18,9) (the g13 harmonic pattern) so the pair score is
    // exact decimal addition — order-independent under any partitioning
    // — and neighbors with deg < 2 (ln <= 0) are excluded identically in
    // both engines. Scale shape: deg is an O(nodes) aggregate joined
    // into the same degree-oriented wedge join as g10 on the persisted
    // shared edge artifact; the existing-edge anti-join runs on the same
    // co-partitioned (a, c) keys, and only the global top-50 leaves the
    // final shuffle.
    Op(
      "g14_adamic_adar",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val bi = sampledWeightedBi(s, d).select("a", "b").persist()
        val contrib = bi.groupBy(col("a").as("m"))
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 2)
          .select(col("m"),
            round(lit(1.0) / log(col("deg").cast(DoubleType)), 9)
              .cast(DecimalType(18, 9)).as("aa_term"))
        bi.select(col("a"), col("b").as("m"))
          .join(bi.select(col("a").as("m"), col("b").as("c")), "m")
          .filter(col("a") =!= col("c"))
          .join(contrib, "m")
          .groupBy("a", "c")
          .agg(count(lit(1)).as("common"), sum("aa_term").as("aa_dec"))
          .join(bi.select(col("a"), col("b").as("c")),
            Seq("a", "c"), "left_anti")
          .orderBy(col("aa_dec").desc, col("a"), col("c"))
          .limit(50)
          .select(col("a"), col("c"), col("common"),
            col("aa_dec").cast(DoubleType).as("aa"))
      },
      Some("""WITH ed AS (
        |  SELECT a, b FROM (
        |    SELECT l1.l_partkey AS a, l2.l_partkey AS b
        |    FROM lineitem l1 JOIN lineitem l2
        |      ON l1.l_orderkey = l2.l_orderkey
        |     AND l1.l_partkey <> l2.l_partkey
        |    GROUP BY 1, 2)
        |  WHERE substr(md5(CAST(LEAST(a, b) AS VARCHAR) || ':' ||
        |    CAST(GREATEST(a, b) AS VARCHAR)), 1, 1) = '0'),
        |ct AS (
        |  SELECT m, CAST(ROUND(1.0 / LN(CAST(deg AS DOUBLE)), 9)
        |    AS DECIMAL(18,9)) AS aa_term
        |  FROM (SELECT a AS m, COUNT(*) AS deg FROM ed GROUP BY a)
        |  WHERE deg >= 2),
        |pr AS (
        |  SELECT x.a, y.b AS c, COUNT(*) AS common,
        |    SUM(ct.aa_term) AS aa_dec
        |  FROM ed x JOIN ed y ON x.b = y.a
        |  JOIN ct ON ct.m = x.b
        |  WHERE x.a <> y.b
        |  GROUP BY 1, 2)
        |SELECT a, c, common, aa FROM (
        |  SELECT p.a, p.c, CAST(p.common AS BIGINT) AS common,
        |    CAST(p.aa_dec AS DOUBLE) AS aa, p.aa_dec
        |  FROM pr p
        |  WHERE NOT EXISTS (SELECT 1 FROM ed
        |    WHERE ed.a = p.a AND ed.b = p.c)
        |  ORDER BY p.aa_dec DESC, p.a, p.c LIMIT 50)
        |ORDER BY aa_dec DESC, a, c""".stripMargin)),
  )

  /** g10's 1/16-thinned weighted directed edge view (both orientations,
    * canonical-pair md5 sample — the [[sampledUndirectedEdges]] thinning
    * with the shared-order weight kept). */
  private[graft] def sampledWeightedBi(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    coPurchaseEdges(s, d)
      .filter(substring(md5(concat(
        least(col("a"), col("b")).cast("string"), lit(":"),
        greatest(col("a"), col("b")).cast("string"))), 1, 1) === "0")

  /** g08's content gate over the co-purchase projection — shared with the
    * incrementally-maintained streaming twin (st35), which must reproduce
    * the identical top-50 from per-trigger delta joins. */
  private[operators] lazy val copurchaseTop50Oracle: String =
    """SELECT l1.l_partkey AS a, l2.l_partkey AS b,
      |  COUNT(*) AS w
      |FROM lineitem l1 JOIN lineitem l2
      |  ON l1.l_orderkey = l2.l_orderkey
      | AND l1.l_partkey < l2.l_partkey
      |GROUP BY 1, 2
      |ORDER BY w DESC, a, b LIMIT 50""".stripMargin
}
