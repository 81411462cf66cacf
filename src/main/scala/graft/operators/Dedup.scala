package graft.operators

import graft.{Op, T}
import graft.functions.F
import graft.streaming.Streaming
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication surface over the `documents` / `embeddings` fixtures:
  * exact content-hash dedup, exact n-gram Jaccard, MinHash+LSH banding,
  * SimHash (native codegen'd expression), and embedding-cosine near-dup.
  *
  * Scale notes: exact dedup is one hash-shuffle on the content hash; n-gram
  * Jaccard blocks candidate pairs on a shared 5-gram (never all-pairs);
  * MinHash reduces that further to band-collisions, and the final Jaccard
  * verification runs only on candidates. All hashes are md5-prefix based so
  * the DuckDB oracle reproduces them exactly.
  */
object Dedup {

  /** Shared 32-hyperplane embedding LSH (d10 + p02): deterministic sign
    * bands, 4 bands x 8 bits — bucket population controlled by
    * bits-per-band regardless of label skew.
    */
  private[operators] def embedBandsOf(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    val planes = (0 until 32).map(p => (p, Similarity.planeVec(p))).toDF("p", "r")
    e.crossJoin(broadcast(planes))
      .withColumn("dp", F.dotFD(col("embedding"), col("r")))
      .groupBy(col("vec_id"), expr("p div 8").as("band"))
      .agg(sum(when(col("dp") > 0,
        expr("shiftleft(cast(1 as bigint), p % 8)")).otherwise(0L)).as("bkey"))
  }

  /** Band-collision candidates verified by exact cosine >= 0.4 — the
    * near-dup pair set both d10 and p02 consume.
    */
  private[operators] def embedNeardupPairs(
      e: DataFrame, bands: DataFrame): DataFrame = {
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .withColumn("cos", F.cosineSim(col("ea"), col("eb")))
      .filter(col("cos") >= 0.4)
      .select("vec_a", "vec_b", "cos")
  }

  /** Oracle mirror of [[embedBandsOf]] + candidate generation: the
    * pl/dt/bd/cand CTE chain shared by the d10 and p02 oracles.
    */
  // def, not val: Similarity.ops splices this during ITS object init while
  // Dedup may itself be mid-init (Dedup.ops calls Similarity.planeVec) — a
  // val would read as null inside the cycle and corrupt the oracle SQL.
  private[operators] def embedLshSqlCtes: String =
    s"""pl AS (${Similarity.sqlPlanesUpTo(31)}),
       |dt AS (SELECT e.vec_id, pl.p, ${VecSql.dot("e.embedding", "pl.r")} AS dp
       |       FROM embeddings e CROSS JOIN pl),
       |bd AS (SELECT vec_id, p // 8 AS band,
       |       CAST(SUM(CASE WHEN dp > 0 THEN CAST(1 AS BIGINT) << (p % 8) ELSE 0 END) AS BIGINT) AS bkey
       |       FROM dt GROUP BY vec_id, p // 8),
       |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |         FROM bd x JOIN bd y
       |           ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id)""".stripMargin



  /** Near-dup pairs at Jaccard >= 0.1 over word-5-gram shingles (the d02
    * pipeline without the reporting columns) — the graph [[clusterLabels]]
    * clusters.
    */
  private def neardupPairs(s: SparkSession, d: String): DataFrame = {
    val sh = cappedShingles(s, d).cache()
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")) >= 0.1)
      .select("doc_a", "doc_b")
  }

  /** (node, label) connected components of the [[neardupPairs]] graph —
    * the near-dup clusters d06, d09 and d12 report.
    */
  private def clusterLabels(s: SparkSession, d: String): DataFrame =
    connectedComponents(neardupPairs(s, d).cache(), "doc_a", "doc_b")

  /** d06/d09: one row per near-dup cluster with its sorted member list. */
  private def dedupClusters(s: SparkSession, d: String): DataFrame =
    clusterLabels(s, d).groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("size"),
        expr("concat_ws(',', transform(sort_array(collect_list(node)), x -> cast(x as string)))")
          .as("members"))
      .orderBy("cluster_id")

  private def dedupClustersOracle: String =
    s"""WITH RECURSIVE $sqlCappedCtes,
      |$sqlClusterLabCtes
      |SELECT label AS cluster_id, COUNT(*) AS size,
      |  string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
      |FROM lab GROUP BY label ORDER BY cluster_id""".stripMargin

  /** Connected components over an undirected pair list, returning
    * (node, label) with label = the component's minimum node id, by
    * alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): O(log n)
    * rounds, where min-label propagation needs one round per unit of graph
    * diameter.
    *
    * Each round is two self-contained map/reduce steps over the edge list:
    *  - large-star: every node attaches its larger neighbors to its current
    *    minimum neighbor (incl. itself);
    *  - small-star: every node attaches its smaller-or-equal neighbors to
    *    the minimum.
    * The edge multiset converges to a star forest; roots are the labels.
    * Each round truncates lineage with localCheckpoint — stacked iterative
    * joins would otherwise send the analyzer/optimizer superlinear.
    */
  def connectedComponents(pairs: DataFrame, a: String, b: String): DataFrame = {
    var edges = pairs.select(col(a).as("u"), col(b).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()

    // Both star steps need, per node u, m = min(N(u) ∪ {u}) and then one
    // output row per (neighbor, m). The paper phrases this as "collect the
    // neighborhood, emit from the array", but a celebrity node's array is
    // O(degree) in one task — the 100 TB failure mode. Here m comes from a
    // plain min() aggregate (map-side partial, constant state) and the
    // per-neighbor emission is an equi-join of the edge list back against
    // the tiny (node, m) table: no row ever holds more than one neighbor,
    // so degree only affects row COUNT, never row size or task memory.

    // large-star: for each u over full neighborhoods, emit (v, m) for
    // v ∈ N(u), v > u.
    def largeStar(e: DataFrame): DataFrame = {
      val bi = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = bi.groupBy("u")
        .agg(least(col("u"), min(col("v"))).as("m"))
      bi.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star: orient each edge (max; min); for each u, emit (v, m) for
    // v ∈ N≤(u) ∪ {u}, v ≠ m.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy("u")
        .agg(least(col("u"), min(col("v"))).as("m"))
      oriented.join(mins, "u")
        .select(col("v"), col("m"))
        .unionByName(mins.select(col("u").as("v"), col("m")))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    var converged = false
    // signature: edge count + sum of endpoints (monotone toward the fixed
    // star forest), carried across rounds: round k's `prev` IS round k-1's
    // `sig`.
    var prevSig = edges.agg(count(lit(1)), sum(col("u") + col("v"))).head()
    while (!converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val sig = next.agg(count(lit(1)), sum(col("u") + col("v"))).head()
      converged = sig == prevSig
      prevSig = sig
      edges = next
    }
    // star forest: every (u, v) has v = root(u); add roots' self rows
    val nodes = pairs.select(col(a).as("node"))
      .unionByName(pairs.select(col(b).as("node"))).distinct()
    nodes.join(edges.select(col("u").as("node"), col("v").as("root")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("root"), col("node")).as("label"))
  }

  /** Document-frequency cap for join-side shingles. A shingle shared by df
    * documents contributes df^2 rows to the shingle self-join; one
    * "stop-shingle" (boilerplate, license headers) with df=10^6 is a
    * quadratic hot key that no amount of parallelism absorbs. Dropping
    * shingles with df > cap before the join bounds every join key at cap^2
    * candidate rows, and loses nothing useful: a shingle present in >cap
    * documents carries no near-duplicate signal (it fails the
    * inverse-document-frequency test by construction). Fixture max df is 4,
    * so capped and uncapped results coincide there (asserted in
    * OperatorSuite); at web-corpus scale the cap is what keeps d02/d03/d08
    * linear in corpus size.
    */
  val ShingleDfCap = 64

  /** Drop shingles whose document frequency exceeds cap. One extra
    * map-side-combinable count per shingle + a left-anti join — both shuffle
    * on `sh`, the same key the caller's self-join shuffles on.
    */
  def capShingleDf(sh: DataFrame, cap: Int): DataFrame = {
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("sh")
    sh.join(hot, Seq("sh"), "left_anti")
  }

  /** Distinct word 5-gram shingles per document. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    shingleRows(T.documents(s, d))

  /** The per-document shingle transform over any (doc_id, text) frame —
    * row-local per doc, so a streaming trigger can run it on its batch
    * alone and the union over triggers equals the batch table (st42).
    *
    * r13 (guide §2.4 remove shuffles outright): previously
    * split -> explode(sequence) -> concat_ws(slice) -> `distinct()`, whose
    * distinct hash-exchanged the FULL (doc_id, shingle-string) table — the
    * heaviest single shuffle in every shingle consumer (d02/d03/d08/d19/
    * d27/st42, and 25-30 s of every p07 ingest trigger at the 100x probe).
    * Since doc_id is unique per input frame (T.documents PK; one row per
    * doc per trigger in the streaming ledgers), the global distinct IS the
    * per-doc distinct, and [[VectorOps.wordShingles5]] computes it inside
    * the row — byte-exact equivalence argument there, pinned against the
    * old pipeline in R13OpsSuite. The transform is now shuffle-free.
    */
  private[operators] def shingleRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.F.wordShingles5(col("text"))).as("sh"))

  /** Join-side shingles: DF-capped (see [[ShingleDfCap]]). */
  private def cappedShingles(s: SparkSession, d: String): DataFrame =
    capShingleDf(shingles(s, d), ShingleDfCap)

  private[operators] val sqlShingles =
    """SELECT DISTINCT doc_id, array_to_string(t[p:p+4], ' ') AS sh FROM (
      |    SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS p FROM (
      |      SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |    WHERE len(t) >= 5)""".stripMargin

  /** Oracle mirror of [[cappedShingles]]: `sh0` = raw shingles, `sh` =
    * DF-capped shingles. Splice as the head of a WITH list.
    */
  private[operators] val sqlCappedCtes =
    s"""sh0 AS ($sqlShingles),
      |sh AS (SELECT sh0.* FROM sh0 WHERE sh NOT IN (
      |       SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > $ShingleDfCap))""".stripMargin

  /** Oracle mirror of [[clusterLabels]]: the d02 near-dup pairs over an
    * existing `sh` CTE, then their recursive-CTE transitive closure — CTEs
    * `sz`/`pr`/`pairs`/`edges`/`nodes`/`reach`/`lab`, where `lab` is
    * (node, label = the component's minimum node id). Shared by d06, d09
    * and d12; splice after `WITH RECURSIVE $sqlCappedCtes,`.
    */
  private val sqlClusterLabCtes =
    """sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |       FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b FROM pr
      |          JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      |          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.1),
      |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |nodes AS (SELECT DISTINCT s AS node FROM edges),
      |reach(node, label) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT e.s, r.label FROM edges e JOIN reach r ON r.node = e.t),
      |lab AS (SELECT node, min(label) AS label FROM reach GROUP BY node)""".stripMargin

  /** Oracle mirror of [[minhashBands]] + the band-collision self-join:
    * CTEs `hs`/`pm`/`mh`/`bands`/`cand` over an existing `sh` CTE. Shared
    * by d03 (Jaccard verify) and d20 (edit-distance verify) so the two
    * verification stages provably probe the SAME candidate set.
    */
  private[operators] val sqlCandCtes =
    """hs AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h FROM sh),
      |pm AS (SELECT i, 100003 + 7919*i AS a, 12345 + 104729*i AS b
      |       FROM (SELECT unnest(generate_series(0, 15)) AS i)),
      |mh AS (SELECT doc_id, i, min((a*h + b) % 2147483647) AS mh
      |       FROM hs CROSS JOIN pm GROUP BY doc_id, i),
      |bands AS (SELECT doc_id, i // 4 AS band,
      |          string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
      |          FROM mh GROUP BY doc_id, i // 4),
      |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |         FROM bands x JOIN bands y
      |           ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)""".stripMargin

  /** Exact-Jaccard-scored band-collision pairs (doc_a, doc_b, inter, na,
    * nb, jaccard) over the capped shingle set — the ONE scoring pass d03
    * (filtered report) and d22 (threshold curve) consume. Structural
    * sharing is what makes d22's "same pair scores as d03" contract a
    * property of the code rather than two copies kept textually in sync.
    */
  private def scoredCandidatePairs(s: SparkSession, d: String): DataFrame =
    scoredCandidatePairsFromShingles(cappedShingles(s, d))

  /** d03's report shaping — shared with st42 (identical output contract). */
  private[operators] def d03Report(scored: DataFrame): DataFrame =
    scored
      .filter(col("jaccard") >= 0.2)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** d03's DuckDB oracle, verbatim — also st42's gate: the LSH pipeline
    * over the stream-assembled shingle ledger must reproduce the batch
    * near-dup report bit-for-bit. */
  private[operators] lazy val d03Oracle: String =
    s"""WITH $sqlCappedCtes,
      |$sqlCandCtes,
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |iv AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
      |       FROM cand c JOIN sh a ON a.doc_id = c.doc_a
      |       JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
      |       GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  CAST(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS DOUBLE) AS jaccard
      |FROM iv JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** The d03/d22 scoring pass over an already-capped shingle frame —
    * shared with st42, whose stream-assembled shingle ledger must score
    * identically to the batch table. */
  private[operators] def scoredCandidatePairsFromShingles(
      shIn: DataFrame): DataFrame = {
    val sh = shIn.cache()
    scorePairs(bandCandidates(minhashBands(sh)), sh)
  }

  /** The exact-Jaccard scoring tail of [[scoredCandidatePairsFromShingles]]
    * over an externally supplied (doc_a, doc_b) candidate set — shared with
    * the incremental pair ledger ([[pairLedgerServe]]) so both score with
    * the identical expressions. `sh` is consumed three times (sa, sb, sz);
    * callers pass a cached or suitably restricted frame.
    */
  private[operators] def scorePairs(cand: DataFrame, sh: DataFrame): DataFrame = {
    val inter = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id") &&
        col("sa.sh") === col("sb.sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        (col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter"))).cast(DoubleType))
  }

  /** INCREMENTAL BANDED CANDIDATE-PAIR LEDGER (r13 — p07's serve path;
    * guide §1.2/§6/§8, the st22/st46 maintained-artifact pattern).
    *
    * Ingest ([[pairLedgerAppend]], once per trigger, AFTER the batch's
    * shingle rows were written to output `sh`): writes (a) the batch docs'
    * 16-perm minhash bands over their FULL (uncapped) shingle sets to
    * `bands`, and (b) the pair delta — bands of THIS batch band-joined
    * against its own and every earlier batch's bands — to `pairs` as
    * (doc_a, doc_b).
    * Per-trigger cost is O(arrival shingles) for the banding aggregate plus
    * one narrow-row join against the bands ledger; the heavy shingle
    * strings never move.
    *
    * Serve ([[pairLedgerServe]]): returns a frame equal to
    * `scoredCandidatePairsFromShingles(capShingleDf(sh-ledger, cap))` — the
    * batch d03 pipeline — without re-banding or band-self-joining the
    * corpus at read time.
    *
    * EQUIVALENCE. Preconditions: doc_id unique across the stream, and each
    * doc's shingles whole within one trigger ([[shingleRows]] is row-local,
    * so this is structural). Let HOT = shingles with ledger-wide df > cap
    * and A = docs containing a HOT shingle.
    * - For d ∉ A the cap removes nothing from d's shingle set, so d's
    *   stored (uncapped) signature equals its capped signature, and any
    *   Jaccard score against another non-A doc over raw sets equals the
    *   capped score.
    * - A pair (a, b), a < b, with a, b ∉ A band-collides under stored
    *   signatures iff it collides under capped signatures, and the ingest
    *   discovers each such pair EXACTLY once: at the later doc's trigger
    *   (the earlier doc's bands are then in the ledger; at the earlier
    *   doc's own trigger the later doc was absent). Same-trigger pairs
    *   appear symmetrically in the band join and are collapsed by the
    *   least/greatest + distinct.
    * - Pairs touching A are recomputed from scratch: stored pairs with an
    *   endpoint in A are dropped, A's signatures re-derived over CAPPED
    *   shingles, re-collided against the final band table (stored bands for
    *   non-A docs + recomputed bands for A), and the union is scored over
    *   the capped shingle frame. A doc whose every shingle is HOT drops out
    *   of the capped frame, so it produces no bands and no pairs — exactly
    *   the batch pipeline's behaviour.
    * - When HOT is empty (one aggregate over the sh ledger decides — the
    *   fixture corpus and any boilerplate-capped corpus), A is empty and
    *   the stored pair set IS the batch candidate set; scoring restricts
    *   the shingle ledger to the pair docs first (semi join — §8: decide
    *   with small rows) which is sound because [[scorePairs]] only probes
    *   sa/sb/sz at pair docs.
    * Both branches are pinned against the batch pipeline in R13OpsSuite,
    * including a synthetic corpus whose hot shingle crosses the cap only
    * once the triggers are unioned.
    */
  private[graft] def pairLedgerAppend(shb: DataFrame, w: Streaming.Writer): Unit = {
    val nb = minhashBands(shb).persist()
    try {
      w.write("bands", nb)
      val all = nb.unionByName(w.out.read(shb.sparkSession, "bands",
        below = w.id, schema = nb.schema))
      w.write("pairs", nb.as("x")
        .join(all.as("y"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
        .distinct())
    } finally nb.unpersist()
  }

  /** Serve side of the incremental pair ledger — see [[pairLedgerAppend]]
    * for the construction and the equivalence argument. Returns the same
    * (doc_a, doc_b, inter, na, nb, jaccard) frame the batch pipeline
    * produces over the compacted `sh` ledger. `pairs` and `bands` are read
    * with their schemas, so a ledger no batch wrote reads as empty.
    */
  private[graft] def pairLedgerServe(ss: SparkSession, out: Streaming.Output): DataFrame = {
    val shAll = out.read(ss, "sh")
    val hot = shAll.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap).select("sh")
    val stored = out.read(ss, "pairs", schema = StructType.fromDDL("doc_a BIGINT, doc_b BIGINT"))
    // restrict the shingle ledger to the pair docs BEFORE the scoring
    // joins (sound: scorePairs only probes sa/sb/sz at pair docs), then
    // cache — scorePairs consumes it three times, same convention as the
    // batch pipeline's cache of the capped frame
    def scoreOver(cand: DataFrame, sh: DataFrame): DataFrame = {
      val c = cand.cache()
      val pairDocs = c.select(col("doc_a").as("doc_id"))
        .unionByName(c.select(col("doc_b").as("doc_id"))).distinct()
      scorePairs(c, sh.join(pairDocs, Seq("doc_id"), "left_semi").cache())
    }
    // driver-side branch on a data property, not a semantics change: both
    // branches compute the batch pipeline's result (the general branch for
    // any input, the fast branch exactly when no shingle exceeds the cap —
    // then the correction subtrees would all be empty and the branch saves
    // their 3-4 full ledger scans)
    if (hot.isEmpty) scoreOver(stored, shAll)
    else {
      val hotP = hot.persist()
      val affected = shAll.join(hotP, Seq("sh"), "left_semi")
        .select("doc_id").distinct().persist()
      val capped = shAll.join(hotP, Seq("sh"), "left_anti").cache()
      val affBands = minhashBands(
        capped.join(affected, Seq("doc_id"), "left_semi")).persist()
      val keepBands = out.read(ss, "bands",
          schema = StructType.fromDDL("doc_id BIGINT, band INT, sig STRING"))
        .join(affected, Seq("doc_id"), "left_anti")
      val affCand = affBands.as("x")
        .join(keepBands.unionByName(affBands).as("y"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
        .distinct()
      val kept = stored
        .join(affected.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
        .join(affected.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
      scoreOver(kept.unionByName(affCand), capped)
    }
  }

  /** Band-collision candidate pairs (doc_a < doc_b) from a (doc_id, band,
    * sig) band table — d03/d20's shared Spark-side candidate generator.
    * Shuffles once on (band, sig); the DF cap upstream bounds every band
    * bucket, so the self-join fan-out is bounded exactly like the shingle
    * join.
    */
  private def bandCandidates(bands: DataFrame): DataFrame =
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

  /** Fuzzy benchmark decontamination core (see the d14 registration for the
    * scale rationale): MinHash-LSH candidates between the corpus and the
    * `benchSource` slice, exact-Jaccard verified at `threshold`, rolled up
    * per source. Takes any (doc_id, source, text) frame so tests can inject
    * synthetic contamination the fixtures don't contain.
    */
  /** 16-perm MinHash signature -> 4x4 LSH bands over a (doc_id, sh) shingle
    * set: the single-aggregation signature pass + band explode shared by
    * d03/d14/d15. Returns (doc_id, band, sig).
    */
  private def minhashBands(sh: DataFrame): DataFrame = {
    val hs = sh.withColumn("h",
      expr("cast(conv(substring(md5(sh), 1, 8), 16, 10) as bigint)"))
    val mhCols = (0 until 16).map { i =>
      min((lit(100003L + 7919L * i) * col("h") + lit(12345L + 104729L * i))
        % lit(2147483647L)).as(s"m$i")
    }
    val sig = hs.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until 4).map(r => col(s"m${4 * b + r}").cast(StringType)): _*)
          .as("sig"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Incremental ingest-dedup core (see the d15 registration for the scale
    * rationale): the hash-bucket >= 90 slice of `docs` is the NEW batch,
    * band-probed against the rest (the corpus); exact-Jaccard verified at
    * `threshold`; one admit/reject row per new doc. Takes any
    * (doc_id, text) frame so tests can inject known duplicates.
    */
  def incrementalDedup(docs: DataFrame, threshold: Double): DataFrame = {
    val bk = docs.select(col("doc_id"), expr(
      "CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 100")
      .as("bucket"))
    val sh = capShingleDf(shingleRows(docs), ShingleDfCap).cache()
    val bands = minhashBands(sh).join(bk, "doc_id")
    val newBands = bands.filter(col("bucket") >= 90)
      .select(col("doc_id").as("new_id"), col("band"), col("sig"))
    val cand = bands.filter(col("bucket") < 90)
      .join(broadcast(newBands), Seq("band", "sig"))
      .select(col("new_id"), col("doc_id").as("corp_id")).distinct()
    val inter = cand
      .join(sh.as("sa"), col("new_id") === col("sa.doc_id"))
      .join(sh.as("sb"), col("corp_id") === col("sb.doc_id") &&
        col("sa.sh") === col("sb.sh"))
      .groupBy("new_id", "corp_id").agg(count(lit(1)).as("inter"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val best = inter
      .join(sz.select(col("doc_id").as("new_id"), col("n").as("na")), "new_id")
      .join(sz.select(col("doc_id").as("corp_id"), col("n").as("nb")), "corp_id")
      .withColumn("jaccard",
        (col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter"))).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .groupBy("new_id").agg(max("jaccard").as("best_j"))
    bk.filter(col("bucket") >= 90).select(col("doc_id"))
      .join(best, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"), col("best_j"), col("best_j").isNull.as("admit"))
      .orderBy("doc_id")
  }

  /** d15's pieces exposed for the streaming admission path (st23): the
    * derived ingest bucket, UNCAPPED distinct shingles (admission checks a
    * single arriving doc, whose work is bounded by its own length — the DF
    * cap is a corpus-self-join optimization that a row-local streaming
    * signature cannot see), and the shared band derivation.
    */
  private[operators] def bucketCol =
    expr("CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 100")

  private[operators] def rawShinglesOf(docs: DataFrame): DataFrame =
    shingleRows(docs)

  private[operators] def bandsOf(sh: DataFrame): DataFrame = minhashBands(sh)

  /** SemDeDup-style semantic dedup core (d16): cluster the embeddings
    * under the full-corpus K-means quantizer the IVF ops share (the
    * engine's own trainer, fit once per JVM), then near-dup ONLY within
    * clusters (drop the larger id of any within-cluster pair with cosine
    * >= tau). Returns the dropped set (vec_id, dup_cos) for gates/tests.
    */
  def semanticDedupDropped(s: SparkSession, d: String, k: Int,
      tau: Double): DataFrame = {
    val clustered = Similarity.listed(T.embeddings(s, d).select("vec_id", "embedding"),
      Similarity.fullCorpusQuantizer(s, d, k)).cache()
    clustered.as("a")
      .join(clustered.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", F.cosineSim(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= tau)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(max("cos").as("dup_cos"))
  }

  def fuzzyDecontam(docs: DataFrame, benchSource: String,
      threshold: Double): DataFrame = {
    val srcs = docs.select(col("doc_id"), col("source"))
    val sh = capShingleDf(shingleRows(docs), ShingleDfCap).cache()
    val bands = minhashBands(sh).join(srcs, "doc_id")
    val benchBands = bands.filter(col("source") === benchSource)
      .select(col("doc_id").as("bench_id"), col("band"), col("sig"))
    val cand = bands.filter(col("source") =!= benchSource)
      .join(broadcast(benchBands), Seq("band", "sig"))
      .select(col("doc_id").as("corp_id"), col("bench_id")).distinct()
    val inter = cand
      .join(sh.as("sa"), col("corp_id") === col("sa.doc_id"))
      .join(sh.as("sb"), col("bench_id") === col("sb.doc_id") &&
        col("sa.sh") === col("sb.sh"))
      .groupBy(col("corp_id"), col("bench_id")).agg(count(lit(1)).as("inter"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val best = inter
      .join(sz.select(col("doc_id").as("corp_id"), col("n").as("na")), "corp_id")
      .join(sz.select(col("doc_id").as("bench_id"), col("n").as("nb")), "bench_id")
      .withColumn("jaccard",
        (col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
          .cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .groupBy("corp_id").agg(max("jaccard").as("best_j"))
      .withColumnRenamed("corp_id", "doc_id")
    srcs.filter(col("source") =!= benchSource)
      .join(best, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("best_j").isNotNull, 1L).otherwise(0L))
          .as("n_contaminated"),
        max("best_j").as("max_jaccard"))
      .orderBy("source")
  }

  val ops: Seq[Op] = Seq(
    // ------------------------------------------------------------------
    Op(
      "d01_exact_dedup",
      (s, d) =>
        T.documents(s, d)
          .groupBy(md5(lower(col("text"))).as("content_hash"))
          .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
          .orderBy("content_hash"),
      Some("""SELECT md5(lower(text)) AS content_hash,
        |  min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ------------------------------------------------------------------
    Op(
      "d02_ngram_jaccard",
      (s, d) => {
        val sh = cappedShingles(s, d).cache()
        val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val pr = sh.as("a")
          .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
        pr.join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .withColumn("jaccard",
            (col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
              .cast(DoubleType))
          .filter(col("jaccard") >= 0.1)
          .select("doc_a", "doc_b", "inter", "na", "nb", "jaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $sqlCappedCtes,
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |       FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter, sa.n AS na, sb.n AS nb,
        |  CAST(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS DOUBLE) AS jaccard
        |FROM pr JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.1
        |ORDER BY doc_a, doc_b""".stripMargin)),
    // ------------------------------------------------------------------
    // MinHash (16 permutations) + LSH (4 bands x 4 rows) + exact-Jaccard
    // verification restricted to band-collision candidates.
    Op(
      "d03_minhash_lsh",
      (s, d) => d03Report(scoredCandidatePairs(s, d)),
      Some(d03Oracle)),
    // ------------------------------------------------------------------
    Op(
      "d04_simhash",
      (s, d) =>
        T.documents(s, d)
          .select(col("doc_id"), F.simhash32(split(col("text"), " ")).as("simhash"))
          .orderBy("doc_id"),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h FROM tok),
        |bits AS (SELECT doc_id, unnest(generate_series(0, 31)) AS b, h FROM th),
        |sg AS (SELECT doc_id, b,
        |       SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
        |       FROM bits GROUP BY doc_id, b)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN sgn > 0 THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
        |FROM sg GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Connected-components clustering of the near-dup pair graph — the step
    // a real dedup pipeline runs after pair generation (keep one doc per
    // component): `clusterLabels` (star contraction, O(log n) rounds),
    // then one row per cluster. The oracle computes the true transitive
    // closure with a recursive CTE.
    Op("d06_dedup_clusters", dedupClusters, Some(dedupClustersOracle)),
    // ------------------------------------------------------------------
    // The same query under its second name: the driver contract lists both
    // d06 and d09.
    Op("d09_dedup_clusters_star", dedupClusters, Some(dedupClustersOracle)),
    // ------------------------------------------------------------------
    // SimHash near-dup pairs at Hamming distance <= 3, found by 4x8-bit
    // banding: 3 differing bits can dirty at most 3 of the 4 bands, so every
    // qualifying pair collides on at least one band — the banding is
    // LOSSLESS, and the oracle proves it by scanning all O(n^2) pairs
    // directly. Spark only ever joins within bands (scale path).
    Op(
      "d07_simhash_pairs",
      (s, d) => simhashPairs3(s, d).orderBy("doc_a", "doc_b"),
      Some(s"""WITH $sqlSimhash32Cte,
        |$sqlSimhashPairs3Cte
        |SELECT doc_a, doc_b, hamming FROM sp
        |ORDER BY doc_a, doc_b""".stripMargin)),
    // ------------------------------------------------------------------
    Op(
      "d05_embed_neardup",
      (s, d) => {
        val e = T.embeddings(s, d).select(col("vec_id"), col("label"), col("embedding"))
        e.as("a")
          .join(e.as("b"),
            col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
          .withColumn("cos", F.cosineSim(col("a.embedding"), col("b.embedding")))
          .filter(col("cos") >= 0.4)
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
            col("a.label").as("label"), col("cos"))
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |  ${VecSql.cos("a.embedding", "b.embedding")} AS cos
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ${VecSql.cos("a.embedding", "b.embedding")} >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin)),
    // ------------------------------------------------------------------
    // The d05 scale path: embedding near-dup blocked on LSH band buckets
    // instead of a low-cardinality label. 32 deterministic sign-hyperplanes
    // grouped into 4 bands x 8 bits; a pair is a candidate iff it collides
    // in at least one band (recall is tunable via bands x bits — more bits
    // per band shrink buckets, more bands recover recall), then candidates
    // are verified with the exact codegen'd cosine. The join key is
    // (band, bkey) — never all-pairs, never label-wide: bucket population
    // is controlled by bits-per-band regardless of label skew, which is
    // what survives a 100 TB corpus. Same LCG plane scheme as s02, so the
    // oracle reproduces bucket assignment bit-exactly.
    Op(
      "d10_embed_neardup_lsh",
      (s, d) => {
        val e = T.embeddings(s, d)
        embedNeardupPairs(e, embedBandsOf(s, e))
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""WITH $embedLshSqlCtes
        |SELECT vec_a, vec_b, ${VecSql.cos("a.embedding", "b.embedding")} AS cos
        |FROM cand JOIN embeddings a ON a.vec_id = vec_a
        |JOIN embeddings b ON b.vec_id = vec_b
        |WHERE ${VecSql.cos("a.embedding", "b.embedding")} >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin)),
    // ------------------------------------------------------------------
    // Asymmetric n-gram containment (catches subset/quote duplication that
    // symmetric Jaccard misses): |A∩B| / min(|A|,|B|) over the same shingle
    // inverted index as d02 — one equi-join on shingle, no cross product.
    Op(
      "d08_containment",
      (s, d) => {
        val sh = cappedShingles(s, d).cache()
        val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        sh.as("a")
          .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
          .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .withColumn("containment",
            (col("inter").cast(DoubleType) / least(col("na"), col("nb")))
              .cast(DoubleType))
          .filter(col("containment") >= 0.5)
          .select("doc_a", "doc_b", "inter", "containment")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $sqlCappedCtes,
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter,
        |  CAST(inter AS DOUBLE) / least(na.n, nb.n) AS containment
        |FROM pr
        |JOIN sz na ON na.doc_id = doc_a
        |JOIN sz nb ON nb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / least(na.n, nb.n) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin)),
    // ------------------------------------------------------------------
    // Benchmark decontamination (Lee et al. "Deduplicating Training Data
    // Makes Language Models Better", and every LLM data card since): flag
    // training documents that share word-5-grams with a held-out benchmark
    // set. Here the benchmark is the src19 source slice; at real scale it's
    // the eval suites. The benchmark n-gram set is tiny relative to the
    // corpus, so it BROADCASTS — the corpus-side shingle stream is joined
    // map-side with no shuffle of corpus data, which is what makes
    // decontamination affordable at 100 TB (one scan + one broadcast
    // semi-join; the only shuffle is the per-doc overlap count on doc_id).
    Op(
      "d11_decontamination",
      (s, d) => {
        val sh = shingles(s, d)
          .join(T.documents(s, d).select("doc_id", "source"), "doc_id")
        val bench = sh.filter(col("source") === "src19")
          .select("sh").distinct()
        val corpus = sh.filter(col("source") =!= "src19")
        val sz = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        corpus.join(broadcast(bench), "sh")
          .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
          .join(sz, "doc_id")
          .withColumn("contamination",
            (col("n_overlap").cast(DoubleType) / col("n_sh")).cast(DoubleType))
          .filter(col("contamination") >= 0.05)
          .select("doc_id", "n_overlap", "n_sh", "contamination")
          .orderBy("doc_id")
      },
      Some(s"""WITH sh0 AS ($sqlShingles),
        |shs AS (SELECT sh0.doc_id, sh0.sh, d.source FROM sh0
        |        JOIN documents d ON d.doc_id = sh0.doc_id),
        |bench AS (SELECT DISTINCT sh FROM shs WHERE source = 'src19'),
        |corpus AS (SELECT doc_id, sh FROM shs WHERE source <> 'src19'),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM corpus GROUP BY doc_id),
        |ov AS (SELECT doc_id, count(*) AS n_overlap FROM corpus
        |       JOIN bench USING (sh) GROUP BY doc_id)
        |SELECT ov.doc_id, n_overlap, n_sh,
        |  CAST(n_overlap AS DOUBLE) / n_sh AS contamination
        |FROM ov JOIN sz ON sz.doc_id = ov.doc_id
        |WHERE CAST(n_overlap AS DOUBLE) / n_sh >= 0.05
        |ORDER BY 1""".stripMargin)),
    // ------------------------------------------------------------------
    // FUZZY benchmark decontamination (d11 catches verbatim n-gram overlap;
    // this catches paraphrased/near-duplicate contamination the exact check
    // misses): MinHash-LSH candidates BETWEEN datasets — corpus docs band-
    // joined against the held-out benchmark slice only, never self-joined —
    // then exact-Jaccard verified at 0.2. Per-source rollup reports how much
    // of each crawl is fuzzily contaminated. Scale shape: the signature pass
    // is d03's single aggregation; the candidate join keys on (band, sig)
    // where one side is the (small) benchmark, so candidates stay bounded by
    // benchmark size x band collisions regardless of corpus size — the
    // asymmetry is what makes fuzzy decontamination cheaper than fuzzy
    // self-dedup at 100 TB.
    Op(
      "d14_fuzzy_decontam",
      (s, d) => fuzzyDecontam(T.documents(s, d), "src19", 0.2),
      Some(s"""WITH $sqlCappedCtes,
        |hs AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h FROM sh),
        |pm AS (SELECT i, 100003 + 7919*i AS a, 12345 + 104729*i AS b
        |       FROM (SELECT unnest(generate_series(0, 15)) AS i)),
        |mh AS (SELECT doc_id, i, min((a*h + b) % 2147483647) AS mh
        |       FROM hs CROSS JOIN pm GROUP BY doc_id, i),
        |bands AS (SELECT m.doc_id, d.source, i // 4 AS band,
        |          string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
        |          FROM mh m JOIN documents d ON d.doc_id = m.doc_id
        |          GROUP BY m.doc_id, d.source, i // 4),
        |cand AS (SELECT DISTINCT x.doc_id, y.doc_id AS bench_id
        |         FROM bands x JOIN bands y
        |           ON x.band = y.band AND x.sig = y.sig
        |         WHERE x.source <> 'src19' AND y.source = 'src19'),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |iv AS (SELECT c.doc_id, c.bench_id, count(*) AS inter
        |       FROM cand c JOIN sh a ON a.doc_id = c.doc_id
        |       JOIN sh b ON b.doc_id = c.bench_id AND b.sh = a.sh
        |       GROUP BY 1, 2),
        |best AS (SELECT iv.doc_id, MAX(CAST(inter AS DOUBLE)
        |           / (sa.n + sb.n - inter)) AS best_j
        |         FROM iv JOIN sz sa ON sa.doc_id = iv.doc_id
        |         JOIN sz sb ON sb.doc_id = iv.bench_id
        |         WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
        |         GROUP BY 1)
        |SELECT d.source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN best_j IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_contaminated,
        |  MAX(best_j) AS max_jaccard
        |FROM documents d LEFT JOIN best ON best.doc_id = d.doc_id
        |WHERE d.source <> 'src19'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ------------------------------------------------------------------
    // Representative selection after near-dup clustering: each cluster
    // keeps its highest-quality member (longest text; ties to the smallest
    // doc_id) — the standard "keep best, drop rest" step between dedup and
    // training. Reuses d06's `clusterLabels`; the winner is picked with one
    // max_by aggregation per cluster (a single shuffle on cluster_id — no
    // window sort needed), so the step adds one map-side-combinable agg on
    // top of the clustering cost at any scale.
    Op(
      "d12_keep_best_per_cluster",
      (s, d) => {
        val quality = T.documents(s, d).select(col("doc_id"), col("n_chars"))
        clusterLabels(s, d).join(quality, col("node") === col("doc_id"))
          .groupBy(col("label").as("cluster_id"))
          .agg(
            count(lit(1)).as("size"),
            expr("max_by(node, struct(n_chars, -node))").as("keep_doc_id"),
            max("n_chars").as("keep_n_chars"),
            (count(lit(1)) - 1).as("n_dropped"))
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE $sqlCappedCtes,
        |$sqlClusterLabCtes,
        |ranked AS (SELECT l.label, l.node, d.n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY l.label
        |    ORDER BY d.n_chars DESC, l.node ASC) AS rk
        |  FROM lab l JOIN documents d ON d.doc_id = l.node)
        |SELECT label AS cluster_id, COUNT(*) AS size,
        |  MAX(CASE WHEN rk = 1 THEN node END) AS keep_doc_id,
        |  MAX(n_chars) AS keep_n_chars,
        |  COUNT(*) - 1 AS n_dropped
        |FROM ranked GROUP BY label ORDER BY cluster_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Corpus-boilerplate coverage (the C4-style scrub step): the 150 word
    // 3-grams appearing in the most distinct documents (deterministic
    // df-desc/gram-asc rank) are "boilerplate"; each document reports how
    // many of its token positions any boilerplate gram covers. The frequent
    // set is top-K by construction — K rows broadcast back to the gram
    // instances, so the corpus side never reshuffles for the probe; the
    // only wide exchanges are the gram→df aggregation (bounded by |vocab|³,
    // same shape as d01's hash groupBy) and its K-row TakeOrdered.
    Op(
      "d13_boilerplate_coverage",
      (s, d) => {
        val toks = T.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
          .withColumn("n", size(col("ts")).cast(LongType))
        val grams = toks.filter(col("n") >= 3)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, cast(n AS int) - 2), " +
              "i -> struct(i AS pos, array_join(slice(ts, i, 3), ' ') AS gram))"))
            .as("g"))
          .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram"))
        val freq = grams.groupBy("gram")
          .agg(countDistinct(col("doc_id")).as("df"))
          .orderBy(col("df").desc, col("gram"))
          .limit(150)
          .select("gram")
        val cov = grams.join(broadcast(freq), "gram")
          .select(col("doc_id"), explode(expr("sequence(pos, pos + 2)")).as("cp"))
          .distinct()
          .groupBy("doc_id").agg(count(lit(1)).as("covered"))
        toks.join(cov, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n").as("n_tokens"),
            coalesce(col("covered"), lit(0L)).as("covered"),
            (coalesce(col("covered"), lit(0L)).cast(DoubleType) /
              col("n").cast(DoubleType)).as("coverage_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(list_slice(ts, i, i + 2), ' ') AS gram
        |  FROM (SELECT doc_id, ts, unnest(generate_series(1, CAST(n AS INT) - 2)) AS i
        |        FROM t WHERE n >= 3)),
        |freq AS (
        |  SELECT gram FROM (
        |    SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY 1)
        |  ORDER BY df DESC, gram LIMIT 150),
        |cov AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS covered FROM (
        |    SELECT DISTINCT doc_id, cp FROM (
        |      SELECT g.doc_id, unnest(generate_series(g.pos, g.pos + 2)) AS cp
        |      FROM g JOIN freq USING (gram)))
        |  GROUP BY doc_id)
        |SELECT t.doc_id, t.n AS n_tokens,
        |  COALESCE(cov.covered, 0) AS covered,
        |  CAST(COALESCE(cov.covered, 0) AS DOUBLE) / t.n AS coverage_frac
        |FROM t LEFT JOIN cov ON cov.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Incremental ingest dedup (the daily-crawl admission check): a NEW
    // batch (hash bucket >= 90, i.e. ~10% of docs — the same derived
    // membership as t18, so both engines agree with no shipped state) is
    // MinHash-band-probed against the EXISTING corpus only — never
    // self-joined, and the corpus is never re-paired with itself. The new
    // batch is the small side by construction (daily ingest << corpus), so
    // its bands broadcast and candidate volume is bounded by batch size x
    // band collisions — independent of corpus size. Exact-Jaccard verify at
    // 0.3 on candidates only; per-new-doc admit/reject with the best
    // matching corpus similarity is the audit record an ingest pipeline
    // persists. At 100 TB the corpus signature pass is d03's single
    // aggregation (amortizable across days by persisting signatures).
    Op(
      "d15_incremental_dedup",
      (s, d) => incrementalDedup(T.documents(s, d), 0.3),
      Some(s"""WITH $sqlCappedCtes,
        |bk AS (SELECT doc_id,
        |       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        |         AS bucket FROM documents),
        |hs AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h FROM sh),
        |pm AS (SELECT i, 100003 + 7919*i AS a, 12345 + 104729*i AS b
        |       FROM (SELECT unnest(generate_series(0, 15)) AS i)),
        |mh AS (SELECT doc_id, i, min((a*h + b) % 2147483647) AS mh
        |       FROM hs CROSS JOIN pm GROUP BY doc_id, i),
        |bands AS (SELECT m.doc_id, k.bucket, i // 4 AS band,
        |          string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
        |          FROM mh m JOIN bk k ON k.doc_id = m.doc_id
        |          GROUP BY m.doc_id, k.bucket, i // 4),
        |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corp_id
        |         FROM bands n JOIN bands c
        |           ON n.band = c.band AND n.sig = c.sig
        |         WHERE n.bucket >= 90 AND c.bucket < 90),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |iv AS (SELECT c.new_id, c.corp_id, count(*) AS inter
        |       FROM cand c JOIN sh a ON a.doc_id = c.new_id
        |       JOIN sh b ON b.doc_id = c.corp_id AND b.sh = a.sh
        |       GROUP BY 1, 2),
        |best AS (SELECT iv.new_id, MAX(CAST(inter AS DOUBLE)
        |           / (sa.n + sb.n - inter)) AS best_j
        |         FROM iv JOIN sz sa ON sa.doc_id = iv.new_id
        |         JOIN sz sb ON sb.doc_id = iv.corp_id
        |         WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.3
        |         GROUP BY 1)
        |SELECT k.doc_id, best_j, best_j IS NULL AS admit
        |FROM bk k LEFT JOIN best ON best.new_id = k.doc_id
        |WHERE k.bucket >= 90 ORDER BY k.doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // SemDeDup-style semantic dedup (cluster-then-dedup-within, the
    // published recipe for embedding dedup at corpus scale): K-means
    // coarse clusters bound the pair search to within-cluster candidates —
    // O(sum of cluster sizes squared) instead of N^2, and each cluster
    // dedups independently (shards perfectly at 100 TB). Centroids are
    // engine state, so the gate follows the ml12 pattern: exact total from
    // the oracle plus engine-verified invariant booleans — the kept+dropped
    // partition identity, every drop justified by a within-cluster cosine
    // >= tau (recomputed against the pair it was dropped for), and the drop
    // set being strictly smaller than the corpus. A randomized
    // OperatorSuite test further pins every dropped vector to a GLOBAL
    // near-dup partner by brute force.
    Op(
      "d16_semantic_dedup",
      (s, d) => {
        val tau = 0.4
        val dropped = Dedup.semanticDedupDropped(s, d, 16, tau)
        val total = T.embeddings(s, d).count()
        dropped.agg(
          count(lit(1)).as("n_dropped_rows"),
          (sum(when(col("dup_cos") >= tau, 0L).otherwise(1L)) === 0L)
            .as("drops_verified"),
          (countDistinct(col("vec_id")) === count(lit(1))).as("drops_unique"))
          .select(
            lit(total).as("n_total"),
            (col("n_dropped_rows") < lit(total)).as("drops_bounded"),
            col("drops_verified"), col("drops_unique"))
      },
      Some("""SELECT COUNT(*) AS n_total, true AS drops_bounded,
        |  true AS drops_verified, true AS drops_unique
        |FROM embeddings""".stripMargin)),
    // ------------------------------------------------------------------
    // Paragraph-level exact dedup (the sub-document granularity modern
    // corpus pipelines run BEFORE doc-level near-dup: boilerplate
    // paragraphs repeat across millions of pages that are NOT document
    // duplicates). Fixture text has no paragraph breaks, so a "paragraph"
    // is a non-overlapping 20-token window (t20's chunk convention);
    // occurrences dedup globally with first-seen-wins = the
    // lexicographically smallest (doc_id, start).
    //
    // Scale shape: the winner per chunk-hash comes from a plain min(struct)
    // AGGREGATION, never a window sort — partial aggregation collapses a
    // boilerplate chunk repeated 10^9 times to one row per map task, so
    // there is no hot-key single-task sort (the d09 lesson). The join back
    // to mark survivors is hash-equi on the 16-byte chunk hash; a skewed
    // hash there is N x 1 rows, which AQE skew-join splits. Everything
    // downstream is a per-doc re-aggregation on doc_id.
    Op(
      "d17_paragraph_dedup",
      (s, d) => {
        val ch = T.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .withColumn("n", size(col("t")).cast(LongType))
          .withColumn("start", explode(expr("sequence(1L, n, 20L)")))
          .select(col("doc_id"), col("start"),
            least(lit(20L), col("n") - col("start") + 1L).as("chunk_len"),
            md5(expr("concat_ws(' ', slice(t, start, 20))")).as("h"))
        val winners = ch.groupBy("h")
          .agg(min(struct(col("doc_id"), col("start"))).as("w"))
        ch.join(winners, "h")
          .withColumn("kept",
            col("doc_id") === col("w.doc_id") && col("start") === col("w.start"))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_chunks"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
            sum(when(col("kept"), col("chunk_len")).otherwise(0L)).as("kept_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n, tk,
        |    CAST(unnest(generate_series(1, n, 20)) AS BIGINT) AS start
        |  FROM t),
        |h AS (
        |  SELECT doc_id, start,
        |    LEAST(20, n - start + 1) AS chunk_len,
        |    md5(array_to_string(tk[start:start+19], ' ')) AS h
        |  FROM c),
        |k AS (
        |  SELECT doc_id, chunk_len,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, start) = 1 AS kept
        |  FROM h)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN kept THEN chunk_len ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Dedup AUDIT REPORT — the per-source duplication profile a curation
    // team reviews before committing a scrub: exact-content duplication
    // rate, the largest within-source cluster, and cross-source content
    // leakage (the same text appearing under two sources — usually a
    // scraper overlap you want to know about before near-dup ever runs).
    // Two aggregations over the 16-byte content hash + one broadcast-back
    // join of the (tiny) multi-source content set; dup_ratio is one IEEE
    // division of two exact integers, so it hash-matches bit-for-bit.
    Op(
      "d18_dedup_report",
      (s, d) => {
        val hashed = T.documents(s, d)
          .select(col("source"), md5(col("text")).as("h"))
        val perContent = hashed.groupBy("source", "h")
          .agg(count(lit(1)).as("cnt"))
        val multiSource = perContent.groupBy("h")
          .agg(countDistinct("source").as("ns"))
          .filter(col("ns") > 1)
          .select("h")
        perContent
          .join(broadcast(multiSource.withColumn("xs", lit(1L))), Seq("h"), "left")
          .groupBy("source")
          .agg(
            sum(col("cnt")).as("n_docs"),
            count(lit(1)).as("n_unique_content"),
            (sum(col("cnt")) - count(lit(1))).as("n_dup_docs"),
            ((sum(col("cnt")) - count(lit(1))).cast("double") /
              sum(col("cnt")).cast("double")).as("dup_ratio"),
            max(col("cnt")).as("largest_cluster"),
            sum(when(col("xs").isNotNull, 1L).otherwise(0L))
              .as("n_cross_source_contents"))
          .orderBy("source")
      },
      Some("""WITH h AS (SELECT source, md5(text) AS h FROM documents),
        |pc AS (SELECT source, h, COUNT(*) AS cnt FROM h GROUP BY 1, 2),
        |ms AS (SELECT h FROM pc GROUP BY h HAVING COUNT(DISTINCT source) > 1)
        |SELECT source,
        |  CAST(SUM(cnt) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_unique_content,
        |  CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS n_dup_docs,
        |  CAST(CAST(SUM(cnt) - COUNT(*) AS DOUBLE)
        |    / CAST(SUM(cnt) AS DOUBLE) AS DOUBLE) AS dup_ratio,
        |  CAST(MAX(cnt) AS BIGINT) AS largest_cluster,
        |  CAST(SUM(CASE WHEN pc.h IN (SELECT h FROM ms) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_cross_source_contents
        |FROM pc GROUP BY source ORDER BY source""".stripMargin)),
    // ------------------------------------------------------------------
    // EXACT all-pairs similarity join with PPJoin-style prefix filtering
    // (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    // Detection", WWW 2008 lineage) — the exact counterpart to d03's
    // approximate MinHash-LSH. The inverted-index trick d02 uses joins on
    // EVERY shingle; prefix filtering joins only on each doc's
    // (n - ceil(t*n) + 1) globally-RAREST shingles — two sets with Jaccard
    // >= t MUST share a prefix element (pigeonhole on the canonical global
    // frequency order), so candidate volume collapses from df^2 per common
    // shingle to df^2 per rare shingle (measured on the sf0.1 fixture:
    // 256 candidate pairs where single-WORD sets would give 12.5M — the
    // 5-gram domain is what makes the prefix discriminative). All ordering
    // is total and engine-free: shingles rank by (global df ASC, shingle
    // ASC — binary collation both engines), the prefix length is pure
    // int64 arithmetic (ceil(0.5n) = (n+1) DIV 2), and verification counts
    // exact intersections, so the pair list hash-matches. Scale shape:
    // shingle df is one map-side-combined aggregate; the per-doc rank
    // window partitions by doc_id (bounded rows per doc); the candidate
    // join shuffles only prefix shingles (half the set at t=0.5, and the
    // RAREST half, so join fan-out stays tiny); verification joins shingle
    // sets ONLY for surviving candidate pairs via semi-join pruning. No
    // global sort, no all-pairs blowup, no DF cap — the result is the
    // EXACT Jaccard>=t pair list, unlike d02's capped approximation.
    Op(
      "d19_allpairs_prefix",
      (s, d) => {
        val tk = shingles(s, d).withColumnRenamed("sh", "w").persist()
        val sz = tk.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val df = tk.groupBy("w").agg(count(lit(1)).as("df"))
        val ranked = tk.join(df, "w")
          .withColumn("rn", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("df"), col("w"))))
          .join(sz, "doc_id")
          // tau = 0.5: prefix keeps n - ceil(n/2) + 1 rarest tokens
          // (DIV, not `/` — Spark's `/` on BIGINT yields DOUBLE)
          .filter(col("rn") <= expr("n - ((n + 1) DIV 2) + 1"))
          .select("doc_id", "w")
        val cand = ranked.as("a")
          .join(ranked.as("b"),
            col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
          .persist()
        // verify ONLY candidates: semi-join-prune the token table to docs
        // that appear in any candidate pair before the intersection count
        val docsIn = cand.select(col("doc_a").as("doc_id"))
          .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
        val tkC = tk.join(docsIn, Seq("doc_id"), "left_semi")
        val inter = cand
          .join(tkC.as("ta"), col("doc_a") === col("ta.doc_id"))
          .join(tkC.as("tb"),
            col("doc_b") === col("tb.doc_id") && col("ta.w") === col("tb.w"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
        inter
          .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .withColumn("jaccard",
            (col("inter").cast(DoubleType) /
              (col("na") + col("nb") - col("inter"))).cast(DoubleType))
          .filter(col("jaccard") >= 0.5)
          .select("doc_a", "doc_b", "inter", "na", "nb", "jaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH tk AS (
        |  SELECT doc_id, sh AS w FROM ($sqlShingles)),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |df AS (SELECT w, count(*) AS df FROM tk GROUP BY w),
        |pref AS (
        |  SELECT doc_id, w FROM (
        |    SELECT tk.doc_id, tk.w, sz.n,
        |      row_number() OVER (PARTITION BY tk.doc_id
        |        ORDER BY df.df, tk.w) AS rn
        |    FROM tk JOIN df ON df.w = tk.w JOIN sz ON sz.doc_id = tk.doc_id)
        |  WHERE rn <= n - ((n + 1) // 2) + 1),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pref a JOIN pref b ON a.w = b.w AND a.doc_id < b.doc_id),
        |iv AS (
        |  SELECT doc_a, doc_b, count(*) AS inter
        |  FROM cand
        |  JOIN tk ta ON ta.doc_id = cand.doc_a
        |  JOIN tk tb ON tb.doc_id = cand.doc_b AND tb.w = ta.w
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter, sa.n AS na, sb.n AS nb,
        |  CAST(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS DOUBLE) AS jaccard
        |FROM iv JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin)),
    // ------------------------------------------------------------------
    // EDIT-DISTANCE candidate verification — the record-linkage verify
    // stage set-based Jaccard cannot replace: two docs that swap a word's
    // characters or reorder within a shingle window keep their token-set
    // Jaccard but drift in edit distance (and vice versa), so production
    // dedup runs BOTH verifiers over one candidate set. Candidates are the
    // SAME MinHash band collisions as d03 (shared [[bandCandidates]] /
    // [[sqlCandCtes]]); each pair is then scored by Levenshtein distance
    // over a 240-char prefix. The prefix cap is the scale contract:
    // Levenshtein is O(len_a * len_b) PER PAIR, so uncapped text makes
    // verification cost quadratic in document length — capping bounds every
    // pair at 240^2 cell updates regardless of corpus, the standard
    // prefix-verify compromise (full-text verify only the survivors). Both
    // engines implement classic unit-cost Levenshtein, so the integer
    // distances hash-match exactly. Scale shape: candidate count is
    // LSH-bounded (band buckets are DF-cap-bounded upstream), the prefix
    // join is two broadcast-sized probes into documents, and the scoring is
    // a codegen'd binary expression — no shuffle beyond the candidate join.
    Op(
      "d20_editdist_verify",
      (s, d) => {
        // cache: the shingle+DF-cap subtree feeds both sides of the band
        // self-join (same idiom as d03)
        val sh = cappedShingles(s, d).cache()
        val pref = T.documents(s, d)
          .select(col("doc_id"), substring(col("text"), 1, 240).as("p"))
        bandCandidates(minhashBands(sh))
          .join(pref.select(col("doc_id").as("doc_a"), col("p").as("pa")), "doc_a")
          .join(pref.select(col("doc_id").as("doc_b"), col("p").as("pb")), "doc_b")
          .withColumn("lev", levenshtein(col("pa"), col("pb")).cast(LongType))
          .withColumn("prefix_sim",
            (lit(1.0) - col("lev").cast(DoubleType) /
              greatest(length(col("pa")), length(col("pb"))).cast(DoubleType))
              .cast(DoubleType))
          .filter(col("lev") <= 120)
          .select("doc_a", "doc_b", "lev", "prefix_sim")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $sqlCappedCtes,
        |$sqlCandCtes,
        |pref AS (SELECT doc_id, substr(text, 1, 240) AS p FROM documents),
        |sc AS (
        |  SELECT c.doc_a, c.doc_b,
        |    CAST(levenshtein(pa.p, pb.p) AS BIGINT) AS lev,
        |    GREATEST(len(pa.p), len(pb.p)) AS mx
        |  FROM cand c
        |  JOIN pref pa ON pa.doc_id = c.doc_a
        |  JOIN pref pb ON pb.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, lev,
        |  CAST(1.0 - CAST(lev AS DOUBLE) / CAST(mx AS DOUBLE) AS DOUBLE)
        |    AS prefix_sim
        |FROM sc WHERE lev <= 120
        |ORDER BY doc_a, doc_b""".stripMargin)),
    // ------------------------------------------------------------------
    // CONTENT-DEFINED chunking dedup — d17's fixed-stride sibling with the
    // property storage dedup actually needs: chunk boundaries are cut where
    // a rolling 4-token window hash ≡ 0 mod 16 (FastCDC/Rabin style), so
    // INSERTING a sentence shifts only the chunks it touches — every
    // boundary downstream re-synchronizes on content, where d17's
    // fixed-20-token grid shifts EVERY subsequent chunk and loses all
    // dedup. Entirely array-domain per document (boundary scan, start/end
    // zip, chunk hash) — no explode-then-window shuffle; the only shuffles
    // are the d17 min-struct winner aggregation on the 16-byte chunk hash
    // (hot-key safe: a boilerplate chunk repeated 10^9 times folds
    // map-side) and the per-doc rollup. Avg chunk = 16 tokens at the mod-16
    // cut rate; everything is exact integers + md5, so the per-doc
    // dedup profile hash-matches the oracle's replay of the same algebra.
    Op(
      "d21_content_chunks",
      (s, d) => {
        val ch = T.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .withColumn("n", size(col("t")).cast(LongType))
          .withColumn("vb", expr(
            """IF(n >= 4,
              |  filter(sequence(4L, n), i ->
              |    (CAST(conv(substring(md5(
              |       concat_ws(' ', slice(t, CAST(i - 3 AS INT), 4))), 1, 8),
              |       16, 10) AS BIGINT) % 16) = 0 AND i < n),
              |  CAST(array() AS ARRAY<BIGINT>))""".stripMargin))
          .withColumn("se", expr(
            "arrays_zip(concat(array(1L), transform(vb, x -> x + 1)), " +
              "concat(vb, array(n)))"))
          .withColumn("x", explode(col("se")))
          .select(col("doc_id"), col("t"),
            col("x").getField("0").as("start"), col("x").getField("1").as("e"))
          .withColumn("chunk_len", col("e") - col("start") + 1L)
          .withColumn("h", md5(expr(
            "concat_ws(' ', slice(t, CAST(start AS INT), CAST(e - start + 1 AS INT)))")))
          .drop("t")
          // cache: the boundary scan (the expensive rolling-window-hash
          // pass) feeds BOTH the winner aggregation and the join back —
          // uncached it executes twice
          .cache()
        val winners = ch.groupBy("h")
          .agg(min(struct(col("doc_id"), col("start"))).as("w"))
        ch.join(winners, "h")
          .withColumn("kept",
            col("doc_id") === col("w.doc_id") && col("start") === col("w.start"))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_chunks"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
            sum(when(col("kept"), col("chunk_len")).otherwise(0L)).as("kept_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n, tk,
        |    list_filter(generate_series(4, n),
        |      i -> (('0x' || substr(md5(array_to_string(tk[i-3:i], ' ')), 1, 8))::BIGINT % 16) = 0
        |           AND i < n) AS vb
        |  FROM t WHERE n >= 4
        |  UNION ALL
        |  SELECT doc_id, n, tk, [] FROM t WHERE n < 4),
        |st AS (
        |  SELECT doc_id, tk,
        |    list_prepend(CAST(1 AS BIGINT), list_transform(vb, x -> x + 1)) AS starts,
        |    list_append(vb, n) AS ends
        |  FROM b),
        |c AS (
        |  SELECT doc_id, unnest(starts) AS s, unnest(ends) AS e, tk FROM st),
        |h AS (
        |  SELECT doc_id, s AS start, e - s + 1 AS chunk_len,
        |    md5(array_to_string(tk[s:e], ' ')) AS h
        |  FROM c),
        |k AS (
        |  SELECT doc_id, chunk_len,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, start) = 1 AS kept
        |  FROM h)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN kept THEN chunk_len ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // THRESHOLD TUNING CURVE — the knob-setting analysis a curation team
    // runs BEFORE committing a near-dup scrub: how many pairs (and how
    // many would-be-dropped documents) does each Jaccard threshold
    // implicate? One pass over the SAME banded candidate set d03/d20
    // verify (shared generators), exact-Jaccard scored ONCE, then rolled
    // up per threshold step — the curve costs one extra tiny aggregate
    // over the already-verified pairs, not a re-run per knob setting
    // (at 100 TB that difference is the whole analysis budget). Doc
    // casualties count the distinct larger-id members of over-threshold
    // pairs (the d03-family drop rule). All integers — hash-exact.
    Op(
      "d22_threshold_curve",
      (s, d) => {
        val s2 = s
        import s2.implicits._
        val scored = scoredCandidatePairs(s, d)
          .select("doc_a", "doc_b", "jaccard")
        val thresholds = Seq(0.2, 0.4, 0.6, 0.8).toDF("thr")
        // one LEFT non-equi join from the 4-row threshold table (the
        // oracle's own shape): empty thresholds keep their row with zero
        // counts because count(col)/countDistinct skip the nulls
        thresholds
          .join(scored, col("jaccard") >= col("thr"), "left")
          .groupBy("thr")
          .agg(count(col("doc_a")).as("n_pairs"),
            countDistinct(col("doc_b")).as("n_docs_dropped"))
          .orderBy("thr")
      },
      Some(s"""WITH $sqlCappedCtes,
        |$sqlCandCtes,
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |iv AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
        |       FROM cand c JOIN sh a ON a.doc_id = c.doc_a
        |       JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
        |       GROUP BY 1, 2),
        |sc AS (SELECT iv.doc_a, iv.doc_b,
        |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j
        |       FROM iv JOIN sz sa ON sa.doc_id = iv.doc_a
        |       JOIN sz sb ON sb.doc_id = iv.doc_b),
        |th AS (SELECT unnest([0.2, 0.4, 0.6, 0.8]) AS thr)
        |SELECT th.thr, COUNT(sc.doc_a) AS n_pairs,
        |  COUNT(DISTINCT sc.doc_b) AS n_docs_dropped
        |FROM th LEFT JOIN sc ON sc.j >= th.thr
        |GROUP BY th.thr ORDER BY th.thr""".stripMargin)),
    // ------------------------------------------------------------------
    // EXACT MAXIMAL DUPLICATE-SPAN COVERAGE (Lee et al., "Deduplicating
    // Training Data Makes Language Models Better" — ExactSubstr), the r8
    // upgrade of r7's stride-10 approximation to suffix-array-grade
    // semantics: every 40-char window (STRIDE 1) is content-hashed; a
    // window is duplicated when its hash occurs in ≥2 DISTINCT documents;
    // per doc, overlapping/adjacent duplicated windows COALESCE into
    // maximal spans (gaps-and-islands, the q57 interval machinery) — so a
    // character is counted iff it sits inside some cross-doc duplicated
    // substring of length ≥ 40, exactly ExactSubstr's coverage, not a
    // stride-quantized sample of it. A maximal duplicated substring of
    // length m ≥ 40 is precisely a run of m-39 consecutive duplicated
    // windows, so island boundaries (gap > 40) recover the true maximal
    // spans; R8OpsSuite proves span maximality on planted overlaps.
    //
    // Scale shape: the stride-1 explode is the 40x gram inflation
    // ExactSubstr inherently pays (its suffix array is the same linear
    // blowup); the ≥2-docs aggregate and the semi-join back ride the
    // uniformly-distributed hash — no skew, no all-pairs; the island
    // windows partition BY DOC (bounded by document length, never a
    // corpus-wide sort). All outputs are exact integers + one division.
    Op(
      "d23_duplicate_spans",
      (s, d) => maximalDupSpans(T.documents(s, d)),
      Some("""WITH g AS (
        |  SELECT doc_id, n_chars, pos, md5(substr(text, pos, 40)) AS h
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(1,
        |      CAST(n_chars AS INT) - 39)) AS pos)
        |  WHERE n_chars >= 40),
        |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        |dp AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)),
        |brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - LAG(pos) OVER
        |      (PARTITION BY doc_id ORDER BY pos) > 40
        |      THEN 1 ELSE 0 END AS b
        |  FROM dp),
        |isl AS (
        |  SELECT doc_id, pos,
        |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM brk),
        |sp AS (
        |  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) AS e
        |  FROM isl GROUP BY doc_id, island),
        |per AS (
        |  SELECT doc_id, COUNT(*) AS n_spans,
        |    SUM(e - s + 40) AS covered, MAX(e - s + 40) AS max_span
        |  FROM sp GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(per.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(COALESCE(per.covered, 0) AS BIGINT) AS covered_chars,
        |  CAST(COALESCE(per.max_span, 0) AS BIGINT) AS max_span,
        |  CAST(COALESCE(per.covered, 0) AS DOUBLE) / CAST(d.n_chars AS DOUBLE)
        |    AS covered_frac
        |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        |WHERE d.n_chars >= 40 ORDER BY d.doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // PROTOTYPICALITY PRUNING (the centroid-distance half of SemDeDup /
    // D4, Abbas et al.: cluster the embedding space, then prune per
    // cluster by distance to the centroid — here the farthest decile, the
    // outlier tail that D4 drops before its near-dup sweep). Reuses
    // ml18's deterministic batch-Lloyd fit (MLOps.lloydFit), so the whole
    // chain — quantized features, 2-sweep centroids, assignment, in-cluster
    // distance ranks — is replayed value-exactly by the DuckDB oracle with
    // raw unrounded dist2 doubles. The decile cut is pure integer
    // arithmetic (rk*10 <= n), no float threshold to drift.
    // Scale shape: one scan for assignment (centroids are k*d literals,
    // no join), one window rank partitioned by cluster id — k partitions,
    // each a partial sort; at 100 TB the rank becomes a per-cluster
    // quantile-sketch threshold (q54's machinery) instead of a full sort.
    Op("d24_prototype_prune", (s, d) => {
      val (pts, cent, _) = MLOps.lloydFit(s, d)
      val (cl, dist2) = graft.ml.LloydRefine.assignExprs(
        (0 until 4).map(j => s"x$j"), cent)
      val w = Window.partitionBy("cluster")
        .orderBy(col("dist2").desc, col("vec_id"))
      pts.select(col("vec_id"), cl.cast(LongType).as("cluster"),
          dist2.as("dist2"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .withColumn("n_c", count(lit(1)).over(Window.partitionBy("cluster")))
        .filter(col("rk") * 10 <= col("n_c"))
        .select("vec_id", "cluster", "dist2", "rk")
        .orderBy("vec_id")
    }, Some(MLOps.d24OracleSql)),
    // ------------------------------------------------------------------
    // LSH BANDING AUTO-TUNER: pick (bands b, rows r) with b*r = 128 for a
    // target Jaccard threshold t = 0.5 by scoring each candidate's
    // S-curve P(s) = 1 - (1 - s^r)^b on a fixed similarity grid
    // (s = 0.05..0.95): FP area = sum of P below t, FN area = sum of
    // (1 - P) at/above t. This is the engine choosing d03/d15's banding
    // knobs instead of the user hand-picking them. Every candidate has
    // power-of-two b and r, so s^r and (1-s^r)^b are pure SQUARING CHAINS
    // — IEEE multiplies both engines execute identically (a pow() call
    // would not be bit-stable); grid sums are pico-unit integer sums
    // (ml18 idiom), and the final areas are single exact divisions.
    // Scale shape: a literal 8x19 plan-constant table — the tuning cost
    // is O(1) regardless of corpus size; the selected (b, r) parametrizes
    // the real banded dedup pass.
    Op("d25_lsh_tuning", (s, d) => {
      import s.implicits._
      def sq(c: Column, k: Int): Column =
        (1 to k).foldLeft(c)((acc, _) => acc * acc)
      val branches = LSH_CANDS.map { case (b, r, jB, kR) =>
        val grid = (1 to 19).map(_.toLong).toDF("i")
          .withColumn("s", lit(0.05) * col("i").cast(DoubleType))
        val pCol = lit(1.0) - sq(lit(1.0) - sq(col("s"), kR), jB)
        grid.select(lit(b.toLong).as("b"), lit(r.toLong).as("r"),
          col("i"), pCol.as("p"))
      }
      val scored = branches.reduce(_.union(_))
        .withColumn("errq",
          when(col("i") <= 9,
            floor(col("p") * lit(1.0e12) + lit(0.5)).cast(LongType))
          .otherwise(
            floor((lit(1.0) - col("p")) * lit(1.0e12) + lit(0.5))
              .cast(LongType)))
        .withColumn("is_fp", col("i") <= 9)
        .groupBy("b", "r")
        .agg(
          sum(when(col("is_fp"), col("errq")).otherwise(0L)).as("fp_units"),
          sum(when(!col("is_fp"), col("errq")).otherwise(0L)).as("fn_units"))
      scored
        .select(col("b"), col("r"),
          (col("fp_units").cast(DoubleType) / lit(1.0e12)).as("fp_area"),
          (col("fn_units").cast(DoubleType) / lit(1.0e12)).as("fn_area"),
          ((col("fp_units") + col("fn_units")).cast(DoubleType) / lit(1.0e12))
            .as("total_err"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("fp_units") + col("fn_units"), col("b")))
            .cast(LongType).as("rnk"))
        .orderBy("rnk")
    }, Some(d25OracleSql)),
    // ------------------------------------------------------------------
    // CROSS-SOURCE DUPLICATION ATTRIBUTION MATRIX — p04's dataset card
    // says how much each (source, lang) cell duplicates; this says WHO
    // SHARES CONTENT WITH WHOM: for every shared content fingerprint,
    // the per-source occurrence counts c_s expand to pair counts
    // (c_s1*c_s2 across sources, c_s*(c_s-1)/2 within), summed into a
    // source x source matrix — the tool that catches one crawl mirroring
    // another. The fingerprint is the 16-char OPENING PREFIX (the d13
    // boilerplate relative — this fixture has no full-text exact dups, so
    // a whole-text hash would gate on an empty matrix; shared templated
    // openings are live and the pair algebra is identical for any key
    // choice). All-integer arithmetic. Scale shape: one partial-agg
    // groupBy on (fingerprint, source), a self-equi-join ON THE
    // FINGERPRINT whose per-key fan-out is bounded by the source count
    // (≤ |sources| rows per key, never a corpus blow-up), and an
    // O(sources²) output aggregate.
    Op("d26_dup_attribution", (s, d) => {
      val occ = T.documents(s, d)
        .select(md5(substring(col("text"), 1, 16)).as("h"), col("source"))
        .groupBy("h", "source").agg(count(lit(1)).as("c"))
      occ.as("x").join(occ.as("y"),
          col("x.h") === col("y.h") && col("x.source") <= col("y.source"))
        .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
          when(col("x.source") === col("y.source"),
            expr("x.c * (x.c - 1) div 2"))
            .otherwise(col("x.c") * col("y.c")).as("np"))
        .groupBy("source_a", "source_b")
        .agg(sum("np").as("n_dup_pairs"))
        .filter(col("n_dup_pairs") > 0L)
        .orderBy("source_a", "source_b")
    }, Some("""WITH occ AS (
      |  SELECT md5(substr(text, 1, 16)) AS h, source, COUNT(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |pairs AS (
      |  SELECT x.source AS source_a, y.source AS source_b,
      |    CASE WHEN x.source = y.source THEN x.c * (x.c - 1) // 2
      |         ELSE x.c * y.c END AS np
      |  FROM occ x JOIN occ y
      |    ON x.h = y.h AND x.source <= y.source)
      |SELECT source_a, source_b, CAST(SUM(np) AS BIGINT) AS n_dup_pairs
      |FROM pairs GROUP BY 1, 2 HAVING SUM(np) > 0
      |ORDER BY source_a, source_b""".stripMargin)),
    // ------------------------------------------------------------------
    // ENSEMBLE NEAR-DUP CONSENSUS — what production curation actually
    // ships: no single signal is trusted alone; a pair is a near-dup when
    // at least 2 of 3 INDEPENDENT signal families agree. Signals: (1)
    // MinHash-banded candidates with exact Jaccard >= 0.3 (the d03/d22
    // scoring pass, structurally shared), (2) word-simhash banded pairs
    // at hamming <= 3 (d07's generator, lossless banding), (3) stripe-
    // energy perceptual hash at hamming <= 7 (mm07's generator, lossless
    // 8x8 banding). Each signal keeps its own blocking, so the merge is
    // three SMALL pair sets full-outer-joined on the pair key — never a
    // corpus-wide operation; at 100 TB the consensus adds one
    // O(candidate-pairs) join stage on top of signals the pipeline
    // already computes. The vote booleans and count are exact integers.
    Op("d27_ensemble_consensus", (s, d) => {
      consensusPairs(s, d)
        .select("doc_a", "doc_b", "votes", "v_jaccard", "v_simhash", "v_phash")
        .orderBy("doc_a", "doc_b")
    }, Some(s"""WITH $sqlConsensusCtes
      |SELECT doc_a, doc_b,
      |  CAST(vj + vs + vp AS BIGINT) AS votes,
      |  CAST(vj AS BIGINT) AS v_jaccard,
      |  CAST(vs AS BIGINT) AS v_simhash,
      |  CAST(vp AS BIGINT) AS v_phash
      |FROM merged WHERE vj + vs + vp >= 2
      |ORDER BY doc_a, doc_b""".stripMargin)),
    // ------------------------------------------------------------------
    // DUPLICATE-SPAN SCRUB — the production step AFTER d23's detection
    // (Lee et al.'s ExactSubstr pipeline actually REMOVES the duplicated
    // substrings before training): every maximal cross-doc duplicated
    // span (d23's islands, shared via dupSpanRanges) is cut out of its
    // document and the surviving pieces stitched back together. The gate
    // hashes the SURGERY itself, not just the arithmetic d23 already
    // covers: each doc emits its kept-character count AND an md5 prefix
    // of the reconstructed kept text — one displaced cut boundary and
    // the digest flips. Stitching is window-ordered gap extraction
    // (prev covered end -> next span start) plus the tail, concatenated
    // in span order; islands are provably disjoint with >=1 kept char
    // between them (break condition gap > 40 vs cover reach 39), so the
    // pieces never overlap. Docs under 40 chars or with no spans pass
    // through whole. Scale shape: d23's candidate machinery verbatim,
    // then O(spans) window rows rejoin text ONCE per doc for the
    // substring projection — the reconstruction never shuffles text,
    // only (doc_id, s, e) triples and the final per-doc concat.
    Op("d28_span_scrub", (s, d) => {
      val docs = T.documents(s, d)
      docs
        .join(stitchKept(dupSpanRanges(docs), docs), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("kept_text"), col("text")).as("kept"),
          col("n_chars"))
        .select(col("doc_id"), col("n_spans"),
          length(col("kept")).cast(LongType).as("kept_chars"),
          (col("n_chars") - length(col("kept"))).cast(LongType)
            .as("removed_chars"),
          expr("cast(conv(substring(md5(kept), 1, 8), 16, 10) as bigint)")
            .as("kept_md5p"))
        .orderBy("doc_id")
    }, Some("""WITH g AS (
      |  SELECT doc_id, n_chars, pos, md5(substr(text, pos, 40)) AS h
      |  FROM documents,
      |    LATERAL (SELECT unnest(generate_series(1,
      |      CAST(n_chars AS INT) - 39)) AS pos)
      |  WHERE n_chars >= 40),
      |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
      |dp AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)),
      |brk AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - LAG(pos) OVER
      |      (PARTITION BY doc_id ORDER BY pos) > 40
      |      THEN 1 ELSE 0 END AS b
      |  FROM dp),
      |isl AS (
      |  SELECT doc_id, pos,
      |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM brk),
      |sp AS (
      |  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) AS e
      |  FROM isl GROUP BY doc_id, island),
      |ordered AS (
      |  SELECT doc_id, s,
      |    COALESCE(LAG(e + 39) OVER (PARTITION BY doc_id ORDER BY s), 0)
      |      AS prev_end
      |  FROM sp),
      |tails AS (SELECT doc_id, MAX(e + 39) AS last_end FROM sp GROUP BY doc_id),
      |keptt AS (
      |  SELECT o.doc_id, COUNT(*) AS n_spans,
      |    STRING_AGG(substr(d.text, CAST(o.prev_end + 1 AS INT),
      |      CAST(o.s - o.prev_end - 1 AS INT)), '' ORDER BY o.s)
      |    || substr(d.text, CAST(t.last_end + 1 AS INT)) AS kept
      |  FROM ordered o JOIN documents d ON d.doc_id = o.doc_id
      |  JOIN tails t ON t.doc_id = o.doc_id
      |  GROUP BY o.doc_id, d.text, t.last_end)
      |SELECT d.doc_id,
      |  CAST(COALESCE(k.n_spans, 0) AS BIGINT) AS n_spans,
      |  CAST(length(COALESCE(k.kept, d.text)) AS BIGINT) AS kept_chars,
      |  CAST(d.n_chars - length(COALESCE(k.kept, d.text)) AS BIGINT)
      |    AS removed_chars,
      |  ('0x' || substr(md5(COALESCE(k.kept, d.text)), 1, 8))::BIGINT
      |    AS kept_md5p
      |FROM documents d LEFT JOIN keptt k ON k.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin)),
  )

  /** d27's engine, shared with the p06 flagship: the 2-of-3 ensemble
    * consensus near-dup pairs (minhash-banded exact Jaccard >= 0.3,
    * simhash hamming <= 3, phash hamming <= 7 — each with its own lossless
    * blocking), full-outer-joined on the pair key with vote columns.
    * Returns (doc_a, doc_b, votes, v_jaccard, v_simhash, v_phash) with
    * votes >= 2; unordered.
    */
  private[operators] def consensusPairs(s: SparkSession, d: String): DataFrame = {
    val jac = scoredCandidatePairs(s, d).filter(col("jaccard") >= 0.3)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("vj"))
    val sim = simhashPairs3(s, d)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("vs"))
    // cache the 8-byte-per-doc phash table BEFORE banding, exactly as
    // mm07 does: un-materialized, the banded self-join inlines the
    // O(n_chars) stripe-energy expression into every phash reference on
    // both sides (projection collapse), a ~1000x recompute blowup the
    // r8 bench caught at 594 s — cached, the join reads 16 B/doc.
    // Columnar cache, not localCheckpoint: the r9 release experiment
    // measured the row-based blocks 2x slower (see simhashPairs3 note);
    // MEMORY_AND_DISK LRU + the harness's between-query clearCache bound
    // the accumulation the r8 advisor flagged
    val phBase = Multimodal.phashOf(T.documents(s, d)).cache()
    val ph = Multimodal.phashNeardupPairs(Multimodal.phashBands(phBase))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("vp"))
    jac.join(sim, Seq("doc_a", "doc_b"), "full_outer")
      .join(ph, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("vj"), lit(0L)).as("v_jaccard"),
        coalesce(col("vs"), lit(0L)).as("v_simhash"),
        coalesce(col("vp"), lit(0L)).as("v_phash"))
      .withColumn("votes",
        col("v_jaccard") + col("v_simhash") + col("v_phash"))
      .filter(col("votes") >= 2)
  }

  /** Oracle mirror of [[consensusPairs]] up to the `merged` CTE (columns
    * doc_a, doc_b, vj, vs, vp; consumers filter vj+vs+vp >= 2). Shared by
    * d27 and p06.
    */
  private[operators] def sqlConsensusCtes: String =
    s"""$sqlCappedCtes,
      |$sqlCandCtes,
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |iv AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
      |       FROM cand c JOIN sh a ON a.doc_id = c.doc_a
      |       JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
      |       GROUP BY 1, 2),
      |jp AS (SELECT iv.doc_a, iv.doc_b
      |       FROM iv JOIN sz sa ON sa.doc_id = iv.doc_a
      |       JOIN sz sb ON sb.doc_id = iv.doc_b
      |       WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.3),
      |$sqlSimhash32Cte,
      |$sqlSimhashPairs3Cte,
      |${Multimodal.sqlPhashCtes},
      |pp AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.phash, b.phash)) <= 7),
      |merged AS (
      |  SELECT COALESCE(j.doc_a, s.doc_a, p.doc_a) AS doc_a,
      |    COALESCE(j.doc_b, s.doc_b, p.doc_b) AS doc_b,
      |    CASE WHEN j.doc_a IS NOT NULL THEN 1 ELSE 0 END AS vj,
      |    CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS vs,
      |    CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS vp
      |  FROM jp j
      |  FULL JOIN sp s ON j.doc_a = s.doc_a AND j.doc_b = s.doc_b
      |  FULL JOIN pp p ON COALESCE(j.doc_a, s.doc_a) = p.doc_a
      |              AND COALESCE(j.doc_b, s.doc_b) = p.doc_b)"""
      .stripMargin

  /** (b, r, log2 b, log2 r) banding candidates with b*r = 128. */
  private lazy val LSH_CANDS: Seq[(Int, Int, Int, Int)] =
    (0 to 7).map(j => (1 << (7 - j), 1 << j, 7 - j, j))

  /** DuckDB side of d25: the same squaring chains, generated as nested
    * CTE columns so each power is one multiply of the previous — the
    * identical IEEE op sequence the Column fold builds. */
  private[operators] lazy val d25OracleSql: String = {
    def chain(expr0: String, k: Int): String =
      (1 to k).foldLeft(expr0)((acc, _) => s"($acc * $acc)")
    val branches = LSH_CANDS.map { case (b, r, jB, kR) =>
      val p = s"(1.0 - ${chain(s"(1.0 - ${chain("s", kR)})", jB)})"
      s"""SELECT CAST($b AS BIGINT) AS b, CAST($r AS BIGINT) AS r, i,
         |  $p AS p
         |FROM grid""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH grid AS (
       |  SELECT CAST(i AS BIGINT) AS i, 0.05 * CAST(i AS DOUBLE) AS s
       |  FROM generate_series(1, 19) t(i)),
       |curves AS (
       |$branches),
       |agg AS (
       |  SELECT b, r,
       |    SUM(CASE WHEN i <= 9
       |      THEN CAST(FLOOR(p * 1e12 + 0.5) AS BIGINT) ELSE 0 END)
       |      AS fp_units,
       |    SUM(CASE WHEN i > 9
       |      THEN CAST(FLOOR((1.0 - p) * 1e12 + 0.5) AS BIGINT) ELSE 0 END)
       |      AS fn_units
       |  FROM curves GROUP BY b, r)
       |SELECT b, r,
       |  CAST(fp_units AS DOUBLE) / 1e12 AS fp_area,
       |  CAST(fn_units AS DOUBLE) / 1e12 AS fn_area,
       |  CAST(fp_units + fn_units AS DOUBLE) / 1e12 AS total_err,
       |  ROW_NUMBER() OVER (ORDER BY fp_units + fn_units, b) AS rnk
       |FROM agg ORDER BY rnk""".stripMargin
  }

  /** d07/d27's shared simhash near-dup pair generator: 32-bit word simhash,
    * 4x8-bit banding, hamming verify <= 3 — LOSSLESS at that threshold
    * (pigeonhole: 3 flips across 4 bands leave one band intact), so the
    * banded candidate set provably equals the all-pairs cut the oracle
    * computes. Cached: the banded self-join evaluates both sides, and
    * without the cache each side recomputes the full simhash scan. An r9
    * localCheckpoint experiment (the r8 advisor's release suggestion)
    * measured 2x slower end to end — row-based RDD blocks lose the
    * columnar cache scan — so the columnar cache stays: it is
    * MEMORY_AND_DISK (LRU-evicted under pressure, never OOM), the bench
    * harness clears the SQL cache between queries, and long-lived session
    * owners release it with spark.catalog.clearCache().
    */
  private def simhashPairs3(s: SparkSession, d: String): DataFrame = {
    val sh = T.documents(s, d)
      .select(col("doc_id"), F.simhash32(split(col("text"), " ")).as("simhash"))
      .cache()
    val bands = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L)).as("bits"))): _*))
        .as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bits"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bits") === col("y.bits") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** Oracle mirror of the 32-bit word simhash (CTE `sh32`). */
  private def sqlSimhash32Cte: String =
    """sh32 AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN sgn > 0 THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      |  FROM (
      |    SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
      |    FROM (
      |      SELECT doc_id, unnest(generate_series(0, 31)) AS b, h FROM (
      |        SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h FROM (
      |          SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)))
      |    GROUP BY doc_id, b)
      |  GROUP BY doc_id)""".stripMargin

  /** Oracle mirror of [[simhashPairs3]] (CTE `sp` over `sh32`): all-pairs
    * hamming <= 3 — equal to the banded set by the pigeonhole argument.
    */
  private def sqlSimhashPairs3Cte: String =
    """sp AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |  FROM sh32 a JOIN sh32 b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)""".stripMargin

  /** d23's engine: exact maximal cross-doc duplicate-span coverage over any
    * (doc_id, text, n_chars) frame. Stride-1 40-char window hashes, the
    * ≥2-distinct-docs cut, then per-doc gaps-and-islands coalescing
    * (break when the position gap exceeds the window length) — islands ARE
    * the maximal duplicated substrings of length ≥ 40. Factored out so
    * R8OpsSuite can prove maximality on planted-overlap fixtures.
    *
    * Two-phase exactness scheme (r8 verdict task 3): CANDIDATE generation
    * rides 8-byte Rabin–Karp rolling hashes (the codegen'd
    * `rolling_hashes` expression, one O(n_chars) pass per doc), so the
    * corpus-scale gram shuffle carries longs instead of 32-hex-char md5
    * strings — ~4x less exchange volume. The rolling-hash space is ~2^30,
    * so collisions can ADD false candidate positions (never drop true
    * ones: equal strings always share the hash); an md5 CONFIRM pass over
    * the candidates alone — O(duplicated chars), not O(n_chars) — restores
    * exactness before island coalescing. Output and oracle are unchanged.
    */
  /** d23's span machinery up to the maximal islands: one row per maximal
    * cross-doc duplicated span, (doc_id, s, e) with covered chars
    * [s, e+39]. Shared by d23's coverage aggregate and d28's scrub.
    */
  private[graft] def dupSpanRanges(docs: DataFrame): DataFrame = {
    val eligible = docs.filter(col("n_chars") >= 40)
    val rh = eligible
      .select(col("doc_id"),
        posexplode(graft.functions.F.rollingHashes(col("text"), 40)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("rh"))
    val dupRh = rh.groupBy("rh")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("rh")
    val cand = rh.join(dupRh, Seq("rh"), "left_semi").select("doc_id", "pos")
    // confirm: rejoin the text (pipelined into the md5 projection — text
    // never rides a shuffle past this stage), hash the exact window, and
    // re-apply the >=2-distinct-docs cut on the full 128-bit digest
    val grams = cand
      .join(eligible.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        md5(expr("substring(text, pos, 40)")).as("g"))
    val dup = grams.groupBy("g")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("g")
    positionsToSpans(
      grams.join(dup, Seq("g"), "left_semi").select("doc_id", "pos"))
  }

  /** The scrub stitch (d28/st46): given maximal spans (doc_id, s, e) with
    * covered chars [s, e+39], cut every span out of its document and
    * reassemble the survivors — window-ordered gap substrings plus the
    * tail, concatenated in span order. Returns one row per spanned doc:
    * (doc_id, n_spans, kept_text). Spans from the island machinery are
    * disjoint with >=1 kept char between them (break at gap > 40 vs
    * cover reach 39), so pieces never overlap.
    */
  private[graft] def stitchKept(spans: DataFrame, docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("s")
    spans
      .withColumn("prev_end",
        coalesce(lag(col("e") + 39, 1).over(w), lit(0L)))
      .withColumn("last_end",
        max(col("e") + 39).over(Window.partitionBy("doc_id")))
      .join(docs.select(col("doc_id"), col("text"), col("n_chars")),
        Seq("doc_id"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        concat(
          expr("array_join(transform(array_sort(collect_list(" +
            "struct(s, substring(text, cast(prev_end + 1 as int), " +
            "cast(s - prev_end - 1 as int))))), x -> x.col2), '')"),
          first(expr("substring(text, cast(last_end + 1 as int), " +
            "cast(n_chars - last_end as int))")))
          .as("kept_text"))
  }

  /** Gaps-and-islands coalescing of duplicated window positions into
    * maximal spans (the d23 interval machinery, factored for st46's
    * admission path): (doc_id, pos) -> (doc_id, s, e).
    */
  private[graft] def positionsToSpans(dp: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dp
      .withColumn("b",
        when(col("pos") - lag(col("pos"), 1).over(w) > 40, 1L).otherwise(0L))
      .withColumn("island", sum(col("b")).over(w))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("s"), max("pos").as("e"))
      .select("doc_id", "s", "e")
  }

  private[graft] def maximalDupSpans(docs: DataFrame): DataFrame = {
    val eligible = docs.filter(col("n_chars") >= 40)
    val spans = dupSpanRanges(docs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 40).as("covered"),
        max(col("e") - col("s") + 40).as("max_span"))
    eligible.select(col("doc_id"), col("n_chars"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered"), lit(0L)).cast(LongType).as("covered_chars"),
        coalesce(col("max_span"), lit(0L)).cast(LongType).as("max_span"),
        (coalesce(col("covered"), lit(0L)).cast(DoubleType) /
          col("n_chars").cast(DoubleType)).as("covered_frac"))
      .orderBy("doc_id")
  }
}
