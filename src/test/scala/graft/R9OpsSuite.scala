package graft

import graft.pipeline.{PipelineSpec, Trainer}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic regression guards for the round-9 additions (t32, t34,
  * ml27–ml29, st40 is suite-gated in StreamingSuite): invariants that must
  * hold at ANY fixture, so a future edit that still hash-matches a stale
  * oracle can't silently change meaning.
  */
class R9OpsSuite extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("t32: deciles partition the corpus; ratios sit inside their decile") {
    val rows = SparkEntry.queries("t32_stopword_profile")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    val corpus = T.documents(spark, sf).count()
    assert(nDocs == corpus, s"decile histogram lost docs: $nDocs != $corpus")
    rows.foreach { r =>
      val d = r.getAs[Long]("stop_decile")
      val ratio = r.getAs[Double]("stop_ratio")
      assert(d >= 0 && d <= 9)
      // the aggregate ratio of a decile bucket stays near the bucket: it is
      // a weighted mean of per-doc ratios each in [d/10, (d+1)/10) (except
      // the capped decile 9, open above)
      assert(ratio >= d / 10.0 - 1e-9, s"decile $d ratio $ratio below range")
      if (d < 9) assert(ratio < (d + 1) / 10.0 + 1e-9,
        s"decile $d ratio $ratio above range")
    }
  }

  test("t34: BM25 reproduces a hand-computed single-term score") {
    // tiny corpus: dl(1)=4 with tf=2 'spark', dl(2)=2 with tf=1, dl(3)=2
    // without the term; N=3, avgdl=8/3. Verified against the literal
    // formula — guards the idf shape and the k1/b constants.
    import spark.implicits._
    val docs = Seq(
      (1L, "spark a spark b"), (2L, "spark c"), (3L, "x y"))
      .toDF("doc_id", "text")
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") === "spark")
    val tf = toks.groupBy("doc_id").agg(count(lit(1)).as("tf"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tf == Map(1L -> 2L, 2L -> 1L))
    val (n, df, avgdl) = (3.0, 2.0, 8.0 / 3.0)
    val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def s(tfv: Double, dl: Double): Double =
      idf * (tfv * 2.2) / (tfv + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
    // doc 1 (tf=2, dl=4) must outrank doc 2 (tf=1, dl=2) for this query
    assert(s(2, 4) > s(1, 2))
    assert(math.abs(s(2, 4) - idf * 4.4 / (2 + 1.2 * (0.25 + 0.75 * 1.5)))
      < 1e-12)
  }

  /** ml26-ml30's input: vec_id < 320 on 2 partitions routed by vec_id. */
  private def twoWorkerRdd() =
    graft.operators.MLOps.routedById(T.embeddings(spark, sf)
      .filter(col("vec_id") < 320)
      .select(col("vec_id").as("id"),
        expr("transform(slice(embedding, 1, 4), x -> CAST(x AS DOUBLE))")
          .as("features"),
        when(col("label") % 2 === 1, 1.0).otherwise(-1.0).as("target")), 2)

  private def fitParams(protocol: String, hp: Map[String, Double],
      rounds: Int): (Array[Double], Long) = {
    val f = Trainer.fit(spark,
      PipelineSpec(90, "PA", Map("C" -> 1.0), Nil, protocol,
        protocolHp = hp, rounds = rounds), twoWorkerRdd())
    (f.model.params, f.model.n)
  }

  test("ml27 guard: SSP(1)'s stale reads produce a DIFFERENT trajectory " +
    "than Synchronous (the window must matter)") {
    val (ssp, _) = fitParams("SSP", Map("staleness" -> 1.0), rounds = 3)
    val (sync, _) = fitParams("Synchronous", Map.empty, rounds = 3)
    assert(!ssp.sameElements(sync),
      "SSP(1) collapsed onto Synchronous — the stale-read window is dead")
  }

  test("ml27 guard: SSP(0) IS Synchronous (staleness zero = freshest reads)") {
    val (ssp0, n0) = fitParams("SSP", Map("staleness" -> 0.0), rounds = 2)
    val (sync, n1) = fitParams("Synchronous", Map.empty, rounds = 2)
    assert(ssp0.sameElements(sync) && n0 == n1,
      "SSP(0) must be bit-identical to Synchronous")
  }

  test("ml29 guard: GM with an unreachable threshold freezes the global " +
    "after round 1 (all replicas skip-merge)") {
    val (g1, n1) = fitParams("GM", Map("threshold" -> 1e9), rounds = 1)
    val (g2, n2) = fitParams("GM", Map("threshold" -> 1e9), rounds = 3)
    assert(g2.sameElements(g1),
      "over-threshold rounds must advance the global by zero")
    assert(n2 == n1, s"all-skip rounds double-counted fitted points: $n2 != $n1")
  }

  test("ml29 guard: GM at threshold 0 ships everyone = Synchronous") {
    val (gm, _) = fitParams("GM", Map("threshold" -> 0.0), rounds = 2)
    val (sync, _) = fitParams("Synchronous", Map.empty, rounds = 2)
    assert(gm.sameElements(sync),
      "zero-threshold GM must degenerate to the Synchronous fold")
  }

  test("ml30 guard: FGM is all-or-nothing — for ANY threshold the round-2 " +
    "global is either frozen g1 or the full Synchronous average, and both " +
    "outcomes occur across the grid (GM's partial fold is impossible)") {
    val (g1, n1) = fitParams("Synchronous", Map.empty, rounds = 1)
    val (sync2, n2) = fitParams("Synchronous", Map.empty, rounds = 2)
    assert(!g1.sameElements(sync2), "fixture degenerate: round 2 is a no-op")
    val outcomes = Seq(0.05, 0.3, 0.6, 0.9, 1.2, 1.5, 1e3).map { t =>
      val (p, n) = fitParams("FGM", Map("threshold" -> t), rounds = 2)
      if (p.sameElements(sync2)) { assert(n == n2); "sync" }
      else if (p.sameElements(g1)) { assert(n == n1); "frozen" }
      else fail(s"FGM($t) produced a PARTIAL advance — neither g1 nor sync2")
    }
    assert(outcomes.contains("sync") && outcomes.contains("frozen"),
      s"grid never exercised both outcomes: $outcomes")
  }

  test("ml30 guard: FGM(0) IS Synchronous (every round a confirmed " +
    "violation)") {
    val (f0, n0) = fitParams("FGM", Map("threshold" -> 0.0), rounds = 2)
    val (sync, n1) = fitParams("Synchronous", Map.empty, rounds = 2)
    assert(f0.sameElements(sync) && n0 == n1,
      "FGM(0) must be bit-identical to Synchronous")
  }

  test("ml30 guard: frozen rounds move ONLY 8-byte counters — never " +
    "parameter vectors") {
    val f = Trainer.fit(spark,
      PipelineSpec(91, "PA", Map("C" -> 1.0), Nil, "FGM",
        protocolHp = Map("threshold" -> 1e9), rounds = 3), twoWorkerRdd())
    val plen = f.model.params.length.toLong
    val st = f.statistics
    // round 1 bootstrap: both replicas ship vectors; rounds 2-3 freeze
    // under the huge threshold (counter sum 0, no poll): 2 workers x
    // 8-byte counter per round, zero vectors, zero model ships
    assert(st.modelsShipped == 2L,
      s"models shipped ${st.modelsShipped}, want round-1 bootstrap only")
    assert(st.bytesShipped == 2L * plen * 8L + 2L * 2L * 8L,
      s"bytes ${st.bytesShipped} != vectors ${2L * plen * 8L} + 32 counter bytes")
    // ledger separation (r9 advisor): `blocks` counts PARAMETER blocks only
    // — the round-1 bootstrap's 2 one-block replicas; the frozen rounds'
    // counter heartbeats land in `scalars` (2 workers x 2 frozen rounds,
    // no poll — the counter sum is 0 under the huge threshold)
    assert(st.blocks == 2L, s"blocks ${st.blocks}: scalar heartbeats " +
      "leaked into the parameter-block ledger")
    assert(f.stats.scalars == 4L,
      s"scalars ${f.stats.scalars}, want 2 workers x 2 frozen rounds")
    val (g1, n1) = fitParams("Synchronous", Map.empty, rounds = 1)
    assert(f.model.params.sameElements(g1) && f.model.n == n1,
      "over-threshold FGM rounds must advance the global by zero")
  }

  test("ml28 guard: EASGD(1.0) round-2 center equals the plain average " +
    "(alpha=1 replaces the center)") {
    val (ea, _) = fitParams("EASGD", Map("alpha" -> 1.0), rounds = 2)
    val (sync, _) = fitParams("Synchronous", Map.empty, rounds = 2)
    assert(ea.sameElements(sync),
      "EASGD(alpha=1) must coincide with the Synchronous average")
    val (ea5, _) = fitParams("EASGD", Map("alpha" -> 0.5), rounds = 2)
    assert(!ea5.sameElements(sync),
      "EASGD(0.5) must differ from Synchronous (elastic term dead)")
  }

  test("s17: RRF arithmetic is exactly sum(round(1/(60+rank), 9)); ranks " +
    "contiguous per query; at least one arm present") {
    val rows = SparkEntry.queries("s17_hybrid_rrf")(spark, sf).collect()
    assert(rows.nonEmpty)
    def contrib(rk: Any): Double = rk match {
      case null => 0.0
      case r: Long =>
        BigDecimal(1.0 / (60.0 + r))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    rows.foreach { r =>
      val rkD = r.getAs[Any]("rk_d"); val rkS = r.getAs[Any]("rk_s")
      assert(rkD != null || rkS != null, "candidate from neither arm")
      val want = contrib(rkD) + contrib(rkS)
      assert(math.abs(r.getAs[Double]("rrf") - want) < 1e-12,
        s"rrf mismatch for $r: want $want")
    }
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      val rks = rs.map(_.getAs[Long]("rk")).sorted
      assert(rks.sameElements(1L to rks.length),
        s"query $q fused ranks not contiguous: ${rks.mkString(",")}")
      // fused scores are non-increasing in rank (ties broken by cand id)
      val byRk = rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("rrf"))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b },
        s"query $q rrf not monotone in rank")
    }
  }

  test("t35: every emitted PMI replays from the row's own counts; " +
    "min-count respected; ranks contiguous and monotone") {
    val rows = SparkEntry.queries("t35_pmi_collocations")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nab, na, nb) = (r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"))
      assert(nab >= 5, s"min-count guard lost: $r")
      assert(nab <= na && nab <= nb, s"marginals below joint: $r")
      val want = BigDecimal(math.log((nab.toDouble * totalBigrams) /
          (na.toDouble * nb.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("pmi") - want) < 1e-12,
        s"pmi mismatch for $r: want $want")
    }
    val rks = rows.map(_.getAs[Long]("rk")).sorted
    assert(rks.sameElements(1L to rks.length), "ranks not contiguous")
    val byRk = rows.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("pmi"))
    assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b },
      "pmi not monotone in rank")
  }

  /** Total directed-bigram count of the fixture corpus, recomputed
    * independently of the operator under test. */
  private lazy val totalBigrams: Double = {
    import org.apache.spark.sql.functions.{size => asize}
    T.documents(spark, sf)
      .select(split(col("text"), " ").as("t"))
      .filter(asize(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> " +
          "struct(element_at(t, i) as w1, element_at(t, i + 1) as w2))"))
        .as("bg"))
      .filter(col("bg.w1") =!= "" && col("bg.w2") =!= "")
      .count().toDouble
  }

  test("st42: the stream-assembled shingle ledger reproduces batch d03 " +
    "exactly (incremental == batch, within-engine)") {
    val inc = SparkEntry.queries("st42_stream_lsh_neardup")(spark, sf)
      .collect().map(_.toString).sorted
    val bat = SparkEntry.queries("d03_minhash_lsh")(spark, sf)
      .collect().map(_.toString).sorted
    assert(inc.sameElements(bat),
      "streamed LSH near-dup diverged from batch d03")
  }

  test("st41: the stream-maintained BM25 index reproduces the batch " +
    "ranking exactly (incremental == batch, within-engine)") {
    val inc = SparkEntry.queries("st41_stream_bm25_index")(spark, sf)
      .collect().map(_.toString).sorted
    val bat = SparkEntry.queries("t34_bm25_retrieval")(spark, sf)
      .collect().map(_.toString).sorted
    assert(inc.sameElements(bat),
      "streamed index ranking diverged from batch t34")
  }

  test("p07: live curation == dedup-then-rank replayed independently in " +
    "plain Scala (losers from d03; BM25 over the clean corpus)") {
    val losers = SparkEntry.queries("d03_minhash_lsh")(spark, sf)
      .select("doc_b").distinct().collect().map(_.getLong(0)).toSet
    assert(losers.nonEmpty, "fixture has no near-dups — p07 degenerates to t34")
    val clean = T.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .filter { case (id, _) => !losers(id) }
    val qterms = Seq(
      ("q1", "spark"), ("q1", "join"),
      ("q2", "window"), ("q2", "sort"), ("q2", "merge"),
      ("q3", "stream"), ("q3", "batch"))
    val n = clean.length.toDouble
    val avgdl = clean.map(_._2.length.toLong).sum / n
    val dfm = qterms.map(_._2).distinct
      .map(t => t -> clean.count(_._2.contains(t)).toDouble).toMap
    def s6(tf: Long, df: Double, dl: Int): BigDecimal =
      BigDecimal(math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val want = qterms.groupBy(_._1).toSeq.flatMap { case (q, ts) =>
      clean.flatMap { case (id, toks) =>
        val sc = ts.map(_._2)
          .map(t => t -> toks.count(_ == t).toLong)
          .filter(_._2 > 0)
          .map { case (t, tf) => s6(tf, dfm(t), toks.length) }
        if (sc.isEmpty) None else Some((q, id, sc.sum))
      }.sortBy { case (_, id, s) => (-s, id) }.take(10)
        .zipWithIndex.map { case ((_, id, s), i) => (q, i + 1L, id, s) }
    }.sortBy { case (q, rk, _, _) => (q, rk) }
    val got = SparkEntry.queries("p07_live_curation")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == want.length,
      s"row count ${got.length} != expected ${want.length}")
    got.zip(want).foreach { case ((gq, grk, gid, gs), (wq, wrk, wid, ws)) =>
      assert(gq == wq && grk == wrk && gid == wid,
        s"ranking mismatch: got ($gq,$grk,$gid), want ($wq,$wrk,$wid)")
      assert(math.abs(gs - ws.toDouble) < 1e-12,
        s"score mismatch at ($gq,$grk): got $gs, want $ws")
    }
    // dedup must have mattered: the clean ranking differs from raw t34
    val raw = SparkEntry.queries("t34_bm25_retrieval")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(!got.sameElements(raw),
      "p07 identical to t34 — the dedup stage changed nothing")
  }

  test("g13: harmonic replays exactly from the level counts; one row per " +
    "seed; levels disjoint by construction") {
    val rows = SparkEntry.queries("g13_harmonic_centrality")(spark, sf)
      .collect()
    assert(rows.length == 4, s"expected 4 seeds, got ${rows.length}")
    assert(rows.map(_.getAs[Long]("s")).distinct.length == 4)
    rows.foreach { r =>
      val (n1, n2, n3) = (r.getAs[Long]("n1"), r.getAs[Long]("n2"),
        r.getAs[Long]("n3"))
      // 1/1, 1/2, 1/3 quantized at 9 dp — the exact decimal replay
      val want = n1 * 1.0 + n2 * 0.5 + n3 * 0.333333333
      assert(math.abs(r.getAs[Double]("harmonic") - want) < 1e-9,
        s"harmonic mismatch for $r: want $want")
      assert(n1 > 0, s"seed ${r.getAs[Long]("s")} reached nothing at hop 1")
    }
  }
}
