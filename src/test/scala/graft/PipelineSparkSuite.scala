package graft

import graft.core._
import graft.ml._
import graft.pipeline._
import graft.streaming.{Streaming, StreamingTrainer}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  lazy val spark: SparkSession = Session.local(4)
}

class PipelineSparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  private def synthetic(n: Int, dim: Int, seed: Long): Seq[(Array[Double], Double)] = {
    var s = seed
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val wStar = Array.fill(dim)(next() * 4)
    Seq.fill(n) {
      val x = Array.fill(dim)(next() * 2)
      (x, if (La.dot(wStar, x) >= 0) 1.0 else -1.0)
    }
  }

  test("distributed PA training reaches high held-out accuracy") {
    val data = spark.sparkContext.parallelize(synthetic(8000, 6, 101L), 8)
    val fitted = Trainer.fit(spark,
      PipelineSpec(1, "PA", Map("C" -> 0.05), Seq("StandardScaler"), "Synchronous",
        rounds = 3), data)
    assert(fitted.score > 0.9, s"score ${fitted.score}")
    assert(fitted.model.n > 0)
    assert(fitted.stats.modelsShipped == 8 * 3)
    assert(fitted.curve.length == 3)
  }

  test("ORR: 1-partition and 8-partition training produce the same weights") {
    val data = synthetic(4000, 5, 103L).map { case (x, _) => x }
    var s = 107L
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val wStar = Array.fill(5)(next() * 3)
    val labeled = data.map(x => (x, La.dot(wStar, x) + next() * 0.01))
    // testCap large enough that no ring evictions occur: with 4000 points the
    // 1- and 8-partition runs then hold out the *same* 800 points (chunk
    // sizes are multiples of 10), so exact-merge equivalence is observable.
    val spec = PipelineSpec(1, "ORR", Map("lambda" -> 1.0), Nil, "Synchronous",
      rounds = 2, testCap = 1000)
    val f1 = Trainer.fit(spark, spec, spark.sparkContext.parallelize(labeled, 1))
    val f8 = Trainer.fit(spark, spec, spark.sparkContext.parallelize(labeled, 8))
    val w1 = f1.model.params; val w8 = f8.model.params
    w1.indices.foreach(i =>
      assert(math.abs(w1(i) - w8(i)) < 1e-6, s"param $i: ${w1(i)} vs ${w8(i)}"))
  }

  test("QueryResponse chunking splits >10k params into buckets") {
    val spec = PipelineSpec(9, "MultiClassPA",
      Map("C" -> 0.05, "classes" -> 10.0), Seq("PolynomialFeatures"), "Synchronous",
      rounds = 1)
    val data = spark.sparkContext.parallelize(
      synthetic(600, 64, 109L).map { case (x, y) => (x, if (y > 0) 1.0 else 0.0) }, 4)
    val fitted = Trainer.fit(spark, spec, data)
    val rs = fitted.responses(42L)
    assert(rs.length > 1, s"expected multiple chunks, got ${rs.length}")
    assert(rs.map(_.paramsCount).sum == fitted.model.params.length)
    assert(rs.forall(_.paramsCount <= 10000))
    assert(rs.map(_.id).toSeq == rs.indices.toSeq)
  }

  test("HT is forced onto a single partition and still trains") {
    val data = spark.sparkContext.parallelize(
      synthetic(4000, 5, 113L).map { case (x, y) => (x, if (y > 0) 1.0 else 0.0) }, 8)
    val fitted = Trainer.fit(spark,
      PipelineSpec(2, "HT", Map("classes" -> 2.0, "grace" -> 50.0), Nil,
        "Asynchronous", rounds = 1), data)
    assert(fitted.protocolName == "SingleLearner")
    assert(fitted.score > 0.8, s"score ${fitted.score}")
  }

  test("predict emits one prediction per input row") {
    import spark.implicits._
    val rows = synthetic(500, 4, 127L)
    val data = spark.sparkContext.parallelize(rows, 4)
    val fitted = Trainer.fit(spark,
      PipelineSpec(3, "PA", Map("C" -> 0.05), Nil, "Synchronous", rounds = 1), data)
    val df = rows.zipWithIndex
      .map { case ((x, _), i) => (i.toLong, x.toSeq) }.toDF("id", "features")
    val preds = fitted.predict(spark, df)
    assert(preds.count() == 500)
    assert(preds.columns.toSeq == Seq("id", "prediction"))
  }

  test("prediction sink round-trips through to_json and the wire parser") {
    import spark.implicits._
    val preds = Seq(Prediction(1, 10L, 1.5), Prediction(1, 11L, -0.5)).toDF()
    val dir = graft.streaming.Streaming.scratchDir("graft_sink_")
    Sinks.writeJson(preds, dir)
    val back = spark.read.json(Sinks.readJson(spark, dir).select("value").as[String])
    assert(back.count() == 2)
    val row = back.filter($"pointId" === 10L).head()
    assert(row.getAs[Double]("value") == 1.5)
    assert(row.getAs[Long]("pipelineId") == 1L)
  }

  test("MLP regression head fits a linear target") {
    val rows = synthetic(3000, 4, 131L)
    val l = new graft.ml.MLP(8, 1, 42L, 0.02)
    val m = l.init(4)
    var s = 17L
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val wStar = Array.fill(4)(next())
    val data = rows.map { case (x, _) => (x, La.dot(wStar, x) + 0.5) }
    for (_ <- 1 to 5; (x, y) <- data) l.fit(m, x, y)
    val rmse = math.sqrt(data.map { case (x, y) =>
      val e = l.predict(m, x) - y; e * e
    }.sum / data.length)
    assert(rmse < 0.15, s"rmse $rmse")
  }

  test("approx_count_distinct stays within 5% of exact on lineitem keys") {
    val li = T.lineitem(spark, "/root/testdata/sf0.01")
    val row = li.agg(
      org.apache.spark.sql.functions.approx_count_distinct("l_orderkey").as("approx"),
      org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("l_orderkey")).as("exact")).head()
    val approx = row.getAs[Long]("approx").toDouble
    val exact = row.getAs[Long]("exact").toDouble
    assert(math.abs(approx - exact) / exact < 0.05, s"approx $approx exact $exact")
  }

  test("treeReduce merge path matches the collect merge path") {
    val spec = PipelineSpec(41, "PA", Map("C" -> 0.01), Nil, "Synchronous")
    val driver = new RoundDriver(spec, None)
    val l = driver.learner
    // 8 replicas, each trained on its own partition
    val replicas = spark.sparkContext.parallelize(synthetic(6000, 5, 77L), 8)
      .mapPartitions { it =>
        val m = l.init(5)
        it.foreach { case (x, y) => l.fit(m, x, y) }
        l.finish(m)
        Iterator.single(m)
      }
    val treeFit = driver.treeMerge(replicas).get
    val collectStats = ProtocolStats()
    val window = spark.sparkContext.broadcast(IndexedSeq(Option.empty[ModelState]))
    val collectFit =
      try Protocols.round(replicas, window, Protocols.create("Synchronous", Map.empty),
        l, spec.maxMsgParams, collectStats).get
      finally window.destroy()
    assert(treeFit.n == collectFit.n && treeFit.n == 6000L)
    val a = collectFit.params
    val b = treeFit.params
    assert(a.length == b.length)
    // same weighted average up to float re-association in the tree fold
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x)),
        s"param drift: $x vs $y")
    }
    // the tree charges the ledger as the collect round does
    assert(driver.stats == collectStats && collectStats.modelsShipped == 8L)
  }

  test("map-side drift gate: non-drifted replicas never reach the driver merge") {
    val data = spark.sparkContext.parallelize(synthetic(4000, 4, 55L), 8)
    // round 1 ships everything (no prev); with an enormous threshold rounds
    // 2-3 ship nothing and the global model survives unchanged
    val fitted = Trainer.fit(spark,
      PipelineSpec(42, "PA", Map("C" -> 0.01), Nil, "GM",
        protocolHp = Map("threshold" -> 1e12), rounds = 3), data)
    assert(fitted.stats.modelsShipped == 8, // 8 partitions, round 1 only
      s"shipped=${fitted.stats.modelsShipped}")
    // blocks counts shipped param blocks: 8 one-block replicas in round 1
    // (5-double payloads << maxMsgParams), none in rounds 2-3
    assert(fitted.stats.blocks == 8)
    assert(fitted.model.n > 0)
    // the hub's fitted counter advances only on SHIPPED statistics: with
    // rounds 2-3 fully drift-skipped it must equal the 1-round count, not
    // compound on every empty round
    val oneRound = Trainer.fit(spark,
      PipelineSpec(42, "PA", Map("C" -> 0.01), Nil, "GM",
        protocolHp = Map("threshold" -> 1e12), rounds = 1), data)
    assert(fitted.model.n == oneRound.model.n,
      s"fitted-count inflation: ${fitted.model.n} vs ${oneRound.model.n}")
  }

  test("SSP(0) is bit-identical to Synchronous; the async limit diverges but converges") {
    val data = spark.sparkContext.parallelize(synthetic(6000, 5, 303L), 6)
    def run(proto: String, hp: Map[String, Double] = Map.empty) =
      Trainer.fit(spark, PipelineSpec(43, "PA", Map("C" -> 0.01), Nil, proto,
        protocolHp = hp, rounds = 4), data)
    val sync = run("Synchronous")
    val ssp0 = run("SSP", Map("staleness" -> 0.0))
    assert(ssp0.model.params.sameElements(sync.model.params),
      "SSP(0) must be exactly Synchronous — every worker reads the freshest global")
    assert(ssp0.score == sync.score && ssp0.model.n == sync.model.n)
    // staleness -> infinity is the asynchronous limit: worker pid reads a
    // model pid rounds stale; the trajectory must actually differ from
    // Synchronous yet still converge on this separable problem
    val sspInf = run("SSP", Map("staleness" -> Int.MaxValue.toDouble))
    assert(!sspInf.model.params.sameElements(sync.model.params),
      "unbounded staleness did not change the trajectory — stale reads are not wired in")
    assert(sync.score >= 0.85, s"sync score ${sync.score}")
    assert(sspInf.score >= 0.85, s"async-limit SSP score ${sspInf.score}")
    // Asynchronous IS that limit: same stale seeding, admit-everything
    // merge — bit-identical to SSP(MaxValue), and genuinely different
    // from Synchronous (the pre-r6 collapse is gone)
    val async = run("Asynchronous")
    assert(async.model.params.sameElements(sspInf.model.params),
      "Asynchronous must be the unbounded-staleness SSP limit")
    assert(!async.model.params.sameElements(sync.model.params))
  }

  test("SSP merge admits only replicas within s rounds of the frontier") {
    val learner = Learners.create("PA", Map.empty)
    def replica(seed: Long, w0: Double): ModelState = {
      val m = new LinearModel(Array(w0, 0.0), 0.0)
      m.n = 1; m.seedRound = seed; m
    }
    val stats = ProtocolStats()
    // replicas seeded at rounds 5, 5, 2 with s=1: the round-2 replica is
    // 3 rounds behind the frontier and must not contribute
    val merged = SSP(1).aggregate(
      Seq(replica(5, 1.0), replica(5, 3.0), replica(2, 100.0)),
      None, learner, stats)
    assert(math.abs(merged.params(0) - 2.0) < 1e-12,
      s"over-stale replica leaked into the merge: w0=${merged.params(0)}")
    assert(stats.modelsShipped == 2)
    // no admissible replica at all: the global survives with zeroed
    // per-round counters (no fitted-count inflation)
    val prev = replica(5, 7.0); prev.n = 42
    val kept = SSP(0).aggregate(Seq.empty, Some(prev), learner, stats)
    assert(kept.params(0) == 7.0 && kept.n == 0L)
  }

  test("Protocols.round matches a driver-side chunk/reassemble/aggregate " +
    "replay for every ship pattern") {
    val learner = new PAClassifier(0.05)
    val maxP = 4 // 7 params per replica -> 2 ParamBlocks each
    // drift from the zero global is 1.403 * scale
    def replica(scale: Double, seedRound: Long = 0L): ModelState = {
      val m = new LinearModel(Array.tabulate(6)(i => scale * (i + 1) / 7.0),
        scale / 3.0)
      m.n = (10 * scale).toLong + 1; m.cumLoss = scale / 5.0
      m.seedRound = seedRound
      m
    }
    val global = replica(0.0); global.n = 100L
    // the hub's side of the round, one replica per partition pid
    def replay(p: Protocol, reps: Seq[ModelState], prev: Option[ModelState],
        stats: ProtocolStats): ModelState = {
      val frozen = (p, prev) match {
        case (f: FGM, Some(g)) =>
          !f.decide(reps.map(r => Protocols.driftNorm(r.params, g.params)), stats)
        case _ => false
      }
      if (frozen) Protocols.frozen(prev.get)
      else {
        val blocks = reps.zipWithIndex.filter(r => p.ships(r._1, prev))
          .flatMap { case (m, pid) => ModelWire.chunk(m, maxP, pid) }
        stats.blocks += blocks.length
        val shipped = ModelWire.reassemble(blocks,
          (dim, ps) => learner.init(dim).loadWire(ps))
        p.aggregate(shipped, prev, learner, stats,
          totalReplicas = reps.length.toLong)
      }
    }
    // runs one round both ways, returns the round's ledger
    def check(run: Protocol, ref: Protocol, reps: Seq[ModelState],
        prev: Option[ModelState]): ProtocolStats = {
      val (sRun, sRef) = (ProtocolStats(), ProtocolStats())
      // a one-entry stale-read window: its head is the previous global
      val window = spark.sparkContext.broadcast(IndexedSeq(prev))
      val got = try Protocols.round(
        spark.sparkContext.parallelize(reps, reps.length), window, run,
        learner, maxP, sRun).get
      finally window.destroy()
      val want = replay(ref, reps, prev, sRef)
      assert(java.util.Arrays.equals(got.params, want.params),
        s"${run.name}: ${got.params.toSeq} != ${want.params.toSeq}")
      assert(got.n == want.n && got.cumLoss == want.cumLoss, run.name)
      assert(sRun == sRef, s"${run.name}: $sRun != $sRef")
      sRun
    }
    val reps = Seq(replica(0.5), replica(1.0), replica(2.0), replica(0.25))
    assert(check(Synchronous, Synchronous, reps, None).blocks == 8)
    assert(check(Synchronous, Synchronous, reps, Some(global)).modelsShipped == 4)
    // frontier 3 with s = 1: the replica seeded at round 1 is skip-merged
    val stale = Seq(replica(0.5, 3), replica(1.0, 3), replica(2.0, 2),
      replica(0.25, 1))
    assert(check(SSP(1), SSP(1), stale, Some(global)).modelsShipped == 3)
    assert(check(EASGD(0.5), EASGD(0.5), reps, Some(global)).modelsShipped == 4)
    // threshold 1.0 holds back the replicas of scale 0.5 and 0.25 on their
    // executors: 2 markers, 2 shipped replicas
    val gm = DriftGated("GM", 1.0)
    val gmStats = check(gm, gm, reps, Some(global))
    assert(gmStats.modelsShipped == 2 && gmStats.blocks == 4)
    // FGM(1.0), quantum 0.5: small drifts sum to zero counters (frozen),
    // then large drifts confirm a violation (everyone ships)
    val (fRun, fRef) = (new FGM(1.0), new FGM(1.0))
    val quiet = Seq(replica(0.1), replica(0.2), replica(0.3), replica(0.1))
    val frozen = check(fRun, fRef, quiet, Some(global))
    assert(frozen.blocks == 0 && frozen.modelsShipped == 0 && frozen.scalars == 4)
    val next = Protocols.frozen(global)
    val loud = Seq(replica(1.0), replica(2.0), replica(3.0), replica(2.0))
    val sync = check(fRun, fRef, loud, Some(next))
    assert(sync.blocks == 8 && sync.modelsShipped == 4 && sync.scalars == 8)
    assert(fRun.theta == fRef.theta)
  }

  test("maxMsgParams: big models ship in ceil(params/2000) blocks, weights unchanged") {
    // ml05 shape: MultiClassPA over PolynomialFeatures(64 dims) -> >21k
    // params per replica, far beyond the reference's 2000-param message cap
    // (DefaultJobParameters.scala:6)
    val spec = PipelineSpec(51, "MultiClassPA",
      Map("C" -> 0.05, "classes" -> 10.0), Seq("PolynomialFeatures"),
      "Synchronous", rounds = 1)
    val data = spark.sparkContext.parallelize(
      synthetic(600, 64, 109L).map { case (x, y) => (x, if (y > 0) 1.0 else 0.0) }, 4)
    val fitted = Trainer.fit(spark, spec, data)
    val paramsLen = fitted.model.wireParams.length
    assert(paramsLen > 21000, s"expected ml05-sized model, got $paramsLen")
    val perReplica = (paramsLen + spec.maxMsgParams - 1) / spec.maxMsgParams
    assert(perReplica > 1)
    assert(fitted.stats.blocks == 4L * perReplica,
      s"blocks=${fitted.stats.blocks}, expected ${4L * perReplica}")
    // chunk->reassemble is lossless: an effectively-uncapped run merges to
    // bit-identical weights
    val uncapped = Trainer.fit(spark, spec.copy(maxMsgParams = Int.MaxValue), data)
    assert(uncapped.stats.blocks == 4L)
    assert(java.util.Arrays.equals(fitted.model.params, uncapped.model.params),
      "chunked ship changed the merged weights")
  }

  test("ParamBlock round-trip preserves every wire model family's merge state") {
    val lin = new LinearModel(Array(1.5, -2.5, 3.0), 0.25)
    lin.n = 7L; lin.cumLoss = 1.25
    val mc = new MultiClassModel(3, 2, Array.tabulate(9)(_ * 0.5))
    mc.n = 11L
    val rls = new RlsModel(2, 0.1, Array(1.0, 0.0, 0.0, 1.0), Array(0.5, -0.5),
      Array(2.0, 0.1, 0.1, 2.0), Array(0.25, 0.75))
    rls.cumLoss = 0.5
    val learners = Seq[(ModelState, OnlineLearner)](
      (lin, new PAClassifier(0.1)),
      (mc, new MultiClassPA(0.1, 3)),
      (rls, new ORR(0.1)))
    for ((m, learner) <- learners) {
      val blocks = ModelWire.chunk(m, 2, 0) // force multi-block
      assert(blocks.length == (m.wireParams.length + 1) / 2)
      val back = ModelWire.reassemble(blocks,
        (bdim, ps) => learner.init(bdim).loadWire(ps)).head
      assert(java.util.Arrays.equals(back.wireParams, m.wireParams),
        s"${m.getClass.getSimpleName} wire round-trip drifted")
      assert(back.n == m.n && back.cumLoss == m.cumLoss)
    }
  }

  test("training tolerates empty partitions and tiny data") {
    import spark.implicits._
    val rows = synthetic(5, 3, 137L)
    val data = spark.sparkContext.parallelize(rows, 16)
    val spec =
      PipelineSpec(4, "PA", Map("C" -> 0.05), Nil, "Synchronous", rounds = 2)
    val fitted = Trainer.fit(spark, spec, data)
    assert(fitted.model.n > 0)
    assert(fitted.responses(1L).nonEmpty)
    // the same rows as one micro-batch, routed over 16 partitions by row
    // index (pid = seq), so 11 of them are empty
    val dir = Streaming.scratchDir("tiny_train_")
    val df = rows.zipWithIndex.map { case ((x, y), i) => (i.toLong, i.toLong, x, y) }
      .toDF("pid", "seq", "features", "target")
    Streaming.stage(spark, dir, df)
    val streamed = StreamingTrainer.fitStream(spark, dir,
      StreamingTrainer.RoutedSchema, spec, partitionsPerBatch = 16)
    assert(streamed.model.n == rows.size.toLong)
    assert(streamed.protocolName == "Synchronous")
    // no row at all: nothing to train on
    intercept[IllegalArgumentException](Trainer.fit(spark, spec,
      spark.sparkContext.parallelize(Seq.empty[(Array[Double], Double)], 4)))
  }

  /** 2000 rows in 4 unequal partitions (200, 400, 600, 800 rows), so that
    * FGM's drifts differ across workers. */
  private def unequalParts() = {
    val rows = synthetic(2000, 5, 211L)
    val cuts = Seq(0, 200, 600, 1200, 2000)
    spark.sparkContext.parallelize(
      (0 until 4).map(p => rows.slice(cuts(p), cuts(p + 1))), 4).flatMap(identity)
  }

  test("one round driver: Trainer.fit and routed fitStream over the same " +
    "partitions train bit-identical models under every stale-read mode and FGM") {
    import spark.implicits._
    val parts = 4
    val data = unequalParts()
    // pid = slice index and seq = row index: routed training partition pid
    // folds exactly the rows of the Trainer's partition pid, in order
    val df = data.mapPartitionsWithIndex { (pid, it) =>
      it.zipWithIndex.map { case ((x, y), i) => (pid.toLong, i.toLong, x, y) }
    }.toDF("pid", "seq", "features", "target")
    val dir = Streaming.scratchDir("round_parity_")
    Streaming.stage(spark, dir, df, df, df) // one micro-batch per round
    val fgmT = 0.5
    val none = Map.empty[String, Double]
    val mismatches = for ((proto, hp) <- Seq("Synchronous" -> none,
        "SSP" -> Map("staleness" -> 1.0), "Asynchronous" -> none,
        "FGM" -> Map("threshold" -> fgmT))) yield {
      val spec = PipelineSpec(45, "PA", Map("C" -> 0.01), Nil, proto,
        protocolHp = hp, rounds = 3, testCap = 0)
      val batch = Trainer.fit(spark, spec, data)
      val stream = StreamingTrainer.fitStream(spark, dir,
        StreamingTrainer.RoutedSchema, spec, partitionsPerBatch = parts)
      val (b, st) = (batch.model, stream.model)
      Seq(
        "protocol" -> (stream.protocolName == proto && batch.protocolName == proto),
        "params" -> st.params.sameElements(b.params),
        "ledger" -> (stream.stats == batch.stats),
        "totals" -> (st.n == b.n && st.cumLoss == b.cumLoss),
        // every round that ships all replicas fits each row once
        "fitted" -> (b.n == 2000L * batch.stats.modelsShipped / parts),
        // FGM's round 2 is a false alarm: frozen, quantum rebalanced
        "false alarm" -> (proto != "FGM" ||
          stream.curve.sortBy(_.batch).map(_.theta)(1) != fgmT / 2)
      ).collect { case (what, false) => s"$proto: $what" }
    }
    assert(mismatches.flatten.isEmpty, mismatches.flatten.mkString("; "))
  }

  test("RoundDriver carries FGM's quantum from a false alarm into the next round") {
    val data = unequalParts()
    val driver = new RoundDriver(PipelineSpec(46, "PA", Map("C" -> 0.01), Nil,
      "FGM", protocolHp = Map("threshold" -> 0.5)), None)
    def round(d: org.apache.spark.rdd.RDD[(Array[Double], Double)]) =
      driver.round(driver.resolve(d), testCap = 0)
    round(data) // bootstrap
    round(data) // false alarm: counters and a poll, quantum rebalanced
    assert(driver.stats.scalars == 8L)
    assert(driver.protocol.get.asInstanceOf[FGM].theta < 0.25)
    // five rows per worker drift less than the reset quantum T/2 = 0.25,
    // but not less than the rebalanced one: the counters trigger a poll
    round(data.mapPartitions(_.take(5)))
    assert(driver.stats.scalars == 16L, driver.stats)
  }

  test("bucketed tables join co-located: no shuffle on the join keys") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.sql("DROP TABLE IF EXISTS b_orders")
    s2.sql("DROP TABLE IF EXISTS b_lineitem")
    T.orders(s2, "/root/testdata/sf0.001").write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    T.lineitem(s2, "/root/testdata/sf0.001").write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    val j = s2.table("b_lineitem")
      .join(s2.table("b_orders"),
        s2.table("b_lineitem")("l_orderkey") === s2.table("b_orders")("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val plan = j.queryExecution.executedPlan.toString()
    assert(plan.contains("SortMergeJoin"), plan)
    // bucketing co-locates the join: the only exchange left is the final
    // aggregation's, not the join's
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange (agg only), got $exchanges:\n$plan")
    assert(j.collect().map(_.getLong(1)).sum == 6000L)
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // thresholds scaled down so fixture-sized skew triggers the optimization
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    import s2.implicits._
    // one celebrity key carrying ~100x the payload of the others
    val left = (0 until 60000).map(i =>
      (if (i % 100 == 0) (i % 7).toLong + 1 else 0L, s"payload_$i" * 4))
      .toDF("k", "v")
    val right = (0L to 7L).map(k => (k, s"dim_$k")).toDF("k", "name")
    // aggregate over v so the skewed payload column actually flows through
    // the join (count(1) alone would let column pruning erase the skew)
    val j = left.join(right, "k").groupBy("name")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("v"))).as("bytes"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(j.collect().map(_.getLong(2)).sum == 60000L)
    val plan = j.queryExecution.executedPlan.toString()
    assert(plan.contains("skew=true"),
      s"AQE did not mark the skewed join:\n${plan.take(3000)}")
  }

  test("typed Dataset[LearningPoint] surface round-trips the wire format") {
    import spark.implicits._
    val df = Seq(
      """{"id": 3, "operation": "training", "numericalFeatures": [0.5], "discreteFeatures": [2], "target": 1.0}""")
      .toDF("value")
    val ds = Wire.toTypedPoints(Wire.parseInstances(df, "value"))
    val p = ds.head()
    assert(p.id == 3L && p.isTraining)
    assert(p.features.toSeq == Seq(0.5, 2.0))
    assert(p.target.contains(1.0))
  }

  /** The as-of join on the plan a parity test names: the session's own
    * choice (the native merge join, under GraftExtensions) or the
    * union+window encoding.
    */
  private def asof(native: Boolean, fwd: Boolean = false) =
    if (!native) graft.operators.AsOf.asofWindow(_, _, _, _, _, _, _, _, fwd)
    else if (fwd) graft.operators.AsOf.asofJoinForward _
    else graft.operators.AsOf.asofJoin _

  test("as-of join semantics: <=, tie-break on greatest key, null for no match") {
    import spark.implicits._
    val left = Seq(
      (1L, 1L, 10L), // user 1 at t=10
      (2L, 2L, 5L),  // user 2 at t=5: only rt<=5 rows qualify
      (3L, 3L, 99L)  // user 3: no right rows -> nulls
    ).toDF("lid", "user", "t")
    val right = Seq(
      (100L, 1L, 7L), // tie at rt=7 with 101
      (101L, 1L, 7L),
      (102L, 1L, 9L), // latest <= 10 -> wins for user 1
      (200L, 2L, 5L), // exactly at left t -> included (<= semantics)
      (201L, 2L, 6L)  // after left t=5 -> excluded
    ).toDF("rid", "user", "rt")
    val out = graft.operators.AsOf.asofJoin(
      left, right, "user", "user",
      org.apache.spark.sql.functions.col("t").cast("timestamp"),
      org.apache.spark.sql.functions.col("rt").cast("timestamp"),
      Seq("rid"), "rid")
      .orderBy("lid").collect()
    assert(out(0).getAs[Long]("rid") == 102L)
    assert(out(1).getAs[Long]("rid") == 200L)
    assert(out(2).isNullAt(out(2).fieldIndex("rid"))) // no match
  }

  test("forward as-of join: >=, tie-break on smallest key, null for no match") {
    import spark.implicits._
    val left = Seq(
      (1L, 1L, 10L), // user 1 at t=10: earliest rt>=10 wins
      (2L, 2L, 5L),  // user 2 at t=5: rt=5 qualifies (>= semantics)
      (3L, 3L, 99L)  // user 3: no right rows -> nulls
    ).toDF("lid", "user", "t")
    val right = Seq(
      (100L, 1L, 12L), // tie at rt=12 with 101 -> smallest id wins
      (101L, 1L, 12L),
      (102L, 1L, 9L),  // before t=10 -> excluded
      (200L, 2L, 5L),  // exactly at left t -> included
      (201L, 2L, 4L)   // before -> excluded
    ).toDF("rid", "user", "rt")
    val out = graft.operators.AsOf.asofJoinForward(
      left, right, "user", "user",
      org.apache.spark.sql.functions.col("t").cast("timestamp"),
      org.apache.spark.sql.functions.col("rt").cast("timestamp"),
      Seq("rid"), "rid")
      .orderBy("lid").collect()
    assert(out(0).getAs[Long]("rid") == 100L)
    assert(out(1).getAs[Long]("rid") == 200L)
    assert(out(2).isNullAt(out(2).fieldIndex("rid")))
  }

  test("as-of join tie-break picks the greatest tie-break key at equal times") {
    import spark.implicits._
    val left = Seq((1L, 1L, 10L)).toDF("lid", "user", "t")
    val right = Seq((100L, 1L, 7L), (101L, 1L, 7L)).toDF("rid", "user", "rt")
    val out = graft.operators.AsOf.asofJoin(
      left, right, "user", "user",
      org.apache.spark.sql.functions.col("t").cast("timestamp"),
      org.apache.spark.sql.functions.col("rt").cast("timestamp"),
      Seq("rid"), "rid").collect()
    assert(out.head.getAs[Long]("rid") == 101L)
  }

  test("native as-of merge join is bit-identical to the union+window encoding") {
    import spark.implicits._
    val rnd = new scala.util.Random(8844)
    // adversarial shape: few keys (dense per-key streams), heavy time ties,
    // keys with no right rows, keys with no left rows
    val left = (1 to 400).map(i =>
      (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(40).toLong))
      .toDF("lid", "user", "t")
    val right = (1 to 400).map(i =>
      (1000L + i, (rnd.nextInt(8) + 4).toLong, rnd.nextInt(40).toLong))
      .toDF("rid", "user", "rt")
    def run(fwd: Boolean, native: Boolean): Seq[(Long, Any, Any)] =
      asof(native, fwd)(left, right, "user", "user",
        org.apache.spark.sql.functions.col("t").cast("timestamp"),
        org.apache.spark.sql.functions.col("rt").cast("timestamp"),
        Seq("rid", "rt"), "rid")
        .collect().map(r => (r.getAs[Long]("lid"),
          r.getAs[Any]("rid"), r.getAs[Any]("rt")))
        .sortBy(_._1).toSeq
    for (fwd <- Seq(false, true)) {
      val native = run(fwd, native = true)
      val window = run(fwd, native = false)
      assert(native == window, s"fwd=$fwd first diff: " +
        s"${native.zip(window).find(p => p._1 != p._2)}")
    }
  }

  test("native as-of survives fully-duplicated rows on both sides") {
    import spark.implicits._
    // identical (key, time, tie) rows: the winner is value-identical
    // whichever physical copy either implementation lands on
    val left0 = Seq((1L, 5L, 10L), (2L, 5L, 20L)).toDF("lid", "user", "t")
    val left = left0.unionAll(left0)
    val right0 = Seq((100L, 5L, 8L), (100L, 5L, 8L), (101L, 5L, 15L))
      .toDF("rid", "user", "rt")
    val right = right0.unionAll(right0)
    def run(native: Boolean): Seq[(Long, Long)] =
      asof(native)(left, right, "user", "user",
        org.apache.spark.sql.functions.col("t").cast("timestamp"),
        org.apache.spark.sql.functions.col("rt").cast("timestamp"),
        Seq("rid"), "rid")
        .collect().map(r => (r.getLong(0), r.getLong(3)))
        .sortBy(identity).toSeq
    val expect = Seq((1L, 100L), (1L, 100L), (2L, 101L), (2L, 101L))
    assert(run(native = true) == expect)
    assert(run(native = false) == expect)
  }

  test("native as-of with STRING keys matches the window encoding (carry-key aliasing)") {
    import spark.implicits._
    // string keys eval to UTF8String views over the child iterator's reused
    // row buffer; the merge must re-evaluate the carry key from the COPIED
    // row or later left rows compare against overwritten bytes. Dense
    // same-key runs + key switches maximize buffer reuse between the carry
    // write and the comparison.
    val rnd = new scala.util.Random(4141)
    val keys = Vector("alpha", "beta", "gamma", "delta", "epsilon-very-long-key-name")
    val left = (1 to 500).map(i =>
      (i.toLong, keys(rnd.nextInt(keys.size)), rnd.nextInt(30).toLong))
      .toDF("lid", "user", "t")
    val right = (1 to 500).map(i =>
      (1000L + i, keys(rnd.nextInt(keys.size)), rnd.nextInt(30).toLong))
      .toDF("rid", "user", "rt")
    def run(native: Boolean): Seq[(Long, Any)] =
      asof(native)(left, right, "user", "user",
        org.apache.spark.sql.functions.col("t").cast("timestamp"),
        org.apache.spark.sql.functions.col("rt").cast("timestamp"),
        Seq("rid"), "rid")
        .collect().map(r => (r.getAs[Long]("lid"), r.getAs[Any]("rid")))
        .sortBy(_._1).toSeq
    val native = run(native = true)
    val window = run(native = false)
    assert(native == window,
      s"first diff: ${native.zip(window).find(p => p._1 != p._2)}")
  }

  test("as-of join rejects null keys/times identically on both paths") {
    import spark.implicits._
    val left = Seq((1L, Some(5L), Some(10L)), (2L, None, Some(20L)))
      .toDF("lid", "user", "t")
    val right = Seq((100L, 5L, 8L)).toDF("rid", "user", "rt")
    def run(native: Boolean): Unit =
      asof(native)(left, right, "user", "user",
        org.apache.spark.sql.functions.col("t").cast("timestamp"),
        org.apache.spark.sql.functions.col("rt").cast("timestamp"),
        Seq("rid"), "rid").collect()
    for (native <- Seq(true, false)) {
      val e = intercept[Exception](run(native))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("as-of join: null")),
        s"native=$native unexpected error: $e")
    }
  }

  test("wire parsing drops EOS, malformed and featureless records") {
    import spark.implicits._
    val good =
      """{"id": 7, "operation": "training", "numericalFeatures": [1.0, 2.0], "target": 1.0}"""
    val fc =
      """{"id": 8, "operation": "forecasting", "discreteFeatures": [3, 4]}"""
    val badOp =
      """{"id": 10, "operation": "deleting", "numericalFeatures": [1.0], "target": 0.0}"""
    val badReq = """{"id": 1, "request": "Restart", "requestId": 3}"""
    val create = """{"id": 1, "request": "Create", "requestId": 1, "learner": {"name": "PA"}}"""
    val query = """{"id": 1, "request": "Query", "requestId": 2}"""
    val df = Seq(good, fc, "EOS", "{broken", """{"id": 9}""", badOp, badReq,
      create, query).toDF("value")
    val pts = Wire.toPoints(Wire.parseInstances(df, "value")).collect()
    assert(pts.length == 2)
    val byId = pts.map(r => r.getAs[Long]("id") -> r).toMap
    def feats(id: Long): Seq[Double] =
      byId(id).getSeq[Double](byId(id).fieldIndex("features")).toSeq
    assert(feats(7L) == Seq(1.0, 2.0))
    assert(feats(8L) == Seq(3.0, 4.0))
    assert(byId(8L).getAs[String]("operation") == "forecasting")
    val reqs = Wire.parseRequests(df, "value").collect()
    assert(reqs.map(_.getAs[Long]("requestId")).toSeq == Seq(1L, 2L))
    // the Job's router keeps exactly what the parsers keep: one data
    // envelope per hosted pipeline, one control envelope per worker
    val env = graft.operators.JobTopology.route(df).collect()
    val workers = graft.operators.JobTopology.Workers
    val (data, control) = (env.count(_.kind == "data"), env.count(_.kind == "control"))
    assert(data == 2 * pts.length && control == workers * reqs.length)
    assert(data == 4 && control == 8 && env.length == 12)
  }

  test("LloydRefine: partition-count invariance, empty-cluster carry, exact counts") {
    import spark.implicits._
    // a 10x10 integer grid in micro-units; two live centroids + one decoy
    // so far away it can never win a point
    val pts = (0 until 100).map(i =>
      (i.toLong, (i % 10).toLong * 1000000L, (i / 10).toLong * 1000000L))
    val init = Array(
      Array(0.0, 0.0), Array(9e6, 9e6), Array(1e12, 1e12))
    def run(parts: Int) = {
      val df = spark.createDataset(pts).toDF("id", "x0", "x1")
        .repartition(parts)
      ml.LloydRefine.refine(df, Seq("x0", "x1"), init.map(_.clone()), 3)
    }
    val (c1, n1) = run(1)
    val (c8, n8) = run(8)
    // bit-identical at any parallelism (integer sums + exact divisions)
    assert(c1.map(_.toSeq).toSeq == c8.map(_.toSeq).toSeq)
    assert(n1.toSeq == n8.toSeq)
    // the decoy cluster stays empty and keeps its init centroid verbatim
    assert(n1(2) == 0L)
    assert(c1(2).toSeq == Seq(1e12, 1e12))
    // every point assigned exactly once per sweep
    assert(n1.sum == 100L)
  }
}
