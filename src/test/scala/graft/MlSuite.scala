package graft

import graft.ml._
import org.scalatest.funsuite.AnyFunSuite

/** Learner golden tests on seeded synthetic data — no SparkSession needed:
  * learners are plain objects; distribution is the Trainer's job (tested in
  * PipelineSparkSuite).
  */
class MlSuite extends AnyFunSuite {

  // deterministic LCG
  private def rng(seed: Long): () => Double = {
    var s = seed
    () => {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
  }

  private def linearData(n: Int, dim: Int, seed: Long): (Array[Array[Double]], Array[Double], Array[Double]) = {
    val r = rng(seed)
    val wStar = Array.tabulate(dim)(i => r() * 4)
    val xs = Array.fill(n)(Array.fill(dim)(r() * 2))
    val margins = xs.map(x => La.dot(wStar, x))
    (xs, margins, wStar)
  }

  test("PA learns a separable binary concept") {
    val (xs, margins, _) = linearData(4000, 6, 7L)
    val ys = margins.map(m => if (m >= 0) 1.0 else -1.0)
    val l = new PAClassifier(0.05)
    val m = l.init(6)
    for (_ <- 1 to 2; i <- xs.indices) l.fit(m, xs(i), ys(i))
    val acc = xs.indices.count(i => l.predict(m, xs(i)) == ys(i)).toDouble / xs.length
    assert(acc > 0.95, s"accuracy $acc")
  }

  test("Pegasos SVM learns a separable binary concept") {
    val (xs, margins, _) = linearData(4000, 6, 11L)
    val ys = margins.map(m => if (m >= 0) 1.0 else -1.0)
    val l = new PegasosSVM(1e-4)
    val m = l.init(6)
    for (_ <- 1 to 3; i <- xs.indices) l.fit(m, xs(i), ys(i))
    val acc = xs.indices.count(i => l.predict(m, xs(i)) == ys(i)).toDouble / xs.length
    assert(acc > 0.93, s"accuracy $acc")
  }

  test("RegressorPA fits a linear target") {
    val (xs, margins, _) = linearData(4000, 6, 13L)
    val l = new PARegressor(0.1, 0.01)
    val m = l.init(6)
    for (_ <- 1 to 3; i <- xs.indices) l.fit(m, xs(i), margins(i))
    val rmse = math.sqrt(xs.indices.map { i =>
      val e = l.predict(m, xs(i)) - margins(i); e * e
    }.sum / xs.length)
    assert(rmse < 0.2, s"rmse $rmse")
  }

  test("MultiClassPA learns an argmax concept") {
    val r = rng(17L)
    val k = 4; val dim = 6
    val wStar = Array.fill(k)(Array.fill(dim)(r() * 4))
    val xs = Array.fill(5000)(Array.fill(dim)(r() * 2))
    val ys = xs.map(x => wStar.zipWithIndex.maxBy(p => La.dot(p._1, x))._2.toDouble)
    val l = new MultiClassPA(0.05, k)
    val m = l.init(dim)
    for (_ <- 1 to 3; i <- xs.indices) l.fit(m, xs(i), ys(i))
    val acc = xs.indices.count(i => l.predict(m, xs(i)) == ys(i)).toDouble / xs.length
    assert(acc > 0.9, s"accuracy $acc")
  }

  test("ORR matches the closed-form ridge solution and merges exactly") {
    val (xs, _, wStar) = linearData(2000, 5, 19L)
    val r = rng(23L)
    val ys = xs.map(x => La.dot(wStar, x) + r() * 0.01)
    val lambda = 0.5
    val l = new ORR(lambda)
    // sequential
    val mSeq = l.init(5)
    xs.indices.foreach(i => l.fit(mSeq, xs(i), ys(i)))
    // closed form on z = x ++ 1
    val d = 6
    val a = new Array[Double](d * d); val b = new Array[Double](d)
    var i = 0
    while (i < d) { a(i * d + i) = lambda; i += 1 }
    xs.indices.foreach { j =>
      val z = xs(j) :+ 1.0
      for (p <- 0 until d; q <- 0 until d) a(p * d + q) += z(p) * z(q)
      for (p <- 0 until d) b(p) += ys(j) * z(p)
    }
    val wClosed = La.solve(a, b, d)
    val wSeq = mSeq.params
    wClosed.indices.foreach(p =>
      assert(math.abs(wClosed(p) - wSeq(p)) < 1e-6,
        s"param $p: closed ${wClosed(p)} vs rls ${wSeq(p)}"))
    // 4-way chunked replicas from a fresh prior, merged
    val chunks = xs.indices.grouped(500).toSeq
    val replicas = chunks.map { idx =>
      val m = l.init(5)
      idx.foreach(i => l.fit(m, xs(i), ys(i)))
      m
    }
    val merged = l.merge(replicas, None).params
    wClosed.indices.foreach(p =>
      assert(math.abs(wClosed(p) - merged(p)) < 1e-6,
        s"merged param $p: ${merged(p)} vs ${wClosed(p)}"))
  }

  test("online K-means recovers separated clusters") {
    val r = rng(29L)
    val centers = Array(Array(5.0, 5.0), Array(-5.0, 5.0), Array(0.0, -5.0))
    val xs = Array.fill(3000) {
      val c = centers((r() * 1000).toInt.abs % 3)
      Array(c(0) + r(), c(1) + r())
    }
    val l = new OnlineKMeans(3)
    val m = l.init(2)
    xs.foreach(x => l.fit(m, x, 0.0))
    val distortion = xs.map(x => l.loss(m, x, 0.0)).sum / xs.length
    assert(distortion < 1.0, s"distortion $distortion")
  }

  test("MLP classifier learns a separable concept") {
    val (xs, margins, _) = linearData(4000, 6, 31L)
    val ys = margins.map(m => if (m >= 0) 1.0 else 0.0)
    val l = new MLP(8, 2, 42L, 0.05)
    val m = l.init(6)
    for (_ <- 1 to 4; i <- xs.indices) l.fit(m, xs(i), ys(i))
    val acc = xs.indices.count(i => l.predict(m, xs(i)) == ys(i)).toDouble / xs.length
    assert(acc > 0.9, s"accuracy $acc")
  }

  test("Hoeffding tree splits on the informative attribute") {
    val r = rng(37L)
    val xs = Array.fill(6000)(Array.fill(5)(r() * 2))
    val ys = xs.map(x => if (x(0) > 0.1) 1.0 else 0.0)
    val l = new HoeffdingTreeLearner(0.05, 0.05, 50, 2)
    val m = l.init(5)
    xs.indices.foreach(i => l.fit(m, xs(i), ys(i)))
    val acc = xs.indices.count(i => l.predict(m, xs(i)) == ys(i)).toDouble / xs.length
    assert(acc > 0.9, s"accuracy $acc")
    assert(m.asInstanceOf[HTModel].root.countNodes > 1, "tree never split")
  }

  test("protocol resolution mirrors the reference's forcing rules") {
    assert(Protocols.resolveName("Asynchronous", "HT", 8) == "SingleLearner")
    assert(Protocols.resolveName("FGM", "K-means", 8) == "SingleLearner")
    assert(Protocols.resolveName("Asynchronous", "PA", 1) == "CentralizedTraining")
    assert(Protocols.resolveName("EASGD", "PA", 8) == "EASGD")
    // a negative staleness is rejected where it enters, not at round 1
    intercept[IllegalArgumentException](Protocols.create("SSP", Map("staleness" -> -1.0)))
  }

  test("drift-gated protocol skips shipping when drift is under threshold") {
    val l = new PAClassifier(0.05)
    val global = l.init(3)
    val replica = global.deepCopy
    replica.n = 10
    val stats = ProtocolStats()
    val out = DriftGated("GM", 1e9).aggregate(Seq(replica), Some(global), l, stats)
    assert(stats.modelsShipped == 0)
    // the global's weights survive unchanged, but the per-round counters are
    // ZERO — nothing shipped, so the hub's fitted totals must not advance
    // (returning prev itself would compound its running totals downstream)
    assert(java.util.Arrays.equals(out.params, global.params))
    assert(out.n == 0L && out.cumLoss == 0.0)
  }

  test("FGM quantum: T/2 after a sync, rebalanced to -psi/(2k) on a false " +
    "alarm, counters quantized against the current quantum") {
    val f = new FGM(1.0) // theta = 0.5
    val stats = ProtocolStats()
    // counters floor(0.9/0.5) + floor(0.8/0.5) = 1 + 1 = 2 <= k: no poll
    assert(!f.decide(Seq(0.9, 0.8), stats) && f.theta == 0.5)
    // 2 + 1 = 3 > 2 triggers; psi = 0.1 + (-0.05) >= 0: sync, theta resets
    assert(f.decide(Seq(1.1, 0.95), stats) && f.theta == 0.5)
    // 2 + 1 = 3 > 2 triggers; psi = 0.05 + (-0.45) = -0.4 < 0: FALSE
    // ALARM — no sync, quantum rebalances to 0.4/(2*2) = 0.1
    assert(!f.decide(Seq(1.05, 0.55), stats))
    assert(math.abs(f.theta - 0.1) < 1e-15, s"theta ${f.theta}")
    // the rebalanced quantum now quantizes the SAME drifts differently:
    // floor(0.24/0.1) + floor(0.01/0.1) = 2 + 0 = 2 <= k: quiet
    assert(!f.decide(Seq(0.24, 0.01), stats) && math.abs(f.theta - 0.1) < 1e-15)
    // byte ledger: 4 counter phases + 2 polls, all 2 workers x 8 bytes;
    // decide never ships a vector
    assert(stats.bytesShipped == 6L * 2L * 8L && stats.modelsShipped == 0L)
  }

  test("EASGD center moves a fraction alpha toward the replica average") {
    val l = new PAClassifier(0.05)
    val center = new LinearModel(Array(0.0, 0.0), 0.0)
    val rep = new LinearModel(Array(1.0, 1.0), 1.0)
    rep.n = 5
    val out = EASGD(0.5).aggregate(Seq(rep), Some(center), l, ProtocolStats())
      .asInstanceOf[LinearModel]
    assert(math.abs(out.w(0) - 0.5) < 1e-12)
    assert(math.abs(out.b - 0.5) < 1e-12)
  }

  test("held-out scoring rule: accuracy, -RMSE, -mean distortion, and " +
    "(0, 0) with nothing to score") {
    def score(l: OnlineLearner, m: ModelState, pts: Seq[(Array[Double], Double)]) =
      HeldOut.result(l, HeldOut.sums(l, m, pts.iterator))
    // PA: hinge losses 0, 0, 2, 0.5; three of four labels hit
    val pa = new PAClassifier(0.05)
    val lin = new LinearModel(Array(1.0, 0.0), 0.0)
    assert(score(pa, lin, Seq((Array(1.0, 0.0), 1.0), (Array(-1.0, 0.0), -1.0),
      (Array(1.0, 0.0), -1.0), (Array(0.5, 0.0), 1.0))) == ((0.625, 0.75)))
    // RegressorPA (epsilon 0): errors 0, -1, 2
    val reg = Learners.create("RegressorPA", Map("epsilon" -> 0.0))
    val line = new LinearModel(Array(2.0), 0.0)
    assert(score(reg, line, Seq((Array(1.0), 2.0), (Array(1.0), 3.0),
      (Array(2.0), 2.0))) == ((1.0, -math.sqrt(5.0 / 3))))
    // clustering scores the mean squared distance to the nearest centroid
    // (1, 1, 16), not the RMSE of cluster ids, for both K-means learners
    val km = new KMeansState(2, 1, Array(0.0, 10.0), Array(1L, 1L), 2)
    km.buffer = null
    val pts = Seq((Array(1.0), 0.0), (Array(9.0), 0.0), (Array(4.0), 0.0))
    for (l <- Seq(new OnlineKMeans(2), new MiniBatchKMeans(2)))
      assert(score(l, km, pts) == ((6.0, -6.0)), l.name)
    // sums add up across rings before the result, as the Trainer does
    val (a, b) = (HeldOut.sums(pa, lin, Iterator((Array(1.0, 0.0), 1.0))),
      HeldOut.sums(pa, lin, Iterator((Array(1.0, 0.0), -1.0))))
    assert(HeldOut.result(pa, (a._1 + b._1, a._2 + b._2, a._3 + b._3)) == ((1.0, 0.5)))
    assert(score(pa, lin, Nil) == ((0.0, 0.0)))
    assert(score(pa, null, Seq((Array(1.0, 0.0), 1.0))) == ((0.0, 0.0)))
  }

  test("held-out ring: 2-of-10 split, FIFO eviction back into training, resume from state") {
    val ring = new HeldOutRing[Int](2)
    val trained = (0 until 25).flatMap(ring.offer)
    // cycle positions 8-9 fill the ring; 18 and 19 evict 8 and 9 in turn
    assert(trained == (0 to 7) ++ (10 to 17) ++ Seq(8, 9) ++ (20 to 24))
    assert(ring.points == Seq(18, 19))
    assert(ring.pos == 0 && ring.cycle == 5)
    // a ring rebuilt from (points, pos, cycle) mid-stream, as the spoke
    // does from its state, continues exactly as the uninterrupted one
    val first = new HeldOutRing[Int](2)
    val head = (0 until 19).flatMap(first.offer)
    val resumed = new HeldOutRing[Int](2, first.points.toSeq, first.pos, first.cycle)
    assert(head ++ (19 until 25).flatMap(resumed.offer) == trained)
    assert(resumed.points == ring.points && resumed.pos == ring.pos)
    // cap 0 holds nothing out: every point trains, in order
    val open = new HeldOutRing[Int](0)
    assert((0 until 25).flatMap(open.offer) == (0 until 25))
    assert(open.points.isEmpty)
    intercept[IllegalArgumentException](new HeldOutRing[Int](-1))
  }

  test("preprocessor transforms") {
    val poly = new FittedPolynomial(2)
    assert(poly.transform(Array(2.0, 3.0)).toSeq == Seq(2.0, 3.0, 4.0, 6.0, 9.0))
    val ss = new FittedStandardScaler(Array(1.0), Array(2.0))
    assert(ss.transform(Array(5.0)).toSeq == Seq(2.0))
    val mm = new FittedMinMax(Array(0.0), Array(10.0))
    assert(mm.transform(Array(5.0)).toSeq == Seq(0.5))
  }
}
