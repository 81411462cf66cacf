package graft

import graft.functions.F
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Regression guards for the round-11 additions: the vector kernels' loud
  * length guard (ragged inputs must error, never score a truncated prefix),
  * i8_codes' defined NaN degenerate case, and the MiniBatchKMeans extension's
  * protocol resolution (the whole point is NOT being SingleLearner-forced,
  * while the reference's K-means rule stays intact).
  */
class R11OpsSuite extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("dot_ff / dot_ll / dist2_dd fail loudly on ragged vectors instead " +
    "of silently scoring a truncated prefix (ADVICE r10)") {
    import spark.implicits._
    val ragged = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f)))
      .toDF("a", "b")
    val err = intercept[Exception] {
      ragged.select(F.dotFF(col("a"), col("b"))).collect()
    }
    assert(err.getMessage != null)
    val raggedL = Seq((Seq(1L, 2L, 3L), Seq(1L))).toDF("a", "b")
    intercept[Exception] {
      raggedL.select(F.dotLL(col("a"), col("b"))).collect()
    }
    val raggedD = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    intercept[Exception] {
      raggedD.select(F.dist2DD(col("a"), col("b"))).collect()
    }
    // equal lengths still compute (the guard is length-only)
    val ok = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      .select(F.dotFF(col("a"), col("b")).as("d")).head().getDouble(0)
    assert(ok == 11.0)
  }

  test("i8_codes treats a NaN element as zero-norm (empty codes), the same " +
    "degenerate case as the all-zero vector (ADVICE r10)") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, Float.NaN, 3.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f)),
      (3L, Seq(1.0f, -2.0f, 4.0f))).toDF("id", "v")
    val out = df.select(col("id"), F.i8Codes(col("v")).as("q"))
      .orderBy("id").collect()
    assert(out(0).getSeq[Long](1).isEmpty, "NaN vector must yield empty codes")
    assert(out(1).getSeq[Long](1).isEmpty, "zero vector must yield empty codes")
    assert(out(2).getSeq[Long](1) == Seq(31L, -64L, 127L))
  }

  test("phash64 kernel equals the declarative stripe-energy HOF chain " +
    "bit-for-bit on real fixture text (the mm07/mm11/st47 hot loop)") {
    val docs = T.documents(spark, "/root/testdata/sf0.01")
    val hof = docs
      .select(col("doc_id"), col("text"),
        length(col("text")).cast(LongType).as("n"))
      .filter(col("n") >= 64)
      .withColumn("en", expr(
        """transform(sequence(CAST(1 AS BIGINT), CAST(64 AS BIGINT)), i ->
          |  aggregate(sequence(i, n, 64), CAST(0 AS BIGINT),
          |    (a, p) -> a + ascii(substring(text, CAST(p AS INT), 1))))""".stripMargin))
      .withColumn("tot", expr("aggregate(en, CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("h", expr(
        """aggregate(sequence(0, 63), CAST(0 AS BIGINT), (a, i) ->
          |  a + IF(en[i] * 64 > tot,
          |         shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""".stripMargin))
      .select(col("doc_id"), col("h"))
    val kernel = docs.filter(length(col("text")) >= 64)
      .select(col("doc_id"), F.phash64(col("text")).as("k"))
    val joined = hof.join(kernel, "doc_id")
    assert(joined.count() > 0)
    assert(joined.filter(col("h") =!= col("k")).count() == 0,
      "kernel diverges from the HOF stripe chain")
  }

  test("TwsSpoke chunked buffer: drain order is exact across the ChunkSize " +
    "seam (511+2 rows over two triggers == SpokeCore.step replay answers)") {
    import graft.streaming.{Envelope, SpokeEvent}
    assert(graft.streaming.TwsSpoke.ChunkSize == 512)
    def env(seq: Long, id: Long) =
      Envelope(seq, 1, "data", "", "", -1L, id, Seq(id.toDouble, 2.0),
        Some(if (id % 2 == 0) 1.0 else -1.0), "")
    // trigger 1: 511 rows (one open chunk); trigger 2: 2 rows (closes chunk
    // 0 at exactly 512, opens chunk 1); trigger 3: Create + Query drains 513
    val files = Seq((0 until 511).map(i => env(i.toLong, i.toLong)),
      Seq(env(511L, 511L), env(512L, 512L)),
      Seq(Envelope(1000L, 1, "control", "Create", "PA", 1L, -1, Nil, None, ""),
        Envelope(1001L, 1, "control", "Query", "", 9L, -1, Nil, None, "")))
    def rows(es: Seq[SpokeEvent]) =
      es.map(e => (e.pipelineId, e.kind, e.requestId, e.value, e.info))
        .sortBy(t => (t._1, t._2, t._3))
    // deliberately the DEFAULT tracking=true: the chunk shape must not care
    val tws = rows(SpokeHarness.runTws(spark, SpokeHarness.stage(spark, files),
      conf = Map("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "true")))
    val replay = rows(SpokeHarness.replay(files))
    // PA training is order-sensitive: equality of the response info (loss,
    // fitted) proves the chunked drain replays the EXACT arrival order
    assert(tws == replay, s"chunk-seam drain diverged:\n tws=$tws\n replay=$replay")
    val drain = tws.find(_._2 == "log").get
    assert(drain._4 == 513.0, drain.toString)
  }

  test("MiniBatchKMeans resolves under the requested parallel protocol; " +
    "the reference's K-means/HT SingleLearner forcing is untouched") {
    import graft.ml.Protocols
    assert(Protocols.resolveName("Synchronous", "MiniBatchKMeans", 8)
      == "Synchronous")
    assert(Protocols.resolveName("Asynchronous", "K-means", 8)
      == "SingleLearner")
    assert(Protocols.resolveName("Asynchronous", "HT", 8) == "SingleLearner")
    // parallelism 1 still forces CentralizedTraining for the extension too
    assert(Protocols.resolveName("Synchronous", "MiniBatchKMeans", 1)
      == "CentralizedTraining")
  }

  test("KMeansState flat wire: seeded states roundtrip exactly (centroids, " +
    "counts, filled), unseeded states still ship whole; parallel " +
    "MiniBatchKMeans without a shared seed fails loudly") {
    import graft.ml.{KMeansState, OnlineKMeans}
    import graft.pipeline.{PipelineSpec, Trainer}
    val seeder = new OnlineKMeans(2)
    val m0 = seeder.init(2).asInstanceOf[KMeansState]
    Seq(Array(0.0, 0.0), Array(10.0, 10.0), Array(0.2, 0.1), Array(9.8, 10.2))
      .foreach(p => seeder.fit(m0, p, 0.0))
    seeder.finish(m0)
    assert(m0.wireSupported, "post-seeding state must have a flat wire form")
    val rt = seeder.init(2).loadWire(m0.wireParams).asInstanceOf[KMeansState]
    assert(rt.centroids.toSeq == m0.centroids.toSeq)
    assert(rt.counts.toSeq == m0.counts.toSeq)
    assert(rt.filled == m0.filled)
    val m1 = seeder.init(2).asInstanceOf[KMeansState]
    seeder.fit(m1, Array(1.0, 2.0), 0.0) // buffer still filling
    assert(!m1.wireSupported, "mid-seeding state must ship whole (buffer)")
    // the documented shared-seed contract is enforced, not advisory
    val rdd = spark.sparkContext
      .parallelize(Seq.fill(40)((Array(1.0, 2.0), 1.0)), 4)
    val err = intercept[IllegalArgumentException] {
      Trainer.fit(spark,
        PipelineSpec(33, "MiniBatchKMeans", Map("k" -> 2.0), Nil, "Synchronous"),
        rdd)
    }
    assert(err.getMessage.contains("shared seed"))
  }

  test("MiniBatchKMeans with a shared seed matches sequential K-means " +
    "cluster quality (inertia parity) and actually runs 8 replicas") {
    import graft.ml.{KMeansState, OnlineKMeans}
    import graft.pipeline.{PipelineSpec, Trainer}
    val sf = "/root/testdata/sf0.001"
    val df = T.embeddings(spark, sf)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("features"),
        col("label").cast(DoubleType).as("target"))
      .repartitionByRange(8, col("id"))
      .sortWithinPartitions("id")
    def rdd = df.select("features", "target").rdd
      .map(r => (r.getSeq[Double](0).toArray, r.getDouble(1)))
    val seedPts = df.orderBy("id").limit(64)
      .select("features").collect().map(_.getSeq[Double](0).toArray)
    val seed = graft.ml.MiniBatchKMeans.sharedSeed(seedPts.toSeq, 8)
    val par = Trainer.fit(spark,
      PipelineSpec(32, "MiniBatchKMeans", Map("k" -> 8.0), Nil, "Synchronous"),
      rdd, Some(seed))
    val seq = Trainer.fit(spark,
      PipelineSpec(6, "K-means", Map("k" -> 8.0), Nil, "Asynchronous"), rdd)
    assert(par.protocolName == "Synchronous")
    assert(seq.protocolName == "SingleLearner")
    assert(par.statistics.modelsShipped == 24L) // 8 replicas x 3 rounds
    val r = graft.ml.MiniBatchKMeans.inertia(spark, par.model, rdd) /
      graft.ml.MiniBatchKMeans.inertia(spark, seq.model, rdd)
    assert(r < 1.5 && r > 0.5, s"inertia ratio $r outside parity band")
  }
}
