package graft

import graft.functions.F
import graft.pipeline.PipelineSpec
import graft.streaming.StreamingTrainer
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Regression guards for the round-12 fixes: phash64's code-point
  * convention on non-ASCII text (r11 advisor), and the streaming-path
  * MiniBatchKMeans shared-seed contract (r11 advisor, medium).
  */
class R12OpsSuite extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("phash64 matches the ascii(substring(...)) HOF chain on non-ASCII " +
    "text, including astral code points (ADVICE r11: code-point iteration)") {
    import spark.implicits._
    // >=64 code points each; mixes ASCII, Latin-1, CJK, and a surrogate
    // pair (U+1F600) so UTF-16-unit iteration would mis-stripe every
    // position after it AND hash the surrogate halves separately
    val mixed = Seq(
      1L -> ("café " * 16),                    // 80 cps, 2-byte chars
      2L -> ("水曹 ascii tail " * 8),       // CJK + ascii, 112 cps
      3L -> ("😀 pad " * 16),             // astral + ascii, 96 cps
      4L -> (("x" * 63) + "😀"),          // astral at stripe 63
      5L -> ("plain ascii only " * 8)          // control: pure ASCII
    ).toDF("doc_id", "text")
    val hof = mixed
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
    val kernel = mixed.filter(length(col("text")) >= 64)
      .select(col("doc_id"), F.phash64(col("text")).as("k"))
    val joined = hof.join(kernel, "doc_id")
    assert(joined.count() == 5)
    val bad = joined.filter(col("h") =!= col("k")).collect()
    assert(bad.isEmpty,
      s"kernel diverges from the code-point HOF chain on: ${bad.mkString(",")}")
  }

  test("frame_energies kernel equals the transform/aggregate HOF chain " +
    "element-for-element on fixture text plus edge cases (mm10 hot loop)") {
    import spark.implicits._
    val fixture = T.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("text"))
    val edges = Seq(
      (1000001L, ""),                       // one zero-energy frame
      (1000002L, "x"),                      // single char
      (1000003L, "a" * 100),                // exact frame boundary
      (1000004L, "b" * 101),                // boundary + 1
      (1000005L, "café😀" * 50)             // non-ASCII + astral
    ).toDF("doc_id", "text")
    val docs = fixture.unionByName(edges)
    val hof = docs.withColumn("e", expr(
      """transform(
        |  sequence(CAST(0 AS BIGINT),
        |    CAST((greatest(length(text), 1) - 1) div 100 AS BIGINT)),
        |  f -> aggregate(
        |    sequence(f * 100 + 1, least(CAST(length(text) AS BIGINT), (f + 1) * 100)),
        |    CAST(0 AS BIGINT),
        |    (a, p) -> a + ascii(substring(text, CAST(p AS INT), 1))))"""
        .stripMargin)).select(col("doc_id"), col("e"))
    val kernel = docs.select(col("doc_id"),
      graft.functions.F.frameEnergies(col("text")).as("k"))
    val joined = hof.join(kernel, "doc_id")
    assert(joined.count() > 5)
    assert(joined.filter(col("e") =!= col("k")).count() == 0,
      "frame_energies diverges from the HOF chain")
  }

  test("frame_md5s / stride_sample kernels equal the substring forms they " +
    "replaced, on fixture text plus edge cases (mm03/mm04/mm08 hot loops)") {
    import spark.implicits._
    val fixture = T.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("text"))
    val edges = Seq(
      (1000001L, ""),                       // single empty frame / sample
      (1000002L, "x"),
      (1000003L, "a" * 100),                // exact boundary: trailing empty frame
      (1000004L, "b" * 101),
      (1000005L, "café😀" * 50)             // non-ASCII + astral
    ).toDF("doc_id", "text")
    val docs = fixture.unionByName(edges)
    // frame_md5s vs md5(substring) over ALL frames 0..len div 100
    val oldF = docs
      .select(col("doc_id"), col("text"),
        expr("CAST(length(text) AS BIGINT) div 100").as("maxf"))
      .withColumn("f", explode(expr(
        "sequence(CAST(0 AS BIGINT), maxf)")))
      .select(col("doc_id"), col("f"),
        md5(expr("substring(text, f * 100 + 1, 100)")).as("m"))
    val newF = docs.select(col("doc_id"),
        posexplode(F.frameMd5s(col("text"))).as(Seq("pos", "k")))
      .select(col("doc_id"), col("pos").cast(LongType).as("f"), col("k"))
    assert(oldF.join(newF, Seq("doc_id", "f"), "full_outer")
      .filter(col("m").isNull || col("k").isNull || col("m") =!= col("k"))
      .count() == 0, "frame_md5s diverges from the md5(substring) form")
    // stride_sample vs transform(sequence)/substring concat — the OLD form
    // crashes on empty text (sequence(1, 0, 4) is illegal), so the empty
    // row is excluded here and checked standalone below (the kernel's ""
    // is strictly better than the crash it replaces)
    val oldS = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), expr(
        "concat_ws('', transform(sequence(1, length(text), 4), " +
          "p -> substring(text, p, 1)))").as("r"))
    val newS = docs.select(col("doc_id"),
      F.strideSample(col("text"), 4).as("k"))
    assert(oldS.join(newS, "doc_id").filter(col("r") =!= col("k")).count() == 0,
      "stride_sample diverges from the transform/substring form")
    assert(newS.filter(col("doc_id") === 1000001L).head().getString(1) == "")
  }

  test("fitStream fails loudly when MiniBatchKMeans trains multi-partition " +
    "with no shared seed, and trains fine once seeded (ADVICE r11 medium)") {
    val dir = graft.streaming.Streaming.scratchDir("r12_mbk_")
    T.embeddings(spark, "/root/testdata/sf0.001").select(
        col("vec_id").as("pid"), col("vec_id").as("seq"),
        expr("transform(slice(embedding, 1, 4), x -> CAST(x AS DOUBLE))")
          .as("features"), lit(0.0).as("target"))
      .repartitionByRange(2, col("pid"))
      .write.mode("append").parquet(dir)
    val schema = StreamingTrainer.RoutedSchema
    val spec = PipelineSpec(120, "MiniBatchKMeans", Map("k" -> 4.0), Nil,
      "Synchronous")
    // unseeded: the guard must surface through the streaming query, not
    // silently merge misaligned cluster ids
    val err = intercept[Exception] {
      StreamingTrainer.fitStream(spark, dir, schema, spec,
        partitionsPerBatch = 4)
    }
    def rootChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(rootChain(err).exists(c =>
        c.getMessage != null && c.getMessage.contains("shared seed model")),
      s"wrong failure: $err")
    // seeded: same spec trains, replicas align on the shared centroids
    val seedPts = T.embeddings(spark, "/root/testdata/sf0.001")
      .orderBy("vec_id").limit(32)
      .select(expr("transform(slice(embedding, 1, 4), x -> CAST(x AS DOUBLE))"))
      .collect().map(_.getSeq[Double](0).toArray)
    val seed = graft.ml.MiniBatchKMeans.sharedSeed(seedPts.toSeq, 4)
    val fit = StreamingTrainer.fitStream(spark, dir, schema, spec,
      partitionsPerBatch = 4, init = Some(seed))
    assert(fit.model.isInstanceOf[graft.ml.KMeansState])
    assert(fit.model.n > 0L, "seeded streaming fit trained zero points")
    assert(fit.protocolName == "Synchronous")
  }

  test("bucketedArtifact: cached build + the catalog re-register DDL " +
    "branch read the same rows with the same bucketed layout (r12)") {
    import spark.implicits._
    val key = s"r12test#${System.identityHashCode(this)}"
    def build = (1L to 1000L).toDF("k")
      .select(col("k"), (col("k") * 3).as("v"))
    val tbl = graft.operators.StreamOps.bucketedArtifact(
      spark, key, "r12_test", "k", "k BIGINT, v BIGINT")(build)
    val before = spark.table(tbl).orderBy("k").collect().toSeq
    assert(before.size == 1000 && before.head.getLong(1) == 3L)
    // simulate a fresh SparkContext's empty catalog: drop the table entry
    // (files stay — the cache carries the external path) and re-request
    spark.sql(s"DROP TABLE $tbl")
    val tbl2 = graft.operators.StreamOps.bucketedArtifact(
      spark, key, "r12_test", "k", "k BIGINT, v BIGINT")(
      fail("build must not re-run — the artifact cache holds the path"))
    assert(tbl2 == tbl)
    val after = spark.table(tbl2).orderBy("k").collect().toSeq
    assert(after == before, "re-registered table lost rows")
    // the re-registered DDL must preserve the bucket spec, or every
    // downstream join silently regains the corpus-side exchange
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl2")
      .collect().map(_.mkString(" ")).mkString("\n")
    assert(desc.contains("32") && desc.toLowerCase.contains("bucket"),
      s"bucket spec missing after re-register:\n$desc")
  }
}
