package graft

import graft.pipeline.PipelineSpec
import graft.streaming.StreamingTrainer
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Semantic regression guards for the round-10 additions: the streaming
  * trainer's two-phase FGM path (frozen micro-batches must move scalars,
  * never parameter blocks), the deterministic pid-routed mode behind ml31,
  * and ml31's all-or-nothing invariant at any fixture.
  */
class R10OpsSuite extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def trainSchema = StructType(Seq(
    StructField("features", ArrayType(DoubleType)),
    StructField("target", DoubleType)))

  private def stagePlain(nFiles: Int): String = {
    val dir = graft.streaming.Streaming.scratchDir("r10_train_")
    T.embeddings(spark, sf).select(
        col("vec_id"),
        expr("transform(slice(embedding, 1, 4), x -> CAST(x AS DOUBLE))")
          .as("features"),
        when(col("label") >= 5, 1.0).otherwise(-1.0).as("target"))
      .repartitionByRange(nFiles, col("vec_id"))
      .select("features", "target")
      .write.mode("append").parquet(dir)
    dir
  }

  test("streaming FGM frozen micro-batches collect ZERO parameter blocks " +
    "— the blocks and bytes ledgers agree (r9 advisor medium)") {
    val dir = stagePlain(4)
    val fit = StreamingTrainer.fitStream(spark, dir, trainSchema,
      PipelineSpec(101, "PA", Map("C" -> 0.01), Nil, "FGM",
        protocolHp = Map("threshold" -> 1e12)),
      partitionsPerBatch = 4)
    val c = fit.curve.sortBy(_.batch)
    assert(c.size == 4)
    val plen = fit.model.params.length.toLong
    // bootstrap: 4 replicas ship as 4 one-block payloads; the 3 frozen
    // batches each move 4 counter scalars and NOTHING else
    assert(fit.stats.blocks == 4L,
      s"blocks ${fit.stats.blocks}: frozen batches leaked parameter blocks")
    assert(fit.stats.scalars == 3L * 4L,
      s"scalars ${fit.stats.scalars}, want 4 counters x 3 frozen batches")
    assert(fit.stats.bytesShipped == 4L * plen * 8L + 3L * 4L * 8L,
      s"bytes ${fit.stats.bytesShipped} disagree with the block ledger")
    assert(fit.stats.modelsShipped == 4L)
  }

  test("routed mode: (pid, seq) assignment is deterministic — two runs " +
    "over the same staged batches merge to bit-identical models") {
    val dir =
      graft.streaming.Streaming.scratchDir("r10_routed_") + "/b"
    T.embeddings(spark, sf).filter(col("vec_id") < 200).select(
        (col("vec_id") % 2).as("pid"), col("vec_id").as("seq"),
        expr("transform(slice(embedding, 1, 4), x -> CAST(x AS DOUBLE))")
          .as("features"),
        when(col("label") % 2 === 1, 1.0).otherwise(-1.0).as("target"))
      .coalesce(1).write.parquet(dir)
    val schema = StructType(Seq(
      StructField("pid", LongType), StructField("seq", LongType),
      StructField("features", ArrayType(DoubleType)),
      StructField("target", DoubleType)))
    def run() = StreamingTrainer.fitStream(spark, dir, schema,
      PipelineSpec(102, "PA", Map("C" -> 1.0), Nil, "Synchronous"),
      partitionsPerBatch = 2, routed = true)
    val a = run(); val b = run()
    assert(a.model.params.sameElements(b.model.params),
      "routed fit is not replayable — partition assignment or order drifted")
    assert(a.model.n == 200L && a.model.n == b.model.n)
    assert(a.protocolName == "Synchronous",
      "2 routed partitions must not resolve to CentralizedTraining")
  }

  test("routed data path: each training partition folds its rows in " +
    "(pid, seq) order across source tasks, shared pids and ragged rows") {
    import spark.implicits._
    val parts = 4
    // pids 4-6 share training partitions 0-2 with pids 0-2; partition 3
    // gets no rows; seq is shuffled, so every source task sees it out of
    // order; row lengths run 1-4
    val rows = new scala.util.Random(7).shuffle((0 until 60).toList).map { s =>
      val pid = Seq(0L, 1L, 2L, 4L, 5L, 6L)(s % 6)
      (pid, s.toLong, Array.tabulate(1 + s % 4)(j => s * 10.0 + j), s + pid / 10.0)
    }
    val df = spark.sparkContext.parallelize(rows, 3)
      .toDF("pid", "seq", "features", "target")
    val got = StreamingTrainer.routedRows(df, parts)
      .mapPartitionsWithIndex((tp, it) => it.map { case (x, y) => (tp, x.toSeq, y) })
      .collect().toSeq
    val want = rows.sortBy { case (pid, seq, _, _) => (pid, seq) }
      .map { case (pid, _, x, y) => ((pid % parts).toInt, x.toSeq, y) }
    (0 until parts).foreach { tp =>
      assert(got.filter(_._1 == tp) == want.filter(_._1 == tp),
        s"training partition $tp folds the wrong rows or order")
    }
    assert(got.count(_._1 == 3) == 0)

    // a routed fit checkpoints outside its input dir
    val dir = graft.streaming.Streaming.scratchDir("r10_ckpt_")
    graft.streaming.Streaming.stage(spark, dir,
      rows.map { case (pid, seq, _, y) => (pid, seq, Array(seq.toDouble, 1.0), y) }
        .toDF("pid", "seq", "features", "target"))
    val fit = StreamingTrainer.fitStream(spark, dir, df.schema,
      PipelineSpec(103, "PA", Map("C" -> 1.0), Nil, "Synchronous"),
      partitionsPerBatch = parts, routed = true)
    assert(fit.model.n == rows.size.toLong)
    def ls(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val it = java.nio.file.Files.list(p)
      try it.iterator().asScala.toSeq finally it.close()
    }
    assert(ls(java.nio.file.Paths.get(dir)).forall(java.nio.file.Files.isRegularFile(_)))

    // so does a memory drain over a memoized staged dir, and its
    // run-once checkpoint is gone when the drain returns
    import graft.streaming.Streaming
    val staged = Streaming.stagedDir("r10_memdrain", dir)(Streaming.stage(spark, _,
      Seq(1, 2).toDF("v"), Seq(3).toDF("v")))
    val base = java.nio.file.Paths.get(Streaming.scratchDir("r10_base_")).getParent
    def drainDirs(): Set[java.nio.file.Path] =
      ls(base).filter(_.getFileName.toString.startsWith("graft_drain_")).toSet
    val before = drainDirs()
    var during = Set.empty[java.nio.file.Path]
    val drained = Streaming.drain(spark, staged, Seq(1).toDF("v").schema,
        Streaming.Sink.Memory("r10_memdrain")) { src => during = drainDirs() -- before; src }
      .as[Int].collect().toSeq.sorted
    assert(drained == Seq(1, 2, 3))
    assert(during.size == 1, s"the drain's checkpoint dir: $during")
    assert(!during.exists(java.nio.file.Files.exists(_)), s"$during outlived its drain")
    assert(ls(java.nio.file.Paths.get(staged)).forall(java.nio.file.Files.isRegularFile(_)),
      s"$staged holds more than its data files")
  }

  test("ml31 invariant at any fixture: FGM advances all-or-nothing per " +
    "batch, quanta stay positive, and the reset quantum is exactly T/2") {
    val rows = SparkEntry.queries("ml31_fgm_false_alarm_replay")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val n = SparkEntry.queries("ml31_fgm_false_alarm_replay")(spark, sf)
      .head().getLong(2)
    // batch sizes 160/80/240: batch 0 always bootstraps; each later batch
    // contributes its full row count or nothing
    val valid = for (b2 <- Seq(0L, 80L); b3 <- Seq(0L, 240L))
      yield 160L + b2 + b3
    assert(valid.contains(n), s"partial advance: n_fitted $n not in $valid")
    val (t2, t3) = (rows(6L), rows(7L))
    assert(t2 > 0.0 && t3 > 0.0, s"non-positive quantum: $t2 / $t3")
    // a quantum that is neither T/2 (sync or quiet) nor a rebalance must
    // not appear; rebalanced quanta are < T/2 by construction (psi > -kT)
    assert(t2 == 0.6 || t2 < 0.6, s"theta after batch 1 out of range: $t2")
    assert(t3 == 0.6 || t3 < 0.6, s"theta after batch 2 out of range: $t3")
  }

  // ---- p08 capstone building blocks ----

  private def ctl(seq: Long, reqType: String, learner: String = "",
      reqId: Long = -1L) =
    graft.streaming.Envelope(seq, 1, "control", reqType, learner, reqId,
      -1, Nil, None, "")
  private def pt(seq: Long, id: Long) =
    graft.streaming.Envelope(seq, 1, "data", "", "", -1L, id,
      Seq(1.0, 2.0), Some(1.0), "training")

  test("SpokeCore enforces the catalog's per-id statefulness: duplicate " +
    "Create and Query-on-missing are rejected with tagged logs " +
    "(PipelineMap.scala:31-47)") {
    val step = new SpokeHarness.Steps()
    // Query before any Create: rejected, no response partial
    val r0 = step(ctl(0, "Query", reqId = 5L))
    assert(r0.map(e => (e.kind, e.info)) ==
      Seq(("log", "query_rejected:missing")))
    // invalid learner name: the catalog's validation rejection, in place —
    // never an executor crash (PipelineMap.scala:66-69)
    val rv = step(ctl(0, "Create", "DeepForest", 7L))
    assert(rv.map(e => (e.kind, e.info, e.requestId)) ==
      Seq(("log", "create_rejected:invalid learner: DeepForest", 7L)))
    val ru = step(ctl(0, "Update", "NotALearner", 8L))
    assert(ru.map(e => (e.kind, e.info)) ==
      Seq(("log", "update_rejected:invalid learner: NotALearner")))
    // Create, then duplicate Create: second is rejected
    val r1 = step(ctl(1, "Create", "PA", 1L), ctl(2, "Create", "SVM", 2L), pt(3, 0L))
    assert(r1.map(e => (e.kind, e.info, e.requestId)) ==
      Seq(("log", "created:drained", 1L),
        ("log", "create_rejected:exists", 2L)))
    // the duplicate must NOT have replaced the learner
    assert(step.state.get.learnerName == "PA")
    // a real Query still answers
    val r2 = step(ctl(4, "Query", reqId = 9L))
    assert(r2.map(_.kind) == Seq("response"))
  }

  test("ResponseMerge releases exactly at parts == workers, sums fitted, " +
    "averages losses, and clears its state (ResponseConstructor.scala:13-69)") {
    import graft.streaming.{ResponseMerge, WorkerResponse}
    def wr(w: Int, fitted: Long, loss: Double) =
      WorkerResponse(1, w, 9L, fitted, 10L, loss, 0.5)
    val step = ResponseMerge.step(4) _
    // three of four partials: nothing may emit
    val (r0, st0) = step((1, 9L),
      Iterator(wr(0, 100, 0.2), wr(1, 110, 0.4), wr(2, 90, 0.6)), None)
    assert(r0.isEmpty && st0.get.parts == 3)
    // the fourth releases the merged response and removes state
    val (r1, st1) = step((1, 9L), Iterator(wr(3, 100, 0.8)), st0)
    assert(r1.size == 1)
    val m = r1.head
    assert(m.parts == 4 && m.fitted == 400L && m.testn == 40L)
    assert(math.abs(m.avgLoss - 0.5) < 1e-12)
    assert(st1.isEmpty)
    // a second query round on the same key starts from scratch
    val (r2, st2) = step((1, 9L), Iterator(wr(0, 7, 0.1)), st1)
    assert(r2.isEmpty && st2.get.parts == 1)
  }

  test("pre-Create buffer under load: 50k rows x 2 pipelines over 10 " +
    "triggers — TwsSpoke chunked MapState, row tracking off and on, equals " +
    "a SpokeCore.step replay, timings recorded (PLANS.md)") {
    import graft.streaming.Envelope
    val nRows = 50000
    val nFiles = 10
    val per = nRows / nFiles
    def env(seq: Long, pid: Int, id: Long, y: Double) =
      Envelope(seq, pid, "data", "", "", -1L, id, Seq(1.0, 2.0), Some(y), "")
    // 10 trigger files of pre-Create rows for TWO pipelines (state in >1
    // shuffle partition), then Create + Query; every trigger before the
    // Create is pure buffer-append load
    val files = (0 until nFiles).map(f =>
      (f * per until (f + 1) * per).flatMap(i => Seq(
        env(i.toLong, 1, i.toLong, if (i % 2 == 0) 1.0 else -1.0),
        env(i.toLong, 2, i.toLong, if (i % 3 == 0) 1.0 else -1.0)))) :+
      Seq(1, 2).flatMap(pid => Seq(
        Envelope(1000000L, pid, "control", "Create", "PA", 1L, -1, Nil, None, ""),
        Envelope(1000001L, pid, "control", "Query", "", 9L, -1, Nil, None, "")))
    val dir = SpokeHarness.stage(spark, files)
    // MEASURED r10 finding: with the default trackTotalNumberOfRows=true,
    // every ListState.appendValue did a RocksDB GET of the whole merged list
    // to maintain the row-count metric — O(buffer) per append, quadratic over
    // a 50k-row buffer (the first run of this test sat >7 minutes in
    // RocksDB.get). r11: the buffer moved to fixed-size chunks in a MapState
    // (point PUTs, no merge operator), making the shape immune to the flag —
    // this test runs under BOTH settings and requires both to finish fast
    // with identical answers.
    def run(trackRows: Boolean) = {
      val start = System.nanoTime()
      val rows = SpokeHarness.runTws(spark, dir, conf = Map(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" ->
          trackRows.toString))
      (rows, (System.nanoTime() - start) / 1000000L)
    }
    val (twsRows, twsMs) = run(trackRows = false)
    val (twsTrackedRows, twsTrackedMs) = run(trackRows = true)
    info(s"50k-row pre-Create buffer: TwsSpoke/chunked-MapState ${twsMs}ms " +
      s"(tracking off) / ${twsTrackedMs}ms (tracking ON)")
    // both settings drain all 50k rows per pipeline and answer like the replay
    val want = SpokeHarness.replay(files)
    Seq(twsRows, twsTrackedRows).foreach { rows =>
      val d = SpokeHarness.diff(rows, want)
      assert(d.isEmpty, d)
    }
    Seq(1, 2).foreach { pid =>
      val drain = twsRows.find(e => e.pipelineId == pid && e.kind == "log").get
      assert(drain.value == nRows.toDouble, drain.toString)
      val resp = twsRows.find(e => e.pipelineId == pid && e.kind == "response").get
      assert(resp.info.contains("testn=256") &&
        resp.info.contains(s"fitted=${nRows - 256}"), resp.info)
    }
  }

  test("codegen'd vector kernels equal their higher-order-function forms " +
    "bit-for-bit (i8_codes, dot_ll, dot_ff, dist2_dd)") {
    import graft.functions.F
    val e = T.embeddings(spark, sf).limit(200)
    // i8_codes == the 3-stage transform/fold/transform pipeline
    val threeStage = e
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("xd"))
      .withColumn("maxabs", expr(
        "aggregate(xd, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))"))
      .filter(col("maxabs") > 0.0)
      .select(col("vec_id"), expr(
        "transform(xd, x -> CAST(floor(x * 127.0D / maxabs) AS BIGINT))")
        .as("q"))
    val kernel = e.select(col("vec_id"), F.i8Codes(col("embedding")).as("q"))
      .filter(size(col("q")) > 0)
    assert(threeStage.exceptAll(kernel).isEmpty && kernel.exceptAll(threeStage).isEmpty)
    // pairwise kernels vs the zip_with folds on a small cross product
    val a = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("ia"), col("embedding").as("va"),
        col("embedding").cast(ArrayType(DoubleType)).as("da"),
        F.i8Codes(col("embedding")).as("qa"))
    val b = e.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select(col("vec_id").as("ib"), col("embedding").as("vb"),
        col("embedding").cast(ArrayType(DoubleType)).as("db"),
        F.i8Codes(col("embedding")).as("qb"))
    val both = a.crossJoin(b)
      .withColumn("k_ll", F.dotLL(col("qa"), col("qb")))
      .withColumn("h_ll", expr("aggregate(zip_with(qa, qb, (x, y) -> x * y), " +
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .withColumn("k_ff", F.dotFF(col("va"), col("vb")))
      .withColumn("h_ff", expr("aggregate(zip_with(va, vb, (x, y) -> " +
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"))
      .withColumn("k_d2", F.dist2DD(col("da"), col("db")))
      .withColumn("h_d2", expr("aggregate(zip_with(da, db, (x, y) -> " +
        "(x - y) * (x - y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getAs[Long]("k_ll") == r.getAs[Long]("h_ll"))
      assert(java.lang.Double.doubleToLongBits(r.getAs[Double]("k_ff")) ==
        java.lang.Double.doubleToLongBits(r.getAs[Double]("h_ff")))
      assert(java.lang.Double.doubleToLongBits(r.getAs[Double]("k_d2")) ==
        java.lang.Double.doubleToLongBits(r.getAs[Double]("h_d2")))
    }
  }

  test("s18: the exact rerank stage returns s01's brute-force cosines for " +
    "every pair it emits, and the int8 stage-1 pool keeps recall@5 high") {
    val rr = SparkEntry.queries("s18_quantized_rerank")(spark, sf).collect()
    val exact = SparkEntry.queries("s01_topk_bruteforce")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cos")).toMap
    assert(rr.map(_.getAs[Long]("q_id")).distinct.length == 16)
    rr.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rows) =>
      assert(rows.length == 5, s"query $q returned ${rows.length} rows")
      assert(rows.map(_.getAs[Long]("rk")).sorted.sameElements(1L to 5L))
    }
    // rerank cosines are the s01 kernel bit-for-bit wherever both rank
    val hits = rr.flatMap { r =>
      exact.get((r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
        .map(c => (c, r.getAs[Double]("cos")))
    }
    hits.foreach { case (want, got) =>
      assert(java.lang.Double.doubleToLongBits(want) ==
        java.lang.Double.doubleToLongBits(got), s"cos $got != exact $want")
    }
    // int8 coarse stage at C=40 should keep most of the true top-5
    val recall = hits.length.toDouble / exact.size
    info(f"s18 recall@5 vs s01 exact: $recall%.3f")
    assert(recall >= 0.8, f"stage-1 pool lost too much: recall $recall%.3f")
  }

  test("st44: streaming rerank serve equals batch s18 value-for-value — " +
    "trigger boundaries move no candidate and no score") {
    val stream = SparkEntry.queries("st44_stream_rerank_serve")(spark, sf)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("vec_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("cos")))).toSeq
    val batch = SparkEntry.queries("s18_quantized_rerank")(spark, sf)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("vec_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("cos")))).toSeq
    assert(stream == batch)
  }

  test("st45: incremental drift-retrain state lands on p09's batch " +
    "weights bit-for-bit, and the fold resumes exactly across triggers") {
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("segment"),
        r.getAs[Long]("n_fit"), Option(r.getAs[java.lang.Long]("drift_at")),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("w_lag1")),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("w_lag2")),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("w_bias")))).toSeq
    val stream =
      key(SparkEntry.queries("st45_stream_drift_retrain")(spark, sf).collect())
    val batch = key(SparkEntry.queries("p09_drift_retrain")(spark, sf).collect())
    assert(stream == batch)
  }

  test("s20: the recall curve is monotone in C, and its C=40 point IS " +
    "s18's realized recall against the exact top-5") {
    val curve = SparkEntry.queries("s20_rerank_recall_curve")(spark, sf)
      .collect().map(r => r.getAs[Long]("pool_c") ->
        (r.getAs[Long]("hits"), r.getAs[Double]("recall_at_5"))).toMap
    val cs = curve.keys.toSeq.sorted
    assert(cs == Seq(5L, 10L, 20L, 40L))
    cs.sliding(2).foreach { case Seq(a, b) =>
      assert(curve(a)._1 <= curve(b)._1, s"hits not monotone at C=$b")
    }
    // s18 reranks the same C=40 pool with the same exact kernel, so the
    // number of its emitted pairs that sit in the exact top-5 must equal
    // the curve's C=40 hit count
    val s18 = SparkEntry.queries("s18_quantized_rerank")(spark, sf)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .toSet
    val exact = SparkEntry.queries("s01_topk_bruteforce")(spark, sf)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .toSet
    assert(exact.intersect(s18).size.toLong == curve(40L)._1,
      s"s18 top-5 hits ${exact.intersect(s18).size} != curve C=40 " +
        s"hits ${curve(40L)._1}")
  }

  test("d28: the scrub's accounting is exactly d23's coverage — same " +
    "spans, removed == covered, kept + removed == n_chars") {
    val scrub = SparkEntry.queries("d28_span_scrub")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_spans"),
        r.getAs[Long]("kept_chars"), r.getAs[Long]("removed_chars"))).toMap
    val d23 = SparkEntry.queries("d23_duplicate_spans")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("covered_chars"))).toMap
    val chars = T.documents(spark, sf).select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scrub.keySet == chars.keySet) // every doc passes through
    var removedTotal = 0L
    scrub.foreach { case (id, (nSpans, kept, removed)) =>
      assert(kept + removed == chars(id), s"doc $id: kept+removed mismatch")
      d23.get(id) match {
        case Some((want, covered)) =>
          assert(nSpans == want && removed == covered,
            s"doc $id: scrub ($nSpans, $removed) != d23 ($want, $covered)")
        case None => // under 40 chars: d23 excludes, scrub passes through
          assert(nSpans == 0L && removed == 0L, s"doc $id scrubbed chars")
      }
      removedTotal += removed
    }
    assert(removedTotal > 0L, "fixture has cross-doc spans; none removed")
  }

  test("g14: Adamic-Adar emits only non-edges, every score replays from " +
    "1/ln(deg) over true common neighbors") {
    val rows = SparkEntry.queries("g14_adamic_adar")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val bi = graft.operators.Graph.coPurchaseEdges(spark, sf)
      .filter(substring(md5(concat(
        least(col("a"), col("b")).cast("string"), lit(":"),
        greatest(col("a"), col("b")).cast("string"))), 1, 1) === "0")
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = bi.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val edges = bi.toSet
    rows.foreach { r =>
      val (a, c) = (r.getAs[Long]("a"), r.getAs[Long]("c"))
      assert(!edges.contains((a, c)), s"($a,$c) is an existing edge")
      val common = nbrs.getOrElse(a, Set.empty[Long])
        .intersect(nbrs.getOrElse(c, Set.empty[Long]))
        .filter(m => nbrs(m).size >= 2)
      assert(common.size.toLong == r.getAs[Long]("common"),
        s"($a,$c): common ${r.getAs[Long]("common")} != ${common.size}")
      val want = common.toSeq.map { m =>
        BigDecimal(1.0 / math.log(nbrs(m).size.toDouble))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      assert(math.abs(r.getAs[Double]("aa") - want) < 1e-9,
        s"($a,$c): aa ${r.getAs[Double]("aa")} != $want")
    }
    // descending score order with (a, c) tiebreak
    val key = rows.map(r => (-r.getAs[Double]("aa"), r.getAs[Long]("a"),
      r.getAs[Long]("c"))).toSeq
    assert(key == key.sorted, "top-50 is not (aa DESC, a, c) ordered")
  }

  test("p09: segment structure follows ml16's alarms, and each segment's " +
    "weights satisfy the ridge normal equations it was solved from") {
    val out = SparkEntry.queries("p09_drift_retrain")(spark, sf).collect()
    val alarms = SparkEntry.queries("ml16_cusum_drift")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        Option(r.getAs[java.lang.Long]("first_alarm_pos"))).toMap
    alarms.foreach { case (et, alarm) =>
      val segs = out.filter(_.getAs[String]("event_type") == et)
        .map(_.getAs[Long]("segment")).sorted.toSeq
      val want = if (alarm.isDefined) Seq(0L, 1L) else Seq(0L)
      assert(segs == want, s"$et: segments $segs, alarm $alarm")
    }
    // re-derive one segment's normal equations from the raw rows and check
    // A w = b within rounding tolerance (w carries 6 dp)
    val et = out.head.getAs[String]("event_type")
    val seg = out.head.getAs[Long]("segment")
    val alarm = alarms(et).map(_.toLong)
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val rows = T.events(spark, sf).filter(col("event_type") === et)
      .withColumn("rn", row_number().over(ord))
      .withColumn("l1", lag(col("value"), 1).over(ord))
      .withColumn("l2", lag(col("value"), 2).over(ord))
      .filter(col("l2").isNotNull)
      .select("rn", "l1", "l2", "value").collect()
      .map(r => (r.getAs[Int]("rn").toLong, r.getAs[Double]("l1"),
        r.getAs[Double]("l2"), r.getAs[Double]("value")))
      .filter { case (rn, _, _, _) =>
        val inSeg1 = alarm.exists(rn >= _)
        if (seg == 1L) inSeg1 else !inSeg1
      }
    val n = rows.length.toDouble
    def s(f: ((Long, Double, Double, Double)) => Double) = rows.map(f).sum
    val a = Array(
      Array(1.0 + s(t => t._2 * t._2), s(t => t._2 * t._3), s(t => t._2)),
      Array(s(t => t._2 * t._3), 1.0 + s(t => t._3 * t._3), s(t => t._3)),
      Array(s(t => t._2), s(t => t._3), 1.0 + n))
    val b = Array(s(t => t._4 * t._2), s(t => t._4 * t._3), s(t => t._4))
    val w = Array(out.head.getAs[Double]("w_lag1"),
      out.head.getAs[Double]("w_lag2"), out.head.getAs[Double]("w_bias"))
    assert(out.head.getAs[Long]("n_fit") == rows.length.toLong)
    (0 until 3).foreach { r =>
      val lhs = (0 until 3).map(cc => a(r)(cc) * w(cc)).sum
      // residual tolerance: |A| entries are O(n * value^2); 6-dp weight
      // rounding perturbs A*w by up to ~|A|_row * 5e-7
      val tol = a(r).map(math.abs).sum * 1e-6 + 1e-6
      assert(math.abs(lhs - b(r)) <= tol,
        s"row $r: A*w = $lhs vs b = ${b(r)} (tol $tol)")
    }
  }
}
