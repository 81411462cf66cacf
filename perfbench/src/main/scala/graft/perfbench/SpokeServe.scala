package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import graft.core.Sinks
import graft.ml.Learners
import graft.operators.JobTopology
import graft.streaming._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One generated wire record: its JSON line, when it is due (ms after the
  * phase's time zero), and what the benchmark knows about it.
  * `kind`: training | forecasting | query | control (a phase's opening
  * Creates) | update | delete | create (the in-stream re-Create) |
  * malformed.
  * `truth` is the ±1 class of a data record (never sent for forecasting
  * records), `x` its features as the route lowers them.
  */
final case class WireRec(line: String, dueMs: Double, kind: String,
    id: Long, requestId: Long, truth: Double = 0.0,
    x: Array[Double] = Array.emptyDoubleArray)

/** Seeded generator of the Job's wire stream (DataInstance and Request
  * JSON lines). Record `i` of a phase is drawn from its own RNG, so the
  * same seed always gives the same files.
  */
final class WireGen(seed: Long, a: Args) {
  private val dimNum = a.int("dim_num")
  private val dimDisc = a.int("dim_disc")
  // concept weights, scaled so w.x has unit variance whatever the seed
  // (numerical features ~ N(0,1), centred discrete ones have variance 1.25)
  private val w = {
    val r = new java.util.SplittableRandom(seed * 131L + 3L)
    val raw = Array.fill(dimNum + dimDisc)(r.nextGaussian())
    val sd = math.sqrt(raw.indices.map(j => raw(j) * raw(j) * (if (j < dimNum) 1.0 else 1.25)).sum)
    raw.map(_ / sd)
  }
  private val queryEvery = a.int("query_every")
  private val updateEvery = a.int("update_every")
  private val recreateEvery = a.int("recreate_every")

  private def num(x: Double) = java.lang.Double.toString(x)

  /** The first file of a phase: both pipelines' Creates plus one Create
    * naming an unknown learner (rejected inside the spoke).
    */
  def creates(reqId: Long): Seq[WireRec] = Seq(
    (1, "PA"), (2, "RegressorPA"), (3, "DeepForest")).map { case (p, l) =>
    WireRec(s"""{"id": $p, "request": "Create", "requestId": $reqId, "learner": {"name": "$l"}}""",
      0.0, "control", p.toLong, reqId)
  }

  /** `n` records of phase `phase`, due on a Poisson schedule at `rate`
    * records per second; requests use request ids from `firstReq` on.
    */
  def records(phase: Long, n: Int, rate: Double, firstReq: Long): Seq[WireRec] = {
    val sched = new java.util.SplittableRandom(Mix.hash(seed, 100L + phase, -1L))
    var t = 0.0
    var req = firstReq
    val out = ArrayBuffer[WireRec]()
    var i = 0
    while (i < n) {
      t += -math.log(1.0 - sched.nextDouble()) * 1000.0 / rate
      val r = new java.util.SplittableRandom(Mix.hash(seed, phase, i.toLong))
      val id = 1000L + i
      val u = r.nextDouble()
      def request(body: String, kind: String, pipe: Long): WireRec = {
        req += 1
        val learner = body match {
          case "Update" => """, "learner": {"name": "RegressorPA"}"""
          case "Create" => """, "learner": {"name": "PA"}"""
          case _ => ""
        }
        WireRec(s"""{"id": $pipe, "request": "$body", "requestId": $req$learner}""",
          t, kind, pipe, req)
      }
      // control records take precedence over the Query cadence: an Update
      // of pipeline 2 halfway through each update_every block, a Delete of
      // pipeline 1 a quarter into each recreate_every block and its
      // re-Create three records later
      val rec =
        if (i % updateEvery == updateEvery / 2) request("Update", "update", 2L)
        else if (i % recreateEvery == recreateEvery / 4) request("Delete", "delete", 1L)
        else if (i % recreateEvery == recreateEvery / 4 + 3) request("Create", "create", 1L)
        else if (i > 0 && i % queryEvery == 0) request("Query", "query", 1L + (i / queryEvery) % 2)
        else if (u < a.dbl("malformed_share"))
          WireRec(if (r.nextBoolean()) "EOS"
            else s"""{"id": $id, "operation": "training", "numericalFeatures": [1.0,""",
            t, "malformed", id, -1L)
        else {
          val xn = Array.fill(dimNum)(math.rint(r.nextGaussian() * 100.0) / 100.0)
          val xd = Array.fill(dimDisc)(r.nextInt(4))
          var m = r.nextGaussian() * a.dbl("label_noise")
          xn.indices.foreach(j => m += w(j) * xn(j))
          xd.indices.foreach(j => m += w(dimNum + j) * (xd(j) - 1.5))
          val target = math.max(0.0, math.min(9.0, math.floor(5.0 + 2.0 * m)))
          val forecast = u < a.dbl("malformed_share") + a.dbl("forecast_share")
          val feats = s""""numericalFeatures": [${xn.map(num).mkString(", ")}], """ +
            s""""discreteFeatures": [${xd.mkString(", ")}]"""
          val x = xn ++ xd.map(_.toDouble)
          val cls = if (target >= 5.0) 1.0 else -1.0
          if (forecast)
            WireRec(s"""{"id": $id, "operation": "forecasting", $feats}""", t,
              "forecasting", id, -1L, cls, x)
          else
            WireRec(s"""{"id": $id, "operation": "training", $feats, "target": ${num(target)}}""",
              t, "training", id, -1L, cls, x)
        }
      out += rec
      i += 1
    }
    out.toSeq
  }
}

/** Metric helpers over a streaming query's triggers. */
object Streams {
  /** Wall span of a drain: first trigger start to last trigger end. */
  def spanMs(ts: Seq[Trigger]): Double =
    (ts.map(t => t.startMs + t.totalMs).max - ts.map(_.startMs).min).toDouble

  /** One stderr line summarizing a drain's triggers (for humans). */
  def logTriggers(what: String, ts: Seq[Trigger]): Unit = {
    def p50(k: String) = Stats.median(ts.map(_.d(k).toDouble)).round
    System.err.println(s"[perfbench] $what: ${ts.length} triggers, p50 ms: " +
      Seq("triggerExecution", "latestOffset", "walCommit", "queryPlanning",
        "addBatch", "commitOffsets").map(k => s"$k=${p50(k)}").mkString(" ") +
      "; each: " + ts.map(_.totalMs).mkString(" "))
  }

  /** Per-trigger engine breakdown (streaming layer) of one drain. */
  def layerMetrics(ts: Seq[Trigger], streamJobs: Long, taskMs: Double,
      wallMs: Double): Seq[Metric] = {
    def p50(f: Trigger => Double) = Stats.median(ts.map(f))
    Seq(
      Metric("streaming.add_batch_ms.p50", p50(_.addBatchMs.toDouble), "ms"),
      Metric("streaming.overhead_ms.p50", p50(t => (t.totalMs - t.addBatchMs).toDouble), "ms"),
      Metric("streaming.latest_offset_ms.p50", p50(_.d("latestOffset").toDouble), "ms"),
      Metric("streaming.planning_ms.p50", p50(_.d("queryPlanning").toDouble), "ms"),
      Metric("streaming.wal_commit_ms.p50", p50(_.d("walCommit").toDouble), "ms"),
      Metric("streaming.jobs_per_batch", streamJobs.toDouble / ts.length, "count"),
      Metric("streaming.parallel_fraction", taskMs / wallMs, "ratio"))
  }

  /** Record each trigger as a span with its progress components laid end
    * to end in execution order (progress reports durations, not starts).
    */
  def traceTriggers(ts: Seq[Trigger], name: String): Unit = if (Trace.on) {
    val off = System.nanoTime() - System.currentTimeMillis() * 1000000L
    ts.foreach { t =>
      val s0 = t.startMs * 1000000L + off
      val id = Trace.add(name, s0, s0 + t.totalMs * 1000000L)
      var c = s0
      Seq("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = t.d(k) * 1000000L
          if (d > 0) { Trace.add(s"streaming.$k", c, c + d, id); c += d }
        }
    }
  }
}

/** `spoke_serve`: the Job's serving path — JobTopology.route, then
  * TwsSpoke on RocksDB with the Job's state-store conf, then a
  * foreachBatch sink writing one JSON-lines file per trigger through
  * Sinks.toJsonRecords. Phase A offers records open-loop at a fixed rate
  * (latency); phase B drains a staged backlog (throughput).
  */
object SpokeServe extends Workload {
  final case class Phase(files: Seq[Seq[WireRec]]) {
    def records: Seq[WireRec] = files.flatten
  }
  final case class Prepared(dir: Path, a: Phase, b: Phase, bDir: Path)

  /** Phase A: file k holds the records due in [(k-1)Δ, kΔ); file 0 the
    * Creates.
    */
  private def openLoop(gen: WireGen, seconds: Double, rate: Double,
      fileMs: Double): Phase = {
    val recs = gen.records(1L, math.max(1, math.round(seconds * rate).toInt), rate, 1L)
    val nFiles = math.max(1, math.ceil(recs.last.dueMs / fileMs).toInt)
    val byFile = recs.groupBy(r => math.min(nFiles, 1 + (r.dueMs / fileMs).toInt))
    Phase(gen.creates(1L) +: (1 to nFiles).map(k => byFile.getOrElse(k, Nil)))
  }

  /** A staged backlog: the Creates, then `files` files of `perFile`
    * records each.
    */
  private def backlog(gen: WireGen, idx: Long, files: Int, perFile: Int): Phase =
    Phase(gen.creates(1L) +: gen.records(idx, files * perFile, 1000.0, 1L).grouped(perFile).toSeq)

  /** Write file k atomically (hidden temp name, mtime, rename). */
  private def writeFile(dir: Path, k: Int, recs: Seq[WireRec], mtime: Long): Unit = {
    val tmp = dir.resolve(f".f$k%05d.tmp")
    Files.write(tmp, recs.map(_.line).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtime))
    Files.move(tmp, dir.resolve(f"f$k%05d.json"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def setup(spark: SparkSession, a: Args, dir: Path): Prepared = {
    val gen = new WireGen(a.seed, a)
    val fileMs = a.dbl("file_ms")
    val pa = openLoop(gen, a.seconds * a.dbl("phase_a_share"), a.dbl("rate"), fileMs)
    val pb = backlog(gen, 2L, math.max(2, math.round(a.seconds *
      (1 - a.dbl("phase_a_share")) * a.dbl("drain_files_per_s")).toInt), a.int("drain_file_records"))
    val bDir = Fs.mkdirs(dir.resolve("backlog"))
    val t0 = System.currentTimeMillis() - 3600000L
    pb.files.zipWithIndex.foreach { case (f, k) => writeFile(bDir, k, f, t0 + k * 1000L) }
    // warm-up: the whole serving path over a short staged stream
    val warm = Fs.mkdirs(dir.resolve("warm"))
    val pw = backlog(gen, 3L, 2, 100)
    pw.files.zipWithIndex.foreach { case (f, k) => writeFile(warm, k, f, t0 + k * 1000L) }
    val (q, _) = start(spark, warm, dir.resolve("warm_out"))
    q.processAllAvailable(); q.stop()
    Prepared(dir, pa, pb, bDir)
  }

  /** Start the serving query over `in`; the sink notes each batch's commit
    * time. Returns the query and the batch id -> commit ms map.
    */
  private def start(spark: SparkSession, in: Path, out: Path,
      progress: Option[ProgressLog] = None): (StreamingQuery, mutable.Map[Long, Long]) = {
    val commits = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    import scala.jdk.CollectionConverters._
    // the conf JobTopology.runJob gives its spoke session
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2.conf.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    // a child session has its own query manager, so listeners attach here
    progress.foreach(s2.streams.addListener)
    val q = Streaming.withStreamShuffle(s2) {
      val raw = s2.readStream.option("maxFilesPerTrigger", "1").text(in.toString)
      TwsSpoke.run(JobTopology.route(raw)).toDF().writeStream
        .option("checkpointLocation", out.resolve("_ckpt").toString)
        .foreachBatch { (b: DataFrame, id: Long) =>
          Sinks.toJsonRecords(b.withColumn("batch", lit(id))).repartition(1)
            .write.mode("append").text(out.resolve("sink").toString)
          commits.put(id, System.currentTimeMillis())
          ()
        }
        .start()
    }
    (q, commits.asScala)
  }

  private val eventSchema = Encoders.product[SpokeEvent].schema.add("batch", "long")

  /** Sink output per batch: (pipelineId, kind, requestId, id, value, info). */
  private def readSink(spark: SparkSession, out: Path)
      : Map[Long, Seq[(Int, String, Long, Long, Double, String)]] =
    if (!Files.exists(out.resolve("sink"))) Map.empty
    else spark.read.text(out.resolve("sink").toString)
      .select(from_json(col("value"), eventSchema).as("e")).select("e.*")
      .collect().toSeq
      .map(r => r.getLong(6) -> (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getString(5)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** Per-key SpokeCore.step replay of a phase: file k is trigger k. The
    * phase's records are routed in one batch job; each envelope goes back
    * to its record's file by record id (data) or request id (control).
    */
  private def replay(spark: SparkSession, ph: Phase, stateSizes: ArrayBuffer[Long])
      : (Seq[Seq[(Int, String, Long, Long, Double, String)]], Long) = {
    import spark.implicits._
    val fileOfData = ph.files.indices.flatMap(k =>
      ph.files(k).filter(r => r.kind == "training" || r.kind == "forecasting").map(_.id -> k)).toMap
    val fileOfReq = ph.files.indices.flatMap(k =>
      ph.files(k).filter(_.requestId >= 0).map(_.requestId -> k)).toMap
    val envs = Trace.span("core.route.replay") {
      JobTopology.route(ph.records.map(_.line).toDF("value")).collect()
    }.groupBy(e => if (e.kind == "data") fileOfData(e.id) else fileOfReq(e.requestId))
    val enc = ExpressionEncoder[SpokeState]().createSerializer()
    val state = mutable.Map[Int, SpokeState]()
    var events = 0L
    val outs = ph.files.indices.map { k =>
      envs.getOrElse(k, Array.empty[Envelope]).groupBy(_.pipelineId).toSeq.sortBy(_._1)
        .flatMap { case (key, es) =>
          events += es.length
          val (out, next) = Trace.span("streaming.spoke.step") {
            SpokeCore.step(key, es.iterator, state.get(key))
          }
          next.foreach { s =>
            state(key) = s
            if (Trace.on) stateSizes += enc(s).asInstanceOf[UnsafeRow].getSizeInBytes
          }
          out.map(e => (e.pipelineId, e.kind, e.requestId, e.id, e.value, e.info))
        }
    }
    (outs, events)
  }

  /** Multiset difference size between expected and observed outputs. */
  private def diff[T](want: Seq[T], got: Seq[T]): Int = {
    val w = want.groupBy(identity).map { case (k, v) => k -> v.size }
    val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
    (w.keySet ++ g.keySet).toSeq.map(k => math.abs(w.getOrElse(k, 0) - g.getOrElse(k, 0))).sum
  }

  def measure(spark: SparkSession, a: Args, p: Prepared, probes: Probes): PassResult = {
    val run = java.util.UUID.randomUUID().toString.take(8)
    val aIn = Fs.mkdirs(p.dir.resolve(s"a_in_$run"))
    val aOut = p.dir.resolve(s"a_out_$run")
    val bOut = p.dir.resolve(s"b_out_$run")
    val fileMs = a.dbl("file_ms")

    // ---- phase A: open loop at a fixed offered rate
    val before = probes.progress.runs
    writeFile(aIn, 0, p.a.files.head, System.currentTimeMillis())
    val (qa, commitsA) = start(spark, aIn, aOut, Some(probes.progress))
    val genLag = ArrayBuffer[Double]()
    val written = new java.util.concurrent.atomic.AtomicInteger(1)
    val backlog = ArrayBuffer[Int]()
    val phaseA = Trace.span("spoke_serve.phase_a") {
      while (!commitsA.contains(0L) && qa.isActive) Thread.sleep(2)
      val t0 = System.currentTimeMillis().toDouble
      val gen = new Thread(() => {
        p.a.files.zipWithIndex.drop(1).foreach { case (f, k) =>
          val due = t0 + k * fileMs
          val wait = (due - System.currentTimeMillis()).toLong
          if (wait > 0) Thread.sleep(wait)
          writeFile(aIn, k, f, System.currentTimeMillis())
          genLag += System.currentTimeMillis() - due
          written.incrementAndGet()
        }
      }, "perfbench-wire-generator")
      gen.start()
      var seen = 1
      val last = p.a.files.length - 1L
      while (!commitsA.contains(last) && qa.exception.isEmpty) {
        if (commitsA.size > seen) {
          seen = commitsA.size
          backlog += written.get() - seen
        }
        Thread.sleep(5)
      }
      gen.join()
      qa.processAllAvailable(); qa.stop()
      t0
    }
    val trigA = probes.progress.await((probes.progress.runs -- before).head)

    // ---- phase B: drain the staged backlog
    val beforeB = probes.progress.runs
    probes.tasks.settle()
    val jobs0 = probes.tasks.snapshot()
    val tb0 = System.nanoTime()
    Trace.span("spoke_serve.phase_b") {
      val (qb, _) = start(spark, p.bDir, bOut, Some(probes.progress))
      qb.processAllAvailable(); qb.stop()
    }
    val wallB = (System.nanoTime() - tb0) / 1e6
    probes.tasks.settle()
    val jobs1 = probes.tasks.snapshot()
    val trigB = probes.progress.await((probes.progress.runs -- beforeB).head)
    Streams.logTriggers("spoke_serve phase A", trigA)
    Streams.logTriggers("spoke_serve phase B", trigB)
    Streams.traceTriggers(trigA, "streaming.trigger.phase_a")
    Streams.traceTriggers(trigB, "streaming.trigger.phase_b")

    // ---- correctness, outside the timed windows
    val sizes = ArrayBuffer[Long]()
    val checks = ArrayBuffer[Check]()
    // the open loop holds only if every file was written on time: a late
    // file would bill the generator's delay to the engine
    val lagTol = a.dbl("gen_lag_tolerance_ms")
    checks += Check("spoke_serve.phase_a.generator_on_time", genLag.length.max(1),
      genLag.count(_ > lagTol) + (if (genLag.isEmpty) 1 else 0),
      s"files=${genLag.length} max_lag_ms=${(0.0 +: genLag.toSeq).max} tolerance_ms=$lagTol")
    val latencies = ArrayBuffer[Double]()
    var right = 0L; var judged = 0L
    var stepEvents = 0L
    Seq(("a", p.a, aOut, trigA, Some(commitsA)), ("b", p.b, bOut, trigB, None))
      .foreach { case (name, ph, out, trig, commits) =>
        val (want, events) = Trace.span("spoke_serve.replay")(replay(spark, ph, sizes))
        stepEvents += events
        val got = readSink(spark, out)
        val perFileRows = ph.files.map(_.length.toLong)
        val triggersOk = trig.map(_.inputRows) == perFileRows
        val bad = want.indices.map(k => diff(want(k), got.getOrElse(k.toLong, Nil))).sum +
          got.keys.count(_ >= want.length)
        checks += Check(s"spoke_serve.phase_$name.outputs_match_replay",
          ph.records.length, math.min(ph.records.length, bad),
          s"batches=${want.length} mismatched_events=$bad")
        // every Update, Delete and re-Create ran through the spoke: the phase
        // holds at least one of each, and each got its log outcome
        val outcome = Map("update" -> "updated", "delete" -> "deleted", "create" -> "created:drained")
        val ctrl = ph.records.filter(r => outcome.contains(r.kind))
        val logs = got.values.flatten.collect { case (_, "log", req, _, _, info) => (req, info) }.toSet
        val absent = outcome.keys.count(k => !ctrl.exists(_.kind == k))
        val unanswered = ctrl.count(r => !logs.contains((r.requestId, outcome(r.kind))))
        checks += Check(s"spoke_serve.phase_$name.update_delete_recreate", ctrl.length + outcome.size,
          absent + unanswered, ctrl.groupBy(_.kind).map { case (k, v) => s"$k=${v.length}" }
            .mkString(" ") + s" kinds_absent=$absent unanswered=$unanswered")
        checks += Check(s"spoke_serve.phase_$name.trigger_k_reads_file_k", ph.files.length,
          if (triggersOk) 0 else ph.files.length, s"triggers=${trig.length} files=${ph.files.length}")
        // prediction quality: pipeline 1 (PA) predictions against truth
        val truth = ph.records.filter(_.kind == "forecasting").map(r => r.id -> r.truth).toMap
        got.values.flatten.foreach { case (pid, kind, _, id, v, _) =>
          if (kind == "prediction" && pid / 1024 == 1 && truth.contains(id)) {
            judged += 1; if (v == truth(id)) right += 1
          }
        }
        // open-loop latency: due time to the commit of the answering batch
        commits.foreach { cm =>
          val t0 = phaseA
          ph.files.zipWithIndex.drop(1).foreach { case (f, k) =>
            val answered = want(k).collect {
              case (_, "prediction", _, id, _, _) => id
              case (_, "response", req, _, _, _) => -req
            }.toSet
            cm.get(k.toLong).foreach { c =>
              f.foreach { r =>
                val key = if (r.kind == "query") -r.requestId else r.id
                if (answered.contains(key)) latencies += c - (t0 + r.dueMs)
              }
            }
          }
        }
      }

    // the route layer alone, batch: parse + route + count over all input
    val allLines = (p.a.records ++ p.b.records).map(_.line)
    import spark.implicits._
    val inputDf = allLines.toDF("value").cache()
    inputDf.count()
    val (dataN, ctrlN) = Trace.span("core.route") {
      val c = JobTopology.route(inputDf).groupBy("kind").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (c.getOrElse("data", 0L), c.getOrElse("control", 0L))
    }
    val dropped = allLines.length - dataN / 2 - ctrlN / 4
    val planted = (p.a.records ++ p.b.records).count(_.kind == "malformed")
    checks += Check("spoke_serve.route_drops_planted_malformed", planted.max(1),
      math.min(planted.max(1), math.abs(dropped - planted)), s"dropped=$dropped planted=$planted")
    inputDf.unpersist()

    // the drain's first trigger reads only the Creates and pays the query's
    // start-up; throughput and trigger time are taken over the data files
    val drain = trigB.filter(_.batchId > 0)
    val batchMs = drain.map(_.totalMs.toDouble)
    val lat = if (latencies.isEmpty) Seq(Double.NaN) else latencies.toSeq
    val rowsB = p.b.files.drop(1).map(_.length).sum
    val e2e = Seq(
      Metric("rows_per_s", rowsB / (Streams.spanMs(drain) / 1000.0), "1/s"),
      Metric("batch_ms.p50", Stats.median(batchMs), "ms"),
      Metric("latency_ms.p50", Stats.median(lat), "ms"),
      Metric("latency_ms.p99", Stats.pct(lat, 99), "ms"),
      Metric("quality", right.toDouble / math.max(1L, judged), "ratio"))

    val layers = if (!Trace.on) Nil else {
      // sinks layer alone: the Kafka-record serialization of every output
      val outs = spark.read.text(Seq(aOut, bOut).map(_.resolve("sink").toString): _*)
        .select(from_json(col("value"), eventSchema).as("e")).select("e.*").cache()
      outs.count()
      Trace.span("core.sinks") {
        Sinks.toJsonRecords(outs).write.format("noop").mode("overwrite").save()
      }
      outs.unpersist()
      // ml layer alone, single-threaded: the PA pipeline's fit over the
      // training records, then predict over the forecasting ones
      val all = p.a.records ++ p.b.records
      val train = all.filter(_.kind == "training")
      val fore = all.filter(_.kind == "forecasting")
      val pa = Learners.create("PA")
      val m = pa.init(train.head.x.length)
      Trace.span("ml.fit")(train.foreach(r => pa.fit(m, r.x, r.truth)))
      val hits = Trace.span("ml.predict")(fore.count(r => pa.predict(m, r.x) == r.truth))
      System.err.println(s"[perfbench] single-threaded PA: $hits/${fore.length} forecasts right")
      val ss = Trace.all
      Streams.layerMetrics(trigB, jobs1.streamJobs - jobs0.streamJobs,
        jobs1.taskMs - jobs0.taskMs, wallB) ++ Seq(
        Metric("core.route.ms", Trace.selfMs(ss, "core.route"), "ms"),
        Metric("core.route.dropped", dropped.toDouble, "count"),
        Metric("core.sinks.ms", Trace.selfMs(ss, "core.sinks"), "ms"),
        Metric("ml.fit_ns_per_row", Trace.selfMs(ss, "ml.fit") * 1e6 / train.length, "ns"),
        Metric("ml.predict_ns_per_row", Trace.selfMs(ss, "ml.predict") * 1e6 / fore.length, "ns"),
        Metric("streaming.spoke.step_us_per_event",
          Trace.selfMs(ss, "streaming.spoke.step") * 1e3 / stepEvents, "us"),
        Metric("streaming.spoke.state_bytes", sizes.sum.toDouble / sizes.length, "bytes"),
        Metric("streaming.state.commit_ms.p50", Stats.median(trigA.map(_.stateCommitMs.toDouble)), "ms"),
        Metric("streaming.state.update_ms.p50", Stats.median(trigA.map(_.stateUpdateMs.toDouble)), "ms"),
        Metric("streaming.state.memory_bytes", trigA.map(_.stateMemBytes).max.toDouble, "bytes"),
        Metric("streaming.backlog_files.max", (0 +: backlog.toSeq).max.toDouble, "count"),
        Metric("bench.gen_lag_ms.max", (0.0 +: genLag.toSeq).max, "ms"))
    }
    PassResult(e2e, layers, checks.toSeq)
  }
}
