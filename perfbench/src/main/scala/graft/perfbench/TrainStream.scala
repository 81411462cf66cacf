package graft.perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import graft.ml._
import graft.pipeline.PipelineSpec
import graft.streaming.StreamingTrainer
import org.apache.spark.sql.{Encoders, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** One staged training row, in the schema `fitStream(routed = true)`
  * reads: row `seq` goes to training partition `pid`.
  */
final case class TrainRow(pid: Long, seq: Long, features: Array[Double], target: Double)

/** Seeded multi-class linear concept: x ~ N(0, I) in `dim` dimensions, the
  * label is the class whose seeded weight row scores x highest, and a
  * `noise` share of the labels is replaced by a uniformly drawn class.
  * Row `r` of file `f` is drawn from its own RNG, so the benchmark can
  * regenerate any row without reading the staged files.
  */
final class Concept(seed: Long, val dim: Int, val classes: Int, noise: Double)
    extends Serializable {
  private val w = {
    val r = new java.util.SplittableRandom(seed * 7919L + 5L)
    Array.fill(classes * dim)(r.nextGaussian())
  }

  private def point(r: java.util.SplittableRandom, noisy: Boolean): (Array[Double], Double) = {
    val x = Array.fill(dim)(r.nextGaussian())
    var best = 0; var bestS = Double.NegativeInfinity
    var k = 0
    while (k < classes) {
      var s = 0.0; var i = 0
      while (i < dim) { s += w(k * dim + i) * x(i); i += 1 }
      if (s > bestS) { bestS = s; best = k }
      k += 1
    }
    val y = if (noisy && r.nextDouble() < noise) r.nextInt(classes) else best
    (x, y.toDouble)
  }

  /** Row `r` of staged file `f` (noisy label). */
  def row(f: Int, r: Int): (Array[Double], Double) =
    point(new java.util.SplittableRandom(Mix.hash(seed, 200L + f, r.toLong)), noisy = true)

  /** Held-out point `i` (clean label). */
  def holdout(i: Int): (Array[Double], Double) =
    point(new java.util.SplittableRandom(Mix.hash(seed, 199L, i.toLong)), noisy = false)
}

/** `train_stream`: a closed-loop drain of staged micro-batch files through
  * `StreamingTrainer.fitStream(routed = true, partitionsPerBatch = cpus)`,
  * MultiClassPA under the Synchronous protocol. Every replica is larger
  * than `maxMsgParams`, so each one ships as several ParamBlocks.
  */
object TrainStream extends Workload {
  final case class Prepared(dir: Path, concept: Concept, files: Int, rows: Int)

  private def spec(a: Args) = PipelineSpec(1, "MultiClassPA",
    Map("C" -> a.dbl("C"), "classes" -> a.dbl("classes")),
    protocol = "Synchronous", maxMsgParams = a.int("max_msg_params"))

  private val schema = Encoders.product[TrainRow].schema

  /** Stage `files` parquet files of `rows` rows each into `dir`, file k
    * named and timestamped in sequence so trigger k reads file k.
    */
  private def stage(spark: SparkSession, a: Args, c: Concept, dir: Path,
      first: Int, files: Int, rows: Int): Unit = {
    import spark.implicits._
    val parts = a.cpus
    val t0 = System.currentTimeMillis() - 3600000L
    // one single-task job per file, several files at a time
    def one(k: Int): Unit = {
      val f = first + k
      val tmp = dir.resolve(s"_f$k")
      spark.range(0L, rows.toLong, 1L, 1).as[Long].map { r =>
        val (x, y) = c.row(f, r.toInt)
        TrainRow(r % parts, r, x, y)
      }.write.parquet(tmp.toString)
      val part = Fs.dataFiles(tmp).filter(_.toString.endsWith(".parquet"))
      require(part.length == 1, s"file $k staged as ${part.length} files")
      val dst = dir.resolve(f"f$k%05d.parquet")
      Files.move(part.head, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 + k * 1000L))
      Fs.rmrf(tmp)
    }
    import scala.concurrent.{Await, ExecutionContext, Future}
    (0 until files).map(k => Future(one(k))(ExecutionContext.global))
      .foreach(Await.result(_, scala.concurrent.duration.Duration(120, "s")))
  }

  def setup(spark: SparkSession, a: Args, dir: Path): Prepared = {
    val c = new Concept(a.seed, a.int("dim"), a.int("classes"), a.dbl("label_noise"))
    val rows = a.int("rows_per_file")
    // files 0 and 1 pay the query's start-up; the drain is measured over
    // the rest
    val files = 2 + math.max(2, math.round(a.seconds * a.dbl("drain_files_per_s")).toInt)
    val in = Fs.mkdirs(dir.resolve("in"))
    stage(spark, a, c, in, 0, files, rows)
    // warm-up: the whole training path over a staged stream of its own,
    // with files of the measured size (smaller ones leave the first
    // measured triggers still warming)
    val warm = Fs.mkdirs(dir.resolve("warm"))
    stage(spark, a, c, warm, 1000, a.int("warm_files"), rows)
    StreamingTrainer.fitStream(spark, warm.toString, schema, spec(a),
      partitionsPerBatch = a.cpus, routed = true)
    Prepared(in, c, files, rows)
  }

  final case class Point(batch: Long, fitted: Long, cumLoss: Double,
      modelsShipped: Long, bytesShipped: Long)

  /** Single-threaded replay of the routed fold: per file, one replica per
    * training partition (seeded from the global, rows in seq order)
    * through Learners, ModelWire.chunk/reassemble and
    * Protocol.aggregate — the steps fitStream runs, without the engine.
    */
  private def replay(a: Args, p: Prepared, learner: OnlineLearner)
      : (ModelState, ProtocolStats, Seq[Point]) = {
    val sp = spec(a)
    val parts = a.cpus
    val protocol = Protocols.create(Protocols.resolveName(sp.protocol, sp.learner, parts),
      sp.protocolHp)
    val stats = ProtocolStats()
    var global: Option[ModelState] = None
    var fitted = 0L; var cum = 0.0
    val curve = ArrayBuffer[Point]()
    (0 until p.files).foreach { f =>
      val data = Array.tabulate(p.rows)(r => p.concept.row(f, r))
      val replicas = (0 until parts).filter(_ < p.rows).map { pid =>
        val m = global.map(_.deepCopy).getOrElse(learner.init(p.concept.dim))
        m.n = 0L; m.cumLoss = 0.0
        Trace.span("ml.fit") {
          var r = pid
          while (r < p.rows) { learner.fit(m, data(r)._1, data(r)._2); r += parts }
          learner.finish(m)
        }
        pid -> m
      }
      val blocks = Trace.span("ml.wire") {
        replicas.flatMap { case (pid, m) => ModelWire.chunk(m, sp.maxMsgParams, pid) }
      }
      val shipped = Trace.span("ml.wire") {
        ModelWire.reassemble(blocks, (d, ps) => learner.init(d).loadWire(ps))
      }
      stats.blocks += blocks.length
      val merged = Trace.span("ml.protocol") {
        protocol.aggregate(shipped, global, learner, stats,
          totalReplicas = blocks.count(_.idx == 0).toLong)
      }
      fitted += merged.n; cum += merged.cumLoss
      merged.n = fitted; merged.cumLoss = cum
      global = Some(merged)
      curve += Point(f, fitted, cum, stats.modelsShipped, stats.bytesShipped)
    }
    (global.get, stats, curve.toSeq)
  }

  def measure(spark: SparkSession, a: Args, p: Prepared, probes: Probes): PassResult = {
    val before = probes.progress.runs
    probes.tasks.settle()
    val jobs0 = probes.tasks.snapshot()
    val t0 = System.nanoTime()
    val fit = Trace.span("train_stream.drain") {
      StreamingTrainer.fitStream(spark, p.dir.toString, schema, spec(a),
        partitionsPerBatch = a.cpus, routed = true)
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    probes.tasks.settle()
    val jobs1 = probes.tasks.snapshot()
    val trig = probes.progress.await((probes.progress.runs -- before).head)
    Streams.logTriggers("train_stream", trig)
    Streams.traceTriggers(trig, "streaming.trigger.train")

    // ---- correctness, outside the timed window
    val (want, wantStats, wantCurve) = Trace.span("train_stream.replay")(replay(a, p, fit.learner))
    val got = fit.curve.map(b => Point(b.batch, b.fitted, b.cumLoss, b.modelsShipped, b.bytesShipped))
    val checks = Seq(
      Check("train_stream.curve_matches_replay", p.files,
        wantCurve.zipAll(got, null, null).count { case (w, g) => w != g },
        s"batches=${got.length} files=${p.files}"),
      Check("train_stream.model_matches_replay", 1,
        if (java.util.Arrays.equals(want.params, fit.model.params) &&
          wantStats.blocks == fit.stats.blocks) 0 else 1,
        s"blocks=${fit.stats.blocks} replay_blocks=${wantStats.blocks}"),
      Check("train_stream.trigger_k_reads_file_k", p.files,
        if (trig.map(_.inputRows) == Seq.fill(p.files)(p.rows.toLong)) 0 else p.files,
        s"triggers=${trig.length}"),
      Check("train_stream.rows_folded", 1,
        if (fit.model.n == p.files.toLong * p.rows) 0 else 1, s"fitted=${fit.model.n}"))

    val holdout = (0 until a.int("holdout")).map(p.concept.holdout)
    val right = Trace.span("ml.predict")(holdout.count { case (x, y) => fit.learner.predict(fit.model, x) == y })

    // a query's first two triggers pay its start-up (the second is still
    // about a quarter slower than the rest), so the drain is measured over
    // the others
    val drain = trig.filter(_.batchId > 1)
    // a batch's rows reach the global model when its addBatch ends
    val published = drain.map(t => (t.totalMs - t.d("commitOffsets")).toDouble)
    val e2e = Seq(
      Metric("rows_per_s", drain.length.toLong * p.rows / (Streams.spanMs(drain) / 1000.0), "1/s"),
      Metric("batch_ms.p50", Stats.median(drain.map(_.totalMs.toDouble)), "ms"),
      Metric("latency_ms.p50", Stats.median(published), "ms"),
      Metric("latency_ms.p99", Stats.pct(published, 99), "ms"),
      Metric("quality", right.toDouble / holdout.length, "ratio"))

    val layers = if (!Trace.on) Nil else {
      val ss = Trace.all
      val rows = p.files.toDouble * p.rows
      val replayMs = Seq("ml.fit", "ml.wire", "ml.protocol").map(Trace.selfMs(ss, _)).sum
      Streams.layerMetrics(trig, jobs1.streamJobs - jobs0.streamJobs,
        jobs1.taskMs - jobs0.taskMs, wallMs) ++ Seq(
        Metric("ml.fit_ns_per_row", Trace.selfMs(ss, "ml.fit") * 1e6 / rows, "ns"),
        Metric("ml.predict_ns_per_row", Trace.selfMs(ss, "ml.predict") * 1e6 / holdout.length, "ns"),
        Metric("ml.wire.ms", Trace.selfMs(ss, "ml.wire") / p.files, "ms"),
        Metric("ml.protocol.ms", Trace.selfMs(ss, "ml.protocol") / p.files, "ms"),
        Metric("ml.wire.blocks", fit.stats.blocks.toDouble / p.files, "count"),
        Metric("ml.wire.bytes", fit.stats.bytesShipped.toDouble / p.files, "bytes"),
        Metric("ml.models_shipped", fit.stats.modelsShipped.toDouble / p.files, "count"),
        Metric("ml.replay_rows_per_s", rows / (replayMs / 1000.0), "1/s"))
    }
    PassResult(e2e, layers, checks)
  }
}
