package graft.streaming

import graft.ml.{HeldOut, HeldOutRing, Learners, ModelState, OnlineLearner}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode}
import org.apache.spark.sql.types.StructType

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag

/** Structured-Streaming side of the engine.
  *
  * Mirrors the reference's streaming dataflow (SURVEY §2.3-2.4) on Spark:
  *  - event-time windows + watermarks replace the reference's ingestion-time
  *    processing (the reference has none of these — §2.7 — so they come from
  *    Spark built-ins);
  *  - [[TwsSpoke]] is the K1/K2 analog: a keyed stateful processor
  *    (transformWithState on RocksDB, see [[stateSession]]) holding
  *    per-pipeline model state, buffering data that arrives before Create
  *    (SpokeLogic.scala:28-35), training on the data path, answering Query
  *    with loss/count snapshots and emitting Predictions for forecasting
  *    points.
  *
  * Batch fixtures are staged by [[Streaming.stage]] as one parquet file per
  * part with strictly increasing mtimes, and every query over them runs
  * through [[Streaming.drain]], which reads one file per trigger
  * ([[Streaming.source]]): a query really runs multiple triggers and the
  * watermark advances between them — append-mode window results are
  * produced by watermark progress, not by query shutdown. The drain owns
  * every checkpoint and the per-batch output layout ([[Streaming.Output]]):
  * a replayed batch rewrites its own output instead of appending twice. A
  * far-future sentinel row ([[Streaming.eventsSentinel]]) closes the tail
  * windows; rows derived from it are filtered out after the run (the
  * oracle never sees the sentinel).
  */
object Streaming {

  /** A child session for every keyed-state operator of the Job
    * ([[TwsSpoke]], and [[ResponseMerge]], [[JobStatsOperator]] and
    * [[TwsStatsOperator]] on [[TwsStepProcessor]]): shares the SparkContext,
    * owns its conf and catalog, so the provider is set per query instead of
    * on the caller's session. transformWithState needs the RocksDB
    * provider. The provider's default row-count metric
    * (`trackTotalNumberOfRows`) GETs the whole merged value on every state
    * write, so it is off (PLANS.md r10). Its queries checkpoint through
    * [[LocalCheckpointFileManager]], also those started on it directly
    * rather than through [[drain]], and their RocksDB stores commit each
    * version as a changelog file, uploading snapshots in the background
    * ([[LocalCheckpointFileManager.install]] sets both).
    */
  def stateSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2.conf.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    LocalCheckpointFileManager.install(s2)
    s2
  }

  /** Base for scratch dirs (staged fixtures, checkpoints, operator
    * output): RAM-backed tmpfs when available, else java.io.tmpdir. This
    * only dodges shared-disk fsync latency on the local bench — the
    * checkpoint protocol (offset/commit WAL, state-store deltas, recovery)
    * runs unchanged, and the restart tests prove recovery against the
    * same layout. Every checkpoint here is a `file:` root, which
    * [[LocalCheckpointFileManager]] writes without starting processes. A
    * cluster deployment points checkpoints at HDFS/S3 instead, and gets
    * Spark's default manager there.
    */
  private val scratchBase: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Every dir [[scratchDir]] created. One that [[cleanScratch]] deleted
    * stays listed, so the exit hook deletes it again: RocksDB's background
    * maintenance uploads a stopped query's last snapshot into its
    * checkpoint, and so can recreate a drain's deleted scratch dir. */
  private val scratchCreated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** One JVM shutdown hook deletes whatever scratch is left: on tmpfs,
    * leftover dirs hold RAM until the host reboots. */
  private lazy val scratchHook: Unit = sys.addShutdownHook(cleanScratch())

  /** Create a scratch directory under [[scratchBase]], deleted at JVM
    * exit. Operators and suites make their temp dirs here, so that none
    * outlives the JVM. */
  def scratchDir(prefix: String): String = {
    scratchHook
    val dir = Files.createTempDirectory(scratchBase, prefix).toString
    scratchCreated.add(dir)
    dir
  }

  /** Recursively delete `dirs` (default: every scratch dir still alive);
    * paths [[scratchDir]] did not create are ignored. Best effort: a dir
    * that something still writes into may survive. Memoized staging that
    * points into a deleted dir is stale, so only the exit hook deletes
    * them all. */
  def cleanScratch(dirs: Iterable[String] = scratchCreated.toArray(
      Array.empty[String]).toSeq): Unit =
    dirs.filter(scratchCreated.contains).foreach { d =>
      try {
        val walk = Files.walk(java.nio.file.Paths.get(d))
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      } catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException => ()
      }
    }

  private val stagedDirCache =
    scala.collection.concurrent.TrieMap[(String, String), String]()

  /** The one memo of an on-disk artifact derived from a fixture (staged
    * streams, layout copies, standing indexes, bucketed tables, the w09
    * database): `build` fills a fresh [[scratchDir]] on the first call per
    * (key, sfDir), and every later call in the JVM gets that dir back.
    * The policy: a fixture cannot change under a running JVM, so nothing
    * fingerprints it; each artifact is built on its first use per JVM and
    * deleted by the scratch exit hook, so none outlives it. Building is
    * scaffolding, not operator cost. A staged stream's dir holds only its
    * data files: every [[drain]] over it checkpoints elsewhere.
    */
  def stagedDir(key: String, sfDir: String)(build: String => Unit): String =
    stagedDirCache.getOrElseUpdate((key, sfDir), {
      val dir = scratchDir(s"graft_${key}_")
      build(dir)
      dir
    })

  /** Days past the events' last ts at which [[stageEventsCached]] puts its
    * sentinel. It must exceed watermarkDelay + any join/window range the
    * query needs flushed (outer joins hold unmatched rows until watermark >
    * ts + range); 120 covers the 35-day delays + 7-day ranges used across
    * the streaming set, and a farther sentinel is always safe (it only
    * closes windows sooner relative to the data).
    */
  val SentinelDays = 120

  /** The far-future sentinel row of an events stream: one row of `events`
    * moved to event time `tsMicros` with user_id -1, event_type "sentinel"
    * and value 0. Staged last, it closes every real window.
    */
  def eventsSentinel(events: DataFrame, tsMicros: Long): DataFrame =
    events.limit(1)
      .withColumn("ts", timestamp_micros(lit(tsMicros)))
      .withColumn("user_id", lit(-1L))
      .withColumn("event_type", lit("sentinel"))
      .withColumn("value", lit(0.0))

  /** The events fixture as a staged stream shared by the streaming ops:
    * its two ts-range halves, then the [[SentinelDays]] sentinel, one
    * trigger each in that order. Returns (dir, schema, maxTs-in-micros).
    */
  def stageEventsCached(spark: SparkSession, sfDir: String): (String, StructType, Long) = {
    val events = graft.T.events(spark, sfDir)
    val ts = unix_micros(col("ts"))
    val range = events.agg(min(ts), max(ts)).head()
    val (minTs, maxTs) = (range.getLong(0), range.getLong(1))
    val dir = stagedDir("events", sfDir) { dir =>
      val mid = minTs + (maxTs - minTs) / 2
      stage(spark, dir, events.filter(ts <= mid), events.filter(ts > mid),
        eventsSentinel(events, maxTs + SentinelDays.toLong * 86400L * 1000000L))
    }
    (dir, events.schema, maxTs)
  }

  /** Streaming state-store partition count. Each stateful operator opens one
    * state store per shuffle partition per trigger; at local bench scale 4
    * partitions cut that fixed cost 8x vs the session's 32 while keeping the
    * operator fully partition-parallel (results are partition-count
    * independent — decimal-exact sums, keyed state; the suite re-runs with
    * SPARK_GRAFT_CPUS=32 to prove it). On a real cluster this would be
    * sized to executor count instead.
    */
  val StreamShufflePartitions = 4

  /** Run `body`, which starts streaming queries on `spark`, under the
    * engine's query-scoped conf:
    *  - the session's shuffle partitions temporarily lowered to
    *    [[StreamShufflePartitions]] (streaming queries bake the value into
    *    their state checkpoint at start), restored after `body`;
    *  - [[LocalCheckpointFileManager]] as the checkpoint manager, with
    *    RocksDB changelog checkpointing, left set on `spark`. The manager
    *    must outlive `start()`: the stream thread builds the file source,
    *    and its offset log, from the reader's session after `start()`
    *    returns.
    */
  def withStreamShuffle[A](spark: SparkSession)(body: => A): A = {
    LocalCheckpointFileManager.install(spark)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Append each part to `dir` as one parquet file, so file k is trigger k
    * of a [[drain]]; a part staged after a drain is the next drain's next
    * trigger. The file source orders files by mtime, so each new file's
    * mtime is set, through the path's Hadoop FileSystem, strictly later
    * than every data file already in `dir`.
    */
  def stage(spark: SparkSession, dir: String, parts: Dataset[_]*): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Seq[FileStatus] =
      if (!fs.exists(path)) Nil
      else fs.listStatus(path).toSeq.filter(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    parts.foreach { part =>
      val before = dataFiles()
      part.coalesce(1).write.mode("append").parquet(dir)
      before.map(_.getModificationTime).maxOption.foreach { last =>
        val seen = before.map(_.getPath).toSet
        dataFiles().filterNot(f => seen(f.getPath))
          .foreach(f => fs.setTimes(f.getPath, last + 1000L, -1L))
      }
    }
  }

  /** The one file-per-trigger read of a staged dir. */
  def source(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)

  /** A drain's output: one root holding the query's checkpoint and every
    * named output, `<root>/<name>/batch=<id>` per batch that wrote it. A
    * second drain into the same Output resumes from its checkpoint.
    */
  final case class Output(root: String) {
    private[graft] def checkpoint: String = s"$root/_checkpoint"

    /** The directory of output `name`. */
    def dir(name: String): String = s"$root/$name"

    /** Where a [[Sink.Files]] drain writes. */
    def data: String = dir("data")

    /** The rows of `name` without the batch column: of every batch below
      * `below` (all by default), or with `latest` of the newest of those
      * batches only. Reads as an empty frame of `schema` when no such batch
      * wrote `name`.
      */
    def read(spark: SparkSession, name: String, below: Long = Long.MaxValue,
        latest: Boolean = false, schema: StructType = new StructType()): DataFrame = {
      val path = new Path(dir(name))
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ids = (if (!fs.exists(path)) Nil else fs.listStatus(path).toSeq)
        .map(_.getPath.getName).collect { case Output.BatchDir(id) => id.toLong }
        .filter(_ < below).sorted
      val picked = if (latest) ids.takeRight(1) else ids
      if (picked.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
      else spark.read.parquet(picked.map(id => s"${dir(name)}/batch=$id"): _*)
    }
  }
  object Output {
    private val BatchDir = "batch=(\\d+)".r
  }

  /** A scratch [[Output]], deleted at JVM exit. */
  def output(prefix: String): Output = Output(scratchDir(prefix))

  /** Batch `id`'s writer into `out`. */
  final class Writer private[graft] (val out: Output, val id: Long) {
    /** Replace this batch's rows of `name` whole: a replayed batch rewrites
      * only its own output. */
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"${out.dir(name)}/batch=$id")
  }

  /** Where a [[drain]] writes; `A` is what the drain returns. [[Memory]]
    * and [[Batches]] drains run once, on a checkpoint the drain deletes
    * when it ends; [[Writes]] and [[Files]] drains checkpoint into their
    * [[Output]] and resume from it.
    */
  sealed trait Sink[A]
  object Sink {
    /** Memory table `name` in output mode `mode` (append, complete or
      * update); the drain returns the table. */
    final case class Memory(name: String, mode: String = "append")
        extends Sink[DataFrame]
    /** `f(batch, batchId)` once per trigger. */
    final case class Batches(f: (DataFrame, Long) => Unit) extends Sink[Unit]
    /** `f(batch, w)` once per trigger, writing through `w` into `out`. */
    final case class Writes(out: Output)(val f: (DataFrame, Writer) => Unit)
        extends Sink[Unit]
    /** Spark's exactly-once parquet file sink at `out.data`, with its own
      * `_spark_metadata` log. */
    final case class Files(out: Output, partitionBy: Seq[String] = Nil)
        extends Sink[Unit]
  }

  /** Run `build` over the staged `dir` as a streaming query, one file per
    * trigger, into `sink` until every staged file is processed. The query
    * is stopped, the shuffle width restored and a run-once checkpoint
    * deleted, even when the sink throws.
    */
  def drain[A](spark: SparkSession, dir: String, schema: StructType,
      sink: Sink[A])(build: DataFrame => DataFrame): A = {
    val (out, once) = sink match {
      case w: Sink.Writes => (w.out, false)
      case f: Sink.Files => (f.out, false)
      case _ => (output("graft_drain_"), true)
    }
    try withStreamShuffle(spark) {
      val w = build(source(spark, dir, schema)).writeStream
        .option("checkpointLocation", out.checkpoint)
      val q = (sink match {
        case Sink.Memory(name, mode) =>
          w.format("memory").queryName(name).outputMode(mode)
        case Sink.Batches(f) => w.foreachBatch(f)
        case ws: Sink.Writes =>
          w.foreachBatch((b: DataFrame, id: Long) => ws.f(b, new Writer(out, id)))
        case Sink.Files(_, by) =>
          w.format("parquet").option("path", out.data).partitionBy(by: _*)
      }).start()
      try q.processAllAvailable() finally q.stop()
      sink match {
        case Sink.Memory(name, _) => spark.table(name)
        case _: Sink.Batches | _: Sink.Writes | _: Sink.Files => ()
      }
    } finally if (once) cleanScratch(Seq(out.root))
  }
}

/** Envelope: the unified control+data stream element (SURVEY §3.4). */
case class Envelope(
    seq: Long, // total order within a pipeline (Kafka offset analog)
    pipelineId: Int,
    kind: String, // "data" | "control"
    reqType: String, // Create | Update | Query | Delete ("" for data)
    learner: String,
    requestId: Long,
    id: Long,
    features: Seq[Double],
    target: Option[Double],
    operation: String)

/** Tagged spoke output (side-output analog, SURVEY §2.4 K9). */
case class SpokeEvent(
    pipelineId: Int,
    kind: String, // "prediction" | "response" | "log"
    requestId: Long,
    id: Long,
    value: Double,
    info: String)

/** Serializable spoke state: model as a blob (Catalyst-encodable), the
  * pre-Create buffer (capped like SpokeLogic.scala:32-35), and the held-out
  * ring of the 2-of-10 split: `testRing`, `ringPos` and `sampleCount` are a
  * [[graft.ml.HeldOutRing]]'s points, pos and cycle. Query answers are
  * scored against the ring (FlinkSpoke.scala:160-163).
  *
  * `buffered`/`bufferedCount` describe the pre-Create buffer. A caller that
  * steps [[SpokeCore]] without a [[SpokeBuffer]] (the per-key replays) keeps
  * the rows inline in `buffered`; [[TwsSpoke]] keeps them in chunked
  * MapState and leaves `buffered` Nil while tracking the size in
  * `bufferedCount`, from which it also derives the number of chunks.
  */
case class SpokeState(
    learnerName: String,
    created: Boolean,
    modelBlob: Array[Byte],
    buffered: Seq[(Seq[Double], Option[Double])],
    bufferedCount: Int = 0,
    testRing: Seq[(Seq[Double], Double)] = Nil,
    ringPos: Int = 0,
    sampleCount: Int = 0,
    pollCount: Int = 0)

/** Pre-Create buffer storage hook: without one, [[SpokeCore.step]] buffers
  * inside [[SpokeState]]; [[TwsSpoke]] plugs in chunked MapState so an
  * append never rewrites the whole buffer.
  */
trait SpokeBuffer {
  def append(features: Seq[Double], target: Option[Double]): Unit
  /** Read every buffered row and clear the buffer. */
  def drain(): Seq[(Seq[Double], Option[Double])]
}

/** The spoke state machine behind [[TwsSpoke]] and the per-key replays
  * that check it: pure (events, state) -> (outputs, state).
  */
object SpokeCore {
  val BufferCap = 100000 // reference record-buffer cap (SpokeLogic.scala:32)
  val TestCap = 256 // reference held-out ring size (DefaultJobParameters)
  val PollEvery = 100 // reference test-mode poll cadence (FlinkSpoke.scala:85)

  def ser(m: ModelState): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(m); oos.close()
    bos.toByteArray
  }
  def deser(b: Array[Byte]): ModelState = {
    val ois = new ObjectInputStream(new ByteArrayInputStream(b))
    ois.readObject().asInstanceOf[ModelState]
  }

  /** One trigger's worth of events for one pipeline.
    *
    * @param extBuffer when set, pre-Create buffering goes through it instead
    *                  of the in-state `buffered` seq ([[TwsSpoke]]'s
    *                  chunked MapState).
    * @param testMode  reference test mode: every [[PollEvery]] data records
    *                  emit a learning-curve point ("curve" event) scored
    *                  against the current ring — the Spark-native form of the
    *                  reference's SpokeMessage(-1) self-query poll
    *                  (FlinkSpoke.scala:83-89).
    */
  def step(key: Int, eventsIn: Iterator[Envelope], prev: Option[SpokeState],
      extBuffer: Option[SpokeBuffer] = None, testMode: Boolean = false,
      testCap: Int = TestCap)
      : (Seq[SpokeEvent], Option[SpokeState]) = {
    val events = eventsIn.toArray.sortBy(_.seq)
    var st = prev.getOrElse(SpokeState("", created = false, null, Nil))
    var learner: OnlineLearner = if (st.created) Learners.create(st.learnerName) else null
    var model: ModelState = if (st.modelBlob != null) deser(st.modelBlob) else null
    var buffer = st.buffered.toVector
    var bufCount = st.bufferedCount
    var ring = new HeldOutRing(testCap, st.testRing, st.ringPos, st.sampleCount)
    var pollCount = st.pollCount
    val out = ArrayBuffer[SpokeEvent]()

    def train(features: Seq[Double], target: Option[Double]): Unit = {
      if (model == null) model = learner.init(features.length)
      target.foreach(t => learner.fit(model, features.toArray, t))
    }

    /** FlinkSpoke.handleData:92-107 — labelled points go through the
      * 2-of-10 [[HeldOutRing]]; forecasting points never touch the cycle.
      */
    def handleData(features: Seq[Double], target: Option[Double]): Unit =
      target match {
        case Some(y) =>
          ring.offer((features, y)).foreach { case (f, t) => train(f, Some(t)) }
        case None => train(features, None)
      }

    def queryScore(): (Long, Double, Double, Double) = {
      val (n, cum) = if (model == null) (0L, 0.0) else (model.n, model.cumLoss)
      val (tl, sc) = HeldOut.result(learner, HeldOut.sums(learner, model,
        ring.points.iterator.map { case (f, y) => (f.toArray, y) }))
      (n, cum, tl, sc)
    }

    events.foreach { e =>
      if (e.kind == "control") e.reqType match {
        case "Create" =>
          if (learner != null)
            // the catalog's duplicate-Create rejection (PipelineMap.scala:
            // 31-36, "rejected: exists"), surfaced per hosted pipeline —
            // exists takes precedence over validation, like the reference
            out += SpokeEvent(key, "log", e.requestId, -1, 0.0,
              "create_rejected:exists")
          else if (!Learners.names.contains(e.learner))
            // the catalog's learner-name validation (PipelineMap.scala:
            // 66-69) lives WITH the per-pipeline state: a malformed Create
            // is rejected in place, never crashes a worker
            out += SpokeEvent(key, "log", e.requestId, -1, 0.0,
              s"create_rejected:invalid learner: ${e.learner}")
          else {
            learner = Learners.create(e.learner)
            st = st.copy(learnerName = e.learner, created = true)
            val pending = extBuffer.map(_.drain()).getOrElse(buffer)
            buffer = Vector.empty; bufCount = 0
            // drained rows go through handleData, so the 2-of-10 split
            // applies to them too (FlinkSpoke drains via handleData)
            pending.foreach { case (f, t) => handleData(f, t) }
            out += SpokeEvent(key, "log", e.requestId, -1,
              pending.length.toDouble, "created:drained")
          }
        case "Update" =>
          if (!Learners.names.contains(e.learner))
            // Update validates like Create (PipelineMap.scala:37-41)
            out += SpokeEvent(key, "log", e.requestId, -1, 0.0,
              s"update_rejected:invalid learner: ${e.learner}")
          else {
            learner = Learners.create(e.learner)
            st = st.copy(learnerName = e.learner, created = true)
            model = null // fresh model; ring persists (operator-level in ref)
            out += SpokeEvent(key, "log", e.requestId, -1, 0.0, "updated")
          }
        case "Query" =>
          if (learner == null)
            // the catalog's Query-on-missing rejection (PipelineMap.scala:
            // 42-44, "rejected: missing"): no pipeline, no response partial
            out += SpokeEvent(key, "log", e.requestId, -1, 0.0,
              "query_rejected:missing")
          else {
            // scored against the held-out ring (FlinkSpoke.scala:160-163):
            // value = avg test loss; info carries fitted count, ring size,
            // score and the cumulative training loss
            val (n, cum, tl, sc) = queryScore()
            out += SpokeEvent(key, "response", e.requestId, -1, tl,
              s"fitted=$n,testn=${ring.points.length},score=$sc,cumLoss=$cum")
          }
        case "Delete" =>
          learner = null; model = null; buffer = Vector.empty; bufCount = 0
          extBuffer.foreach(_.drain())
          ring = new HeldOutRing(testCap); pollCount = 0
          st = SpokeState("", created = false, null, Nil)
          out += SpokeEvent(key, "log", e.requestId, -1, 0.0, "deleted")
        case _ => ()
      } else {
        if (learner == null) {
          if (bufCount < SpokeCore.BufferCap) {
            extBuffer match {
              case Some(b) => b.append(e.features, e.target)
              case None => buffer :+= ((e.features, e.target))
            }
            bufCount += 1
          }
        } else if (e.operation == "forecasting") {
          if (model != null)
            out += SpokeEvent(key, "prediction", -1, e.id,
              learner.predict(model, e.features.toArray), "")
        } else handleData(e.features, e.target)
        // test-mode polling: one learning-curve point per PollEvery records
        // (the reference's every-100-records self-query)
        if (testMode) {
          pollCount += 1
          if (pollCount == PollEvery) {
            pollCount = 0
            val (n, _, tl, sc) = queryScore()
            out += SpokeEvent(key, "curve", -1L, n, sc, s"testLoss=$tl,testn=${ring.points.length}")
          }
        }
      }
    }
    (out.toSeq, Some(st.copy(
      modelBlob = if (model == null) null else ser(model),
      buffered = buffer,
      bufferedCount = bufCount,
      testRing = ring.points.toSeq,
      ringPos = ring.pos,
      sampleCount = ring.cycle,
      pollCount = pollCount)))
  }
}

/** Spark 4 `transformWithState` binding of [[SpokeCore]] — the stateful API
  * SURVEY §2.4 maps K1/K2 onto, and the only streaming spoke. Requires the
  * RocksDB state store provider: run it in a [[Streaming.stateSession]].
  *
  * Buffer shape (r10 verdict #5 — structural fix for a measured RocksDB
  * trap): r10 stored the pre-Create buffer as one ListState and found that
  * with the provider DEFAULT `trackTotalNumberOfRows=true` every
  * appendValue (a RocksDB merge) also GETs the whole accumulated list to
  * maintain the row-count metric — O(buffer) per append, quadratic across a
  * large buffer (a 50k-row load sat >7 min in RocksDB.get until the flag
  * was turned off). This binding is now IMMUNE to that flag: buffered rows
  * live in fixed-size chunks ([[TwsSpoke.ChunkSize]] rows per entry) inside
  * a MapState keyed by chunk index. MapState updates are plain point PUTs —
  * no merge operator, so no row-count GET-the-world path exists — and each
  * trigger touches ONE bounded tail chunk plus O(newRows/ChunkSize) closed
  * chunks, with tracking ON or OFF (both pinned by the R10 suite load
  * test). Appends within a trigger stage in task memory and flush once
  * after the step, so per-row state-store work is amortized O(1).
  *
  * The state encoders come in built ([[TwsSpoke.run]] builds them once per
  * query): Spark calls `init` for every state partition in every trigger,
  * and `Encoders.product` derives its encoder through Scala reflection.
  */
class TwsSpokeProcessor(stateEncoder: Encoder[SpokeState],
    chunkEncoder: Encoder[BufChunk], testMode: Boolean = false)
    extends StatefulProcessor[Int, Envelope, SpokeEvent] {
  import org.apache.spark.sql.streaming.{MapState, TimerValues, TTLConfig, ValueState}

  @transient private var state: ValueState[SpokeState] = _
  @transient private var bufChunks: MapState[Long, BufChunk] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    state = getHandle.getValueState[SpokeState]("spokeState", stateEncoder, TTLConfig.NONE)
    bufChunks = getHandle.getMapState[Long, BufChunk]("preCreateChunks",
      Encoders.scalaLong, chunkEncoder, TTLConfig.NONE)
  }

  override def handleInputRows(key: Int, rows: Iterator[Envelope],
      timerValues: TimerValues): Iterator[SpokeEvent] = {
    val prev = if (state.exists()) Some(state.get()) else None
    // rows in chunked state: the previous step's `bufferedCount` (every
    // chunk is full but the last), 0 once this step drains the buffer
    var stored = prev.fold(0)(_.bufferedCount)
    def storedChunks: Long =
      (stored + TwsSpoke.ChunkSize - 1) / TwsSpoke.ChunkSize
    // appends stage here during the step; flushed to chunked state below
    val pending = scala.collection.mutable.ArrayBuffer.empty[BufRow]
    val ext = new SpokeBuffer {
      override def append(features: Seq[Double], target: Option[Double]): Unit =
        pending += BufRow(features, target)
      override def drain(): Seq[(Seq[Double], Option[Double])] = {
        val nc = storedChunks
        val held = (0L until nc).iterator
          .flatMap(i => bufChunks.getValue(i).rows)
          .map(r => (r.features, r.target)).toSeq
        if (nc > 0) { bufChunks.clear(); stored = 0 }
        val all = held ++ pending.map(r => (r.features, r.target))
        pending.clear()
        all
      }
    }
    val (out, next) = SpokeCore.step(key, rows, prev, Some(ext), testMode)
    if (pending.nonEmpty) {
      var nc = storedChunks
      var tail =
        if (nc > 0)
          scala.collection.mutable.ArrayBuffer.from(bufChunks.getValue(nc - 1).rows)
        else { nc = 1L; scala.collection.mutable.ArrayBuffer.empty[BufRow] }
      pending.foreach { r =>
        if (tail.length >= TwsSpoke.ChunkSize) {
          bufChunks.updateValue(nc - 1, BufChunk(tail.toSeq)) // close full chunk
          nc += 1
          tail = scala.collection.mutable.ArrayBuffer.empty[BufRow]
        }
        tail += r
      }
      bufChunks.updateValue(nc - 1, BufChunk(tail.toSeq))
    }
    next.foreach(state.update)
    out.iterator
  }
}

/** Row shape of the transformWithState pre-Create buffer. */
case class BufRow(features: Seq[Double], target: Option[Double])

/** One fixed-size chunk of buffered rows — the MapState value type (see
  * [[TwsSpokeProcessor]]'s buffer-shape note).
  */
case class BufChunk(rows: Seq[BufRow])

object TwsSpoke {
  /** Rows per buffer chunk: bounds every per-trigger state GET/PUT to
    * ChunkSize rows regardless of total buffer size. 512 rows x ~(8B x dim)
    * keeps a chunk well under RocksDB's comfortable value size at the
    * fixture dims while amortizing the per-entry overhead 512x.
    */
  val ChunkSize = 512

  /** Wire the processor over an envelope stream. */
  def run(envelopes: Dataset[Envelope], testMode: Boolean = false): Dataset[SpokeEvent] = {
    import envelopes.sparkSession.implicits._
    envelopes.groupByKey(_.pipelineId)
      .transformWithState(new TwsSpokeProcessor(Encoders.product[SpokeState],
        Encoders.product[BufChunk], testMode),
        TimeMode.None(), OutputMode.Append())
  }
}

/** The one `transformWithState` binding of the Job's keyed operators other
  * than the spoke: K5 [[ResponseMerge]], K6 [[JobStatsOperator]] and
  * [[TwsStatsOperator]]. Each is a pure step over one value, which this
  * processor keeps in one ValueState; run it in a [[Streaming.stateSession]].
  *
  * `step(key, rows, state, watermarkMs)` returns the outputs, the next state
  * (None clears it) and an optional event-time timer instant. A returned
  * instant replaces the key's timer (the quiescence timer slides); none
  * leaves it. Clearing the state in a step also deletes the timer. When the
  * timer fires, `onTimer(key, state)` returns the outputs and the next state.
  */
class TwsStepProcessor[K, I, S, O](stateEncoder: Encoder[S],
    step: (K, Iterator[I], Option[S], Long) => (Seq[O], Option[S], Option[Long]),
    onTimer: (K, S) => (Seq[O], Option[S]) = (_: K, s: S) => (Nil, Some(s)))
    extends StatefulProcessor[K, I, O] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues, TTLConfig, ValueState}

  @transient private var state: ValueState[S] = _
  @transient private var timed = false

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    state = getHandle.getValueState[S]("state", stateEncoder, TTLConfig.NONE)
    timed = timeMode == TimeMode.EventTime()
  }

  override def handleInputRows(key: K, rows: Iterator[I],
      timerValues: TimerValues): Iterator[O] = {
    val (out, next, timer) = step(key, rows,
      Option.when(state.exists())(state.get()), timerValues.getCurrentWatermarkInMs())
    if (timed && (next.isEmpty || timer.nonEmpty))
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
    timer.foreach(getHandle.registerTimer)
    next.fold(state.clear())(state.update)
    out.iterator
  }

  // the fired timer was the key's only one, and Spark deletes it
  override def handleExpiredTimer(key: K, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[O] =
    if (!state.exists()) Iterator.empty
    else {
      val (out, next) = onTimer(key, state.get())
      next.fold(state.clear())(state.update)
      out.iterator
    }
}

/** Carrier keeping the watermarked timestamp beside each row through the
  * stateful operator (see [[TwsStep.onEventTime]]).
  */
case class Stamped[I](e: I, eventTime: java.sql.Timestamp)

object TwsStep {
  /** The event-time prelude of the stats operators: a zero-delay watermark
    * on the rows' `eventTimeMs`, carried beside each row to the operator
    * (which drops the rows at or below the previous trigger's watermark);
    * rows `keep` rejects are dropped after they advanced the watermark; the
    * rest are keyed by `key` and bound through [[TwsStepProcessor]] on
    * event time.
    */
  def onEventTime[I <: Product : TypeTag, S, O: Encoder](in: Dataset[I],
      stateEncoder: Encoder[S])(key: I => Int,
      step: (Iterator[I], Option[S], Long) => (Seq[O], Option[S], Option[Long]),
      onTimer: (Int, S) => (Seq[O], Option[S]),
      keep: I => Boolean = (_: I) => true): Dataset[O] = {
    import in.sparkSession.implicits._
    in.withColumn("eventTime", timestamp_millis(col("eventTimeMs")))
      .withWatermark("eventTime", "0 seconds")
      .select(struct(in.columns.map(col).toSeq: _*).as("e"), col("eventTime"))
      .as[Stamped[I]]
      .filter(r => keep(r.e))
      .groupByKey(r => key(r.e))
      .transformWithState(new TwsStepProcessor[Int, Stamped[I], S, O](stateEncoder,
          (_, rows, prev, wm) => step(rows.map(_.e), prev, wm), onTimer),
        TimeMode.EventTime(), OutputMode.Append())
  }
}

/** Per-pipeline statistics record flowing into [[TwsStatsOperator]]
  * (the reference's (String, Statistics) hub output, FlinkHub.scala:96-156).
  */
case class StatEvent(
    pipelineId: Int,
    modelsShipped: Long,
    bytesShipped: Long,
    blocks: Long,
    fitted: Long,
    score: Double,
    eventTimeMs: Long)

case class StatsState(
    modelsShipped: Long, bytesShipped: Long, blocks: Long, fitted: Long,
    score: Double, firstTsMs: Long, lastTsMs: Long)

/** The reference's StatisticsOperator (StatisticsOperator.scala:21-150):
  * merges per-hub statistics per pipeline and uses a quiescence timeout —
  * no new statistics for [[TwsStatsOperator.TimeoutMs]] of EVENT time — to
  * emit the final JobStatistics with the pipeline makespan and clear state.
  * Like the reference's timer API (StatisticsOperator.scala:91,135-142),
  * the timer is a REGISTERED object, slid to lastTs + timeout by every
  * step that takes records and fired by watermark progress into
  * [[onTimer]]. Quiescence is decided by the data's own clock, so replay and
  * backfill behave identically to live ingestion (a processing-time timer
  * would fire mid-backfill on wall-clock pauses).
  */
object TwsStatsOperator {
  val TimeoutMs = 30000L

  def step(rows: Iterator[StatEvent], prev: Option[StatsState],
      watermarkMs: Long): (Seq[SpokeEvent], Option[StatsState], Option[Long]) = {
    // Late-data guard: a record below the watermark arrives after the
    // quiescence decision for its epoch is sealed — processing it would
    // resurrect state the timer already cleared (the reference's event-time
    // timers give the same guarantee: a post-timer record re-opens nothing
    // retroactively).
    val live = rows.filter(_.eventTimeMs >= watermarkMs).toSeq
    if (live.isEmpty) (Nil, prev, None)
    else {
      val st = live.foldLeft(prev.getOrElse(
          StatsState(0, 0, 0, 0, 0.0, Long.MaxValue, Long.MinValue))) { (st, e) =>
        StatsState(
          st.modelsShipped + e.modelsShipped,
          st.bytesShipped + e.bytesShipped,
          st.blocks + e.blocks,
          st.fitted + e.fitted,
          // newest curve point by EVENT time, not iterator order: an
          // out-of-order batch must not leave a stale score behind
          // (the reference keeps the newest point by timestamp)
          if (e.eventTimeMs >= st.lastTsMs) e.score else st.score,
          math.min(st.firstTsMs, e.eventTimeMs),
          math.max(st.lastTsMs, e.eventTimeMs))
      }
      // clamped above the watermark: Spark rejects timers at or below it
      (Nil, Some(st), Some(math.max(st.lastTsMs + TimeoutMs, watermarkMs + 1)))
    }
  }

  /** Quiescence: report the pipeline's statistics and clear its state. */
  def onTimer(key: Int, st: StatsState): (Seq[SpokeEvent], Option[StatsState]) =
    (Seq(SpokeEvent(key, "job_statistics", -1, -1, st.score,
      s"makespan=${st.lastTsMs - st.firstTsMs},models=${st.modelsShipped}," +
        s"bytes=${st.bytesShipped},blocks=${st.blocks},fitted=${st.fitted}")), None)

  /** Per-pipeline statistics over a stats stream whose `eventTimeMs` drives
    * both the watermark and the quiescence timers.
    */
  def run(stats: Dataset[StatEvent]): Dataset[SpokeEvent] = {
    import stats.sparkSession.implicits._
    TwsStep.onEventTime(stats, Encoders.product[StatsState])(
      _.pipelineId, step _, onTimer _)
  }
}

/** One worker shard's answer to a broadcast Query, as read back off the
  * spoke's response sink (the K5 input shape).
  */
case class WorkerResponse(
    pipe: Int, worker: Int, requestId: Long,
    fitted: Long, testn: Long, loss: Double, score: Double)

/** Merged query response released by the exactly-p barrier. */
case class MergedResponse(
    pipe: Int, requestId: Long, parts: Int,
    fitted: Long, testn: Long, avgLoss: Double, avgScore: Double)

private[graft] case class MergeState(
    parts: Int, fitted: Long, testn: Long, lossSum: Double, scoreSum: Double)

/** The reference's ResponseConstructor (ResponseConstructor.scala:13-69) as
  * a STREAMING barrier: worker-shard response partials accumulate per
  * (pipeline, requestId) in keyed state, and the merged QueryResponse is
  * released only when exactly `workers` partials have arrived — dataFitted
  * summed, losses and scores averaged. State is O(open requests), removed on
  * release, so a pipeline with r in-flight queries holds r tiny rows no
  * matter the corpus size; the barrier is trigger-order independent (any
  * subset of partials per trigger accumulates identically).
  */
object ResponseMerge {

  def step(workers: Int)(key: (Int, Long), rows: Iterator[WorkerResponse],
      prev: Option[MergeState]): (Seq[MergedResponse], Option[MergeState]) = {
    val empty = MergeState(0, 0L, 0L, 0.0, 0.0)
    var st = prev.getOrElse(empty)
    val out = ArrayBuffer[MergedResponse]()
    rows.foreach { r =>
      st = MergeState(st.parts + 1, st.fitted + r.fitted, st.testn + r.testn,
        st.lossSum + r.loss, st.scoreSum + r.score)
      if (st.parts == workers) {
        out += MergedResponse(key._1, key._2, st.parts, st.fitted, st.testn,
          st.lossSum / workers, st.scoreSum / workers)
        st = empty
      }
    }
    (out.toSeq, Option.when(st.parts > 0)(st))
  }

  def run(responses: Dataset[WorkerResponse], workers: Int): Dataset[MergedResponse] = {
    import responses.sparkSession.implicits._
    responses.groupByKey(r => (r.pipe, r.requestId))
      .transformWithState(new TwsStepProcessor[(Int, Long), WorkerResponse,
          MergeState, MergedResponse](Encoders.product[MergeState], (k, rows, prev, _) =>
          step(workers)(k, rows, prev) match { case (out, next) => (out, next, None) }),
        TimeMode.None(), OutputMode.Append())
  }
}
