package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Command-line arguments of one benchmark run (see run.py). Workload
  * parameters arrive as `--param key=value` pairs taken from
  * workloads.json.
  */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, traces: Path, cpus: Int,
    params: Map[String, String]) {
  def int(k: String): Int = params(k).toInt
  def dbl(k: String): Double = params(k).toDouble
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => (k, v) }.toSeq
    def one(k: String): String = kv.find(_._1 == k).map(_._2)
      .getOrElse(sys.error(s"missing argument $k"))
    val params = kv.filter(_._1 == "--param").map(_._2).map { p =>
      val i = p.indexOf('=')
      p.substring(0, i) -> p.substring(i + 1)
    }.toMap
    Args(one("--workload"), one("--seed").toLong, one("--seconds").toInt,
      one("--trace") == "1", java.nio.file.Paths.get(one("--work")),
      java.nio.file.Paths.get(one("--traces")),
      one("--cpus").toInt, params)
  }
}

final case class Metric(name: String, value: Double, unit: String)

object Mix {
  /** SplitMix64 finalizer over (seed, stream, i): the seed of record i of
    * generator stream `stream`, so every record is reproducible alone.
    */
  def hash(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** A correctness check: `failed` of `attempted` operations went wrong. */
final case class Check(name: String, attempted: Long, failed: Long,
    detail: String = "")

/** What one measured pass of a workload produced. `e2e` holds the
  * end-to-end metrics, `layers` the per-layer ones (filled only when the
  * pass ran traced), `oracle` the (op, output dir, SQL) triples the DuckDB
  * oracle in run.py checks afterwards over the parquet tables in `tables`.
  */
final case class PassResult(e2e: Seq[Metric], layers: Seq[Metric],
    checks: Seq[Check], oracle: Seq[(String, String, String)] = Nil,
    tables: String = "")

object Stats {
  /** Linear-interpolated percentile (q in [0, 100]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.length - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Files and directories the run owns; everything lives under the run's
  * work directory, which run.py deletes when the run ends.
  */
object Fs {
  def mkdirs(p: Path): Path = { Files.createDirectories(p); p }

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }

  def dataFiles(dir: Path): Seq[Path] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".") && Files.isRegularFile(f)
    }.toSeq.sortBy(_.getFileName.toString)
    finally ls.close()
  }
}

/** Per-trigger record of a streaming query, from its progress events. */
final case class Trigger(batchId: Long, startMs: Long, inputRows: Long,
    durations: Map[String, Long], stateCommitMs: Long, stateUpdateMs: Long,
    stateMemBytes: Long) {
  def totalMs: Long = durations.getOrElse("triggerExecution", 0L)
  def addBatchMs: Long = durations.getOrElse("addBatch", 0L)
  def d(k: String): Long = durations.getOrElse(k, 0L)
}

/** Collects streaming progress through the public StreamingQueryListener
  * API. The listener bus delivers events in order, so once a query's
  * terminated event has arrived every progress event of it has too.
  */
final class ProgressLog extends StreamingQueryListener {
  private val byRun = scala.collection.mutable.Map[java.util.UUID, ArrayBuffer[Trigger]]()
  private val done = scala.collection.mutable.Set[java.util.UUID]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized { byRun.getOrElseUpdate(e.runId, ArrayBuffer()) }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      byRun.getOrElseUpdate(e.progress.runId, ArrayBuffer()) += ProgressLog.toTrigger(e.progress)
    }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { done += e.runId; notifyAll() }

  /** Ids of every query run seen so far. */
  def runs: Set[java.util.UUID] = synchronized(byRun.keySet.toSet)

  /** Triggers of `run`, waiting (bounded) for its terminated event. */
  def await(run: java.util.UUID, timeoutMs: Long = 30000L): Seq[Trigger] = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!done.contains(run) && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    require(done.contains(run), s"no terminated event for streaming run $run")
    byRun.getOrElse(run, ArrayBuffer()).toSeq.filter(_.inputRows > 0)
      .sortBy(_.batchId)
  }
}

object ProgressLog {
  def toTrigger(p: StreamingQueryProgress): Trigger = {
    val so = p.stateOperators
    Trigger(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      so.map(_.commitTimeMs).sum, so.map(_.allUpdatesTimeMs).sum,
      so.map(_.memoryUsedBytes).sum)
  }
}

/** Engine-wide counters from the public SparkListener API: jobs, executor
  * task time and shuffle bytes. Events arrive asynchronously, so readers
  * call [[settle]] before taking a snapshot.
  */
final class TaskLog extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private val streamJobs = new java.util.concurrent.atomic.AtomicLong()
  private val taskNs = new java.util.concurrent.atomic.AtomicLong()
  private val shuffle = new java.util.concurrent.atomic.AtomicLong()
  private val events = new java.util.concurrent.atomic.AtomicLong()
  private val jobs = new java.util.concurrent.atomic.AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    jobs.incrementAndGet()
    val props = e.properties
    if (props != null && props.getProperty("streaming.sql.batchId") != null)
      streamJobs.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Wait until no new event arrived for 200 ms (bounded at 10 s). */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    var last = -1L
    while (events.get() != last && System.currentTimeMillis() < deadline) {
      last = events.get(); Thread.sleep(200)
    }
  }

  /** Counters so far; differences of two snapshots cover what ran between. */
  def snapshot(): TaskLog.Snap =
    TaskLog.Snap(jobs.get(), streamJobs.get(), taskNs.get() / 1e6, shuffle.get())
}

object TaskLog {
  final case class Snap(jobs: Long, streamJobs: Long, taskMs: Double, shuffleBytes: Long)
}

/** JVM counters: collector time, and heap in use right after each
  * collection (from GC notifications).
  */
final class JvmLog {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  @volatile var maxHeapAfterGc: Long = 0L
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools.contains(pool) => u.getUsed
        }.sum
        synchronized { maxHeapAfterGc = math.max(maxHeapAfterGc, after) }
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum

  def start(): Unit = gcs.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def stop(): Unit = gcs.foreach {
    case e: NotificationEmitter =>
      scala.util.Try(e.removeNotificationListener(listener))
    case _ => ()
  }
}

object Session {
  /** A local session with the repository's bench settings, every scratch
    * location pointed inside the run's work directory.
    */
  def build(a: Args): SparkSession = {
    val local = Fs.mkdirs(a.work.resolve("spark-local"))
    val wh = Fs.mkdirs(a.work.resolve("warehouse"))
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", wh.toString)
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Milliseconds since this JVM started. */
  def sinceJvmStartMs: Long =
    System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
}
