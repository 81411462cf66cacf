package graft.streaming

import graft.ml._
import graft.pipeline.PipelineSpec
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

/** Continuous training over a stream: every micro-batch is one round of a
  * [[RoundDriver]], as in the batch Trainer — partition-local replicas
  * seed from the current global model and the protocol folds them into
  * the next global: the reference's continuous parameter-server exchange
  * (SURVEY §3.2) realized at micro-batch granularity via foreachBatch,
  * with no Kafka feedback loop (design (b) of SURVEY §3.4). No point is
  * held out. The prequential cumulative loss per batch is the learning
  * curve the reference's statistics pipeline tracks (FlinkHub.scala:96-156).
  */
object StreamingTrainer {

  /** `theta` is the FGM quantum carried FORWARD from this batch's decision
    * (T/2 after a sync, -psi/2k after a false-alarm rebalance); NaN for
    * non-FGM protocols. ml31 hash-gates the rebalance arithmetic on it. */
  final case class BatchPoint(batch: Long, fitted: Long, cumLoss: Double,
      modelsShipped: Long, bytesShipped: Long, theta: Double = Double.NaN)

  final case class StreamFit(model: ModelState, learner: OnlineLearner,
      protocolName: String, stats: ProtocolStats, curve: Seq[BatchPoint])

  /** The schema of a training stream: (pid, seq, features, target). */
  val RoutedSchema: StructType = StructType(Seq(
    StructField("pid", LongType), StructField("seq", LongType),
    StructField("features", ArrayType(DoubleType)),
    StructField("target", DoubleType)))

  /** `dir` holds parquet files of [[RoutedSchema]] rows; each file becomes
    * one micro-batch (one protocol round). Rows are routed
    * deterministically — the reference's partitionCustom record-to-worker
    * assignment (FlinkLearning.scala:70-87, random_partitioner replaced by
    * an explicit key): row (pid, seq) lands on training partition
    * pid % partitionsPerBatch, and each partition trains in ascending
    * (pid, seq) order, so two pids share a partition whenever
    * pid >= partitionsPerBatch and each keeps its rows in seq order. One
    * partition forces CentralizedTraining under the resolution rules;
    * multi-replica protocols (GM/FGM gating, averaging) need more. The
    * routed batch crosses the shuffle as columnar [[Block]]s, at most one
    * per (source task, training partition), see [[routedRows]].
    *
    * `routed` names no choice: routing is the only data path, and the
    * argument must be true. It stays in the signature only because
    * perfbench's train_stream passes `routed = true` by name.
    */
  def fitStream(spark: SparkSession, dir: String, schema: StructType,
      spec: PipelineSpec, partitionsPerBatch: Int = 1,
      routed: Boolean = true,
      init: Option[ModelState] = None): StreamFit = {
    require(routed, "fitStream has one data path: routed = true")
    require(partitionsPerBatch >= 1,
      s"partitionsPerBatch must be at least 1, got $partitionsPerBatch")
    val rounds = new RoundDriver(spec, init)
    val curve = ArrayBuffer[BatchPoint]()

    val trainBatch: (DataFrame, Long) => Unit = { (df, batchId) =>
      val rdd = routedRows(df, partitionsPerBatch)
      rounds.round(rounds.resolve(rdd), testCap = 0).foreach { merged =>
        val theta = rounds.protocol match {
          case Some(f: FGM) => f.theta
          case _ => Double.NaN
        }
        curve += BatchPoint(batchId, merged.n, merged.cumLoss,
          rounds.stats.modelsShipped, rounds.stats.bytesShipped, theta)
      }
    }
    Streaming.drain(spark, dir, schema, Streaming.Sink.Batches(trainBatch))(identity)
    StreamFit(rounds.global.getOrElse(rounds.learner.init(1)), rounds.learner,
      rounds.protocolName, rounds.stats, curve.toSeq)
  }

  /** One source task's rows of one training partition, in columns: row i
    * is (pid(i), seq(i)) with features x(off(i) until off(i + 1)) and
    * target y(i), sorted by (pid, seq). `src` is the source task. */
  private[graft] final class Block(val src: Int, val pid: Array[Long],
      val seq: Array[Long], val off: Array[Int], val x: Array[Double],
      val y: Array[Double]) extends Serializable {
    def size: Int = pid.length
    def features(i: Int): Array[Double] =
      java.util.Arrays.copyOfRange(x, off(i), off(i + 1))
    /** Row i of this block orders before row j of `b` by (pid, seq). */
    def before(i: Int, b: Block, j: Int): Boolean =
      pid(i) < b.pid(j) || (pid(i) == b.pid(j) && seq(i) < b.seq(j))
  }

  /** Appends rows to one [[Block]]; sorts it only if the rows arrived out
    * of (pid, seq) order. */
  private final class BlockPacker {
    private val pid = new ArrayBuilder.ofLong
    private val seq = new ArrayBuilder.ofLong
    private val off = new ArrayBuilder.ofInt
    private val x = new ArrayBuilder.ofDouble
    private val y = new ArrayBuilder.ofDouble
    private var n = 0
    private var len = 0
    off += 0

    def isEmpty: Boolean = n == 0

    def add(p: Long, s: Long, xs: Array[Double], t: Double): Unit = {
      pid += p; seq += s; x.addAll(xs); y += t
      len += xs.length; off += len; n += 1
    }

    def result(src: Int): Block = {
      val b = block(src)
      if ((1 until n).forall(i => !b.before(i, b, i - 1))) b
      else {
        val sorted = new BlockPacker
        (0 until n).sortBy(i => (b.pid(i), b.seq(i)))
          .foreach(i => sorted.add(b.pid(i), b.seq(i), b.features(i), b.y(i)))
        sorted.block(src)
      }
    }

    private def block(src: Int): Block = new Block(src, pid.result(),
      seq.result(), off.result(), x.result(), y.result())
  }

  /** The one data path into every trainer's training partitions: each
    * source task packs its rows into one [[Block]] per training partition
    * (pid % parts), a plain partitionBy moves at most (source tasks x
    * parts) blocks, and each training partition merges its blocks lazily
    * by (pid, seq), ties going to the lower source task. Reads
    * [[RoutedSchema]] columns and yields the (features, target) rows of
    * each training partition. */
  private[graft] def routedRows(df: DataFrame, parts: Int) =
    df.queryExecution.toRdd.mapPartitionsWithIndex { (src, rows) =>
      val blocks = Array.fill(parts)(new BlockPacker)
      rows.foreach { row =>
        val pid = row.getLong(0)
        blocks((pid % parts).toInt).add(pid, row.getLong(1),
          row.getArray(2).toDoubleArray(), row.getDouble(3))
      }
      blocks.iterator.zipWithIndex.collect {
        case (b, tp) if !b.isEmpty => (tp, b.result(src))
      }
    }.partitionBy(new HashPartitioner(parts))
      .mapPartitions(blocks => merge(blocks.map(_._2).toArray))

  /** Lazy k-way merge of sorted blocks by (pid, seq). */
  private def merge(unordered: Array[Block]): Iterator[(Array[Double], Double)] = {
    val bs = unordered.sortBy(_.src)
    val pos = new Array[Int](bs.length)
    Iterator.fill(bs.map(_.size).sum) {
      var best = -1
      var k = 0
      while (k < bs.length) {
        if (pos(k) < bs(k).size &&
          (best < 0 || bs(k).before(pos(k), bs(best), pos(best)))) best = k
        k += 1
      }
      val i = pos(best)
      pos(best) = i + 1
      (bs(best).features(i), bs(best).y(i))
    }
  }
}
