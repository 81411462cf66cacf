package graft.streaming

import graft.ml._
import graft.pipeline.PipelineSpec
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

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

  /** `dir` holds parquet files of (features: array<double>, target: double);
    * each file becomes one micro-batch (one protocol round).
    * `partitionsPerBatch` > 0 re-spreads each micro-batch to that many
    * training partitions — a single small file arrives as ONE partition,
    * which the resolution rules force to CentralizedTraining; multi-replica
    * protocols (GM/FGM gating, averaging) need the spread.
    *
    * `routed` = true switches to DETERMINISTIC worker routing — the
    * reference's partitionCustom record-to-worker assignment
    * (FlinkLearning.scala:70-87, random_partitioner replaced by an explicit
    * key): the schema becomes (pid: long, seq: long, features, target), row
    * (pid, seq) lands on training partition pid % partitionsPerBatch and
    * partitions train in ascending (pid, seq) order: two pids share a
    * partition whenever pid >= partitionsPerBatch, and each keeps its rows
    * in seq order. Replayable trajectories (ml31's cross-engine FGM gate)
    * need this; the default mode's round-robin repartition does not
    * guarantee either assignment or order. The routed batch crosses the
    * shuffle as columnar [[Block]]s, at most one per (source task,
    * training partition), see [[routedRows]].
    */
  def fitStream(spark: SparkSession, dir: String, schema: StructType,
      spec: PipelineSpec, partitionsPerBatch: Int = 0,
      routed: Boolean = false,
      init: Option[ModelState] = None): StreamFit = {
    val rounds = new RoundDriver(spec, init)
    val curve = ArrayBuffer[BatchPoint]()

    val trainBatch: (DataFrame, Long) => Unit = { (df, batchId) =>
      val rdd =
        if (routed) routedRows(df, math.max(1, partitionsPerBatch))
        else {
          val rdd0 = df.queryExecution.toRdd.map(point(_, 0))
          if (partitionsPerBatch > 0) rdd0.repartition(partitionsPerBatch)
          else rdd0
        }
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

  /** The one row reader of both modes: (features, target) at columns `at`
    * and `at + 1` of a batch's `InternalRow`. */
  private def point(row: InternalRow, at: Int): (Array[Double], Double) =
    (row.getArray(at).toDoubleArray(), row.getDouble(at + 1))

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

  /** The routed mode's data path: each source task packs its rows into one
    * [[Block]] per training partition (pid % parts), a plain partitionBy
    * moves at most (source tasks x parts) blocks, and each training
    * partition merges its blocks lazily by (pid, seq), ties going to the
    * lower source task. Reads columns (pid, seq, features, target) and
    * yields the (features, target) rows of each training partition. */
  private[graft] def routedRows(df: DataFrame, parts: Int) =
    df.queryExecution.toRdd.mapPartitionsWithIndex { (src, rows) =>
      val blocks = Array.fill(parts)(new BlockPacker)
      rows.foreach { row =>
        val pid = row.getLong(0)
        val (x, y) = point(row, 2)
        blocks((pid % parts).toInt).add(pid, row.getLong(1), x, y)
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
