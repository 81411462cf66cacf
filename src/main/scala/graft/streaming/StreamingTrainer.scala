package graft.streaming

import graft.ml._
import graft.pipeline.PipelineSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable.ArrayBuffer

/** Continuous training over a stream: every micro-batch trains
  * partition-local replicas seeded from the current global model, and the
  * protocol folds them into the next global — the reference's continuous
  * parameter-server exchange (SURVEY §3.2) realized at micro-batch
  * granularity via foreachBatch, with no Kafka feedback loop (design (b) of
  * SURVEY §3.4). The prequential cumulative loss per batch is the learning
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
    * partitions train in ascending seq order. Replayable trajectories
    * (ml31's cross-engine FGM gate) need this; the default mode's
    * round-robin repartition does not guarantee either assignment or order.
    */
  def fitStream(spark: SparkSession, dir: String, schema: StructType,
      spec: PipelineSpec, partitionsPerBatch: Int = 0,
      routed: Boolean = false,
      init: Option[ModelState] = None): StreamFit = {
    val learner = Learners.create(spec.learner, spec.learnerHp)
    var global: Option[ModelState] = init
    var protocolName = spec.protocol
    // One protocol instance per RESOLVED PROTOCOL, reused across
    // micro-batches: the resolution rules still apply per batch (a 1-
    // partition batch forces CentralizedTraining), but a stateful protocol
    // (FGM's quantum) keeps its subround state across rounds — keyed by
    // resolved name, NOT partition count, so varying batch partitioning
    // can't fork the quantum (r9 advisor note). Stateless protocols are
    // unaffected — a cached instance behaves identically.
    var protoCache: Map[String, Protocol] = Map.empty
    val stats = ProtocolStats()
    var totalFitted = 0L
    var totalCumLoss = 0.0
    val curve = ArrayBuffer[BatchPoint]()

    // unique checkpoint per fit: the staged dir may be memoized across runs,
    // and resuming a committed checkpoint would replay zero batches
    val ckpt = java.util.UUID.randomUUID().toString.replace("-", "")
    val trainBatch: (DataFrame, Long) => Unit = { (df, batchId) =>
      val rdd =
        if (routed) {
          val parts = math.max(1, partitionsPerBatch)
          val byPid = new org.apache.spark.Partitioner {
            def numPartitions: Int = parts
            def getPartition(key: Any): Int =
              (key.asInstanceOf[(Long, Long)]._1 % parts.toLong).toInt
          }
          df.rdd
            .map(r => ((r.getLong(0), r.getLong(1)),
              (r.getSeq[Double](2).toArray, r.getDouble(3))))
            .repartitionAndSortWithinPartitions(byPid)
            .map(_._2)
        } else {
          val rdd0 =
            df.rdd.map(r => (r.getSeq[Double](0).toArray, r.getDouble(1)))
          if (partitionsPerBatch > 0) rdd0.repartition(partitionsPerBatch)
          else rdd0
        }
      val np = rdd.getNumPartitions
      val resolvedName = Protocols.resolveName(spec.protocol, spec.learner, np)
      val protocol = protoCache.getOrElse(resolvedName, {
        val p = Protocols.create(resolvedName, spec.protocolHp)
        protoCache += resolvedName -> p
        p
      })
      protocolName = protocol.name
      val data = protocol.maxParallelism match {
        case Some(p) if rdd.getNumPartitions > p => rdd.coalesce(p)
        case _ => rdd
      }
      MiniBatchKMeans.requireSharedSeed(learner, data.getNumPartitions,
        global.isDefined)
      val bcGlobal = spark.sparkContext.broadcast(global)
      // Per-partition replica training (seeded from the broadcast global,
      // per-round counters zeroed); Protocols.round, the step the batch
      // Trainer runs too, ships and folds the replicas.
      val replRdd = data.mapPartitions { it =>
        var model: ModelState = bcGlobal.value.map(_.deepCopy).orNull
        if (model != null) { model.n = 0L; model.cumLoss = 0.0 }
        var any = false
        it.foreach { case (x, y) =>
          if (model == null) model = learner.init(x.length) // dim from data
          any = true
          learner.fit(model, x, y)
        }
        if (any) { learner.finish(model); Iterator.single(model) }
        else Iterator.empty
      }
      val mergedOpt = Protocols.round(replRdd, global, protocol, learner,
        spec.maxMsgParams, stats)
      mergedOpt.foreach { merged =>
        totalFitted += merged.n
        totalCumLoss += merged.cumLoss
        merged.n = totalFitted
        merged.cumLoss = totalCumLoss
        global = Some(merged)
        val theta = protocol match {
          case f: FGM => f.theta
          case _ => Double.NaN
        }
        curve += BatchPoint(batchId, totalFitted, totalCumLoss,
          stats.modelsShipped, stats.bytesShipped, theta)
      }
    }
    Streaming.drain(spark, dir, schema, s"$dir/_ckpt_train_$ckpt",
      Streaming.Sink.Batches(trainBatch))(identity)
    StreamFit(global.getOrElse(learner.init(1)), learner, protocolName,
      stats, curve.toSeq)
  }
}
