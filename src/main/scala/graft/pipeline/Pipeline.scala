package graft.pipeline

import graft.core._
import graft.ml._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Pipeline definition (the reference's Create-request payload). */
case class PipelineSpec(
    id: Int,
    learner: String,
    learnerHp: Map[String, Double] = Map.empty,
    preprocessors: Seq[String] = Nil,
    protocol: String = "Asynchronous",
    protocolHp: Map[String, Double] = Map.empty,
    rounds: Int = 3,
    testCap: Int = 256,
    /** Replica-merge strategy switchover: above this many training
      * partitions, plain-averaging protocols merge replicas with a log-depth
      * `treeReduce` instead of a driver `collect` (SCALE.md — at 1000
      * executors the driver would otherwise hold W models at once). Local
      * gate runs stay below it, so both paths are equivalence-tested
      * explicitly in PipelineSparkSuite. */
    treeMergeThreshold: Int = 64,
    /** Message cap on shipped model payloads, in doubles (reference
      * `maxMsgParams`, DefaultJobParameters.scala:6): every shipped replica
      * is split into <=maxMsgParams-double [[graft.ml.ParamBlock]]s and
      * reassembled before the merge — see [[graft.ml.ModelWire]]. */
    maxMsgParams: Int = 2000)

final class FittedPipeline(
    val spec: PipelineSpec,
    val chain: Seq[FittedPreprocessor],
    val model: ModelState,
    val learner: OnlineLearner,
    val protocolName: String,
    val stats: ProtocolStats,
    val curve: Seq[Double],
    val testLoss: Double,
    val score: Double) extends Serializable {

  /** Chunked query responses (<=10k params per bucket,
    * FlinkNetwork.scala:48-149).
    */
  def responses(requestId: Long): Seq[QueryResponse] = {
    val ps = model.params
    val buckets = ps.grouped(10000).toSeq match {
      case Seq() => Seq(Array.empty[Double])
      case bs => bs
    }
    buckets.zipWithIndex.map { case (chunk, i) =>
      QueryResponse(requestId, i, spec.id, spec.learner, spec.preprocessors,
        protocolName, model.n, testLoss, model.cumLoss, score,
        chunk.length, chunk.toSeq)
    }
  }

  def statistics: PipelineStatistics =
    PipelineStatistics(spec.id, protocolName, stats.modelsShipped,
      stats.bytesShipped, stats.blocks, model.n, curve, score)

  /** Distributed prediction over (id, features) rows. */
  def predict(spark: SparkSession, df: DataFrame): DataFrame = {
    val bcChain = spark.sparkContext.broadcast(chain)
    val bcModel = spark.sparkContext.broadcast(model)
    val l = learner
    val predictUdf = udf { (features: Seq[Double]) =>
      val x = Preprocess.applyChain(bcChain.value, features.toArray)
      l.predict(bcModel.value, x)
    }
    df.select(col("id"), predictUdf(col("features")).as("prediction"))
  }
}

/** Batch/micro-batch trainer: the Spark-native replacement for the
  * reference's hub-and-spoke parameter server (SURVEY §3.4(b)). Each round,
  * every partition trains a replica seeded from the broadcast global model;
  * the protocol folds replicas into the next global. The reference's
  * continuous Kafka feedback loop becomes the per-round broadcast.
  *
  * Train/test split: one 2-of-10 [[HeldOutRing]] of `testCap` points per
  * partition (FlinkSpoke.scala:92-107); ring evictions train.
  */
object Trainer {

  /** `init`: optional shared starting global model — round-1 replicas seed
    * from it instead of `learner.init`. Required for MiniBatchKMeans
    * (cluster-id alignment across replicas needs a common centroid seed);
    * None for every reference learner, whose zero-init is already shared.
    */
  def fit(spark: SparkSession, spec: PipelineSpec,
      data: RDD[(Array[Double], Double)],
      init: Option[ModelState] = None): FittedPipeline = {
    val sc = spark.sparkContext
    val learner = Learners.create(spec.learner, spec.learnerHp)
    val chain = Preprocess.fitChain(spec.preprocessors, data)
    val bcChain = sc.broadcast(chain)
    var tdata = data.map { case (x, y) => (Preprocess.applyChain(bcChain.value, x), y) }
    val protocol = Protocols.resolve(spec.protocol, spec.learner,
      data.getNumPartitions, spec.protocolHp)
    protocol.maxParallelism.foreach { p =>
      if (tdata.getNumPartitions > p) tdata = tdata.coalesce(p)
    }
    MiniBatchKMeans.requireSharedSeed(learner, tdata.getNumPartitions,
      init.isDefined)
    tdata.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = tdata.first()._1.length
      val testCap = spec.testCap
      val stats = ProtocolStats()
      var global: Option[ModelState] = init
      var totalFitted = 0L
      var totalCumLoss = 0.0
      val curve = mutable.ArrayBuffer[Double]()

      // Log-depth tree merge applies when the protocol is a plain weighted
      // average (Synchronous family), the learner's pairwise merge is
      // associative, and there are enough partitions that a driver collect
      // of W models would be the bottleneck (SCALE.md). SSP qualifies: its
      // merge is the same average, and in-fit no replica can exceed the
      // staleness bound (seeding clamps lag to s), so the admit-all tree
      // fold coincides with SSP.aggregate.
      val useTreeMerge =
        Set("Synchronous", "Asynchronous", "SSP").contains(protocol.name) &&
          learner.mergeIsAssociative &&
          tdata.getNumPartitions > spec.treeMergeThreshold

      // SSP's bounded-stale reads: keep a window of recent globals,
      // recent(k) = global after round (r-1-k), newest first. Partition pid
      // reads lag pid mod (s+1) — deterministic worker-progress
      // heterogeneity inside the bound; s=0 degenerates to everyone
      // reading the freshest global (Synchronous). Window size is
      // min(s, W-1)+1 models of driver memory — the price of simulating
      // stale reads on a round engine; production s is small.
      val sspS: Option[Int] = protocol match {
        case SSP(s) => Some(s)
        // Asynchronous IS the unbounded-staleness limit of the same stale-
        // read machinery: worker pid computes on a global pid rounds behind
        // the frontier and every update merges regardless of staleness —
        // the reference's free-running interleave, expressed at round
        // granularity. (Previously a documented collapse onto Synchronous;
        // the AsyncEqualsUnboundedSSP suite gate pins the new semantics.)
        case Asynchronous => Some(Int.MaxValue)
        case _ => None
      }
      val numParts = tdata.getNumPartitions
      val histCap = sspS
        .map(s => math.min(s.toLong, (numParts - 1).toLong).toInt + 1)
        .getOrElse(1)
      val recent = mutable.ArrayDeque[Option[ModelState]](init)

      for (r <- 1 to spec.rounds) {
        val bcSeeds = sc.broadcast(recent.toIndexedSeq)
        val sBound = sspS.getOrElse(0)
        val freshRound = r - 1 // round of the freshest global in the window
        val replRdd = tdata.mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val lag =
            if (sBound <= 0) 0
            else {
              // pid < numParts, so s >= numParts-1 (incl. MaxValue) means
              // the modulus never bites — skip it to dodge s+1 overflow
              val want = if (sBound >= numParts - 1) pid else pid % (sBound + 1)
              math.min(want, bcSeeds.value.length - 1)
            }
          val m = bcSeeds.value(lag).map(_.deepCopy).getOrElse(learner.init(dim))
          m.seedRound = (freshRound - lag).toLong
          m.n = 0L; m.cumLoss = 0.0 // per-round counters; totals tracked outside
          val ring = new HeldOutRing[(Array[Double], Double)](testCap)
          var cnt = 0L
          it.foreach { p =>
            ring.offer(p).foreach { case (x, y) => learner.fit(m, x, y) }
            cnt += 1
          }
          learner.finish(m)
          if (cnt == 0) Iterator.empty else Iterator.single(m)
        }
        // plain averages over many partitions fold in the tree; every other
        // round is the protocol round the streaming trainer shares
        val mergedOpt: Option[ModelState] = try {
          if (!useTreeMerge)
            Protocols.round(replRdd, global, protocol, learner,
              spec.maxMsgParams, stats)
          else if (replRdd.isEmpty()) None
          else {
            val (m, k, bytes) = replRdd
              .map(r => (r, 1L, r.params.length.toLong * 8L))
              .treeReduce { case ((ma, ka, ba), (mb, kb, bb)) =>
                (learner.merge(Seq(ma, mb)), ka + kb, ba + bb)
              }
            stats.modelsShipped += k
            stats.bytesShipped += bytes
            // each replica enters the merge tree once, as
            // ceil(payload/maxMsgParams) transport blocks
            stats.blocks +=
              k * ((m.wireParams.length.toLong + spec.maxMsgParams - 1) /
                spec.maxMsgParams).max(1L)
            Some(m)
          }
        } finally bcSeeds.destroy()
        mergedOpt.foreach { merged =>
          totalFitted += merged.n
          totalCumLoss += merged.cumLoss
          merged.n = totalFitted
          merged.cumLoss = totalCumLoss
          global = Some(merged)
          curve += evaluate(sc, tdata, learner, global.get, testCap)._1
        }
        // advance the stale-read window even on a no-merge round, so
        // recent(k) stays aligned with "global after round r-k"
        recent.prepend(global)
        while (recent.length > histCap) recent.removeLast()
      }
      val model = global.getOrElse(learner.init(dim))
      val (testLoss, score) = evaluate(sc, tdata, learner, model, testCap)
      new FittedPipeline(spec, chain, model, learner, protocol.name, stats,
        curve.toSeq, testLoss, score)
    } finally {
      tdata.unpersist(blocking = false)
      bcChain.destroy()
    }
  }

  /** Replay the deterministic split and score the model on the held-out
    * ring contents with [[HeldOut]]: (avg test loss, score).
    */
  private def evaluate(sc: org.apache.spark.SparkContext,
      tdata: RDD[(Array[Double], Double)], learner: OnlineLearner,
      model: ModelState, testCap: Int): (Double, Double) = {
    val bcModel = sc.broadcast(model)
    val sums = try tdata.mapPartitions { it =>
      val ring = new HeldOutRing[(Array[Double], Double)](testCap)
      it.foreach(ring.offer)
      Iterator.single(HeldOut.sums(learner, bcModel.value, ring.points.iterator))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    finally bcModel.destroy()
    HeldOut.result(learner, sums)
  }
}

/** The reference's PipelineMap (PipelineMap.scala:14-71): a validated
  * pipeline catalog driven by Create/Update/Query/Delete requests.
  */
final class PipelineCatalog {
  private val entries = mutable.LinkedHashMap[Int, PipelineSpec]()
  private val log = mutable.ArrayBuffer[(Int, String, String)]() // id, op, outcome

  def events: Seq[(Int, String, String)] = log.toSeq
  def specs: Seq[PipelineSpec] = entries.values.toSeq
  def get(id: Int): Option[PipelineSpec] = entries.get(id)

  private def validate(r: Request): Option[String] = {
    val ln = r.learner.map(_.name).getOrElse("")
    if (!Learners.names.contains(ln)) Some(s"invalid learner: $ln")
    else {
      val badPre = r.preProcessors.getOrElse(Nil).map(_.name)
        .filterNot(Preprocess.names.contains)
      if (badPre.nonEmpty) Some(s"invalid preprocessors: ${badPre.mkString(",")}")
      else if (!Protocols.names.contains(r.protocol)) Some(s"invalid protocol: ${r.protocol}")
      else None
    }
  }

  private def toSpec(r: Request): PipelineSpec =
    PipelineSpec(
      id = r.id,
      learner = r.learner.map(_.name).getOrElse(""),
      learnerHp = r.learner.map(_.hyperParameters).getOrElse(Map.empty),
      preprocessors = r.preProcessors.getOrElse(Nil).map(_.name),
      protocol = r.protocol)

  /** Apply one request; returns the outcome string recorded in the log. */
  def apply(r: Request): String = {
    val outcome = r.request match {
      case "Create" =>
        if (entries.contains(r.id)) "rejected: exists"
        else validate(r) match {
          case Some(err) => s"rejected: $err"
          case None => entries(r.id) = toSpec(r); "created"
        }
      case "Update" =>
        validate(r) match {
          case Some(err) => s"rejected: $err"
          case None => entries(r.id) = toSpec(r); "updated"
        }
      case "Delete" =>
        if (entries.remove(r.id).isDefined) "deleted" else "rejected: missing"
      case "Query" =>
        if (entries.contains(r.id)) "queried" else "rejected: missing"
      case other => s"rejected: unknown request $other"
    }
    log += ((r.id, r.request, outcome))
    outcome
  }
}
