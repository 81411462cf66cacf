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
    /** Held-out ring size per training partition (see
      * [[graft.ml.HeldOutRing]]); 0 holds nothing out, so every point
      * trains and the held-out scores read 0. */
    testCap: Int = 256,
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

/** Batch trainer: the Spark-native replacement for the reference's
  * hub-and-spoke parameter server (SURVEY §3.4(b)). Every round of its
  * [[RoundDriver]], every partition trains a replica seeded from the
  * broadcast global model; the protocol folds replicas into the next
  * global. The reference's continuous Kafka feedback loop becomes the
  * per-round broadcast.
  *
  * Train/test split: one 2-of-10 [[HeldOutRing]] of `testCap` points per
  * partition (FlinkSpoke.scala:92-107); ring evictions train.
  */
object Trainer {

  /** `init`: optional shared starting global model — round-1 replicas seed
    * from it instead of `learner.init`. Required for MiniBatchKMeans
    * (cluster-id alignment across replicas needs a common centroid seed);
    * None for every reference learner, whose zero-init is already shared.
    * Throws when no round trained a row (an input with no rows).
    */
  def fit(spark: SparkSession, spec: PipelineSpec,
      data: RDD[(Array[Double], Double)],
      init: Option[ModelState] = None): FittedPipeline = {
    val sc = spark.sparkContext
    val rounds = new RoundDriver(spec, init)
    val learner = rounds.learner
    val chain = Preprocess.fitChain(spec.preprocessors, data)
    val bcChain = sc.broadcast(chain)
    val tdata = rounds.resolve(
      data.map { case (x, y) => (Preprocess.applyChain(bcChain.value, x), y) })
    tdata.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val curve = mutable.ArrayBuffer[Double]()
      for (_ <- 1 to spec.rounds)
        rounds.round(tdata, spec.testCap).foreach { merged =>
          curve += evaluate(sc, tdata, learner, merged, spec.testCap)._1
        }
      require(curve.nonEmpty,
        s"Trainer.fit trained no row in ${spec.rounds} rounds: empty input")
      val model = rounds.global.get
      val (testLoss, score) = evaluate(sc, tdata, learner, model, spec.testCap)
      new FittedPipeline(spec, chain, model, learner, rounds.protocolName,
        rounds.stats, curve.toSeq, testLoss, score)
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
