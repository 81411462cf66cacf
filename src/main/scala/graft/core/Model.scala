package graft.core

/** Wire-format records mirroring the reference's external ControlAPI
  * (SURVEY §1; field evidence cited there).
  */

/** Data record as parsed from JSON-per-record streams
  * (DataInstanceParser.scala:12-22, DataPointParser.scala:20-47).
  */
case class DataInstance(
    id: Option[Long],
    operation: Option[String], // "training" | "forecasting"
    numericalFeatures: Option[Seq[Double]],
    discreteFeatures: Option[Seq[Int]],
    categoricalFeatures: Option[Seq[String]],
    target: Option[Double])

/** Lowered learning point (the reference's UsablePoint ADT flattened):
  * dense features = numerical ++ discrete, categoricals carried through,
  * target None = unlabeled, operation routes training vs forecasting.
  */
case class LearningPoint(
    id: Long,
    features: Array[Double],
    categoricals: Seq[String],
    target: Option[Double],
    operation: String) {
  def isTraining: Boolean = operation == "training"
}

/** Control request (RequestParser.scala:12-17, PipelineMap.scala:18-48). */
case class LearnerSpec(name: String, hyperParameters: Map[String, Double] = Map.empty)
case class PreprocessorSpec(name: String, hyperParameters: Map[String, Double] = Map.empty)

case class Request(
    id: Int,
    request: String, // Create | Update | Query | Delete
    requestId: Option[Long],
    learner: Option[LearnerSpec],
    preProcessors: Option[Seq[PreprocessorSpec]],
    trainingConfiguration: Option[Map[String, String]]) {
  def protocol: String =
    trainingConfiguration.flatMap(_.get("protocol")).getOrElse("Asynchronous")
}

/** Outputs (SURVEY §1.5). */
case class Prediction(pipelineId: Int, pointId: Long, value: Double)

case class QueryResponse(
    responseId: Long,
    id: Int, // chunk bucket (<=10k params each, FlinkNetwork.scala:48-149)
    mlpId: Int,
    learner: String,
    preprocessors: Seq[String],
    protocol: String,
    dataFitted: Long,
    loss: Double,
    cumulativeLoss: Double,
    score: Double,
    paramsCount: Int,
    params: Seq[Double])

case class PipelineStatistics(
    pipelineId: Int,
    protocol: String,
    modelsShipped: Long,
    bytesShipped: Long,
    blocks: Long,
    fitted: Long,
    learningCurve: Seq[Double],
    score: Double)

case class JobStatistics(
    jobName: String,
    parallelism: Int,
    makespanMs: Long,
    pipelines: Seq[PipelineStatistics])
