package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON wire codecs: declarative `from_json` parsing of the reference's
  * per-record JSON streams (DataInstanceParser / RequestParser), with the
  * same drop-silently semantics — malformed JSON yields nulls in PERMISSIVE
  * mode and is filtered, the "EOS" sentinel is skipped
  * (DataInstanceParser.scala:14-17).
  *
  * Everything is a Catalyst expression: parsing stays inside whole-stage
  * codegen and scales with the scan, no record-at-a-time driver loop.
  */
object Wire {

  val dataInstanceSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("operation", StringType),
    StructField("numericalFeatures", ArrayType(DoubleType)),
    StructField("discreteFeatures", ArrayType(IntegerType)),
    StructField("categoricalFeatures", ArrayType(StringType)),
    StructField("target", DoubleType)))

  val requestSchema: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("request", StringType),
    StructField("requestId", LongType),
    StructField("learner", StructType(Seq(
      StructField("name", StringType),
      StructField("hyperParameters", MapType(StringType, DoubleType))))),
    StructField("preProcessors", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("hyperParameters", MapType(StringType, DoubleType)))))),
    StructField("trainingConfiguration", MapType(StringType, StringType))))

  /** A DataInstance struct parsed with [[dataInstanceSchema]] is valid
    * (DataInstanceParser): it parsed, at least one feature group is
    * non-empty, and its operation is absent or a recognized one. Skipping
    * the EOS sentinel is the caller's check, on the raw record.
    */
  def validInstance(di: Column): Column =
    di.isNotNull &&
      (size(coalesce(di("numericalFeatures"), array())) > 0 ||
        size(coalesce(di("discreteFeatures"), array())) > 0 ||
        size(coalesce(di("categoricalFeatures"), array())) > 0) &&
      (di("operation").isNull || di("operation").isin("training", "forecasting"))

  /** A Request struct parsed with [[requestSchema]] is valid
    * (RequestParser): it parsed and names a known request type.
    */
  def validRequest(rq: Column): Column =
    rq.isNotNull && rq("request").isin("Create", "Update", "Query", "Delete")

  /** Parse a column of DataInstance JSON strings into typed columns,
    * dropping EOS sentinels and invalid records.
    */
  def parseInstances(df: DataFrame, jsonCol: String): DataFrame =
    df.filter(col(jsonCol) =!= "EOS")
      .withColumn("__di", from_json(col(jsonCol), dataInstanceSchema))
      .filter(validInstance(col("__di")))
      .select(col("__di.*"))

  /** Lower parsed DataInstances to dense learning points:
    * features = numerical ++ double(discrete) (DataPointParser.scala:20-47).
    */
  def toPoints(instances: DataFrame): DataFrame =
    instances.select(
      coalesce(col("id"), lit(-1L)).as("id"),
      concat(
        coalesce(col("numericalFeatures"), array()),
        coalesce(expr("transform(discreteFeatures, x -> cast(x as double))"), array()))
        .as("features"),
      coalesce(col("categoricalFeatures"), array()).as("categoricals"),
      col("target"),
      coalesce(col("operation"), lit("training")).as("operation"))

  /** Typed view of the lowered points (compile-time field checks for the
    * training paths that want them; the relational surface keeps DataFrame).
    */
  def toTypedPoints(instances: DataFrame): Dataset[LearningPoint] = {
    val spark = instances.sparkSession
    import spark.implicits._
    toPoints(instances)
      .select(col("id"), col("features"), col("categoricals"),
        col("target"), col("operation"))
      .as[LearningPoint]
  }

  /** Parse a column of Request JSON strings, dropping invalid ones. */
  def parseRequests(df: DataFrame, jsonCol: String): DataFrame =
    df.withColumn("__rq", from_json(col(jsonCol), requestSchema))
      .filter(validRequest(col("__rq")))
      .select(col("__rq.*"))
}
