package graft

import graft.streaming.{Envelope, SpokeCore, SpokeEvent, SpokeState, Streaming, TwsSpoke}
import org.apache.spark.sql.{Encoders, SparkSession}

/** Drives [[TwsSpoke]] over staged envelope files and the per-key
  * [[SpokeCore.step]] replay it must match: file k is trigger k in both.
  */
object SpokeHarness {

  /** Stage the files under `<dir>/data`, file k as trigger k. Returns
    * `dir`.
    */
  def stage(spark: SparkSession, files: Seq[Seq[Envelope]]): String = {
    import spark.implicits._
    val dir = Streaming.scratchDir("graft_spoke_")
    Streaming.stage(spark, s"$dir/data", files.map(_.toDS()): _*)
    dir
  }

  /** Drain a staged dir through [[TwsSpoke]] in a
    * [[Streaming.stateSession]]; `conf` overrides that session's settings.
    */
  def runTws(spark: SparkSession, dir: String, testMode: Boolean = false,
      conf: Map[String, String] = Map.empty): Seq[SpokeEvent] = {
    val s2 = Streaming.stateSession(spark)
    conf.foreach { case (k, v) => s2.conf.set(k, v) }
    val name = s"spoke_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    Streaming.drain(s2, s"$dir/data", Encoders.product[Envelope].schema,
        Streaming.Sink.Memory(name))(
        src => TwsSpoke.run(src.as[Envelope](Encoders.product[Envelope]), testMode).toDF())
      .as[SpokeEvent](Encoders.product[SpokeEvent]).collect().toSeq
  }

  /** One pipeline's spoke stepped directly, carrying its state from one
    * call (trigger) to the next like the streaming operator does.
    */
  class Steps(key: Int = 1, testMode: Boolean = false,
      testCap: Int = SpokeCore.TestCap) {
    var state: Option[SpokeState] = None
    def apply(events: Envelope*): Seq[SpokeEvent] = {
      val (out, next) = SpokeCore.step(key, events.iterator, state,
        testMode = testMode, testCap = testCap)
      state = next
      out
    }
  }

  /** The per-key [[SpokeCore.step]] replay of the same files. */
  def replay(files: Seq[Seq[Envelope]], testMode: Boolean = false): Seq[SpokeEvent] = {
    val keys = scala.collection.mutable.Map[Int, Steps]()
    files.flatMap(_.groupBy(_.pipelineId).toSeq.sortBy(_._1).flatMap {
      case (key, es) => keys.getOrElseUpdate(key, new Steps(key, testMode))(es: _*)
    })
  }

  /** Where the event multisets differ (the two sides emit in different
    * orders); "" when they are equal.
    */
  def diff(got: Seq[SpokeEvent], want: Seq[SpokeEvent]): String = {
    def counts(es: Seq[SpokeEvent]) = es.groupBy(identity).map { case (e, v) => e -> v.size }
    val (g, w) = (counts(got), counts(want))
    val bad = (g.keySet ++ w.keySet).toSeq
      .filter(e => g.getOrElse(e, 0) != w.getOrElse(e, 0))
    if (bad.isEmpty) ""
    else s"${bad.size} events differ (count got/want), e.g. " + bad.take(3)
      .map(e => s"$e: ${g.getOrElse(e, 0)}/${w.getOrElse(e, 0)}").mkString("; ")
  }
}
