package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Tagged statistics record flowing into [[JobStatsOperator]] — the
  * reference's `(String, Statistics)` stream (StatisticsOperator.scala:69):
  * tag "" marks a heartbeat (updates the end-timestamp only), a pipeline tag
  * marks an ongoing per-hub statistics record, and tag "Terminate" marks one
  * per-(worker x pipeline) FINAL partial emitted during job shutdown.
  */
case class StatPartial(
    tag: String, // "" | "stats" | "Terminate"
    pipelineId: Int,
    worker: Int,
    modelsShipped: Long,
    bytesShipped: Long,
    fitted: Long,
    meanBufferSize: Double,
    score: Double,
    eventTimeMs: Long)

/** Accumulated per-pipeline statistics (the reference's Statistics object,
  * StateAccumulators.scala:54-126): ongoing sums plus the Terminate-phase
  * merge fields (meanBufferSize averaged over partials, fitted summed, score
  * summed as score x testSetSize then normalized at emission).
  */
case class PipelineStats(
    pipelineId: Int,
    modelsShipped: Long,
    bytesShipped: Long,
    fitted: Long,
    meanBufferSize: Double,
    scoreSum: Double,
    partials: Int)

case class JobStatsState(
    startTsMs: Long,
    endTsMs: Long,
    lastTsMs: Long,
    pipelines: Seq[PipelineStats],
    counter: Int)

/** The reference's StatisticsOperator Terminate protocol
  * (StatisticsOperator.scala:93-131): during the run, per-hub statistics
  * accumulate per pipeline and every record re-arms a quiescence timer
  * (lastTs + timeout); when the timer fires, a "terminate_signal" event is
  * emitted (the reference's side-output that triggers job shutdown). The job
  * then makes every worker emit one Terminate partial PER PIPELINE; the
  * operator counts them and emits the final per-pipeline job statistics ONLY
  * once counter == workers x #pipelines — the exactly-(p x n) barrier —
  * with makespan = end - start and score normalized by
  * (workers x testSetSize), matching StatisticsOperator.scala:109-127;
  * testSetSize is the held-out ring size [[SpokeCore.TestCap]].
  *
  * Keyed by a constant job key (the reference's operator runs at
  * parallelism 1 on the job key); the per-pipeline fan-in happens in the
  * accumulated map, not in the keying.
  */
object JobStatsOperator {

  /** The one key of the stats stream. */
  private val JobKey = 0

  /** One trigger's partials, in event-time order, folded into the job's
    * state. Returns the outputs, the next state (None once the finals are
    * out) and, when statistics arrived, the quiescence timer's new instant:
    * lastTs + timeoutMs, clamped above the watermark.
    */
  def step(workers: Int, timeoutMs: Long)(rows: Iterator[StatPartial],
      prev: Option[JobStatsState], watermarkMs: Long)
      : (Seq[SpokeEvent], Option[JobStatsState], Option[Long]) = {
    val testSetSize = SpokeCore.TestCap
    var st = prev.getOrElse(JobStatsState(-1L, -1L, Long.MinValue, Nil, 0))
    val out = scala.collection.mutable.ArrayBuffer[SpokeEvent]()
    var sawStats = false
    var emitted = false
    rows.toSeq.sortBy(_.eventTimeMs).foreach { p =>
      if (emitted) () // final stats already out: shutdown, drop the rest
      else if (p.tag != "Terminate") {
        // reference processElement:74-91 — first tagged record sets the
        // start timestamp, later records advance the end timestamp
        if (st.startTsMs < 0L && p.tag.nonEmpty) st = st.copy(startTsMs = p.eventTimeMs)
        else st = st.copy(endTsMs = p.eventTimeMs)
        if (p.tag.nonEmpty) {
          val cur = st.pipelines.find(_.pipelineId == p.pipelineId).getOrElse(
            PipelineStats(p.pipelineId, 0L, 0L, 0L, 0.0, 0.0, 0))
          val upd = cur.copy(
            modelsShipped = cur.modelsShipped + p.modelsShipped,
            bytesShipped = cur.bytesShipped + p.bytesShipped,
            fitted = cur.fitted + p.fitted)
          st = st.copy(
            pipelines = st.pipelines.filterNot(_.pipelineId == p.pipelineId) :+ upd)
        }
        st = st.copy(lastTsMs = math.max(st.lastTsMs, p.eventTimeMs))
        sawStats = true
      } else if (st.pipelines.exists(_.pipelineId == p.pipelineId)) {
        // Terminate partial (reference :93-131): merge the worker's final
        // view — meanBufferSize averaged, fitted summed on top of the
        // ongoing totals, score accumulated as score x testSetSize.
        // Partials for pipelines never seen in the ongoing stats are
        // dropped (the reference asserts containment), which keeps the
        // workers x #pipelines barrier target stable.
        val cur = st.pipelines.find(_.pipelineId == p.pipelineId).get
        val upd = cur.copy(
          fitted = cur.fitted + p.fitted,
          meanBufferSize = cur.meanBufferSize + p.meanBufferSize,
          scoreSum = cur.scoreSum + p.score * testSetSize,
          partials = cur.partials + 1)
        st = st.copy(
          pipelines = st.pipelines.filterNot(_.pipelineId == p.pipelineId) :+ upd,
          counter = st.counter + 1)
        if (st.counter == workers * st.pipelines.length) {
          // the exactly-(workers x pipelines) barrier: only now does the
          // final record exist
          val makespan = st.endTsMs - st.startTsMs
          st.pipelines.sortBy(_.pipelineId).foreach { ps =>
            val score = ps.scoreSum / (workers * testSetSize.toDouble)
            out += SpokeEvent(ps.pipelineId, "job_statistics_final", -1, -1, score,
              s"makespan=$makespan,models=${ps.modelsShipped}," +
                s"bytes=${ps.bytesShipped},fitted=${ps.fitted}," +
                s"meanBuffer=${ps.meanBufferSize / workers},partials=${ps.partials}")
          }
          emitted = true
        }
      }
    }
    if (emitted) (out.toSeq, None, None)
    else (out.toSeq, Some(st),
      Option.when(sawStats)(math.max(st.lastTsMs + timeoutMs, watermarkMs + 1)))
  }

  /** Quiescence: no statistics for timeoutMs of event time signals
    * termination (reference onTimer -> terminationStats side output). The
    * state stays: the Terminate partials are still inbound.
    */
  def onTimer(st: JobStatsState): (Seq[SpokeEvent], Option[JobStatsState]) =
    (Seq(SpokeEvent(JobKey, "terminate_signal", -1, -1, 0.0, "")), Some(st))

  /** @param wmOnlyTag when set, partials carrying this tag advance the
    *                   WATERMARK only (they pass the event-time collector,
    *                   then are dropped before the stateful operator) — the
    *                   Spark-native stand-in for wall-clock passing with no
    *                   records, which is what arms the reference's quiescence
    *                   timer (StatisticsOperator.scala:91).
    */
  def run(stats: Dataset[StatPartial], workers: Int, timeoutMs: Long,
      wmOnlyTag: String = null): Dataset[SpokeEvent] = {
    import stats.sparkSession.implicits._
    // late partials: the operator drops those at or below the previous
    // trigger's watermark itself, so the step needs no guard of its own
    TwsStep.onEventTime(stats, Encoders.product[JobStatsState])(_ => JobKey,
      step(workers, timeoutMs) _, (_, st) => onTimer(st),
      p => wmOnlyTag == null || p.tag != wmOnlyTag)
  }
}
