package graft

import org.apache.spark.sql.SparkSession

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

/** Independent Spark sub-jobs run side by side, so that each one's stage
  * tail back-fills the others' idle cores.
  */
object Subjobs {

  /** Run every task on its own thread, each under its own Spark job group
    * with `interruptOnCancel`, and return the results in task order.
    *
    * The first task to fail, at any position, cancels the other tasks' job
    * groups and interrupts their threads; its exception is rethrown once the
    * others have ended. No deadline (`Duration.Inf`): each task is bounded by
    * its own Spark jobs, and a fixed bound would turn a legitimately slow
    * task at scale into a failed query.
    */
  def runAll[A](spark: SparkSession, tasks: Seq[() => A]): Seq[A] = {
    val sc = spark.sparkContext
    val run = java.util.UUID.randomUUID().toString
    val groups = tasks.indices.map(i => s"graft-subjob-$run-$i")
    val pool = Executors.newFixedThreadPool(math.max(1, tasks.size))
    val ec = ExecutionContext.fromExecutorService(pool)
    try {
      val futs = tasks.zip(groups).map { case (task, g) =>
        Future {
          sc.setJobGroup(g, g, interruptOnCancel = true)
          try task() finally sc.clearJobGroup()
        }(ec)
      }
      // completes with the first failure in completion order, not list order
      implicit val callbacks: ExecutionContext = ExecutionContext.parasitic
      val first = Promise[Seq[A]]()
      futs.foreach(_.failed.foreach(first.tryFailure))
      Future.sequence(futs).foreach(first.trySuccess)
      try Await.result(first.future, Duration.Inf)
      catch {
        case e: Throwable =>
          groups.foreach(sc.cancelJobGroup)
          pool.shutdownNow()
          futs.foreach(f => Await.ready(f, Duration.Inf))
          throw e
      }
    } finally pool.shutdown()
  }
}
