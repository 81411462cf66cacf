package graft

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

class SubjobsSuite extends AnyFunSuite {

  test("the first failing sub-job cancels the others and is rethrown, " +
    "whatever its position") {
    val spark = TestSession.spark
    val sc = spark.sparkContext
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60.seconds.toNanos
      while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
      assert(cond, what)
    }
    // task 0 blocks inside a Spark job until it is killed; task 1 fails
    // once that job is running
    val blocked: () => Long = () => sc.parallelize(1 to 2, 2).map { x =>
      val deadline = System.currentTimeMillis() + 600000L
      while (!TaskContext.get().isInterrupted() &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      x
    }.count()
    val failing: () => Long = () => {
      waitFor("task 0's job never started")(sc.statusTracker.getActiveJobIds.nonEmpty)
      throw new IllegalStateException("task 1 failed")
    }
    val run = Future(Subjobs.runAll(spark, Seq(blocked, failing)))(ExecutionContext.global)
    try {
      // bounded: a runner that awaits task 0 first never returns
      val e = intercept[IllegalStateException](Await.result(run, 90.seconds))
      assert(e.getMessage == "task 1 failed")
      waitFor("a sub-job is still running")(sc.statusTracker.getActiveJobIds.isEmpty)
    } finally sc.cancelAllJobs()
  }
}
