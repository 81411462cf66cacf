package graft

/** Dev tool: print formatted physical plans for selected queries so scan
  * pushdown / broadcast decisions can be audited (`sbt "runMain
  * graft.Explain <sfDir> <query...>"`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q01_pricing_summary")
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
