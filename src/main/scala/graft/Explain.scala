package graft

/** Dev tool: print schema + formatted plan for one registered query
  * (or all), on a given sf dir. Usage:
  *   runMain graft.Explain <sfDir> [queryName]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val spark = SessionConf.localSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.length > 1) Seq(args(1)) else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"===== $n =====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.printSchema()
      df.explain("formatted")
    }
    spark.stop()
  }
}
