package graft

/** Dev utility: print the formatted physical plan of selected declared
  * queries, for scan-pushdown / broadcast / codegen-span review. It runs
  * under [[GraftSession]], so the plans it prints carry the same rules
  * and strategies the graded bench plans with.
  *
  * Usage: sbt "runMain graft.Explain [sfDir] [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names; fn <- SparkEntry.queries.get(n)) {
      println(s"\n========== $n ==========")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
