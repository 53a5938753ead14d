package graft

/** Dev tool (optimization rounds): dumps `.explain("formatted")` for
  * registered queries to one file per key, under the same session
  * configs as graft.Bench, so plan claims in OPTIMIZATION_*.md are
  * checkable against committed artifacts without running Spark.
  *
  * Usage: runMain graft.ExplainAll <sfDir> <outDir> [key1,key2,...]
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/plans")
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = Sessions.get()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    names.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$name.txt"), txt.getBytes("UTF-8"))
        val nEx = "\\n\\s*\\(\\d+\\) Exchange".r.findAllIn(txt).length
        System.err.println(s"[explain] $name ok exchanges=$nEx")
      } catch {
        case t: Throwable =>
          System.err.println(s"[explain] $name FAILED: ${Option(t.getMessage).getOrElse(t.getClass.getName).take(160)}")
      }
      graft.Caches.drain()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
