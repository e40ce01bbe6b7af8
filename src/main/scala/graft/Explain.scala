package graft

/** Dev tool: dump `explain("formatted")` for selected queries so the
  * physical plan (pushed filters, read schema, broadcast vs shuffle,
  * whole-stage-codegen spans) can be reviewed per operator, under the
  * engine session with full stats loaded.
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.core.Catalog.newSession(4)
    // full stats first, as Bench and Verify load them, so the plans
    // shown are the ones the bench runs
    graft.core.Catalog.statsMany(spark, sfDir,
      graft.core.Catalog.tableNames, withHistograms = true)
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
