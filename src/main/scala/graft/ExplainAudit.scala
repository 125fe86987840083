package graft

/** Dev tool: dump every query's formatted plan for scale auditing.
  * Usage: runMain graft.ExplainAudit <sfDir> <outDir> [key,key,...] —
  * the optional third arg restricts the dump to a key subset. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val keys =
      if (args.length <= 2) SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq.distinct.sorted
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown key(s): ${unknown.mkString(", ")}")
    val spark = EngineConf.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    keys.foreach { name =>
      val fn = SparkEntry.queries(name)
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
      } catch { case e: Throwable =>
        System.err.println(s"[audit] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
