package graft

/** Dev smoke main mirroring the driver's entry check: SparkEntry.entry
  * on sf0.001 must return > 0 rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = EngineConf.session("4")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = $n (pass=${n > 0})")
    spark.stop()
  }
}
