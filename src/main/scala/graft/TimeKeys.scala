package graft

/** Dev-only targeted timer: times just the keys given as args on
  * SPARK_GRAFT_SF_DIR (default sf0.1), reporting min over `passes`
  * timed passes after one untimed warm pass per key. Mirrors Bench's
  * contention posture (min-of-passes) without the full 220-key sweep,
  * for auditing individual keys between rounds. Not part of the
  * driver contract. */
object TimeKeys {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TimeKeys <key> [key ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val spark = EngineConf.session()
    def step(body: => Unit): Unit = try body catch { case _: Throwable => () }
    step { operators.Mining.warm(spark, sfDir) }
    step { operators.LlmOps.warm(spark, sfDir) }
    step { operators.Relational.warm(spark, sfDir) }
    step { operators.SqlSurface.warm(spark, sfDir) }
    args.foreach { k => step { SparkEntry.queries(k)(spark, sfDir).count() } }
    val results = args.map { k =>
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(k)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      k -> times.min
    }
    results.foreach { case (k, s) => println(f"[timekeys] $k%-28s $s%8.3f s") }
    spark.stop()
  }
}
