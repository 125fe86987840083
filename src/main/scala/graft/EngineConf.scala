package graft

import org.apache.spark.sql.SparkSession

/** Engine-level session configuration shared by every main (Bench,
  * Verify, Smoke, TimeKeys, ExplainAudit, ScaleUp), so the timed
  * surface and the correctness surface run the IDENTICAL engine
  * configuration.
  *
  * r19 join tuning (optimization guide §3.1 / §9):
  *
  *  - `spark.sql.join.preferSortMergeJoin=false` — lets the planner pick
  *    shuffled-hash over sort-merge when its size conditions hold
  *    (skips sorting both sides; the guide's recommended baseline). The
  *    planner's own size conditions still guard the build side, so this
  *    is a preference, not a force.
  *  - `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m` —
  *    AQE rewrites a planned sort-merge join to shuffled-hash at runtime
  *    when EVERY post-shuffle partition is under the threshold (64m =
  *    the advisory partition size, the documented pairing). This is the
  *    scale-adaptive knob: at 100 TB partitions exceed it and the join
  *    stays sort-merge (spill-safe); on small inputs the sorts vanish.
  *
  * Measured on the SMJ-planned keys at sf0.1/cpus=32 (TimeKeys A/B, two
  * windows): sql_tpch_q2 1.51→1.14 s, llm_corpus_export 1.43→1.15 s,
  * rel_merge_upsert 0.34→0.27 s, llm_semdedup 0.22→0.15 s, others
  * within noise, no measured regression (an apparent triangle_count
  * regression did not reproduce at 5 passes).
  */
object EngineConf {
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.join.preferSortMergeJoin", "false")
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")

  /** The one session factory: `local[cpus]` with as many shuffle
    * partitions, UTC session time, no UI, WARN logging, [[tune]]d. */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
