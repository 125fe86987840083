package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only fixture scaler for the sf1 scale probe: replicates the
  * driver's sf0.1 tables `factor`× (default 10) with key offsets that
  * preserve referential integrity, so the slow/iterative/dedup key
  * families can be re-timed at 10× the bench scale. Not part of the
  * driver contract — the driver only ever passes its own sf dirs.
  *
  * Sharding model (one pass per table via explode, no multi-scan union):
  *   - fact/bridge keys get `shard * offset` added on BOTH sides of every
  *     FK edge (orders.o_custkey ↔ customer.c_custkey, lineitem.l_* ↔
  *     orders/part/supplier), so each shard is a self-consistent copy and
  *     joins scale 10× without creating cross-shard matches;
  *   - fixed dims (region, nation) are copied unchanged — TPC-H keeps
  *     them constant across SFs, and scaling them would distort the
  *     n_nationkey/p_brand domains every mining vocabulary rests on;
  *   - events keep their timestamps (10× density over the SAME window —
  *     the realistic scale-up) but shard user_id/event_id, so sessions
  *     and funnels gain users, not length;
  *   - documents get a per-shard text suffix and embeddings a per-shard
  *     first-component nudge: without them every doc/vector would have 9
  *     exact clones, and the near-dup/ANN pair generation would scale
  *     ~quadratically instead of the linear growth real corpora show.
  *
  * Offsets are computed from the actual max key (+1, rounded up to a
  * power of ten) so shard id is recoverable by division when debugging.
  */
object ScaleUp {
  private def pow10Above(n: Long): Long = {
    var p = 10L
    while (p <= n) p *= 10
    p
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/testdata/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = EngineConf.session(cpus)

    def off(df: DataFrame, key: String): Long =
      pow10Above(df.agg(max(col(key))).head().getLong(0))

    val cust = Tables.load(spark, src, "customer")
    val supp = Tables.load(spark, src, "supplier")
    val part = Tables.load(spark, src, "part")
    val ords = Tables.load(spark, src, "orders")
    val li   = Tables.load(spark, src, "lineitem")
    val ev   = Tables.load(spark, src, "events")
    val docs = Tables.load(spark, src, "documents")
    val emb  = Tables.load(spark, src, "embeddings")

    val oC = off(cust, "c_custkey"); val oS = off(supp, "s_suppkey")
    val oP = off(part, "p_partkey"); val oO = off(ords, "o_orderkey")
    val oE = off(ev, "event_id");    val oU = off(ev, "user_id")
    val oD = off(docs, "doc_id");    val oV = off(emb, "vec_id")

    // one shard column per row, exploded: a single scan emits all copies
    def sharded(df: DataFrame): DataFrame =
      df.withColumn("_s", explode(sequence(lit(0L), lit(factor - 1L))))
    def bump(c: String, o: Long) = col(c) + col("_s") * lit(o)

    def write(df: DataFrame, name: String, parts: Int = cpus.toInt): Unit =
      df.drop("_s").repartition(parts)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")

    // fixed dims: straight copy
    Tables.load(spark, src, "region").coalesce(1)
      .write.mode("overwrite").parquet(s"$dst/region.parquet")
    Tables.load(spark, src, "nation").coalesce(1)
      .write.mode("overwrite").parquet(s"$dst/nation.parquet")

    write(sharded(cust).withColumn("c_custkey", bump("c_custkey", oC)), "customer", 4)
    write(sharded(supp).withColumn("s_suppkey", bump("s_suppkey", oS)), "supplier", 1)
    write(sharded(part).withColumn("p_partkey", bump("p_partkey", oP)), "part", 4)
    write(sharded(ords)
      .withColumn("o_orderkey", bump("o_orderkey", oO))
      .withColumn("o_custkey", bump("o_custkey", oC)), "orders")
    write(sharded(li)
      .withColumn("l_orderkey", bump("l_orderkey", oO))
      .withColumn("l_partkey", bump("l_partkey", oP))
      .withColumn("l_suppkey", bump("l_suppkey", oS)), "lineitem")
    write(sharded(ev)
      .withColumn("event_id", bump("event_id", oE))
      .withColumn("user_id", bump("user_id", oU)), "events")
    // The suffix must VARY IN LENGTH per shard and n_chars must be
    // recomputed: with the old fixed-width " shardN" suffix every
    // shard copy kept the same n_chars, so the (lang, n_chars)
    // blocking keys of the pairwise dedup operators saw blocks grow
    // ~factor×, i.e. candidate pairs grew ~factor² — the quadratic
    // clone blowup this scaler exists to avoid (a 100×-pair DuckDB
    // oracle wedged at 21 GB of spill before this fix). Distinct
    // lengths keep each shard its own block: linear growth, the real-
    // corpus shape.
    write(sharded(docs)
      .withColumn("doc_id", bump("doc_id", oD))
      .withColumn("text", concat(col("text"), lit(" shard"),
        expr("repeat('x', CAST(_s AS INT))"), col("_s")))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents", 8)
    write(sharded(emb)
      .withColumn("vec_id", bump("vec_id", oV))
      .withColumn("embedding", expr(
        "transform(embedding, (v, j) -> IF(j = 0, CAST(v + _s * 1.0E-3 AS FLOAT), v))")),
      "embeddings", 8)

    Tables.names.foreach { t =>
      val n = spark.read.parquet(s"$dst/$t.parquet").count()
      println(s"[scaleup] $t: $n rows")
    }
    spark.stop()
  }
}
