package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** AQE-vs-salting crossover measurement (the operational question a
  * 100 TB user actually has: when is `Scale.saltedJoin` worth it over
  * letting AQE's skew-join handle the hot key?).
  *
  * Scenario: a fact table whose key distribution has one pathological hot
  * key (half of all rows) joined to a dimension too large to broadcast
  * (`autoBroadcastJoinThreshold=-1` stands in for a 100 TB dim side).
  * Deterministic data (id arithmetic, no RNG). Three configurations:
  *
  *  1. plain join, AQE defaults — the hot key lands in ONE shuffle
  *     partition; skew-split only triggers past 256 MB partitions, so at
  *     bench scale the straggler runs alone;
  *  2. plain join, AQE tuned (skewedPartitionThresholdInBytes lowered, as
  *     a real deployment would) — AQE splits the oversized partition and
  *     replicates the matching dim rows;
  *  3. `Scale.saltedJoin` — explicit pre-shuffle salt, AQE defaults.
  *
  * Emits one JSON line with the three wall times; the conclusion lives in
  * README.md ("AQE vs salting").
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "20000000").toLong
    val dimK = 100000L
    val spark = Harness.session(Harness.cores)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    // half the fact rows hit key 0; the rest spread uniformly
    def fact: DataFrame = spark.range(n).select(
      when(col("id") % 2 === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(dimK))).as("key"),
      col("id").as("payload"))
    def dim: DataFrame = spark.range(dimK).select(
      col("id").as("key"), (col("id") * 7).as("dim_val"))

    def run(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.agg(count(lit(1)), sum(col("payload") + col("dim_val"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    def plain = fact.join(dim, "key")
    def salted = operators.Scale.saltedJoin(fact, dim, "key", "payload", 16)

    def withConf(kv: (String, String)*)(f: => Double): Double = {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try f finally kv.foreach { case (k, _) => spark.conf.unset(k) }
    }

    run(plain) // warmup (JIT, codegen, shuffle paths)
    val results = Seq(
      "plain_aqe_default" -> (() => run(plain)),
      "plain_aqe_tuned" -> (() => withConf(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m")(run(plain))),
      "salted_16" -> (() => run(salted)),
    ).map { case (name, f) => name -> (1 to 3).map(_ => f()).min }

    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    }.mkString("{", ",", "}")
    println(s"""{"skew_bench":$qs,"rows":$n,"dim_rows":$dimK}""")
    spark.stop()
  }
}
