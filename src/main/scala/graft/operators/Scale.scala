package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.rmTree

/** Scale utilities: the partitioning/skew machinery a 100 TB deployment
  * needs around the operator set (SURVEY.md "Optimize for scale").
  */
object Scale {

  /** Salted equi-join for skewed keys. The big (skewed) side gets a
    * deterministic salt derived from `saltSource` (any well-distributed
    * column, e.g. a row id); the small side is replicated `buckets` ways.
    * The join key becomes (key, salt), splitting each hot key's rows across
    * `buckets` reducers. Semantics are identical to `big.join(small, key)`
    * for 1:N joins (small side unique per key) — proven in ScaleSpec.
    *
    * MEASURED guidance (SKEW.md, `graft.SkewBench`: half of all fact
    * rows on one key, non-broadcastable dim): prefer AQE's skew-join.
    * At 2×10⁸ fact rows AQE beats salting OUTRIGHT — 7.6 s (defaults) /
    * 6.3 s (tuned thresholds) vs salting's 23.2 s — because once the
    * hot partition crosses `skewedPartitionThresholdInBytes` (256 MB
    * default) AQE splits exactly the oversized partition, while salting
    * pays its ×buckets dim replication and wider shuffle on EVERY row
    * at full volume. Salting wins only where AQE cannot see or act on
    * the skew: hot partitions UNDER the threshold on default settings
    * (the 2×10⁷ row: AQE-default straggler 3.3 s vs salted 2.2 s —
    * though tuning the threshold, 1.4 s, still beats salting there),
    * non-adaptive plans, streaming joins, or when the split must be
    * deterministic rather than runtime-decided.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltSource: String, buckets: Int): DataFrame = {
    val bigS = big.withColumn("__salt", pmod(xxhash64(col(saltSource)), lit(buckets)))
    val smallS = small.withColumn("__salt",
      explode(array((0 until buckets).map(b => lit(b.toLong)): _*)))
    bigS.join(smallS, Seq(key, "__salt")).drop("__salt")
  }

  /** Banded (binned) range join: `left.join(right, lv BETWEEN rv-w AND
    * rv+w)` without a nested-loop product. Both sides are bucketed into
    * bins of width `w`; a left row in bin b can only match right rows in
    * bins {b-1, b, b+1}, so the right side explodes 3x and the join becomes
    * an equi-join on the bin id, refined by the exact predicate. At 100 TB
    * this is a plain shuffled hash join keyed on the bin — the
    * BroadcastNestedLoopJoin fallback needs one side to fit in memory.
    * Equivalence with the BNLJ plan is proven in ScaleSpec. */
  def bandedRangeJoin(left: DataFrame, leftVal: String,
                      right: DataFrame, rightVal: String,
                      width: Double): DataFrame = {
    val lb = left.withColumn("__bin", floor(col(leftVal) / width).cast("long"))
    val rb = right.withColumn("__rbin",
      explode(array(Seq(-1, 0, 1).map(d =>
        floor(col(rightVal) / width).cast("long") + d): _*)))
    lb.join(rb, col("__bin") === col("__rbin")
        && col(leftVal) >= col(rightVal) - width
        && col(leftVal) <= col(rightVal) + width)
      .drop("__bin", "__rbin")
  }

  /** Write `df` as a BUCKETED external parquet table at `path` (one
    * file per bucket, sorted within), registered in the session catalog
    * as `table` after dropping any earlier table and files there. An
    * equi-join on `keys` then reads this side EXCHANGE-FREE in any
    * session (proven in ScaleSpec; the stored near-dup and embed-dup
    * indexes persist their corpus side this way), where an in-session
    * repartition cannot survive a restart (or even a re-plan:
    * checkpoints report UnknownPartitioning under AQE). */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    buckets: Int, keys: Seq[String]): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    rmTree(new java.io.File(path))
    df.repartition(buckets, keys.map(col): _*)
      .write.bucketBy(buckets, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
      .option("path", path).format("parquet").mode("overwrite").saveAsTable(table)
  }

  /** The bucketed table [[writeBucketed]] wrote, re-registered by DDL
    * when this session's catalog lacks it (bucket metadata lives in the
    * catalog, not the files). `cols` are (name, SQL type) in file order. */
  def bucketedTable(s: SparkSession, table: String, path: String,
                    buckets: Int, keys: Seq[String],
                    cols: Seq[(String, String)]): DataFrame = {
    if (!s.catalog.tableExists(table)) {
      val ks = keys.map(k => s"`$k`").mkString(", ")
      s.sql(s"CREATE TABLE $table (${cols.map { case (c, t) => s"`$c` $t" }.mkString(", ")}) " +
        s"USING parquet CLUSTERED BY ($ks) SORTED BY ($ks) INTO $buckets BUCKETS " +
        s"LOCATION '$path'")
    }
    s.table(table)
  }

  /** Write partitioned-by-column parquet — enables static + dynamic
    * partition pruning on the read path. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)
}
