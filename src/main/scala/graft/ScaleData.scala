package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: writes an N-times larger copy of a
  * TESTDATA sf directory (same schemas, disjoint key spaces per copy), so
  * the bench can measure SCALING CURVES beyond the driver-provided sf0.1
  * (`sbt "runMain graft.ScaleData /root/testdata/sf0.1 scaledata/sf1 10"`).
  *
  * Design per table — chosen so per-copy structure is preserved exactly
  * and NO artificial cross-copy similarity is introduced (which would make
  * near-dup work superlinear in copies and the scaling measurement
  * meaningless):
  *  - documents: copy c>0 renames every word `w -> w~c` — a vocabulary
  *    isomorphism. Within a copy, every shingle/minhash/simhash/Jaccard
  *    relation (incl. the planted near-dups) is IDENTICAL to the
  *    original; across copies, vocabularies are disjoint, so candidate
  *    structure and output pair counts scale exactly linearly with data.
  *  - embeddings: vec_id shifted by a multiple of 50 (query membership
  *    `vec_id % 50 = 0` keeps the same 2% density), embedding rotated by
  *    c positions (norm-preserving, decorrelates copies in LSH buckets).
  *  - events: event_id/user_id shifted per copy — 10x keys over the same
  *    time range (how a bigger fleet of sensors actually looks).
  *  - lineitem/orders: orderkey shifted per copy; dimension keys
  *    (custkey/partkey/suppkey) untouched — dimension tables stay
  *    fixed-size (like real star schemas) and fan out 10x.
  *  - region/nation/customer/supplier/part: copied verbatim (dimensions).
  *
  * Everything is Spark-native column expressions (no driver-side row
  * loops) and fully deterministic — no RNG, so two runs produce
  * byte-identical corpora.
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleData <srcDir> <outDir> <copies> [tables,comma,separated]")
    val (src, out, copies) = (args(0), args(1), args(2).toInt)
    // optional table subset (4th arg): a 100x run for the dedup/streaming
    // scaling point only needs documents/events/embeddings — skipping the
    // 60M-row lineitem copy keeps the decade cheap
    val only: String => Boolean = args.lift(3) match {
      case Some(list) => list.split(",").map(_.trim).toSet
      case None => _ => true
    }
    val spark = Harness.session(Harness.cores)

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // Scaled FACT tables are written as MULTIPLE files: a single-file
    // 100x table is one parquet row group (default 128 MB block), which
    // no reader can split — every scan of it runs on ONE core no matter
    // the cluster, silently serializing exactly the decade the scaling
    // bench exists to measure. No real landing zone ships a 100x corpus
    // as one file either. min(64, max(32, copies)) keeps files in the
    // MB range at every decade without a small-file explosion.
    val outFiles = math.min(64, math.max(32, copies))
    def write(df: DataFrame, t: String): Unit =
      df.repartition(outFiles).write.mode("overwrite").parquet(s"$out/$t.parquet")
    def writeDim(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    /** Cross-join with copy ids 0..copies-1 (copy 0 = the original). */
    def replicate(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(spark.range(copies).toDF("__copy")))

    def keySpan(df: DataFrame, key: String, roundTo: Long = 1): Long = {
      val max = df.agg(org.apache.spark.sql.functions.max(col(key))).head.getLong(0) + 1
      ((max + roundTo - 1) / roundTo) * roundTo
    }

    // dimensions: verbatim (small — keep the source layout)
    Seq("region", "nation", "customer", "supplier", "part")
      .filter(only).foreach { t => writeDim(read(t), t) }

    if (only("documents")) {
      val docs = read("documents")
      val dk = keySpan(docs, "doc_id")
      // Copy suffix separators cycle ASCII '~' (1 UTF-8 byte), 'µ'
      // (2 bytes), '€' (3 bytes): a third of the scaled corpus is
      // MULTIBYTE text, so the byte-explicit oracle family
      // (mm_* / text_fingerprint / dedup_simhash_verify, de-ASCII'd in
      // round 6) is exercised end-to-end by every scaling-dir
      // correctness run, not only by TextAndAggSpec's fixture. The
      // vocabulary isomorphism is preserved: within a copy every
      // word-relation is identical to the original, across copies the
      // (separator, copy-id) suffixes keep vocabularies disjoint.
      write(
        replicate(docs)
          .withColumn("doc_id", col("doc_id") + col("__copy") * dk)
          .withColumn("text",
            when(col("__copy") === 0, col("text"))
              .otherwise(concat_ws(" ",
                expr("""transform(filter(split(text, ' '), w -> w != ''),
                       |  w -> concat(w,
                       |    CASE __copy % 3 WHEN 1 THEN 'µ' WHEN 2 THEN '€' ELSE '~' END,
                       |    __copy))""".stripMargin))))
          .withColumn("n_chars", length(col("text")))
          .drop("__copy"),
        "documents")
    }

    if (only("embeddings")) {
      val emb = read("embeddings")
      val vk = keySpan(emb, "vec_id", roundTo = 50)
      write(
        replicate(emb)
          .withColumn("vec_id", col("vec_id") + col("__copy") * vk)
          .withColumn("rot", pmod(col("__copy"), size(col("embedding"))).cast("int"))
          .withColumn("embedding",
            expr("concat(slice(embedding, rot + 1, size(embedding) - rot), slice(embedding, 1, rot))"))
          .drop("__copy", "rot"),
        "embeddings")
    }

    if (only("events")) {
      val events = read("events") // ts stays raw INT64 nanos (see Tables.events)
      val ek = keySpan(events, "event_id")
      val uk = keySpan(events, "user_id")
      write(
        replicate(events)
          .withColumn("event_id", col("event_id") + col("__copy") * ek)
          .withColumn("user_id", col("user_id") + col("__copy") * uk)
          .drop("__copy"),
        "events")
    }

    if (only("orders") || only("lineitem")) {
      val orders = read("orders")
      val ok = keySpan(orders, "o_orderkey")
      if (only("orders")) write(
        replicate(orders)
          .withColumn("o_orderkey", col("o_orderkey") + col("__copy") * ok)
          .drop("__copy"),
        "orders")
      if (only("lineitem")) write(
        replicate(read("lineitem"))
          .withColumn("l_orderkey", col("l_orderkey") + col("__copy") * ok)
          .drop("__copy"),
        "lineitem")
    }

    println(s"""{"scaled": "$src -> $out", "copies": $copies}""")
    spark.stop()
  }
}
