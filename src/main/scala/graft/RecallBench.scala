package graft

import org.apache.spark.sql.functions._

/** Recall@k / latency sweep for the approximate kNN variants against the
  * exact baseline — the parameter curve a user sizing tables/bits (LSH) or
  * nlist/nprobe (IVF) at 100 TB needs (results committed in RECALL.md).
  *
  * `runMain graft.RecallBench <sfDir> [<sfDir> ...]` — per dir: exact
  * top-k once (knnTopK), then each config's recall
  * |exact ∩ approx| / |exact| over (q_id, neighbor_id) pairs and
  * min-of-2 wall seconds. Query set = the registered one (every 50th
  * vector).
  */
object RecallBench {

  private val K = 5

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RecallBench <sfDir>...")
    val spark = Harness.session(Harness.cores)

    def fmt(v: Double, d: Int = 3) =
      String.format(java.util.Locale.ROOT, s"%.${d}f", Double.box(v))

    val out = args.toSeq.flatMap { dir =>
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding")
      val q = e.filter(col("vec_id") % 50 === 0)
      val nC = e.count(); val nQ = q.count()

      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("q_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet

      def timed(f: => Set[(Long, Long)]): (Set[(Long, Long)], Double) = {
        f // warmup (plan + JIT)
        val runs = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val s = f
          (s, (System.nanoTime() - t0) / 1e9)
        }
        (runs.head._1, runs.map(_._2).min)
      }

      val (exact, tExact) = timed(pairs(
        operators.Similarity.knnTopK(e, q, K)))

      def rec(approx: Set[(Long, Long)]): Double =
        (exact & approx).size.toDouble / exact.size

      val lsh = for (t <- Seq(4, 8, 16); b <- Seq(6, 8, 10)) yield {
        val (s, sec) = timed(pairs(
          operators.Similarity.lshKnn(e, q, K, tables = t, bits = b)))
        s"""{"dir":"$dir","algo":"lsh","tables":$t,"bits":$b,"recall":${fmt(rec(s))},"sec":${fmt(sec, 2)}}"""
      }
      val ivf = for (nl <- Seq(16, 32, 64); np <- Seq(1, 2, 4)) yield {
        val (s, sec) = timed(pairs(
          operators.Similarity.ivfKnn(e, q, K, nlist = nl, nprobe = np)))
        s"""{"dir":"$dir","algo":"ivf","nlist":$nl,"nprobe":$np,"recall":${fmt(rec(s))},"sec":${fmt(sec, 2)}}"""
      }
      val head =
        s"""{"dir":"$dir","algo":"exact","corpus":$nC,"queries":$nQ,"recall":1.000,"sec":${fmt(tExact, 2)}}"""
      head +: (lsh ++ ivf)
    }
    println(out.mkString("[\n", ",\n", "\n]"))
    spark.stop()
  }
}
