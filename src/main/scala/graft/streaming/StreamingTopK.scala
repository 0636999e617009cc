package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Running top-k per key over a stream: the streaming twin of
  * [[graft.functions.TopKAggregator]], with the SAME bounded buffer as
  * the per-key state (score DESC, id ASC, ties on id). Each trigger
  * folds the batch's rows into the stored buffer and emits the key's
  * current top-k — state size is O(k) per key forever, the property that
  * lets the query run unbounded (no watermark needed: top-k over all
  * history is monotone, old entries can only be displaced, never
  * revived). The operator of the registered `topk_stream`.
  *
  * Use Update output mode; each emitted row supersedes the key's
  * previous one. The state also counts the rows seen for the key, and
  * each emission carries that count as `n_seen`: it only grows, so a
  * consumer that reads the updates back as a table (a foreachBatch sink)
  * takes each key's latest top-k as its row with the largest `n_seen`.
  */
object StreamingTopK {

  /** @param rows (key, score, id) stream
    * @return (key, n_seen, top ids best-first, matching scores) per
    *         trigger */
  def runningTopK(spark: SparkSession, rows: Dataset[(Long, Double, Long)],
                  k: Int): Dataset[(Long, Long, Seq[Long], Seq[Double])] = {
    import spark.implicits._
    val agg = new graft.functions.TopKAggregator(k)
    rows.groupByKey(_._1)
      .mapGroupsWithState[(Array[(Double, Long)], Long), (Long, Long, Seq[Long], Seq[Double])](
        GroupStateTimeout.NoTimeout) { (key, it, state) =>
        val (buf, seen) = state.getOption.getOrElse((agg.zero, 0L))
        var n = seen
        val folded = it.foldLeft(buf) { (b, r) => n += 1; agg.reduce(b, (r._2, r._3)) }
        state.update((folded, n))
        (key, n, folded.toSeq.map(_._2), folded.toSeq.map(_._1))
      }
  }
}
