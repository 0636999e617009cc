package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

/** Smoke-level coverage: the flagship entry and every registered query must
  * plan and execute on sf0.001. The DuckDB oracle (driver-run; locally via
  * tools/check_oracle.py) owns value-level correctness for oracled queries;
  * the specs own the rest. */
class QueriesSpec extends AnyFunSuite with SparkTestBase {

  test("entry (wx_wow_record flagship) produces full WOW records") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.length === 13) // event_id + the 12 D4 fields
    assert(df.columns.contains("dateutc") && df.columns.contains("baromin"))
    val n = df.count()
    assert(n === 1000L, s"expected one record per event, got $n")
  }

  test("every query in the registry executes at sf0.001") {
    val mustBeNonEmpty = SparkEntry.queries.keySet --
      Set("join_anti", "set_except", "dedup_embed") // legitimately empty/small
    // the same runs also check the streams: exactly the StreamQ-flagged
    // queries start one, and none of them executes an empty micro-batch
    val batches = new StreamBatches
    spark.streams.addListener(batches)
    try {
      SparkEntry.queries.foreach { case (name, fn) =>
        batches.current = name
        // collect, not count: under count() Catalyst prunes every output
        // column no operator references, so a broken column would pass
        val n = fn(spark, SF).collect().length
        assert(n >= 0, s"$name failed")
        if (mustBeNonEmpty(name)) assert(n > 0, s"$name returned no rows")
      }
      // progress events arrive on the listener bus after the query
      // returns; a run's termination event follows all of its progress
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!batches.allTerminated && System.nanoTime() < deadline) Thread.sleep(50)
      assert(batches.allTerminated, "a stream's termination event never arrived")
    } finally spark.streams.removeListener(batches)
    assert(batches.startedBy === SparkEntry.streamingQueries)
    assert(batches.emptyBatches.isEmpty,
      s"executed empty micro-batches: ${batches.emptyBatches}")
  }

  test("twin registrations share one DuckDB oracle") {
    // each group spells one computation several ways (batch, streaming,
    // SQL text, another operator), so all of its members must be held
    // to the same oracle text
    val twins = Seq(
      Seq("sim_knn", "sim_knn_topk"),
      Seq("docs_decontam", "docs_decontam_bloom"),
      Seq("dedup_incremental", "dedup_incremental_stream", "sql_neardup_probe"),
      Seq("dedup_embed_incremental", "dedup_embed_incremental_stream"),
      Seq("join_asof_custom", "join_asof_stream", "sql_asof"),
      Seq("win_tumbling", "win_tumbling_stream"),
      Seq("win_session", "win_session_stream"),
      Seq("wx_rain_daily", "wx_rain_daily_stream", "wx_rain_daily_stream_restart"))
    for (group <- twins) {
      val oracles = group.map(n => n -> SparkEntry.oracleSql.get(n))
      assert(oracles.forall(_._2.isDefined),
        s"no oracle for ${oracles.filter(_._2.isEmpty).map(_._1)}")
      assert(oracles.map(_._2).distinct.size === 1, s"oracles differ within $group")
    }
  }

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without queries: $orphans")
  }
}

/** Attributes every stream run to the registered query named by `current`
  * and records its executed empty micro-batches. `onQueryStarted` runs on
  * the stream's thread before `start()` returns, so `current` still names
  * the query that started it; later events are matched by run id. An
  * executed empty batch is a new batch id whose durations include
  * `addBatch` and whose input is zero rows; idle progress events repeat
  * the last batch id and carry no `addBatch`. */
private final class StreamBatches extends StreamingQueryListener {
  @volatile var current = ""
  private val owner = new ConcurrentHashMap[UUID, String]()
  private val seen = ConcurrentHashMap.newKeySet[(UUID, Long)]()
  private val terminated = ConcurrentHashMap.newKeySet[UUID]()
  private val empty = new ConcurrentLinkedQueue[String]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = owner.put(e.runId, current)
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.durationMs.containsKey("addBatch") && seen.add((p.runId, p.batchId)) &&
        p.numInputRows == 0)
      empty.add(owner.getOrDefault(p.runId, p.runId.toString))
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.add(e.runId)

  def startedBy: Set[String] = owner.values.asScala.toSet
  def allTerminated: Boolean = owner.keySet.asScala.forall(terminated.contains)
  def emptyBatches: Map[String, Int] =
    empty.asScala.groupBy(identity).map { case (n, xs) => n -> xs.size }
}
