package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Asof
import graft.sources.Tables

/** Correctness of the custom merge as-of join operator against an
  * independent driver-side computation, plan-shape checks, and edge cases
  * (no match, exact-tie timestamps, empty right partition keys). */
class AsofJoinSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("asof join semantics on a constructed example") {
    val trades = Seq(
      (1L, t("2024-01-01 10:00:00"), "T1"),
      (1L, t("2024-01-01 10:05:00"), "T2"),
      (2L, t("2024-01-01 10:01:00"), "T3"),
      (3L, t("2024-01-01 09:00:00"), "T4") // key with no quotes at all
    ).toDF("sym", "ts", "tag")
    val quotes = Seq(
      (1L, t("2024-01-01 09:59:00"), 100.0),
      (1L, t("2024-01-01 10:05:00"), 101.0), // exact tie: <= matches
      (1L, t("2024-01-01 10:06:00"), 999.0), // in the future: never matches
      (2L, t("2024-01-01 10:02:00"), 200.0)  // after T3: no match for key 2
    ).toDF("sym", "ts", "px")

    val got = Asof.join(trades, quotes, "sym", "ts")
      .select("tag", "r_px").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got === Map(
      "T1" -> Some(100.0), // latest quote <= 10:00
      "T2" -> Some(101.0), // tie at 10:05 matches
      "T3" -> None,        // only a later quote exists for key 2
      "T4" -> None))       // key has no right rows
  }

  test("asof join matches an independent computation on real events data") {
    val events = Tables.events(spark, SF)
    val purchases = events.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))

    val got = Asof.join(purchases, clicks, "user_id", "ts")
      .select("event_id", "r_click_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap

    // independent: collect and compute per purchase
    val clickRows = clicks.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val expected = purchases.collect().map { p =>
      val (pid, uid, pts) = (p.getLong(0), p.getLong(1), p.getTimestamp(2))
      val best = clickRows.filter(c => c._1 == uid && !c._2.after(pts))
        .sortBy(c => (c._2.getTime, c._3)).lastOption
      pid -> best.map(_._3)
    }.toMap
    assert(got.size === expected.size)
    assert(got === expected)
  }

  test("forward and nearest directions on a constructed example") {
    val trades = Seq(
      (1L, t("2024-01-01 10:00:00"), "T1"),
      (1L, t("2024-01-01 10:05:00"), "T2"),
      (2L, t("2024-01-01 10:01:00"), "T3"),
      (3L, t("2024-01-01 09:00:00"), "T4") // key with no quotes at all
    ).toDF("sym", "ts", "tag")
    val quotes = Seq(
      (1L, t("2024-01-01 09:59:00"), 100.0),
      (1L, t("2024-01-01 10:05:00"), 101.0), // exact tie: matches BOTH directions
      (1L, t("2024-01-01 10:06:00"), 999.0),
      (2L, t("2024-01-01 10:02:00"), 200.0)  // after T3: forward-only match
    ).toDF("sym", "ts", "px")
    def run(df: org.apache.spark.sql.DataFrame) = df
      .select("tag", "r_px").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    // forward: FIRST quote at or after the trade
    assert(run(Asof.joinForward(trades, quotes, "sym", "ts")) === Map(
      "T1" -> Some(101.0), // first quote >= 10:00 is 10:05
      "T2" -> Some(101.0), // tie at 10:05 matches (>= is inclusive)
      "T3" -> Some(200.0), // the later quote is now a match
      "T4" -> None))
    // nearest: closer of the two, ties backward
    assert(run(Asof.joinNearest(trades, quotes, "sym", "ts")) === Map(
      "T1" -> Some(100.0), // 1 min back vs 5 min ahead
      "T2" -> Some(101.0), // gap-0 backward match wins outright
      "T3" -> Some(200.0), // only a forward candidate exists
      "T4" -> None))
    // equidistant tie goes to the backward match
    val mid = Seq((1L, t("2024-01-01 10:02:00"), "M")).toDF("sym", "ts", "tag")
    val pair = Seq(
      (1L, t("2024-01-01 10:01:00"), 1.0),
      (1L, t("2024-01-01 10:03:00"), 2.0)).toDF("sym", "ts", "px")
    assert(run(Asof.joinNearest(mid, pair, "sym", "ts")) === Map("M" -> Some(1.0)))
  }

  test("forward/nearest match an independent computation on real events data") {
    val events = Tables.events(spark, SF)
    val purchases = events.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = events.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max(col("event_id")).as("click_id"))

    def collectJoin(df: org.apache.spark.sql.DataFrame) = df
      .select("event_id", "r_click_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    val gotF = collectJoin(Asof.joinForward(purchases, clicks, "user_id", "ts"))
    val gotN = collectJoin(Asof.joinNearest(purchases, clicks, "user_id", "ts"))

    val clickRows = clicks.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val (expF, expN) = {
      val per = purchases.collect().map { p =>
        val (pid, uid, pts) = (p.getLong(0), p.getLong(1), p.getTimestamp(2))
        val mine = clickRows.filter(_._1 == uid)
        val back = mine.filter(!_._2.after(pts)).sortBy(c => (c._2.getTime, c._3)).lastOption
        val fwd = mine.filter(!_._2.before(pts)).sortBy(c => (c._2.getTime, c._3)).headOption
        val near = (back, fwd) match {
          case (Some(b), Some(f)) =>
            if (pts.getTime - b._2.getTime <= f._2.getTime - pts.getTime) Some(b) else Some(f)
          case (b, f) => b.orElse(f)
        }
        (pid -> fwd.map(_._3), pid -> near.map(_._3))
      }
      (per.map(_._1).toMap, per.map(_._2).toMap)
    }
    assert(gotF === expF)
    assert(gotN === expN)
  }

  test("tolerance bound nulls out stale matches") {
    val trades = Seq((1L, t("2024-01-01 10:00:00"), "T1")).toDF("sym", "ts", "tag")
    val quotes = Seq((1L, t("2024-01-01 08:00:00"), 50.0)).toDF("sym", "ts", "px")
    // without tolerance: the 2h-old quote matches
    val plain = Asof.join(trades, quotes, "sym", "ts").select("r_px").head()
    assert(plain.getDouble(0) === 50.0)
    // with 30-minute tolerance: too stale -> nulls
    val bounded = Asof.joinWithTolerance(trades, quotes, "sym", "ts",
      expr("INTERVAL 30 MINUTES")).select("r_px").head()
    assert(bounded.isNullAt(0))
  }

  test("joinNearest rejects a non-measurable time column upfront, naming the API") {
    import spark.implicits._
    val l = Seq((1L, "a")).toDF("k", "t")
    val r = Seq((1L, "b")).toDF("k", "t")
    val e = intercept[IllegalArgumentException](Asof.joinNearest(l, r, "k", "t"))
    assert(e.getMessage.contains("joinNearest") && e.getMessage.contains("STRING"),
      e.getMessage)
    // backward/forward only need an ordering: strings stay legal there
    assert(Asof.join(l, r, "k", "t").count() === 1L)
  }

  test("nearest tie-break survives extreme long-time spans (gap > Long.MaxValue)") {
    import spark.implicits._
    // left at 10; backward candidate near Long.MinValue (gap 2^63 + 5 >
    // Long.MaxValue — wraps NEGATIVE under raw signed subtraction, which
    // would steal the pick from the forward match only 90 away), forward
    // at 100
    val l = Seq((1L, 10L)).toDF("k", "t")
    val r = Seq((1L, Long.MinValue + 5L, "behind"), (1L, 100L, "ahead"))
      .toDF("k", "t", "tag")
    val got = Asof.joinNearest(l, r, "k", "t").select("r_tag").head().getString(0)
    assert(got === "ahead", s"overflow flipped the nearest pick: got $got")
  }

  /** Executed plan of the purchase-to-click as-of join over `events`. */
  private def asofPlan(events: org.apache.spark.sql.DataFrame): String = {
    val l = events.filter(col("event_type") === "purchase")
    val r = events.filter(col("event_type") === "click")
    Asof.join(l, r, "user_id", "ts").queryExecution.executedPlan.toString
  }

  test("plan shape: one exchange+sort per side, no blow-up operators") {
    // the same events written as two files: a multi-split scan, which the
    // one-split scan rule leaves to Spark's exchanges
    val dir = scratchDir("asof_events_").getAbsolutePath + "/events"
    Tables.events(spark, SF).repartition(2).write.parquet(dir)
    val planStr = asofPlan(spark.read.parquet(dir))
    assert(planStr.contains("AsofJoin"), planStr) // nodeName strips "Exec"
    assert(planStr.split("Exchange hashpartitioning").length == 3,
      s"expected exactly one shuffle per side:\n$planStr")
    assert(!planStr.contains("CartesianProduct") && !planStr.contains("BroadcastNestedLoop"),
      s"asof must not plan a product:\n$planStr")
  }

  test("plan shape: a one-split events scan plans the as-of join with no exchange") {
    val planStr = asofPlan(Tables.events(spark, SF))
    assert(planStr.contains("AsofJoin"), planStr)
    assert(!planStr.contains("Exchange"), s"one split needs no shuffle:\n$planStr")
    assert(!planStr.contains("CartesianProduct") && !planStr.contains("BroadcastNestedLoop"),
      s"asof must not plan a product:\n$planStr")
  }
}
