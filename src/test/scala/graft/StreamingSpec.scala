package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.WeatherStream
import graft.streaming.WeatherStream.{RainObs, SensorReading}

/** Streaming surface tests (SURVEY.md §5.4): cross-batch state carry for
  * the rain machine, streaming==batch equivalence, and watermark
  * late-data drop. MemoryStream + processAllAvailable makes micro-batches
  * synchronous. */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def ts(h: Int, m: Int = 0, day: Int = 1): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $h%02d:$m%02d:00")

  test("rain state machine carries state across micro-batches and days") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[SensorReading]
    val q = WeatherStream.rainDailyStream(input.toDS()).writeStream
      .format("memory").queryName("rain_out").outputMode("append").start()
    try {
      // batch 1: day 1, first two observations
      input.addData(
        SensorReading(0, 7, ts(0, 10), 1.0),
        SensorReading(1, 7, ts(0, 25), 2.0))
      q.processAllAvailable()
      // batch 2: same day continues (state must survive the batch boundary),
      // then a day rollover
      input.addData(
        SensorReading(2, 7, ts(5, 0), 0.5),
        SensorReading(3, 7, ts(1, 0, day = 2), 4.0))
      q.processAllAvailable()

      val got = spark.table("rain_out").as[RainObs].collect()
        .sortBy(_.event_id).toSeq
      val want = Seq(
        // e0: first obs of day 1 -> rollover reset, all zero
        RainObs(0, 7, ts(0, 10), 1.0, "2024-01-01", 1.0, 0.0, 0.0),
        // e1: daily = 3-1 = 2, first rain of day -> rate = 4*2
        RainObs(1, 7, ts(0, 25), 2.0, "2024-01-01", 3.0, 2.0, 8.0),
        // e2 (new batch, same day): daily = 3.5-1, rate = 4*(3.5-3)
        RainObs(2, 7, ts(5, 0), 0.5, "2024-01-01", 3.5, 2.5, 2.0),
        // e3: new day -> reset
        RainObs(3, 7, ts(1, 0, day = 2), 4.0, "2024-01-02", 7.5, 0.0, 0.0))
      assert(got.size === want.size)
      got.zip(want).foreach { case (g, w) =>
        assert(g.day === w.day && math.abs(g.total_rain_mm - w.total_rain_mm) < 1e-9
          && math.abs(g.daily_rain_mm - w.daily_rain_mm) < 1e-9
          && math.abs(g.rain_rate_mmh - w.rain_rate_mmh) < 1e-9, s"got $g want $w")
      }
    } finally q.stop()
  }

  test("streaming rain == batch rainDaily on identical data") {
    val readings = (0 until 50).map { i =>
      SensorReading(i.toLong, i.toLong % 3,
        new Timestamp(ts(0).getTime + i * 3600L * 1000L), (i % 7) * 0.5)
    }
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[SensorReading]
    val q = WeatherStream.rainDailyStream(input.toDS()).writeStream
      .format("memory").queryName("rain_eq").outputMode("append").start()
    try {
      val (a, b) = readings.splitAt(23) // uneven split across a batch boundary
      input.addData(a: _*); q.processAllAvailable()
      input.addData(b: _*); q.processAllAvailable()
      val streamed = spark.table("rain_eq").as[RainObs].collect()
        .sortBy(_.event_id).toSeq
      val batch = graft.operators.WeatherQueries.rainDaily(
          readings.toDF("event_id", "user_id", "ts", "value"))
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
      assert(streamed.size === batch.size)
      streamed.zip(batch).foreach { case (s, (bid, bday, btot, bdaily, brate)) =>
        assert(s.event_id === bid && s.day === bday
          && math.abs(s.total_rain_mm - btot) < 1e-6
          && math.abs(s.daily_rain_mm - bdaily) < 1e-6
          && math.abs(s.rain_rate_mmh - brate) < 1e-6, s"stream $s batch ($bid,$bday,$btot,$bdaily,$brate)")
      }
    } finally q.stop()
  }

  test("chunkedFileFeed replays as one ordered micro-batch per chunk") {
    val readings = (0 until 40).map { i =>
      SensorReading(i.toLong, i.toLong % 3,
        new Timestamp(ts(0).getTime + i * 3600L * 1000L), (i % 7) * 0.5)
    }
    val dir = java.nio.file.Files.createTempDirectory("chunk_feed_").toFile
    val feed = WeatherStream.chunkedFileFeed(
      readings.toDF("event_id", "user_id", "ts", "value"),
      new java.io.File(dir, "src").getAbsolutePath, nChunks = 4)
    val q = WeatherStream.rainDailyStream(feed.typed).writeStream
      .format("memory").queryName("feed_out").outputMode("append").start()
    try {
      WeatherStream.runChunked(q, Seq(feed))
      // the whole point of the feed: 4 chunks -> 4 SEPARATE micro-batches,
      // so cross-batch state carry is exercised (not masked by one batch)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length === 4,
        s"expected 4 data micro-batches, got ${batches.length}")
      assert(batches.map(_.numInputRows).sum === 40)
      // and the replay order must be event-time order: output == batch path
      val streamed = spark.table("feed_out").as[RainObs].collect()
        .sortBy(_.event_id).map(o => (o.event_id, o.day, o.total_rain_mm,
          o.daily_rain_mm, o.rain_rate_mmh)).toSeq
      val batch = graft.operators.WeatherQueries.rainDaily(
          readings.toDF("event_id", "user_id", "ts", "value"))
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))).toSeq
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming session windows MERGE a session that spans micro-batches") {
    import org.apache.spark.sql.functions._
    // Fillers at hours 0..15; user 7's two events 10 minutes apart around
    // hour 8 — inside ONE 30-minute-gap session, but placed to straddle a
    // chunk quantile boundary so they arrive in different micro-batches.
    // The test asserts the straddle actually happened (from the staged
    // chunk files), then that streaming still emits ONE merged session.
    val base = ts(0).getTime
    def at(mins: Long) = new Timestamp(base + mins * 60000L)
    val fillers = (0 until 16).map(h => (100L + h, 0L, at(h * 60L), 1.0))
    val pair = Seq((1L, 7L, at(8 * 60L - 5), 1.0), (2L, 7L, at(8 * 60L + 5), 1.0))
    val ev = (fillers ++ pair).toDF("event_id", "user_id", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("session_merge_").toFile
    val staging = new java.io.File(dir, "src").getAbsolutePath
    val sentinel = Seq((99L, -1L, at(14L * 24 * 60), 0.0))
      .toDF("event_id", "user_id", "ts", "value")
    val input = WeatherStream.chunkedFileFeedDF(
      ev.union(sentinel), "ts", staging, nChunks = 4)
    // the staged write partitions by chunk — recover each row's chunk id
    val chunkOf = spark.read.parquet(s"$staging/chunks")
      .select("event_id", "chunk").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(chunkOf(1L) !== chunkOf(2L),
      s"test setup: the session pair must straddle a chunk boundary, got $chunkOf")
    val agg = input.df
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("start"), col("n"))
    val q = agg.writeStream.format("memory").queryName("session_merge_out")
      .outputMode("append").start()
    try WeatherStream.runChunked(q, Seq(input)) finally q.stop()
    val sessions = spark.table("session_merge_out")
      .filter(col("user_id") === 7L).collect()
    assert(sessions.length === 1,
      s"cross-batch session must merge into one window: ${sessions.toSeq}")
    assert(sessions.head.getLong(2) === 2L)
    assert(sessions.head.getTimestamp(1) === at(8 * 60L - 5))
  }

  test("stream-stream join matches partners that arrive in different micro-batches") {
    import org.apache.spark.sql.functions._
    // Each feed replays one chunk file per micro-batch, so a click in
    // chunk k only meets a purchase in chunk k' > k if the click's join
    // state survives k' - k batches. Plant exactly that: user 7's click
    // just before the chunk boundary, its matching purchase (30 minutes
    // later, within the 1-hour join window) just after — then assert
    // from the staged files that their chunk indices really differ, and
    // that the streamed join still finds the pair.
    val base = ts(0).getTime
    def at(mins: Long) = new Timestamp(base + mins * 60000L)
    val clicks = ((0 until 16).map(h => (100L + h, 0L, at(h * 60L)))
      :+ ((1L, 7L, at(4 * 60L - 5)))).toDF("c_id", "c_user", "c_ts")
    val purchases = ((0 until 16).map(h => (200L + h, 0L, at(h * 60L + 30)))
      :+ ((2L, 7L, at(4 * 60L + 40)))).toDF("p_id", "user_id", "p_ts")
    val dir = java.nio.file.Files.createTempDirectory("ssjoin_").toFile
    val cStage = new java.io.File(dir, "clicks").getAbsolutePath
    val pStage = new java.io.File(dir, "purchases").getAbsolutePath
    val cFeed = WeatherStream.chunkedFileFeedDF(clicks, "c_ts", cStage, nChunks = 4)
    val pFeed = WeatherStream.chunkedFileFeedDF(purchases, "p_ts", pStage, nChunks = 4)
    val cChunk = spark.read.parquet(s"$cStage/chunks").filter(col("c_id") === 1L)
      .select("chunk").head().getInt(0)
    val pChunk = spark.read.parquet(s"$pStage/chunks").filter(col("p_id") === 2L)
      .select("chunk").head().getInt(0)
    assert(cChunk !== pChunk,
      s"test setup: partners must arrive in different batches (click chunk $cChunk, purchase chunk $pChunk)")
    val joined = pFeed.df.withWatermark("p_ts", "2 hours")
      .join(cFeed.df.withWatermark("c_ts", "2 hours"),
        expr("user_id = c_user AND c_ts >= p_ts - interval 1 hour AND c_ts <= p_ts"))
      .select(col("p_id"), col("c_id"))
    val q = joined.writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    try WeatherStream.runChunked(q, Seq(pFeed, cFeed)) finally q.stop()
    val pairs = spark.table("ssjoin_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((2L, 1L)),
      s"cross-batch partners must match; got ${pairs.filter(_._1 == 2L)}")
    // and the full streamed set equals the batch join on the same data
    val batch = purchases.join(clicks,
        expr("user_id = c_user AND c_ts >= p_ts - interval 1 hour AND c_ts <= p_ts"))
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === batch)
  }

  test("chunkedFileFeed degrades gracefully on heavily-tied event times") {
    // >25% of rows share one timestamp -> duplicate quantile bounds are
    // deduplicated and the feed collapses to fewer (still ordered)
    // chunks; the stateful consumer must stay correct, just with fewer
    // micro-batches
    val readings = (0 until 40).map { i =>
      val t = if (i < 24) ts(1) else ts(10 + (i - 24))
      SensorReading(i.toLong, i.toLong % 2, t, 1.0)
    }
    val dir = java.nio.file.Files.createTempDirectory("tied_feed_").toFile
    val feed = WeatherStream.chunkedFileFeed(
      readings.toDF("event_id", "user_id", "ts", "value"),
      new java.io.File(dir, "src").getAbsolutePath, nChunks = 4)
    val q = WeatherStream.rainDailyStream(feed.typed).writeStream
      .format("memory").queryName("tied_out").outputMode("append").start()
    try {
      WeatherStream.runChunked(q, Seq(feed))
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 2 && batches.length <= 4,
        s"expected collapsed-but-multi batch replay, got ${batches.length}")
      assert(batches.map(_.numInputRows).sum === 40)
      val streamed = spark.table("tied_out").as[RainObs].collect()
        .sortBy(_.event_id).map(o => (o.event_id, o.total_rain_mm)).toSeq
      val batch = graft.operators.WeatherQueries.rainDaily(
          readings.toDF("event_id", "user_id", "ts", "value"))
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(3))).toSeq
      assert(streamed === batch)
    } finally q.stop()
  }

  test("rain stream stopped after chunk 2 of 4 resumes from its checkpoint, output == batch") {
    // THE fault-tolerance fact a production user relies on: kill a
    // stateful streaming query mid-feed, restart it from the SAME
    // checkpoint + sink dirs, drain the rest — the recovered run must
    // produce exactly the batch result (state store restores the
    // per-user RainState; the file-sink metadata log keeps output
    // exactly-once across the restart).
    val readings = (0 until 60).map { i =>
      SensorReading(i.toLong, i.toLong % 3,
        new Timestamp(ts(0).getTime + i * 3600L * 1000L), (i % 7) * 0.5)
    }
    val dir = java.nio.file.Files.createTempDirectory("restart_rain_").toFile
    val feed = WeatherStream.chunkedFileFeed(
      readings.toDF("event_id", "user_id", "ts", "value"),
      new java.io.File(dir, "src").getAbsolutePath, nChunks = 4)
    assert(feed.nChunks === 4)
    val sink = new java.io.File(dir, "sink")
    def start() = WeatherStream.startParquetSink(
      WeatherStream.rainDailyStream(feed.typed).toDF(), sink)
    val q1 = start()
    try {
      feed.advance(); q1.processAllAvailable()
      feed.advance(); q1.processAllAvailable()
    } finally q1.stop() // stop mid-feed: chunks 2..3 have not arrived
    val q2 = start()    // SAME checkpoint: state + file-sink log recovered
    try WeatherStream.runChunked(q2, Seq(feed)) finally q2.stop()
    val streamed = WeatherStream.readParquetSink(spark, sink)
      .collect().map(o => (o.getLong(0), o.getString(4), o.getDouble(5),
        o.getDouble(6), o.getDouble(7))).sortBy(_._1).toSeq
    val batch = graft.operators.WeatherQueries.rainDaily(
        readings.toDF("event_id", "user_id", "ts", "value"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(streamed === batch)
  }

  test("windowed stream resumes watermark state across a checkpoint restart") {
    import org.apache.spark.sql.functions._
    // Same restart drill for a watermarked tumbling-window aggregation:
    // the watermark and the partial window state live in the checkpoint,
    // so a window that is OPEN at the stop must still close correctly
    // after the restart. A far-future sentinel in the last chunk pushes
    // the watermark past every real window (its own window never closes).
    val base = ts(0).getTime
    def at(mins: Long) = new Timestamp(base + mins * 60000L)
    val ev = ((0 until 48).map(i => (i.toLong, at(i * 15L), (i % 5) * 1.0))
      :+ ((99L, at(14L * 24 * 60), 0.0)))
      .toDF("event_id", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("restart_win_").toFile
    val feed = WeatherStream.chunkedFileFeedDF(
      ev, "ts", new java.io.File(dir, "src").getAbsolutePath)
    val sink = new java.io.File(dir, "sink")
    def start() = WeatherStream.startParquetSink(
      feed.df.withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(col("window.start").as("ws"), col("n"), col("sum_value")),
      sink)
    val q1 = start()
    try {
      feed.advance(); q1.processAllAvailable()
      feed.advance(); q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try WeatherStream.runChunked(q2, Seq(feed)) finally q2.stop()
    val streamed = WeatherStream.readParquetSink(spark, sink)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1.getTime).toSeq
    val batch = ev.filter(col("event_id") =!= 99L)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("n"), col("sum_value"))
      .orderBy("ws").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed === batch)
  }

  test("a feed whose epilogue was never staged fails fast, naming the dir") {
    // An epilogue-less construction caches the staged bounds for the dir;
    // a later construction over the same dir that asks for an epilogue
    // would otherwise get a feed whose final chunk publishes nothing, so
    // its closing watermark batch never runs and no window is emitted.
    val ev = (0 until 8).map(i => (i.toLong, ts(i), 1.0)).toDF("event_id", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("epilogue_").toFile
    val src = new java.io.File(dir, "src").getAbsolutePath
    WeatherStream.chunkedFileFeedDF(ev, "ts", src)
    val epiDir = new java.io.File(src, "chunks/epilogue").getAbsolutePath
    val e = intercept[IllegalStateException] {
      WeatherStream.chunkedFileFeedDF(ev, "ts", src,
        epilogue = Some(Seq((99L, ts(23, day = 9), 0.0)).toDF("event_id", "ts", "value")))
    }
    assert(e.getMessage.contains(epiDir))
    graft.core.rmTree(dir)
  }

  test("registered wx_rain_daily_stream is row-identical to batch wx_rain_daily") {
    // exact Row equality, doubles included — the BigDecimal state carries
    // the batch DECIMAL(25,6) semantics, so the shared oracle hash-matches
    val streamed = SparkEntry.queries("wx_rain_daily_stream")(spark, SF).collect()
    val batch = SparkEntry.queries("wx_rain_daily")(spark, SF).collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
  }

  test("registered win_tumbling_stream is row-identical to batch win_tumbling") {
    // watermarked streaming windows over the file feed == batch windows,
    // exact Rows (DECIMAL sum state; sentinel window never emitted)
    val streamed = SparkEntry.queries("win_tumbling_stream")(spark, SF).collect()
    val batch = SparkEntry.queries("win_tumbling")(spark, SF).collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
  }

  test("WowSink posts per-partition and drops (not retries) on transport failure") {
    import graft.streaming.WowSink
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    WowSink.BufferTransport.clear()
    val input = MemoryStream[SensorReading]
    val q = WowSink.start(input.toDF(), WowSink.BufferTransport(), "wow_ok")
    try {
      input.addData(SensorReading(1, 1, ts(6), 1.0), SensorReading(2, 1, ts(7), 2.0))
      q.processAllAvailable()
      assert(WowSink.BufferTransport.sent.size === 2)
    } finally q.stop()
    // failing transport: records dropped, query keeps running (at-most-once)
    WowSink.BufferTransport.clear()
    val input2 = MemoryStream[SensorReading]
    val q2 = WowSink.start(input2.toDF(), WowSink.BufferTransport.failing(), "wow_fail")
    try {
      input2.addData(SensorReading(3, 1, ts(8), 1.0))
      q2.processAllAvailable()
      input2.addData(SensorReading(4, 1, ts(9), 1.0))
      q2.processAllAvailable() // no exception: the stream survived the sink failure
      assert(WowSink.BufferTransport.sent.isEmpty)
      assert(q2.isActive)
    } finally q2.stop()
  }

  test("streaming dedup drops in-horizon duplicates across micro-batches") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("key", "ts", "value")
    val q = WeatherStream.dedupStream(events, Seq("key"), lateness = "1 hour")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      input.addData((1L, ts(10, 0), 1.0), (1L, ts(10, 5), 2.0), (2L, ts(10, 6), 3.0))
      q.processAllAvailable()
      input.addData((1L, ts(10, 20), 4.0)) // duplicate key, next batch, in horizon
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      assert(rows.length === 2, s"expected one row per key: ${rows.toSeq}")
      assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming running top-k folds batches into O(k) per-key state") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Double, Long)]
    val q = graft.streaming.StreamingTopK.runningTopK(spark, input.toDS(), 2)
      .toDF("key", "ids", "scores")
      .writeStream.format("memory").queryName("topk_out").outputMode("update").start()
    try {
      input.addData((1L, 0.5, 10L), (1L, 0.9, 11L), (1L, 0.1, 13L), (2L, 0.3, 20L))
      q.processAllAvailable()
      input.addData((1L, 0.7, 12L), (2L, 0.8, 21L))
      q.processAllAvailable()
      val updates = spark.table("topk_out").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
      // batch 1: key 1 kept (11, 10) of 3 seen; batch 2 displaced 10 by 12
      assert(updates.contains((1L, Seq(11L, 10L))), updates.toSeq)
      assert(updates.contains((1L, Seq(11L, 12L))), updates.toSeq)
      assert(updates.contains((2L, Seq(21L, 20L))), updates.toSeq)
    } finally q.stop()
  }

  test("watermark drops late data beyond the lateness bound") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = WeatherStream.hourlyStats(events, lateness = "1 hour").writeStream
      .format("memory").queryName("wm_out").outputMode("append").start()
    try {
      input.addData((ts(10, 15), "click", 1.0), (ts(10, 45), "click", 2.0))
      q.processAllAvailable()
      // advance event time to 20:00 -> watermark 19:00 -> 10:00 window final
      input.addData((ts(20, 0), "click", 1.0))
      q.processAllAvailable()
      val afterClose = spark.table("wm_out").collect()
      assert(afterClose.exists(r => r.getString(1) == "click" && r.getLong(2) == 2L),
        s"10:00 window should have closed with 2 events: ${afterClose.toSeq}")
      // a very late row for the 10:00 window must be dropped
      input.addData((ts(10, 30), "click", 99.0))
      q.processAllAvailable()
      input.addData((ts(22, 0), "click", 1.0)) // push watermark again
      q.processAllAvailable()
      val finalRows = spark.table("wm_out").collect()
      val w10 = finalRows.filter(r => r.getTimestamp(0) == ts(10, 0))
      assert(w10.length === 1 && w10.head.getLong(2) === 2L,
        s"late row leaked into closed window: ${w10.toSeq}")
    } finally q.stop()
  }
}
