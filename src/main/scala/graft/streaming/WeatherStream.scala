package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.rmTree

/** Structured-Streaming surface of the engine (SURVEY.md §2A O8-O13, O23;
  * §7.1 step 7): the reference is a 15-minute-trigger micro-batch pipeline
  * whose only cross-run state is the rain-history sheet. Here that state
  * lives in Spark's state store via flatMapGroupsWithState, keyed by
  * sensor/user — the direct Spark analogue of the Google-Sheet row
  * (MetOffice_WOW_Connect.txt:210-272).
  *
  * Scale notes: state is O(1) per key (four scalars), the state store
  * shuffles once on user_id, and watermarking bounds both state retention
  * and late-data acceptance (generalizing the reference's staleness guard
  * at :244). The windowed aggregations reuse the exact operators the batch
  * path uses (`window`, `session_window`), so batch and streaming results
  * are directly comparable — which StreamingSpec exploits.
  */
object WeatherStream {

  final case class SensorReading(event_id: Long, user_id: Long, ts: Timestamp, value: Double)

  /** The rain-history state row (FIXTURES.md A3): day + the two counter
    * snapshots; `counter` is the reconstructed monotone gauge register.
    *
    * Counters are BigDecimal, accumulated with exactly the batch path's
    * DECIMAL(25,6) cast semantics (see [[dec6]]) — so the streaming output
    * is BIT-IDENTICAL to `WeatherQueries.rainDaily`, and the registered
    * `wx_rain_daily_stream` query shares the batch oracle SQL (a
    * double-accumulating state would drift in the last ulp over a long
    * stream and hash-mismatch). */
  final case class RainState(day: String, totalRainStart: BigDecimal,
                             totalRainLatest: BigDecimal, counter: BigDecimal)

  final case class RainObs(event_id: Long, user_id: Long, ts: Timestamp,
                           value: Double, day: String,
                           total_rain_mm: Double, daily_rain_mm: Double,
                           rain_rate_mmh: Double)

  private val ObsFreq = 4.0 // 15-min cadence (MetOffice_WOW_Connect.txt:34-39)

  private def dayOf(ts: Timestamp): String =
    java.time.Instant.ofEpochMilli(ts.getTime)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  /** The reading as the batch path sees it: Spark's `cast(value AS
    * DECIMAL(25,6))` (HALF_UP via Decimal.changePrecision) — one code path
    * for the rounding rule on both engines' inputs. */
  private def dec6(v: Double): BigDecimal = {
    val d = org.apache.spark.sql.types.Decimal(v)
    if (!d.changePrecision(25, 6))
      throw new ArithmeticException(s"value $v overflows DECIMAL(25,6)")
    d.toBigDecimal
  }

  private val Zero = BigDecimal(0)

  /** The reference state machine O8-O13, one micro-batch group at a time.
    * Rows are sorted within the batch (the store guarantees nothing about
    * iterator order); state carries across batches exactly like the
    * reference's sheet carries across runs.
    *
    * PRECONDITION: `value` >= 0 (a rain gauge's increments — the
    * reference's register is monotone non-negative). The
    * `totalRainLatest != 0` guard mirrors the reference's sheet cell
    * semantics (:257-263), where 0 doubles as "no rain written today";
    * a counter that could legitimately REACH zero mid-day (only possible
    * with negative increments) would alias that sentinel and diverge
    * from the batch window spelling. */
  private[streaming] def updateRain(
      userId: Long, rows: Iterator[SensorReading],
      state: GroupState[RainState]): Iterator[RainObs] = {
    val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.event_id))
    var st = state.getOption.getOrElse(RainState(null, Zero, Zero, Zero))
    val out = sorted.map { r =>
      val counter = st.counter + dec6(r.value)
      val day = dayOf(r.ts)
      var daily = Zero
      var rate = 0.0
      if (day != st.day) {                       // rollover (:229-240)
        st = RainState(day, counter, Zero, counter)
      } else {
        st = st.copy(counter = counter)
        if (counter != st.totalRainStart) {      // rain since day start (:244-249)
          daily = counter - st.totalRainStart
          // double math mirrors the batch spelling (decimal diff -> double,
          // then * ObsFreq), so the emitted rate is bit-identical
          rate =
            if (st.totalRainLatest != Zero) (counter - st.totalRainLatest).toDouble * ObsFreq
            else daily.toDouble * ObsFreq        // first rain of day (:257-263)
          if (counter != st.totalRainLatest)     // conditional write-back (:264-272)
            st = st.copy(totalRainLatest = counter)
        }
      }
      RainObs(r.event_id, userId, r.ts, r.value, day, counter.toDouble, daily.toDouble, rate)
    }
    state.update(st)
    out.iterator
  }

  /** Streaming rain pipeline: per-user stateful accumulation. Input is a
    * (possibly unbounded) stream of readings; output one RainObs per
    * reading, exactly the batch `WeatherQueries.rainDaily` semantics. */
  def rainDailyStream(readings: Dataset[SensorReading]): Dataset[RainObs] = {
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RainState, RainObs](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(updateRain)
  }

  /** Default chunk count for the registered queries' replay feeds: 3
    * micro-batches exercise cross-batch state carry at TWO batch
    * boundaries (plus the restart query's kill-and-recover seam) while
    * paying one less round of the per-micro-batch fixed machinery than
    * the earlier 4 — measured at sf0.1 as ~0.3-0.5 s per streaming query
    * of pure trigger/checkpoint-commit cost with ZERO output change
    * (every streaming ≡ batch fact is chunking-invariant by
    * construction, and each is pinned under explicit multi-chunk feeds
    * in StreamingSpec/DedupSpec/SimilaritySpec regardless of this
    * default). See the round-15 streaming fixed-cost audit in
    * BASELINE.md. */
  val DefaultChunks = 3

  /** A chunked replay feed: data staged as event-time-range chunk files
    * plus an initially-EMPTY live directory the file-source stream tails.
    * Replay order is ARRIVAL order — the driver copies one chunk into the
    * live dir per [[advance]] and the harness processes between arrivals —
    * which is exactly the ordering contract a production landing directory
    * gives (files appear, the source picks them up), with NO dependency on
    * filesystem modification times (an object-store landing zone cannot
    * pin mtimes; the round-5 `setLastModified` scheme was local-FS-only).
    *
    * Each chunk is exactly one parquet file (the staging write hash-
    * partitions on the chunk id, so a chunk never splits across files),
    * hence one `advance()` + `processAllAvailable()` = one micro-batch —
    * cross-batch state carry in the consumers is genuinely exercised. */
  final class ChunkedFeed private[streaming] (
      val df: DataFrame,
      chunkDirs: IndexedSeq[java.io.File],
      live: java.io.File) {
    private var next = 0
    def nChunks: Int = chunkDirs.length
    /** Total bytes of the staged chunk data files — filesystem metadata
      * only, no scan. The streaming queries size their state-partition
      * count from this (see [[statePartitions]]). */
    def stagedBytes: Long = chunkDirs.map { d =>
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-")).map(_.length()).sum
    }.sum
    /** PUBLISH the next staged chunk into the live directory; returns
      * false once every chunk has arrived. Publication is write-then-
      * rename (the standard landing-zone protocol): the bytes are copied
      * to a DOT-PREFIXED temp name — hidden from Spark's file source,
      * which ignores `.`/`_` files — then atomically renamed into place,
      * so the source's trigger thread (which lists the dir continuously,
      * not just inside processAllAvailable) can never read a half-copied
      * parquet. A plain copy raced exactly that listing: one in-flight
      * FAILED_READ_FILE per ~100 small-scale runs, near-certain at the
      * 100× decade where a chunk file is ~100× the copy window (observed:
      * win_session_stream failing BOTH sf10 Verify attempts on
      * arrival-0000{1,2}). Idempotent (REPLACE_EXISTING on both steps)
      * so a crashed-and-rerun harness stays safe. The final rename
      * deletes any existing target FIRST: the javadoc leaves
      * ATOMIC_MOVE + REPLACE_EXISTING implementation-specific (POSIX
      * rename replaces; other providers may throw), and delete-then-move
      * keeps the publish atomic either way — the temp name is hidden, so
      * the visible file goes missing-then-complete, never half-copied. */
    def advance(): Boolean =
      if (next >= chunkDirs.length) false
      else {
        val files = Option(chunkDirs(next).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("part-"))
        files.foreach { f =>
          val name = f"arrival-$next%05d-${f.getName}"
          val tmp = new java.io.File(live, s".$name.inprogress").toPath
          java.nio.file.Files.copy(f.toPath, tmp,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          val target = new java.io.File(live, name).toPath
          java.nio.file.Files.deleteIfExists(target)
          java.nio.file.Files.move(tmp, target,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        next += 1
        true
      }
    /** The feed as the typed sensor-reading stream. */
    def typed: Dataset[SensorReading] =
      df.as[SensorReading](org.apache.spark.sql.Encoders.product[SensorReading])
  }

  /** Stage `readings` (event_id, user_id, ts, value) as `nChunks`
    * event-time-range chunk files under `dir` and return the feed whose
    * stream replays them oldest-first, one chunk per micro-batch (arrival
    * order via [[ChunkedFeed.advance]]; maxFilesPerTrigger=1 caps a batch
    * at one file even if the harness advances twice without processing).
    * Range-splitting on event time means replay order == event-time order
    * across batches, while [[updateRain]] sorts within each batch; nothing
    * is collected to the driver beyond the nChunks-1 quantile boundaries.
    * Production swaps the live dir for a real landing directory (arrival
    * order comes from the source itself) and runs unbounded. */
  def chunkedFileFeed(readings: DataFrame, dir: String,
                      nChunks: Int = DefaultChunks): ChunkedFeed =
    chunkedFileFeedDF(readings, "ts", dir, nChunks)

  /** Session-scoped record of staging dirs already materialized, with the
    * chunk bounds that were written there: staging-dir path → quantile
    * bounds. The staged chunk files for a given dir are a pure function
    * of the input frame, and [[stagingDir]] keys the path by (application
    * id, feed name, dataset), so within one JVM a repeat construction of
    * the same feed (Bench runs every query at least twice) can reuse the
    * staged files instead of re-running the quantile scan + partitioned
    * write. A new JVM gets a fresh application id — and so a fresh dir —
    * which is exactly the "stage once per corpus snapshot" contract a
    * production landing zone has. Only the STAGED chunks are reused; the
    * live dir is wiped per construction so replay always starts empty. */
  private val staged =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  /** Untyped core of [[chunkedFileFeed]]: schema-preserving, splits on
    * `tsCol`. Works for any event-time DataFrame (the tumbling-window
    * streaming query uses it over (ts, event_type, value)).
    *
    * Degenerate event-time distributions (a value spanning a quantile
    * boundary) collapse adjacent chunks: duplicate bounds are
    * deduplicated, so the feed degrades to fewer (still correctly
    * ordered) micro-batches instead of writing empty chunk ranges.
    *
    * `epilogue`, when given, is staged as ONE extra chunk that arrives
    * strictly AFTER every quantile chunk (its own parquet dir, same
    * schema). Purpose: the watermarked windowed-agg streams run with
    * no-data micro-batches DISABLED (each watermark advance otherwise
    * pays a full extra plan execution over empty sources — measured
    * ~0.4 s per feed advance at sf0.1, and at cluster scale one task
    * per state partition — that for an append-mode agg only matters
    * once, at end-of-feed); the epilogue chunk carries a single
    * beyond-every-window sentinel row, so the FINAL watermark advance
    * happens inside a real data batch and the closed windows are
    * emitted there. The epilogue rows follow the same contract as the
    * in-feed sentinel the callers already use: event time far enough
    * out that their own window/session can never close, hence they are
    * never emitted. */
  def chunkedFileFeedDF(readings: DataFrame, tsCol: String, dir: String,
                        nChunks: Int = DefaultChunks,
                        epilogue: Option[DataFrame] = None): ChunkedFeed = {
    val s = readings.sparkSession
    val stage = new java.io.File(dir, "chunks")
    val epiDir = new java.io.File(stage, "epilogue")
    val bounds = Option(staged.get(stage.getAbsolutePath)).getOrElse {
      val probs = (1 until nChunks).map(_.toDouble / nChunks).toArray
      val bs = readings.select(col(tsCol).cast("double").as("t"))
        .stat.approxQuantile("t", probs, 0.0)
        .distinct
      val chunk = bs.zipWithIndex.foldRight(lit(bs.length): Column) {
        case ((b, k), rest) => when(col(tsCol).cast("double") <= b, k).otherwise(rest)
      }
      readings.withColumn("chunk", chunk)
        .repartition(bs.length + 1, col("chunk"))
        .write.partitionBy("chunk").mode("overwrite").parquet(stage.getAbsolutePath)
      // the epilogue is one sentinel row: a single file by construction
      epilogue.foreach(_.coalesce(1).write.mode("overwrite")
        .parquet(epiDir.getAbsolutePath))
      staged.put(stage.getAbsolutePath, bs)
      bs
    }
    // The epilogue is staged only alongside the chunks. If the bounds were
    // cached by an epilogue-less construction over the same dir, the final
    // watermark batch would never run and the stream would silently emit
    // no windows; fail here instead.
    if (epilogue.isDefined &&
        !Option(epiDir.listFiles()).exists(_.exists(_.getName.startsWith("part-"))))
      throw new IllegalStateException(
        s"epilogue dir ${epiDir.getAbsolutePath} holds no part- file")
    val live = new java.io.File(dir, "live")
    rmTree(live)
    live.mkdirs()
    val stream = s.readStream
      .schema(readings.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(live.getAbsolutePath)
    new ChunkedFeed(stream,
      (0 to bounds.length).map(k => new java.io.File(stage, s"chunk=$k")) ++
        epilogue.map(_ => epiDir).toSeq, live)
  }

  /** Drive `q` through its feeds to completion: each round advances every
    * feed by one chunk (multi-input queries like the stream-stream join
    * see both sides progress in step, keeping the global watermark
    * moving) and processes all arrived data before the next arrival. */
  def runChunked(q: org.apache.spark.sql.streaming.StreamingQuery,
                 feeds: Seq[ChunkedFeed]): Unit = {
    var advanced = true
    while (advanced) {
      advanced = feeds.foldLeft(false)((any, f) => f.advance() || any)
      if (advanced) q.processAllAvailable()
    }
    q.processAllAvailable()
  }

  /** Session-scoped temp root: namespaced by the Spark application id so
    * two concurrent JVMs running Bench/Verify on one machine can never
    * wipe each other's staging/sink/checkpoint dirs mid-stream. Wiped by
    * ONE JVM shutdown hook that drains [[wipedRoots]] — a long-lived JVM
    * creating many sessions accumulates root PATHS in the set, not hook
    * THREADS (the earlier one-hook-per-application-id spelling leaked a
    * parked thread per session). The staging/sink/checkpoint contents
    * are only meaningful within the session that wrote them — a 100x
    * Verify run otherwise leaves GBs of staged feed copies per
    * invocation on a shared machine. A kill -9 still leaves residue;
    * harnesses that care sweep graft_* dirs whose application is gone. */
  private val wipedRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Registered at most once per JVM; `lazy` so the registration races
    * nothing, and swallows IllegalStateException for a tmpRoot call that
    * lands after shutdown has begun (the hook could not run anyway). */
  private lazy val wipeHook: Unit =
    try Runtime.getRuntime.addShutdownHook(new Thread(() =>
      wipedRoots.forEach(p => rmTree(new java.io.File(p)))))
    catch { case _: IllegalStateException => () }
  private def tmpRoot(s: org.apache.spark.sql.SparkSession): java.io.File = {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${s.sparkContext.applicationId}")
    wipedRoots.add(root.getAbsolutePath)
    wipeHook
    root
  }

  /** Start `df` as an append-mode parquet-sink query writing under
    * `base` ("out" + "ckpt" subdirs). Exposed so restart-from-checkpoint
    * tests can stop mid-feed and start a second query over the SAME dirs
    * (exactly-once via the file-sink metadata log + state checkpoint). */
  def startParquetSink(df: DataFrame,
                       base: java.io.File): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", new java.io.File(base, "out").getAbsolutePath)
      .option("checkpointLocation", new java.io.File(base, "ckpt").getAbsolutePath)
      .outputMode("append").start()

  /** Read a completed parquet sink back (the FileStreamSink metadata log
    * makes this exactly-once: orphan files from an interrupted batch are
    * not listed). */
  def readParquetSink(s: org.apache.spark.sql.SparkSession,
                      base: java.io.File): DataFrame =
    s.read.parquet(new java.io.File(base, "out").getAbsolutePath)

  /** Run an append-mode streaming frame to completion through a PARQUET
    * file sink, feeding its chunked inputs in arrival order, and read the
    * committed result back — the scale-correct harness drain for streams
    * whose output is O(input): rows land on (distributed at scale)
    * storage straight from the executors, and the driver never
    * materializes the result — unlike a memory sink, whose table lives in
    * driver memory and caps output size at driver heap. Sink + checkpoint
    * dirs are deterministic per (application, query name) and wiped
    * before each run (Bench drives a query up to 3 times per session; a
    * parquet sink cannot be re-driven from a stale checkpoint against a
    * reset input feed, and a fresh-dir-per-run scheme would leak an
    * output copy per invocation). */
  def drainToParquet(df: DataFrame, name: String, feeds: ChunkedFeed*): DataFrame = {
    val s = df.sparkSession
    val base = new java.io.File(tmpRoot(s), s"sink_$name")
    rmTree(base)
    val q = startParquetSink(df, base)
    try runChunked(q, feeds) finally q.stop()
    readParquetSink(s, base)
  }

  /** [[drainToParquet]] with a KILL-AND-RESTART in the middle: the first
    * query is stopped after `stopAfter` chunk arrivals, a SECOND query is
    * started over the SAME checkpoint + sink dirs, and the remaining
    * chunks drain through it. Recovery is Structured Streaming's own
    * machinery — the state store restores per-key state, the file-sink
    * metadata log keeps output exactly-once across the restart — so the
    * result must be byte-identical to an uninterrupted run (and to the
    * batch spelling; the registered `*_restart` query shares the batch
    * oracle). This is the fault-tolerance fact a production deployment
    * actually relies on, expressed as a driver-checked query rather than
    * only a scalatest. */
  def drainToParquetRestart(df: DataFrame, name: String, stopAfter: Int,
                            feeds: ChunkedFeed*): DataFrame = {
    val s = df.sparkSession
    val base = new java.io.File(tmpRoot(s), s"sink_$name")
    rmTree(base)
    val q1 = startParquetSink(df, base)
    try {
      var i = 0
      var advanced = true
      while (i < stopAfter && advanced) {
        advanced = feeds.foldLeft(false)((any, f) => f.advance() || any)
        if (advanced) q1.processAllAvailable()
        i += 1
      }
    } finally q1.stop() // kill mid-feed: later chunks have not arrived
    val q2 = startParquetSink(df, base) // SAME dirs: checkpoint recovery
    try runChunked(q2, feeds) finally q2.stop()
    readParquetSink(s, base)
  }

  /** Run a streaming frame through a FOREACHBATCH sink that applies
    * `perBatch` — a BATCH transformation, e.g. a batch-only custom
    * operator like the merge as-of join — to each micro-batch, landing
    * every batch's result under its own `batch=<id>` directory, and read
    * the union back. Writing each micro-batch into ITS OWN directory
    * with OVERWRITE is the replay-idempotence contract foreachBatch
    * needs on plain parquet: foreachBatch is at-least-once, and a
    * replayed micro-batch (same id) rewrites its own directory instead
    * of appending a duplicate — the standard production spelling for
    * foreachBatch outputs that cannot go through the file sink's
    * metadata log. */
  def drainForeachBatch(df: DataFrame, name: String,
                        perBatch: DataFrame => DataFrame,
                        feeds: ChunkedFeed*): DataFrame = {
    val s = df.sparkSession
    val base = new java.io.File(tmpRoot(s), s"sink_$name")
    rmTree(base)
    val out = new java.io.File(base, "out")
    val q = df.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        perBatch(b.toDF()).write.mode("overwrite")
          .parquet(new java.io.File(out, s"batch=$id").getAbsolutePath)
        ()
      }
      .option("checkpointLocation", new java.io.File(base, "ckpt").getAbsolutePath)
      .start()
    try runChunked(q, feeds) finally q.stop()
    // partition inference turns batch=<id> into a column; it is harness
    // bookkeeping, not part of the result
    s.read.parquet(out.getAbsolutePath).drop("batch")
  }

  /** Streaming state-partition count sized to the staged feed volume.
    * A small fixed count (4) wins at bench scale — tiny per-key state
    * pays more task-launch and checkpoint-file overhead than parallelism
    * buys — but a CONSTANT serializes stateful work once a micro-batch
    * outgrows a handful of tasks: with the constant, the 100× corpus
    * measured second-decade ratios of 9–15 across the streaming family
    * (BENCH_SCALING), i.e. the fixed partition count had become the
    * bottleneck, not the data. Size from the staged chunk bytes instead
    * (filesystem metadata, no extra scan): one state partition per ~8 MB
    * of staged parquet, clamped to [4, max(4, defaultParallelism)]. On
    * a real cluster the same rule holds with the landing-zone size —
    * the clamp ceiling becomes the executor-core total. (The ceiling
    * itself is floored at 4: on a sub-4-core session the floor wins and
    * state is mildly oversubscribed rather than under-split.) */
  def statePartitions(s: org.apache.spark.sql.SparkSession,
                      feeds: ChunkedFeed*): Int = {
    val bytes = feeds.map(_.stagedBytes).sum
    math.min(math.max(4, (bytes / (8L << 20)).toInt),
      math.max(4, s.sparkContext.defaultParallelism))
  }

  /** One staging directory per (application, feed name, dataset) under
    * java.io.tmpdir, REUSED across invocations within a session
    * (overwrite-mode writes reset it): Bench/Verify invoke each streaming
    * query several times per session, and a fresh temp dir per run would
    * leak a full table copy each time. The application id prevents
    * cross-JVM collisions; the sfDir hash separates datasets within one
    * session. */
  def stagingDir(name: String, sfDir: String): String = {
    val s = org.apache.spark.sql.SparkSession.active
    new java.io.File(tmpRoot(s),
      s"feed_${name}_${Integer.toHexString(sfDir.hashCode)}").getAbsolutePath
  }

  /** Event-time tumbling aggregation with a watermark: late rows beyond
    * `lateness` are dropped — the generalized form of the reference's
    * stale-measurement guard (:244). */
  def hourlyStats(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact dedup with bounded state: duplicate keys arriving
    * within the watermark horizon are dropped, and per-key state is
    * evicted once the watermark passes — O(distinct keys in horizon)
    * state, the only dedup shape that survives an unbounded stream. */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  lateness: String = "2 hours"): DataFrame =
    events.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(keys)

  /** Gap-based session aggregation (30 min) with watermark. */
  def sessionStats(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
              col("n"), col("sum_value"))
}
