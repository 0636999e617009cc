package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, EventTimeWatermark}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.core.{rmTree, scratchRoot, withSessionConf}

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
  *
  * Every registered stream runs through [[drain]], which owns the
  * stream-run policy once for all of them:
  *  - Sink shapes. An append-mode parquet FILE sink ([[FileSink]]) is
  *    exactly-once through the sink's metadata log, and the driver never
  *    holds the output (a memory sink would cap it at driver heap). It
  *    optionally stops mid-feed and restarts from the same checkpoint +
  *    sink dirs, so checkpoint recovery is a driver-checked query. A
  *    PER-BATCH sink ([[PerBatch]]) runs foreachBatch into `batch=<id>`
  *    directories with overwrite — replay-idempotent, since foreachBatch
  *    is at-least-once and a replayed batch rewrites its own dir — in
  *    update mode, so a mapGroupsWithState plan can use it (Spark treats
  *    update as append for stateless plans).
  *  - Dirs. Sink + checkpoint dirs are per (application, query name) and
  *    wiped before each run: Bench drives a query several times per
  *    session, a sink cannot be re-driven from a stale checkpoint against
  *    a reset feed, and a fresh dir per run would leak an output copy.
  *  - No-data micro-batches are OFF. Each watermark advance would
  *    otherwise pay a full plan execution over empty sources (measured
  *    ~0.4 s per feed advance at sf0.1; on a cluster one task per state
  *    partition). A stream-stream inner join emits every match in the
  *    batch where it arrives, so those batches only evict state, which
  *    later data batches do lazily. Streams with neither a watermark nor
  *    a timeout never get a no-data batch anyway.
  *  - Epilogue rule. An append-mode aggregation over a watermark emits a
  *    window only once the watermark passes it, and with no-data batches
  *    off the last advance must ride a data batch: one of its feeds must
  *    end in an epilogue chunk ([[chunkedFileFeedDF]]), else [[drain]]
  *    throws before starting.
  *  - Sizing. The state-partition count (`spark.sql.shuffle.partitions`
  *    at start, which a per-batch sink's batch jobs also inherit) is one
  *    partition per ~8 MB of staged feed parquet (filesystem metadata,
  *    no scan), clamped to [4, max(4, defaultParallelism)]. A small
  *    count wins at bench scale — tiny per-key state pays more
  *    task-launch and checkpoint-file overhead than parallelism buys —
  *    but a constant serialized the family at the 100x corpus
  *    (second-decade ratios 9–15, BENCH_SCALING). On a cluster the same
  *    rule holds with the landing-zone size, the ceiling being the
  *    executor-core total.
  * Both confs are set on the shared session for the run and restored
  * after, so [[drain]] assumes one query at a time and throws if a
  * stream is already active.
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
    * cross-batch state carry in the consumers is genuinely exercised.
    * `hasEpilogue` says whether the last chunk is an epilogue (see
    * [[chunkedFileFeedDF]]). */
  final class ChunkedFeed private[streaming] (
      val df: DataFrame,
      chunkDirs: IndexedSeq[java.io.File],
      live: java.io.File,
      val hasEpilogue: Boolean) {
    private var next = 0
    def nChunks: Int = chunkDirs.length
    /** Total bytes of the staged chunk data files — filesystem metadata
      * only, no scan. [[drain]] sizes the state-partition count from
      * this. */
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
    * schema): the end-of-feed chunk a watermarked aggregation needs
    * under [[drain]]'s no-data rule (object scaladoc). It carries a
    * single beyond-every-window sentinel row, so the FINAL watermark
    * advance happens inside a real data batch and the closed windows
    * are emitted there. The epilogue rows follow the same contract as
    * the in-feed sentinel the callers already use: event time far
    * enough out that their own window/session can never close, hence
    * they are never emitted. */
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
        epilogue.map(_ => epiDir).toSeq, live, epilogue.isDefined)
  }

  /** Drive `q` through its feeds: each round advances every feed by one
    * chunk (multi-input queries like the stream-stream join see both
    * sides progress in step, keeping the global watermark moving) and
    * processes all arrived data before the next arrival. Stops after
    * `rounds` arrivals, else once every feed is exhausted. */
  def runChunked(q: StreamingQuery,
                 feeds: Seq[ChunkedFeed], rounds: Int = Int.MaxValue): Unit = {
    var i = 0
    var advanced = true
    while (i < rounds && advanced) {
      advanced = feeds.foldLeft(false)((any, f) => f.advance() || any)
      if (advanced) q.processAllAvailable()
      i += 1
    }
    q.processAllAvailable()
  }

  /** Start `df` as an append-mode parquet-sink query writing under
    * `base` ("out" + "ckpt" subdirs). Exposed so restart-from-checkpoint
    * tests can stop mid-feed and start a second query over the SAME dirs
    * (exactly-once via the file-sink metadata log + state checkpoint). */
  def startParquetSink(df: DataFrame,
                       base: java.io.File): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", new java.io.File(base, "out").getAbsolutePath)
      .option("checkpointLocation", new java.io.File(base, "ckpt").getAbsolutePath)
      .outputMode("append").start()

  /** Read a completed parquet sink back (the FileStreamSink metadata log
    * makes this exactly-once: orphan files from an interrupted batch are
    * not listed). */
  def readParquetSink(s: SparkSession,
                      base: java.io.File): DataFrame =
    s.read.parquet(new java.io.File(base, "out").getAbsolutePath)

  /** Where [[drain]] lands a stream's rows (the two shapes are described
    * in the object scaladoc). */
  sealed trait Sink

  /** Append-mode parquet file sink, exactly-once through its metadata
    * log. `stopAfter = Some(n)` kills the query after n chunk arrivals
    * and drains the rest through a second query over the same dirs. */
  final case class FileSink(stopAfter: Option[Int] = None) extends Sink

  /** foreachBatch sink: `perBatch` (a batch transformation, e.g. a
    * batch-only operator like the merge as-of join) is applied to each
    * micro-batch, which lands in its own `batch=<id>` directory. */
  final case class PerBatch(perBatch: DataFrame => DataFrame = identity) extends Sink

  /** Run `df` to completion through `sink`, feeding `feeds` in arrival
    * order, and read the committed result back. Dirs, state partitions
    * and no-data batches follow the rules in the object scaladoc. Throws
    * IllegalStateException naming `name` if `df` aggregates over a
    * watermark and no feed carries an epilogue, and naming the conf key
    * if a stream is already active on the session. */
  def drain(df: DataFrame, name: String, sink: Sink, feeds: ChunkedFeed*): DataFrame = {
    val s = df.sparkSession
    val closesOnWatermark = df.queryExecution.analyzed.exists {
      case a: Aggregate => a.child.exists(_.isInstanceOf[EventTimeWatermark])
      case _            => false
    }
    if (closesOnWatermark && !feeds.exists(_.hasEpilogue))
      throw new IllegalStateException(
        s"drain($name): a watermarked append aggregation needs a feed with an " +
          "epilogue chunk; with no-data micro-batches off its last windows are " +
          "never emitted without one")
    def run(q: StreamingQuery, rounds: Int = Int.MaxValue): Unit =
      try runChunked(q, feeds, rounds) finally q.stop()
    val base = new java.io.File(scratchRoot(s), s"sink_$name")
    withSessionConf(s, "spark.sql.shuffle.partitions", statePartitions(s, feeds).toString) {
      withSessionConf(s, "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
        rmTree(base)
        sink match {
          case FileSink(stopAfter) =>
            stopAfter.foreach(n => run(startParquetSink(df, base), n))
            run(startParquetSink(df, base))
            readParquetSink(s, base)
          case PerBatch(perBatch) =>
            val out = new java.io.File(base, "out")
            run(df.writeStream
              .foreachBatch { (b: Dataset[Row], id: Long) =>
                perBatch(b.toDF()).write.mode("overwrite")
                  .parquet(new java.io.File(out, s"batch=$id").getAbsolutePath)
                ()
              }
              .outputMode("update")
              .option("checkpointLocation", new java.io.File(base, "ckpt").getAbsolutePath)
              .start())
            // partition inference turns batch=<id> into a column; it is
            // harness bookkeeping, not part of the result
            s.read.parquet(out.getAbsolutePath).drop("batch")
        }
      }
    }
  }

  private def statePartitions(s: SparkSession, feeds: Seq[ChunkedFeed]): Int = {
    val bytes = feeds.map(_.stagedBytes).sum
    math.min(math.max(4, (bytes / (8L << 20)).toInt),
      math.max(4, s.sparkContext.defaultParallelism))
  }

  /** One staging directory per (application, feed name, dataset) under
    * the session's scratch root, REUSED across invocations within a session
    * (overwrite-mode writes reset it): Bench/Verify invoke each streaming
    * query several times per session, and a fresh temp dir per run would
    * leak a full table copy each time. The application id prevents
    * cross-JVM collisions; the sfDir hash separates datasets within one
    * session. */
  def stagingDir(name: String, sfDir: String): String = {
    val s = SparkSession.active
    new java.io.File(scratchRoot(s),
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
