package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, Encoders, SparkSession}
import org.apache.spark.sql.functions.{abs, coalesce, col, count, first, lit, struct, sum, when}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DoubleType
import graft.operators.WeatherQueries
import graft.streaming.{WeatherPipeline, WowSink}
import graft.streaming.WeatherStream.SensorReading

/** The wow_live workload: the reference pipeline
  * (`WeatherPipeline.observationRecords` into `WowSink.start`) serving
  * arrivals from a separate single-threaded generator process, which
  * writes `SensorReading` CSV files into a landing directory on a fixed
  * schedule (write, then rename). The transport stamps each record on
  * receipt; `run.py` joins receipts with the generator's due times. */
object Wow {
  val Schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE"
  /** The pipeline's micro-batch trigger. */
  val TriggerMs = 1000L
  /** How long the tail of the schedule may take to arrive before the run
    * stops waiting; a lost reading leaves the wait at this cap. */
  val DrainMs = 20000L

  /** Receipts of the benchmark transport: (epoch ms, record JSON). */
  val receipts = new ConcurrentLinkedQueue[(Long, String)]()
  /** Calls of the transport: one per partition of a micro-batch. */
  val posts = new AtomicLong()

  val transport: WowSink.Transport = { part =>
    posts.incrementAndGet()
    part.foreach(r => receipts.add((System.currentTimeMillis(), r)))
    true
  }

  private val EventId = "\"event_id\":(\\d+)".r.unanchored

  def run(spark: SparkSession, o: Map[String, String]): Map[String, Any] = {
    val tmp = sys.props("java.io.tmpdir")
    val out = new File(o("out"))
    val landing = new File(tmp, "landing"); landing.mkdirs()
    val trace = if (o("trace") == "1") Some(new Trace(spark, Driver.Cores)) else None
    trace.foreach(_.attach())
    receipts.clear(); posts.set(0)
    val readings = spark.readStream.schema(Schema).csv(landing.getPath)
      .as[SensorReading](Encoders.product[SensorReading])
    Jvm.startWindow()
    val w0 = System.currentTimeMillis()
    val q = WeatherPipeline.start(readings, transport,
      Trigger.ProcessingTime(TriggerMs), "perfbench_wow")
    var jvm = Map.empty[String, Any]
    val offered = try {
      // the capacity ladder feeds only max_rate_eps, a per-layer metric,
      // so only a traced run climbs it
      val gen = new ProcessBuilder((Seq(o("python"), o("gen"), s"--landing=${landing.getPath}",
        s"--seconds=${o("seconds")}", s"--seed=${o("seed")}",
        s"--log=${new File(out, "gen.npy")}", s"--summary=${new File(out, "gen.json")}") ++
        trace.map(_ => "--ladder")): _*)
        .redirectErrorStream(true).redirectOutput(new File(out, "gen.log")).start()
      val rc = gen.waitFor()
      require(rc == 0, s"generator exited with $rc")
      val n = """"offered":\s*(\d+)""".r.findFirstMatchIn(
        Files.readString(Paths.get(out.getPath, "gen.json"))).get.group(1).toLong
      // the tail of the schedule drains; a lost event leaves this capped
      val deadline = System.currentTimeMillis() + DrainMs
      while (receipts.size < n && System.currentTimeMillis() < deadline && q.isActive)
        Thread.sleep(5)
      n
    } finally {
      // with the pipeline still running and its state loaded
      jvm = Jvm.window()
      jvm += "live_mb" -> Jvm.liveMb()
      q.stop()
    }
    val w1 = System.currentTimeMillis()
    val layers = trace.map { t =>
      val l = t.take(w0, w0, w1)
      val probe = Sources.probe(spark, o("data"), t)
      t.detach()
      l.toMap ++ Map("action_s" -> (w1 - w0) / 1e3, "sources" -> probe, "drain_timeouts" -> t.drainTimeouts.get(),
        "callback_s" -> t.callbackNs.get() / 1e9)
    }
    val got = receipts.asScala.toVector
    val checked = check(spark, landing, got.map(_._2))
    Files.writeString(Paths.get(out.getPath, "receipts.csv"),
      got.map { case (t, r) => r match {
        case EventId(id) => s"$id,$t"
        case _ => s"-1,$t"
      } }.mkString("", "\n", "\n"))
    val progress = q.recentProgress.toVector.map(p => Trace.BatchEv.of(p).toMap)
    Map("window_ms" -> Seq(w0, w1), "offered" -> offered, "received" -> got.length,
      "posts" -> posts.get(),
      "batches" -> progress, "jvm" -> jvm, "check" -> checked) ++
      layers.map("traced" -> _).toMap
  }

  /** Every offered reading is published exactly once, and each record
    * equals `WeatherQueries.wowRecordFrom` on the same readings: doubles
    * within 1e-9, every other field exact (the WeatherPipelineSpec rule).
    * The comparison is one Spark action, a full outer join on event_id, so
    * neither side is collected. */
  def check(spark: SparkSession, landing: File, sent: Seq[String]): Map[String, Any] = {
    import spark.implicits._
    val exp = WeatherQueries.wowRecordFrom(spark.read.schema(Schema).csv(landing.getPath))
    val fields = exp.columns.toSeq.tail
    val got = spark.read.schema(exp.schema).json(spark.createDataset(sent))
      .groupBy("event_id")
      .agg(count(lit(1)).as("n"), first(struct(fields.map(col): _*)).as("g"))
    def same(c: String): Column = {
      val (e, g) = (col(s"e.$c"), col(s"g.$c"))
      if (exp.schema(c).dataType == DoubleType) coalesce(abs(e - g) < 1e-9, e.isNull && g.isNull)
      else e <=> g
    }
    def tally(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))
    val r = exp.select(col("event_id"), struct(fields.map(col): _*).as("e"))
      .join(got, Seq("event_id"), "full_outer")
      .agg(count("e").as("expected"), count("n").as("unique"),
        tally($"n" > 1).as("duplicated"), tally($"n".isNull).as("missing"),
        tally($"e".isNull).as("extra"),
        tally($"e".isNotNull && $"n".isNotNull && !fields.map(same).reduce(_ && _)).as("wrong"))
      .head()
    r.schema.fieldNames.map(f => f -> r.getAs[Long](f)).toMap
  }
}
