package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.util.{Random, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Q
import graft.operators.{RelationalQueries, WeatherQueries}
import graft.sources.Tables

/** Benchmark driver: one JVM, one workload, one session of `local[Cores]`.
  *
  * It is a client of the engine: it calls `SparkEntry.queries`,
  * `graft.sources.Tables`, `WeatherPipeline` and `WeatherQueries`, and
  * times them from here. It writes raw measurements to
  * `<out>/result.json`; `run.py` turns them into metrics and checks the
  * outputs.
  *
  * Usage: Driver key=value ... with keys workload, data, out, seed,
  * seconds, trace (0|1), and for wow_live python and gen (the
  * interpreter and the generator script).
  */
object Driver {

  /** Cores of the `local[Cores]` session. */
  val Cores = 4

  /** Session builds per run; `run.py` reports their median as set-up. */
  val Setups = 3

  /** The batch_small query set: the non-streaming queries of two whole
    * modules. Selected by module, so the set never shifts with speed. */
  val batchSmall: Seq[Q] = (RelationalQueries.all ++ WeatherQueries.all).filterNot(_.streaming)

  /** The Bench session confs (see graft.Bench for their rationale), with
    * scratch space kept under the run's own directory. */
  def session(cores: Int, tmp: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .withExtensions(new graft.GraftExtensions)
    .config("spark.sql.shuffle.partitions", cores.toLong)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.files.maxPartitionBytes", "8m")
    .config("spark.sql.files.openCostInBytes", "1m")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$tmp/spark-local")
    .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
    .getOrCreate()

  def now(): Double = System.nanoTime() / 1e9

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = o("workload")
    val out = new File(o("out")); out.mkdirs()
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> Cores)
    val tmp = sys.props("java.io.tmpdir")
    var spark: SparkSession = null
    try {
      // set-up, repeated: the median of the builds is reported
      val setups = (1 to Setups).map { i =>
        if (spark != null) spark.stop()
        val t0 = now()
        spark = session(Cores, tmp)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000000L).selectExpr("sum(id)").collect()
        Tables.lineitem(spark, o("data")).count()
        now() - t0
      }
      result("setup_s") = setups
      if (workload == "wow_live") result ++= Wow.run(spark, o)
      else result ++= closedLoop(spark, o, out)
    } catch {
      case e: Throwable =>
        result("error") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      Try(Files.writeString(Paths.get(out.getPath, "result.json"), Json(result)))
        .failed.foreach(e => System.err.println(s"[perfbench] result write failed: $e"))
      if (spark != null) Try(spark.stop())
    }
  }

  private def sweep(spark: SparkSession, blocking: Boolean = false): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))

  /** Closed loop, one client: a checked pass that dumps every output
    * (and warms the JVM), then measured passes through the noop sink for
    * `seconds` (at least two), then, when traced, one more pass with the
    * listeners attached. */
  def closedLoop(spark: SparkSession, o: Map[String, String], out: File): Map[String, Any] = {
    val data = o("data")
    val qs = new Random(o("seed").toLong).shuffle(batchSmall)
    val fns = graft.SparkEntry.queries
    val check = new File(out, "check")
    val checked = qs.map { q =>
      val t0 = now()
      val ok = Try(fns(q.name)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(new File(check, q.name).getPath)).isSuccess
      sweep(spark)
      Map("name" -> q.name, "ok" -> ok, "wall_s" -> (now() - t0))
    }
    Files.writeString(Paths.get(check.getPath, "oracle_sql.json"),
      Json(qs.flatMap(q => q.oracle.map(q.name -> _)).toMap))

    def runOne(name: String, trace: Option[Trace]): Map[String, Any] = {
      val q0 = System.currentTimeMillis(); val t0 = now()
      var t1 = t0
      var analysisMs = 0L
      val ok = Try {
        val df = fns(name)(spark, data)
        t1 = now()
        // the returned frame is analysed eagerly, before any action, so its
        // analysis phase reaches no QueryExecutionListener
        if (trace.isDefined)
          analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
        df.write.format("noop").mode("overwrite").save()
      }.isSuccess
      val t2 = now()
      val a0 = q0 + ((t1 - t0) * 1e3).toLong
      val row = Map("name" -> name, "ok" -> ok, "construct_s" -> (t1 - t0),
        "action_s" -> (t2 - t1), "wall_s" -> (t2 - t0))
      val layers = trace.map(_.take(q0, a0, System.currentTimeMillis()))
      sweep(spark)
      row ++ layers.map(l => l.copy(analysisS = l.analysisS + analysisMs / 1e3).toMap)
        .getOrElse(Map.empty)
    }
    def pass(trace: Option[Trace]): Map[String, Any] = {
      val t0 = now()
      val rows = qs.map(q => runOne(q.name, trace))
      Map("wall_s" -> (now() - t0), "queries" -> rows)
    }

    Jvm.startWindow()
    val w0 = now()
    // whole passes, started while the window is open, and at least two:
    // the figures take each query's fastest run, so a slow first pass
    // that outlasts the window must not leave a run with fewer samples
    val passes = Vector.newBuilder[Map[String, Any]]
    var n = 0
    while (n < 2 || now() - w0 < o("seconds").toDouble) { passes += pass(None); n += 1 }
    // what the last query cached is released first, so the reading does
    // not depend on which query the seed put last
    sweep(spark, blocking = true)
    val jvm = Jvm.window() + ("live_mb" -> Jvm.liveMb())
    val traced =
      if (o("trace") != "1") Map.empty[String, Any]
      else {
        val tr = new Trace(spark, Cores)
        tr.attach()
        val probe = Sources.probe(spark, data, tr)
        val p = pass(Some(tr))
        tr.detach()
        Map("traced" -> (p ++ Map("sources" -> probe, "drain_timeouts" -> tr.drainTimeouts.get(),
          "callback_s" -> tr.callbackNs.get() / 1e9)))
      }
    Map("check" -> checked, "passes" -> passes.result(), "jvm" -> jvm) ++ traced
  }
}

/** The `sources` layer probe: one `Tables.<t>` call per table, timed,
  * with the jobs it launches (schema inference and footer reads). */
object Sources {
  private val opens: Seq[(SparkSession, String) => DataFrame] = Seq(Tables.region,
    Tables.nation, Tables.customer, Tables.supplier, Tables.part, Tables.orders,
    Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)

  def probe(spark: SparkSession, data: String, tr: Trace): Map[String, Any] = {
    tr.jobsSince()
    val per = opens.map { open =>
      val t0 = Driver.now()
      open(spark, data)
      (Driver.now() - t0, tr.jobsSince())
    }
    Map("open_s" -> per.map(_._1).sum, "open_jobs" -> per.map(_._2).sum)
  }
}

/** JVM-wide GC and memory readings over a measured window, from the
  * platform MXBeans and /proc. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  private val MB = 1024.0 * 1024.0
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcSeconds(): Double = gcs.map(_.getCollectionTime.max(0L)).sum / 1e3
  private def collections(): Long = gcs.map(_.getCollectionCount.max(0L)).sum
  private var gc0 = 0.0
  private var n0 = 0L

  /** Restart every reading at the start of the measured window. */
  def startWindow(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    // restart VmHWM at the current RSS; a kernel without the reset
    // leaves it covering the whole run
    Try(Files.writeString(Paths.get("/proc/self/clear_refs"), "5"))
    gc0 = gcSeconds(); n0 = collections()
  }

  /** The heap the engine still holds, in MB: heap in use after full
    * collections 0.3 s apart, repeated (at most five times) until it falls
    * by less than 1 MB, since each one lets Spark's cleaner release more of
    * what only weak references kept. Take the [[window]] readings before
    * it, so that they leave these collections out. */
  def liveMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    }
    var last = Double.MaxValue
    var now = used()
    var n = 1
    while (n < 5 && last - now >= 1.0) {
      Thread.sleep(300)
      last = now; now = used(); n += 1
    }
    now
  }

  /** Readings since [[startWindow]]: GC time and collections, the peak
    * of every heap pool's use summed (eden included), and the resident
    * high-water mark. */
  def window(): Map[String, Any] = Map(
    "gc_s" -> (gcSeconds() - gc0), "collections" -> (collections() - n0),
    "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / MB,
    "rss_hwm_mb" -> vmHwmMb())

  private def vmHwmMb(): Double = Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
  }.getOrElse(-1.0)
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
