package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** [[Tables]] infers each table's schema once per session and declares it
  * on later reads. This spec pins the memo's contract: a repeat read runs
  * no job and returns the same frame, a table rewritten in place is
  * re-inferred, and a missing table fails the same way every time. */
class TablesSchemaSpec extends AnyFunSuite with SparkTestBase with BeforeAndAfterAll {

  /** Descriptions of every job started on the shared context. Listener
    * events arrive asynchronously, so [[jobsDuring]] ends with a fence job
    * and waits for it: the bus delivers in order, so once the fence is
    * seen every job `body` started has been counted. */
  private val started = new ConcurrentLinkedQueue[String]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      started.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
  }
  private var fences = 0
  private val tmpRoot = java.nio.file.Files.createTempDirectory("graft_schema_").toFile

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(listener)

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    core.rmTree(tmpRoot)
  }

  private def jobsDuring[T](body: => T): (T, Int) = {
    started.clear()
    val out = body
    fences += 1
    val fence = s"tables-schema-fence-$fences"
    val sc = spark.sparkContext
    sc.setJobDescription(fence)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!started.contains(fence)) {
      assert(System.nanoTime() < deadline, s"fence job $fence never reached the listener")
      Thread.sleep(10)
    }
    (out, started.size - 1)
  }

  test("a repeat read runs no job and returns the same schema and rows") {
    // a fresh session has a cold memo whatever the earlier suites read
    val s = spark.newSession()
    val (first, firstJobs) = jobsDuring(Tables.lineitem(s, SF))
    val (second, secondJobs) = jobsDuring(Tables.lineitem(s, SF))
    assert(firstJobs >= 1, "the first read should infer the schema")
    assert(secondJobs === 0, "the repeat read should declare the memoized schema")
    assert(second.schema === first.schema)
    val rows = first.collect().map(_.toString).sorted
    assert(rows.nonEmpty)
    assert(second.collect().map(_.toString).sorted.sameElements(rows))
  }

  test("a table rewritten in place is re-inferred (memo keyed by file fingerprint)") {
    import spark.implicits._
    val micros = Seq(-1001L, 0L, 1L, 1735689600123456L)
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us, i.toLong, "t", 1.0, "{}") }
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val dir = new java.io.File(tmpRoot, "rewritten").getAbsolutePath
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.drop("us").coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    def readMicros(): Seq[Long] = {
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType === TimestampType)
      df.orderBy("event_id").select(unix_micros(col("ts"))).as[Long].collect().toSeq
    }

    // NTZ vintage first, then the BIGINT-nanos vintage over the same path
    write(base.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType)))
    assert(readMicros() === micros)
    write(base.withColumn("ts", col("us") * 1000L))
    assert(readMicros() === micros)
  }

  test("a missing table fails the same way on every read") {
    val missing = new java.io.File(tmpRoot, "absent").getAbsolutePath
    val errors = Seq.fill(2)(intercept[Exception](Tables.lineitem(spark, missing)))
    assert(errors.map(_.getClass).distinct.size === 1)
    assert(errors.map(_.getMessage).distinct.size === 1)
    assert(errors.head.getMessage.contains("lineitem.parquet"))
  }
}
