package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** The driver regenerates `/root/testdata` between rounds and the physical
  * type of `events.ts` has drifted across corpus vintages (SURVEY §1.3):
  * INT64 TIMESTAMP(NANOS) in early rounds, plain TIMESTAMP(MICROS) (read
  * as TIMESTAMP_NTZ) later, and raw BIGINT nanos in the Spark-written
  * scale corpora (ScaleData preserves the source vintage; the
  * session-UTC TimestampType branch covers any future LTZ-writing
  * producer). A reader assuming one encoding fails analysis on every
  * events-backed query the moment the corpus changes — this spec pins
  * [[Tables.events]]'s schema-dispatch contract: all three vintages
  * normalize to the SAME TimestampType micros values. */
class TablesVintageSpec extends AnyFunSuite with SparkTestBase {

  // one pre-epoch value guards the truncating-division branch (Spark DIV
  // truncates toward zero; floor division would land 1 µs earlier)
  private val micros = Seq(-1001L, 0L, 1L, 1735689600123456L)

  // fresh per-run temp root: fixed /tmp names collided across concurrent
  // test JVMs (two CI checkouts on one machine) and were never cleaned up
  private val tmpRoot =
    java.nio.file.Files.createTempDirectory("graft_vintage_").toFile

  private def writeVintage(name: String, df: org.apache.spark.sql.DataFrame): String = {
    val dir = new java.io.File(tmpRoot, name).getAbsolutePath
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("all ts vintages normalize to identical TimestampType micros") {
    import spark.implicits._
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us, i.toLong, "t", 1.0, "{}") }
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")

    // vintage A: raw BIGINT nanos under the column name ts (what the
    // legacy nanosAsLong conf surfaces for INT64 TIMESTAMP(NANOS), and
    // what the Spark-written scale corpora store directly)
    val dirA = writeVintage("nanos",
      base.withColumn("ts", col("us") * 1000L).drop("us"))
    // vintage B: TIMESTAMP_NTZ micros (the current driver corpus)
    val dirB = writeVintage("ntz",
      base.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType)).drop("us"))
    // vintage C: session-UTC TimestampType (any future LTZ-writing
    // producer; ScaleData itself preserves the source vintage)
    val dirC = writeVintage("ltz",
      base.withColumn("ts", timestamp_micros(col("us"))).drop("us"))

    try {
      val reads = Seq(dirA, dirB, dirC).map(Tables.events(spark, _))
      reads.foreach { df =>
        assert(df.schema("ts").dataType === TimestampType)
        val got = df.orderBy("event_id").select(unix_micros(col("ts")))
          .as[Long].collect().toSeq
        assert(got === micros)
      }
    } finally core.rmTree(tmpRoot)
  }
}
