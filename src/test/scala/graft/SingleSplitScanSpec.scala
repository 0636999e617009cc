package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.SingleSplitScanStrategy
import graft.streaming.LocalCheckpointFileManager

/** The one-split scan rule ([[SingleSplitScanStrategy]]): a batch scan of
  * one split plans as one partition and its query runs exchange-free in
  * one job with the rows of the multi-split plan; multi-split, streaming
  * and bucketed scans keep Spark's plan. Plus the scheme choice of
  * [[LocalCheckpointFileManager]], the checkpoint manager
  * [[GraftExtensions]] installs as a JVM default. */
class SingleSplitScanSpec extends AnyFunSuite with JobCounting {

  /** The same 3000 rows written as one file and as four files. */
  private lazy val (oneFile, fourFiles) = {
    val rows = spark.range(0, 3000)
      .selectExpr("id % 7 AS k", "id AS v", "cast(id % 13 AS double) * 1.5 AS x")
    val one = scratchDir("split1_").getAbsolutePath + "/t"
    val four = scratchDir("split4_").getAbsolutePath + "/t"
    rows.coalesce(1).write.parquet(one)
    rows.repartition(4).write.parquet(four)
    (spark.read.parquet(one), spark.read.parquet(four))
  }

  private def queries(t: DataFrame): Seq[(String, DataFrame)] = Seq(
    "group-by" -> t.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"), max("x").as("mx")),
    "window" -> t.withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v")))
      .withColumn("run", sum("x").over(Window.partitionBy("k").orderBy("v"))),
    "self-join" -> t.as("a").join(t.as("b"), col("a.v") === col("b.v") + 1)
      .select(col("a.v"), col("b.k"), col("a.x") + col("b.x")))

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The self-join must be a shuffle join to test anything: at this size
    * Spark would broadcast it. */
  private def withoutBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("a one-split scan runs group-by, window and self-join exchange-free in one job, rows as 4 files") {
    withoutBroadcast {
      for (((name, one), (_, four)) <- queries(oneFile).zip(queries(fourFiles))) {
        assert(one.queryExecution.sparkPlan.exists(_.isInstanceOf[CoalesceExec]),
          s"$name: the one-split scan should plan under Coalesce 1:\n${one.queryExecution.sparkPlan}")
        val (rows, jobs) = jobsDuring(sorted(one))
        val plan = one.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"$name: one split must plan no exchange:\n$plan")
        assert(jobs === 1, s"$name: one split should run one job:\n$plan")
        assert(rows.nonEmpty)
        assert(rows === sorted(four), s"$name: rows differ from the 4-file read")
      }
    }
  }

  test("a multi-split scan keeps its plan: no Coalesce, the exchanges stay") {
    withoutBroadcast {
      for ((name, four) <- queries(fourFiles)) {
        assert(!four.queryExecution.sparkPlan.exists(_.isInstanceOf[CoalesceExec]),
          s"$name:\n${four.queryExecution.sparkPlan}")
        val plan = four.queryExecution.executedPlan.toString
        assert(plan.contains("Exchange hashpartitioning"), s"$name: expected a shuffle:\n$plan")
      }
    }
  }

  test("a file-source stream over one file plans as before: no Coalesce, its state shuffle stays") {
    oneFile.count() // materialize the file
    val dir = oneFile.inputFiles.head.replaceFirst("/[^/]*$", "")
    val q = spark.readStream.schema(oneFile.schema).parquet(dir)
      .groupBy("k").count()
      .writeStream.format("memory").queryName("single_split_stream").outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(!plan.exists(_.isInstanceOf[CoalesceExec]), s"stream plan changed:\n$plan")
      assert(plan.toString.contains("Exchange hashpartitioning"), s"expected the state shuffle:\n$plan")
      assert(spark.table("single_split_stream").count() === 7)
    } finally q.stop()
  }

  test("a bucketed scan keeps its HashPartitioning and gains no Coalesce") {
    val table = "graft_single_split_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      oneFile.coalesce(1).write.bucketBy(4, "k").format("parquet")
        .option("path", scratchDir("split_bucketed_").getAbsolutePath + "/t").saveAsTable(table)
      val agg = spark.table(table).groupBy("k").count()
      val sparkPlan = agg.queryExecution.sparkPlan
      assert(!sparkPlan.exists(_.isInstanceOf[CoalesceExec]), sparkPlan.toString)
      val scan = sparkPlan.collectFirst { case s: FileSourceScanExec => s }.get
      assert(scan.bucketedScan, sparkPlan.toString)
      assert(scan.outputPartitioning.isInstanceOf[HashPartitioning], scan.outputPartitioning.toString)
      assert(sorted(agg) === sorted(oneFile.groupBy("k").count()))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("checkpoints use the FileSystem API on file: paths and FileContext on other schemes") {
    val conf = new Configuration()
    assert(LocalCheckpointFileManager.onLocalFs(new Path("file:/tmp/cp"), conf))
    assert(LocalCheckpointFileManager.onLocalFs(new Path("/tmp/cp"), conf))
    assert(!LocalCheckpointFileManager.onLocalFs(new Path("hdfs://nn:8020/cp"), conf))
    val hdfsDefault = new Configuration()
    hdfsDefault.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!LocalCheckpointFileManager.onLocalFs(new Path("/cp"), hdfsDefault))
    assert(LocalCheckpointFileManager.onLocalFs(new Path("file:/cp"), hdfsDefault))

    // the session default reaches Spark's factory
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    assert(spark.conf.get(key) === classOf[LocalCheckpointFileManager].getName)
    val dir = new Path(scratchDir("checkpoint_fm_").toURI)
    conf.set(key, spark.conf.get(key))
    val fm = CheckpointFileManager.create(dir, conf)
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    assert(fm.asInstanceOf[LocalCheckpointFileManager].delegate
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    // a committed file reads back; an uncommitted one never appears
    val f = new Path(dir, "0")
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("v1".getBytes("UTF-8"))
    out.close()
    val in = fm.open(f)
    try assert(new String(in.readAllBytes(), "UTF-8") === "v1") finally in.close()
    val torn = fm.createAtomic(new Path(dir, "1"), overwriteIfPossible = false)
    torn.write("x".getBytes("UTF-8"))
    torn.cancel()
    assert(!fm.exists(new Path(dir, "1")))
  }
}
