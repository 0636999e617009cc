package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{RelationalQueries, WeatherQueries}

/** Compile once: a second run of a query set on the shared session finds
  * every generated class in Spark's JVM-wide code cache, so Janino
  * compiles nothing (`GraftExtensions.CodegenDefaults`). Fails when the
  * cache is smaller than the set's working set, or when a query's
  * generated source changes from run to run. */
class CodegenCacheSpec extends AnyFunSuite with SparkTestBase {

  /** perfbench's batch_small set (the non-streaming queries of two whole
    * modules), plus the stored-index and near-dup queries whose
    * whole-stage class name carried an AQE-order-dependent stage id. */
  private val names =
    (RelationalQueries.all ++ WeatherQueries.all).filterNot(_.streaming).map(_.name) ++
      Seq("dedup_incremental", "dedup_index_compact", "dedup_ngram",
        "sql_decontam", "sql_neardup_probe")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles per query over one run of [[names]]. */
  private def pass(): Seq[(String, Long)] = names.map { n =>
    val c0 = compiles
    SparkEntry.queries(n)(spark, SF).collect()
    Harness.unpersistAll(spark)
    n -> (compiles - c0)
  }

  test("a warm run of the batch set compiles no class") {
    val cold = pass().map(_._2).sum
    val warm = pass().filter(_._2 > 0)
    assert(warm.isEmpty,
      s"warm run compiled ${warm.map(_._2).sum} classes (cold run: $cold) — " +
        warm.map { case (n, c) => s"$n $c" }.mkString(", "))
  }
}
