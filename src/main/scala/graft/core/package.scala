package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core plumbing shared by every operator module.
  *
  * Design notes (scale-first):
  *  - Every query is a pure `(SparkSession, sfDir) => DataFrame` building a
  *    declarative plan; Catalyst owns pushdown/pruning/join selection.
  *  - Determinism helpers (`dsum`, `r6`) exist because the driver
  *    hash-compares results against DuckDB (SURVEY.md §7.3): double
  *    summation order differs between engines, so sums go through exact
  *    DECIMAL arithmetic and come back as bit-identical doubles.
  */
package object core {
  /** A named engine query over the test tables in `sfDir`. */
  type QueryFn = (SparkSession, String) => DataFrame

  /** Query + optional DuckDB oracle SQL (None => rows-only check).
    * `streaming` marks queries whose registered fn EXECUTES a Structured
    * Streaming micro-batch pipeline at construction (the returned frame
    * is the sink read-back) — consumers that only want to inspect lazy
    * batch plans (ExplainAudit) or annotate fixed trigger overhead
    * (Bench) key off this flag, not off name patterns. */
  final case class Q(name: String, fn: QueryFn, oracle: Option[String],
                     streaming: Boolean = false)

  /** A [[Q]] whose fn runs a streaming pipeline at construction. */
  def StreamQ(name: String, fn: QueryFn, oracle: Option[String]): Q =
    Q(name, fn, oracle, streaming = true)

  /** Order-independent, engine-identical sum of a double column:
    * exact DECIMAL(25,6) accumulation, result cast back to double.
    * DuckDB twin: [[dsumSql]]. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(25, 6))).cast("double")

  /** DuckDB twin of [[dsum]] for oracle SQL strings. The decimal→double
    * step goes THROUGH VARCHAR: DuckDB's direct decimal→double is
    * double-rounded (hugeint→double, then /10⁶ — two float roundings),
    * while Spark's Decimal.toDouble is correctly rounded
    * (BigDecimal.doubleValue ≡ Double.parseDouble of the digits). The
    * two agree until the exact sum carries more significant digits than
    * a double holds (~10¹⁶ — first hit by price sums over the 'ALL'
    * groups at the 100× decade), where direct conversion drifts 1 ulp
    * on ~a third of rows. varchar→double is correctly rounded in both
    * engines, so this spelling matches Spark bit-for-bit at any sum
    * magnitude. */
  def dsumSql(x: String): String =
    s"CAST(CAST(sum(CAST($x AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)"

  /** [[dsum]] spelled as Spark SQL text (for queries whose Spark side IS
    * SQL, e.g. agg_gsets): Spark's decimal→double cast is already
    * correctly rounded, and Spark has no bare VARCHAR type, so the
    * DuckDB-only varchar detour of [[dsumSql]] is neither needed nor
    * parseable here. */
  def dsumSparkSql(x: String): String =
    s"CAST(sum(CAST($x AS DECIMAL(25,6))) AS DOUBLE)"

  /** Deterministic average built from the exact sum (identical double
    * division on both engines). */
  def davg(c: Column): Column = dsum(c) / count(c)
  def davgSql(x: String): String = s"${dsumSql(x)} / count($x)"

  /** Round to n decimals the way DuckDB does: std::round(x*10^n)/10^n.
    * Spark's round(x, n) is exact-BigDecimal HALF_UP on the binary double,
    * which disagrees with the multiply scheme for values within 1 ulp of a
    * half boundary (~1 in 3e4 rows at sf0.1). Scale-0 rounding of a double
    * is identical in both engines (half away from zero), so rounding the
    * pre-scaled product reproduces DuckDB bit-for-bit. */
  def rN(c: Column, n: Int): Column = {
    val p = math.pow(10.0, n)
    round(c * p, 0) / p
  }

  def r6(c: Column): Column = rN(c, 6)

  /** Run `body` with one session conf temporarily set, restoring (or
    * unsetting) afterwards. A Structured Streaming query snapshots
    * session confs at start, so wrapping a stream's start+drain scopes
    * the setting to that query.
    *
    * SINGLE-THREADED-DRIVER assumption: the mutation is on the SHARED
    * session conf, so a query started concurrently on the same session from
    * another driver thread would snapshot the temporary value. Every
    * harness here (Bench/Verify/tests) runs queries sequentially; a
    * concurrent driver should scope the conf via `s.newSession()`
    * instead. The assumption is checked where it is cheap to check: a
    * stream already active on the session at entry means queries are not
    * running one at a time, and throws IllegalStateException naming
    * `key`. */
  def withSessionConf[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val active = s.streams.active
    if (active.nonEmpty)
      throw new IllegalStateException(
        s"withSessionConf($key): ${active.length} stream(s) already active on this " +
          s"session (${active.map(q => Option(q.name).getOrElse(q.id.toString)).mkString(", ")}); " +
          "it sets the shared session conf and assumes one query at a time; " +
          "scope the conf via s.newSession() instead")
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** Delete `f` and everything under it; a missing path is a no-op. */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
    ()
  }

  /** Roots drained by ONE JVM shutdown hook — a long-lived JVM creating
    * many sessions accumulates root PATHS in the set, not hook THREADS
    * (a one-hook-per-application-id spelling leaks a parked thread per
    * session). */
  private val wipedRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Registered at most once per JVM; `lazy` so the registration races
    * nothing, and swallows IllegalStateException for a scratchRoot call
    * that lands after shutdown has begun (the hook could not run anyway). */
  private lazy val wipeHook: Unit =
    try Runtime.getRuntime.addShutdownHook(new Thread(() =>
      wipedRoots.forEach(p => rmTree(new java.io.File(p)))))
    catch { case _: IllegalStateException => () }

  /** The session's scratch root, `java.io.tmpdir/graft_<applicationId>`:
    * stream staging/sink/checkpoint dirs and session-scoped stored
    * indexes all live under it. The application id keeps two concurrent
    * JVMs on one machine from wiping each other's dirs mid-query. Every
    * call registers the root with the JVM-exit wipe, so a JVM that only
    * builds an index leaks nothing either: the contents are meaningful
    * only within the session that wrote them, and a 100x Verify run
    * otherwise leaves GBs per invocation on a shared machine. A kill -9
    * still leaves residue; harnesses that care sweep graft_* dirs whose
    * application is gone. */
  def scratchRoot(s: SparkSession): java.io.File = {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${s.sparkContext.applicationId}")
    wipedRoots.add(root.getAbsolutePath)
    wipeHook
    root
  }

  /** Collect modules into the SparkEntry maps. */
  def registry(modules: Seq[Seq[Q]]): (Map[String, QueryFn], Map[String, String]) = {
    val qs = modules.flatten
    require(qs.map(_.name).distinct.size == qs.size, "duplicate query names")
    (qs.map(q => q.name -> q.fn).toMap,
     qs.flatMap(q => q.oracle.map(q.name -> _)).toMap)
  }
}
