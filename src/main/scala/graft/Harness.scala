package graft

import org.apache.spark.sql.SparkSession

/** The one session harness every entry point shares: Bench, Verify,
  * ExplainAudit, ScaleData, the experiment mains and the test suites all
  * build their session here, so what the tests run is what Bench
  * measures and what Verify dumps. */
object Harness {

  /** Task slots for a harness session: `SPARK_GRAFT_CPUS`, or every core
    * the JVM sees when it is unset. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The single local `SparkSession` builder. `extra` adds confs that
    * only one caller needs and that must be fixed at session build (the
    * test suites' warehouse path). */
  def session(cores: Int, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      // the production registration path (README "SQL surface"): the
      // injected vec_*/token/shingle functions and the asof strategy are
      // session-wide, and the registered sql_* queries run pure SQL text
      // against them. Built before getOrCreate's SparkConf, the extension
      // also sets the generated-code cache defaults
      // (GraftExtensions.CodegenDefaults).
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // SANDBOX-LAYOUT CONFIG — do not copy into a deployment. The
      // harness inputs are MB-scale, so heavy per-row work (regex,
      // char-gram hashing, 64-dim vector folds, 1000-query broadcast
      // ranking) lands on ONE 128 MB-default split and runs single-core
      // (measured 2622 s -> 86 s on sim_knn at the 100x decade). 8 MB
      // splits fix that HERE; on a 100 TB corpus the same setting means
      // ~12.5M tasks per scan — at scale keep the default split size and
      // rely on the per-operator widen() (Similarity.scala), which
      // repartitions only when a scan yields fewer splits than cores.
      // openCost=1m keeps many-small-file dirs from collapsing into a
      // single packed partition for the same reason. A scan whose files
      // still pack into one split plans as one partition
      // (graft.plans.SingleSplitScanStrategy): the query above it runs
      // without exchanges, and widen() still repartitions heavy per-row
      // work. At scale every scan is multi-split and that rule never
      // fires. See README "Operational notes".
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      // pinned at session build (Tables.events requires it): driver
      // corpora have stored events.ts as parquet TIMESTAMP(NANOS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark 4.x writes a companion .checksum per checkpoint file (state
      // deltas, offset/commit logs, sink metadata) to detect filesystem
      // corruption. On a local tmpdir that doubles the small-file IO of
      // every micro-batch commit for no benefit; the stream-stream join
      // alone commits 4 state stores x 8 partitions x ~6 batches per run.
      // A deployment on an object store SHOULD leave the default (true).
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // GC-pause tolerance: the 100x decade's giant window sorts can drive
      // full-GC pauses long enough that the LOCAL executor misses 60
      // heartbeats at the 10s default and exits ("unable to send
      // heartbeats to driver more than 60 times" — observed at sf10:
      // SparkContext shut down mid-registry, every later query dead).
      // 60s intervals give the same 60-miss budget an hour of cumulative
      // pause tolerance.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The queries a run covers, from a `SPARK_GRAFT_ONLY`-style value
    * (`a,b,c`): unset means the whole registry; blank entries are
    * dropped; a name outside the registry — or a value that names no
    * query at all — fails fast, since a typo would otherwise yield an
    * empty or partial run that looks like a legitimate result. */
  def selectQueries(only: Option[String], registry: collection.Set[String]): Set[String] =
    only match {
      case None => registry.toSet
      case Some(v) =>
        val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
        require(names.nonEmpty, "SPARK_GRAFT_ONLY is set but names no query")
        val unknown = names.diff(registry)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(",")}")
        names
    }

  /** [[selectQueries]] over the environment and [[SparkEntry.queries]]. */
  def selectedQueries: Set[String] =
    selectQueries(sys.env.get("SPARK_GRAFT_ONLY"), SparkEntry.queries.keySet)

  /** The post-query sweep: free every pinned block (localCheckpoint /
    * persist frames). Registered queries share state across the registry
    * only through FILES (IVF index dirs, staged feeds), never through
    * cached RDDs, so the sweep is output-neutral. Without it block-manager
    * residue accumulates across the registry and the heaviest-shuffle
    * queries die at the big decades (observed: a 129-query sf10 run
    * failed dedup_ngram at 16g while the same query passed isolated). */
  def unpersistAll(spark: SparkSession, blocking: Boolean = false): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
}
