package graft

/** Benchmark main (driver contract): runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Hygiene:
  *  - a warmup pass first (session/codegen/JIT/parquet-footer costs land
  *    there, not on the first measured query), stable name order, AQE on;
  *  - TWO measured passes, min per query: a single pass is dominated by
  *    JIT/GC noise on sub-second queries (observed 1.3s vs 11.6s for the
  *    same groupBy across driver runs);
  *  - timings printed with 2 decimals (total with 3), and the per-query
  *    map capped to the 45 slowest queries: the driver captures only the
  *    LAST 2000 chars of stdout, and full maps outgrew that window twice
  *    (BENCH_r01/r02 "parsed": null; ~2090 chars for 89 queries). The
  *    capped line is ~1000 chars — headroom for sbt's trailing [success]
  *    line and future query growth;
  *  - queries that throw are listed in "failed" (and excluded from the
  *    map/total), never recorded as normal-looking timings.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cores
    // SPARK_GRAFT_ONLY=a,b,c restricts the run (scaling decades over
    // partial table sets, e.g. the 100x documents/events/embeddings dir,
    // where the TPC-H-family queries have no inputs); driver runs use
    // the full registry.
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(Harness.selectedQueries)
    // ENVIRONMENT SELF-CERTIFICATION — measured before the session spins
    // up and recorded in the JSON line. BENCH_r15 was taken while a
    // leftover 8-core Verify JVM churned the same box, and its 2.05×
    // median per-query ratio vs r14 was unadjudicable for a round: a
    // contaminated measurement is worse than none when it can masquerade
    // as a regression (or as the absence of one). The guard RECORDS
    // rather than refuses — the driver's bench must never be zeroed by a
    // stray process — but the artifact now carries the evidence to
    // discount itself: 1-minute load average at start and the number of
    // OTHER JVMs alive (self and its sbt ancestors excluded).
    val loadAtStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val otherJvms: Long = {
      val self = Iterator.iterate(Option(ProcessHandle.current)) {
        _.flatMap(h => Option(h.parent.orElse(null)))
      }.takeWhile(_.isDefined).take(16).flatten.map(_.pid).toSet
      import scala.jdk.CollectionConverters._
      ProcessHandle.allProcesses().iterator().asScala.count { h =>
        !self(h.pid) &&
          h.info.command.map[Boolean](_.contains("java")).orElse(false)
      }
    }
    // PAGE-CACHE FINGERPRINT — the r16 hole: load1/other_jvms certify
    // CPU quiet but are blind to filesystem state, and the round's own
    // adjudication proved a cache-churned box (post-sf10-Verify) inflates
    // the many-small-file families 2-13x with load1 1.65 and zero other
    // JVMs. /proc/meminfo Cached at start is the evidence: a fresh boot
    // or an explicit drop_caches reads near zero; a box that just
    // digested a big-decade leg reads tens of GB. The chain drops caches
    // before timed legs; this field lets the artifact flag itself when
    // that discipline was skipped. -1 = unreadable (non-Linux).
    val cachedMb: Long = try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("Cached:") => l.split("\\s+")(1).toLong / 1024
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }
    // OTHER-PROCESS CPU over the whole run, in cores — perfbench's
    // `box.other_cpu`: the /proc/stat busy-jiffies delta (every field but
    // idle and iowait, USER_HZ 100) minus this JVM's own CPU delta, over
    // wall time. load1/other_jvms/cached_mb are start-only snapshots
    // (three back-to-back runs of the same code spread 12 % while the
    // fastest read the worst load1); this one covers the run itself.
    // -1 = /proc/stat unreadable (non-Linux).
    def cpuClock(): Option[(Double, Double, Double)] = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").tail.map(_.toLong)
        finally src.close()
      val self = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
      Some((System.nanoTime() / 1e9, (f.sum - f(3) - f(4)) / 100.0, self / 1e9))
    } catch { case _: Exception => None }
    val clockAtStart = cpuClock()
    if (otherJvms > 0 || loadAtStart > 2.0)
      System.err.println(f"[bench] WARNING: contended box at start — " +
        f"load1=$loadAtStart%.2f, other JVMs=$otherJvms; timings below " +
        "measure the CONTENTION, not the engine")
    val spark = Harness.session(cpus)

    // Warmup: JVM/codegen/scan-path initialization off the clock.
    // (first table that exists — partial-table scaling dirs have no
    // lineitem)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("lineitem", "documents", "events", "embeddings")
      .map(t => new java.io.File(s"$sfDir/$t.parquet")).find(_.exists())
      .foreach(f => spark.read.parquet(f.getPath).count())

    // A query that throws is recorded as -1, never as a normal-looking
    // elapsed time (a failure must be distinguishable in the JSON).
    //
    // Action = noop SINK, not count(): under Aggregate(count(1)) Catalyst
    // prunes unreferenced projections and windows and eliminates sorts,
    // so count() timed a near-empty scan for scalar-projection and
    // window-only queries (wx_*, *_funcs, win_lag_lead, ...). The noop
    // sink consumes every output column of the real plan with zero
    // write/driver cost. Methodology changed in round 5 — totals are NOT
    // comparable to BENCH_r4 and earlier, which under-measured exactly
    // those queries.
    def run(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val elapsed =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        catch { case _: Throwable => -1.0 }
      // Bench accumulates the same block-manager residue over its up-to-3
      // passes per query that killed the sf10 Verify run. Outside the
      // timed window: harness hygiene, not query cost.
      Harness.unpersistAll(spark)
      elapsed
    }
    // Janino compiles (JVM-wide count) over the timed passes: a query
    // re-run in pass 2 compiles only what the code cache missed
    // (GraftExtensions.CodegenDefaults) or what differs run to run.
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compiles0 = compiles
    val p1 = names.map(n => n -> run(n)).toMap
    // Second pass only where noise can matter: a GC/JIT stall on a
    // sub-0.3s query moves the total by milliseconds, but the same stall
    // on a multi-second query dominated BENCH_r01/r02 (observed 1.3s vs
    // 11.6s for one groupBy). Selective re-run keeps total bench wall
    // close to a single pass.
    val p2 = names.filter(p1(_) > 0.3).map(n => n -> run(n)).toMap
    val compiled = compiles - compiles0
    // A transient pass-2 failure (-1) must not erase a valid pass-1
    // measurement: only min over non-negative timings.
    val results = names.map(n =>
      n -> math.min(p1(n), p2.get(n).filter(_ >= 0).getOrElse(p1(n))))
    val failed = results.collect { case (n, v) if v < 0 => n }
    val ok = results.filter(_._2 >= 0)
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and a
    // comma decimal separator (de_DE etc.) would make the line invalid
    // JSON. Trailing zeros are stripped ("0.20" -> "0.2") purely for line
    // length — the driver captures only the LAST 2000 chars of stdout, and
    // the full per-query map outgrew that window as queries were added
    // (r02 truncation, and ~2090 chars for 89 queries at sf0.01). The map
    // therefore carries only the 45 SLOWEST queries (the ones with signal;
    // every elided query ran faster than the smallest emitted value, and
    // "elided" says how many there were); total/failed always cover all.
    def num(fmt: String, v: Double) =
      String.format(java.util.Locale.ROOT, fmt, Double.box(v))
        .replaceAll("0+$", "").replaceAll("\\.$", "")
    val slowest = ok.sortBy(-_._2).take(45).sortBy(_._1)
    val qs = slowest
      .map { case (k, v) => "\"" + k + "\":" + num("%.2f", v) }
      .mkString("{", ",", "}")
    val total = num("%.3f", ok.map(_._2).sum)
    // The streaming-flagged queries' wall is dominated by per-run FIXED
    // trigger machinery (micro-batch scheduling, checkpoint dirs, state
    // store init — not data volume), so their summed seconds are broken
    // out: read "value minus streaming_sec" as the data-dependent total
    // when comparing rounds or scales.
    val streamingSec = num("%.2f",
      ok.collect { case (n, v) if SparkEntry.streamingQueries(n) => v }.sum)
    val streamingN = ok.count(x => SparkEntry.streamingQueries(x._1))
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Like-for-like subtotal: the registry GROWS every round, so the grand
    // total alone can't distinguish "new query cost" from regression.
    // REGISTRY_PREV.txt (committed, one name per line = the previous
    // round's registry) scopes a second total to exactly the queries that
    // existed last round — compare THIS field round-over-round.
    val prevRegistryJson = {
      val f = java.nio.file.Paths.get("REGISTRY_PREV.txt")
      if (!java.nio.file.Files.exists(f)) ""
      else {
        val prev = scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(f)).asScala
          .map(_.trim).filter(_.nonEmpty).toSet
        val sub = ok.filter(x => prev(x._1))
        s""","total_prev_registry":${num("%.3f", sub.map(_._2).sum)},"n_prev_registry":${sub.length}"""
      }
    }
    val otherCpu = (for ((w0, b0, o0) <- clockAtStart; (w1, b1, o1) <- cpuClock())
      yield math.max(0.0, ((b1 - b0) - (o1 - o0)) / math.max(1e-9, w1 - w0))).getOrElse(-1.0)
    val env = s""","load1":${num("%.2f", loadAtStart)},"other_jvms":$otherJvms,"cached_mb":$cachedMb,"other_cpu":${num("%.2f", otherCpu)}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"elided":${ok.length - slowest.length},"failed":$failedJson,"n_queries":${names.length},"streaming_sec":$streamingSec,"streaming_n":$streamingN$prevRegistryJson,"compiles":$compiled$env,"sf":"$sfDir"}"""
    // Full-precision, uncapped dump for offline analysis (scaling curves):
    // SPARK_GRAFT_BENCH_OUT=path writes every query's timing to a file,
    // where the stdout line stays within the driver's tail budget. When
    // the env var is unset the dump still lands at a sidecar under
    // java.io.tmpdir, named by the application id so concurrent Bench
    // JVMs never clobber each other — a parse failure on the stdout side
    // (the r16 driver adjudication lost its whole round-over-round table
    // to one) then never orphans the measurement. A failed write is
    // logged and never suppresses the stdout line. Additions only; the
    // stdout schema is unchanged.
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_bench_${spark.sparkContext.applicationId}.json").getAbsolutePath)
    val full = results.map { case (k, v) => "\"" + k + "\":" + num("%.3f", v) }
      .mkString("{", ",", "}")
    val json = s"""{"total":$total,"queries":$full,"failed":$failedJson,"streaming_sec":$streamingSec,"streaming_n":$streamingN$prevRegistryJson,"compiles":$compiled$env,"sf":"$sfDir","cpus":$cpus}"""
    scala.util.Try(java.nio.file.Files.write(java.nio.file.Paths.get(sidecar),
      json.getBytes("UTF-8"))) match {
      case scala.util.Success(_) => System.err.println(s"[bench] sidecar: $sidecar")
      case scala.util.Failure(e) => System.err.println(s"[bench] sidecar write to $sidecar failed: $e")
    }
    // stop() BEFORE the metric line: Spark shutdown must not interleave
    // anything with (or after) the one JSON line the driver tails —
    // only sbt's own [success] trailer follows it now.
    spark.stop()
    println(line)
  }
}
