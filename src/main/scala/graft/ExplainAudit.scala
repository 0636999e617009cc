package graft

import java.nio.file.{Files, Paths}

/** Plan auditor: dumps `explain(formatted)` for EVERY registered batch
  * query so plan quality (pushdown, pruning, broadcast selection, codegen
  * spans) is inspectable — the "is this the plan you'd want at 100 TB"
  * loop. The hand-annotated representative set leads the file (each with
  * the property its plan must exhibit); the remaining registry follows in
  * name order. Streaming-backed queries (`SparkEntry.streamingQueries`,
  * flagged at the registration site) are excluded: their registered
  * functions EXECUTE a micro-batch query at construction, so the
  * interesting plan is the streaming one inside (audited by their
  * specs), not the final batch read-back. Note the audit is not entirely
  * side-effect-free either: constructing `sim_knn_ivf`/`sim_knn_ivf_i8`
  * runs `ivfBuildIfAbsent` (k-means fit + index parquet writes into the
  * session tmpdir) before returning the lazy probe plan — the dumped
  * plan is the real serve-time plan, the build cost lands here.
  *
  * Usage: runMain graft.ExplainAudit [sfDir] [outFile]
  */
object ExplainAudit {
  private val Audited = Seq(
    "scan_parquet",     // PushedFilters/ReadSchema: pruning must reach parquet
    "filter_predicate", // predicate pushdown
    "agg_groupby",      // partial agg before shuffle
    "join_inner",       // big-big join strategy
    "join_broadcast",   // BroadcastHashJoin expected
    "topk",             // TakeOrderedAndProject expected
    "win_rank",         // single shuffle + sort for windows
    "sim_knn",          // codegen'd vec_cosine in the loop
    "join_asof_custom", // custom AsofJoinExec: one exchange+sort per side
    "dedup_minhash",    // LSH banding: no all-pairs product anywhere
    "profile_table",    // melt + two-level HashAggregate (no SortAggregate)
    "docs_pipeline",    // composed prep: one window shuffle only
    "sim_knn_topk",     // ObjectHashAggregate w/ bounded top-k buffer, partial map-side
    "ts_gapfill",       // grid generate + left join + one window sort
    "wx_wow_record",    // flagship: windows + scalar derivations fused
    "emb_normalize",    // scan -> per-row codegen'd vector math, no shuffle
    "sim_knn_i8",       // quantize + broadcast + codegen'd integer cosine
    "docs_decontam",    // benchmark shingle set broadcast, no self-join
    "docs_decontam_bloom", // bloom probe in scan, shuffled-hash exact join
    "dedup_incremental",// batch->corpus probe + WindowGroupLimit top-1
    "text_unigram_nll", // census fit + broadcast apply-back + decimal sum
    "emb_kmeans")       // final-assignment pass: scan vs centroid literals

  /** Values that change from run to run of the same code, each replaced
    * by a fixed token so two audits of one commit diff to nothing and a
    * plan change stands out in the EXPLAIN.md diff. */
  private val Volatile = Seq(
    "#\\d+" -> "#n",                                  // expression ids
    "\\[plan_id=\\d+\\]" -> "[plan_id=n]",
    "RDD\\[\\d+\\]" -> "RDD[n]",
    "( at [\\w$]+) at ([\\w$]+\\.scala):\\d+" -> "$1 at $2",  // RDD call sites
    "\\$\\$Lambda[$/\\w]*" -> "\\$\\$Lambda",           // lambda class names
    "@[0-9a-f]{4,8}\\b" -> "@h",                      // object hash codes
    "graft_local-\\d+" -> "graft_local-n",           // session scratch root
    "graft_(ndix|edix)_[0-9a-f]{32}" -> "graft_$1_h") // index table names

  def mask(plan: String): String =
    Volatile.foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/explain_audit.md")
    // pinned like the test suites: EXPLAIN.md quotes partition counts,
    // so the dump must not depend on the host's core count
    val spark = Harness.session(8)
    val rest = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(SparkEntry.streamingQueries).filterNot(Audited.contains)
    val sb = new StringBuilder("# Plan audit\n")
    sb.append(s"\nAnnotated representative set first, then the remaining " +
      s"registry (${Audited.length} + ${rest.length} batch queries; " +
      "streaming-backed queries excluded — they execute at construction).\n")
    (Audited ++ rest).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(mask(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
