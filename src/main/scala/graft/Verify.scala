package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=a,b,c restricts the dump (local scaling-dir runs
    // over partial table sets or targeted re-checks); driver runs leave
    // it unset and dump everything.
    val selected = Harness.selectedQueries
    val spark = Harness.session(Harness.cores)
    new java.io.File(outDir).mkdirs()
    // A partial dump REPLACES oracle_sql.json with only the subset; if
    // the outDir already holds other queries' parquet, a later
    // check_oracle run would validate just the subset while the stale
    // full outputs sit alongside — a partial run silently reading as a
    // full pass. Refuse rather than inherit: partial runs need a fresh
    // (or same-subset) outDir. A full run selects every name, so it
    // never trips this.
    val stale = Option(new java.io.File(outDir).list()).getOrElse(Array.empty[String])
      .filter(SparkEntry.queries.keySet).filterNot(selected).sorted
    require(stale.isEmpty,
      s"outDir $outDir already contains dumps outside SPARK_GRAFT_ONLY " +
        s"(${stale.take(5).mkString(", ")}${if (stale.length > 5) ", ..." else ""}); " +
        "use a fresh outDir for partial runs")
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
        // The sweep below keeps this invariant; enforcing it at every
        // query START turns "a future query pins a frame for cross-query
        // reuse and the sweep silently breaks it" (unpersisting a
        // locally-checkpointed RDD is unrecoverable — lineage truncated)
        // into a loud failure at the registration site instead of an
        // obscure downstream one.
        require(spark.sparkContext.getPersistentRDDs.isEmpty,
          s"[verify] pinned-block residue found before $name: a previous " +
            "query leaked persistent RDDs past the sweep")
        // ONE bounded retry, loudly logged: registered queries are
        // deterministic (that is the whole correctness contract), so a
        // first-attempt failure is operational — a streaming flake under
        // full-registry load (observed once at sf1: topk_stream missing
        // from an otherwise-green 132-query dump, unreproducible in
        // isolation OR in the next full run) — and retrying cannot
        // change the dumped bytes, only recover them. A query that
        // fails TWICE is a real defect and stays missing (the chain's
        // dump-count gate catches it).
        val ok = Iterator.range(0, 2).exists { attempt =>
          if (attempt > 0) Harness.unpersistAll(spark, blocking = true)
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            true
          } catch { case e: Throwable =>
            System.err.println(
              s"[verify] $name failed (attempt ${attempt + 1}/2): ${e.getMessage}")
            false
          }
        }
        if (!ok) {
          System.err.println(s"[verify] $name EXHAUSTED retries — dump incomplete")
          // Remove the partial parquet dir BOTH attempts may have left:
          // with it present, the chain's dump-count gate (REG+1 entries)
          // still passes, and for a NO-ORACLE query check_oracle.py then
          // records err=no_oracle with hash_match=None — which the scale
          // gates read as green. A twice-failed no-oracle query would
          // slip through every gate on the strength of its own debris
          // (oracled queries are still caught by the hash compare either
          // way). Deleting makes the count gate genuinely fire.
          core.rmTree(new java.io.File(s"$outDir/$name"))
        }
        Harness.unpersistAll(spark)
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
