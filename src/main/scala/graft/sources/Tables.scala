package graft.sources

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All table access funnels through here so scan-level concerns live in one
  * place: the nanosecond-timestamp workaround for `events`, the schema
  * memo below, and (at cluster scale) any future bucketing / partition
  * layout decisions. Column pruning and predicate pushdown are left to
  * Catalyst — callers `select`/`filter` declaratively and the parquet scan
  * only reads what survives.
  *
  * SCHEMA MEMO. A bare `read.parquet(path)` infers the schema from the
  * parquet footers, and that inference is a Spark job (~100 ms warm even
  * for a one-file table). Every registered query reads one to three
  * tables, so inference was a fixed per-query cost. Each table's schema
  * is therefore inferred once and later reads declare it
  * (`read.schema(memo).parquet(path)`, no job):
  *   - key: the qualified path plus a fingerprint of the files under it —
  *     leaf-file count, total bytes and latest modification time, from one
  *     Hadoop listing per read. Rewriting a table in place (a new corpus
  *     vintage, a regenerated scale leg) changes the fingerprint, so the
  *     next read misses and infers again; a memo keyed by path alone would
  *     declare the old schema over the new files.
  *   - scope: one memo per `SparkSession`, weakly keyed, so a stopped
  *     session and its `SparkContext` are not retained. The inferred
  *     schema depends on session confs as well as on the files
  *     (`nanosAsLong` turns a TIMESTAMP(NANOS) column into BIGINT), and
  *     those confs are pinned at session build (`graft.Harness.session`),
  *     so within a session the files alone decide it. A session that
  *     flips such a conf at runtime must not rely on the memo.
  *   - a missing path is never memoized (the reader raises its own error
  *     on every call), nor is a failed inference.
  *   - no lock is held while Spark runs: two threads that miss together
  *     both infer, and the second store wins with an equal schema.
  */
object Tables {
  private final case class Key(path: String, files: Long, bytes: Long, lastModified: Long)

  private val memo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Key, StructType]]())

  /** The memo key for `path`, or None when nothing exists there. Plain
    * `getFileStatus`/`listStatus`, not `listFiles`: the located statuses
    * `listFiles` builds make the local filesystem fork a shell per file
    * for its permissions (10-30 ms a table without the native library). */
  private def key(s: SparkSession, path: String): Option[Key] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def leaves(st: FileStatus): Iterator[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).iterator.flatMap(leaves)
      else Iterator(st)
    try {
      val files = leaves(fs.getFileStatus(p)).toSeq
      Some(Key(fs.makeQualified(p).toString, files.size, files.map(_.getLen).sum,
        files.map(_.getModificationTime).foldLeft(0L)(math.max)))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  private def load(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    key(s, path) match {
      case None => s.read.parquet(path)
      case Some(k) =>
        val schemas = memo.computeIfAbsent(s, _ => new ConcurrentHashMap[Key, StructType]())
        Option(schemas.get(k)) match {
          case Some(schema) => s.read.schema(schema).parquet(path)
          case None =>
            val df = s.read.parquet(path)
            schemas.put(k, df.schema)
            df
        }
    }
  }

  def region(s: SparkSession, dir: String): DataFrame     = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame     = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame   = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame   = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame       = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame     = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame   = load(s, dir, "lineitem")
  def documents(s: SparkSession, dir: String): DataFrame  = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  /** Corpus vintages have stored `events.ts` three ways: parquet INT64
    * TIMESTAMP(NANOS) (rejected by the vectorized reader — read the raw
    * nanos via the legacy conf and derive micros with truncating division,
    * lossless since the generator emits µs precision), plain
    * TIMESTAMP(MICROS) without UTC adjustment (read as TIMESTAMP_NTZ), and
    * raw BIGINT nanos in the Spark-written scale corpora. Normalize all to
    * session-UTC TimestampType here so every downstream query sees ONE
    * type regardless of vintage — the NTZ→LTZ cast reinterprets the naive
    * wall value in the session zone (UTC everywhere in this engine),
    * exactly the value DuckDB's naive TIMESTAMP read yields. The dispatch
    * is on the read's schema, memoized or inferred, so a vintage rewritten
    * in place is picked up by the memo's fingerprint.
    *
    * The `nanosAsLong` legacy conf the NANOS vintage depends on is a
    * SESSION-BUILD concern, pinned in `graft.Harness.session` next to the
    * other pinned confs — a reader that silently flipped it session-wide
    * was a surprise for any co-resident workload reading real nanos
    * parquet. A session that lacks it still reads the micros/NTZ vintages
    * fine; on a NANOS corpus it fails fast here with the fix named,
    * instead of surfacing parquet's opaque "Illegal Parquet type: INT64
    * (TIMESTAMP(NANOS,...))".
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val df =
      try load(s, dir, "events")
      catch {
        case e: Throwable if Option(e.getMessage).exists(_.contains("TIMESTAMP(NANOS")) =>
          throw new IllegalArgumentException(
            "Tables.events: this corpus stores events.ts as parquet " +
              "TIMESTAMP(NANOS); set spark.sql.legacy.parquet.nanosAsLong=true " +
              "at session build (pinned in the Bench/Verify/SparkTestBase " +
              "builders; see SURVEY §1.3)", e)
      }
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
}
