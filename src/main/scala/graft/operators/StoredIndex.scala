package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption, StandardOpenOption}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{rmTree, scratchRoot}

/** The lifecycle every stored index shares — the IVF index
  * ([[Similarity.Ivf]]), the text near-dup index ([[Dedup.NearDup]]) and
  * the embedding near-dup index ([[Dedup.EmbedDup]]) are instances. A
  * family supplies only its manifest parameters (`params`/`trailer`/
  * `decode`), the artifacts its roots hold, and the fit, bucket and probe
  * code that writes and reads them; everything below is written once.
  *
  * LAYOUT under an index dir: the base build's artifacts, one
  * `batches/<id>/` root per committed mutation (append, compaction fold,
  * IVF refit), `_staging/<id>/` for roots not yet promoted, the CAS
  * sequencer `_commits/m<n>`, and `manifest.json` — the commit point.
  *
  * THE MANIFEST IS THE READER'S COMMIT LOG. Serving reads the base plus
  * exactly the `batches` the manifest lists, so data that reached the dir
  * without its manifest update is invisible. The manifest is compact JSON
  * (snake_case keys), replaced atomically (sibling tmp + rename: a reader
  * or a crash sees the old complete manifest or the new one).
  *
  * ONE LAYOUT: every write stamps the family's `layoutVersion` as `mv`,
  * and a family reads exactly the layout it writes — a document whose
  * `mv` equals its `layoutVersion` and that carries every commit-log and
  * family key. Anything else (torn, not one complete JSON object, another
  * `mv`, a key missing) is UNREADABLE, the same path as a missing
  * manifest: validity fails closed into a rebuild, and load/append/
  * compact throw "no readable manifest". A change to the written fields
  * or to the [[fingerprint]] algorithm bumps the family's
  * `layoutVersion`.
  *
  * COMMIT-LOG FIELDS ([[CommitLog]]) and their update rules:
  *  - `rows`/`fingerprint` identify the corpus. The fingerprint is the
  *    wraparound sum of per-row `xxhash64` ([[fingerprint]]), so an
  *    append ADDS its batch's rows and fingerprint and the result equals
  *    what a build over the union stamps — the union frame validates the
  *    appended index with no rebuild, and a double ingest of one batch
  *    fails closed (multiplicity-sensitive);
  *  - `appendedRows` is the staleness signal (`appended_fraction` =
  *    appendedRows / rows); only a rebuild resets it;
  *  - `seq` counts appends (and refits) ever committed; it survives
  *    compaction, so ids never collide across a fold;
  *  - `lastRows`/`lastFp` are the last committed append's identity — the
  *    REPLAY pair: re-appending exactly that batch (the foreachBatch
  *    at-least-once window) is a logged no-op; (0, 0) means "no append
  *    since build" (an empty batch never commits);
  *  - `mseq` is the CAS commit sequence;
  *  - a compaction replaces `batches` only.
  * Ids are deterministic — `b<seq+1>_<rows>_<fp hex>` for an append,
  * `c<seq>_<appendedRows>_<index fp hex>` for a fold (IVF refits use
  * `r<seq+1>_…`) — so a retry overwrites its own torn leftovers.
  *
  * CRASH RECOVERY — stage, promote, commit: a mutation writes its root
  * under `_staging/<id>/`, moves it to `batches/<id>/` (still invisible:
  * unlisted), and only the manifest replace publishes it. A crash
  * anywhere before that leaves the old index valid and serving; the retry
  * re-derives the same id and costs O(batch), never a rebuild.
  *
  * SINGLE WRITER, CHECKED ([[casCommit]]): every mutation claims
  * `_commits/m<mseq+1>` with CREATE_NEW (the filesystem's atomic
  * create-if-absent) carrying its id. Of two racing mutations exactly one
  * commits; the loser throws "CAS lost" with its staged data intact for a
  * retry against the fresh manifest. A crash between claim and publish is
  * recovered by the token match: the same mutation finds its own token
  * and publishes — unless the live manifest is already past the expected
  * mseq (the original commit landed), in which case the replay is a
  * no-op. A rebuild resets the sequencer, so a rebuild racing a mutation
  * is out of scope: deployments pause ingest around the rare rebuild.
  * POSIX/HDFS give rename and CREATE_NEW the needed atomicity; an
  * object-store deployment maps both to its conditional put.
  *
  * READER GRACE PERIOD: compaction is the only steady-state delete, and
  * its sweep is DEFERRED one cycle — a fold keeps the roots it just
  * superseded and removes only older unlisted dirs (the previous fold's
  * inputs, crash-after-commit orphans). A probe planned against the
  * pre-compact manifest keeps every file it planned for a whole
  * compaction interval. Only a rebuild (which clears `batches/`) needs a
  * serving pause.
  *
  * TRUST: [[valid]] accepts an existing index only when the family's
  * parameters match, the base and every listed root have committed
  * (`_SUCCESS`), and the corpus's (rows, fingerprint) equal the
  * manifest's. The result is memoized per index dir for the corpus's
  * canonical plan, every parameter the check compares, and the
  * manifest's (rows, fingerprint): a repeat serve re-reads only the
  * manifest and skips the corpus scan, while a different corpus, column
  * or parameter, an append, or a missing or torn manifest never reads a
  * stale acceptance. Corpus files mutating under an unchanged path
  * within one session are out of scope (version snapshot paths). */
abstract class StoredIndex[M <: StoredIndex.Manifest[M]](val kind: String,
                                                          val layoutVersion: Int) {
  import StoredIndex._

  /** Family keys written after `rows`/`fingerprint`, in order. */
  protected def params(m: M): Seq[(String, Any)]

  /** Family keys written after the commit log, before `batches`. */
  protected def trailer(m: M): Seq[(String, Any)] = Nil

  /** The family manifest from a parsed document and its commit log; None
    * when a family key is absent. */
  protected def decode(d: Doc, log: CommitLog): Option[M]

  /** The base build's committed artifacts, relative to the index dir. */
  protected def baseArtifacts(m: M): Seq[String]

  /** The artifacts every batch root holds. */
  protected def batchArtifacts: Seq[String]

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  private def manifestPath(dir: String) = Paths.get(dir, "manifest.json")

  def read(dir: String): Option[M] = {
    val p = manifestPath(dir)
    if (!Files.exists(p)) None
    else parse(Files.readAllBytes(p)).filter(_.int("mv").contains(layoutVersion))
      .flatMap(d => commitLog(d).flatMap(decode(d, _)))
  }

  /** The manifest, or a throw naming `what` when it is unreadable. */
  def load(dir: String, what: String): M = read(dir).getOrElse(sys.error(
    s"$what: no readable manifest under $dir (missing, torn or another layout) " +
      "— build first"))

  private def write(dir: String, m: M): Unit = {
    val l = m.log
    val fields = Seq("rows" -> l.rows, "fingerprint" -> l.fingerprint) ++
      params(m) ++ Seq("mv" -> layoutVersion, "mseq" -> l.mseq,
        "appended_rows" -> l.appendedRows, "seq" -> l.seq,
        "last_rows" -> l.lastRows, "last_fp" -> l.lastFp) ++
      trailer(m) :+ ("batches" -> l.batches)
    val p = manifestPath(dir)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling("manifest.json.tmp")
    Files.write(tmp, json.writeValueAsBytes(obj(fields)))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Session-scoped index location for a dataset tag: under
    * the session's [[graft.core.scratchRoot]], named by a 128-bit
    * digest of the tag ([[valid]] backstops even a digest collision). */
  def dirFor(s: SparkSession, tag: String): String =
    new java.io.File(scratchRoot(s), s"${kind}_${md5(tag)}").getAbsolutePath

  /** Session-catalog name of the index's bucketed table: bucket metadata
    * lives in the catalog, not the files, so a new session re-registers
    * it under this name — one index dir, one name, any session. */
  def table(dir: String): String =
    s"graft_${kind}_${md5(new java.io.File(dir).getAbsolutePath)}"

  def stagingDir(dir: String, id: String): String = s"$dir/_staging/$id"

  /** Artifact `a` of every committed batch root. */
  def batchPaths(dir: String, m: M, a: String): Seq[String] =
    m.log.batches.map(b => s"$dir/batches/$b/$a")

  /** Artifact `a` of every committed batch root, as one frame. */
  def readBatches(s: SparkSession, dir: String, m: M, a: String): DataFrame =
    batchPaths(dir, m, a).map(s.read.parquet(_)).reduce(_ unionByName _)

  /** Publish a fresh build whose base artifacts are written: clear the
    * batch, staging and sequencer trees BEFORE the manifest (a crash in
    * between leaves a manifest listing deleted roots — completeness fails
    * closed into another rebuild), then trust `corpus` in this session. */
  def publishBuild(dir: String, m: M, corpus: DataFrame, cols: (String, String),
                   memo: Any*): Unit = {
    Seq("batches", "_staging", "_commits").foreach(d => rmTree(new java.io.File(s"$dir/$d")))
    write(dir, m)
    validated.put(dir, memoKey(corpus, cols, memo, m))
    ()
  }

  /** True iff the index under `dir` is complete, `accept`s its manifest's
    * parameters, and holds exactly `corpus` — identified by the
    * fingerprint of its `cols`. See the class doc for the memo. */
  def valid(dir: String, corpus: DataFrame, cols: (String, String), memo: Any*)(
      accept: M => Boolean): Boolean = {
    val cur = read(dir)
    cur.exists(m => validated.get(dir) == memoKey(corpus, cols, memo, m)) ||
      cur.exists { m =>
        val ok = accept(m) && complete(dir, m) && {
          val (n, fp, _) = fingerprint(corpus, cols._1, cols._2)
          m.log.rows == n && m.log.fingerprint == fp
        }
        if (ok) validated.put(dir, memoKey(corpus, cols, memo, m))
        ok
      }
  }

  private def memoKey(corpus: DataFrame, cols: (String, String), memo: Seq[Any],
                      m: M): Seq[Any] =
    Seq(planKey(corpus), cols, memo, m.log.rows, m.log.fingerprint)

  private def complete(dir: String, m: M): Boolean =
    (baseArtifacts(m).map(a => s"$dir/$a") ++ batchArtifacts.flatMap(batchPaths(dir, m, _)))
      .forall(p => new java.io.File(s"$p/_SUCCESS").exists())

  /** CHECKED manifest commit: claim `_commits/m<expectedMseq+1>` for
    * `token`, then `publish` with the claimed mseq — see the class doc for
    * the loser, own-token and already-published cases. */
  def casCommit(dir: String, expectedMseq: Long, token: String)(
      publish: Long => Unit): Unit = {
    val next = expectedMseq + 1
    val marker = Paths.get(dir, "_commits", s"m$next")
    Files.createDirectories(marker.getParent)
    try { Files.write(marker, token.getBytes(UTF_8), StandardOpenOption.CREATE_NEW); () }
    catch {
      case _: FileAlreadyExistsException =>
        val winner = new String(Files.readAllBytes(marker), UTF_8)
        if (winner != token)
          throw new IllegalStateException(
            s"$kind manifest CAS lost: commit seq $next under $dir was already " +
              s"claimed by '$winner' (this writer: '$token') — concurrent " +
              "mutation detected; re-read the manifest and retry this " +
              "mutation against the fresh state")
    }
    read(dir).filter(_.log.mseq > expectedMseq) match {
      case Some(cur) =>
        logger.info(s"$kind manifest CAS: commit seq $next under $dir already " +
          s"published (live mseq ${cur.log.mseq}) — idempotent replay, not rewriting")
      case None => publish(next)
    }
  }

  /** Replace the manifest read as `expected` with `next` through the CAS. */
  def commit(dir: String, expected: M, next: M, token: String): Unit =
    casCommit(dir, expected.log.mseq, token)(ms =>
      write(dir, next.withLog(next.log.copy(mseq = ms))))

  /** Move a staged root under `batches/`. Unlisted, so no atomicity is
    * needed; a leftover target of a torn attempt is deleted first (ids
    * are seq-prefixed, so a committed root never collides). */
  def promote(dir: String, id: String): Unit = {
    val target = new java.io.File(s"$dir/batches/$id")
    rmTree(target)
    Files.createDirectories(target.getParentFile.toPath)
    Files.move(Paths.get(stagingDir(dir, id)), target.toPath)
    ()
  }

  /** Append phase 1 — STAGE a batch of identity (`rows`, `fp`) against
    * manifest `m`: `stageTo` writes the batch root into the staging dir it
    * is given. None for an empty batch or a replay of the last commit.
    * A replay must match BOTH the row count and the fingerprint (the
    * wraparound sum is weaker than a digest against structured
    * collisions; the count closes the equal-sum-different-cardinality
    * family). A batch equal to an OLDER committed batch still appends —
    * only the consecutive duplicate, which no correct ingest produces on
    * purpose, is read as a replay, and the skip is logged. */
  def stage(dir: String, m: M, rows: Long, fp: Long)(
      stageTo: String => Unit): Option[(M, String, Long, Long)] =
    if (rows == 0) None
    else if (m.log.lastRows == rows && m.log.lastFp == fp) {
      logger.warn(s"$kind append: batch (rows=$rows, fp=$fp) matches the last " +
        s"committed batch under $dir — treating as an at-least-once replay, " +
        "skipping (re-ingest of identical consecutive batches is " +
        "indistinguishable from a replay by design)")
      None
    } else {
      val id = f"b${m.log.seq + 1}%04d_${rows}_${hex(fp)}"
      stageTo(stagingDir(dir, id))
      Some((m, id, rows, fp))
    }

  /** Append phase 3 — COMMIT a promoted batch: the append rule on the
    * commit log. */
  def commitAppend(dir: String, m: M, id: String, rows: Long, fp: Long): Unit = {
    val l = m.log
    commit(dir, m, m.withLog(l.copy(rows = l.rows + rows,
      fingerprint = l.fingerprint + fp, appendedRows = l.appendedRows + rows,
      batches = l.batches :+ id, seq = l.seq + 1, lastRows = rows, lastFp = fp)),
      token = id)
  }

  /** Promote and commit a staged append (a no-op for None). */
  def publish(dir: String, staged: Option[(M, String, Long, Long)]): Unit =
    staged.foreach { case (m, id, rows, fp) =>
      promote(dir, id)
      commitAppend(dir, m, id, rows, fp)
    }

  /** FOLD every committed batch root into one — the file-count bound
    * continuous ingest needs (probes pay one scan or join per root).
    * No-op below two roots. `fold` writes the folded root into the
    * staging dir it is given and returns (artifact, expected row count),
    * checked by a read-back so torn batch data fails the fold loudly. The
    * commit-log identity is unchanged by construction (the fold holds
    * exactly the union of the batch rows), so a validated corpus stays
    * validated.
    * Commits against the manifest the fold READ: an append that landed
    * meanwhile makes this fold lose the CAS instead of being dropped. */
  def compact(s: SparkSession, dir: String, what: String)(
      fold: (M, String) => (String, Long)): Unit = {
    val m = load(dir, what)
    val l = m.log
    if (l.batches.size < 2) return
    val id = f"c${l.seq}%04d_${l.appendedRows}_${hex(l.fingerprint)}"
    val (artifact, expect) = fold(m, stagingDir(dir, id))
    val folded = s.read.parquet(s"${stagingDir(dir, id)}/$artifact").count()
    require(folded == expect,
      s"$what: folded $folded rows of $artifact but the batch roots hold " +
        s"$expect — batch data under $dir is torn; not committing")
    promote(dir, id)
    commit(dir, m, m.withLog(l.copy(batches = Seq(id))), token = id)
    // DEFERRED sweep: keep this fold's inputs for one more cycle
    val keep = l.batches.toSet + id
    Option(new java.io.File(s"$dir/batches").listFiles())
      .foreach(_.filterNot(f => keep(f.getName)).foreach(rmTree))
    logger.info(s"$what: folded ${l.batches.size} batch roots " +
      s"(${l.appendedRows} appended rows) into $id under $dir")
  }

  def appendedFraction(m: M): Double =
    if (m.log.rows == 0) 0.0 else m.log.appendedRows.toDouble / m.log.rows

  /** The one-row health gauge: `rows`, `appended_rows`,
    * `appended_fraction`, `batch_roots` off the manifest, then the
    * family's `extra` columns (Int, Long or Double values). */
  def stats(s: SparkSession, m: M, extra: (String, Any)*): DataFrame = {
    val cols = Seq("rows" -> m.log.rows, "appended_rows" -> m.log.appendedRows,
      "appended_fraction" -> appendedFraction(m), "batch_roots" -> m.log.batches.size) ++ extra
    val schema = StructType(cols.map { case (k, v) =>
      StructField(k, v match {
        case _: Int    => IntegerType
        case _: Long   => LongType
        case _: Double => DoubleType
      }, nullable = false)
    })
    s.createDataFrame(java.util.Collections.singletonList(Row.fromSeq(cols.map(_._2))), schema)
  }
}

object StoredIndex {

  /** The manifest fields every family shares; see [[StoredIndex]]. The
    * defaults are a fresh build's log. */
  final case class CommitLog(rows: Long, fingerprint: Long, appendedRows: Long = 0L,
                             batches: Seq[String] = Nil, seq: Long = 0L,
                             lastRows: Long = 0L, lastFp: Long = 0L, mseq: Long = 0L)

  /** A family manifest: its own parameters plus one commit log. */
  trait Manifest[M <: Manifest[M]] {
    def log: CommitLog
    /** This manifest with its commit log replaced by `l`. */
    def withLog(l: CommitLog): M
  }

  /** A nested JSON object in a manifest field list. */
  final case class Obj(fields: (String, Any)*)

  /** Typed reads of a parsed manifest document: a key that is absent or
    * of the wrong JSON type reads as None. */
  final class Doc private[StoredIndex] (n: JsonNode) {
    private def field(k: String) = Option(n.get(k))
    private def elems(k: String): Seq[JsonNode] =
      field(k).filter(_.isArray).map(a => (0 until a.size).map(a.get)).getOrElse(Nil)
    def long(k: String): Option[Long] =
      field(k).filter(x => x.isIntegralNumber && x.canConvertToLong).map(_.asLong)
    def int(k: String): Option[Int] = long(k).map(_.toInt)
    def str(k: String): Option[String] = field(k).filter(_.isTextual).map(_.asText)
    def strs(k: String): Option[Seq[String]] =
      field(k).filter(_.isArray).map(_ => elems(k).filter(_.isTextual).map(_.asText))
    def ints(k: String): Seq[Int] = elems(k).filter(_.isIntegralNumber).map(_.asInt)
    def docs(k: String): Seq[Doc] = elems(k).map(new Doc(_))
  }

  private val json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  private val nodes = JsonNodeFactory.instance

  /** One complete JSON object, or None (truncated, trailing bytes, not an
    * object). */
  private def parse(bytes: Array[Byte]): Option[Doc] =
    scala.util.Try(json.readTree(bytes)).toOption
      .filter(n => n != null && n.isObject).map(new Doc(_))

  private def node(v: Any): JsonNode = v match {
    case x: Int     => nodes.numberNode(x)
    case x: Long    => nodes.numberNode(x)
    case x: String  => nodes.textNode(x)
    case Obj(fs @ _*) => obj(fs)
    case xs: Seq[_] =>
      val a = nodes.arrayNode()
      xs.foreach(x => a.add(node(x)))
      a
  }

  private def obj(fields: Seq[(String, Any)]): ObjectNode = {
    val o = nodes.objectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, node(v)) }
    o
  }

  /** The commit log of a parsed document; None when a key is absent. */
  private def commitLog(d: Doc): Option[CommitLog] =
    for (rows <- d.long("rows"); fp <- d.long("fingerprint");
         appended <- d.long("appended_rows"); batches <- d.strs("batches");
         seq <- d.long("seq"); lastRows <- d.long("last_rows");
         lastFp <- d.long("last_fp"); mseq <- d.long("mseq"))
      yield CommitLog(rows, fp, appended, batches, seq, lastRows, lastFp, mseq)

  /** Index dir → the (plan, columns, parameters, manifest identity) last
    * validated or built there, in this JVM. */
  private val validated = new java.util.concurrent.ConcurrentHashMap[String, Seq[Any]]()

  def hex(fp: Long): String = java.lang.Long.toHexString(fp)

  private[graft] def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  /** Digest of a frame's canonicalized logical plan — equal for
    * re-constructions of the same read within a session, different for
    * any structurally different frame. */
  def planKey(df: DataFrame): String =
    md5(df.queryExecution.analyzed.canonicalized.toString)

  /** One-pass corpus identity: (row count, fingerprint, `extra`
    * aggregates as a row). The fingerprint is the WRAPAROUND SUM (mod
    * 2⁶⁴) of `xxhash64(a, b)` — order-independent, and unlike a bit_xor
    * multiplicity-sensitive (XOR cancels pairwise, so corpora differing
    * in even-multiplicity duplicates would share a fingerprint). Spelled
    * as four 16-bit limb sums over plain longs recombined with wraparound
    * `+`/`<<` on the driver: exactly the low 64 bits of the true sum with
    * no decimal aggregation (a decimal(38,0) sum measured 2.1× slower on
    * the probe path), and each limb sum is overflow-safe to ~1.4e14 rows. */
  def fingerprint(df: DataFrame, a: String, b: String, extra: Column*): (Long, Long, Row) = {
    val h = xxhash64(col(a), col(b))
    def limb(i: Int): Column =
      coalesce(sum(shiftrightunsigned(h, 16 * i).bitwiseAND(lit(0xFFFFL))), lit(0L))
    val r = df.agg(count(lit(1)), limb(0) +: limb(1) +: limb(2) +: limb(3) +: extra: _*).head()
    (r.getLong(0),
      r.getLong(1) + (r.getLong(2) << 16) + (r.getLong(3) << 32) + (r.getLong(4) << 48),
      Row.fromSeq(r.toSeq.drop(5)))
  }
}
