package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity, StoredIndex}

/** Fault injection over the one stored-index lifecycle, run against all
  * three families (IVF, text near-dup, embedding near-dup): a crash
  * between stage and promote and between promote and commit, a CAS race,
  * an own-token retry of a published commit, a replayed batch, a
  * manifest torn mid-write, and a manifest of another layout. Each family
  * gets the same assertions. */
class StoredIndexSpec extends AnyFunSuite with SparkTestBase {

  private lazy val emb = spark.read.parquet(s"$SF/embeddings.parquet")
  private lazy val docs = spark.read.parquet(s"$SF/documents.parquet")

  /** One family under test. `table` projects a corpus table to the
    * family's columns (`idCol` first); `ifAbsent` is the family's
    * build-unless-valid; `served` is what a load of the index serves, one
    * `id` row per indexed row. */
  private case class Family[M <: StoredIndex.Manifest[M]](
      name: String,
      index: StoredIndex[M],
      table: () => DataFrame,
      idCol: String,
      build: (DataFrame, String) => Unit,
      valid: (DataFrame, String) => Boolean,
      ifAbsent: (DataFrame, String) => Unit,
      stage: (DataFrame, String) => Option[(M, String, Long, Long)],
      append: (DataFrame, String) => Unit,
      compact: String => Unit,
      served: String => DataFrame)

  private val ivf = Family[Similarity.IvfManifest]("ivf", Similarity.Ivf,
    () => emb.select("vec_id", "embedding"), "vec_id",
    (c, d) => Similarity.ivfBuild(c, d, nlist = 8),
    (c, d) => Similarity.ivfValid(c, d, nlist = 8),
    (c, d) => Similarity.ivfBuildIfAbsent(c, d, nlist = 8),
    Similarity.ivfAppendStage, Similarity.ivfAppend,
    d => Similarity.ivfCompact(spark, d),
    d => Similarity.ivfCells(spark, d).select("id"))

  private val nearDup = Family[Dedup.NearDupManifest]("near-dup", Dedup.NearDup,
    () => docs.select("doc_id", "text"), "doc_id",
    (c, d) => Dedup.nearDupIndexWrite(c, "doc_id", "text", d),
    (c, d) => Dedup.nearDupValid(c, "doc_id", "text", d),
    (c, d) => Dedup.nearDupIndexIfAbsent(c, "doc_id", "text", d),
    Dedup.nearDupAppendStage, Dedup.nearDupAppend,
    d => Dedup.nearDupCompact(spark, d),
    d => Dedup.nearDupIndexLoad(spark, d).sizes.select(col("doc_id").as("id")))

  private val embedDup = Family[Dedup.EmbedDupManifest]("embed-dup", Dedup.EmbedDup,
    () => emb.select("vec_id", "label", "embedding"), "vec_id",
    (c, d) => Dedup.embedDupIndexWrite(c, "vec_id", "embedding", Seq("label"), d),
    (c, d) => Dedup.embedDupValid(c, "vec_id", "embedding", Seq("label"), d),
    (c, d) => Dedup.embedDupIndexIfAbsent(c, "vec_id", "embedding", Seq("label"), d),
    Dedup.embedDupAppendStage, Dedup.embedDupAppend,
    d => Dedup.embedDupCompact(spark, d),
    d => Dedup.embedDupIndexLoad(spark, d).vectors.select(col("vec_id").as("id")))

  private def tmp(p: String) = scratchDir(p).getAbsolutePath

  private def lifecycle[M <: StoredIndex.Manifest[M]](f: Family[M]): Unit = {
    def all = f.table()
    def base = all.filter(col(f.idCol) % 10 =!= 0)
    def slice(r: Int) = all.filter(col(f.idCol) % 20 === r)
    def dupIds(df: DataFrame) = df.groupBy("id").count().filter(col("count") > 1).count()

    test(s"${f.name}: a crash after stage or after promote leaves the old index serving; the retry lands once") {
      val dir = tmp(s"si_crash_${f.name}_")
      f.build(base, dir)
      val m0 = f.index.read(dir).get
      val served0 = f.served(dir).count()

      // CRASH 1: staged under _staging/, nothing promoted, manifest untouched
      val Some((m, id, bn, bfp)) = f.stage(slice(0), dir)
      assert(f.index.read(dir).get === m0)
      assert(f.valid(base.filter(lit(true)), dir),
        "old index must stay valid through a crash after stage")
      assert(f.served(dir).count() === served0)

      // CRASH 2: promoted under batches/<id>, still unlisted
      f.index.promote(dir, id)
      assert(new java.io.File(s"$dir/batches/$id").isDirectory)
      assert(f.index.read(dir).get === m0)
      assert(f.valid(base.filter(lit(true)).filter(lit(true)), dir),
        "old index must stay valid through a crash after promote")
      assert(f.served(dir).count() === served0,
        "promoted-but-uncommitted rows must be invisible to the serving read")

      // RETRY: the same deterministic id, committed exactly once
      f.append(slice(0), dir)
      assert(!f.valid(base.filter(lit(true)).filter(lit(true)), dir),
        "the commit must retire the memoized acceptance of the pre-append corpus")
      val m1 = f.index.read(dir).get
      assert(m1.log.batches === Seq(id), "retry must reuse the deterministic id")
      assert((m1.log.rows, m1.log.fingerprint) === ((m.log.rows + bn, m.log.fingerprint + bfp)))
      assert(f.valid(all.filter(col(f.idCol) % 10 =!= 0 || col(f.idCol) % 20 === 0), dir))
      assert(f.served(dir).count() > served0)
      assert(dupIds(f.served(dir)) === 0L, "no duplicate ids from the torn attempt")
    }

    test(s"${f.name}: CAS race, own-token retry of a published commit, consecutive replay") {
      val dir = tmp(s"si_cas_${f.name}_")
      f.build(base, dir)
      // both writers stage against the SAME manifest state
      val Some((m1, id1, n1, fp1)) = f.stage(slice(0), dir)
      val Some((m2, id2, n2, fp2)) = f.stage(slice(10), dir)
      f.index.promote(dir, id1)
      f.index.commitAppend(dir, m1, id1, n1, fp1) // winner
      val won = f.index.read(dir).get
      f.index.promote(dir, id2)
      val e = intercept[IllegalStateException] {
        f.index.commitAppend(dir, m2, id2, n2, fp2) // loser
      }
      assert(e.getMessage.contains("CAS lost"))
      assert(f.index.read(dir).get === won, "the loser must leave the manifest as it was")

      // the winner's commit retried with its own token after it was
      // published: a no-op, never a second copy of the batch
      f.index.commitAppend(dir, m1, id1, n1, fp1)
      assert(f.index.read(dir).get === won)

      // the loser retries against the fresh manifest and lands
      f.append(slice(10), dir)
      val m3 = f.index.read(dir).get
      assert(m3.log.batches.size === 2 && m3.log.mseq === won.log.mseq + 1)
      // a consecutive replay of that batch is a logged no-op
      f.append(slice(10), dir)
      assert(f.index.read(dir).get === m3)
      assert(f.valid(all.filter(col(f.idCol) % 10 =!= 0 || col(f.idCol) % 20 === 0 ||
        col(f.idCol) % 20 === 10), dir))
      assert(dupIds(f.served(dir)) === 0L)
    }

    test(s"${f.name}: a manifest torn inside its batches array is unreadable: not valid, load throws") {
      val dir = tmp(s"si_torn_${f.name}_")
      f.build(base, dir)
      f.append(slice(0), dir)
      val union = all.filter(col(f.idCol) % 10 =!= 0 || col(f.idCol) % 20 === 0)
      assert(f.valid(union, dir)) // memoized for this corpus plan
      val p = java.nio.file.Paths.get(dir, "manifest.json")
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val cut = text.indexOf("\"batches\":[") + "\"batches\":[".length + 3
      java.nio.file.Files.write(p, text.take(cut).getBytes("UTF-8"))
      assert(f.index.read(dir).isEmpty)
      assert(!f.valid(union, dir), "the memo must not accept a torn manifest")
      assert(!f.valid(union.filter(lit(true)), dir),
        "a torn manifest must fail closed, not drop the appended batch")
      val err = intercept[RuntimeException](f.served(dir).count())
      assert(err.getMessage.contains("no readable manifest"))
    }

    test(s"${f.name}: a manifest of another layout (older mv, or no seq) fails closed: rebuilt, never served") {
      val layouts = Seq[(String, String => String)](
        "older mv" -> (_.replace(s""""mv":${f.index.layoutVersion},""",
          s""""mv":${f.index.layoutVersion - 1},""")),
        "no seq" -> (_.replaceFirst(""""seq":\d+,""", "")))
      for ((what, rewrite) <- layouts) {
        val dir = tmp(s"si_layout_${f.name}_")
        f.build(base, dir)
        val served0 = f.served(dir).count()
        val p = java.nio.file.Paths.get(dir, "manifest.json")
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val older = rewrite(text)
        assert(older !== text, s"$what: the rewrite must change the manifest")
        java.nio.file.Files.write(p, older.getBytes("UTF-8"))
        assert(f.index.read(dir).isEmpty, what)
        assert(!f.valid(base, dir), s"$what: the memo must not accept another layout")
        assert(!f.valid(base.filter(lit(true)), dir), what)
        for ((op, run) <- Seq[(String, () => Any)](
            "load" -> (() => f.served(dir).count()),
            "append" -> (() => f.append(slice(0), dir)),
            "compact" -> (() => f.compact(dir)))) {
          val err = intercept[RuntimeException](run())
          assert(err.getMessage.contains("missing, torn or another layout"),
            s"$what, $op: ${err.getMessage}")
        }
        // the build-unless-valid path rebuilds in the current layout
        f.ifAbsent(base, dir)
        assert(f.index.read(dir).isDefined, what)
        assert(f.valid(base.filter(lit(true)), dir), what)
        assert(f.served(dir).count() === served0, what)
      }
    }
  }

  lifecycle(ivf)
  lifecycle(nearDup)
  lifecycle(embedDup)
}
