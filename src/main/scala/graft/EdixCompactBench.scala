package graft

import graft.core.rmTree
import org.apache.spark.sql.functions._

/** Compaction benchmark for the STORED embed near-dup index
  * (`runMain graft.EdixCompactBench <sfDir> <batches>`): "a continuous
  * ingest has committed N append batches; what does every probe pay for
  * the N extra roots, and what does the fold buy back?" — prices what N
  * append batches cost every [[graft.operators.Dedup.probeEmbedDups]]
  * (one candidate equi-join per storage root per probe, plus the
  * per-root file opens) and what [[graft.operators.Dedup.embedDupCompact]]
  * buys back.
  *
  * Setup mirrors the registered dedup_embed_incremental split: the
  * corpus (vec_id % 10 =!= 0) is indexed as a build over its even half
  * plus N [[graft.operators.Dedup.embedDupAppend]] installments of the
  * odd half (hash-bucketed, uniform); the held-out 10% is the probe
  * batch and is NEVER appended, so the probe result is a pure function
  * of the logical index and MUST be bit-identical across the fold
  * (required, not just asserted — banding bits are frozen in the
  * manifest and the fold is layout-only). Measured per operating point:
  * data files and storage roots in the serving READ SET before/after
  * (manifest-listed roots only — the deferred sweep keeps superseded
  * dirs one maintenance interval), probe wall (min of 3 after a warm
  * pass), fold wall, and the build/append context costs. Committed
  * operating points live in COMPACT.md. */
object EdixCompactBench {

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def fmt(v: Double, d: Int = 1) =
    String.format(java.util.Locale.ROOT, s"%.${d}f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val Array(dir, batchesStr) = args.take(2)
    val batches = batchesStr.toInt
    val spark = Harness.session(Harness.cores)
    import operators.Dedup
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val base = corpus.filter(col("vec_id") % 2 === 0)
    val arriving = corpus.filter(col("vec_id") % 2 === 1)
    val probeBatch = emb.filter(col("vec_id") % 10 === 0)
    val idx = Dedup.embedDupIndexDir(spark, s"$dir#edixcompactbench")
    rmTree(new java.io.File(idx))
    val tBuild = time(Dedup.embedDupIndexWrite(
      base, "vec_id", "embedding", Seq("label"), idx))
    val bucket = pmod(xxhash64(col("vec_id")), lit(batches))
    val tAppend = time((0 until batches).foreach(i =>
      Dedup.embedDupAppend(arriving.filter(bucket === i), idx)))

    // serving READ SET (manifest-listed roots only; the deferred sweep
    // keeps superseded dirs one interval, so no whole-dir walks)
    def readSet(): (Long, Long) = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else if (f.getName.startsWith("part-")) 1L
        else 0L
      val m = Dedup.EmbedDup.read(idx).get
      val roots = Seq(s"$idx/vectors.parquet", s"$idx/buckets") ++
        m.batches.flatMap(b => Seq(s"$idx/batches/$b/buckets.parquet",
          s"$idx/batches/$b/vectors.parquet"))
      (roots.map(r => walk(new java.io.File(r))).sum,
        1L + m.batches.size) // bucket storage roots the probe joins
    }
    def probe() = Dedup
      .probeEmbedDups(Dedup.embedDupIndexLoad(spark, idx), probeBatch, -1.0)
      .select("vec_id", "dup_of", "label", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        math.rint(r.getDouble(3) * 1e9))).toSet
    def probeWall(): Double = {
      probe() // warm (catalog/filesystem caches), like a serving steady state
      (1 to 3).map(_ => time(probe())).min
    }

    val (filesBefore, rootsBefore) = readSet()
    val wallBefore = probeWall()
    val pairsBefore = probe()
    val tCompact = time(Dedup.embedDupCompact(spark, idx))
    val (filesAfter, rootsAfter) = readSet()
    val wallAfter = probeWall()
    require(probe() == pairsBefore, "compact changed probe results")
    val m = Dedup.EmbedDup.read(idx).get
    require(m.batches.size == 1 && m.batches.head.startsWith("c"),
      s"unexpected post-compact manifest: $m")
    rmTree(new java.io.File(idx))

    println(s"""{"edix_compact":{"dir":"$dir","corpus_vecs":${corpus.count()},""" +
      s""""appended_vecs":${m.appendedRows},"batches":$batches,""" +
      s""""build_sec":${fmt(tBuild)},"append_total_sec":${fmt(tAppend)},""" +
      s""""compact_sec":${fmt(tCompact)},""" +
      s""""files_before":$filesBefore,"files_after":$filesAfter,""" +
      s""""probe_roots_before":$rootsBefore,"probe_roots_after":$rootsAfter,""" +
      s""""probe_wall_before_sec":${fmt(wallBefore, 2)},""" +
      s""""probe_wall_after_sec":${fmt(wallAfter, 2)},"probe_identical":true}}""")
    spark.stop()
  }
}
