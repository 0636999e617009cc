package graft

import graft.core.rmTree
import org.apache.spark.sql.functions._

/** Incremental-ingest cost benchmark for the stored IVF index
  * (`runMain graft.IvfAppendBench <embeddingsDir>`): measures the
  * growing-corpus serving question — "10% of the corpus arrives after the
  * index was built; what does indexing it cost?" — by timing
  * [[graft.operators.Similarity.ivfAppend]] of the batch against the
  * alternative a deployment avoids, a from-scratch [[ivfBuild]] over the
  * union. Also asserts the append contract end-to-end at scale:
  * `ivfValid(union)` must accept the appended index (the additive
  * manifest), and a fixed 40-query probe of the appended index is
  * compared against the same probe of the rebuilt index (they may differ
  * only where the rebuild's refit centroids draw different cell
  * boundaries). Committed operating points live in RECALL.md.
  *
  * DRIFT MODE (`runMain graft.IvfAppendBench <embeddingsDir> <N>`):
  * quantifies how recall decays as appends accumulate under centroids
  * that were never refit — the number the reindex-cadence threshold is
  * calibrated from. The corpus is the raw embeddings plus
  * KnnScaleBench's 5 deterministic planted near-copies of each of the
  * 40 fixed queries (cos ≈ 1 — TRUE neighbors, so recall has a 1.0
  * ceiling instead of this synthetic corpus's ~0.4 far-neighbor floor).
  * The index is built on HALF the corpus (odd vec_ids — which excludes
  * every planted copy), then the even half arrives in N installments
  * (hash-bucketed, so raw and planted rows spread uniformly), so ALL
  * true neighbors enter through `ivfAppend` under never-refit
  * centroids. After EACH installment: pooled-pair recall@5 of the
  * appended index's probe against the EXACT top-k over the
  * corpus-so-far (RecallBench's recall definition) — overall AND
  * restricted to the NEAR-DUP pairs (exact neighbors at cos >= 0.99:
  * planted copies plus the scaled corpora's own rotation-0 exact
  * duplicates), which isolates drift on true near neighbors from this
  * corpus's intrinsic far-neighbor floor — alongside the manifest's
  * `appended_rows / rows` staleness fraction, pairing each drift point
  * with the signal a deployment alerts on. A from-scratch rebuild of
  * the full corpus closes the run: its recall is the refit ceiling, so
  * (ceiling − last step) isolates DRIFT from IVF's intrinsic
  * approximation. nlist is sized for the FULL corpus in both modes (a
  * deployment provisions cells for the corpus it expects to serve). */
object IvfAppendBench {

  private val K = 5

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def fmt(v: Double, d: Int = 1) =
    String.format(java.util.Locale.ROOT, s"%.${d}f", Double.box(v))

  def main(args: Array[String]): Unit = {
    if (args.length == 2) return drift(args(0), args(1).toInt, None)
    if (args.length == 4 && args(2) == "shift")
      return drift(args(0), args(1).toInt, Some(args(3).toDouble))
    if (args.length == 3 && args(2) == "compact")
      return compact(args(0), args(1).toInt, None)
    if (args.length == 4 && args(2) == "compact")
      return compact(args(0), args(1).toInt, Some(args(3).toDouble))
    if (args.length == 4 && args(2) == "refit")
      return refit(args(0), args(1).toInt, args(3).toDouble)
    val Array(dir) = args
    val spark = Harness.session(Harness.cores)

    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    val nlist = math.max(16, math.round(math.sqrt(n.toDouble)).toInt)
    val base = e.filter(col("vec_id") % 10 =!= 0)   // the pre-indexed 90%
    val batch = e.filter(col("vec_id") % 10 === 0)  // the arriving 10%
    val queries = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)

    val idxA = operators.Similarity.ivfIndexDir(spark, s"$dir#appendbench")
    val idxR = operators.Similarity.ivfIndexDir(spark, s"$dir#rebuildbench")
    val tBuild90 = time(operators.Similarity.ivfBuild(base, idxA, nlist))
    val tAppend = time(operators.Similarity.ivfAppend(batch, idxA))
    val unionValid = operators.Similarity.ivfValid(e, idxA, nlist)
    val tRebuild = time(operators.Similarity.ivfBuild(e, idxR, nlist))

    def pairs(idx: String): Set[(Long, Long)] =
      operators.Similarity.ivfProbe(spark, idx, queries, K, nprobe = 4)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (pa, pr) = (pairs(idxA), pairs(idxR))
    val agree = (pa & pr).size.toDouble / math.max(pr.size, 1)

    rmTree(new java.io.File(idxA)); rmTree(new java.io.File(idxR))

    println(s"""{"ivf_append":{"dir":"$dir","corpus":$n,"nlist":$nlist,""" +
      s""""build90_sec":${fmt(tBuild90)},"append10_sec":${fmt(tAppend)},""" +
      s""""rebuild_sec":${fmt(tRebuild)},"union_valid":$unionValid,""" +
      s""""probe_agreement_at5":${fmt(agree, 3)}}}""")
    spark.stop()
  }

  /** Drift mode — see the object scaladoc. SHIFT variant
    * (`<dir> <N> shift <frac>`): the appended (even-id) half is moved
    * OFF-DISTRIBUTION before staging — a uniform offset of
    * `frac · mean-norm` along the all-ones direction — so every
    * installment lands in a region the (odd-half-fitted, never-refit)
    * codebook has no centroids for. The queries (even ids, % 50 = 0) and
    * their planted near-copies shift together, so the near-dup metric
    * measures recall IN the shifted region: this is the curve that
    * actually degrades, the measured basis for the "rebuild on
    * distribution shift" clause of the ivfAppend contract (the
    * same-distribution curve is flat at 1.000 — it validates the
    * mechanism, not the alert). The closing full rebuild refits
    * centroids over the union INCLUDING the shifted region — its recall
    * is the ceiling a scheduled re-ivfBuild recovers. */
  private def drift(dir: String, installments: Int,
                    shiftFrac: Option[Double]): Unit = {
    val spark = Harness.session(Harness.cores)
    val raw = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val baseQueries = raw.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
    // KnnScaleBench's planting, verbatim: copy j of query q is a
    // deterministic columnar perturbation (cos ≈ 1) at id q + j·10⁸ —
    // EVEN ids, so every true neighbor arrives through the appends
    val dim = 64
    val planted = (1 to 5).map { j =>
      baseQueries.select(
        (col("vec_id") + j * 100000000L).as("vec_id"),
        expr(s"""transform(embedding, (x, i) ->
                |  x + 0.01d * $j * element_at(embedding, CAST((i + 1) % $dim AS INT) + 1))"""
          .stripMargin).as("embedding"))
    }.reduce(_ union _)
    // the shift offset per coordinate: frac · mean-norm / √dim, so the
    // total displacement is frac × the corpus's own scale (deterministic
    // — derived from the data, not an RNG)
    val deltaPerDim = shiftFrac.map { frac =>
      val meanNorm = raw.agg(avg(sqrt(
        graft.functions.VectorFunctions.dot(col("embedding"), col("embedding")))))
        .head().getDouble(0)
      frac * meanNorm / math.sqrt(dim.toDouble)
    }
    def shifted(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      deltaPerDim match {
        case Some(d) => df.withColumn("embedding",
          when(col("vec_id") % 2 === 0,
            expr(s"transform(embedding, x -> x + ${d}d)"))
            .otherwise(col("embedding")))
        case None => df
      }
    // stage to parquet so every step (appends, exact scans, probes)
    // reads storage, like a serving deployment (the KnnScaleBench rule)
    val staged = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_${spark.sparkContext.applicationId}/drift_corpus_${dir.hashCode.toHexString}")
    shifted(raw.union(planted)).write.mode("overwrite").parquet(staged.getAbsolutePath)
    val e = spark.read.parquet(staged.getAbsolutePath)
    // queries come FROM THE STAGED CORPUS: in shift mode they carry the
    // shift, so recall is measured where the appended data actually lives
    val queries = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
    val n = e.count()
    val nlist = math.max(16, math.round(math.sqrt(n.toDouble)).toInt)
    val base = e.filter(col("vec_id") % 2 === 1) // odd half pre-indexed
    // even ids arrive in N installments bucketed BY HASH (uniform and
    // deterministic — a vec_id-range split would clump the planted ids,
    // whose q + j·10⁸ spacing aliases any modular bucketing)
    val bucket = pmod(xxhash64(col("vec_id")), lit(installments))
    def soFar(i: Int) =
      e.filter(col("vec_id") % 2 === 1 || bucket < i)

    /** (overall recall@5, near-dup recall@5). Near-dup pairs = exact
      * top-5 neighbors at cos >= 0.99: the planted copies PLUS the
      * scaled corpus's own rotation-0 exact duplicates (ScaleData cycles
      * the rotation through dim, so every 64th copy of a vector is
      * byte-identical — those outrank the planted cos ≈ 0.99997 copies
      * in exact top-5, which is why the metric keys on cosine, not on
      * the planted id range). Their recall isolates drift on TRUE near
      * neighbors from this corpus's intrinsic far-neighbor floor (see
      * RECALL.md "what recall means on this corpus"). */
    def recallVsExact(idx: String,
                      corpus: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val exactRows = operators.Similarity.knnTopK(corpus, queries, K)
        .select("q_id", "neighbor_id", "cos").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      val exact = exactRows.map(_._1).toSet
      val nearDup = exactRows.collect { case (p, c) if c >= 0.99 => p }.toSet
      val approx = operators.Similarity
        .ivfProbe(spark, idx, queries, K, nprobe = 4)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      ((exact & approx).size.toDouble / math.max(exact.size, 1),
        (nearDup & approx).size.toDouble / math.max(nearDup.size, 1))
    }

    val idx = operators.Similarity.ivfIndexDir(spark, s"$dir#driftbench")
    val tBuild = time(operators.Similarity.ivfBuild(base, idx, nlist))
    val steps = (1 to installments).map { i =>
      val batch = e.filter(col("vec_id") % 2 === 0 && bucket === i - 1)
      val tApp = time(operators.Similarity.ivfAppend(batch, idx))
      val frac = operators.Similarity.ivfAppendedFraction(idx).get
      val (rec, recP) = recallVsExact(idx, soFar(i))
      System.err.println(s"# step $i/$installments: appended_frac=${fmt(frac, 3)} recall=${fmt(rec, 3)} neardup=${fmt(recP, 3)}")
      s"""{"i":$i,"appended_frac":${fmt(frac, 3)},"append_sec":${fmt(tApp)},"recall_at5":${fmt(rec, 3)},"neardup_recall_at5":${fmt(recP, 3)}}"""
    }
    // PRUNING-ECONOMICS metric: cell-occupancy concentration of the
    // APPENDED rows under the never-refit codebook vs the same rows
    // under the refit (rebuild) codebook. Off-distribution appends cram
    // into the few cells nearest the shifted region — recall survives
    // (near-identical vectors co-assign under ANY codebook), but every
    // probe touching the region scans a bloated candidate set, which is
    // the cost a shift-triggered rebuild actually recovers.
    def occupancy(ix: String): (Long, Double) = {
      val assigned = operators.Similarity.ivfCells(spark, ix)
        .filter(col("id") % 2 === 0)
        .groupBy("cell").count().orderBy(desc("count"))
        .select("count").collect().map(_.getLong(0))
      val total = assigned.sum.toDouble
      (assigned.length.toLong,
        if (total == 0) 0.0 else assigned.take(20).sum / total)
    }
    val (cellsApp, top20App) = occupancy(idx)
    // refit ceiling: a from-scratch build over the final corpus
    val idxR = operators.Similarity.ivfIndexDir(spark, s"$dir#driftrebuild")
    val tRebuild = time(operators.Similarity.ivfBuild(e, idxR, nlist))
    val (recRebuilt, recPRebuilt) = recallVsExact(idxR, e)
    val (cellsReb, top20Reb) = occupancy(idxR)
    rmTree(new java.io.File(idx)); rmTree(new java.io.File(idxR)); rmTree(staged)

    val shiftJson = shiftFrac.map(f => s""""shift_frac":${fmt(f, 2)},""").getOrElse("")
    println(s"""{"ivf_drift":{"dir":"$dir","corpus":$n,"nlist":$nlist,$shiftJson""" +
      s""""installments":$installments,"build_half_sec":${fmt(tBuild)},""" +
      s""""steps":[${steps.mkString(",")}],""" +
      s""""appended_cells":$cellsApp,"appended_top20_share":${fmt(top20App, 3)},""" +
      s""""rebuilt_appended_cells":$cellsReb,"rebuilt_top20_share":${fmt(top20Reb, 3)},""" +
      s""""rebuild_sec":${fmt(tRebuild)},"rebuilt_recall_at5":${fmt(recRebuilt, 3)},""" +
      s""""rebuilt_neardup_recall_at5":${fmt(recPRebuilt, 3)}}}""")
    spark.stop()
  }

  /** COMPACT mode (`<dir> <B> compact`): the continuous-ingest file-count
    * question — build on 90%, append the remaining 10% in B hash-bucketed
    * installments (B batch roots, each ≤ 1 file per touched cell per
    * artifact), then measure the serving probe and the index's data-file
    * count BEFORE and AFTER [[graft.operators.Similarity.ivfCompact]],
    * asserting the probe's (q, rank, neighbor) set is IDENTICAL across
    * the fold. Committed numbers live in COMPACT.md.
    *
    * SHIFTED variant (`<dir> <B> compact <frac>`): the drift bench's
    * distribution-shift split — build on the UNSHIFTED odd half, append
    * the even half OFFSET by `frac · mean-norm` (the RECALL.md shift
    * mode that crams >50% of appended mass into ~20 cells) — and report
    * the fold's SKEW BOUND alongside the file counts: the hottest
    * appended cell's row count vs the 4×mean salting cap, the file
    * count that cell folded into, and the max rows in any folded data
    * file (= the biggest per-cell task input any fold task processed;
    * the size-aware re-cluster bounds it near the cap where the
    * one-task-per-cell layout would have put the WHOLE hot cell in one
    * task/file). */
  /** REFIT mode (`<dir> <N> refit <frac>`): the shift-drift split (build
    * on the UNSHIFTED odd half, append the even half offset by
    * `frac · mean-norm` in N installments — the RECALL.md regime that
    * crams >50% of appended mass into ~20 cells), then measure what
    * [[graft.operators.Similarity.ivfRefit]] RECOVERS at O(hot cells)
    * where the previous only remedy was the O(corpus) rebuild:
    * appended-mass top-20 concentration and the hottest live cell's row
    * count before/after the refit (the probe's scan-fraction economics —
    * a probe ranking a hot cell scans its whole population), probe wall
    * before/after, near-dup recall@5 before/after (must hold: relabel
    * moves no rows), refit seconds vs the rebuild ceiling's seconds, and
    * the rebuild's own concentration as the refit's target. Committed
    * numbers live in RECALL.md (refit section). */
  private def refit(dir: String, installments: Int, frac: Double): Unit = {
    val spark = Harness.session(Harness.cores)
    val raw = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val dim = 64
    val meanNorm = raw.agg(avg(sqrt(
      graft.functions.VectorFunctions.dot(col("embedding"), col("embedding")))))
      .head().getDouble(0)
    val d = frac * meanNorm / math.sqrt(dim.toDouble)
    val staged = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_${spark.sparkContext.applicationId}/rshift_${dir.hashCode.toHexString}")
    raw.withColumn("embedding",
        when(col("vec_id") % 2 === 0,
          expr(s"transform(embedding, x -> x + ${d}d)"))
          .otherwise(col("embedding")))
      .write.mode("overwrite").parquet(staged.getAbsolutePath)
    val e = spark.read.parquet(staged.getAbsolutePath)
    val n = e.count()
    val nlist = math.max(16, math.round(math.sqrt(n.toDouble)).toInt)
    val base = e.filter(col("vec_id") % 2 === 1)
    val arriving = e.filter(col("vec_id") % 2 === 0)
    val queries = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
    val idx = operators.Similarity.ivfIndexDir(spark, s"$dir#refitbench")
    val tBuild = time(operators.Similarity.ivfBuild(base, idx, nlist))
    val bucket = pmod(xxhash64(col("vec_id")), lit(installments))
    val tAppend = time((0 until installments).foreach(i =>
      operators.Similarity.ivfAppend(arriving.filter(bucket === i), idx)))

    // live appended-mass concentration + hottest live cell (the refit
    // read rule applies — superseded pre-refit copies excluded)
    def occ(ix: String): (Long, Double, Long) = {
      val counts = operators.Similarity.ivfCells(spark, ix)
        .filter(col("id") % 2 === 0)
        .groupBy("cell").count().orderBy(desc("count"))
        .select("count").collect().map(_.getLong(0))
      val total = counts.sum.toDouble
      (counts.length.toLong,
        if (total == 0) 0.0 else counts.take(20).sum / total,
        counts.headOption.getOrElse(0L))
    }
    def probe() = operators.Similarity
      .ivfProbe(spark, idx, queries, K, nprobe = 4)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def probeWall(): Double = { probe(); (1 to 3).map(_ => time(probe())).min }
    def nearDupRecall(): Double = {
      val exactRows = operators.Similarity.knnTopK(e, queries, K)
        .select("q_id", "neighbor_id", "cos").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      val nearDup = exactRows.collect { case (p, c) if c >= 0.99 => p }.toSet
      val a = probe()
      (nearDup & a).size.toDouble / math.max(nearDup.size, 1)
    }

    val (cells0, top20Before, hot0) = occ(idx)
    val wallBefore = probeWall()
    val recBefore = nearDupRecall()
    val tRefit = time(
      operators.Similarity.ivfRefit(spark, idx, capFactor = 4.0, maxSplit = 32))
    val m1 = operators.Similarity.Ivf.read(idx).get
    val (cells1, top20After, hot1) = occ(idx)
    val wallAfter = probeWall()
    val recAfter = nearDupRecall()
    // the rebuild ceiling: what a full O(corpus) refit would recover
    val idxR = operators.Similarity.ivfIndexDir(spark, s"$dir#refitrebuild")
    val tRebuild = time(operators.Similarity.ivfBuild(e, idxR, nlist))
    val (_, top20Reb, hotReb) = occ(idxR)
    rmTree(new java.io.File(idx)); rmTree(new java.io.File(idxR)); rmTree(staged)

    println(s"""{"ivf_refit":{"dir":"$dir","corpus":$n,"nlist":$nlist,""" +
      s""""shift_frac":${fmt(frac, 2)},"installments":$installments,""" +
      s""""build_half_sec":${fmt(tBuild)},"append_total_sec":${fmt(tAppend)},""" +
      s""""refit_sec":${fmt(tRefit)},"rebuild_sec":${fmt(tRebuild)},""" +
      s""""splits":${m1.nlist - nlist},"nlist_after":${m1.nlist},""" +
      s""""appended_cells_before":$cells0,"appended_cells_after":$cells1,""" +
      s""""top20_share_before":${fmt(top20Before, 3)},""" +
      s""""top20_share_after":${fmt(top20After, 3)},""" +
      s""""top20_share_rebuild":${fmt(top20Reb, 3)},""" +
      s""""hot_cell_rows_before":$hot0,"hot_cell_rows_after":$hot1,""" +
      s""""hot_cell_rows_rebuild":$hotReb,""" +
      s""""probe_wall_before_sec":${fmt(wallBefore, 2)},""" +
      s""""probe_wall_after_sec":${fmt(wallAfter, 2)},""" +
      s""""neardup_recall_before":${fmt(recBefore, 3)},""" +
      s""""neardup_recall_after":${fmt(recAfter, 3)}}}""")
    spark.stop()
  }

  private def compact(dir: String, batches: Int, shiftFrac: Option[Double]): Unit = {
    val spark = Harness.session(Harness.cores)
    val raw = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val e = shiftFrac match {
      case None => raw
      case Some(frac) =>
        // the drift bench's shift, verbatim: even ids offset by
        // frac·mean-norm/√dim per coordinate, staged to parquet so every
        // step reads storage
        val dbl = raw.select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        val dim = 64
        val meanNorm = dbl.agg(avg(sqrt(
          graft.functions.VectorFunctions.dot(col("embedding"), col("embedding")))))
          .head().getDouble(0)
        val d = frac * meanNorm / math.sqrt(dim.toDouble)
        val staged = new java.io.File(
          sys.props("java.io.tmpdir"),
          s"graft_${spark.sparkContext.applicationId}/cshift_${dir.hashCode.toHexString}")
        dbl.withColumn("embedding",
            when(col("vec_id") % 2 === 0,
              expr(s"transform(embedding, x -> x + ${d}d)"))
              .otherwise(col("embedding")))
          .write.mode("overwrite").parquet(staged.getAbsolutePath)
        spark.read.parquet(staged.getAbsolutePath)
    }
    val n = e.count()
    val nlist = math.max(16, math.round(math.sqrt(n.toDouble)).toInt)
    // shift mode: the odd (unshifted) half is the pre-indexed corpus and
    // the shifted even half arrives — the codebook has no centroids in
    // the shifted region, which is exactly what concentrates the appends
    val base = shiftFrac.fold(e.filter(col("vec_id") % 10 =!= 0))(_ =>
      e.filter(col("vec_id") % 2 === 1))
    val arriving = shiftFrac.fold(e.filter(col("vec_id") % 10 === 0))(_ =>
      e.filter(col("vec_id") % 2 === 0))
    val queries = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
    val idx = operators.Similarity.ivfIndexDir(spark, s"$dir#compactbench")
    val tBuild = time(operators.Similarity.ivfBuild(base, idx, nlist))
    val bucket = pmod(xxhash64(col("vec_id")), lit(batches))
    val tAppend = time((0 until batches).foreach(i =>
      operators.Similarity.ivfAppend(arriving.filter(bucket === i), idx)))

    // Count data files in the SERVING READ SET (base + manifest-listed
    // batch roots, both artifacts) — NOT a whole-dir walk: since the
    // r14 reader grace period, a compact RETAINS the superseded batch
    // dirs for one maintenance interval, so the dir total transiently
    // GROWS at the first fold while the probe's file-open set (what
    // this benchmark prices) shrinks ~10×.
    def dataFiles(): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else if (f.getName.endsWith(".parquet") || f.getName.startsWith("part-")) 1L
        else 0L
      val m0 = operators.Similarity.Ivf.read(idx).get
      val roots = Seq(s"$idx/cells.parquet", s"$idx/cells_i8.parquet") ++
        m0.batches.flatMap(b => Seq(s"$idx/batches/$b/cells.parquet",
          s"$idx/batches/$b/cells_i8.parquet"))
      roots.map(r => walk(new java.io.File(r))).sum
    }
    def probe() = operators.Similarity
      .ivfProbe(spark, idx, queries, K, nprobe = 4)
      .select("q_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def probeWall(): Double = {
      probe() // warm (codebook/filesystem caches), like a serving steady state
      (1 to 3).map(_ => time(probe())).min
    }

    val filesBefore = dataFiles()
    val wallBefore = probeWall()
    val pairsBefore = probe()
    val tCompact = time(operators.Similarity.ivfCompact(spark, idx))
    val filesAfter = dataFiles()
    val wallAfter = probeWall()
    require(probe() == pairsBefore, "compact changed probe results")
    val m = operators.Similarity.Ivf.read(idx).get
    require(m.batches.size == 1 && m.appendedRows == arriving.count(),
      s"unexpected post-compact manifest: $m")
    // skew report over the folded root: hottest cell vs the salting cap,
    // files that cell folded into, max rows in any folded data file
    // (one input_file_name() pass — no per-file reads)
    val foldRoot = s"$idx/batches/${m.batches.head}/cells.parquet"
    val folded = spark.read.parquet(foldRoot)
    val cellRows = folded.groupBy("cell").count()
      .orderBy(desc("count")).limit(1).collect()(0)
    val (hotCell, hotRows) = (cellRows.getInt(0), cellRows.getLong(1))
    val perFile = folded.groupBy(input_file_name().as("f"), col("cell"))
      .count().localCheckpoint(true)
    val maxFileRows = perFile.agg(max("count")).head().getLong(0)
    val hotCellFiles = perFile.filter(col("cell") === hotCell).count()
    val meanLoad = math.max(1L, m.appendedRows / m.nlist)
    rmTree(new java.io.File(idx))

    val shiftJson = shiftFrac.map(f => s""""shift_frac":${fmt(f, 2)},""").getOrElse("")
    println(s"""{"ivf_compact":{"dir":"$dir","corpus":$n,"nlist":$nlist,$shiftJson""" +
      s""""batches":$batches,"build90_sec":${fmt(tBuild)},""" +
      s""""append_total_sec":${fmt(tAppend)},"compact_sec":${fmt(tCompact)},""" +
      s""""files_before":$filesBefore,"files_after":$filesAfter,""" +
      s""""probe_wall_before_sec":${fmt(wallBefore, 2)},""" +
      s""""probe_wall_after_sec":${fmt(wallAfter, 2)},"probe_identical":true,""" +
      s""""mean_cell_rows":$meanLoad,"salt_cap_rows":${4L * meanLoad},""" +
      s""""hot_cell_rows":$hotRows,"hot_cell_files":$hotCellFiles,""" +
      s""""max_file_rows":$maxFileRows}}""")
    spark.stop()
  }
}
