package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.rmTree
import graft.functions.VectorFunctions._

/** Reusable similarity-search operators (NS mandate) — the library surface
  * behind `SimilarityQueries`.
  *
  * `knn` is the exact baseline: broadcast the (small) query set, scan the
  * corpus once, windowed top-k per query. The approximate scale paths are
  * `ivfBuild`/`ivfProbe` (a PERSISTED coarse-quantizer index: fit offline
  * once, write codebook + cell-partitioned corpus as parquet artifacts,
  * then each serving batch scans only the probed cells) and `lshKnn`
  * (multi-table random-hyperplane buckets). At 100 TB the index artifacts
  * live on distributed storage next to the corpus and the probe-side scan
  * is pruned to nprobe/nlist of the data (RECALL.md's serving benchmark
  * has the measured exact-vs-probe crossover).
  */
object Similarity {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Deterministic Gaussian hyperplanes (fixed seed — identical across
    * sessions/executors): `tables` groups of `bits` planes, generated
    * `stride` (default `bits`) per group, each group keeping its first
    * `bits` (plane k ↔ generated plane k / bits · stride + k % bits). A
    * stride past `bits` is the embed family's frozen-bits banding
    * (`Dedup.embedSigs`, SQL `lsh_buckets` with `stride_bits`): the
    * planes of a full-stride banding, cut to any frozen `bits`. */
  private[graft] def planes(tables: Int, bits: Int, dim: Int,
                            stride: Int = 0): Array[Array[Double]] = {
    val st = if (stride > 0) stride else bits
    val rnd = new scala.util.Random(42)
    val ps = Array.fill(tables * st)(Array.fill(dim)(rnd.nextGaussian()))
    Array.tabulate(tables * bits)(k => ps(k / bits * st + k % bits))
  }

  /** Shared ranking tail: (q_id, neighbor_id, cos) scored candidates →
    * (q_id, rank, neighbor_id, cos) via the bounded
    * [[graft.functions.TopKAggregator]] buffer — the aggregation buffer
    * holds at most k pairs, so map-side partial aggregation ships k rows
    * per (partition × query) into the shuffle, where a `row_number`
    * window would shuffle EVERY candidate pair to sort it. Ties break on
    * neighbor_id ascending (the aggregator's contract), identical to the
    * windowed spelling. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.{functions => F, Encoders}
    val topk = F.udaf(new graft.functions.TopKAggregator(k),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
    scored.groupBy("q_id")
      .agg(topk(col("cos"), col("neighbor_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("col._2").as("neighbor_id"), col("col._1").as("cos"))
  }

  /** Widen a corpus frame to at least the cluster's default parallelism
    * before per-row work that is MUCH heavier than the bytes scanned.
    * Exact ranking does |queries| cosine folds + aggregator inserts per
    * corpus ROW, so a corpus whose parquet footprint fits one input
    * split (128 MB default) otherwise runs the whole ranking on ONE
    * core — measured as the single-task bottleneck of the sim_knn
    * family at the 100× scaling decade (50k vectors ≈ 25 MB = 1 split,
    * 1000 broadcast queries per row). The round-robin shuffle of those
    * few corpus MB is trivially amortized by the ranking work it
    * parallelizes; a corpus already wider than the core count is left
    * untouched (at 100 TB the scan itself yields thousands of splits). */
  private def widen(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Exact brute-force cosine top-k.
    * @param corpus  (id, embedding) rows
    * @param queries (id, embedding) rows, expected small (broadcast)
    * @return (q_id, rank, neighbor_id, cosine), rank 1..k */
  def knn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.toDF("q_id", "q_emb")
    val c = widen(corpus.toDF("neighbor_id", "c_emb"))
    // SIZE-DERIVED sort width (the §7.3f rule): the ranking window
    // shuffles EVERY candidate pair on q_id, so its per-task sort input
    // is |queries|·|corpus| / partitions rows — under the session
    // default (8 partitions on the sf10 Verify harness) that was a
    // multi-GB per-task sort and the registry's one
    // UNABLE_TO_ACQUIRE_MEMORY spot (burned sim_knn's only retry at
    // 20 g). The explicit repartition REPLACES the window's own exchange
    // (hash on q_id satisfies the window's required clustering — one
    // shuffle either way, only the width changes), targeting ~1M pair
    // rows per sort task; pairs are uniform per q_id (every query ranks
    // the whole corpus), so the split is skew-free with a floor of one
    // query's corpus-length list per task. Cheap to size: two count
    // jobs over frames the plan scans anyway. knnTopK needs none of
    // this — its aggregation buffer is bounded by construction.
    val pairParts = {
      val parallelism = c.sparkSession.sparkContext.defaultParallelism
      val pairs = memoCount(q) * memoCount(c)
      math.max(parallelism, math.min(1 << 14, pairs / 1000000L).toInt)
    }
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("neighbor_id"))
    c.join(broadcast(q), col("q_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      .repartition(pairParts, col("q_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Exact cosine top-k via the bounded aggregation buffer (see
    * [[rankTopK]]) — the 100 TB exact-ranking path. Same output contract
    * as [[knn]] (proven by sharing its DuckDB oracle). */
  def knnTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.toDF("q_id", "q_emb")
    val c = widen(corpus.toDF("neighbor_id", "c_emb"))
    rankTopK(
      c.join(broadcast(q), col("q_id") =!= col("neighbor_id"))
        .select(col("q_id"), col("neighbor_id"),
          cosine(col("q_emb"), col("c_emb")).as("cos")),
      k)
  }

  /** Rows the coarse-quantizer k-means is fit on: ~64 training points per
    * centroid (a small multiple of the classical 39-points-per-cell rule),
    * floored so tiny corpora always fit on everything. At nlist = √n this
    * is 64·√n rows — a vanishing fraction of a growing corpus. */
  private[operators] def fitSampleSize(nlist: Int): Long =
    math.max(64L * nlist, 10000L)

  /** Fit the IVF coarse quantizer (MLlib k-means, fixed seed) and assign
    * every corpus vector to its cell.
    *
    * The k-means runs on a DETERMINISTIC HASH SAMPLE of ~[[fitSampleSize]]
    * rows, not the full corpus: Lloyd iterations (and the k-means|| init
    * rounds) each scan their input, so a full-corpus fit is
    * O(iters·n·nlist·dim) — measured 1873 s at n = 2M, nlist = √n, and the
    * new bottleneck at 10⁸ vectors. Centroid quality needs only a few
    * dozen points per cell, so the sample fit plus ONE full-corpus
    * assignment pass keeps the build linear in n with a small constant.
    * The sample is `xxhash64(id) % 1e6 < threshold` — reproducible across
    * sessions/executors (no RNG), so the same corpus always yields the
    * same codebook (SimilaritySpec pins build ≡ in-memory round-trip).
    *
    * The full-corpus ASSIGNMENT pass is the native codegen'd
    * [[graft.expressions.ArgMinDistSq]] over the fitted centroid matrix
    * (one primitive double[] reference object, exact per-centroid
    * (aᵢ−cᵢ)² folds, ties to the smaller cell id) — NOT MLlib
    * `KMeansModel.transform`, whose per-row UDF over ML Vector structs
    * sits outside whole-stage codegen and dominated the measured 2×10⁷
    * build (RECALL.md; the same swap took emb_kmeans 1.00→0.73 s at
    * sf0.1, SURVEY §7.3g). `transform`'s triangle-inequality shortcut
    * computes distances via the |a|²+|b|²−2ab identity, so on
    * near-equidistant ties the two argmins can differ by an ulp's worth
    * of assignment — immaterial for IVF (the cell is a blocking key;
    * recall is measured against exact kNN either way), and the exact
    * fold is the more faithful argmin of the two.
    * @param n corpus row count (the caller already has it for the manifest)
    * @return (codebook (cell, ctr), cells (id, emb, cell)) */
  private def ivfFit(c: DataFrame, nlist: Int, maxIter: Int,
                     n: Long): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val s = c.sparkSession
    import s.implicits._
    val target = fitSampleSize(nlist)
    // 1.2× headroom: the hash sample is binomial around the target; the
    // fit only needs "enough points per cell", never an exact count.
    // Modulus 2⁴⁰ (not the earlier 1e6): with a coarse modulus the
    // integer threshold bottoms out at 1, so past n > modulus·target the
    // expected sample grew as n/modulus instead of staying near target
    // (1e6 fit rows at n = 1e12, nlist = 16 — 100× the need); at 2⁴⁰ the
    // same boundary sits past 10¹⁶ rows for even the smallest target.
    // CEILING (never 0 — a floored threshold of 0 meant an EMPTY fit set
    // and a hard KMeans failure at exactly the extreme scale sampling
    // exists for). Driver-side double math is deterministic: same
    // (target, n) → same threshold on every JVM.
    val M = 1L << 40
    val fitBase =
      if (n <= target) c
      else c.filter(pmod(xxhash64(col("id")), lit(M)) <
        lit(math.min(M, math.ceil(1.2 * target.toDouble / n * M).toLong)))
    val fitted = new KMeans().setK(nlist).setSeed(42).setMaxIter(maxIter)
      .setFeaturesCol("__fv").setPredictionCol("cell")
      .fit(fitBase.withColumn("__fv",
        array_to_vector(col("emb").cast("array<double>"))))
    val ctrs: Array[Array[Double]] = fitted.clusterCenters.map(_.toArray)
    val codebook = ctrs.zipWithIndex
      .map { case (ctr, j) => (j, ctr) }.toSeq
      .toDF("cell", "ctr")
    // one codegen'd pass: no Vector conversion, no UDF — see scaladoc
    val cells = c.select(col("id"), col("emb"),
      argMinDistSq(col("emb"), ctrs).getField("j").as("cell"))
    (codebook, cells)
  }

  /** Rank centroids per query and explode to (q_id, q_emb, cell) probe
    * rows: score = |ctr|² − 2·q·ctr (|q|² is constant per query,
    * dropped), nprobe nearest cells each, ties to the smaller cell id.
    * The codebook is nlist×dim — broadcast, so probing is a narrow
    * per-query computation however large nlist grows (no giant literal
    * expressions; at nlist = √n this stays a few MB at any corpus size).
    *
    * The two consumers — the driver-side [[probedCellSet]] collect and
    * the broadcast join input — must read the SAME computed probe set: a
    * queries frame that is non-deterministic (sample/rand/uuid upstream)
    * could otherwise have the static IN filter prune cells the
    * join-side recomputation assigns — silently dropping true
    * candidates. A DETERMINISTIC plan (every registered query; any
    * plain read+filter) recomputes identically by definition, so the
    * common case pays NO materialization job; only a non-deterministic
    * queries plan is pinned, via a LAZY localCheckpoint whose
    * materializing action is the [[probedCellSet]] collect itself (one
    * job, not checkpoint-then-collect's two). Caveat inherited from
    * localCheckpoint (same as [[ivfBuild]]'s): checkpoint blocks die
    * with their executor, so on a real cluster an executor loss
    * mid-probe fails that serving query instead of recomputing — the
    * price of pinning a plan that CANNOT be recomputed consistently;
    * deterministic callers are unaffected. */
  private def probeCells(queries: DataFrame, codebook: DataFrame,
                         nprobe: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(asc("score"), asc("cell"))
    val probed = queries.crossJoin(broadcast(codebook))
      .withColumn("score",
        dot(col("ctr"), col("ctr")) - lit(2.0) * dot(col("q_emb").cast("array<double>"), col("ctr")))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nprobe)
      .select("q_id", "q_emb", "cell")
    if (isDeterministic(queries)) probed else probed.localCheckpoint(false)
  }

  /** True iff recomputing the frame is guaranteed to yield the same rows:
    * every expression in the analyzed plan is deterministic, no Sample
    * node appears (Sample's output depends on the physical
    * row-to-partition layout, which Spark does not promise across
    * recomputations, even seeded), AND every LEAF is one Catalyst can
    * re-evaluate stably — a file/table relation, literal rows, or Range.
    * Any other leaf (LogicalRDD/ExternalRDD over a caller-supplied RDD, a
    * streaming relation, a leaf this version doesn't know) is
    * non-determinism Catalyst cannot SEE — `expressions` are all
    * deterministic while the rows underneath may change between the two
    * consumers — so it pins. Conservative on the safe side: a false
    * negative only costs the one pinning checkpoint.
    *
    * REMAINING CALLER CONTRACT (not checkable from the plan): a
    * FILE-BACKED queries frame must be immutable for the probe's
    * duration — a landing directory that gains/loses files between the
    * probe's two jobs is the same silent-candidate-drop hazard.
    * Registered queries read fixed test corpora and are unaffected;
    * continuous-ingest callers probe a snapshot (or pass an
    * already-pinned frame). */
  private def isDeterministic(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OneRowRelation, Range, Sample}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    df.queryExecution.analyzed.find { p =>
      p.expressions.exists(!_.deterministic) ||
        p.isInstanceOf[Sample] ||
        (p.children.isEmpty && !(p.isInstanceOf[LogicalRelation] ||
          p.isInstanceOf[LocalRelation] || p.isInstanceOf[OneRowRelation] ||
          p.isInstanceOf[Range]))
    }.isEmpty
  }

  /** The DISTINCT cells this serving batch probes, collected driver-side
    * for a STATIC partition filter on the cell scans. Bounded by
    * min(nlist, nprobe·|queries|) ints — at nlist = √n a few KB on any
    * corpus, the same order as the codebook collects the fit already
    * does. Static `cell IN (...)` pruning is UNCONDITIONAL on every scan
    * branch (an appended index reads a UNION of per-batch roots, where
    * runtime dynamic partition pruning does not reach — and even on a
    * single root DPP is heuristic where this is guaranteed). Costs one
    * tiny extra job over the probe frame per serving batch (see
    * [[probeCells]] — a deterministic probe plan recomputes identically
    * for the join; a non-deterministic one is checkpoint-pinned — either
    * way the set never diverges from what the join sees). */
  private def probedCellSet(probed: DataFrame): Seq[Int] =
    probed.select("cell").distinct().collect().map(_.getInt(0)).toSeq

  /** Candidate generation + exact ranking over probed cells only: the
    * per-query work is |corpus|·nprobe/nlist instead of |corpus|. */
  private def ivfRank(cells: DataFrame, codebook: DataFrame,
                      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val probed = probeCells(queries.toDF("q_id", "q_emb"), codebook, nprobe)
    rankTopK(
      cells.toDF("neighbor_id", "c_emb", "cell")
        .filter(col("cell").isin(probedCellSet(probed): _*))
        .join(broadcast(probed), Seq("cell"))
        .filter(col("q_id") =!= col("neighbor_id"))
        .select(col("q_id"), col("neighbor_id"),
          cosine(col("q_emb"), col("c_emb")).as("cos")),
      k)
  }

  /** One-pass (row count, [[StoredIndex.fingerprint]] of (id, emb), max
    * vector width) of an (id, emb) frame. */
  private def corpusStats(c: DataFrame): (Long, Long, Int) = {
    val (n, fp, r) = StoredIndex.fingerprint(c, "id", "emb",
      coalesce(max(size(col("emb"))), lit(0)))
    (n, fp, r.getInt(0))
  }

  /** The IVF manifest: the [[StoredIndex]] commit log plus what
    * [[ivfBuild]] fitted — `nlist`/`dim` — and the [[ivfRefit]] state:
    * `cbv` (current codebook version), `nlist0` (the BUILT nlist),
    * `refitRows` (base rows refits relocated into batch space) and
    * `refits` (seq → split cells, the read rule of [[readRoot]]). Its
    * replay pair is authoritative: (0, 0) means exactly "no append
    * committed since the build". `log.appendedRows / log.rows`
    * (`Ivf.appendedFraction`) is the fraction of the index assigned
    * under drifted centroids — RECALL.md carries the measured
    * recall-vs-appended-fraction curve that calibrates the rebuild
    * threshold. */
  final case class IvfManifest(log: StoredIndex.CommitLog, nlist: Int, dim: Int,
                               nlist0: Int, cbv: Long = 0L, refitRows: Long = 0L,
                               refits: Seq[(Long, Seq[Int])] = Nil)
      extends StoredIndex.Manifest[IvfManifest] {
    def withLog(l: StoredIndex.CommitLog): IvfManifest = copy(log = l)
  }

  /** The IVF family of [[StoredIndex]], layout 3: base artifacts
    * `cells.parquet`, `cells_i8.parquet` and the current codebook; every
    * batch root holds both cell artifacts. */
  object Ivf extends StoredIndex[IvfManifest]("ivf", 3) {
    protected def params(m: IvfManifest): Seq[(String, Any)] =
      Seq("nlist" -> m.nlist, "dim" -> m.dim)
    override protected def trailer(m: IvfManifest): Seq[(String, Any)] =
      Seq("cbv" -> m.cbv, "nlist0" -> m.nlist0, "refit_rows" -> m.refitRows,
        "refits" -> m.refits.map { case (rs, cs) => StoredIndex.Obj("seq" -> rs, "cells" -> cs) })
    protected def decode(d: StoredIndex.Doc, l: StoredIndex.CommitLog): Option[IvfManifest] =
      for (nl <- d.int("nlist"); dim <- d.int("dim"); cbv <- d.long("cbv");
           nl0 <- d.int("nlist0"); rr <- d.long("refit_rows"))
        yield IvfManifest(l, nl, dim, nl0, cbv, rr,
          d.docs("refits").flatMap(r => r.long("seq").map(_ -> r.ints("cells"))))
    protected def baseArtifacts(m: IvfManifest): Seq[String] =
      Seq("cells.parquet", "cells_i8.parquet", codebookName(m))
    protected def batchArtifacts: Seq[String] = Seq("cells.parquet", "cells_i8.parquet")
  }

  /** ONE-ROW health report over a stored index — the operational gauge
    * the serving tier alerts on. Columns:
    *  - the shared [[StoredIndex.stats]] columns, then `nlist`/`dim`:
    *    straight off the manifest (no data scan);
    *  - `occupied_cells`, `top_share`: cell-occupancy census of the WHOLE
    *    index — `top_share` is the fraction of all indexed rows living in
    *    the `topCells` fullest cells;
    *  - `appended_occupied_cells`, `appended_top_share`: the same census
    *    over the APPENDED rows only (batch roots) — zero when nothing was
    *    appended.
    *
    * `appended_top_share` is THE distribution-shift alert, with a
    * measured basis (RECALL.md shift mode): stationary appends track the
    * base's spread (top-20 share 2.7% at the 2×10⁶ decade) while a
    * full-mean-norm shift crams the appended mass into few cells (53.6%;
    * refit restores 4.3%) — and it is the probe's nprobe/nlist
    * SCAN-FRACTION guarantee that decays, near-dup recall provably does
    * not (a query and its near-dup co-assign under any fixed codebook).
    * So the rebuild cadence keys on occupancy concentration, not on a
    * recall cliff that cannot happen; `Ivf.appendedFraction` alone
    * cannot distinguish benign growth from shift.
    *
    * Cost: one partition-column-only scan of the index (`cell` is the
    * parquet partition key, so the census reads footers, not vectors)
    * plus driver-trivial aggregation of the ≤ nlist per-cell counts —
    * an offline health check, safe to run concurrently with serving
    * (reads go through the manifest like any probe). The per-cell counts
    * are COLLECTED (≤ nlist rows — the same order as the codebook the
    * serving probe already collects) and occupied/top-share computed
    * driver-side: the earlier two-aggregate spelling pinned the counts
    * frame with a localCheckpoint that was never unpersisted, so a
    * long-lived serving session running the gauge periodically leaked
    * one pinned RDD per invocation into the block manager. */
  def ivfStats(s: SparkSession, indexDir: String, topCells: Int = 20): DataFrame = {
    val m = Ivf.load(indexDir, "ivfStats")
    require(topCells < m.nlist,
      s"ivfStats: topCells=$topCells must be < nlist=${m.nlist} — with " +
        "topCells >= nlist, top_share is identically 1.0 and the " +
        "concentration alert can never fire (pick a small fraction of nlist)")
    // (occupied cells, share of `total` rows in the topCells fullest)
    def census(cells: DataFrame, total: Long): (Long, Double) = {
      val counts = cells.groupBy("cell").agg(count(lit(1)).as("cnt"))
        .collect().map(_.getLong(1))
      val top = counts.sorted(Ordering[Long].reverse).take(topCells).sum
      (counts.length.toLong, if (total == 0) 0.0 else top.toDouble / total)
    }
    val (occ, topShare) = census(ivfCells(s, indexDir).select("cell"), m.log.rows)
    // batch-space census over LIVE rows (refit-superseded cells excluded
    // per root — same read rule as serving), so a refit visibly lowers
    // the concentration alert it exists to remedy; the denominator is
    // the live batch-space total (appends + refit-relocated rows)
    val (aOcc, aTopShare) =
      if (m.log.batches.isEmpty) (0L, 0.0)
      else census(liveCells(s, indexDir, m, "cells.parquet", batchesOnly = true)
        .select("cell"), m.log.appendedRows + m.refitRows)
    Ivf.stats(s, m, "nlist" -> m.nlist, "dim" -> m.dim, "occupied_cells" -> occ,
      "top_share" -> topShare, "appended_occupied_cells" -> aOcc,
      "appended_top_share" -> aTopShare)
  }

  /** Mutation sequence number a root was committed at: the base build is
    * 0, batch roots carry it as their id prefix (`b<seq>_`, `c<seq>_`,
    * `r<seq>_`). [[ivfRefit]]'s exclusion rule keys on it. */
  private def rootSeq(batchId: String): Long =
    if ("bcr".contains(batchId.take(1)))
      batchId.drop(1).takeWhile(_.isDigit).toLongOption.getOrElse(0L)
    else 0L

  /** Cells whose data in a root committed at `seq` is SUPERSEDED by a
    * later refit root: every refit with refitSeq > seq relocated its
    * split cells' live rows (base + all then-existing batches) into its
    * own root, so older copies must not serve. */
  private def deadCells(m: IvfManifest, seq: Long): Seq[Int] =
    m.refits.collect { case (rs, cs) if rs > seq => cs }.flatten.distinct

  /** One root's LIVE cell data: the raw scan minus refit-superseded
    * cells. The exclusion is a partition-column NOT-IN — pushed to
    * partition pruning, so a dead cell's files are never opened. */
  private def readRoot(s: SparkSession, path: String, seq: Long,
                       m: IvfManifest): DataFrame = {
    val df = s.read.parquet(path)
    val dead = deadCells(m, seq)
    if (dead.isEmpty) df else df.filter(!col("cell").isin(dead: _*))
  }

  /** The LIVE data of cell artifact `a` ("cells.parquet" /
    * "cells_i8.parquet") over the base root (unless `batchesOnly`) and
    * each root the manifest lists — a batch dir it does not list (a torn
    * append) is invisible. Each root is a complete `cell=`-partitioned
    * parquet tree, read separately and UNIONed: Spark's partition
    * inference rejects sibling partitioned roots in one read, and a
    * common `basePath` would misread `batches/<id>` as partition dirs. A
    * fresh index (no batches) stays a single plain scan. Cell pruning
    * across the union comes from the probes' STATIC cell-set filter (see
    * [[probedCellSet]]) — runtime DPP cannot reach scans under a Union. */
  private def liveCells(s: SparkSession, indexDir: String, m: IvfManifest,
                        a: String, batchesOnly: Boolean = false): DataFrame =
    liveRoots(s, indexDir, m, a, batchesOnly).reduce(_ unionByName _)

  /** [[liveCells]]'s roots, one frame each, base first. */
  private def liveRoots(s: SparkSession, indexDir: String, m: IvfManifest,
                        a: String, batchesOnly: Boolean = false): Seq[DataFrame] =
    ((if (batchesOnly) Nil else Seq((s"$indexDir/$a", 0L))) ++
      m.log.batches.map(b => (s"$indexDir/batches/$b/$a", rootSeq(b))))
      .map { case (p, sq) => readRoot(s, p, sq, m) }

  /** The CURRENT codebook artifact: the build writes `codebook.parquet`
    * (version 0); every [[ivfRefit]] stages a new
    * `codebook_v<cbv>.parquet` and flips the manifest — old versions
    * stay behind for readers that planned against the old manifest. */
  private def codebookName(m: IvfManifest): String =
    if (m.cbv == 0L) "codebook.parquet" else s"codebook_v${m.cbv}.parquet"

  /** The current codebook's centroids, in cell order, checked against the
    * manifest's nlist. */
  private def centroids(s: SparkSession, indexDir: String, m: IvfManifest,
                        what: String): Array[Array[Double]] = {
    val rows = s.read.parquet(s"$indexDir/${codebookName(m)}")
      .select("cell", "ctr").orderBy("cell").collect()
    require(rows.length == m.nlist,
      s"$what: codebook has ${rows.length} cells, manifest says ${m.nlist}")
    rows.map(_.getSeq[Double](1).toArray)
  }

  /** The stored float-cell data as ONE frame (base + committed batches) —
    * what [[ivfProbe]] serves from; exposed for inspection/tests. */
  private[graft] def ivfCells(s: SparkSession, indexDir: String): DataFrame =
    liveCells(s, indexDir, Ivf.load(indexDir, "ivfCells"), "cells.parquet")

  /** The stored int8-cell data as one frame (base + committed batches). */
  private[graft] def ivfCellsI8(s: SparkSession, indexDir: String): DataFrame =
    liveCells(s, indexDir, Ivf.load(indexDir, "ivfCellsI8"), "cells_i8.parquet")

  /** Write both cell artifacts of one root from ONE assignment pass:
    * `cells` (id, emb, cell) is clustered by cell into `parts` tasks first,
    * so each cell lands in exactly one task → one file per cell per
    * artifact (without it every shuffle task holds rows of many cells and
    * the partitioned write emits one file per (task × cell) — measured
    * 86k ~6 KB files at 2M rows, nlist=1414, which made the pruned probe
    * file-open-bound). At corpus sizes where one cell outgrows a healthy
    * file, add a within-cell salt to the repartition; pruning is
    * unaffected. (localCheckpoint blocks die with their executor: a
    * long-running cluster build should checkpoint reliably instead.) */
  private def writeCells(cells: DataFrame, parts: Int, root: String): Unit = {
    val persisted = cells.repartition(parts, col("cell")).localCheckpoint(true)
    persisted.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/cells.parquet")
    persisted
      .withColumn("scale", Embeddings.i8Scale(col("emb")))
      .withColumn("qcode",
        quantize(col("emb"), col("scale")).cast("array<tinyint>"))
      .select("id", "qcode", "scale", "cell")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/cells_i8.parquet")
  }

  /** OFFLINE index build: fit the coarse quantizer and persist the index
    * artifacts under `indexDir` —
    *  - `codebook.parquet` (cell, ctr): nlist×dim, read + broadcast at
    *    serve time;
    *  - `cells.parquet` (id, emb), PARTITIONED BY cell: the corpus
    *    bucketed by cell, so a probe with a broadcast cell set prunes
    *    the scan to the probed partitions (dynamic partition pruning —
    *    at 100 TB this is the difference between scanning nprobe/nlist
    *    of the corpus and all of it);
    *  - `cells_i8.parquet` (id, qcode, scale), PARTITIONED BY cell: the
    *    int8-quantized corpus ([[Embeddings.quantizeI8]]'s contract —
    *    per-vector scale 127/max|xᵢ|), ~4× smaller than the float cells.
    *    [[ivfProbeI8]] serves from this artifact alone: the per-vector
    *    scale cancels in cosine, so candidate scores need no float read;
    *  - `manifest.json` ([[IvfManifest]]): the corpus identity and nlist
    *    [[ivfValid]] checks; publishing it resets the batch tree
    *    ([[StoredIndex.publishBuild]]).
    * Run once per corpus snapshot (the offline-fit contract); every
    * serving batch then pays only [[ivfProbe]]/[[ivfProbeI8]]. */
  def ivfBuild(corpus: DataFrame, indexDir: String, nlist: Int,
               maxIter: Int = 5): Unit = {
    val c = corpus.toDF("id", "emb")
    val (n, fp, dim) = corpusStats(c)
    require(n > 0, "ivfBuild: empty corpus")
    val (codebook, cells) = ivfFit(c, nlist, maxIter, n)
    codebook.write.mode("overwrite").parquet(s"$indexDir/codebook.parquet")
    writeCells(cells, nlist, indexDir)
    Ivf.publishBuild(indexDir,
      IvfManifest(StoredIndex.CommitLog(n, fp), nlist, dim, nlist0 = nlist),
      c, ("id", "emb"), nlist)
  }

  /** Session-scoped count memo keyed on the canonicalized-plan digest —
    * the sizing counts in [[knn]] re-executed a derived corpus/query
    * frame's full lineage TWICE per invocation (they exist only to pick
    * a shuffle width, so staleness is impossible within a session: the
    * same logical plan re-counts to the same value for the immutable
    * file-backed frames the serving paths read). Same contract as the
    * [[StoredIndex]] validation memo: files mutating under an unchanged
    * path within one session are out of scope. */
  private val counted =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def memoCount(df: DataFrame): Long =
    counted.computeIfAbsent(StoredIndex.planKey(df), _ => df.count()).longValue()

  /** True iff a stored index under `indexDir` is complete and its manifest
    * matches exactly this corpus at this nlist — the trust check behind
    * [[ivfBuildIfAbsent]], public so callers composing their own build
    * policy (e.g. build-then-[[ivfAppend]] ingest pipelines) can test
    * validity without committing to a fit. Beyond [[StoredIndex.valid]]'s
    * completeness and identity, nlist is compared against the BUILT
    * codebook size (nlist0): [[ivfRefit]] grows the current nlist by
    * splitting hot cells, and a refit index must keep serving the caller
    * that built at the original nlist — a refit is maintenance, not a
    * different index. */
  def ivfValid(corpus: DataFrame, indexDir: String, nlist: Int): Boolean =
    Ivf.valid(indexDir, corpus.toDF("id", "emb"), ("id", "emb"), nlist)(_.nlist0 == nlist)

  /** [[ivfBuild]] unless a VALID index for exactly this corpus is already
    * present ([[ivfValid]]) — the registered query's spelling of "fit
    * offline once, probe every serving batch". Anything invalid (no
    * manifest, a manifest of another layout, a mutated or replaced
    * corpus under the same tag) triggers a rebuild rather than silently
    * serving a stale index; a deployment that
    * versions corpus snapshot paths can skip the check entirely by
    * calling [[ivfBuild]] exactly once per snapshot. */
  def ivfBuildIfAbsent(corpus: DataFrame, indexDir: String, nlist: Int): Unit =
    if (!ivfValid(corpus, indexDir, nlist)) ivfBuild(corpus, indexDir, nlist)

  /** INCREMENTAL index maintenance: assign a batch of NEW vectors with the
    * STORED codebook and append them to both cell artifacts — no refit, no
    * rewrite of the already-indexed corpus. This is the growing-corpus
    * serving regime: at 100 TB a coarse-quantizer refit plus a full
    * re-partitioned corpus rewrite per ingest batch is prohibitive (the
    * measured 2×10⁷ build is 290.6 s, RECALL.md, and the rewrite is
    * corpus-sized IO), while an append pays only the batch's one
    * assignment pass (the same native [[graft.expressions.ArgMinDistSq]]
    * codegen the build uses) plus the batch's own bytes. Centroids drift
    * from the union's true k-means as batches accumulate, and the drift
    * cost is MEASURED (RECALL.md, recall drift under appends): up to an
    * appended fraction of 0.5 on same-distribution ingest, near-dup
    * recall@5 stays 1.000 at every installment and equals the
    * full-rebuild ceiling — cells get less tight, never wrong (the cell
    * is a blocking key; the probe ranks exactly). The DISTRIBUTION-SHIFT
    * case is measured too (shift mode, RECALL.md): a full mean-norm of
    * shift still leaves near-dup recall at 1.000 (a query and its
    * near-duplicate co-assign under ANY fixed codebook), but crams the
    * appended mass into few cells — top-20-cell share 53.6% vs 2.7%
    * stationary at the 2×10⁶ decade — so the nprobe/nlist scan-fraction
    * guarantee, not recall, is what decays; the refit restores it
    * (4.3%). The manifest's `appendedRows` fraction
    * (`Ivf.appendedFraction`) is the alert signal; the deployment
    * contract is [[ivfCompact]] for file-count growth and a
    * re-[[ivfBuild]] on distribution shift (for probe cost), not a
    * rebuild on fraction alone.
    *
    * Each append lands ≤1 file per cell per artifact in its OWN root
    * `batches/<id>/` ([[writeCells]]); files-per-cell grows by one per
    * batch until [[ivfCompact]] folds them. The commit follows the
    * [[StoredIndex]] append rule (additive fingerprint, replay pair,
    * stage → promote → CAS commit); SimilaritySpec kills a simulated
    * append at both seams and pins that the old index keeps serving. */
  def ivfAppend(batch: DataFrame, indexDir: String): Unit =
    Ivf.publish(indexDir, ivfAppendStage(batch, indexDir))

  /** Append phase 1 — STAGE: assign the batch with the stored codebook
    * and write its cell files under `_staging/<batchId>/` (overwrite —
    * retry-safe). None for an empty batch or a replay
    * ([[StoredIndex.stage]]). Package-private so the torn-append specs can
    * crash between phases. */
  private[graft] def ivfAppendStage(batch: DataFrame, indexDir: String)
      : Option[(IvfManifest, String, Long, Long)] = {
    val b = batch.toDF("id", "emb")
    val m = Ivf.load(indexDir, "ivfAppend")
    val (bn, bfp, bdim) = corpusStats(b)
    Ivf.stage(indexDir, m, bn, bfp) { staging =>
      require(bdim == m.dim,
        s"ivfAppend: batch vector width $bdim != index dim ${m.dim}")
      val ctrs = centroids(b.sparkSession, indexDir, m, "ivfAppend")
      writeCells(b.select(col("id"), col("emb"),
        argMinDistSq(col("emb"), ctrs).getField("j").as("cell")), m.nlist, staging)
    }
  }

  /** FOLD the committed append batches into ONE batch root
    * ([[StoredIndex.compact]]: stage → promote → CAS commit, row-count
    * read-back, deferred sweep, commit-log identity unchanged). Under
    * streaming ingest ([[graft.streaming.IvfIngest]] — one append per
    * micro-batch forever) the serving read is a UNION of per-root scans
    * (static cell-set pruning, no DPP under a Union — [[liveCells]]) and
    * each probed cell opens one file per root; the fold caps serving at
    * TWO roots (base + compacted) and never touches the base, so its IO
    * is O(appended bytes), not O(corpus). (COMPACT.md carries the
    * measured file-count and probe-wall deltas.) `appendedRows`
    * deliberately survives: those rows were assigned under never-refit
    * centroids, and compaction moves bytes, not cell boundaries — the
    * staleness alert (`Ivf.appendedFraction`) must keep firing.
    *
    * IVF-only parts. The fold reads LIVE rows (a pre-refit root's split
    * cells are superseded) and must reproduce `appendedRows + refitRows`
    * of them. The re-cluster is SIZE-AWARE (see the inline census note;
    * COMPACT.md carries the shifted-index measurement). The fold reads
    * only the current layout, so the replay pair it carries through is
    * the one the last append wrote — (0, 0) included (SimilaritySpec
    * pins it); a manifest of another layout throws like a missing one. */
  def ivfCompact(s: SparkSession, indexDir: String): Unit =
    Ivf.compact(s, indexDir, "ivfCompact") { (m, staging) =>
      def foldRead(a: String) = liveCells(s, indexDir, m, a, batchesOnly = true)
      val expectRows = m.log.appendedRows + m.refitRows
      // SIZE-AWARE RE-CLUSTER (hot-cell task/file split): the fold hashes
      // cells into tasks so each cell lands in ONE task → one file per cell
      // per artifact (the writeCells layout rule) — the right layout while
      // the appended mass tracks the base's spread, but a
      // DISTRIBUTION-SHIFTED index crams most appended rows into few cells
      // (measured 53.6% top-20 share, RECALL.md shift mode), making those
      // cells single giant tasks to compact and single giant files to
      // probe. So cells holding more than 4× the mean appended load are
      // SALTED across ceil(cnt / 4·mean) subtasks — max task input is
      // bounded at ~4× the mean cell load between rebuilds, and a hot
      // cell's partition dir simply holds several files (dir-level cell
      // pruning unaffected). A stationary index has no cell past the cap
      // and keeps the exact one-file-per-cell layout. The census costs one
      // partition-column-only pass over the batch roots (footer reads —
      // the ivfStats economics); the split map is at most nlist/4
      // entries, broadcast.
      val capRows = 4L * math.max(1L, expectRows / m.nlist)
      val splits: Map[Int, Long] = foldRead("cells.parquet").groupBy("cell")
        .agg(count(lit(1)).as("cnt")).collect()
        .collect { case r if r.getLong(1) > capRows =>
          r.getInt(0) -> (r.getLong(1) + capRows - 1) / capRows }
        .toMap
      val extraTasks = splits.valuesIterator.map(_ - 1).sum
      for (a <- Seq("cells.parquet", "cells_i8.parquet")) {
        val u = foldRead(a)
        val clustered =
          if (splits.isEmpty) u.repartition(m.nlist, col("cell"))
          else {
            import s.implicits._
            val sdf = broadcast(splits.toSeq.toDF("cell", "__nsplit"))
            u.join(sdf, Seq("cell"), "left")
              .withColumn("__salt", when(col("__nsplit").isNull, lit(0L))
                .otherwise(pmod(xxhash64(col("id")), col("__nsplit"))))
              .repartition((m.nlist + extraTasks).toInt, col("cell"), col("__salt"))
              .drop("__nsplit", "__salt")
          }
        clustered.write.mode("overwrite").partitionBy("cell").parquet(s"$staging/$a")
      }
      ("cells.parquet", expectRows)
    }

  /** HOT-CELL PARTIAL REFIT — restore the probe's nprobe/nlist
    * scan-fraction economics at O(hot cells) cost, not O(corpus).
    *
    * The problem it closes (RECALL.md shift mode): distribution-shifted
    * ingest crams the appended mass into few cells (measured top-20
    * share 53.6% vs 2.7% stationary at the 2×10⁶ decade). Near-dup
    * recall provably survives (a query and its near-dup co-assign under
    * ANY fixed codebook), but a probe that ranks a hot cell scans that
    * cell's whole population — the scan-fraction guarantee decays, and
    * before this operator the only remedy was a full O(corpus)
    * [[ivfBuild]] (290.6 s at 2×10⁷, RECALL.md).
    *
    * The refit: census LIVE occupancy (partition-column scan), take the
    * cells holding more than `capFactor`× the mean index load (at most
    * `maxSplit` per invocation, fullest first), and for each — fit a
    * LOCAL 2-means on the cell's own rows (hash-sampled to
    * [[fitSampleSize]](2) rows, the build's sampling rule), REPLACE the
    * cell's centroid with one child and APPEND the other as a fresh cell
    * id. The split cells' live rows (base + every batch root) are
    * reassigned between the two children — one bounded argmin pass over
    * O(hot rows) — and land in a new refit root `batches/r<seq>_…`; the
    * new codebook is staged as `codebook_v<cbv+1>.parquet`. Everything
    * is invisible until the one CAS manifest commit flips {nlist, cbv,
    * batches, refits} together.
    *
    * READ RULE after a refit (enforced in [[readRoot]] via the
    * manifest's `refits` list): a root committed BEFORE the refit
    * excludes the split cells — their live copies moved to the refit
    * root — while roots committed after (appends assigned under the NEW
    * codebook, later refit/compact roots) serve all their cells. The
    * exclusion is a partition-column NOT-IN, so pruning still never
    * opens a dead cell's files. [[ivfCompact]] folds refit roots like
    * any batch root (its row guard accounts the relocated base rows via
    * `refitRows`), and folded roots carry a seq ≥ the refit's, so the
    * fold is exclusion-clean.
    *
    * WHAT A REFIT PRESERVES: the row multiset — ids and vectors are
    * untouched, only cell labels change — so `rows`/`fingerprint` (and
    * [[ivfValid]] of the same corpus at the BUILT nlist) are unchanged.
    * `appendedRows` deliberately survives: drift-of-centroids is a
    * property of rows assigned off-build, and only a rebuild refits them
    * globally — the refit narrows the hot cells without resetting the
    * staleness gauge. Assignment becomes HIERARCHICAL rather than a
    * global argmin (unsplit cells' rows are not revisited, so a new
    * child centroid never "steals" a neighboring cell's rows) — for an
    * IVF the cell is a blocking key and the probe ranks exactly, so
    * this trades at most ANN recall at the margin, measured in
    * SimilaritySpec against planted near-dups.
    *
    * CRASH RECOVERY: the [[StoredIndex]] stage → promote → CAS-commit
    * protocol, with a deterministic refit id from the manifest state.
    * Old codebook versions are left behind for readers that planned
    * against the old manifest (the reader grace period).
    *
    * @return the number of cells split (0 = no cell past the cap; the
    *         index is untouched). */
  def ivfRefit(s: SparkSession, indexDir: String, capFactor: Double = 4.0,
               maxSplit: Int = 16): Int = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import s.implicits._
    val m = Ivf.load(indexDir, "ivfRefit")
    require(capFactor > 0 && maxSplit > 0,
      s"ivfRefit: capFactor=$capFactor and maxSplit=$maxSplit must be > 0")
    // live-occupancy census: partition-column-only scan (footer reads,
    // the ivfStats economics), ≤ nlist rows collected
    val counts: Map[Int, Long] = liveCells(s, indexDir, m, "cells.parquet").groupBy("cell")
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cap = (capFactor * math.max(1L, m.log.rows / math.max(1, m.nlist))).toLong
    val hot: Seq[Int] = counts.toSeq.filter(_._2 > cap)
      .sortBy { case (c, n) => (-n, c) }.take(maxSplit).map(_._1)
    if (hot.isEmpty) {
      log.info(s"ivfRefit: no cell above ${cap} rows under $indexDir — no-op")
      return 0
    }
    val cbCtrs = centroids(s, indexDir, m, "ivfRefit")
    val roots = liveRoots(s, indexDir, m, "cells.parquet")
    val live = roots.reduce(_ unionByName _).select("id", "emb", "cell")
    val target = fitSampleSize(2)
    val M = 1L << 40
    // per hot cell: sample-fit a 2-means on the cell's own rows. A cell
    // of exact duplicates (the canonical hot-cell cause in near-dup
    // corpora) has <2 distinct vectors, and Spark ML's KMeans then
    // returns fewer than k centers (or two identical ones) — such a cell
    // is UNSPLITTABLE by geometry: skip it (logged) rather than throw,
    // so the O(hot-cells) remedy stays usable on the remaining cells.
    val fits: Seq[(Int, Array[Array[Double]])] = hot.flatMap { c =>
      // k-means|| seeds its centers per input partition, so the fit reads
      // the cell with each root's own partitions, as an RDD union. A SQL
      // union of one-split roots plans as ONE partition (UnionExec keeps
      // its children's equal SinglePartition), which would move the
      // fitted centers with the planner.
      val perRoot = roots.map(_.filter(col("cell") === c).select("id", "emb"))
      val rowsC = s.createDataFrame(
        s.sparkContext.union(perRoot.map(_.rdd)), perRoot.head.schema)
      val nC = counts(c)
      val fitBase =
        if (nC <= target) rowsC
        else rowsC.filter(pmod(xxhash64(col("id")), lit(M)) <
          lit(math.min(M, math.ceil(1.2 * target.toDouble / nC * M).toLong)))
      val ctrs: Array[Array[Double]] = new KMeans().setK(2).setSeed(42)
        .setMaxIter(5).setFeaturesCol("__fv").setPredictionCol("__p")
        .fit(fitBase.withColumn("__fv",
          array_to_vector(col("emb").cast("array<double>"))))
        .clusterCenters.map(_.toArray)
      if (ctrs.length < 2 || ctrs(0).sameElements(ctrs(1))) {
        log.warn(s"ivfRefit: cell $c ($nC rows) is unsplittable — the " +
          s"2-means fit found ${ctrs.length} distinct center(s) (an " +
          "exact-duplicate clump); leaving it intact")
        None
      } else Some(c -> ctrs)
    }
    val split: Seq[Int] = fits.map(_._1)
    if (split.isEmpty) {
      log.info(s"ivfRefit: every hot cell under $indexDir is an " +
        "unsplittable duplicate clump — no-op")
      return 0
    }
    val hotRows = split.map(counts).sum
    val newCtrs = scala.collection.mutable.ArrayBuffer.from(cbCtrs)
    // one bounded argmin pass relabels each split cell's rows between
    // (old id, fresh id)
    val pieces = fits.zipWithIndex.map { case ((c, two), i) =>
      val newId = m.nlist + i
      newCtrs(c) = two(0)
      newCtrs += two(1)
      live.filter(col("cell") === c).select(col("id"), col("emb"),
        when(argMinDistSq(col("emb"), two).getField("j") === 0, lit(c))
          .otherwise(lit(newId)).as("cell"))
    }
    val refitId = f"r${m.log.seq + 1}%04d_${hotRows}_${StoredIndex.hex(m.log.fingerprint)}"
    val staging = Ivf.stagingDir(indexDir, refitId)
    // one task per output cell: a split cell's children land as one file each
    writeCells(pieces.reduce(_ unionByName _), 2 * split.size, staging)
    val staged = s.read.parquet(s"$staging/cells.parquet").count()
    require(staged == hotRows,
      s"ivfRefit: staged $staged rows but the census counted $hotRows " +
        s"live in the split cells — data under $indexDir moved during " +
        "the refit; not committing")
    // stage the grown codebook as a SIBLING of the batch staging dir —
    // never at its final versioned path: writing codebook_v<cbv+1>
    // directly would let a stale retry (one that already lost the CAS to
    // another refit) overwrite the winner's committed codebook while the
    // winner's cell labels stay live — a silent centroid/label mismatch.
    // The staged file moves to its final name in the promote step below,
    // which refuses to replace a COMMITTED version.
    val cbStagingPath = Ivf.stagingDir(indexDir, s"${refitId}_codebook.parquet")
    newCtrs.toSeq.zipWithIndex.map { case (ctr, j) => (j, ctr) }
      .toDF("cell", "ctr").coalesce(1)
      .write.mode("overwrite")
      .parquet(cbStagingPath)
    // rows newly relocated OUT of the base root (for ivfCompact's
    // row-count guard): hot cells not already dead in the base
    val alreadyDead = deadCells(m, 0L).toSet
    val newFromBase = split.filterNot(alreadyDead)
    val baseHotLive =
      if (newFromBase.isEmpty) 0L
      else s.read.parquet(s"$indexDir/cells.parquet")
        .filter(col("cell").isin(newFromBase: _*)).count()
    // PROMOTE the codebook: a leftover target is replaceable only if it
    // was never committed. If the LIVE manifest already references
    // cbv+1, a racing refit won — abort before touching its file (our
    // own CAS below would lose anyway).
    val cbTarget = java.nio.file.Paths.get(
      s"$indexDir/codebook_v${m.cbv + 1}.parquet")
    if (java.nio.file.Files.exists(cbTarget)) {
      require(Ivf.read(indexDir).forall(_.cbv <= m.cbv),
        s"ivfRefit: codebook v${m.cbv + 1} under $indexDir is already " +
          "COMMITTED by a racing refit — retry against the fresh manifest")
      rmTree(cbTarget.toFile) // torn leftover of a crashed attempt
    }
    java.nio.file.Files.move(
      java.nio.file.Paths.get(cbStagingPath), cbTarget)
    Ivf.promote(indexDir, refitId)
    Ivf.commit(indexDir, m, m.copy(
      log = m.log.copy(batches = m.log.batches :+ refitId, seq = m.log.seq + 1),
      nlist = m.nlist + split.size,
      cbv = m.cbv + 1,
      refitRows = m.refitRows + baseHotLive,
      refits = m.refits :+ ((m.log.seq + 1) -> split)),
      token = refitId)
    log.info(s"ivfRefit: split ${split.size} hot cells ($hotRows rows, " +
      s"cap $cap) into $refitId under $indexDir — nlist ${m.nlist} -> " +
      s"${m.nlist + split.size}")
    split.size
  }

  /** ONLINE probe against a stored index: read + broadcast the codebook,
    * rank each query's nprobe nearest cells, scan ONLY those cells'
    * members (partition-pruned read of `cells.parquet`), exact cosine +
    * bounded top-k on the candidates. Output shape matches [[knn]]. */
  def ivfProbe(s: SparkSession, indexDir: String, queries: DataFrame,
               k: Int, nprobe: Int): DataFrame = {
    val m = Ivf.load(indexDir, "ivfProbe")
    val codebook = s.read.parquet(s"$indexDir/${codebookName(m)}")
    val cells = liveCells(s, indexDir, m, "cells.parquet")
      .select(col("id"), col("emb"), col("cell"))
    ivfRank(cells, codebook, queries, k, nprobe)
  }

  /** ONLINE probe from the int8 index artifact alone — the 4×-less-IO
    * serving tier ([[ivfBuild]] stores `cells_i8.parquet` next to the
    * float cells): rank cells per query against the broadcast float
    * codebook, prune the `cells_i8` scan to the probed partitions (same
    * DPP shape as [[ivfProbe]], reading int8 codes instead of doubles),
    * and rank candidates by cosine(full-precision query, stored codes)
    * in the SAME scan. The per-vector corpus scale cancels in cosine, so
    * the stored codes alone score to within the corpus's own
    * quantization error (~1e-3 in cos) of the float path — no float-cell
    * read anywhere, and the score is a per-row codegen'd fold, as
    * reproducible as any column expression.
    *
    * Deliberately ONE stage: a quantize-the-query coarse pass feeding an
    * exact rescore of the top k·r was measured SLOWER end-to-end (6.25 s
    * vs 4.85 s at 2M vectors, local[32]) — under whole-stage codegen an
    * int-valued double fold costs the same as a float one, so the
    * two-stage split pays a second pruned scan and an extra shuffle for
    * nothing. The artifact (not the arithmetic) is where the int8 win
    * lives: 4× fewer index bytes read per probe, which at 100 TB is the
    * serving bottleneck. Output shape matches [[knn]]. */
  def ivfProbeI8(s: SparkSession, indexDir: String, queries: DataFrame,
                 k: Int, nprobe: Int): DataFrame = {
    val m = Ivf.load(indexDir, "ivfProbeI8")
    val codebook = s.read.parquet(s"$indexDir/${codebookName(m)}")
    val codes = liveCells(s, indexDir, m, "cells_i8.parquet")
      .select(col("id").as("neighbor_id"), col("qcode").as("c_code"), col("cell"))
    val qd = queries.toDF("q_id", "q_emb")
      .select(col("q_id"), col("q_emb").cast("array<double>").as("q_emb"))
    val probed = probeCells(qd, codebook, nprobe)
    rankTopK(
      codes.filter(col("cell").isin(probedCellSet(probed): _*))
        .join(broadcast(probed), Seq("cell"))
        .filter(col("q_id") =!= col("neighbor_id"))
        .select(col("q_id"), col("neighbor_id"),
          cosine(col("q_emb"), col("c_code").cast("array<double>")).as("cos")),
      k)
  }

  /** Session-scoped index location for a dataset tag
    * ([[StoredIndex.dirFor]], `ivf_` namespace). */
  def ivfIndexDir(s: SparkSession, tag: String): String = Ivf.dirFor(s, tag)

  /** Self-contained IVF approximate top-k (fit + probe in one plan, no
    * persisted artifacts) — the parameter-sweep form of RECALL.md's curves;
    * production serving uses [[ivfBuild]]/[[ivfProbe]]. Identical output
    * to building then probing the same corpus (SimilaritySpec pins the
    * round-trip; both paths share [[ivfFit]] incl. its deterministic
    * sample). */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    val c = corpus.toDF("id", "emb")
    val (codebook, cells) = ivfFit(c, nlist, maxIter = 5, n = c.count())
    ivfRank(cells.select("id", "emb", "cell"), codebook, queries, k, nprobe)
  }

  /** Approximate top-k via multi-table hyperplane LSH. Same output shape as
    * [[knn]]; recall grows with `tables` and shrinks with `bits` (see
    * SimilaritySpec for the measured trade-off). */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             tables: Int = 8, bits: Int = 8, dim: Int = 64): DataFrame = {
    val ps = planes(tables, bits, dim)
    // One native expression computes every table's bucket id (array<int>,
    // element t = table t): the earlier column-composed spelling inlined
    // tables×bits literal plane arrays (4096 Literal nodes at defaults)
    // into the plan, and re-optimizing that tree was a fixed driver-side
    // cost per serving batch — measured as ~0.4 s of sim_knn_lsh's bench
    // wall at sf0.1. Bucket semantics are bit-identical (SimilaritySpec
    // pins native ≡ literal spelling).
    def bucketed(df: DataFrame): DataFrame = df
      .select(col("id"), posexplode(lshBuckets(col("emb"), ps, bits)))
      .toDF("id", "t", "b")

    val c = corpus.toDF("id", "emb")
    val q = queries.toDF("id", "emb")
    // widen ONLY the bucket-computation branch: that's where the heavy
    // per-row work lives (tables×bits hyperplane dot products per corpus
    // row). The final cosine join consumes the corpus a second time, but
    // through its own hash exchange on neighbor_id — which already
    // spreads the (cheap-per-row) emb projection across the cluster — so
    // widening the whole frame paid the round-robin shuffle twice, one
    // copy per plan branch (measured as sim_knn_lsh's +57% bench drift
    // in round 7, the only row outside the uniform band).
    val cand = bucketed(widen(c)).toDF("neighbor_id", "ct", "cb")
      .join(broadcast(bucketed(q).toDF("q_id", "t", "b")),
        col("ct") === col("t") && col("cb") === col("b") && col("q_id") =!= col("neighbor_id"))
      .select("q_id", "neighbor_id").distinct()
    rankTopK(
      cand
        .join(q.toDF("q_id", "q_emb"), "q_id")
        .join(c.toDF("neighbor_id", "c_emb"), "neighbor_id")
        .select(col("q_id"), col("neighbor_id"),
          cosine(col("q_emb"), col("c_emb")).as("cos")),
      k)
  }
}
