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
  * is pruned to nprobe/nlist of the data (see KnnScaleBench for the
  * measured exact-vs-probe crossover).
  */
object Similarity {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Deterministic Gaussian hyperplanes (fixed seed — identical across
    * sessions/executors). */
  private[graft] def planes(tables: Int, bits: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(tables * bits)(Array.fill(dim)(rnd.nextGaussian()))
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

  /** One-pass corpus statistics for the index manifest: (row count,
    * content fingerprint, max vector width). The fingerprint is the
    * WRAPAROUND SUM (mod 2⁶⁴) of `xxhash64(id, emb)` — order-independent
    * (sum is commutative) but, unlike the original bit_xor spelling,
    * multiplicity-sensitive: XOR cancels pairwise, so two corpora that
    * differ only in even-multiplicity duplicated rows shared a
    * fingerprint and could silently serve each other's index.
    *
    * Spelled as FOUR 16-bit LIMB SUMS over plain longs, recombined with
    * Java wraparound `+`/`<<` on the driver — exactly the low 64 bits of
    * the true sum, with no decimal aggregation anywhere (the previous
    * decimal(38,0) spelling was measured as a 2.1× regression on the
    * probe path: decimal sum buffers are object-heavy vs a codegen'd
    * long add). Each limb is ≤ 2¹⁶−1, so the per-limb long sum is
    * ANSI-overflow-safe to ~1.4e14 rows — far past any corpus this
    * manifest guards. */
  private def corpusStats(c: DataFrame): (Long, Long, Int) = {
    val h = xxhash64(col("id"), col("emb"))
    def limb(i: Int): Column =
      coalesce(sum(shiftrightunsigned(h, 16 * i).bitwiseAND(lit(0xFFFFL))), lit(0L))
    val r = c.agg(count(lit(1)), limb(0), limb(1), limb(2), limb(3),
      coalesce(max(size(col("emb"))), lit(0))).head()
    val fp = r.getLong(1) + (r.getLong(2) << 16) +
      (r.getLong(3) << 32) + (r.getLong(4) << 48)
    (r.getLong(0), fp, r.getInt(5))
  }

  /** Fingerprint ALGORITHM version stamped into the manifest: 1 was the
    * original bit_xor, 2 is the multiplicity-sensitive wraparound sum.
    * An index whose manifest carries a different (or absent → 1) version
    * is rebuilt EXPLICITLY for that reason, rather than the algorithm
    * change masquerading as corpus drift. */
  private[operators] val FingerprintVersion = 2

  /** The stored-index manifest: what [[ivfBuild]] indexed, plus every
    * [[ivfAppend]] batch committed since. Validated by
    * [[ivfBuildIfAbsent]] before an existing index is trusted. `fpv` is
    * the fingerprint-algorithm version (absent in pre-versioning
    * manifests → 1).
    *
    * `appendedRows`/`batches` are the STALENESS SIGNAL: the build stamps
    * both empty, every commit adds the batch additively, and
    * `appendedRows / rows` ([[ivfAppendedFraction]]) is the fraction of
    * the index assigned under drifted centroids — the quantity a
    * deployment alerts on to schedule the periodic re-[[ivfBuild]]
    * (RECALL.md carries the measured recall-vs-appended-fraction curve
    * that calibrates the threshold).
    *
    * The manifest is ALSO the reader's commit log: serving reads the base
    * cell artifacts plus exactly the `batches` listed here, so data that
    * reached the directory without its manifest update (a torn append)
    * is invisible — see [[ivfAppend]]'s crash-recovery contract.
    *
    * `seq` counts appends ever committed since the build (monotone — it
    * survives [[ivfCompact]], unlike `batches.size`, so batch ids never
    * collide across a compaction). `lastRows`/`lastFp` are the last
    * committed append batch's row count and content fingerprint — the
    * REPLAY-DETECTION pair ([[ivfAppendStage]]): both survive compaction
    * too, so a streaming replay that straddles a compact is still caught.
    * (0, 0) means "no append since build" (an empty batch never commits,
    * so a real batch always has rows > 0). */
  final case class IvfManifest(rows: Long, fingerprint: Long, nlist: Int,
                               dim: Int, fpv: Int = 1,
                               appendedRows: Long = 0L,
                               batches: Seq[String] = Nil,
                               seq: Long = 0L,
                               lastRows: Long = 0L,
                               lastFp: Long = 0L,
                               mv: Int = 1,
                               mseq: Long = 0L,
                               cbv: Long = 0L,
                               nlist0: Int = 0,
                               refitRows: Long = 0L,
                               refits: Seq[(Long, Seq[Int])] = Nil)

  /** Manifest LAYOUT version. v1 = everything before the explicit field
    * (including manifests that already carry last_rows/last_fp); v2 =
    * the (lastRows, lastFp) replay pair is AUTHORITATIVE, where (0, 0)
    * means exactly "no append committed since the build". The field
    * exists because [[ivfCompact]]'s legacy-manifest backfill used to
    * key on the `lastRows == 0` sentinel, which conflates "pre-upgrade
    * manifest" with "last batch was empty" — unreachable today (an
    * empty batch never commits) but one refactor away from wrong. `mv`
    * is read-side state: [[writeManifest]] always stamps the CURRENT
    * version (every write emits the full current layout), so any
    * manifest mutation upgrades it. */
  private[graft] val ManifestVersion = 2

  private def manifestPath(indexDir: String) =
    java.nio.file.Paths.get(indexDir, "manifest.json")

  /** ATOMIC manifest replace (write sibling tmp, rename over): the
    * manifest is the index's commit point — a reader (or a crash) must
    * see either the old complete manifest or the new one, never a torn
    * write. POSIX/HDFS rename gives exactly that; an object-store
    * deployment fronts the manifest with its store's conditional-put. */
  private def writeManifest(indexDir: String, m: IvfManifest): Unit = {
    val batchesJson = m.batches.map("\"" + _ + "\"").mkString("[", ",", "]")
    val refitsJson = m.refits
      .map { case (rs, cs) => s"""{"seq":$rs,"cells":[${cs.mkString(",")}]}""" }
      .mkString("[", ",", "]")
    val json = s"""{"rows":${m.rows},"fingerprint":${m.fingerprint},""" +
      s""""nlist":${m.nlist},"dim":${m.dim},"fpv":${m.fpv},""" +
      s""""mv":$ManifestVersion,"mseq":${m.mseq},""" +
      s""""appended_rows":${m.appendedRows},"seq":${m.seq},""" +
      s""""last_rows":${m.lastRows},"last_fp":${m.lastFp},""" +
      s""""cbv":${m.cbv},"nlist0":${m.nlist0},""" +
      s""""refit_rows":${m.refitRows},"refits":$refitsJson,""" +
      s""""batches":$batchesJson}"""
    val p = manifestPath(indexDir)
    java.nio.file.Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling("manifest.json.tmp")
    java.nio.file.Files.write(tmp, json.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** CHECKED manifest replace — turns the single-writer contract into an
    * enforced one. The manifest read-modify-write is not atomic ACROSS
    * writers; before this guard, two racing appends could both commit and
    * one batch's manifest delta was silently lost (after which
    * [[ivfValid]] of the true union fails closed into a rebuild —
    * correct, but an O(corpus) fit paid for a coordination bug). The CAS:
    * every mutation claims a sequencer file `_commits/m<mseq+1>` with
    * CREATE_NEW — the filesystem's atomic create-if-absent — whose
    * content is the mutation's deterministic token (batch/compact id).
    * Exactly one writer per mseq can create it; the loser gets
    * FileAlreadyExistsException and FAILS LOUDLY with the winner's token,
    * its staged (uncommitted, invisible) data intact for a retry against
    * the fresh manifest. A crash BETWEEN claim and manifest write is
    * recovered by the token match: the same mutation retried re-reads the
    * old manifest, claims the same mseq, finds its OWN token, and
    * proceeds to the manifest write (idempotent — stage dirs are
    * overwrite-by-id). [[ivfBuild]] resets the sequencer tree with the
    * rest of the index. POSIX/HDFS give CREATE_NEW exactly-once; an
    * object-store deployment maps this to its conditional-put. */
  private def casWriteManifest(indexDir: String, expected: IvfManifest,
                               next: IvfManifest, token: String): Unit = {
    val marker = java.nio.file.Paths.get(
      indexDir, "_commits", s"m${expected.mseq + 1}")
    java.nio.file.Files.createDirectories(marker.getParent)
    try {
      java.nio.file.Files.write(marker, token.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      ()
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val winner = new String(
          java.nio.file.Files.readAllBytes(marker), "UTF-8")
        if (winner != token)
          throw new IllegalStateException(
            s"ivf manifest CAS lost: commit seq ${expected.mseq + 1} under " +
              s"$indexDir was already claimed by '$winner' (this writer: " +
              s"'$token') — concurrent mutation detected; re-read the " +
              "manifest and retry this mutation against the fresh state")
      // winner == token: our own crashed attempt — fall through and
      // (re-)publish the manifest, UNLESS the original commit actually
      // succeeded and a LATER mutation has since committed: replaying a
      // stale internal commit would then rewrite the manifest with
      // old-based content (mseq regresses), silently erasing the later
      // commit. The guard re-reads the live manifest; at-or-past our
      // target mseq means our publish (and possibly more) already
      // landed, so the replay is a no-op.
    }
    readManifest(indexDir).filter(_.mseq > expected.mseq) match {
      case Some(cur) =>
        log.info(s"ivf manifest CAS: commit seq ${expected.mseq + 1} under " +
          s"$indexDir already published (live mseq ${cur.mseq}) — " +
          "idempotent replay, not rewriting")
      case None =>
        writeManifest(indexDir, next.copy(mseq = expected.mseq + 1))
    }
  }

  private[graft] def readManifest(indexDir: String): Option[IvfManifest] = {
    val p = manifestPath(indexDir)
    if (!java.nio.file.Files.exists(p)) None
    else {
      val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      // f() finds the FIRST occurrence of `"k":<int>` — safe because
      // writeManifest emits every top-level numeric field BEFORE the
      // `refits` array (whose entries also carry a "seq" key)
      def f(k: String) = s""""$k":(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1))
      val batches = """"batches":\[([^\]]*)\]""".r.findFirstMatchIn(s)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      // refit entries are the only `{"seq":N,"cells":[...]}` shapes in the
      // document, so a global scan is unambiguous
      val refits = """\{"seq":(\d+),"cells":\[([^\]]*)\]\}""".r
        .findAllMatchIn(s).map { mm =>
          (mm.group(1).toLong,
            mm.group(2).split(",").map(_.trim).filter(_.nonEmpty)
              .map(_.toInt).toSeq)
        }.toSeq
      for (r <- f("rows"); fp <- f("fingerprint"); nl <- f("nlist"); d <- f("dim"))
        yield IvfManifest(r.toLong, fp.toLong, nl.toInt, d.toInt,
          f("fpv").map(_.toInt).getOrElse(1),
          f("appended_rows").map(_.toLong).getOrElse(0L), batches,
          // pre-`seq` manifests never compacted, so batches.size IS the
          // append count; absent last_* fields fall back to the legacy
          // batch-id-suffix replay check (see ivfAppendStage)
          f("seq").map(_.toLong).getOrElse(batches.size.toLong),
          f("last_rows").map(_.toLong).getOrElse(0L),
          f("last_fp").map(_.toLong).getOrElse(0L),
          f("mv").map(_.toInt).getOrElse(1),
          // pre-CAS manifests: seed the sequencer at the append count
          // (seq, falling back to batches.size exactly like seq itself
          // does) — a mixed-era dir whose appends already claimed
          // markers m1..mN must not re-claim them, and a wholly legacy
          // dir has no sequencer tree at all, so any seed is safe there
          f("mseq").map(_.toLong)
            .orElse(f("seq").map(_.toLong))
            .getOrElse(batches.size.toLong),
          f("cbv").map(_.toLong).getOrElse(0L),
          f("nlist0").map(_.toInt).getOrElse(0),
          f("refit_rows").map(_.toLong).getOrElse(0L),
          refits)
    }
  }

  /** Fraction of the stored index that was [[ivfAppend]]ed after the last
    * full [[ivfBuild]] — the reindex-cadence alert signal (None when no
    * readable manifest). Deployments compare it against the RECALL.md
    * drift curve's budget and re-build past their threshold. */
  def ivfAppendedFraction(indexDir: String): Option[Double] =
    readManifest(indexDir).map(m =>
      if (m.rows == 0) 0.0 else m.appendedRows.toDouble / m.rows)

  /** ONE-ROW health report over a stored index — the operational gauge
    * the serving tier alerts on. Columns:
    *  - `rows`/`appended_rows`/`appended_fraction`/`batch_roots`/`nlist`/
    *    `dim`: straight off the manifest (no data scan);
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
    * recall cliff that cannot happen; [[ivfAppendedFraction]] alone
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
    import s.implicits._
    val m = readManifest(indexDir).getOrElse(sys.error(
      s"ivfStats: no readable manifest under $indexDir"))
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
    val (occ, topShare) = census(ivfCells(s, indexDir).select("cell"), m.rows)
    // batch-space census over LIVE rows (refit-superseded cells excluded
    // per root — same read rule as serving), so a refit visibly lowers
    // the concentration alert it exists to remedy; the denominator is
    // the live batch-space total (appends + refit-relocated rows)
    val (aOcc, aTopShare) =
      if (m.batches.isEmpty) (0L, 0.0)
      else census(
        m.batches.map(b =>
            readRoot(s, s"$indexDir/batches/$b/cells.parquet", rootSeq(b), m))
          .reduce(_ unionByName _).select("cell"),
        m.appendedRows + m.refitRows)
    Seq((m.rows, m.appendedRows,
        if (m.rows == 0) 0.0 else m.appendedRows.toDouble / m.rows,
        m.batches.size, m.nlist, m.dim, occ, topShare, aOcc, aTopShare))
      .toDF("rows", "appended_rows", "appended_fraction", "batch_roots",
        "nlist", "dim", "occupied_cells", "top_share",
        "appended_occupied_cells", "appended_top_share")
  }

  /** Every root holding cell data for artifact `a` ("cells.parquet" /
    * "cells_i8.parquet"): the base build output plus each COMMITTED
    * append batch. Readers go through this — a batch directory the
    * manifest does not list (a torn append) is invisible. Each root is a
    * complete `cell=`-partitioned parquet tree, so a multi-root read
    * keeps partition discovery AND the probe's cell pruning per root. */
  private def cellRoots(indexDir: String, a: String): Seq[String] = {
    val batches = readManifest(indexDir).map(_.batches).getOrElse(Nil)
    s"$indexDir/$a" +: batches.map(b => s"$indexDir/batches/$b/$a")
  }

  /** Mutation sequence number a root was committed at: the base build is
    * 0, batch roots carry it as their id prefix (`b<seq>_`, `c<seq>_`,
    * `r<seq>_`). [[ivfRefit]]'s exclusion rule keys on it. */
  private def rootSeq(batchId: String): Long =
    "^[bcr](\\d+)".r.findFirstMatchIn(batchId).map(_.group(1).toLong).getOrElse(0L)

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

  /** (path, commit seq) of every root holding artifact `a`. */
  private def rootsWithSeq(indexDir: String, a: String,
                           m: IvfManifest): Seq[(String, Long)] =
    (s"$indexDir/$a", 0L) +:
      m.batches.map(b => (s"$indexDir/batches/$b/$a", rootSeq(b)))

  private def manifestOrEmpty(indexDir: String): IvfManifest =
    readManifest(indexDir).getOrElse(IvfManifest(0L, 0L, 0, 0))

  /** Path of the CURRENT codebook artifact: the build writes
    * `codebook.parquet` (version 0); every [[ivfRefit]] stages a new
    * `codebook_v<cbv>.parquet` and flips the manifest — old versions
    * stay behind for readers that planned against the old manifest. */
  private def codebookPath(indexDir: String, m: IvfManifest): String =
    if (m.cbv == 0L) s"$indexDir/codebook.parquet"
    else s"$indexDir/codebook_v${m.cbv}.parquet"

  /** The stored float-cell data as ONE frame (base + committed batches) —
    * what [[ivfProbe]] serves from; exposed for inspection/tests.
    *
    * Each root is read separately and UNIONed (Spark's partition
    * inference rejects sibling partitioned roots in one read, and a
    * common `basePath` would misread `batches/<id>` as partition dirs).
    * A fresh index (no batches) stays a single plain scan. Cell pruning
    * across the union comes from the probes' STATIC cell-set filter
    * (see [[probedCellSet]]) — runtime DPP cannot reach scans under a
    * Union, so the probes don't rely on it. */
  private[graft] def ivfCells(s: SparkSession, indexDir: String): DataFrame = {
    val m = manifestOrEmpty(indexDir)
    rootsWithSeq(indexDir, "cells.parquet", m)
      .map { case (p, sq) => readRoot(s, p, sq, m) }.reduce(_ unionByName _)
  }

  /** The stored int8-cell data as one frame (base + committed batches). */
  private[graft] def ivfCellsI8(s: SparkSession, indexDir: String): DataFrame = {
    val m = manifestOrEmpty(indexDir)
    rootsWithSeq(indexDir, "cells_i8.parquet", m)
      .map { case (p, sq) => readRoot(s, p, sq, m) }.reduce(_ unionByName _)
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
    *  - `manifest.json`: (rows, fingerprint, nlist, dim) of the corpus
    *    this index was built from — [[ivfBuildIfAbsent]]'s staleness
    *    check.
    * Run once per corpus snapshot (the offline-fit contract); every
    * serving batch then pays only [[ivfProbe]]/[[ivfProbeI8]]. */
  def ivfBuild(corpus: DataFrame, indexDir: String, nlist: Int,
               maxIter: Int = 5): Unit = {
    val c = corpus.toDF("id", "emb")
    val (n, fp, dim) = corpusStats(c)
    require(n > 0, "ivfBuild: empty corpus")
    val (codebook, cells) = ivfFit(c, nlist, maxIter, n)
    codebook.write.mode("overwrite").parquet(s"$indexDir/codebook.parquet")
    // Cluster by cell BEFORE materializing: without this, every shuffle
    // task holds rows of many cells and the partitionBy write emits one
    // file per (task × cell) — measured 86k ~6 KB files at 2M rows,
    // nlist=1414, which made the pruned probe read file-open-bound (the
    // probe scans ~nprobe·|queries| cells, each a pile of tiny files) and
    // dominated the build itself. Hashing cells into nlist partitions
    // lands each cell in exactly one task → one file per cell. At corpus
    // sizes where one cell outgrows a healthy file (~cells of
    // corpus/nlist bytes), add a within-cell salt column to the
    // repartition and accept files-per-cell = salt count; the probe's
    // partition pruning is unaffected.
    // (localCheckpoint blocks die with their executor: a long-running
    // cluster build should use reliable checkpoint() or persist the
    // assignment to storage so executor loss recomputes instead of
    // failing the job.)
    val persisted = cells.repartition(nlist, col("cell"))
      .localCheckpoint(true) // one assignment pass feeds both writes
    persisted.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/cells.parquet")
    persisted
      .withColumn("scale", Embeddings.i8Scale(col("emb")))
      .withColumn("qcode",
        quantize(col("emb"), col("scale")).cast("array<tinyint>"))
      .select("id", "qcode", "scale", "cell")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/cells_i8.parquet")
    // a rebuild supersedes every previously appended batch: clear the
    // batch/staging trees BEFORE the manifest commit (a crash in between
    // leaves a manifest listing deleted batches — completeness then fails
    // closed into another rebuild, never serves the torn state)
    rmTree(new java.io.File(s"$indexDir/batches"))
    rmTree(new java.io.File(s"$indexDir/_staging"))
    rmTree(new java.io.File(s"$indexDir/_commits"))
    writeManifest(indexDir,
      IvfManifest(n, fp, nlist, dim, FingerprintVersion, nlist0 = nlist))
    validated.put(indexDir, (corpusKey(c), nlist))
  }

  /** Session-scoped record of indexDirs whose manifest has already been
    * validated (or freshly built) against a corpus FRAME in this JVM:
    * indexDir → (canonical-plan digest, nlist). A repeat serve of the
    * same logical corpus skips the validation scan entirely — the scan
    * is cheap next to the fit it guards, but it is a full-corpus read
    * per serving batch, and the registered `sim_knn_ivf` query serves
    * the same corpus every bench pass. A DIFFERENT corpus frame (even
    * under the same indexDir) misses the cache and pays the full
    * manifest check, so the mutated-corpus rebuild contract is
    * unchanged; a corpus whose FILES mutate under an unchanged path
    * within one session is the documented out-of-scope case (version
    * snapshot paths — see [[ivfBuildIfAbsent]]). */
  private val validated =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()

  /** Session-scoped count memo keyed on the canonicalized-plan digest —
    * the sizing counts in [[knn]] re-executed a derived corpus/query
    * frame's full lineage TWICE per invocation (they exist only to pick
    * a shuffle width, so staleness is impossible within a session: the
    * same logical plan re-counts to the same value for the immutable
    * file-backed frames the serving paths read). Same contract as
    * [[validated]]: files mutating under an unchanged path within one
    * session are out of scope. */
  private val counted =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def memoCount(df: DataFrame): Long =
    counted.computeIfAbsent(corpusKey(df), _ => df.count()).longValue()

  /** Digest of the corpus's canonicalized logical plan — equal for
    * re-constructions of the same read within a session, different for
    * any structurally different frame. */
  private def corpusKey(c: DataFrame): String = {
    val plan = c.queryExecution.analyzed.canonicalized.toString
    java.security.MessageDigest.getInstance("MD5")
      .digest(plan.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** True iff a stored index under `indexDir` is complete and its manifest
    * matches exactly this corpus at this nlist — the trust check behind
    * [[ivfBuildIfAbsent]], public so callers composing their own build
    * policy (e.g. build-then-[[ivfAppend]] ingest pipelines) can test
    * validity without committing to a fit. Validity = both cell artifacts
    * have committed (`_SUCCESS`), the manifest's fingerprint algorithm is
    * current, and the corpus's (rows, fingerprint) equal the manifest's.
    * Costs one 2-column corpus scan on a miss, MEMOIZED per (indexDir,
    * corpus frame) in the session (see [[validated]]); a repeat check of
    * the same frame is free. */
  def ivfValid(corpus: DataFrame, indexDir: String, nlist: Int): Boolean = {
    val c = corpus.toDF("id", "emb")
    val key = corpusKey(c)
    if (validated.get(indexDir) == (key, nlist)) return true
    // completeness covers the base artifacts AND every manifest-listed
    // batch (cellRoots = exactly what serving reads): a manifest that
    // names a missing/uncommitted batch dir fails closed into a rebuild
    val complete = Seq("cells.parquet", "cells_i8.parquet")
      .forall(a => cellRoots(indexDir, a)
        .forall(r => new java.io.File(s"$r/_SUCCESS").exists()))
    val valid = complete && readManifest(indexDir).exists { m =>
      // nlist is compared against the BUILT codebook size (nlist0):
      // ivfRefit grows the current nlist by splitting hot cells, and a
      // refit index must keep serving the caller that built at the
      // original nlist — a refit is maintenance, not a different index
      val builtNlist = if (m.nlist0 > 0) m.nlist0 else m.nlist
      m.fpv == FingerprintVersion && builtNlist == nlist &&
        new java.io.File(
          s"${codebookPath(indexDir, m)}/_SUCCESS").exists() && {
        val (n, fp, _) = corpusStats(c)
        m.rows == n && m.fingerprint == fp
      }
    }
    if (valid) validated.put(indexDir, (key, nlist))
    valid
  }

  /** [[ivfBuild]] unless a VALID index for exactly this corpus is already
    * present ([[ivfValid]]) — the registered query's spelling of "fit
    * offline once, probe every serving batch". Anything invalid (no
    * manifest, a pre-manifest artifact, a stale fingerprint algorithm, a
    * mutated or replaced corpus under the same tag) triggers a rebuild
    * rather than silently serving a stale index; a deployment that
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
    * cost is MEASURED (IvfAppendBench drift mode, RECALL.md): up to an
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
    * ([[ivfAppendedFraction]]) is the alert signal; the deployment
    * contract is [[ivfCompact]] for file-count growth and a
    * re-[[ivfBuild]] on distribution shift (for probe cost), not a
    * rebuild on fraction alone.
    *
    * The manifest update is ADDITIVE BY CONSTRUCTION: [[corpusStats]]'
    * fingerprint is a wraparound SUM of per-row hashes, so
    * fp(corpus ∪ batch) = fp(corpus) + fp(batch) (mod 2⁶⁴) — the updated
    * manifest is EXACTLY what [[ivfBuild]] over the union would stamp,
    * and [[ivfValid]] of the union frame accepts the appended index with
    * no rebuild (SimilaritySpec pins both). Multiplicity-sensitivity
    * means re-appending the same batch yields a manifest no single-copy
    * corpus matches — a double ingest fails closed into a rebuild, never
    * serves silently.
    *
    * Each append lands ≤1 file per cell per artifact (the batch is
    * hashed into nlist cell partitions first — the [[ivfBuild]] layout
    * rule) in its OWN batch directory `batches/<id>/`; files-per-cell
    * grows by one per batch and compacts at the periodic rebuild.
    *
    * CRASH RECOVERY — stage, then commit: the batch's cell files are
    * written under `_staging/<id>/`, promoted to `batches/<id>/`, and
    * only then does the ATOMIC manifest replace ([[writeManifest]])
    * publish them — readers ([[cellRoots]]) see exactly the
    * manifest-listed batches, so a crash ANYWHERE before the manifest
    * write leaves the old index fully valid and serving ([[ivfValid]] of
    * the pre-append corpus stays true; SimilaritySpec kills a simulated
    * append at both seams and pins it). The batch id is DETERMINISTIC —
    * seq number (batches committed so far) + the batch's own
    * fingerprint — so a retry of a torn append overwrites its own
    * leftovers and re-stages O(batch), never an O(corpus) rebuild.
    *
    * SINGLE-WRITER contract — now CHECKED, not just documented: the
    * commit goes through [[casWriteManifest]]'s create-if-absent
    * sequencer, so of two racing appends (or an append racing a compact)
    * exactly one commits and the loser throws with its staged data
    * intact for a retry against the fresh manifest — the silent
    * lost-delta (which [[ivfValid]] then turned into an O(corpus)
    * rebuild) is no longer reachable. A rebuild racing an append remains
    * out of scope (the rebuild resets the sequencer; deployments pause
    * ingest around the rare scheduled re-[[ivfBuild]]). */
  def ivfAppend(batch: DataFrame, indexDir: String): Unit =
    ivfAppendStage(batch, indexDir).foreach { case (m, id, bn, bfp) =>
      ivfAppendPromote(indexDir, id)
      ivfAppendCommit(indexDir, m, id, bn, bfp)
    }

  /** Append phase 1 — STAGE: assign the batch with the stored codebook
    * and write its cell files under `_staging/<batchId>/` (overwrite —
    * retry-safe). Returns None for an empty batch (a no-op append).
    * Package-private so the torn-append spec can crash between phases. */
  private[graft] def ivfAppendStage(batch: DataFrame, indexDir: String)
      : Option[(IvfManifest, String, Long, Long)] = {
    val b = batch.toDF("id", "emb")
    val m = readManifest(indexDir).getOrElse(sys.error(
      s"ivfAppend: no readable manifest under $indexDir — build first"))
    require(m.fpv == FingerprintVersion,
      s"ivfAppend: manifest fingerprint algorithm v${m.fpv} != current " +
        s"v$FingerprintVersion — rebuild the index")
    val (bn, bfp, bdim) = corpusStats(b)
    if (bn == 0) return None
    // REPLAY IDEMPOTENCE: re-appending the batch that was committed LAST
    // is a no-op. This is exactly the at-least-once window of a streaming
    // ingest (foreachBatch replays its most recent micro-batch after a
    // crash between the manifest commit and the checkpoint commit —
    // graft.streaming.IvfIngest); the manifest's (lastRows, lastFp) pair
    // identifies the replay — BOTH must match, so a different consecutive
    // batch must collide on the 64-bit fingerprint AND the exact row
    // count to be misread (the wraparound-sum fingerprint is weaker than
    // a digest against structured collisions; the row count closes the
    // equal-hash-sum-different-cardinality family). The pair survives
    // [[ivfCompact]], so a replay straddling a compaction is still
    // caught. A batch equal to an OLDER committed batch still appends
    // (multiplicity-sensitive manifest, as before) — only the
    // consecutive-duplicate case, which no correct ingest produces on
    // purpose, is read as a replay, and the skip is LOGGED, never silent.
    val replay =
      (m.lastRows == bn && m.lastFp == bfp) ||
        // legacy manifests (layout v1 without the last_* fields): the
        // old batch-id-suffix check — fingerprint-only, rows unknown.
        // On a v2 manifest (0, 0) means "no append since build" and the
        // fallback never applies.
        (m.mv < ManifestVersion && m.lastRows == 0 &&
          m.batches.lastOption.exists(
            _.endsWith("_" + java.lang.Long.toHexString(bfp))))
    if (replay) {
      log.warn(s"ivfAppend: batch (rows=$bn, fp=$bfp) matches the last " +
        s"committed batch under $indexDir — treating as an at-least-once " +
        "replay, skipping (re-ingest of identical consecutive batches is " +
        "indistinguishable from a replay by design)")
      return None
    }
    require(bdim == m.dim,
      s"ivfAppend: batch vector width $bdim != index dim ${m.dim}")
    val s = b.sparkSession
    val ctrRows = s.read.parquet(codebookPath(indexDir, m))
      .select("cell", "ctr").orderBy("cell").collect()
    require(ctrRows.length == m.nlist,
      s"ivfAppend: codebook has ${ctrRows.length} cells, manifest says ${m.nlist}")
    val ctrs: Array[Array[Double]] = ctrRows.map(_.getSeq[Double](1).toArray)
    // deterministic id: a retry of this exact (index state, batch) pair
    // re-derives the same id and overwrites its own torn leftovers. The
    // row count rides in the id alongside the fingerprint (harder to
    // collide, and a human can read batch sizes off the directory tree);
    // the seq prefix is the manifest's monotone append counter, so ids
    // stay unique across compactions too.
    val batchId =
      f"b${m.seq + 1}%04d_${bn}_${java.lang.Long.toHexString(bfp)}"
    val staging = s"$indexDir/_staging/$batchId"
    val cells = b.select(col("id"), col("emb"),
      argMinDistSq(col("emb"), ctrs).getField("j").as("cell"))
    val persisted = cells.repartition(m.nlist, col("cell"))
      .localCheckpoint(true) // one assignment pass feeds both artifacts
    persisted.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$staging/cells.parquet")
    persisted
      .withColumn("scale", Embeddings.i8Scale(col("emb")))
      .withColumn("qcode",
        quantize(col("emb"), col("scale")).cast("array<tinyint>"))
      .select("id", "qcode", "scale", "cell")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$staging/cells_i8.parquet")
    Some((m, batchId, bn, bfp))
  }

  /** Append phase 2 — PROMOTE: move the staged batch dir under
    * `batches/`. Still invisible to readers (the manifest doesn't list
    * it yet), so this move needs no atomicity; a leftover target from a
    * previous torn attempt is deleted first (it was never committed —
    * ids are seq-prefixed, so a COMMITTED dir can never collide). */
  private[graft] def ivfAppendPromote(indexDir: String, batchId: String): Unit = {
    val target = new java.io.File(s"$indexDir/batches/$batchId")
    rmTree(target)
    java.nio.file.Files.createDirectories(target.getParentFile.toPath)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$indexDir/_staging/$batchId"), target.toPath)
    ()
  }

  /** Append phase 3 — COMMIT: the atomic manifest replace that publishes
    * the batch (rows/fingerprint/appendedRows add; the batch id joins
    * the read set). This single rename IS the append's commit point. */
  private[graft] def ivfAppendCommit(indexDir: String, m: IvfManifest,
                                     batchId: String, bn: Long, bfp: Long): Unit = {
    casWriteManifest(indexDir, m,
      m.copy(rows = m.rows + bn, fingerprint = m.fingerprint + bfp,
        appendedRows = m.appendedRows + bn, batches = m.batches :+ batchId,
        seq = m.seq + 1, lastRows = bn, lastFp = bfp),
      token = batchId)
    // the stored index no longer corresponds to any frame validated
    // before this append
    validated.remove(indexDir)
    ()
  }

  /** FOLD the committed append batches into ONE batch root — the
    * file-count bound continuous ingest needs. Every [[ivfAppend]] adds
    * a `batches/<id>/` root (one file per touched cell per artifact), so
    * under streaming ingest ([[graft.streaming.IvfIngest]] — one append
    * per micro-batch forever) probe file-open cost grows without bound:
    * the serving read is a UNION of per-root scans (static cell-set
    * pruning, no DPP under a Union — [[ivfCells]]), and each probed cell
    * opens one file per root. Compaction rewrites the appended rows into
    * a single root, capping serving at TWO roots (base + compacted)
    * regardless of how many batches ever landed — and it never touches
    * the base: compaction IO is O(appended bytes), not O(corpus), which
    * at 100 TB is the difference between a background chore and a
    * rewrite nobody schedules. (COMPACT.md carries the measured
    * file-count and probe-wall deltas.) The fold's re-cluster is
    * SIZE-AWARE: cells past 4× the mean appended load are salted across
    * multiple tasks/files, so a distribution-shifted index (RECALL.md
    * shift mode) compacts with bounded max task input instead of
    * funneling its hot cells through single giant tasks — see the
    * inline census note; COMPACT.md carries the shifted-index
    * measurement.
    *
    * FINGERPRINT-NEUTRAL BY CONSTRUCTION: the folded root holds exactly
    * the union of the batch rows, so rows / fingerprint / appendedRows /
    * seq / lastRows / lastFp are all UNCHANGED — the new manifest differs
    * only in `batches` (now one id). `appendedRows` deliberately
    * survives: those rows were assigned under never-refit centroids, and
    * compaction moves bytes, not cell boundaries — the staleness alert
    * ([[ivfAppendedFraction]]) must keep firing. Replay detection
    * (lastRows, lastFp) survives too, so a streaming replay straddling a
    * compact is still a no-op.
    *
    * CRASH RECOVERY — the same stage/promote/commit protocol as append:
    * the folded cells are written under `_staging/<compactId>/`, promoted
    * to `batches/<compactId>/` (invisible — unlisted), and published by
    * the one atomic manifest replace. A crash anywhere before that
    * leaves the old manifest serving the old (correct) batch list. The
    * compact id is deterministic from the manifest state (seq + appended
    * rows + index fingerprint), so a retry overwrites its own torn
    * leftovers.
    *
    * READER GRACE PERIOD — the sweep is DEFERRED one compaction cycle:
    * the batch dirs this fold supersedes are NOT deleted at commit; the
    * post-commit sweep removes only dirs that are neither the new fold
    * nor its inputs — i.e. the PREVIOUS fold's inputs (plus any
    * crash-after-commit orphans). A concurrent probe that planned its
    * union scan against the pre-compact manifest ([[ivfCells]] resolves
    * roots at plan time) therefore keeps every file it planned until the
    * NEXT compact commits — an entire ingest-loop compaction interval —
    * instead of failing mid-query with FileNotFoundException the moment
    * the fold lands. Compaction is the ONLY steady-state delete
    * ([[ivfAppend]] never removes data), so with the deferral the
    * continuous-ingest loop ([[graft.streaming.IvfIngest]]) serves probes
    * concurrently with maintenance; only [[ivfBuild]] (a rare scheduled
    * rebuild, which clears the whole batch tree) still requires a
    * serving pause. Disk overhead of the grace: at most one compaction
    * interval's worth of superseded batch bytes.
    *
    * LEGACY MANIFESTS (layout version `mv` < [[ManifestVersion]]): the
    * fold would destroy the batch-id-suffix fallback replay check — the
    * compact id's suffix encodes the WHOLE-INDEX fingerprint, not the
    * last batch's — so the replay pair is BACKFILLED from the last
    * committed batch's own data (one O(batch) stat pass, subsumed by the
    * fold read) before the fold commits, and the commit stamps the
    * current layout version. A streaming replay straddling the upgrading
    * compact is then caught exactly like on a current-format manifest.
    * Keying on `mv` (not the earlier `lastRows == 0` sentinel) keeps
    * "pre-upgrade manifest" distinct from "no append since build": a v2
    * manifest's (0, 0) pair is trusted as-is, never recomputed into a
    * different meaning (SimilaritySpec pins both cases).
    *
    * Row-count guard: the staged fold must hold exactly
    * `appendedRows` rows (batches always hold precisely the rows appended
    * since the last build — the build clears them, appends add them,
    * compaction preserves them), so torn batch data fails the compact
    * loudly instead of committing a short fold.
    *
    * SINGLE-WRITER, like every `indexDir` mutation. No-op below two
    * committed batches — there is nothing to fold. */
  def ivfCompact(s: SparkSession, indexDir: String): Unit = {
    val m0 = readManifest(indexDir).getOrElse(sys.error(
      s"ivfCompact: no readable manifest under $indexDir"))
    if (m0.batches.size < 2) return
    // legacy-manifest backfill (see scaladoc): recover the replay pair
    // from the last committed batch's data before the fold erases the
    // batch-id-suffix fallback's referent. Keyed on the LAYOUT VERSION,
    // not a lastRows sentinel — a current-format (0, 0) pair means "no
    // append since build" and is trusted as-is.
    val m =
      if (m0.mv < ManifestVersion) {
        val (lr, lfp, _) = corpusStats(s.read.parquet(
          s"$indexDir/batches/${m0.batches.last}/cells.parquet"))
        m0.copy(lastRows = lr, lastFp = lfp)
      } else m0
    val compactId = f"c${m.seq}%04d_${m.appendedRows}_" +
      java.lang.Long.toHexString(m.fingerprint)
    val staging = s"$indexDir/_staging/$compactId"
    // per-root reads + union (sibling partitioned roots — the ivfCells
    // rule), LIVE rows only: a pre-refit batch root's split-cell rows are
    // superseded by the refit root and must not be folded back in
    def foldRead(a: String): DataFrame =
      m.batches.map(b =>
          readRoot(s, s"$indexDir/batches/$b/$a", rootSeq(b), m))
        .reduce(_ unionByName _)
    // live rows the fold must reproduce: appends' own rows plus the
    // base-origin rows refits relocated into batch space
    val expectRows = m.appendedRows + m.refitRows
    // SIZE-AWARE RE-CLUSTER (hot-cell task/file split): the fold hashes
    // cells into tasks so each cell lands in ONE task → one file per cell
    // per artifact (the ivfBuild layout rule) — the right layout while the
    // appended mass tracks the base's spread, but a DISTRIBUTION-SHIFTED
    // index crams most appended rows into few cells (measured 53.6%
    // top-20 share, RECALL.md shift mode), making those cells single
    // giant tasks to compact and single giant files to probe. So cells
    // holding more than 4× the mean appended load are SALTED across
    // ceil(cnt / 4·mean) subtasks — max task input is bounded at ~4× the
    // mean cell load between rebuilds, and a hot cell's partition dir
    // simply holds several files (dir-level cell pruning unaffected; the
    // probe reads the same rows either way). A stationary index has no
    // cell past the cap and keeps the exact one-file-per-cell layout.
    // The census costs one partition-column-only pass over the batch
    // roots (footer reads — the ivfStats economics); the split map is at
    // most nlist/4 entries, broadcast.
    val meanLoad = math.max(1L, expectRows / m.nlist)
    val capRows = 4L * meanLoad
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
    val folded = s.read.parquet(s"$staging/cells.parquet").count()
    require(folded == expectRows,
      s"ivfCompact: folded ${folded} rows but the manifest says " +
        s"$expectRows live in batch roots (${m.appendedRows} appended + " +
        s"${m.refitRows} refit-relocated) — batch data under $indexDir " +
        "is torn; not committing")
    ivfAppendPromote(indexDir, compactId)
    // CAS against the manifest state the fold READ (m0 — the backfilled
    // `m` differs only in recovered replay fields): an append that
    // committed while the fold ran would otherwise be silently dropped
    // from the batch list
    casWriteManifest(indexDir, m0, m.copy(batches = Seq(compactId)),
      token = compactId)
    // DEFERRED post-commit sweep (reader grace period — see scaladoc):
    // keep the dirs this fold just superseded (m.batches) for one more
    // compaction cycle; remove only older unlisted dirs — the previous
    // fold's inputs plus any crash-after-commit orphans
    Option(new java.io.File(s"$indexDir/batches").listFiles()).foreach(
      _.filterNot(f => f.getName == compactId || m.batches.contains(f.getName))
        .foreach(rmTree))
    log.info(s"ivfCompact: folded ${m.batches.size} batches " +
      s"(${m.appendedRows} rows) into $compactId under $indexDir")
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
    * CRASH RECOVERY: the stage → promote → CAS-commit protocol of
    * [[ivfAppend]], with a deterministic refit id from the manifest
    * state — a retry overwrites its own torn leftovers; a crash
    * anywhere before the manifest commit leaves the old index serving.
    * Old codebook versions are left behind for readers that planned
    * against the old manifest (same grace posture as compaction's
    * deferred sweep). SINGLE-WRITER per index, CAS-checked like every
    * other mutation.
    *
    * @return the number of cells split (0 = no cell past the cap; the
    *         index is untouched). */
  def ivfRefit(s: SparkSession, indexDir: String, capFactor: Double = 4.0,
               maxSplit: Int = 16): Int = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import s.implicits._
    val m = readManifest(indexDir).getOrElse(sys.error(
      s"ivfRefit: no readable manifest under $indexDir"))
    require(m.fpv == FingerprintVersion,
      s"ivfRefit: manifest fingerprint algorithm v${m.fpv} != current " +
        s"v$FingerprintVersion — rebuild the index")
    require(capFactor > 0 && maxSplit > 0,
      s"ivfRefit: capFactor=$capFactor and maxSplit=$maxSplit must be > 0")
    // live-occupancy census: partition-column-only scan (footer reads,
    // the ivfStats economics), ≤ nlist rows collected
    val counts: Map[Int, Long] = ivfCells(s, indexDir).groupBy("cell")
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cap = (capFactor * math.max(1L, m.rows / math.max(1, m.nlist))).toLong
    val hot: Seq[Int] = counts.toSeq.filter(_._2 > cap)
      .sortBy { case (c, n) => (-n, c) }.take(maxSplit).map(_._1)
    if (hot.isEmpty) {
      log.info(s"ivfRefit: no cell above ${cap} rows under $indexDir — no-op")
      return 0
    }
    val cbRows = s.read.parquet(codebookPath(indexDir, m))
      .select("cell", "ctr").orderBy("cell").collect()
    require(cbRows.length == m.nlist,
      s"ivfRefit: codebook has ${cbRows.length} cells, manifest says ${m.nlist}")
    val live = ivfCells(s, indexDir).select("id", "emb", "cell")
    val target = fitSampleSize(2)
    val M = 1L << 40
    // per hot cell: sample-fit a 2-means on the cell's own rows. A cell
    // of exact duplicates (the canonical hot-cell cause in near-dup
    // corpora) has <2 distinct vectors, and Spark ML's KMeans then
    // returns fewer than k centers (or two identical ones) — such a cell
    // is UNSPLITTABLE by geometry: skip it (logged) rather than throw,
    // so the O(hot-cells) remedy stays usable on the remaining cells.
    val fits: Seq[(Int, Array[Array[Double]])] = hot.flatMap { c =>
      val rowsC = live.filter(col("cell") === c).select("id", "emb")
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
    val newCtrs = scala.collection.mutable.ArrayBuffer(
      cbRows.map(_.getSeq[Double](1).toArray): _*)
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
    val refitId = f"r${m.seq + 1}%04d_${hotRows}_" +
      java.lang.Long.toHexString(m.fingerprint)
    val staging = s"$indexDir/_staging/$refitId"
    // one relabel pass feeds both artifacts (the ivfBuild layout rule:
    // cluster by cell before the partitioned write — one task per
    // output cell, so a split cell's children land as one file each)
    val persisted = pieces.reduce(_ unionByName _)
      .repartition(2 * split.size, col("cell"))
      .localCheckpoint(true)
    persisted.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$staging/cells.parquet")
    persisted
      .withColumn("scale", Embeddings.i8Scale(col("emb")))
      .withColumn("qcode",
        quantize(col("emb"), col("scale")).cast("array<tinyint>"))
      .select("id", "qcode", "scale", "cell")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$staging/cells_i8.parquet")
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
    val cbStagingPath = s"$indexDir/_staging/${refitId}_codebook.parquet"
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
      require(readManifest(indexDir).forall(_.cbv <= m.cbv),
        s"ivfRefit: codebook v${m.cbv + 1} under $indexDir is already " +
          "COMMITTED by a racing refit — retry against the fresh manifest")
      rmTree(cbTarget.toFile) // torn leftover of a crashed attempt
    }
    java.nio.file.Files.move(
      java.nio.file.Paths.get(cbStagingPath), cbTarget)
    ivfAppendPromote(indexDir, refitId)
    casWriteManifest(indexDir, m, m.copy(
      nlist = m.nlist + split.size,
      nlist0 = if (m.nlist0 > 0) m.nlist0 else m.nlist,
      cbv = m.cbv + 1,
      batches = m.batches :+ refitId,
      seq = m.seq + 1,
      refitRows = m.refitRows + baseHotLive,
      refits = m.refits :+ ((m.seq + 1) -> split)),
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
    val codebook = s.read.parquet(
      codebookPath(indexDir, manifestOrEmpty(indexDir)))
    val cells = ivfCells(s, indexDir)
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
    val codebook = s.read.parquet(
      codebookPath(indexDir, manifestOrEmpty(indexDir)))
    val codes = ivfCellsI8(s, indexDir)
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

  /** Session-scoped index location for a dataset tag: under
    * java.io.tmpdir, namespaced by the Spark application id (no cross-JVM
    * collisions) and a 128-bit digest of the tag (a 32-bit `hashCode`
    * could collide two dataset dirs within one session; MD5 cannot in
    * practice — and [[ivfBuildIfAbsent]]'s manifest check backstops even
    * that). */
  def ivfIndexDir(s: SparkSession, tag: String): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(tag.getBytes("UTF-8")).map("%02x".format(_)).mkString
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${s.sparkContext.applicationId}/ivf_$md5").getAbsolutePath
  }

  /** Self-contained IVF approximate top-k (fit + probe in one plan, no
    * persisted artifacts) — the parameter-sweep form RecallBench drives;
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
