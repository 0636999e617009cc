package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable deduplication operators over arbitrary DataFrames — the
  * library surface behind `DedupQueries` (NS mandate).
  *
  * All near-dup operators follow the candidate-generation / verification
  * split: candidates come from a bucket equi-join (never an all-pairs
  * product), verification computes the exact measure on candidates only.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Earliest-row-per-key exact dedup: deterministic spelling of
    * `dropDuplicates(keys)` (same shuffle-on-key plan shape, but the
    * survivor is well-defined). */
  def exactDedup(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct k-word shingles per row: (idCol, shingle). String form —
    * the readable reference implementation; every production path uses
    * [[shingleHashes]] instead (DedupSpec pins the hashed path as a
    * drop-in: identical per-doc distinct counts). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    df.withColumn("__words", filter(split(col(textCol), " "), w => w =!= ""))
      .filter(size(col("__words")) >= k)
      .select(col(idCol), expr(
        s"""explode(array_distinct(transform(
           |  sequence(1, size(__words) - ${k - 1}),
           |  i -> concat_ws(' ', slice(__words, i, $k))))) AS shingle""".stripMargin))

  /** Distinct hashed k-word shingles per row: (idCol, s: long), via the
    * native codegen'd [[graft.expressions.ShingleHash]] — no per-shingle
    * string materialization (see that scaladoc for measurements). All
    * downstream join keys and per-permutation rehashes then operate on
    * 8-byte longs. */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val words = filter(split(col(textCol), " "), w => w =!= "")
    df.withColumn("__words", words)
      .filter(size(col("__words")) >= k)
      .select(col(idCol), explode(array_distinct(ColumnBridge.column(
        graft.expressions.ShingleHash(
          ColumnBridge.expression(col("__words")), k)))).as("s"))
  }

  /** Exact pairwise n-gram Jaccard over shared-shingle candidates:
    * (d1, d2, inter, n1, n2, jaccard), ids ordered d1 < d2.
    *
    * The self-join key is xxhash64(shingle) (8-byte comparisons instead of
    * variable-length strings; a 64-bit collision would need ~2^32 distinct
    * shingles per corpus to matter). The hash sits AFTER the explode, in
    * whole-stage codegen — measured: moving it inside the transform()
    * lambda (interpreted per element, like all HOF lambdas) is 4-8x
    * slower despite touching 50x fewer "rows". Keep hot scalar work in
    * codegen'd row expressions, not lambda bodies.
    *
    * Sizes join in afterwards against the (tiny) per-doc count table.
    * Carrying the size along each exploded row instead measures ~2x
    * slower: it widens the join output and the aggregation keys.
    *
    * Stop-shingle guard: a shingle occurring in more than
    * `maxDocFrac` of the corpus (boilerplate headers, licence lines)
    * would contribute O(df²) rows to the self-join — the one place a
    * pathological corpus could still go quadratic. Such shingles are
    * dropped BEFORE the join via a broadcast anti-join against the
    * (by construction tiny: ≤ shingles/doc ÷ maxDocFrac entries) hot
    * set — with an absolute floor of 5 docs, so tiny corpora (where 10%
    * of n_docs would round below one document) are never capped — and
    * per-doc sizes are counted over the same capped space, so
    * jaccard stays a true Jaccard over non-stop shingles — the standard
    * IR semantics (ubiquitous shingles carry no near-dup signal). On
    * corpora with no hot shingle (driver corpus max df is 1.4% of docs)
    * the guard is a no-op and results are bit-identical to the uncapped
    * form (oracle-checked); DedupStressSpec pins the near-linear
    * behavior under a planted ubiquitous shingle.
    *
    * THE GUARD'S TAIL, quantified (the viability law): a shingle with df
    * just UNDER the cap still contributes C(df, 2) candidate rows, so the
    * worst-case candidate space is Σ_s C(df_s, 2) ≤ H·(maxDocFrac·n)²/2
    * for H just-under-cap shingles — still QUADRATIC in n at fixed
    * maxDocFrac. Exact Jaccard is therefore viable while the df census
    * (the `hot` aggregate below, which you get for free) shows
    * Σ df_s² within the shuffle budget. Measured on the driver corpus:
    * Σ df² = 108·n at 500 docs, 558·n at 5000 (max df 1.4% of n — the
    * guard never fires; candidate rows ≈ Σ df²/2 track dedup_ngram's
    * measured 7.5× wall at 10× data). It is NOT viable on
    * adversarial/boilerplate corpora where many shingles sit near the
    * cap — Σ df² → H·(0.1n)², the quadratic ceiling: there,
    * (a) lower maxDocFrac (the cap is the knob: candidates scale with
    * its square), or (b) switch blocking to [[minhashPairs]] — its
    * banded candidates are r-way hash agreements, not df² expansions,
    * with recall given by the band law instead of the df census.
    * DedupStressSpec's just-under-cap case pins the C(df, 2) bound
    * exactly. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.5,
                        maxDocFrac: Double = 0.1): DataFrame = {
    // materialize the hashed-shingle frame once: it feeds three plan
    // subtrees (doc count, hot-shingle census, anti-join input) whose
    // exchanges don't reuse, so without this the corpus is tokenized and
    // shingled three times per run (localCheckpoint — same iterative-plan
    // hygiene as nearDupClusters; at extreme corpus sizes trade this
    // materialization against recompute deliberately)
    val all = shingleHashes(df, idCol, textCol, k).localCheckpoint(true)
    val hot = stopShingles(all, idCol, maxDocFrac)
    // same again for the capped frame: per-doc sizes + BOTH self-join sides
    val sh = all.join(broadcast(hot), Seq("s"), "left_anti")
      .select(col(idCol), col("s"))
      .localCheckpoint(true)
    val sz = sh.groupBy(idCol).agg(count(lit(1)).as("n"))
    sh.toDF("d1", "s1")
      .join(sh.toDF("d2", "s2"), col("s1") === col("s2") && col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
      .join(sz.toDF("d1", "n1"), "d1")
      .join(sz.toDF("d2", "n2"), "d2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "inter", "n1", "n2", "jaccard")
  }

  /** The stop-shingle census over a hashed-shingle frame (idCol, s): the
    * shingles whose document frequency exceeds
    * greatest(n_docs · maxDocFrac, 5), as one column `s`. */
  private def stopShingles(sh: DataFrame, idCol: String, maxDocFrac: Double): DataFrame = {
    val nDocs = sh.agg(countDistinct(col(idCol)).as("n_docs"))
    sh.groupBy("s").agg(countDistinct(col(idCol)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > greatest(col("n_docs") * maxDocFrac, lit(5.0)))
      .select("s")
  }

  /** MinHash+LSH near-dup pairs: (d1, d2, j_est, j_exact), exact Jaccard
    * verified on banded candidates only. numPerm must be divisible by
    * bands. Signatures via per-permutation min() aggregate expressions —
    * all codegen'd (see ngramJaccardPairs note: array/HOF formulations of
    * the signature measured strictly slower). */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numPerm: Int = 32, bands: Int = 8, k: Int = 3,
                   threshold: Double = 0.5): DataFrame = {
    // one materialized shingle frame feeds the signature agg AND the
    // verification tail (per-doc sizes + both intersection-join sides)
    val sh = shingleHashes(df, idCol, textCol, k).localCheckpoint(true)
    val sig = sh.groupBy(idCol).agg(
      min(xxhash64(lit(0), col("s"))).as("m0"),
      (1 until numPerm).map(p => min(xxhash64(lit(p), col("s"))).as(s"m$p")): _*)
    minhashTail(sh, sig, idCol, numPerm, bands, threshold)
  }

  /** Same pipeline, signatures via the typed
    * [[graft.functions.MinHashAggregator]] UDAF (one state buffer per
    * group instead of numPerm aggregate columns). Signature input and the
    * verification tail share ONE hashed-shingle frame — the corpus is
    * tokenized and shingled exactly once per run, same as
    * [[minhashPairs]]. */
  def minhashPairsAgg(df: DataFrame, idCol: String, textCol: String,
                      numPerm: Int = 32, bands: Int = 8, k: Int = 3,
                      threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.Encoders
    val sh = shingleHashes(df, idCol, textCol, k).localCheckpoint(true)
    val mh = udaf(new graft.functions.MinHashAggregator(numPerm), Encoders.scalaLong)
    val sig = sh.groupBy(idCol).agg(mh(col("s")).as("sig"))
      .select(col(idCol) +:
        (0 until numPerm).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
    minhashTail(sh, sig, idCol, numPerm, bands, threshold)
  }

  /** Banding + candidate join + estimate + exact-Jaccard verification over
    * a (idCol, m0..m{numPerm-1}) signature frame. */
  private def minhashTail(sh: DataFrame, sig: DataFrame, idCol: String,
                          numPerm: Int, bands: Int, threshold: Double): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val rowsPerBand = numPerm / bands
    val bandCols = (0 until bands).map { b =>
      xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"m$i")): _*)
    }
    val banded = sig
      .select(col(idCol), posexplode(array(bandCols: _*)))
      .toDF("id", "band_idx", "band_hash")
    val cand = banded.toDF("d1", "bi1", "bh1")
      .join(banded.toDF("d2", "bi2", "bh2"),
        col("bi1") === col("bi2") && col("bh1") === col("bh2") && col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    val sigA = sig.toDF("d1" +: (0 until numPerm).map(i => s"a$i"): _*)
    val sigB = sig.toDF("d2" +: (0 until numPerm).map(i => s"b$i"): _*)
    val jEst = (0 until numPerm)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / numPerm
    val withEst = cand.join(sigA, "d1").join(sigB, "d2")
      .select(col("d1"), col("d2"), jEst.as("j_est"))
    // exact verification on candidates only: equi-join the hashed exploded
    // shingles of each side on (pair-partner, shingle) — intersection rows
    // only, never the |sh(d1)|x|sh(d2)| per-pair product. `sh` arrives
    // pre-hashed as (idCol, s) from shingleHashes.
    val hashed = sh
      .select(col(idCol).as("d"), col("s"))
      .groupBy("d").agg(collect_set(col("s")).as("shs"))
      .select(col("d"), size(col("shs")).cast("long").as("n"), explode(col("shs")).as("s"))
    withEst
      .join(hashed.toDF("d1", "n1", "s"), "d1")
      .join(hashed.toDF("d2", "n2", "s"), Seq("d2", "s"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("inter"), first(col("j_est")).as("j_est"),
           first(col("n1")).as("n1"), first(col("n2")).as("n2"))
      .withColumn("j_exact",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("j_exact") >= threshold)
      .select("d1", "d2", "j_est", "j_exact")
  }

  /** Near-dup CLUSTERS from the pair graph: connected components by
    * iterative min-label propagation (the Pregel/GraphX pattern spelled
    * in DataFrames), then one row per document with its cluster id
    * (= smallest doc id reachable through near-dup edges; the canonical
    * survivor) and the cluster size. Documents with no near-dup form
    * singleton clusters of themselves.
    *
    * Scale shape: the propagation loop runs over the EDGE-TOUCHED
    * subgraph only — documents with no near-dup pair (the overwhelming
    * majority of any real corpus) can never change label, so they are
    * excluded up front and unioned back as singletons at the end. Each
    * round is then one equi-join edges⋈labels + one hash-agg over frames
    * bounded by 2·|pairs|, not |corpus| — at 100 TB the loop's cost
    * follows the near-dup graph (millions of rows), not the document
    * count (billions). Rounds needed = cluster diameter (near-dup
    * clusters are shallow; ubiquitous-boilerplate chains are already cut
    * by [[ngramJaccardPairs]]'s stop-shingle guard). Lineage is truncated
    * with an eager localCheckpoint per round (iterative-plan hygiene —
    * without it the plan doubles every round), and the driver-side loop
    * carries only a converged-or-not count, never data.
    *
    * Oracled cross-engine: the pair graph is the exact (deterministic)
    * Jaccard one, and min-reachable-label is a recursive CTE in DuckDB. */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, k, threshold)
      .select(col("d1"), col("d2"))
    val edges = pairs.union(pairs.select(col("d2"), col("d1")))
      .toDF("src", "dst").localCheckpoint(true)
    // propagate only where an edge exists; everything else is a singleton
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var converged = labels.isEmpty
    var rounds = 0
    while (!converged) {
      rounds += 1
      val viaNeighbor = edges
        .join(labels.toDF("src", "src_label"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("src_label")).as("nbr_label"))
      // carry a per-row changed flag through the checkpoint: convergence
      // reads the (already materialized) flag instead of re-joining the
      // previous labels — one action per round, no extra join
      val updated = labels
        .join(viaNeighbor, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"),
          (col("nbr_label") < col("label")).as("changed"))
        .localCheckpoint(true)
      converged = updated.filter(col("changed")).isEmpty
      labels = updated.drop("changed")
    }
    // rounds-to-convergence gauge (min-label propagation converges in
    // cluster-diameter rounds + 1 detection round): at every measured
    // scale of this corpus family the near-dup graph is shallow —
    // star/pair clusters — so the loop is at its floor; a corpus whose
    // diameter grows would show here first (the large-star/small-star
    // rewrite is the O(log n) remedy if that ever happens)
    log.info(s"nearDupClusters: converged after $rounds rounds")
    val allLabels = df.select(col(idCol).as("node"))
      .join(labels.toDF("node", "lbl"), Seq("node"), "left")
      .select(col("node"), coalesce(col("lbl"), col("node")).as("label"))
    val sizes = allLabels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    allLabels.select(col("node").as(idCol), col("label").as("cluster_id"))
      .join(sizes, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("cluster_size"))
  }

  /** SimHash signatures over `bits` bits: per-document ±1 bit sums of
    * `tokenHash` (a long over column `word`) run directly over token
    * occurrences (Σ_occurrences ±1 ≡ Σ_words ±count) — one explode → one
    * hash-aggregate with `bits` long buffers, instead of a (doc, word)
    * count shuffle first — then the sign bits fold into one long `sig`. */
  private def simhashSigs(df: DataFrame, idCol: String, textCol: String,
                          tokenHash: Column, bits: Int): DataFrame = {
    def bitSum(i: Int) =
      sum(when(shiftrightunsigned(col("h"), i).bitwiseAND(lit(1L)) === 1L, lit(1L))
        .otherwise(lit(-1L)))
    val wc = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .withColumn("h", tokenHash)
    val bitSums = wc.groupBy(idCol).agg(
      bitSum(0).as("s0"), (1 until bits).map(i => bitSum(i).as(s"s$i")): _*)
    val sig = (0 until bits)
      .map(i => when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    bitSums.select(col(idCol), sig.as("sig"))
  }

  /** The band/hamming stage over [[simhashSigs]] output: 4 bands of
    * `bits / 4` bits each, candidates = documents sharing any band value,
    * hamming via bit_count(xor) — (d1, d2, hamming), every intermediate
    * integer-exact. */
  private def simhashBandPairs(sigs: DataFrame, idCol: String, bits: Int): DataFrame = {
    val bandBits = bits / 4
    val bandCols = (0 until 4).map(b =>
      shiftrightunsigned(col("sig"), bandBits * b).bitwiseAND(lit((1L << bandBits) - 1)))
    val banded = sigs
      .select(col(idCol), col("sig"), posexplode(array(bandCols: _*)))
      .toDF("id", "sig", "band_idx", "band_val")
    banded.toDF("d1", "h1", "bi1", "bv1")
      .join(banded.toDF("d2", "h2", "bi2", "bv2"),
        col("bi1") === col("bi2") && col("bv1") === col("bv2") && col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .distinct()
  }

  /** Portable 60-bit SimHash signatures: token hash = first 15 hex chars
    * of md5, parsed as an integer — reproducible in any engine that has
    * md5 (DuckDB: `CAST('0x' || substr(md5(w),1,15) AS BIGINT)`), which
    * makes the whole simhash family ORACLE-CHECKABLE cross-engine.
    * [[simhashPairs]] stays the production path (xxhash64 is one codegen'd
    * call vs md5+hex-parse per token); this twin anchors the band/hamming
    * machinery both share to an independent engine. */
  def simhashPortableSigs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashSigs(df, idCol, textCol,
      expr("cast(conv(substring(md5(word), 1, 15), 16, 10) as bigint)"), 60)

  /** The simhash verify stage over portable signatures: 4×15-bit band
    * candidates + hamming via bit_count(xor) — every intermediate is
    * integer-exact, so the result hash-matches the DuckDB spelling. */
  def simhashPortablePairs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashBandPairs(simhashPortableSigs(df, idCol, textCol), idCol, 60)

  /** 64-bit SimHash near-dup pairs via 4×16-bit band join: (d1, d2,
    * hamming), hamming <= maxHamming, candidates = documents sharing any
    * band value; one shuffle before the band join.
    *
    * Band-width sizing at scale: RANDOM band collisions number
    * ~bands · n² / 2^bits, so a FIXED 16-bit band goes quadratic once the
    * corpus outgrows ~2^16 documents per natural partition — measured
    * here as dedup_simhash_verify's 8× wall at 10× data (50 k docs
    * against 15-bit bands, BENCH_SCALING.json). The knob is band width:
    * keep 2^bits ≳ corpus size (e.g. 2×32-bit bands at 10⁹ docs, or
    * band on (prefix, value) within a coarser partition), trading a
    * stricter candidate filter (more bits = fewer chance collisions but
    * also fewer chances for a true near-dup to collide) against join
    * fan-out. Same law as MinHash banding. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 8): DataFrame =
    simhashBandPairs(simhashSigs(df, idCol, textCol, xxhash64(col("word")), 64), idCol, 64)
      .filter(col("hamming") <= maxHamming)

  /** Benchmark decontamination: per corpus document, how much of it
    * appears verbatim (as k-word shingles) in a held-out benchmark set —
    * the standard guard against evaluation contamination in a training
    * corpus (production runs use long shingles, e.g. k=13; the registered
    * query uses the corpus-appropriate k=3).
    *
    * Output: (idCol, n_shingles, n_hits, contam_frac, contaminated) for
    * every corpus document, including shingle-less ones (fewer than k
    * words → 0/0/0.0/0).
    *
    * Scale shape: the benchmark side collapses to DISTINCT shingle hashes
    * — tens of MB even for large benchmark suites — and is broadcast, so
    * the corpus is scanned ONCE with a map-side hash probe and the only
    * shuffle is the per-doc count aggregation. No corpus self-join
    * anywhere; a benchmark too big to broadcast degrades gracefully to a
    * shuffle equi-join on the 8-byte hash. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, k: Int = 3,
                    flagFrac: Double = 0.5): DataFrame = {
    val bench = shingleHashes(benchmark, idCol, textCol, k)
      .select(col("s")).distinct()
    val per = shingleHashes(corpus, idCol, textCol, k)
      .join(broadcast(bench.withColumn("__hit", lit(1))), Seq("s"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_hits"))
    decontamAssemble(corpus, idCol, per, flagFrac)
  }

  /** Shared decontamination tail: re-attach every corpus document
    * (shingle-less ones included) to its (n_shingles, n_hits) counts and
    * derive the fraction + flag. `per` holds (idCol, n_shingles, n_hits)
    * for documents with at least one shingle. */
  private def decontamAssemble(corpus: DataFrame, idCol: String,
                               per: DataFrame, flagFrac: Double): DataFrame =
    corpus.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contam_frac",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("n_hits").cast("double") / col("n_shingles")))
      .withColumn("contaminated",
        (col("n_shingles") > 0 &&
          col("n_hits").cast("double") / col("n_shingles") >= flagFrac)
          .cast("int"))

  /** [[decontaminate]] for the regime where even the benchmark's DISTINCT
    * shingle-hash set is past the broadcast threshold (a full eval-suite
    * union at k=13 can reach tens of GB of 8-byte hashes): broadcast a
    * Bloom filter over the benchmark hashes instead, and let the exact
    * equi-join — now a SHUFFLE join by design — see only the corpus
    * shingles the filter could not rule out. Identical output to
    * [[decontaminate]]: the filter has no false negatives, and the exact
    * join removes its false positives (DedupSpec pins frame equality).
    *
    * PER-DOCUMENT ROW BOUND: the aggregation below collects one document's
    * bloom-POSITIVE shingles into a single row, so a heavily contaminated
    * document's row holds ~its whole shingle footprint regardless of fpp
    * (clean documents stay at ~fpp·shingles). With documents bounded at
    * typical corpus-policy sizes (~1 M tokens → ~8 MB of hashes) that is
    * a fat-but-fine aggregation row; a pipeline ingesting UNBOUNDED
    * documents should either pre-split them (mm_chunks-style) or trade
    * the one-scan shape for a second corpus scan filtering exploded
    * shingles on the bloom probe directly — the exact path in
    * [[decontaminate]] has no such row, only more shuffle volume.
    *
    * Scale shape: ONE corpus scan. Per document it aggregates the full
    * shingle count and the bloom-positive survivors together, so the
    * first shuffle carries one row per document holding only survivors —
    * ≈ fpp·|corpus shingles| + true hits — instead of every corpus
    * shingle; the eagerly materialized per-doc frame (one bounded row
    * per document — iterative-plan hygiene, like the other eager sites
    * here) then feeds both the exact join and the final count without a
    * second corpus scan. (Exchange reuse can NOT serve the two consumers
    * from one shuffle: column pruning specializes each branch's
    * aggregate — one keeps only the candidate list, the other only the
    * count — so the exchanges stop being identical and each would
    * re-scan the corpus.) The benchmark side is scanned twice (filter
    * build + join side), which it amortizes by being the small side.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, k: Int = 3, flagFrac: Double = 0.5,
                         fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // LAZY checkpoint + count: the count is the materializing action, so
    // the benchmark side pays ONE job for (checkpoint, row count) together
    // — the eager-checkpoint-then-count spelling ran the same scan twice.
    val bench = shingleHashes(benchmark, idCol, textCol, k)
      .select(col("s")).distinct().localCheckpoint(false)
    val benchN = bench.count()
    val bloomBytes = {
      val bf = bench.stat.bloomFilter("s", math.max(benchN, 1L), fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightHit = ColumnBridge.column(graft.expressions.BloomMightContainLong(
      ColumnBridge.expression(col("s")), bloomBytes))
    // collect_list drops nulls, so `cand` is exactly the bloom-positive
    // shingles of the doc; n_shingles still counts all of them. The
    // bloom probe runs inside whole-stage codegen in this (eager) scan
    // job — the registered plan therefore starts at the checkpointed
    // per-doc frame (same as the repo's other eager sites).
    val perDoc = shingleHashes(corpus, idCol, textCol, k)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        collect_list(when(mightHit, col("s"))).as("cand"))
      .localCheckpoint(true)
    // shuffle_hash hint: in this function's regime the benchmark is past
    // the broadcast threshold by premise, so pin the plan the function is
    // FOR (hash-relation build on the bench side, no sort) even on small
    // test corpora where AQE would broadcast it.
    val hits = perDoc.filter(size(col("cand")) > 0)
      .select(col(idCol), explode(col("cand")).as("s"))
      .join(bench.hint("shuffle_hash"), Seq("s"))
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
    val per = perDoc.select(col(idCol), col("n_shingles"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    decontamAssemble(corpus, idCol, per, flagFrac)
  }

  /** Incremental near-dup: flag documents in a NEW batch that are n-gram
    * Jaccard near-dups of an EXISTING corpus — the daily-ingest shape.
    * One row per duplicated batch doc: its best corpus match (highest
    * jaccard, ties to the smallest corpus id).
    *
    * Scale shape: the corpus is never self-joined — candidates come from
    * a batch-shingle ⋈ corpus-shingle equi-join, so cost is
    * O(|batch shingles| + matched candidates) regardless of corpus size.
    * At 100 TB the three corpus-side frames (hot-shingle census, hashed
    * shingles bucketed by `s`, per-doc sizes) are precomputed ONCE and
    * stored (bucketed parquet — ScaleSpec shows the exchange-free read);
    * each arriving batch then pays only its own shingling plus the probe.
    * The stop-shingle guard uses the CORPUS census (boilerplate is a
    * corpus property; a batch can't be allowed to redefine it), applied
    * to both sides so jaccard keeps the standard non-stop-shingle
    * semantics of [[ngramJaccardPairs]]. */
  def incrementalNearDups(corpus: DataFrame, batch: DataFrame, idCol: String,
                          textCol: String, k: Int = 3, threshold: Double = 0.5,
                          maxDocFrac: Double = 0.1): DataFrame =
    probeNearDups(nearDupIndex(corpus, idCol, textCol, k, maxDocFrac),
      batch, textCol, threshold)

  /** The corpus-side artifacts [[probeNearDups]] serves from, computed
    * ONCE per corpus snapshot: the hot-shingle census (`hot`), the
    * stop-filtered hashed corpus shingles (`shingles`), and the per-doc
    * shingle counts (`sizes`). All three are materialized (eager
    * localCheckpoint): a streaming ingest probes once per micro-batch
    * forever, and without pinning, each micro-batch would re-shingle the
    * whole corpus. A production deployment persists the same three
    * frames as parquet next to the corpus, `shingles` BUCKETED BY `s` so
    * the candidate equi-join reads the corpus side exchange-free
    * (ScaleSpec pins that bucketed layout removes the shuffle; an
    * in-session repartition cannot — Spark 4.1 checkpoints and caches
    * both report UnknownPartitioning under AQE, measured here, so the
    * probe join re-shuffles in-session index frames regardless of how
    * they were laid out). */
  /** `shingleRoots` (optional) lists the shingle frame PER STORAGE ROOT
    * when the index is served from stored artifacts (the bucketed base
    * table plus each committed [[nearDupAppend]] batch root): the probe
    * joins each root separately and unions the MATCHED candidate rows —
    * corpus doc ids appear in exactly one root, so per-(batch doc,
    * corpus doc) intersection counts never cross roots — keeping the
    * bucketed base's exchange-free join even while small appended roots
    * ride alongside (a union BELOW the join would re-shuffle the whole
    * corpus side, base included). Empty means "join [[shingles]] as one
    * frame" (the in-session index). */
  final case class NearDupIndex(idCol: String, k: Int, hot: DataFrame,
                                shingles: DataFrame, sizes: DataFrame,
                                shingleRoots: Seq[DataFrame] = Nil)

  /** Build the [[NearDupIndex]] for a corpus — see [[incrementalNearDups]]
    * for the stop-shingle semantics (the census is a CORPUS property,
    * applied to both sides at probe time). */
  def nearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, maxDocFrac: Double = 0.1): NearDupIndex = {
    val cs0 = shingleHashes(corpus, idCol, textCol, k).localCheckpoint(true)
    val hot = stopShingles(cs0, idCol, maxDocFrac).localCheckpoint(true)
    val cs = cs0.join(broadcast(hot), Seq("s"), "left_anti")
      .select(col(idCol), col("s")).localCheckpoint(true)
    val szc = cs.groupBy(idCol).agg(count(lit(1)).as("n")).localCheckpoint(true)
    NearDupIndex(idCol, k, hot, cs, szc)
  }

  /** Probe a batch of NEW documents against a prepared [[NearDupIndex]]:
    * O(|batch shingles| + matched candidates) per call, corpus untouched.
    * Per-batch-document independence: every output row depends only on
    * its own batch doc and the (static) index — the census, sizes, and
    * best-match ranking are all per-bid against corpus state — so
    * probing a batch in ANY partition/chunking and unioning equals one
    * probe of the whole batch (DedupSpec pins it; the streaming
    * registered query `dedup_incremental_stream` rides exactly this,
    * sharing the batch oracle). */
  def probeNearDups(ix: NearDupIndex, batch: DataFrame, textCol: String,
                    threshold: Double = 0.5): DataFrame = {
    val idCol = ix.idCol
    val bs = shingleHashes(batch, idCol, textCol, ix.k)
      .join(broadcast(ix.hot), Seq("s"), "left_anti")
      .select(col(idCol), col("s")).localCheckpoint(true)
    val szb = bs.groupBy(idCol).agg(count(lit(1)).as("n"))
    // one candidate join PER STORAGE ROOT (see [[NearDupIndex]]): matched
    // rows union ABOVE the joins, so the bucketed base root keeps its
    // exchange-free scan; the single-frame (in-session) case is the same
    // plan as a direct join
    val roots =
      if (ix.shingleRoots.nonEmpty) ix.shingleRoots else Seq(ix.shingles)
    val scored = roots
      .map(r => bs.toDF("bid", "s").join(r.toDF("cid", "s"), "s")
        .select(col("bid"), col("cid")))
      .reduce(_ unionByName _)
      .groupBy("bid", "cid").agg(count(lit(1)).as("inter"))
      .join(szb.toDF("bid", "n_batch"), "bid")
      .join(ix.sizes.toDF("cid", "n_corpus"), "cid")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_batch") + col("n_corpus") - col("inter")))
      .filter(col("jaccard") >= threshold)
    val w = Window.partitionBy("bid").orderBy(col("jaccard").desc, col("cid"))
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("bid").as(idCol), col("cid").as("dup_of"), col("inter"),
        col("n_batch"), col("n_corpus"), col("jaccard"))
  }

  // =====================================================================
  // STORED near-dup index: [[NearDupIndex]] as a parquet artifact — a
  // [[StoredIndex]] family, like the IVF index. At 100 TB this is the
  // difference between O(batch) and O(corpus) per probing session:
  // without it, every new JVM re-shingles the whole corpus before its
  // first probe.
  // =====================================================================

  /** The stored near-dup manifest: the [[StoredIndex]] commit log
    * (identity = fingerprint of (idCol, textCol)) plus the build
    * parameters. `fracPpm` is maxDocFrac in parts-per-million (integers
    * only — no float-text round-trip); `idType` is the id column's SQL
    * type, needed to re-register the bucketed shingle table in a NEW
    * session. */
  final case class NearDupManifest(log: StoredIndex.CommitLog, k: Int,
                                   fracPpm: Long, buckets: Int,
                                   idCol: String, textCol: String,
                                   idType: String)
      extends StoredIndex.Manifest[NearDupManifest] {
    def withLog(l: StoredIndex.CommitLog): NearDupManifest = copy(log = l)
  }

  /** The near-dup family of [[StoredIndex]], layout 1: base `hot.parquet`,
    * `sizes.parquet` and the bucketed `shingles/` table; batch roots hold
    * `shingles.parquet` and `sizes.parquet`. */
  object NearDup extends StoredIndex[NearDupManifest]("ndix", 1) {
    protected def params(m: NearDupManifest): Seq[(String, Any)] =
      Seq("k" -> m.k, "frac_ppm" -> m.fracPpm, "buckets" -> m.buckets,
        "id_col" -> m.idCol, "text_col" -> m.textCol, "id_type" -> m.idType)
    protected def decode(d: StoredIndex.Doc, l: StoredIndex.CommitLog): Option[NearDupManifest] =
      for (k <- d.int("k"); ppm <- d.long("frac_ppm"); b <- d.int("buckets");
           ic <- d.str("id_col"); tc <- d.str("text_col"); it <- d.str("id_type"))
        yield NearDupManifest(l, k, ppm, b, ic, tc, it)
    protected def baseArtifacts(m: NearDupManifest): Seq[String] =
      Seq("hot.parquet", "sizes.parquet", "shingles")
    protected def batchArtifacts: Seq[String] = Seq("shingles.parquet", "sizes.parquet")
  }

  private def fracPpm(maxDocFrac: Double): Long = math.round(maxDocFrac * 1e6)

  /** Session-scoped stored-index location for a dataset tag
    * ([[StoredIndex.dirFor]], `ndix_` namespace). */
  def nearDupIndexDir(s: SparkSession, tag: String): String = NearDup.dirFor(s, tag)

  /** PERSIST the [[NearDupIndex]] for a corpus under `dir`:
    *  - `hot.parquet` (s): the hot-shingle census — tiny, broadcast at
    *    probe time;
    *  - `shingles/`: the stop-filtered hashed corpus shingles (idCol, s)
    *    as a table BUCKETED BY `s` ([[Scale.writeBucketed]]; ScaleSpec
    *    pins the bucketed join, DedupSpec pins it for this artifact);
    *  - `sizes.parquet` (idCol, n): per-doc stop-filtered shingle counts;
    *  - `manifest.json` ([[NearDupManifest]]), which [[nearDupValid]]
    *    checks before an existing index is trusted.
    * Build cost: ONE corpus shingling (the in-session builder's
    * checkpointed frames feed all three writes) plus one 2-column
    * identity scan. Run once per corpus snapshot; every later session
    * [[nearDupIndexLoad]]s and pays only its own batches. */
  def nearDupIndexWrite(corpus: DataFrame, idCol: String, textCol: String,
                        dir: String, k: Int = 3, maxDocFrac: Double = 0.1,
                        buckets: Int = 32): Unit = {
    val (n, fp, _) = StoredIndex.fingerprint(corpus, idCol, textCol)
    require(n > 0, "nearDupIndexWrite: empty corpus")
    val ix = nearDupIndex(corpus, idCol, textCol, k, maxDocFrac)
    ix.hot.write.mode("overwrite").parquet(s"$dir/hot.parquet")
    ix.sizes.write.mode("overwrite").parquet(s"$dir/sizes.parquet")
    Scale.writeBucketed(ix.shingles, NearDup.table(dir), s"$dir/shingles", buckets, Seq("s"))
    NearDup.publishBuild(dir, NearDupManifest(StoredIndex.CommitLog(n, fp), k,
      fracPpm(maxDocFrac), buckets, idCol, textCol, corpus.schema(idCol).dataType.sql),
      corpus, (idCol, textCol), k, fracPpm(maxDocFrac))
  }

  /** Serve a stored index: hot/sizes from parquet, the corpus shingles
    * through the catalog's BUCKETED table, plus one shingle root per
    * committed append batch (see [[NearDupIndex]] for why roots stay
    * separate). O(metadata): nothing is scanned until the first probe,
    * and no probe ever re-shingles the corpus. */
  def nearDupIndexLoad(s: SparkSession, dir: String): NearDupIndex = {
    val m = NearDup.load(dir, "nearDupIndexLoad")
    val roots = Scale.bucketedTable(s, NearDup.table(dir), s"$dir/shingles", m.buckets,
      Seq("s"), Seq(m.idCol -> m.idType, "s" -> "BIGINT")) +:
      NearDup.batchPaths(dir, m, "shingles.parquet").map(s.read.parquet(_))
    val sizes = (s"$dir/sizes.parquet" +: NearDup.batchPaths(dir, m, "sizes.parquet"))
      .map(s.read.parquet(_)).reduce(_ unionByName _)
    NearDupIndex(m.idCol, m.k, s.read.parquet(s"$dir/hot.parquet"),
      roots.reduce(_ unionByName _), sizes, roots)
  }

  /** True iff a stored index under `dir` is complete and holds exactly
    * this corpus at these parameters ([[StoredIndex.valid]]) — the trust
    * check behind [[nearDupIndexIfAbsent]]. */
  def nearDupValid(corpus: DataFrame, idCol: String, textCol: String,
                   dir: String, k: Int = 3, maxDocFrac: Double = 0.1): Boolean =
    NearDup.valid(dir, corpus, (idCol, textCol), k, fracPpm(maxDocFrac)) { m =>
      m.k == k && m.fracPpm == fracPpm(maxDocFrac) &&
        m.idCol == idCol && m.textCol == textCol
    }

  /** [[nearDupIndexWrite]] unless a VALID stored index for exactly this
    * corpus is already present, then [[nearDupIndexLoad]] — the
    * registered queries' spelling of "index offline once, probe every
    * batch/session". */
  def nearDupIndexIfAbsent(corpus: DataFrame, idCol: String, textCol: String,
                           dir: String, k: Int = 3, maxDocFrac: Double = 0.1,
                           buckets: Int = 32): NearDupIndex = {
    if (!nearDupValid(corpus, idCol, textCol, dir, k, maxDocFrac))
      nearDupIndexWrite(corpus, idCol, textCol, dir, k, maxDocFrac, buckets)
    nearDupIndexLoad(corpus.sparkSession, dir)
  }

  /** INCREMENTAL index maintenance: shingle a batch of ACCEPTED docs
    * against the STORED census and append it to the index — the
    * [[StoredIndex]] append (stage → promote → CAS commit; deterministic
    * batch id; replay pair). Cost is O(batch): the corpus artifacts are
    * never touched.
    *
    * CENSUS-DRIFT CONTRACT: the hot-shingle census is a CORPUS property
    * and stays FROZEN at build time — appends filter against it but
    * never refit it ([[probeNearDups]] requires one census for both
    * sides, and per-batch refits would make probe results depend on
    * arrival order). The drift is bounded: a shingle below the frozen
    * cap can gain at most `appendedRows` documents, so its candidate
    * contribution is ≤ C(df_frozen + appendedRows, 2) rows where the
    * cap would have cut it at C(cap, 2) — i.e. the candidate-space
    * guarantee decays with exactly the manifest's `appendedRows /
    * rows` staleness fraction, the same signal and the same remedy as
    * the IVF family (alert on the fraction, re-[[nearDupIndexWrite]]
    * past the budget). On stationary appends (no shingle crossing the
    * frozen cap) an appended index probes IDENTICALLY to a rebuilt one
    * (DedupSpec pins it). */
  def nearDupAppend(batch: DataFrame, dir: String): Unit =
    NearDup.publish(dir, nearDupAppendStage(batch, dir))

  /** Append phase 1 — STAGE the batch's shingle and size rows
    * ([[StoredIndex.stage]]). */
  private[graft] def nearDupAppendStage(batch: DataFrame, dir: String)
      : Option[(NearDupManifest, String, Long, Long)] = {
    val m = NearDup.load(dir, "nearDupAppend")
    val (bn, bfp, _) = StoredIndex.fingerprint(batch, m.idCol, m.textCol)
    NearDup.stage(dir, m, bn, bfp) { staging =>
      val bs = shingleHashes(batch, m.idCol, m.textCol, m.k)
        .join(broadcast(batch.sparkSession.read.parquet(s"$dir/hot.parquet")),
          Seq("s"), "left_anti")
        .select(col(m.idCol), col("s")).localCheckpoint(true)
      bs.write.mode("overwrite").parquet(s"$staging/shingles.parquet")
      bs.groupBy(m.idCol).agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$staging/sizes.parquet")
    }
  }

  /** MAINTENANCE fold: compact every committed [[nearDupAppend]] batch
    * root into ONE ([[StoredIndex.compact]]). Without it a long-running
    * ingest accumulates one root per append forever, and
    * [[probeNearDups]] pays one candidate join PER ROOT per probe; after
    * the fold it pays exactly two (the bucketed base + the compacted
    * root). Probe-IDENTICAL by construction: the census, the shingle
    * multiset and the per-doc sizes are unchanged — compaction is pure
    * LAYOUT, so unlike [[nearDupAppend]]'s stationarity contract it needs
    * no distribution assumption (DedupSpec pins exact equality against a
    * never-compacted twin). Does NOT reset `appendedRows`: census-drift
    * staleness is a property of the FROZEN census, which only a
    * re-[[nearDupIndexWrite]] refits. */
  def nearDupCompact(s: SparkSession, dir: String): Unit =
    NearDup.compact(s, dir, "nearDupCompact") { (m, staging) =>
      val expect = NearDup.readBatches(s, dir, m, "shingles.parquet").count()
      // file count tracks the base table's bucket count — the appended
      // mass is the small side, this only bounds small-file growth
      NearDup.readBatches(s, dir, m, "shingles.parquet").repartition(m.buckets, col("s"))
        .write.mode("overwrite").parquet(s"$staging/shingles.parquet")
      NearDup.readBatches(s, dir, m, "sizes.parquet")
        .write.mode("overwrite").parquet(s"$staging/sizes.parquet")
      ("shingles.parquet", expect)
    }

  /** ONE-ROW health report over a stored near-dup index: the shared
    * [[StoredIndex.stats]] columns (the staleness fraction alerts the
    * rebuild — [[nearDupAppend]]'s census-drift contract), then `k` and
    * artifact row counts (parquet metadata counts — no shingle bytes
    * read). */
  def nearDupStats(s: SparkSession, dir: String): DataFrame = {
    val m = NearDup.load(dir, "nearDupStats")
    NearDup.stats(s, m, "k" -> m.k,
      "hot_shingles" -> s.read.parquet(s"$dir/hot.parquet").count(),
      "base_shingles" -> s.read.parquet(s"$dir/shingles").count(),
      "appended_shingles" ->
        NearDup.batchPaths(dir, m, "shingles.parquet").map(s.read.parquet(_).count()).sum)
  }

  // =====================================================================
  // STORED embedding near-dup index: [[embedPairsBanded]]'s banded
  // sign-LSH blocking as a persisted artifact — the third [[StoredIndex]]
  // family (after the IVF index and the text [[NearDupIndex]]), giving
  // continuous-ingest SEMANTIC dedup the same O(batch)-per-restart
  // economics: without it, every probing session re-bands the whole
  // corpus before its first batch.
  // =====================================================================

  /** The stored embed-index manifest: the [[StoredIndex]] commit log
    * plus the banding parameters. (rows, fingerprint) identify the RAW
    * corpus (hygiene filtering is internal — additivity must hold
    * over the frames callers actually pass); `bits` is FROZEN at build
    * from the hygiene-filtered corpus count ([[embedBits]]'s law — the
    * banding analogue of the text index's frozen census: appends band
    * with the build's bits, so bucket occupancy drifts with exactly the
    * `appendedRows / rows` staleness fraction, same signal, same remedy).
    * `blockCols`/`blockTypes` carry the semantic key columns and their
    * SQL types (JSON arrays — a parameterized type like DECIMAL(10,2)
    * contains a comma, so a comma-joined string would re-split into
    * garbage and corrupt the DDL [[embedDupIndexLoad]] issues) for the
    * catalog DDL; the rest follows [[NearDupManifest]]. Only the array
    * form reads: a document of another layout is unreadable
    * ([[StoredIndex]]'s one-layout rule). */
  final case class EmbedDupManifest(log: StoredIndex.CommitLog,
                                    bands: Int, bits: Int, dim: Int,
                                    buckets: Int, idCol: String,
                                    vecCol: String, idType: String,
                                    blockCols: Seq[String],
                                    blockTypes: Seq[String])
      extends StoredIndex.Manifest[EmbedDupManifest] {
    def withLog(l: StoredIndex.CommitLog): EmbedDupManifest = copy(log = l)
  }

  /** The embed family of [[StoredIndex]], layout 2: base `vectors.parquet`
    * and the bucketed `buckets/` table; batch roots hold `buckets.parquet`
    * and `vectors.parquet`. */
  object EmbedDup extends StoredIndex[EmbedDupManifest]("edix", 2) {
    protected def params(m: EmbedDupManifest): Seq[(String, Any)] =
      Seq("bands" -> m.bands, "bits" -> m.bits, "dim" -> m.dim, "buckets" -> m.buckets,
        "id_col" -> m.idCol, "vec_col" -> m.vecCol, "id_type" -> m.idType,
        "block_cols" -> m.blockCols, "block_types" -> m.blockTypes)
    protected def decode(d: StoredIndex.Doc, l: StoredIndex.CommitLog): Option[EmbedDupManifest] =
      for (ba <- d.int("bands"); bi <- d.int("bits"); dim <- d.int("dim");
           bu <- d.int("buckets"); ic <- d.str("id_col"); vc <- d.str("vec_col");
           it <- d.str("id_type"); bc <- d.strs("block_cols"); bt <- d.strs("block_types"))
        yield EmbedDupManifest(l, ba, bi, dim, bu, ic, vc, it, bc, bt)
    protected def baseArtifacts(m: EmbedDupManifest): Seq[String] =
      Seq("vectors.parquet", "buckets")
    protected def batchArtifacts: Seq[String] = Seq("buckets.parquet", "vectors.parquet")
  }

  /** The in-memory handle [[probeEmbedDups]] serves from: the corpus
    * vectors (idCol, vecCol, blockCols...) for the cosine verify and the
    * banded bucket rows (idCol, blockCols..., bk) for candidate
    * generation. `bucketRoots` lists the bucket frame PER STORAGE ROOT
    * when stored (base bucketed table + committed append batches) — the
    * probe joins each root separately and unions matched candidates, the
    * [[NearDupIndex.shingleRoots]] rule (corpus ids live in exactly one
    * root). Empty = in-session single frame. */
  final case class EmbedDupIndex(idCol: String, vecCol: String,
                                 blockCols: Seq[String], bands: Int,
                                 bits: Int, dim: Int,
                                 vectors: DataFrame, buckets: DataFrame,
                                 bucketRoots: Seq[DataFrame] = Nil)

  /** Input hygiene shared by build/append/probe — [[embedPairsBanded]]'s
    * rule verbatim: null vectors and any non-finite element are excluded
    * (sign bits diverge cross-engine on NaN). */
  private def embedFinite(df: DataFrame, vecCol: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val sumSq = dot(col(vecCol), col(vecCol))
    df.filter(col(vecCol).isNotNull &&
      !isnan(sumSq) && sumSq =!= lit(Double.PositiveInfinity))
  }

  /** Banded signatures as ONE composed join key per (row, band):
    * bk = band_idx << [[EmbedBitsMax]] | band_val — band_val < 2^bits ≤
    * 2^[[EmbedBitsMax]], so the compose is collision-free, and a single
    * BIGINT key is what the stored table buckets on (one bucket column →
    * the candidate equi-join reads the base exchange-free). Planes are
    * the first `bits` of each band at the EmbedBitsMax stride (bit j of
    * band b ↔ plane b·EmbedBitsMax + j, the mapping the generated DuckDB
    * oracle reproduces), so pairwise, in-session and stored banding are
    * bit-identical at any frozen `bits`. */
  private def embedSigs(base: DataFrame, idCol: String, vecCol: String,
                        blockCols: Seq[String], bands: Int, bits: Int,
                        dim: Int): DataFrame = {
    import graft.functions.VectorFunctions.lshBuckets
    val bandPlanes = Similarity.planes(bands, bits, dim, stride = EmbedBitsMax)
    base.select(col(idCol) +: blockCols.map(col) :+
        posexplode(lshBuckets(col(vecCol), bandPlanes, bits)): _*)
      .withColumn("bk", shiftleft(col("pos").cast("long"), EmbedBitsMax) +
        col("col").cast("long"))
      .select(col(idCol) +: blockCols.map(col) :+ col("bk"): _*)
  }

  /** Build the [[EmbedDupIndex]] in-session (no artifacts) — the frame
    * twin [[embedDupIndexWrite]] persists; DedupSpec pins stored ≡
    * in-session probes. */
  def embedDupIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    blockCols: Seq[String], bands: Int = EmbedBands,
                    targetOccupancy: Long = EmbedOccupancy,
                    dim: Int = EmbedDim): EmbedDupIndex = {
    val base = embedFinite(corpus, vecCol)
      .select((idCol +: vecCol +: blockCols).map(col): _*)
      .localCheckpoint(true)
    val bits = embedBits(base.count(), targetOccupancy)
    val buckets = embedSigs(base, idCol, vecCol, blockCols, bands, bits, dim)
      .localCheckpoint(true)
    EmbedDupIndex(idCol, vecCol, blockCols, bands, bits, dim, base, buckets)
  }

  /** Probe a batch of NEW vectors against a prepared [[EmbedDupIndex]]:
    * band the batch with the index's FROZEN bits, candidate-join each
    * bucket root on (blockCols, bk), cosine-verify every candidate
    * against `threshold`, and keep each batch vector's BEST corpus match
    * (cos desc, corpus id asc — deterministic, the [[probeNearDups]]
    * shape). O(|batch| + matched candidates); the corpus is never
    * re-banded. Per-batch-row independence: every output row depends
    * only on its own batch vector and the static index, so a chunked
    * streaming probe unions to exactly the one-shot batch probe (the
    * registered stream query shares the batch oracle on that license).
    * The batch frame is pinned once (localCheckpoint) — inside
    * foreachBatch it is RDD-backed, and the banding and verify joins
    * must read the SAME arrived rows (the plan-invisible-leaf rule). */
  def probeEmbedDups(ix: EmbedDupIndex, batch: DataFrame,
                     threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val b = embedFinite(batch, ix.vecCol)
      .select((ix.idCol +: ix.vecCol +: ix.blockCols).map(col): _*)
      .localCheckpoint(true)
    val bsig = embedSigs(b, ix.idCol, ix.vecCol, ix.blockCols,
      ix.bands, ix.bits, ix.dim)
    val roots =
      if (ix.bucketRoots.nonEmpty) ix.bucketRoots else Seq(ix.buckets)
    val keyCols = ix.blockCols :+ "bk"
    val cand = roots
      .map(r => bsig.toDF("bid" +: keyCols: _*)
        .join(r.toDF("cid" +: keyCols: _*), keyCols)
        .select(col("bid"), col("cid")))
      .reduce(_ unionByName _).distinct()
    val scored = cand
      .join(b.select(col(ix.idCol).as("bid") +: col(ix.vecCol).as("__eb") +:
        ix.blockCols.map(col): _*), "bid")
      .join(ix.vectors.select(col(ix.idCol).as("cid"),
        col(ix.vecCol).as("__ec")), "cid")
      .withColumn("cos", cosine(col("__eb"), col("__ec")))
      .filter(col("cos") >= threshold)
    val w = Window.partitionBy("bid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("bid").as(ix.idCol) +: col("cid").as("dup_of") +:
        ix.blockCols.map(col) :+ col("cos"): _*)
  }

  /** Session-scoped stored-index location for a dataset tag
    * ([[StoredIndex.dirFor]], `edix_` namespace). */
  def embedDupIndexDir(s: SparkSession, tag: String): String = EmbedDup.dirFor(s, tag)

  /** PERSIST the [[EmbedDupIndex]] for a corpus under `dir`:
    *  - `vectors.parquet` (idCol, vecCol, blockCols...): the
    *    hygiene-filtered corpus vectors the probe's cosine verify joins;
    *  - `buckets/`: the banded bucket rows (idCol, blockCols..., bk) as
    *    a table BUCKETED BY (`bk`, blockCols) — ALL of the candidate
    *    join's keys ([[Scale.writeBucketed]]): since Spark 3.3
    *    co-partitioning requires every cluster key by default
    *    (spark.sql.requireAllClusterKeysForCoPartition), so a bucket spec
    *    on bk alone is planner-disabled for the (blockCols, bk) join;
    *  - `manifest.json`: corpus identity + FROZEN banding parameters
    *    ([[EmbedDupManifest]]).
    * Build cost: one corpus banding pass + one identity scan. Run once
    * per corpus snapshot; every later session [[embedDupIndexLoad]]s and
    * pays only its own batches. */
  def embedDupIndexWrite(corpus: DataFrame, idCol: String, vecCol: String,
                         blockCols: Seq[String], dir: String,
                         bands: Int = EmbedBands,
                         targetOccupancy: Long = EmbedOccupancy,
                         dim: Int = EmbedDim, buckets: Int = 16): Unit = {
    val (n, fp, _) = StoredIndex.fingerprint(corpus, idCol, vecCol)
    require(n > 0, "embedDupIndexWrite: empty corpus")
    val ix = embedDupIndex(corpus, idCol, vecCol, blockCols, bands,
      targetOccupancy, dim)
    ix.vectors.write.mode("overwrite").parquet(s"$dir/vectors.parquet")
    Scale.writeBucketed(ix.buckets, EmbedDup.table(dir), s"$dir/buckets", buckets,
      "bk" +: blockCols)
    EmbedDup.publishBuild(dir, EmbedDupManifest(StoredIndex.CommitLog(n, fp), bands,
      ix.bits, dim, buckets, idCol, vecCol, corpus.schema(idCol).dataType.sql,
      blockCols, blockCols.map(c => corpus.schema(c).dataType.sql)),
      corpus, (idCol, vecCol), blockCols, bands, targetOccupancy)
  }

  /** Serve a stored embed index: vectors from parquet, the base bucket
    * rows through the catalog's BUCKETED table, one bucket root per
    * committed append batch. O(metadata) — no probe ever re-bands the
    * corpus. */
  def embedDupIndexLoad(s: SparkSession, dir: String): EmbedDupIndex = {
    val m = EmbedDup.load(dir, "embedDupIndexLoad")
    val roots = Scale.bucketedTable(s, EmbedDup.table(dir), s"$dir/buckets", m.buckets,
      "bk" +: m.blockCols,
      ((m.idCol -> m.idType) +: m.blockCols.zip(m.blockTypes)) :+ ("bk" -> "BIGINT")) +:
      EmbedDup.batchPaths(dir, m, "buckets.parquet").map(s.read.parquet(_))
    val vectors = (s"$dir/vectors.parquet" +: EmbedDup.batchPaths(dir, m, "vectors.parquet"))
      .map(s.read.parquet(_)).reduce(_ unionByName _)
    EmbedDupIndex(m.idCol, m.vecCol, m.blockCols, m.bands, m.bits, m.dim,
      vectors, roots.reduce(_ unionByName _), roots)
  }

  /** Trust check for a stored embed index ([[StoredIndex.valid]]): the
    * banding parameters and columns equal, the corpus identical. */
  def embedDupValid(corpus: DataFrame, idCol: String, vecCol: String,
                    blockCols: Seq[String], dir: String,
                    bands: Int = EmbedBands,
                    targetOccupancy: Long = EmbedOccupancy): Boolean =
    EmbedDup.valid(dir, corpus, (idCol, vecCol), blockCols, bands, targetOccupancy) { m =>
      m.bands == bands && m.idCol == idCol && m.vecCol == vecCol &&
        m.blockCols == blockCols
    }

  /** [[embedDupIndexWrite]] unless a VALID stored index for exactly this
    * corpus is present, then [[embedDupIndexLoad]]. */
  def embedDupIndexIfAbsent(corpus: DataFrame, idCol: String, vecCol: String,
                            blockCols: Seq[String], dir: String,
                            bands: Int = EmbedBands,
                            targetOccupancy: Long = EmbedOccupancy,
                            dim: Int = EmbedDim,
                            buckets: Int = 16): EmbedDupIndex = {
    if (!embedDupValid(corpus, idCol, vecCol, blockCols, dir, bands,
        targetOccupancy))
      embedDupIndexWrite(corpus, idCol, vecCol, blockCols, dir, bands,
        targetOccupancy, dim, buckets)
    embedDupIndexLoad(corpus.sparkSession, dir)
  }

  /** INCREMENTAL maintenance of the stored embed index: band a batch of
    * ACCEPTED vectors with the FROZEN bits and append bucket + vector
    * rows — the [[StoredIndex]] append. O(batch); the corpus artifacts
    * are never touched. The frozen-bits drift contract mirrors the text
    * family's frozen census: bucket occupancy decays with `appendedRows /
    * rows`, the manifest fraction is the alert, re-[[embedDupIndexWrite]]
    * is the remedy. */
  def embedDupAppend(batch: DataFrame, dir: String): Unit =
    EmbedDup.publish(dir, embedDupAppendStage(batch, dir))

  /** Append phase 1 — STAGE the batch's bucket and vector rows
    * ([[StoredIndex.stage]]). */
  private[graft] def embedDupAppendStage(batch: DataFrame, dir: String)
      : Option[(EmbedDupManifest, String, Long, Long)] = {
    val m = EmbedDup.load(dir, "embedDupAppend")
    val (bn, bfp, _) = StoredIndex.fingerprint(batch, m.idCol, m.vecCol)
    EmbedDup.stage(dir, m, bn, bfp) { staging =>
      val b = embedFinite(batch, m.vecCol)
        .select((m.idCol +: m.vecCol +: m.blockCols).map(col): _*)
        .localCheckpoint(true)
      embedSigs(b, m.idCol, m.vecCol, m.blockCols, m.bands, m.bits, m.dim)
        .write.mode("overwrite").parquet(s"$staging/buckets.parquet")
      b.write.mode("overwrite").parquet(s"$staging/vectors.parquet")
    }
  }

  /** MAINTENANCE fold for the stored embed index: compact every
    * committed [[embedDupAppend]] batch root into ONE
    * ([[StoredIndex.compact]]). Without it [[probeEmbedDups]] pays one
    * candidate join PER ROOT per probe; after the fold it pays exactly
    * two (bucketed base + compacted root). Probe-IDENTICAL by
    * construction: bands/bits are FROZEN in the manifest and the fold is
    * pure layout (DedupSpec pins exact equality against a never-compacted
    * twin, and the registered dedup_embed_index_compact query carries a
    * full DuckDB oracle). Keeps `appendedRows`: frozen-bits occupancy
    * drift is a property of the BUILD, which only a
    * re-[[embedDupIndexWrite]] refits. */
  def embedDupCompact(s: SparkSession, dir: String): Unit =
    EmbedDup.compact(s, dir, "embedDupCompact") { (m, staging) =>
      val expect = EmbedDup.readBatches(s, dir, m, "buckets.parquet").count()
      // file count tracks the base table's bucket count — the appended
      // mass is the small side, this only bounds small-file growth
      EmbedDup.readBatches(s, dir, m, "buckets.parquet")
        .repartition(m.buckets, ("bk" +: m.blockCols).map(col): _*)
        .write.mode("overwrite").parquet(s"$staging/buckets.parquet")
      EmbedDup.readBatches(s, dir, m, "vectors.parquet")
        .write.mode("overwrite").parquet(s"$staging/vectors.parquet")
      ("buckets.parquet", expect)
    }

  /** ONE-ROW health report over a stored embed index: the shared
    * [[StoredIndex.stats]] columns (the frozen-bits drift alert), then
    * the banding parameters and artifact row counts (parquet metadata
    * counts — no vector bytes read). */
  def embedDupStats(s: SparkSession, dir: String): DataFrame = {
    val m = EmbedDup.load(dir, "embedDupStats")
    EmbedDup.stats(s, m, "bands" -> m.bands, "bits" -> m.bits, "dim" -> m.dim,
      "base_buckets" -> s.read.parquet(s"$dir/buckets").count(),
      "appended_buckets" ->
        EmbedDup.batchPaths(dir, m, "buckets.parquet").map(s.read.parquet(_).count()).sum)
  }

  /** Maximum sign bits per band: caps the dynamic knob at 2^20 buckets —
    * target occupancy holds up to targetOccupancy·2^20 (≈16M at the
    * default) rows per semantic block before buckets start growing with
    * the corpus again (raise for bigger decades). */
  val EmbedBitsMax = 20

  /** [[embedPairsBanded]]'s default knobs, NAMED so the generated DuckDB
    * oracle derives from the same constants the engine defaults to — a
    * default change can never desynchronize the twin silently (it either
    * tracks or the oracle compare fails loudly). */
  val EmbedBands = 4
  val EmbedDim = 64
  val EmbedOccupancy = 16L

  /** The bits-vs-corpus-size law shared by [[embedPairsBanded]] and its
    * generated DuckDB oracle: smallest b in 1..[[EmbedBitsMax]] with
    * targetOccupancy·2^b ≥ n — ceil(log₂(n/targetOccupancy)) spelled as
    * pure INTEGER comparisons, because float log2 can differ a ULP
    * between engines exactly at powers of two, flipping the bucket count
    * on one side only. */
  def embedBits(n: Long, targetOccupancy: Long): Int =
    (1 to EmbedBitsMax).find(b => (targetOccupancy << b) >= n)
      .getOrElse(EmbedBitsMax)

  /** Embedding-cosine near-dup pairs with a BOUNDED blocking key: the
    * semantic key(s) composed with a banded sign-LSH bucket of the vector
    * itself. The blocking key is the scale knob: verifying every pair
    * within a block costs Σ_b |b|·(|b|−1)/2 candidates, quadratic in
    * corpus size at a fixed key granularity (10 labels: 199,666 pairs at
    * sf0.1 → 20,056,600 at 10× data), and a finer key divides it. Candidates =
    * pairs sharing the semantic key AND at least one of `bands` bucket
    * values (each `bits` hyperplane sign bits, the same fixed-seed plane
    * generator as [[Similarity.lshKnn]]); every candidate is exactly
    * cosine-verified against `threshold`.
    *
    * `bits` is NOT fixed: it grows with the corpus as
    * ceil(log₂(n/targetOccupancy)) — the [[embedBits]] integer law, one
    * O(1)-output count scan to read n — so expected per-(band, key)
    * bucket size stays at targetOccupancy whatever the corpus size, and
    * candidate work Σ_blocks |b|² ≈ bands·n·targetOccupancy stays LINEAR
    * in n. The quadratic blow-up of label-only blocking (100× pairs at
    * 10× data, BENCH_SCALING) is gone by
    * construction; BENCH_SCALING pins the measured drop.
    *
    * Why a sign-LSH component and not an IVF cell: bucket assignment is
    * O(bands·bits·dim) per row — linear in corpus size with a log-growth
    * knob — where assigning n rows to an IVF codebook of
    * k = n/targetOccupancy cells costs O(n·k·dim) = quadratic in n. And
    * hyperplane signs are portable doubles (same left-to-right fold both
    * engines), so the blocking is DuckDB-reproducible and the query
    * keeps its full hash oracle — an MLlib-fit codebook is not.
    *
    * Recall for a pair at angle θ is 1 − (1 − (1 − θ/π)^bits)^bands:
    * ≥ 0.999 for true near-dups (cos ≥ 0.99) even at bits = 20, by
    * design NOT a recall path for far pairs (cos ≈ threshold ≈ 0.35) —
    * those are what the bound deliberately prunes; DedupSpec's
    * planted-near-dup case is the recall guard. THE OUTPUT CONTRACT IS
    * THEREFORE APPROXIMATE below the near-dup regime: a mid-range pair
    * (cos between `threshold` and ≈0.99) appears only if it collides in
    * a band, so the result is a plane-seed-dependent SUBSET of
    * the exact label-blocked pair set (every same-label pair with cos ≥
    * `threshold`) — by design (those
    * pairs are what the bound prunes to stay linear), and mirrored
    * exactly by the generated oracle. Consumers needing ALL pairs ≥ a
    * mid-range threshold must cosine-verify every pair of a block key
    * they can afford quadratically.
    *
    * Input hygiene, identical on both engines: null vectors and vectors
    * with any non-finite element are excluded up front (sign-bit buckets
    * diverge cross-engine on NaN — Spark's `NaN >= 0` is false while
    * DuckDB orders NaN above all doubles). The check is the codegen'd
    * finiteness of Σxᵢ² (finite iff every element is finite — a sum of
    * squares cannot cancel), not an interpreted per-element lambda. */
  def embedPairsBanded(df: DataFrame, idCol: String, vecCol: String,
                       blockCols: Seq[String], threshold: Double,
                       bands: Int = EmbedBands,
                       targetOccupancy: Long = EmbedOccupancy,
                       dim: Int = EmbedDim): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    // materialized once: feeds the count, BOTH banding sides, and both
    // verify joins (same iterative-plan hygiene as ngramJaccardPairs)
    val base = embedFinite(df, vecCol)
      .select((idCol +: vecCol +: blockCols).map(col): _*)
      .localCheckpoint(true)
    val bits = embedBits(base.count(), targetOccupancy)
    // All bands' signatures in ONE native pass over the vector
    // ([[embedSigs]]); equal composed `bk` is exactly equal
    // (band_idx, band_val), so the self-join on it is the banding.
    val banded = embedSigs(base, idCol, vecCol, blockCols, bands, bits, dim)
    val x = banded.toDF("v1" +: blockCols :+ "bk": _*)
    val y = banded.toDF("v2" +: blockCols.map(_ + "__r") :+ "bk__r": _*)
    val on = blockCols.map(c => col(c) === col(c + "__r")).reduce(_ && _) &&
      col("bk") === col("bk__r") && col("v1") < col("v2")
    val cand = x.join(y, on)
      .select((Seq("v1", "v2") ++ blockCols).map(col): _*).distinct()
    cand
      .join(base.select(col(idCol).as("v1"), col(vecCol).as("__e1")), "v1")
      .join(base.select(col(idCol).as("v2"), col(vecCol).as("__e2")), "v2")
      .withColumn("cos", cosine(col("__e1"), col("__e2")))
      .filter(col("cos") >= threshold)
      .select((Seq("v1", "v2") ++ blockCols :+ "cos").map(col): _*)
  }
}
