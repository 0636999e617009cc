package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.Tables

/** Similarity-search bindings to the `embeddings` table; reusable operators
  * in [[Similarity]]. Query set = every 50th vector. */
object SimilarityQueries {

  private val K = 5

  /** The DuckDB twins of the codegen'd vector folds
    * ([[graft.expressions]]), one set for every oracle: `list_sum`
    * folds in list order, so a left-to-right double sum over the common
    * prefix of `a` and `b` is bit-identical to the expressions' loops. */
  private def prefixSum(a: String, b: String, term: String): String =
    s"list_sum(list_transform(range(1, least(len($a), len($b)) + 1), i -> $term))"
  private def d(v: String) = s"CAST($v[i] AS DOUBLE)"

  /** Twin of [[graft.expressions.VecDot]]. */
  private[operators] def dotSql(a: String, b: String): String =
    prefixSum(a, b, s"${d(a)} * ${d(b)}")

  /** Twin of [[graft.expressions.VecDistSq]]. */
  private[operators] def distSqSql(a: String, b: String): String =
    prefixSum(a, b, s"(${d(a)} - ${d(b)}) * (${d(a)} - ${d(b)})")

  /** Twin of [[graft.expressions.VecMaxAbs]] (order-independent max,
    * exact in both engines). */
  private[operators] def maxAbsSql(v: String): String =
    s"list_max(list_transform($v, x -> abs(CAST(x AS DOUBLE))))"

  /** Twin of [[graft.expressions.VecCosine]]: three sums over the common
    * prefix of `a` and `b`, then the identical d/sqrt(na*nb), which is
    * what makes exact-cosine queries oracleable. */
  private[operators] def cosineSql(a: String, b: String): String = {
    def s2(x: String, y: String) = prefixSum(a, b, s"${d(x)} * ${d(y)}")
    s"""CASE WHEN ${s2(a, a)} = 0 OR ${s2(b, b)} = 0 THEN 0.0
       |     ELSE ${s2(a, b)} / sqrt(${s2(a, a)} * ${s2(b, b)}) END""".stripMargin
  }

  /** The kNN oracle over the vectors `src(vec_id, emb)`, which `ctes`
    * (each followed by a comma) may define: every 50th vector's top K by
    * cosine, ties on neighbor_id. */
  private[operators] def knnSql(ctes: String, src: String, emb: String): String =
    s"""WITH ${ctes}q AS (SELECT vec_id AS q_id, $emb AS q_emb
       |           FROM $src WHERE vec_id % 50 = 0),
       |c AS (SELECT vec_id AS neighbor_id, $emb AS c_emb FROM $src),
       |r AS (SELECT q_id, neighbor_id,
       |        ${cosineSql("q_emb", "c_emb")} AS cos
       |      FROM c JOIN q ON q_id <> neighbor_id),
       |k AS (SELECT q_id, neighbor_id, cos,
       |        row_number() OVER (PARTITION BY q_id
       |                           ORDER BY cos DESC, neighbor_id) AS rank
       |      FROM r)
       |SELECT q_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       |  round(cos * 1e6) / 1e6 AS cosine
       |FROM k WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  private lazy val knnOracle = knnSql("", "embeddings", "embedding")

  private def vectors(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select("vec_id", "embedding")

  /** A kNN registration: `topK(s, dir, corpus, queries)` ranks every
    * 50th vector's neighbours as (q_id, rank, neighbor_id, cos); the
    * output is rank within the query vector and cosine rounded to 6
    * places. */
  private[operators] def knnQ(name: String, oracle: Option[String] = None, streaming: Boolean = false)(
      topK: (SparkSession, String, DataFrame, DataFrame) => DataFrame): Q =
    Q(name, (s, dir) => {
        val e = vectors(s, dir)
        topK(s, dir, e, e.filter(col("vec_id") % 50 === 0))
          .select(col("q_id"), col("rank"), col("neighbor_id"), r6(col("cos")).as("cosine"))
          .orderBy("q_id", "rank")
      }, oracle, streaming)

  private def probe(s: SparkSession, idx: String, queries: DataFrame): DataFrame =
    Similarity.ivfProbe(s, idx, queries, K, nprobe = 2)

  /** The stored IVF index under `tag`: built on the 90 % of `e` with
    * vec_id % 10 != 0, then grown by `grow` to the whole corpus. One
    * ivfValid(full corpus) gates the recipe, so session re-runs go
    * probe-only. */
  private def grownIndex(s: SparkSession, dir: String, e: DataFrame, tag: String)(
      grow: String => Unit): String = {
    val idx = Similarity.ivfIndexDir(s, dir + tag)
    if (!Similarity.ivfValid(e, idx, nlist = 16)) {
      Similarity.ivfBuild(e.filter(col("vec_id") % 10 =!= 0), idx, nlist = 16)
      grow(idx)
    }
    idx
  }

  private def appendRest(e: DataFrame)(idx: String): Unit =
    Similarity.ivfAppend(e.filter(col("vec_id") % 10 === 0), idx)

  /** The stored IVF index that `sim_knn_ivf_append`, `sim_ivf_stats` and
    * `sim_knn_stream` share by its `#append` tag: the other 10 % appended
    * in one batch. Whichever of the three runs first builds and the
    * others reuse, so they never rebuild the shared dir in turn. */
  private def appendedIndex(s: SparkSession, dir: String, e: DataFrame): String =
    grownIndex(s, dir, e, "#append")(appendRest(e))

  val all: Seq[Q] = Seq(
    // Exact brute-force top-k: the correctness baseline every ANN variant
    // is measured against (recall in SimilaritySpec). Oracle-checkable
    // because the cosine is bit-identical (see cosineSql) and rank ties
    // break on neighbor_id in both engines.
    knnQ("sim_knn", Some(knnOracle))((_, _, e, q) => Similarity.knn(e, q, K)),

    // Same contract through the bounded TopKAggregator buffer (map-side
    // partial top-k; shuffles k rows per partition×query instead of every
    // pair — the 100 TB ranking path). Shares sim_knn's oracle verbatim:
    // the two formulations must be indistinguishable in output.
    knnQ("sim_knn_topk", Some(knnOracle))((_, _, e, q) => Similarity.knnTopK(e, q, K)),

    // IVF variant through the PERSISTED index artifacts: offline fit
    // (codebook + cell-partitioned corpus written once per session as
    // parquet — Similarity.ivfBuildIfAbsent), online probe reading them
    // back (partition-pruned cell scan). The registered query IS the
    // serving path: after the first invocation builds the index, every
    // re-run measures probe-only cost — exactly the fit-once/probe-many
    // contract a 100 TB deployment runs (RECALL.md's serving benchmark has
    // the crossover where this beats exact).
    knnQ("sim_knn_ivf") { (s, dir, e, q) =>
      val idx = Similarity.ivfIndexDir(s, dir)
      Similarity.ivfBuildIfAbsent(e, idx, nlist = 16)
      probe(s, idx, q)
    },

    // The same stored index served from its int8 artifact alone
    // (cells_i8.parquet: quantized codes + per-vector scale, ~4× smaller
    // than the float cells): ONE stage — cosine(full-precision query,
    // stored codes) ranked directly over the pruned cells — no float-cell
    // read anywhere (the corpus scale cancels in cosine; a two-stage
    // coarse+rescore split measured slower, see Similarity.ivfProbeI8).
    // This is the IO-bound 100 TB serving tier; RECALL.md's serving
    // benchmark measures it against the float probe and exact. Sketch-family → rows-only check;
    // recall and round-trip are pinned in SimilaritySpec.
    knnQ("sim_knn_ivf_i8") { (s, dir, e, q) =>
      val idx = Similarity.ivfIndexDir(s, dir)
      Similarity.ivfBuildIfAbsent(e, idx, nlist = 16)
      Similarity.ivfProbeI8(s, idx, q, K, nprobe = 2)
    },

    // Incremental maintenance of the stored index: the corpus arrives in
    // two installments — build on the first, ivfAppend the second
    // (stored-codebook assignment, additive manifest update) — then probe
    // the appended index. ivfValid(full corpus) gates the build+append
    // pair: the appended manifest equals what a from-scratch union build
    // would stamp (fingerprint additivity), so session re-runs — and any
    // caller holding the union corpus — go probe-only, same contract as
    // sim_knn_ivf. Queries are every 50th vector, ALL of which land in
    // the appended batch (50 ≡ 0 mod 10), so the probe proves appended
    // rows are first-class: they are found and they find. Sketch family →
    // rows-only check; assignment ≡ stored-codebook argmin, manifest
    // additivity, and appended-row recall are pinned in SimilaritySpec.
    knnQ("sim_knn_ivf_append")((s, dir, e, q) => probe(s, appendedIndex(s, dir, e), q)),

    // STREAMING ingest into the stored index: the same 90/10 split as
    // sim_knn_ivf_append, but the arriving 10% lands through a
    // foreachBatch sink — one ivfAppend per micro-batch over the chunked
    // file feed (graft.streaming.IvfIngest) — then the probe serves the
    // stream-grown index. The manifest a stream ingest leaves is EXACTLY
    // the one-shot append's and the union build's (fingerprint
    // additivity + replay idempotence; SimilaritySpec pins all three
    // equal — the seventh streaming ≡ batch fact). ivfValid(union) gates
    // the build+ingest, so session re-runs go probe-only. Sketch family
    // → rows-only check.
    knnQ("sim_knn_ivf_stream", streaming = true) { (s, dir, e, q) =>
      val idx = grownIndex(s, dir, e, "#stream")(graft.streaming.IvfIngest.ingestChunked(
        e.filter(col("vec_id") % 10 === 0), "vec_id", _,
        graft.streaming.WeatherStream.stagingDir("ivf_ingest", dir)))
      probe(s, idx, q)
    },

    // COMPACTION of the appended index: the same 90/10 split as
    // sim_knn_ivf_append, but the arriving 10% lands as THREE separate
    // appends (three batch roots — the continuous-ingest file-count
    // problem in miniature) and ivfCompact folds them back to ONE root
    // before serving. Compaction is fingerprint-neutral (manifest
    // unchanged except the batch list), so ivfValid(union) still gates
    // rebuilds and session re-runs go probe-only; probe results are
    // pinned IDENTICAL across the fold (SimilaritySpec), and COMPACT.md
    // carries the measured file-count / probe-wall deltas at the 2×10⁶
    // decade. Sketch family → rows-only check.
    knnQ("sim_knn_ivf_compact") { (s, dir, e, q) =>
      val idx = grownIndex(s, dir, e, "#compact") { idx =>
        Seq(0, 10, 20).foreach(r =>
          Similarity.ivfAppend(e.filter(col("vec_id") % 30 === r), idx))
        Similarity.ivfCompact(s, idx)
      }
      probe(s, idx, q)
    },

    // INDEX HEALTH GAUGE: the one-row operational report over the stored
    // appended index — manifest staleness (appended_fraction) PLUS the
    // cell-occupancy census whose appended_top_share is the measured
    // distribution-shift alert (RECALL.md shift mode: stationary 2.7%
    // vs shifted 53.6% top-20 share at the 2×10⁶ decade). The census
    // scans only the `cell` partition column (footer reads, no vector
    // bytes), so the gauge is safe to run concurrently with serving.
    // Reads sim_knn_ivf_append's index (appendedIndex) — the gauge is
    // exactly "run health checks against the index you serve", and a
    // second full build per session would be pure waste at the big
    // decades. Rows-only check; the census
    // arithmetic and the shift alert behavior are pinned in
    // SimilaritySpec.
    Q("sim_ivf_stats",
      (s, dir) => {
        val idx = appendedIndex(s, dir, vectors(s, dir))
        // topCells = 2 at nlist = 16 (the default 20 would cover every
        // cell of this small codebook and report a constant 1.0; a
        // deployment at nlist = √n keeps the default)
        Similarity.ivfStats(s, idx, topCells = 2)
      },
      None),

    // STREAMING ANN enrichment: arriving QUERY vectors probed per
    // micro-batch against the STORED appended index (foreachBatch →
    // ivfProbe) — the serving-side streaming fact, where
    // sim_knn_ivf_stream covers the ingest side. Licensed by per-left-row
    // independence (SURVEY §7.3j): every output row depends only on its
    // own query vector and the static stored index, so the union over
    // micro-batches equals the one-shot probe under ANY chunking
    // (SimilaritySpec pins the drained stream ≡ one-shot — the TENTH
    // streaming ≡ batch fact). Serves sim_knn_ivf_append's index
    // (appendedIndex). Inside foreachBatch the micro-batch
    // frame is RDD-backed, so probeCells pins it (the r15 leaf rule) —
    // the probe's collected cell set and join side always read the same
    // arrived rows. Replay-idempotent (each micro-batch overwrites its
    // own batch=<id> output dir). Sketch family → rows-only check.
    knnQ("sim_knn_stream", streaming = true) { (s, dir, e, q) =>
      import graft.streaming.WeatherStream
      val idx = appendedIndex(s, dir, e)
      val input = WeatherStream.chunkedFileFeedDF(
        q, "vec_id", WeatherStream.stagingDir("knn_stream", dir))
      WeatherStream.drain(input.df, "sim_knn_stream",
        WeatherStream.PerBatch(probe(s, idx, _)), input)
    },

    // HOT-CELL PARTIAL REFIT of the stored index — the maintenance loop
    // the sim_ivf_stats gauge opens, closed: build on 90%, append the
    // 10%, then Similarity.ivfRefit splits the fullest cells (here
    // capFactor = 1.0 / maxSplit = 4 so a split always happens on the
    // test corpus's never-perfectly-uniform cells; a deployment keeps
    // the 4× default and lets the gauge trigger it) via LOCAL 2-means on
    // each hot cell's own rows — O(hot cells), not the O(corpus) rebuild
    // that was previously the only remedy for the measured 53.6%
    // shift-mode concentration (RECALL.md). The probe then serves the
    // refit index: grown codebook (codebook_v1), refit root, pre-refit
    // roots excluding the split cells (the manifest `refits` read rule).
    // ivfValid(union) still gates — a refit preserves rows/fingerprint
    // exactly (only cell labels move) and compares nlist against the
    // BUILT nlist — so session re-runs go probe-only like the rest of
    // the family. Sketch family → rows-only check; row-multiset
    // preservation, probe recall vs exact, census improvement, and the
    // crash/CAS seams are pinned in SimilaritySpec.
    knnQ("sim_knn_ivf_refit") { (s, dir, e, q) =>
      val idx = grownIndex(s, dir, e, "#refit") { idx =>
        appendRest(e)(idx)
        Similarity.ivfRefit(s, idx, capFactor = 1.0, maxSplit = 4)
      }
      probe(s, idx, q)
    },

    // Approximate top-k via multi-table hyperplane LSH (8 tables × 8 bits).
    knnQ("sim_knn_lsh")((_, _, e, q) => Similarity.lshKnn(e, q, K)),
  )
}
