package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.Tables

/** Deduplication pack bindings to the test tables (NS mandate); the
  * reusable operators live in [[Dedup]].
  *
  * Scale design: near-dup candidate generation is always a bucket equi-join
  * (LSH bands / shared shingles / label blocks) — the quadratic blow-up is
  * confined to same-bucket groups, and exact verification (Jaccard /
  * hamming / cosine) runs only on candidates. Parameters (32 perms, 8×4
  * bands) are tuned for the planted near-dup band (J ≈ 0.98) in the test
  * corpus but scale-independent.
  */
object DedupQueries {

  /** The DuckDB shingles every text-dedup oracle starts from: CTE `sh0`,
    * the distinct 3-word shingles of each document with at least 3
    * non-empty words. */
  private val shingleCtes =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
      |  FROM documents),
      |sh0 AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(words) - 1), i -> array_to_string(words[i:i+2], ' ')))) AS shingle
      |  FROM w WHERE len(words) >= 3)""".stripMargin

  /** Shared prelude for the exact-Jaccard oracles. Mirrors
    * [[Dedup.ngramJaccardPairs]] exactly, INCLUDING the stop-shingle
    * guard (drop shingles with df > max(10% of docs, 5) before pair
    * counting; per-doc sizes over the capped space) — the engine and the
    * oracle must keep identical semantics on any corpus, not just ones
    * where the guard is a no-op. */
  private val shinglesSql =
    s"""$shingleCtes,
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM sh0),
      |hot AS (
      |  SELECT shingle FROM sh0 CROSS JOIN nd
      |  GROUP BY shingle, n_docs
      |  HAVING count(DISTINCT doc_id) > greatest(0.1 * n_docs, 5)),
      |sh AS (SELECT doc_id, shingle FROM sh0
      |       WHERE shingle NOT IN (SELECT shingle FROM hot)),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** DuckDB twin of [[Dedup.simhashPortablePairs]] — generated so the 60
    * per-bit sums and the signature assembly stay structurally identical
    * to the Spark side. */
  private val simhashVerifySql: String = {
    val sCols = (0 until 60)
      .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i")
      .mkString(", ")
    val sigExpr = (0 until 60)
      .map(i => s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" | ")
    s"""WITH wc AS (
       |  SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |        FROM documents)),
       |bits AS (SELECT doc_id, $sCols FROM wc GROUP BY doc_id),
       |sigs AS (SELECT doc_id, $sigExpr AS sig FROM bits),
       |banded AS (
       |  SELECT doc_id, sig, b.band_idx, (sig >> (15 * b.band_idx)) & 32767 AS band_val
       |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_idx) b)
       |SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
       |  CAST(bit_count(xor(x.sig, y.sig)) AS INTEGER) AS hamming
       |FROM banded x JOIN banded y
       |  ON x.band_idx = y.band_idx AND x.band_val = y.band_val AND x.doc_id < y.doc_id
       |ORDER BY d1, d2""".stripMargin
  }

  /** Oracle shared by docs_decontam and docs_decontam_bloom — the two
    * registered spellings are result-identical by construction (the bloom
    * pass only PRUNES the exact join's probe side; false positives are
    * removed by the join, and a bloom has no false negatives). */
  private[operators] val decontamSql =
    s"""$shingleCtes,
      |bench AS (SELECT DISTINCT shingle FROM sh0 WHERE doc_id % 23 = 0),
      |per AS (
      |  SELECT s.doc_id, count(*) AS n_shingles, count(b.shingle) AS n_hits
      |  FROM sh0 s LEFT JOIN bench b USING (shingle)
      |  WHERE s.doc_id % 23 <> 0
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(n_shingles, 0) AS n_shingles,
      |  coalesce(n_hits, 0) AS n_hits,
      |  round(CASE WHEN coalesce(n_shingles, 0) = 0 THEN 0.0
      |             ELSE CAST(n_hits AS DOUBLE) / n_shingles END * 1e6) / 1e6
      |    AS contam_frac,
      |  CAST(CASE WHEN coalesce(n_shingles, 0) > 0
      |             AND CAST(n_hits AS DOUBLE) / n_shingles >= 0.5
      |        THEN 1 ELSE 0 END AS INT) AS contaminated
      |FROM documents d LEFT JOIN per USING (doc_id)
      |WHERE d.doc_id % 23 <> 0
      |ORDER BY d.doc_id""".stripMargin

  /** Oracle shared by dedup_incremental, dedup_incremental_stream, and
    * sql_neardup_probe — the streaming spelling unions per-micro-batch
    * probes of the SAME static corpus index and each output row depends
    * only on its own batch doc ([[Dedup.probeNearDups]]); the SQL-text
    * spelling probes the same stored artifacts through the catalog. All
    * three are result-identical to this one batch SQL by construction. */
  private[operators] val incrementalSql =
    s"""$shingleCtes,
      |cs0 AS (SELECT * FROM sh0 WHERE doc_id % 10 <> 0),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM cs0),
      |hot AS (
      |  SELECT shingle FROM cs0 CROSS JOIN nd
      |  GROUP BY shingle, n_docs
      |  HAVING count(DISTINCT doc_id) > greatest(0.1 * n_docs, 5)),
      |cs AS (SELECT * FROM cs0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
      |bs AS (SELECT * FROM sh0 WHERE doc_id % 10 = 0
      |       AND shingle NOT IN (SELECT shingle FROM hot)),
      |szc AS (SELECT doc_id, count(*) AS n FROM cs GROUP BY 1),
      |szb AS (SELECT doc_id, count(*) AS n FROM bs GROUP BY 1),
      |p AS (SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS inter
      |      FROM bs b JOIN cs c ON b.shingle = c.shingle GROUP BY 1, 2),
      |j AS (
      |  SELECT bid, cid, inter, sb.n AS n_batch, sc.n AS n_corpus,
      |         CAST(inter AS DOUBLE) / (sb.n + sc.n - inter) AS jac
      |  FROM p JOIN szb sb ON sb.doc_id = bid JOIN szc sc ON sc.doc_id = cid
      |  WHERE CAST(inter AS DOUBLE) / (sb.n + sc.n - inter) >= 0.5),
      |r AS (
      |  SELECT bid, cid, inter, n_batch, n_corpus, jac,
      |         row_number() OVER (PARTITION BY bid ORDER BY jac DESC, cid) AS rn
      |  FROM j)
      |SELECT bid AS doc_id, cid AS dup_of, inter, n_batch, n_corpus,
      |       round(jac * 1e6) / 1e6 AS jaccard
      |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: `decontaminate(corpus, benchmark, id,
    * text)` over every 23rd doc as the benchmark and the rest as corpus. */
  private def decontamQ(name: String)(
      decontaminate: (DataFrame, DataFrame, String, String) => DataFrame): Q =
    Q(name,
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        decontaminate(
            docs.filter(col("doc_id") % 23 =!= 0),
            docs.filter(col("doc_id") % 23 === 0), "doc_id", "text")
          .select(col("doc_id"), col("n_shingles"), col("n_hits"),
            r6(col("contam_frac")).as("contam_frac"), col("contaminated"))
          .orderBy("doc_id")
      },
      Some(decontamSql))

  /** The stored near-dup index over the 90 % corpus (doc_id % 10 != 0)
    * that dedup_incremental, its stream and sql_neardup_probe share:
    * whichever runs first builds, the others validate and load. */
  private[operators] def incrementalIndex(s: SparkSession, dir: String,
                                          docs: DataFrame): Dedup.NearDupIndex =
    Dedup.nearDupIndexIfAbsent(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
      Dedup.nearDupIndexDir(s, dir))

  /** A near-dup probe's output: each batch doc's best corpus match. */
  private def nearDupOut(probed: DataFrame): DataFrame =
    probed.select(col("doc_id"), col("dup_of"), col("inter"),
      col("n_batch"), col("n_corpus"), r6(col("jaccard")).as("jaccard"))

  /** The stored embed index over the 90 % corpus (vec_id % 10 != 0)
    * that dedup_embed_incremental, its stream and sql_embed_probe share. */
  private[operators] def embedIncrementalIndex(s: SparkSession, dir: String,
                                               e: DataFrame): Dedup.EmbedDupIndex =
    Dedup.embedDupIndexIfAbsent(
      e.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
      Seq("label"), Dedup.embedDupIndexDir(s, dir))

  /** An embed probe's output: each batch vector's best blocked match. */
  private def embedDupOut(probed: DataFrame): DataFrame =
    probed.select(col("vec_id"), col("dup_of"), col("label"),
      r6(col("cos")).as("cosine"))

  private[operators] def embedVectors(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select("vec_id", "label", "embedding")

  val all: Seq[Q] = Seq(
    // Exact dedup with a deterministic keeper (earliest row per key) — the
    // reproducible spelling of dropDuplicates(keys).
    Q("dedup_exact",
      (s, dir) => Dedup.exactDedup(Tables.events(s, dir),
          Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_type"), col("event_id"),
                unix_micros(col("ts")).as("ts_us"))
        .orderBy("user_id", "event_type"),
      Some("""SELECT user_id, event_type, event_id, ts_us FROM (
             |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
             |    row_number() OVER (PARTITION BY user_id, event_type
             |                       ORDER BY ts, event_id) AS rn
             |  FROM events)
             |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),

    // Exact dedup as a STREAMING fact: dropDuplicates over the chunked
    // file feed — state is the key set, each distinct (user_id,
    // event_type) is emitted exactly once across micro-batches. Output
    // carries ONLY the key columns: which arrival within a batch is kept
    // is partition-order-arbitrary, so the keyset is the part of the
    // contract that is deterministic (and it equals the batch DISTINCT —
    // the fourth streaming ≡ batch ≡ DuckDB fact, covering streaming
    // dedup state).
    StreamQ("dedup_keys_stream",
      (s, dir) => {
        import graft.streaming.WeatherStream
        val ev = Tables.events(s, dir)
          .select(col("ts"), col("user_id"), col("event_type"))
        val input = WeatherStream.chunkedFileFeedDF(
          ev, "ts", WeatherStream.stagingDir("dedup_keys", dir))
        WeatherStream.drain(input.df.dropDuplicates("user_id", "event_type"),
          "dedup_keys_stream", WeatherStream.FileSink(), input)
          .select(col("user_id"), col("event_type"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY user_id, event_type""".stripMargin)),

    // Normalized-text exact dedup: hash-groupBy on a canonicalized digest.
    Q("dedup_text",
      (s, dir) => Tables.documents(s, dir)
        .groupBy(md5(lower(trim(col("text"))).cast("binary")).as("text_hash"))
        .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy("text_hash"),
      Some("""SELECT md5(lower(trim(text))) AS text_hash,
             |  min(doc_id) AS keeper_doc_id, count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin)),

    // n-gram Jaccard near-dup: integer intersection/union counts are fully
    // deterministic, hence oracle-checkable.
    Q("dedup_ngram",
      (s, dir) => Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text")
        .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
                r6(col("jaccard")).as("jaccard"))
        .orderBy("d1", "d2"),
      Some(s"""$shinglesSql,
              |p AS (
              |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
              |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT d1, d2, inter, sa.n AS n1, sb.n AS n2,
              |  round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
              |FROM p JOIN sz sa ON sa.doc_id = d1 JOIN sz sb ON sb.doc_id = d2
              |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
              |ORDER BY d1, d2""".stripMargin)),

    // Near-dup clusters: connected components over the exact-Jaccard pair
    // graph (min-label propagation), one row per doc with its canonical
    // survivor + cluster size. Oracle = recursive-CTE reachability over
    // the same deterministic pair graph.
    Q("dedup_cluster",
      (s, dir) => Dedup.nearDupClusters(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""${shinglesSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
              |pr AS (
              |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
              |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS MATERIALIZED (
              |  SELECT d1, d2 FROM pr
              |  JOIN sz sa ON sa.doc_id = d1 JOIN sz sb ON sb.doc_id = d2
              |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
              |-- MATERIALIZED is load-bearing at scale: DuckDB inlines CTEs,
              |-- so the recursive reach term would otherwise re-evaluate the
              |-- whole shingle->pair pipeline EVERY iteration (observed at the
              |-- 100x corpus: >60 GB of spill before filling the disk; with
              |-- materialization the closure runs over the ~25k-row edge list).
              |edges AS MATERIALIZED (
              |          SELECT d1 AS a, d2 AS b FROM pairs
              |          UNION ALL SELECT d2, d1 FROM pairs),
              |reach(node, r) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b),
              |lab AS (SELECT node AS doc_id, min(r) AS cluster_id
              |        FROM reach GROUP BY node),
              |sizes AS (SELECT cluster_id, count(*) AS cluster_size
              |          FROM lab GROUP BY 1)
              |SELECT doc_id, cluster_id, cluster_size
              |FROM lab JOIN sizes USING (cluster_id)
              |ORDER BY doc_id""".stripMargin)),

    // MinHash + LSH: no SQL oracle (hash-function specific); equivalence
    // with dedup_ngram's exact pair set is pinned in DedupSpec.
    Q("dedup_minhash",
      (s, dir) => Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text")
        .select(col("d1"), col("d2"), r6(col("j_est")).as("j_est"),
                r6(col("j_exact")).as("j_exact"))
        .orderBy("d1", "d2"),
      None),

    // Same pipeline through the typed Aggregator UDAF surface (SURVEY.md
    // §2B: custom-state aggregates use Aggregator[IN,BUF,OUT]).
    Q("dedup_minhash_agg",
      (s, dir) => Dedup.minhashPairsAgg(Tables.documents(s, dir), "doc_id", "text")
        .select(col("d1"), col("d2"), r6(col("j_est")).as("j_est"),
                r6(col("j_exact")).as("j_exact"))
        .orderBy("d1", "d2"),
      None),

    // SimHash near-dup: 4×16-bit band candidates, hamming verify.
    Q("dedup_simhash",
      (s, dir) => Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("d1", "d2"),
      None),

    // The simhash band + hamming machinery with a REAL cross-engine
    // oracle: token hashes are md5-prefix integers (portable), so DuckDB
    // reproduces signatures, band candidates and hamming distances
    // bit-for-bit — anchoring the sketch family dedup_simhash shares.
    Q("dedup_simhash_verify",
      (s, dir) => Dedup.simhashPortablePairs(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("d1", "d2"),
      Some(simhashVerifySql)),

    // Benchmark decontamination: per corpus doc, the fraction of its
    // 3-word shingles that appear in a held-out "benchmark" slice (every
    // 23rd doc). The benchmark side collapses to a broadcast set of
    // shingle hashes — one corpus scan, one per-doc-count shuffle, no
    // self-join (see Dedup.decontaminate for the 100 TB shape).
    decontamQ("docs_decontam")(Dedup.decontaminate(_, _, _, _)),

    // The same decontamination for the regime where even the benchmark's
    // DISTINCT shingle-hash set is past the broadcast threshold: a Bloom
    // filter over the benchmark hashes broadcasts instead (native
    // BloomMightContainLong probe in the corpus scan), and the exact
    // shuffle equi-join sees only the bloom-positive shingles. Output is
    // bit-identical to docs_decontam (no false negatives; the exact join
    // removes false positives), so both share one DuckDB oracle.
    decontamQ("docs_decontam_bloom")(Dedup.decontaminateBloom(_, _, _, _)),

    // Incremental dedup: every 10th doc arrives as a "new batch" and is
    // checked for near-dups against the remaining 90% "corpus" — the
    // daily-ingest shape: batch⋈corpus shingle equi-join only, the corpus
    // is never re-paired with itself. Served from the STORED index
    // artifact (Dedup.nearDupIndexIfAbsent): the first invocation builds
    // hot/shingles/sizes as parquet (shingles BUCKETED BY s — the
    // candidate join reads the corpus side exchange-free), every re-run
    // validates the manifest and goes probe-only — the same
    // fit-offline-once / probe-many contract as the sim_knn_ivf family,
    // and the output is identical to the in-session spelling (DedupSpec
    // pins stored ≡ in-session; the DuckDB oracle is unchanged).
    Q("dedup_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val ix = incrementalIndex(s, dir, docs)
        nearDupOut(Dedup.probeNearDups(ix, docs.filter(col("doc_id") % 10 === 0), "text"))
          .orderBy("doc_id")
      },
      Some(incrementalSql)),

    // STREAMING incremental dedup: the same 90/10 split, but the arriving
    // 10% lands as a STREAM (chunked feed, one probe per micro-batch)
    // against the corpus-side NearDupIndex built ONCE before the query
    // starts — the continuous-ingest spelling of dedup_incremental.
    // Per-batch-document independence (every output row depends only on
    // its own doc and the static index — Dedup.probeNearDups) means the
    // union over micro-batches equals the one-shot batch probe REGARDLESS
    // of chunking, so this shares dedup_incremental's DuckDB oracle
    // verbatim: the NINTH streaming ≡ batch fact. Replay-idempotent (each
    // micro-batch overwrites its own batch=<id> output dir).
    StreamQ("dedup_incremental_stream",
      (s, dir) => {
        import graft.streaming.WeatherStream
        val docs = Tables.documents(s, dir)
        // shares dedup_incremental's STORED index: a long-running ingest
        // restarts its probe loop without ever re-shingling the corpus
        // (the stored-artifact contract; at 100 TB the difference between
        // O(batch) and O(corpus) per restart)
        val ix = incrementalIndex(s, dir, docs)
        val input = WeatherStream.chunkedFileFeedDF(
          docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text"),
          "doc_id", WeatherStream.stagingDir("dedup_inc_stream", dir))
        WeatherStream.drain(input.df, "dedup_incremental_stream",
          WeatherStream.PerBatch(b => nearDupOut(Dedup.probeNearDups(ix, b, "text"))),
          input)
          .orderBy("doc_id")
      },
      Some(incrementalSql)),

    // INDEX HEALTH GAUGE for the stored near-dup index — the dedup
    // analogue of sim_ivf_stats: one row with the manifest identity, the
    // appended_fraction staleness signal (the census-drift alert —
    // Dedup.nearDupAppend's contract: the hot-shingle census is frozen
    // at build, and the candidate-space guarantee decays with exactly
    // this fraction), and artifact row counts (parquet metadata counts,
    // no shingle bytes read). The setup exercises the FULL maintenance
    // path: build on half the corpus, nearDupAppend the other half —
    // gated by nearDupValid(union) (fingerprint additivity: the appended
    // manifest equals a from-scratch union build's), so session re-runs
    // are gauge-only. Rows-only check; the append ≡ rebuild probe
    // equivalence and the gauge arithmetic are pinned in DedupSpec.
    Q("dedup_index_stats",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        val ixDir = Dedup.nearDupIndexDir(s, dir + "#append")
        if (!Dedup.nearDupValid(corpus, "doc_id", "text", ixDir)) {
          Dedup.nearDupIndexWrite(
            corpus.filter(col("doc_id") % 2 === 1), "doc_id", "text", ixDir)
          Dedup.nearDupAppend(corpus.filter(col("doc_id") % 2 === 0), ixDir)
        }
        Dedup.nearDupStats(s, ixDir)
      },
      None),

    // MAINTENANCE FOLD for the stored near-dup index — the dedup
    // analogue of sim_knn_ivf_compact: the corpus lands as a build plus
    // TWO appended batches (three deterministic thirds), the batch roots
    // are folded into one (Dedup.nearDupCompact: stage → promote →
    // atomic manifest commit, deferred sweep for reader grace), and the
    // arriving 10% is probed against the compacted index. Compaction is
    // pure layout — census, shingle multiset, and sizes unchanged — so
    // the probe is IDENTICAL to the uncompacted index's (DedupSpec pins
    // exact equality against a never-compacted twin; rows-only here
    // because the half-corpus census differs from dedup_incremental's
    // full-corpus one, so its oracle doesn't transfer). Session re-runs
    // validate the folded manifest (fingerprint additivity is
    // fold-invariant) and go probe-only.
    Q("dedup_index_compact",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        val ixDir = Dedup.nearDupIndexDir(s, dir + "#compact")
        if (!Dedup.nearDupValid(corpus, "doc_id", "text", ixDir)) {
          Dedup.nearDupIndexWrite(
            corpus.filter(col("doc_id") % 3 === 1), "doc_id", "text", ixDir)
          Dedup.nearDupAppend(corpus.filter(col("doc_id") % 3 === 2), ixDir)
          Dedup.nearDupAppend(corpus.filter(col("doc_id") % 3 === 0), ixDir)
          Dedup.nearDupCompact(s, ixDir)
        }
        nearDupOut(Dedup.probeNearDups(Dedup.nearDupIndexLoad(s, ixDir),
            docs.filter(col("doc_id") % 10 === 0), "text"))
          .orderBy("doc_id")
      },
      None),

    // Embedding-cosine near-dup with the BOUNDED blocking key: label
    // composed with a banded sign-LSH bucket of the vector (4 bands ×
    // ceil(log2(n/16)) bits — the knob GROWS with the corpus), candidates
    // exactly cosine-verified — the blocking key used as the scale knob
    // (expected bucket occupancy pinned at 16, so candidate pairs
    // grow linearly with the corpus where the label-only form grew as
    // block²; BENCH_SCALING pins the measured drop). Still fully
    // hash-oracled: hyperplane sign bits are the same left-to-right
    // double fold both engines, the bit-count law is pure integer
    // comparisons on both, and the cosine verify is bit-identical
    // (SimilarityQueries.cosineSql).
    //
    // OUTPUT CONTRACT — approximate below the near-dup regime: recall is
    // designed for true near-dups (cos >= ~0.99, the planted-dup spec);
    // mid-range pairs (cos between the 0.35 threshold and ~0.99) appear
    // only when they band-collide, so the result is a plane-seed-pinned
    // SUBSET of the exact label-blocked pair set — the pruning IS the
    // linear-scale bound, and the oracle mirrors it row-for-row.
    // Consumers who need every mid-range pair must verify every
    // same-label pair, quadratic per block.
    Q("dedup_embed",
      (s, dir) => {
        val e = embedVectors(s, dir)
        Dedup.embedPairsBanded(e, "vec_id", "embedding", Seq("label"), 0.35)
          .select(col("v1"), col("v2"), col("label"), r6(col("cos")).as("cosine"))
          .orderBy("v1", "v2")
      },
      Some(embedBandedSql)),

    // Incremental SEMANTIC dedup from the STORED embed index (the third
    // stored-artifact family): every 10th vector arrives as the "new
    // batch" and is probed for embedding-cosine near-dups against the
    // remaining 90% corpus, served from persisted artifacts
    // (Dedup.embedDupIndexIfAbsent — vectors.parquet + the BUCKETED-BY-(bk, blockCols)
    // banded bucket table + manifest). First invocation builds; every
    // re-run validates the manifest and goes probe-only — the
    // dedup_incremental contract applied to embeddings. Banding uses the
    // index's FROZEN bits (embedBits of the corpus count — the frozen
    // census analogue), which is exactly what the generated oracle's nb
    // CTE computes, so the probe keeps the full hash oracle: sign bits,
    // buckets, candidates and the verified cosine are all bit-identical
    // in DuckDB. Output = each batch vector's BEST blocked corpus match
    // (cos desc, corpus id asc) with NO threshold (-1): the registered
    // query is the candidate-ranking REPORT — the driver corpus plants
    // no true embedding near-dups, so a thresholded output would be
    // legitimately empty at small scales, and the dedup DECISION
    // (cosine >= the deployment's cutoff) belongs downstream of this
    // report anyway; the thresholded path (planted dups at 0.9) is
    // pinned in DedupSpec.
    Q("dedup_embed_incremental",
      (s, dir) => {
        val e = embedVectors(s, dir)
        val ix = embedIncrementalIndex(s, dir, e)
        embedDupOut(Dedup.probeEmbedDups(ix, e.filter(col("vec_id") % 10 === 0), -1.0))
          .orderBy("vec_id")
      },
      Some(embedIncrementalSql)),

    // STREAMING incremental semantic dedup: the same 90/10 split, but
    // the arriving 10% lands as a STREAM (chunked feed, one
    // Dedup.probeEmbedDups per micro-batch) against the stored embed
    // index built/validated ONCE before the query starts — the
    // continuous-ingest spelling of dedup_embed_incremental, sharing its
    // index dir (whichever runs first builds, the other loads).
    // Per-batch-row independence (every output row depends only on its
    // own vector and the static index) means the union over
    // micro-batches equals the one-shot probe under ANY chunking, so
    // this shares the batch DuckDB oracle verbatim — the ELEVENTH
    // streaming ≡ batch fact. Replay-idempotent (each micro-batch
    // overwrites its own batch=<id> output dir); the probe pins the
    // RDD-backed micro-batch frame (the plan-invisible-leaf rule).
    StreamQ("dedup_embed_incremental_stream",
      (s, dir) => {
        import graft.streaming.WeatherStream
        val e = embedVectors(s, dir)
        val ix = embedIncrementalIndex(s, dir, e)
        val input = WeatherStream.chunkedFileFeedDF(
          e.filter(col("vec_id") % 10 === 0), "vec_id",
          WeatherStream.stagingDir("embed_inc_stream", dir))
        WeatherStream.drain(input.df, "dedup_embed_incremental_stream",
          WeatherStream.PerBatch(b => embedDupOut(Dedup.probeEmbedDups(ix, b, -1.0))),
          input)
          .orderBy("vec_id")
      },
      Some(embedIncrementalSql)),

    // OPERATIONAL GAUGE for the stored embed index — the embed twin of
    // dedup_index_stats: build on half the corpus, embedDupAppend the
    // other half (gated by embedDupValid(union) — additive fingerprint,
    // so session re-runs are gauge-only), then one row of manifest
    // identity + staleness fraction + artifact row counts. Rows-only
    // check; the gauge arithmetic is pinned in DedupSpec.
    Q("dedup_embed_index_stats",
      (s, dir) => {
        val corpus = embedVectors(s, dir).filter(col("vec_id") % 10 =!= 0)
        val ixDir = Dedup.embedDupIndexDir(s, dir + "#eappend")
        if (!Dedup.embedDupValid(corpus, "vec_id", "embedding", Seq("label"), ixDir)) {
          Dedup.embedDupIndexWrite(corpus.filter(col("vec_id") % 2 === 1),
            "vec_id", "embedding", Seq("label"), ixDir)
          Dedup.embedDupAppend(corpus.filter(col("vec_id") % 2 === 0), ixDir)
        }
        Dedup.embedDupStats(s, ixDir)
      },
      None),

    // MAINTENANCE FOLD for the stored embed index — the embed twin of
    // dedup_index_compact: the corpus lands as a build plus TWO appended
    // batches (three deterministic thirds), the batch roots are folded
    // into one (Dedup.embedDupCompact: stage → promote → CAS'd manifest
    // commit, deferred sweep), and the arriving 10% is probed against
    // the compacted index. UNLIKE the text twin this stays FULLY
    // DuckDB-ORACLED: the fold is pure layout and the only build-subset
    // dependence is the frozen bit count, whose integer law the
    // generated oracle reproduces from the build subset's count(*)
    // (embedIncrementalSqlFor's nb CTE over `vec_id % 3 = 1`), so sign
    // bits, buckets, candidates and the verified cosine are all
    // bit-identical — fold-invariance proven by the oracle at every
    // scale, not just by the spec twin.
    Q("dedup_embed_index_compact",
      (s, dir) => {
        val e = embedVectors(s, dir)
        val corpus = e.filter(col("vec_id") % 10 =!= 0)
        val ixDir = Dedup.embedDupIndexDir(s, dir + "#ecompact")
        if (!Dedup.embedDupValid(corpus, "vec_id", "embedding", Seq("label"), ixDir)) {
          Dedup.embedDupIndexWrite(corpus.filter(col("vec_id") % 3 === 1),
            "vec_id", "embedding", Seq("label"), ixDir)
          Dedup.embedDupAppend(corpus.filter(col("vec_id") % 3 === 2), ixDir)
          Dedup.embedDupAppend(corpus.filter(col("vec_id") % 3 === 0), ixDir)
          Dedup.embedDupCompact(s, ixDir)
        }
        embedDupOut(Dedup.probeEmbedDups(Dedup.embedDupIndexLoad(s, ixDir),
            e.filter(col("vec_id") % 10 === 0), -1.0))
          .orderBy("vec_id")
      },
      Some(embedCompactSql)),
  )

  /** The banded-LSH CTEs every embed oracle starts from, generated to
    * band IDENTICALLY to the engine's shared [[Dedup.embedSigs]] /
    * [[Dedup.embedPairsBanded]] plane stride: `e` (the finite vectors,
    * failing loudly on a dimension other than the engine's), `nb` (the
    * bit count, [[Dedup.embedBits]]'s integer law as a generated CASE
    * chain over count(*) of `nbSource`), `sig` (per-band sign bits) and
    * `banded` (one row per vector and band). The plane constants are
    * spliced as shortest-round-trip double literals — both engines parse
    * them to the identical bit pattern and compute the same
    * left-to-right dot fold, so sign bits and band buckets match
    * exactly. Derived from the SAME named constants the engine defaults
    * to (Dedup.EmbedBands/EmbedDim/EmbedOccupancy/EmbedBitsMax): an
    * engine-side default change tracks automatically or fails the oracle
    * compare loudly — never a silent desync. */
  private def embedBandedCtes(nbSource: String): String = {
    val (bands, dim, occ, bitsMax) =
      (Dedup.EmbedBands, Dedup.EmbedDim, Dedup.EmbedOccupancy, Dedup.EmbedBitsMax)
    val ps = Similarity.planes(bands, bitsMax, dim)
    def dotPlane(p: Int): String = {
      val lst = ps(p).mkString("[", ", ", "]")
      s"""list_sum(list_transform(range(1, ${dim + 1}),
         |        i -> CAST(embedding[i] AS DOUBLE) * (CAST($lst AS DOUBLE[]))[i]))""".stripMargin
    }
    val bitsCase = (1 until bitsMax)
      .map(b => s"WHEN nn <= ${occ << b} THEN $b").mkString(" ")
    def bandVal(b: Int): String = (0 until bitsMax).map { j =>
      s"(CASE WHEN $j < nb.bits AND ${dotPlane(b * bitsMax + j)} >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", "\n      + ", ")")
    val bandCols = (0 until bands).map(b => s"${bandVal(b)} AS b$b").mkString(",\n    ")
    val bandCase = (0 until bands).map(b => s"WHEN $b THEN b$b").mkString(" ")
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    CASE WHEN len(embedding) = $dim THEN embedding
       |         ELSE error('embed dedup oracle: embedding dim <> $dim') END
       |      AS embedding
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL
       |    AND isfinite(${SimilarityQueries.dotSql("embedding", "embedding")})),
       |nb AS (
       |  SELECT CASE $bitsCase ELSE $bitsMax END AS bits
       |  FROM (SELECT count(*) AS nn FROM $nbSource)),
       |sig AS (
       |  SELECT vec_id, label,
       |    $bandCols
       |  FROM e CROSS JOIN nb),
       |banded AS (
       |  SELECT vec_id, label, bi.band_idx,
       |    CASE bi.band_idx $bandCase END AS band_val
       |  FROM sig CROSS JOIN (SELECT unnest(${(0 until bands).mkString("[", ", ", "]")}) AS band_idx) bi)""".stripMargin
  }

  /** Generated DuckDB twin of [[Dedup.embedPairsBanded]] (4 bands ×
    * dynamic bits over the shared fixed-seed hyperplanes): candidates
    * and the verified cosine match exactly. The bit count comes from the
    * whole corpus, so the oracle tracks the engine's knob at ANY corpus
    * size, not just the test corpus's. */
  private lazy val embedBandedSql: String =
    s"""${embedBandedCtes("e")},
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2, x.label
       |  FROM banded x JOIN banded y
       |    ON x.label = y.label AND x.band_idx = y.band_idx
       |   AND x.band_val = y.band_val AND x.vec_id < y.vec_id),
       |p AS (
       |  SELECT c.v1, c.v2, c.label,
       |    ${SimilarityQueries.cosineSql("a.embedding", "b.embedding")} AS cos
       |  FROM cand c JOIN e a ON a.vec_id = c.v1 JOIN e b ON b.vec_id = c.v2)
       |SELECT v1, v2, label, round(cos * 1e6) / 1e6 AS cosine
       |FROM p WHERE cos >= 0.35 ORDER BY v1, v2""".stripMargin

  /** Generated DuckDB twin of the STORED embed-index probe
    * ([[Dedup.embedDupIndexIfAbsent]] + [[Dedup.probeEmbedDups]], shared
    * by dedup_embed_incremental and its streaming spelling): the banding
    * of [[embedBandedSql]], with two incremental-specific differences the
    * engine makes — `bits` is FROZEN from the BUILD corpus count only
    * (`nbWhere` selects it: dedup_embed_incremental built on the full
    * 90%, dedup_embed_index_compact on its first third, and the appends
    * band with the SAME frozen bits), and candidates are batch × corpus
    * (no v1 < v2 self-pair rule). Best match per batch vector:
    * row_number over (cos DESC, cid) on the RAW fold, rounding only in
    * the output; NO cosine threshold (the registered report form — see
    * the Q comment). */
  private def embedIncrementalSqlFor(nbWhere: String): String =
    s"""${embedBandedCtes(s"e WHERE $nbWhere")},
       |cand AS (
       |  SELECT DISTINCT y.vec_id AS bid, x.vec_id AS cid, y.label
       |  FROM banded y JOIN banded x
       |    ON y.label = x.label AND y.band_idx = x.band_idx
       |   AND y.band_val = x.band_val
       |   AND y.vec_id % 10 = 0 AND x.vec_id % 10 <> 0),
       |p AS (
       |  SELECT c.bid, c.cid, c.label,
       |    ${SimilarityQueries.cosineSql("a.embedding", "b.embedding")} AS cos
       |  FROM cand c JOIN e a ON a.vec_id = c.bid JOIN e b ON b.vec_id = c.cid),
       |r AS (
       |  SELECT bid, cid, label, cos,
       |    row_number() OVER (PARTITION BY bid ORDER BY cos DESC, cid) AS rn
       |  FROM p)
       |SELECT bid AS vec_id, cid AS dup_of, label,
       |  round(cos * 1e6) / 1e6 AS cosine
       |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin

  private[operators] lazy val embedIncrementalSql: String =
    embedIncrementalSqlFor("vec_id % 10 <> 0")

  /** [[embedIncrementalSqlFor]] with the compact query's build subset:
    * the index is built on the 90% corpus's first third and grown by two
    * appends, so the frozen bit count comes from `vec_id % 3 = 1` alone
    * while candidates still span the whole 90%. */
  private lazy val embedCompactSql: String =
    embedIncrementalSqlFor("vec_id % 10 <> 0 AND vec_id % 3 = 1")
}
