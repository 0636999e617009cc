package graft.operators

import graft.core._
import graft.sources.Tables

/** The session-wide SQL surface a production user gets from
  * `withExtensions(new GraftExtensions)` on the session builder (or
  * `--conf spark.sql.extensions=graft.GraftExtensions`), proven
  * end-to-end: `sql_surface` is PURE SQL TEXT over a registered temp
  * view, resolved entirely by the extension-injected functions — no
  * Scala Column API anywhere in the query. The harness session
  * ([[graft.Harness]], shared by every main and the test suites) is
  * built through that exact production path, so the registered query
  * exercises what a real
  * `spark.sql` caller sees, and its DuckDB oracle holds the injected
  * functions to the same bit-exactness contract as the Column API
  * (the folds are the same codegen'd expressions either way).
  *
  * Determinism: every double output goes through the established
  * `round(x * 1e6) / 1e6` spelling (graft.core.rN's SQL form — Spark's
  * scale-0 round of a double is half-away-from-zero, identical to
  * DuckDB's), and the fold twins mirror the expressions' left-to-right
  * order (see [[SimilarityQueries.cosineSql]]).
  */
object SqlQueries {
  import SimilarityQueries.{cosineSql, distSqSql, dotSql, maxAbsSql}

  /** The SQL-text as-of join over the sides of
    * [[WindowQueries.asofSides]]: `marker` (asof_le backward, asof_ge
    * forward, asof_near nearest) picks the direction the AsofSqlRule
    * rewrite gives the merge AsofJoinExec. */
  private def sqlAsofQ(name: String, marker: String, oracle: String): Q =
    Q(name,
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("graft_events")
        s.sql(
          s"""WITH p AS (SELECT event_id, user_id, ts FROM graft_events
             |           WHERE event_type = 'purchase'),
             |     c AS (SELECT user_id AS c_user, ts AS c_ts,
             |                  max(event_id) AS click_id
             |           FROM graft_events WHERE event_type = 'click'
             |           GROUP BY 1, 2)
             |SELECT p.event_id, p.user_id, unix_micros(p.ts) AS ts_us, click_id
             |FROM p LEFT JOIN c ON p.user_id = c_user AND $marker(c_ts, p.ts)
             |ORDER BY event_id""".stripMargin)
      },
      Some(oracle))

  private val oracle: String =
    s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id,
       |  round(${maxAbsSql("embedding")} * 1e6) / 1e6 AS max_abs,
       |  round(${dotSql("embedding", "embedding")} * 1e6) / 1e6 AS norm_sq,
       |  round(${cosineSql("embedding", "q_emb")} * 1e6) / 1e6 AS cos_q0,
       |  round(${distSqSql("embedding", "q_emb")} * 1e6) / 1e6 AS dist_q0
       |FROM embeddings CROSS JOIN q
       |ORDER BY vec_id""".stripMargin

  val all: Seq[Q] = Seq(
    // Four injected functions (vec_max_abs, vec_dot, vec_cosine,
    // vec_distsq) scoring every vector against the vec_id = 0 anchor —
    // a one-scan, shuffle-free projection plus a 1-row broadcast cross
    // join, linear at any corpus size.
    Q("sql_surface",
      (s, dir) => {
        Tables.embeddings(s, dir).createOrReplaceTempView("graft_embeddings")
        s.sql(
          """WITH q AS (SELECT embedding AS q_emb FROM graft_embeddings WHERE vec_id = 0)
            |SELECT vec_id,
            |  round(vec_max_abs(embedding) * 1e6) / 1e6 AS max_abs,
            |  round(vec_dot(embedding, embedding) * 1e6) / 1e6 AS norm_sq,
            |  round(vec_cosine(embedding, q_emb) * 1e6) / 1e6 AS cos_q0,
            |  round(vec_distsq(embedding, q_emb) * 1e6) / 1e6 AS dist_q0
            |FROM graft_embeddings CROSS JOIN q
            |ORDER BY vec_id""".stripMargin)
      },
      Some(oracle)),

    // The SQL-text as-of join: same computation and DuckDB oracle as
    // join_asof_custom (ASOF LEFT JOIN — latest click at or before each
    // purchase, right side pre-reduced to one row per (user, ts)), but
    // spelled ENTIRELY as spark.sql text: the extension-injected asof_le
    // marker + AsofSqlRule rewrite the LEFT JOIN into the custom merge
    // AsofJoinExec (one shuffle + sort per side, no range-match blow-up
    // — GraftExtensionsSpec pins the physical plan node). A production
    // SQL caller gets the 100 TB merge shape with no Scala anywhere.
    sqlAsofQ("sql_asof", "asof_le", WindowQueries.asofSql(">=")),

    // Forward as-of in pure SQL text: the asof_ge marker plans the same
    // merge AsofJoinExec in the Forward direction (FIRST click at or
    // after each purchase). DuckDB's ASOF JOIN with the inequality
    // reversed (p.ts <= c.ts) is the exact same semantics, so the family
    // keeps a hash oracle.
    sqlAsofQ("sql_asof_fwd", "asof_ge", WindowQueries.asofSql("<=")),

    // Nearest as-of in pure SQL text: asof_near picks the closer of the
    // backward/forward matches, ties to the backward one — the ONE
    // merge pass tracks both candidates (AsofJoinPlan.scala). DuckDB has
    // no nearest ASOF, so the oracle composes its backward and forward
    // ASOF joins and applies the identical tie rule over exact integer
    // microsecond gaps.
    sqlAsofQ("sql_asof_near", "asof_near",
      s"""${WindowQueries.asofSidesSql},
         |     b AS (SELECT p.event_id, epoch_us(c.ts) AS b_us,
         |                  c.click_id AS b_id
         |           FROM p ASOF LEFT JOIN c
         |             ON p.user_id = c.user_id AND p.ts >= c.ts),
         |     f AS (SELECT p.event_id, epoch_us(c.ts) AS f_us,
         |                  c.click_id AS f_id
         |           FROM p ASOF LEFT JOIN c
         |             ON p.user_id = c.user_id AND p.ts <= c.ts)
         |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
         |  CASE WHEN b_id IS NULL THEN f_id
         |       WHEN f_id IS NULL THEN b_id
         |       WHEN epoch_us(p.ts) - b_us <= f_us - epoch_us(p.ts) THEN b_id
         |       ELSE f_id END AS click_id
         |FROM p JOIN b USING (event_id) JOIN f USING (event_id)
         |ORDER BY p.event_id""".stripMargin),

    // k-means-style cell assignment in pure SQL — the table-valued
    // argmin contract for the embedding family: cross-join the (small,
    // broadcast) codebook, score with the injected vec_distsq, keep the
    // best (dist, cell) per vector via row_number. The codebook here is
    // the first 8 vectors (deterministic, so the query is oracleable);
    // a real deployment substitutes its fitted codebook table and keeps
    // the identical plan shape — one corpus scan, no shuffle wider than
    // the ranked window. Ties break on cell, and the ORDER BY compares
    // the RAW fold (bit-identical in both engines); rounding touches
    // only the output column.
    Q("sql_emb_assign",
      (s, dir) => {
        Tables.embeddings(s, dir).createOrReplaceTempView("graft_embeddings")
        s.sql(
          """WITH cb AS (SELECT vec_id AS cell, embedding AS ctr
            |            FROM graft_embeddings WHERE vec_id < 8),
            |d AS (SELECT vec_id, cell, vec_distsq(embedding, ctr) AS d
            |      FROM graft_embeddings CROSS JOIN cb),
            |r AS (SELECT vec_id, cell, d,
            |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            |      FROM d)
            |SELECT vec_id, cell, round(d * 1e6) / 1e6 AS dist_sq
            |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin)
      },
      Some(s"""WITH cb AS (SELECT vec_id AS cell, embedding AS ctr
              |            FROM embeddings WHERE vec_id < 8),
              |d AS (SELECT vec_id, cell, ${distSqSql("embedding", "ctr")} AS d
              |      FROM embeddings CROSS JOIN cb),
              |r AS (SELECT vec_id, cell, d,
              |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
              |      FROM d)
              |SELECT vec_id, cell, round(d * 1e6) / 1e6 AS dist_sq
              |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // LSH banding in pure SQL — the injected lsh_buckets(emb, tables,
    // bits, dim) derives the plane matrix from the literal params with
    // the library's fixed seed, so SQL text buckets exactly like the
    // Scala lshKnn/dedup_embed spelling (GraftExtensionsSpec pins the
    // equivalence; the planes are JVM-seeded Gaussians, so there is no
    // DuckDB twin → rows-only check). One scan, one generator — the
    // candidate-generation shape of the embedding dedup family.
    Q("sql_lsh_bucket",
      (s, dir) => {
        Tables.embeddings(s, dir).createOrReplaceTempView("graft_embeddings")
        s.sql(
          """SELECT vec_id, t, b
            |FROM graft_embeddings
            |LATERAL VIEW posexplode(lsh_buckets(embedding, 8, 8, 64)) x AS t, b
            |ORDER BY vec_id, t""".stripMargin)
      },
      None),

    // Benchmark decontamination in PURE SQL TEXT — the dedup/decontam
    // family's SQL surface, proving what sql_emb_assign proved for
    // embeddings: a spark.sql caller gets the same plan shape as the
    // Scala Dedup.decontaminateBloom path from the injected functions
    // alone. shingle_hash (the native codegen'd shingler — no per-shingle
    // string materialization) shingles both sides; the serialized Bloom
    // filter over the benchmark's shingle hashes rides as a base64
    // literal into bloom_might_contain_long, pre-filtering the corpus
    // side of the exact equi-join that removes the bloom's false
    // positives (no false negatives, so the result is bit-identical to
    // docs_decontam — all three spellings share ONE DuckDB oracle). The
    // filter bytes are built once per serving batch driver-side from the
    // SAME shingle hashes the SQL computes (Dedup.shingleHashes IS the
    // shingle_hash expression); the literal spelling is the
    // SQL-generator regime (filters to ~tens of MB — the GB-scale
    // regime stays on the Scala API, which ships bytes as a plan
    // reference object).
    Q("sql_decontam",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        docs.createOrReplaceTempView("graft_documents")
        val bench = Dedup.shingleHashes(
            docs.filter(org.apache.spark.sql.functions.col("doc_id") % 23 === 0),
            "doc_id", "text", k = 3)
          .select("s").distinct().localCheckpoint(false)
        val benchN = bench.count() // materializes the checkpoint (one job)
        val bf = bench.stat.bloomFilter("s", math.max(benchN, 1L), 0.01)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        val b64 = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
        s.sql(
          s"""WITH w AS (
             |  SELECT doc_id, filter(split(text, ' '), x -> x <> '') AS words
             |  FROM graft_documents),
             |sh AS (
             |  SELECT doc_id, s
             |  FROM (SELECT doc_id, words FROM w WHERE size(words) >= 3)
             |  LATERAL VIEW explode(array_distinct(shingle_hash(words, 3))) AS s),
             |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 23 = 0),
             |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 23 <> 0),
             |cand AS (SELECT doc_id, s FROM corp
             |         WHERE bloom_might_contain_long(s, '$b64')),
             |hits AS (SELECT c.doc_id, count(*) AS n_hits
             |         FROM cand c JOIN bench USING (s) GROUP BY 1),
             |per AS (SELECT doc_id, count(*) AS n_shingles FROM corp GROUP BY 1)
             |SELECT d.doc_id,
             |  coalesce(n_shingles, CAST(0 AS BIGINT)) AS n_shingles,
             |  coalesce(n_hits, CAST(0 AS BIGINT)) AS n_hits,
             |  round(CASE WHEN coalesce(n_shingles, CAST(0 AS BIGINT)) = 0 THEN 0.0D
             |             ELSE CAST(coalesce(n_hits, CAST(0 AS BIGINT)) AS DOUBLE)
             |                    / n_shingles END * 1e6) / 1e6
             |    AS contam_frac,
             |  CAST(CASE WHEN coalesce(n_shingles, CAST(0 AS BIGINT)) > 0
             |             AND CAST(coalesce(n_hits, CAST(0 AS BIGINT)) AS DOUBLE)
             |                   / n_shingles >= 0.5
             |        THEN 1 ELSE 0 END AS INT) AS contaminated
             |FROM (SELECT doc_id FROM graft_documents WHERE doc_id % 23 <> 0) d
             |LEFT JOIN per USING (doc_id) LEFT JOIN hits USING (doc_id)
             |ORDER BY doc_id""".stripMargin)
      },
      Some(DedupQueries.decontamSql)),

    // The stored near-dup index probed in PURE SQL TEXT — the dedup
    // family's last Scala-only surface closed. The Scala side only
    // ensures the STORED index exists (DedupQueries.incrementalIndex —
    // shares dedup_incremental's index dir: whichever runs first builds,
    // and this index never carries append roots, so the base table IS
    // the whole corpus side); everything else is spark.sql: the injected
    // shingle_hash shingles the arriving batch, the stop-shingle filter
    // reads the stored census via parquet.`hot.parquet`, per-doc corpus
    // sizes via parquet.`sizes.parquet`, and the candidate equi-join
    // probes the CATALOG-REGISTERED bucketed shingle table — so a SQL
    // caller gets the same exchange-free corpus side as the Scala probe
    // (bucket metadata lives in the catalog; the sql_decontam design).
    // A SQL caller probing an index WITH append roots adds one UNION
    // ALL term per batch root (parquet.`batches/<id>/shingles.parquet`)
    // — the manifest lists them. Result-identical to dedup_incremental
    // by construction → shares its DuckDB oracle verbatim.
    Q("sql_neardup_probe",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        docs.createOrReplaceTempView("graft_documents")
        DedupQueries.incrementalIndex(s, dir, docs)
        val ixDir = Dedup.nearDupIndexDir(s, dir)
        val tbl = Dedup.NearDup.table(ixDir)
        s.sql(
          s"""WITH bw AS (
             |  SELECT doc_id, filter(split(text, ' '), x -> x <> '') AS words
             |  FROM graft_documents WHERE doc_id % 10 = 0),
             |bs AS (
             |  SELECT doc_id, s
             |  FROM (SELECT doc_id, words FROM bw WHERE size(words) >= 3)
             |  LATERAL VIEW explode(array_distinct(shingle_hash(words, 3))) AS s
             |  WHERE s NOT IN (SELECT s FROM parquet.`$ixDir/hot.parquet`)),
             |szb AS (SELECT doc_id, count(*) AS n FROM bs GROUP BY 1),
             |p AS (
             |  SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS inter
             |  FROM bs b JOIN $tbl c USING (s) GROUP BY 1, 2),
             |j AS (
             |  SELECT bid, cid, inter, sb.n AS n_batch, sc.n AS n_corpus,
             |         CAST(inter AS DOUBLE) / (sb.n + sc.n - inter) AS jac
             |  FROM p JOIN szb sb ON sb.doc_id = bid
             |         JOIN (SELECT doc_id, n FROM parquet.`$ixDir/sizes.parquet`) sc
             |           ON sc.doc_id = cid
             |  WHERE CAST(inter AS DOUBLE) / (sb.n + sc.n - inter) >= 0.5),
             |r AS (
             |  SELECT bid, cid, inter, n_batch, n_corpus, jac,
             |    row_number() OVER (PARTITION BY bid ORDER BY jac DESC, cid) AS rn
             |  FROM j)
             |SELECT bid AS doc_id, cid AS dup_of, inter, n_batch, n_corpus,
             |       round(jac * 1e6) / 1e6 AS jaccard
             |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)
      },
      Some(DedupQueries.incrementalSql)),

    // The stored EMBED near-dup index probed in PURE SQL TEXT — the
    // semantic-dedup family's last Scala-only surface closed, completing
    // what sql_neardup_probe did for the text family. The Scala side
    // only ensures the STORED index exists (DedupQueries.embedIncrementalIndex
    // — shares dedup_embed_incremental's index dir: whichever runs first
    // builds, and this index never carries append roots, so the base
    // table IS the whole corpus side) and splices the manifest's FROZEN
    // banding constants; everything else is spark.sql: the injected
    // lsh_buckets in its stride form (tables, frozen bits, dim,
    // EmbedBitsMax — the Dedup.embedSigs plane-subset convention, so SQL
    // banding collides with the stored buckets at ANY frozen bits), the
    // composed bk = band_idx << EmbedBitsMax | band_val join key, the
    // candidate equi-join against the CATALOG-REGISTERED bucketed-by-
    // (bk, label) table (exchange-free corpus side — all cluster keys
    // in the join), vectors via parquet.`vectors.parquet`, and the
    // vec_cosine verify with the engine's exact >= -1 keep rule. A SQL
    // caller probing an index WITH append roots adds one UNION ALL term
    // per batch root — the manifest lists them. Result-identical to
    // dedup_embed_incremental by construction -> shares its DuckDB
    // oracle verbatim (sign bits, buckets, candidates, cosine all
    // bit-identical in DuckDB).
    Q("sql_embed_probe",
      (s, dir) => {
        val emb = DedupQueries.embedVectors(s, dir)
        emb.createOrReplaceTempView("graft_embeddings")
        DedupQueries.embedIncrementalIndex(s, dir, emb)
        val ixDir = Dedup.embedDupIndexDir(s, dir)
        val m = Dedup.EmbedDup.read(ixDir).getOrElse(sys.error(
          s"sql_embed_probe: no manifest under $ixDir"))
        val tbl = Dedup.EmbedDup.table(ixDir)
        val bm = Dedup.EmbedBitsMax
        s.sql(
          s"""WITH b AS (
             |  SELECT vec_id, label, embedding FROM graft_embeddings
             |  WHERE vec_id % 10 = 0 AND embedding IS NOT NULL
             |    AND NOT isnan(vec_dot(embedding, embedding))
             |    AND vec_dot(embedding, embedding) <> CAST('Infinity' AS DOUBLE)),
             |bs AS (
             |  SELECT vec_id, label,
             |         shiftleft(CAST(t AS BIGINT), $bm) + CAST(v AS BIGINT) AS bk
             |  FROM b
             |  LATERAL VIEW posexplode(
             |    lsh_buckets(embedding, ${m.bands}, ${m.bits}, ${m.dim}, $bm)) x AS t, v),
             |cand AS (
             |  SELECT DISTINCT bs.vec_id AS bid, c.vec_id AS cid, bs.label
             |  FROM bs JOIN $tbl c ON bs.label = c.label AND bs.bk = c.bk),
             |p AS (
             |  SELECT cand.bid, cand.cid, cand.label,
             |         vec_cosine(bb.embedding, cv.embedding) AS cos
             |  FROM cand
             |  JOIN b bb ON bb.vec_id = cand.bid
             |  JOIN parquet.`$ixDir/vectors.parquet` cv ON cv.vec_id = cand.cid
             |  WHERE vec_cosine(bb.embedding, cv.embedding) >= -1.0D),
             |r AS (
             |  SELECT bid, cid, label, cos,
             |    row_number() OVER (PARTITION BY bid ORDER BY cos DESC, cid) AS rn
             |  FROM p)
             |SELECT bid AS vec_id, cid AS dup_of, label,
             |       round(cos * 1e6) / 1e6 AS cosine
             |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin)
      },
      Some(DedupQueries.embedIncrementalSql)),
  )
}
