package graft.operators

import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.Tables

/** Embedding-preparation bindings to the `embeddings` table; operators in
  * [[Embeddings]], per-element math in the codegen'd
  * [[graft.expressions]] vector expressions.
  *
  * All three are DuckDB-oracle-checked — the design reason for the
  * exploded (one row per element) output spelling and for int8
  * quantization's exact integer arithmetic (see [[Embeddings.knnI8]]).
  */
object EmbeddingQueries {

  import SimilarityQueries.{distSqSql, dotSql, maxAbsSql}

  private val K = 5
  private val KmK = 8      // k-means clusters
  private val KmIters = 2  // unrolled Lloyd iterations (oracle size ∝ iters)
  private val Dim = 64     // embeddings table vector width

  /** Generated unrolled-iteration twin of [[Embeddings.kmeans]]: c0 =
    * smallest-id seeds, then per iteration an assignment CTE (argmin by
    * (dist, j) row_number) and a centroid-update CTE (per-dimension
    * [[graft.core.dsumSql]] DECIMAL(25,6) means — the VARCHAR-detour
    * spelling, like every other decimal→double oracle site; empty
    * clusters keep their centroid). Every base
    * scan excludes null vectors — the engine side excludes them up front
    * (Embeddings.kmeans), so the oracle must share the exclusion rule
    * rather than rely on the corpus staying null-free. */
  private lazy val kmeansOracle: String = {
    val b = new StringBuilder
    b ++= s"""WITH ebase AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  WHERE embedding IS NOT NULL),
             |c0 AS (
             |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS j,
             |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
             |  FROM (SELECT vec_id, embedding FROM ebase ORDER BY vec_id LIMIT $KmK))""".stripMargin
    for (t <- 1 to KmIters) b ++= s""",
             |a$t AS (
             |  SELECT vec_id, embedding, j FROM (
             |    SELECT e.vec_id, e.embedding, c.j,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY ${distSqSql("e.embedding", "c.c")}, c.j) AS rn
             |    FROM ebase e CROSS JOIN c${t - 1} c) WHERE rn = 1),
             |c$t AS (
             |  SELECT p.j, coalesce(u.c, p.c) AS c FROM c${t - 1} p LEFT JOIN (
             |    SELECT j, list(v ORDER BY i) AS c FROM (
             |      SELECT a.j, i,
             |        ${dsumSql("CAST(a.embedding[i] AS DOUBLE)")} / count(*) AS v
             |      FROM a$t a CROSS JOIN range(1, ${Dim + 1}) t(i)
             |      GROUP BY a.j, i) GROUP BY j) u ON u.j = p.j)""".stripMargin
    b ++= s""",
             |fin AS (
             |  SELECT vec_id, j, d FROM (
             |    SELECT e.vec_id, c.j, ${distSqSql("e.embedding", "c.c")} AS d,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY ${distSqSql("e.embedding", "c.c")}, c.j) AS rn
             |    FROM ebase e CROSS JOIN c$KmIters c) WHERE rn = 1)
             |SELECT f.vec_id, f.j AS cluster, s.cluster_size,
             |  round(f.d * 1e6) / 1e6 AS dist_sq
             |FROM fin f JOIN (SELECT j, count(*) AS cluster_size FROM fin GROUP BY 1) s
             |  ON s.j = f.j
             |ORDER BY f.vec_id""".stripMargin
    b.toString
  }

  private lazy val normalizeOracle: String =
    s"""WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(${dotSql("embedding", "embedding")}) AS norm
      |  FROM embeddings),
      |x AS (SELECT vec_id, norm, embedding,
      |        unnest(range(1, len(embedding) + 1)) AS i
      |      FROM n)
      |SELECT vec_id, round(norm * 1e6) / 1e6 AS norm, CAST(i - 1 AS INTEGER) AS i,
      |  round((CASE WHEN norm = 0 THEN CAST(embedding[i] AS DOUBLE)
      |              ELSE CAST(embedding[i] AS DOUBLE) / norm END) * 1e6) / 1e6 AS u
      |FROM x ORDER BY vec_id, i""".stripMargin

  private lazy val quantizeOracle: String =
    s"""WITH m AS (
       |  SELECT vec_id, embedding, ${maxAbsSql("embedding")} AS mx
       |  FROM embeddings),
       |sc AS (SELECT vec_id, embedding,
       |         CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale FROM m),
       |x AS (SELECT vec_id, scale, embedding,
       |        unnest(range(1, len(embedding) + 1)) AS i FROM sc)
       |SELECT vec_id, round(scale * 1e6) / 1e6 AS scale, CAST(i - 1 AS INTEGER) AS i,
       |  CAST(round(CAST(embedding[i] AS DOUBLE) * scale) AS INTEGER) AS q
       |FROM x ORDER BY vec_id, i""".stripMargin

  /** Quantized kNN: every sum is a sum of exact small integers (≤ 127²·64
    * per vector, far inside double's 2⁵³ range), so the cosine is
    * bit-identical across engines and fold orders — THIS is the
    * oracle-checkable ANN variant (IVF/LSH are sketch-family, rows-only). */
  private lazy val knnI8Oracle: String = SimilarityQueries.knnSql(
    s"""z AS (
       |  SELECT vec_id, embedding, ${maxAbsSql("embedding")} AS mx
       |  FROM embeddings),
       |v AS (SELECT vec_id,
       |        list_transform(embedding, x -> round(CAST(x AS DOUBLE) *
       |          (CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END))) AS emb
       |      FROM z),
       |""".stripMargin, "v", "emb")

  val all: Seq[Q] = Seq(
    // L2 normalization, exploded to scalar (id, norm, i, u) rows so the
    // hash compare sees only scalars. Division (not reciprocal multiply)
    // keeps u bit-compatible with the oracle's `x / norm`.
    Q("emb_normalize",
      (s, dir) => {
        val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
        Embeddings.normalize(e, "vec_id", "embedding")
          .select(col("vec_id"), r6(col("norm")).as("norm"),
            col("i"), r6(col("u")).as("u"))
          .orderBy("vec_id", "i")
      },
      Some(normalizeOracle)),

    // Int8 scalar quantization: integer codes are exact, so only the
    // double-valued scale needs the r6 determinism guard.
    Q("emb_quantize_i8",
      (s, dir) => {
        val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
        Embeddings.quantizeI8(e, "vec_id", "embedding")
          .select(col("vec_id"), r6(col("scale")).as("scale"),
            col("i"), col("q"))
          .orderBy("vec_id", "i")
      },
      Some(quantizeOracle)),

    // Exact top-k cosine over int8-quantized vectors (the 4×-memory ANN
    // path at 100 TB); same output contract as sim_knn.
    SimilarityQueries.knnQ("sim_knn_i8", Some(knnI8Oracle))(
      (_, _, e, q) => Embeddings.knnI8(e, q, K)),

    // Deterministic Lloyd k-means (seed = smallest ids, tie-broken
    // argmin, DECIMAL centroid means) — every iteration reproduced in
    // DuckDB via the generated unrolled CTE chain, so cluster
    // assignments AND distances hash-match cross-engine.
    Q("emb_kmeans",
      (s, dir) => {
        val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
        Embeddings.kmeans(e, "vec_id", "embedding", KmK, KmIters)
          .select(col("vec_id"), col("cluster"), col("cluster_size"),
            r6(col("dist_sq")).as("dist_sq"))
          .orderBy("vec_id")
      },
      Some(kmeansOracle)),
  )
}
