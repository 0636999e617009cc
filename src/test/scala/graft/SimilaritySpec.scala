package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** Exact-kNN golden check (independent driver-side brute force) and LSH
  * behavior: self-recall on planted near-identical vectors, candidate
  * discipline (LSH results are a subset of same-bucket pairs by
  * construction, so we check recall, not equality). */
class SimilaritySpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$SF/embeddings.parquet")
    .select("vec_id", "embedding")

  /** Independent brute force over collected arrays (no Spark expressions —
    * this is the oracle for sim_knn). */
  private def bruteTopK(k: Int, queryIds: Set[Long]): Map[Long, Seq[Long]] = {
    val all = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    all.filter(q => queryIds(q._1)).map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }
        .take(k).map(_._1).toSeq
    }.toMap
  }

  test("sim_knn matches independent brute force exactly") {
    val queryIds = emb.filter(col("vec_id") % 50 === 0)
      .select("vec_id").as[Long].collect().toSet
    val expected = bruteTopK(5, queryIds)
    val got = Similarity.knn(emb, emb.filter(col("vec_id") % 50 === 0), 5)
      .orderBy("q_id", "rank")
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    assert(got === expected)
  }

  test("LshBuckets native expression == the literal-plane column spelling") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.VectorFunctions.dot
    val (tables, bits, dim) = (8, 8, 64)
    val ps = Similarity.planes(tables, bits, dim)
    def planeCol(p: Int) = array(ps(p).map(lit): _*)
    def bucket(t: Int) = (0 until bits).map { j =>
      when(dot(col("embedding"), planeCol(t * bits + j)) >= 0.0, lit(1 << j))
        .otherwise(lit(0))
    }.reduce(_ + _)
    val literal = emb.select(col("vec_id"),
      array((0 until tables).map(bucket): _*).as("bk"))
    val native = emb.select(col("vec_id"),
      ColumnBridge.column(graft.expressions.LshBuckets(
        ColumnBridge.expression(col("embedding")), ps, bits)).as("bk"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val (l, n) = (m(literal), m(native))
    assert(n.size === l.size)
    assert(n === l)
    // Interpreted eval agrees with the codegen path exercised above.
    val one = emb.limit(1).collect()(0)
    val litExpr = org.apache.spark.sql.catalyst.expressions.Literal.create(
      one.getSeq[Float](1),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val ev = graft.expressions.LshBuckets(litExpr, ps, bits).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray()
    assert(ev.toSeq === l(one.getLong(0)))
  }

  test("LSH finds planted near-identical vectors (self-recall)") {
    // plant: copies of vectors 1..5 with one coordinate nudged
    val base = emb.filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val planted = base.map { case (id, v) =>
      val w = v.clone(); w(0) = w(0) + 0.01f; (id + 10000L, w.toSeq)
    }
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .union(planted.toSeq.toDF("vec_id", "embedding"))
    val queries = planted.toSeq.toDF("vec_id", "embedding")
    val res = Similarity.lshKnn(corpus, queries, 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // each planted query's top-1 must be its original (cosine ~ 1)
    val hits = base.count { case (id, _) => res.get(id + 10000L).contains(id) }
    assert(hits === base.length,
      s"LSH self-recall failed: $res (want ${base.map(b => (b._1 + 10000L, b._1)).toMap})")
  }

  test("IVF finds planted near-identical vectors (self-recall)") {
    val base = emb.filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val planted = base.map { case (id, v) =>
      val w = v.clone(); w(0) = w(0) + 0.01f; (id + 10000L, w.toSeq)
    }
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .union(planted.toSeq.toDF("vec_id", "embedding"))
    val res = Similarity.ivfKnn(corpus, planted.toSeq.toDF("vec_id", "embedding"), 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val hits = base.count { case (id, _) => res.get(id + 10000L).contains(id) }
    assert(hits === base.length, s"IVF self-recall failed: $res")
  }

  test("IVF probes only nprobe cells: candidate count is bounded") {
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val got = Similarity.ivfKnn(emb, queries, 5, nlist = 16, nprobe = 2)
    // structure: exactly <= 5 neighbors per query, ranks 1..k contiguous
    val byQ = got.collect().groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val ranks = rows.map(_.getInt(1)).sorted.toSeq
      assert(ranks === (1 to ranks.size), s"ranks not contiguous: $ranks")
      assert(ranks.size <= 5)
    }
    assert(byQ.nonEmpty)
  }

  test("stored IVF index round-trips: build + probe == in-memory ivfKnn") {
    // the persisted-artifact serving path (offline ivfBuild -> parquet
    // codebook + cell-partitioned corpus -> online ivfProbe) must produce
    // exactly the self-contained ivfKnn result: same fit (fixed seed, same
    // data), same probe ranking, same tie-breaks — the index round-trip
    // loses nothing.
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val idx = scratchDir("ivf_idx_").getAbsolutePath
    Similarity.ivfBuild(emb, idx, nlist = 16)
    val probed = Similarity.ivfProbe(spark, idx, queries, 5, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val inMem = Similarity.ivfKnn(emb, queries, 5, nlist = 16, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(probed === inMem)
    assert(probed.nonEmpty)
    // and the artifacts really are the two-file index contract
    assert(new java.io.File(s"$idx/codebook.parquet/_SUCCESS").exists())
    assert(new java.io.File(s"$idx/cells.parquet/_SUCCESS").exists())
    // cell partitioning is what makes the probe scan prunable
    assert(new java.io.File(s"$idx/cells.parquet").listFiles()
      .exists(_.getName.startsWith("cell=")))
  }

  test("IVF probe finds planted near neighbors through the stored index") {
    val base = emb.filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val planted = base.map { case (id, v) =>
      val w = v.clone(); w(0) = w(0) + 0.01f; (id + 10000L, w.toSeq)
    }
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .union(planted.toSeq.toDF("vec_id", "embedding"))
    val idx = scratchDir("ivf_idx_").getAbsolutePath
    Similarity.ivfBuild(corpus, idx, nlist = 16)
    val res = Similarity.ivfProbe(spark, idx,
        planted.toSeq.toDF("vec_id", "embedding"), 1, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val hits = base.count { case (id, _) => res.get(id + 10000L).contains(id) }
    assert(hits === base.length, s"stored-index self-recall failed: $res")
  }

  test("int8 probe serves planted near neighbors from the code artifact alone") {
    // the IO-bound serving tier: coarse integer-exact ranking over stored
    // int8 codes, full-query-precision rescore — never touching the float
    // cells. Planted near-identical vectors (cos ~ 1) must come back as
    // top-1, same contract as the float probe.
    val base = emb.filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val planted = base.map { case (id, v) =>
      val w = v.clone(); w(0) = w(0) + 0.01f; (id + 10000L, w.toSeq)
    }
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .union(planted.toSeq.toDF("vec_id", "embedding"))
    val idx = scratchDir("ivf_i8_").getAbsolutePath
    Similarity.ivfBuild(corpus, idx, nlist = 16)
    // the int8 artifact exists and is cell-partitioned like the float one
    assert(new java.io.File(s"$idx/cells_i8.parquet/_SUCCESS").exists())
    assert(new java.io.File(s"$idx/cells_i8.parquet").listFiles()
      .exists(_.getName.startsWith("cell=")))
    val res = Similarity.ivfProbeI8(spark, idx,
        planted.toSeq.toDF("vec_id", "embedding"), 1, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val hits = base.count { case (id, _) => res.get(id + 10000L).contains(id) }
    assert(hits === base.length, s"int8 probe self-recall failed: $res")
  }

  test("int8 probe recall@5 vs exact is total on the real corpus") {
    // on the raw corpus (no planted structure) the int8 two-stage probe
    // must agree with the FLOAT probe of the same index wherever both
    // look (same cells, same candidates): corpus quantization error
    // (~1e-3 in cos) may only reorder near-ties, so pairwise recall
    // against the float probe stays >= 0.9
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val idx = scratchDir("ivf_i8r_").getAbsolutePath
    Similarity.ivfBuild(emb, idx, nlist = 16)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val f = pairs(Similarity.ivfProbe(spark, idx, queries, 5, nprobe = 2))
    val i8 = pairs(Similarity.ivfProbeI8(spark, idx, queries, 5, nprobe = 2))
    val recall = (f & i8).size.toDouble / f.size
    assert(recall >= 0.9, s"int8-vs-float probe recall $recall")
  }

  test("ivfBuildIfAbsent rebuilds when the corpus mutates under the same tag") {
    val idx = scratchDir("ivf_mf_").getAbsolutePath
    val queries = emb.filter(col("vec_id") % 50 === 0)
    Similarity.ivfBuildIfAbsent(emb, idx, nlist = 16)
    val m1 = Similarity.Ivf.read(idx)
    assert(m1.isDefined && m1.get.nlist === 16)
    // same corpus, same nlist: trusted, no rebuild (manifest unchanged
    // file mtime-wise is hard to observe; instead check the negative —
    // a MUTATED corpus must flip the fingerprint and trigger a rebuild
    // that indexes the new rows)
    val mutated = emb.filter(col("vec_id") >= 100) // dropped rows: new fingerprint
    Similarity.ivfBuildIfAbsent(mutated, idx, nlist = 16)
    val m2 = Similarity.Ivf.read(idx)
    assert(m2.isDefined && m2.get.log.rows < m1.get.log.rows,
      s"manifest not refreshed: $m1 -> $m2")
    // the rebuilt index serves the mutated corpus: no dropped id appears
    val served = Similarity.ivfProbe(spark, idx, queries.filter(col("vec_id") >= 100), 5, nprobe = 2)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(served.nonEmpty && served.forall(_ >= 100),
      "stale index served dropped rows")
  }

  test("ivfAppend assigns with the stored codebook; appended rows serve from both tiers") {
    val idx = scratchDir("ivf_app_").getAbsolutePath
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    Similarity.ivfBuild(base, idx, nlist = 16)
    Similarity.ivfAppend(batch, idx)
    // every stored row's partition cell — base and appended alike — must
    // equal the argmin under the STORED codebook: the append assigned
    // exactly as a build reusing this codebook would
    val ctrs = spark.read.parquet(s"$idx/codebook.parquet")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)
    // read through the serving reader (base + committed batch dirs)
    val stored = Similarity.ivfCells(spark, idx)
    val wrong = stored.withColumn("want",
        graft.functions.VectorFunctions.argMinDistSq(col("emb"), ctrs).getField("j"))
      .filter(col("cell") =!= col("want")).count()
    assert(wrong === 0L)
    assert(stored.count() === emb.count())
    assert(Similarity.ivfCellsI8(spark, idx).count() === emb.count())
    // near-duplicates appended LATER must be reachable through the pruned
    // probe of BOTH serving tiers (the appended files join the DPP scan)
    val baseRows = emb.filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val planted = baseRows.map { case (id, v) =>
      val w = v.clone(); w(0) = w(0) + 0.01f; (id + 10000L, w.toSeq)
    }
    Similarity.ivfAppend(planted.toSeq.toDF("vec_id", "embedding"), idx)
    def hits(df: org.apache.spark.sql.DataFrame): Int = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      baseRows.count { case (id, _) => got.get(id + 10000L).contains(id) }
    }
    assert(hits(Similarity.ivfProbe(spark, idx,
      planted.toSeq.toDF("vec_id", "embedding"), 1, nprobe = 2)) === baseRows.length)
    assert(hits(Similarity.ivfProbeI8(spark, idx,
      planted.toSeq.toDF("vec_id", "embedding"), 1, nprobe = 2)) === baseRows.length)
  }

  test("ivfAppend manifest additivity: the appended index validates for the union, fails closed otherwise") {
    val idx = scratchDir("ivf_app2_").getAbsolutePath
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    Similarity.ivfBuild(base, idx, nlist = 16)
    Similarity.ivfAppend(batch, idx)
    // an empty append is a no-op on the manifest
    val mAfter = Similarity.Ivf.read(idx).get
    Similarity.ivfAppend(batch.filter(lit(false)), idx)
    assert(Similarity.Ivf.read(idx).get === mAfter)
    // the appended manifest carries EXACTLY the (rows, fingerprint, dim) a
    // from-scratch build over the union stamps: rows add, and the
    // wraparound-SUM fingerprint is additive over the disjoint union
    val idx2 = scratchDir("ivf_app3_").getAbsolutePath
    Similarity.ivfBuild(emb, idx2, nlist = 16)
    val mu = Similarity.Ivf.read(idx2).get
    assert((mAfter.log.rows, mAfter.log.fingerprint, mAfter.dim) ===
      (mu.log.rows, mu.log.fingerprint, mu.dim))
    // so the union frame validates against the appended index (build-once
    // + append-per-batch, probe-only thereafter)...
    assert(Similarity.ivfValid(emb, idx, nlist = 16))
    // ...while the pre-append corpus no longer matches (fails closed)
    assert(!Similarity.ivfValid(base, idx, nlist = 16))
    // and ivfBuildIfAbsent over the union leaves the artifacts untouched
    val files = new java.io.File(s"$idx/codebook.parquet").listFiles()
      .map(f => (f.getName, f.lastModified())).toSet
    Similarity.ivfBuildIfAbsent(emb, idx, nlist = 16)
    assert(new java.io.File(s"$idx/codebook.parquet").listFiles()
      .map(f => (f.getName, f.lastModified())).toSet === files)
    // the staleness signal survives the append path: appended_rows counts
    // exactly the post-build ingested rows, and the fraction accessor
    // reads it back; a fresh full build resets it to zero
    assert(mAfter.log.appendedRows === batch.count())
    assert(Similarity.Ivf.appendedFraction(Similarity.Ivf.read(idx).get) ===
      batch.count().toDouble / emb.count())
    assert(Similarity.Ivf.read(idx2).get.log.appendedRows === 0L)
    assert(Similarity.Ivf.appendedFraction(Similarity.Ivf.read(idx2).get) === 0.0)
  }

  test("streaming ingest ≡ one-shot append ≡ union build (manifest-level, 7th stream≡batch fact)") {
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    def tmp(p: String) = scratchDir(p).getAbsolutePath
    // stream-grown index: build on 90%, ingest the 10% through the
    // chunked feed — one ivfAppend per micro-batch
    val idxS = tmp("ivf_stream_")
    Similarity.ivfBuild(base, idxS, nlist = 16)
    graft.streaming.IvfIngest.ingestChunked(batch, "vec_id", idxS, tmp("ivf_feed_"))
    // one-shot append and from-scratch union build, for comparison
    val idxA = tmp("ivf_oneshot_")
    Similarity.ivfBuild(base, idxA, nlist = 16)
    Similarity.ivfAppend(batch, idxA)
    val idxU = tmp("ivf_union_")
    Similarity.ivfBuild(emb, idxU, nlist = 16)
    val (ms, ma, mu) = (Similarity.Ivf.read(idxS).get,
      Similarity.Ivf.read(idxA).get, Similarity.Ivf.read(idxU).get)
    // the corpus-identity fields agree across all three ingestion paths
    assert((ms.log.rows, ms.log.fingerprint, ms.dim) === (ma.log.rows, ma.log.fingerprint, ma.dim))
    assert((ms.log.rows, ms.log.fingerprint, ms.dim) === (mu.log.rows, mu.log.fingerprint, mu.dim))
    // the stream ingest committed multiple micro-batches, all counted
    assert(ms.log.batches.size > 1 && ms.log.appendedRows === batch.count())
    // the union frame validates the stream-grown index: probe-only serving
    assert(Similarity.ivfValid(emb, idxS, nlist = 16))
    // same base build = same codebook = same assignment: the stream-grown
    // and one-shot-appended indexes serve IDENTICAL results
    val queries = emb.filter(col("vec_id") % 50 === 0)
    def pairs(idx: String) = Similarity.ivfProbe(spark, idx, queries, 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(pairs(idxS) === pairs(idxA))
    // replay idempotence: re-ingesting the LAST micro-batch (the
    // foreachBatch at-least-once window), read back from its own batch
    // dir, is a no-op on the manifest
    Similarity.ivfAppend(
      spark.read.parquet(s"$idxS/batches/${ms.log.batches.last}/cells.parquet")
        .select(col("id").as("vec_id"), col("emb").as("embedding")), idxS)
    assert(Similarity.Ivf.read(idxS).get === ms)
  }

  test("ivfCompact folds committed batches into one root: serving identical, manifest preserved") {
    val idx = scratchDir("ivf_cmp_").getAbsolutePath
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    Similarity.ivfBuild(base, idx, nlist = 16)
    // three separate appends -> three batch roots
    Seq(0, 10, 20).foreach(r =>
      Similarity.ivfAppend(emb.filter(col("vec_id") % 30 === r), idx))
    val m0 = Similarity.Ivf.read(idx).get
    assert(m0.log.batches.size === 3 && m0.log.seq === 3L)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val pf0 = pairs(Similarity.ivfProbe(spark, idx, queries, 5, nprobe = 2))
    val pi0 = pairs(Similarity.ivfProbeI8(spark, idx, queries, 5, nprobe = 2))

    // a reader that PLANNED against the pre-compact manifest (ivfCells
    // resolves its union roots at plan time) — must survive the compact
    val preCompactReader = Similarity.ivfCells(spark, idx)

    Similarity.ivfCompact(spark, idx)
    val m1 = Similarity.Ivf.read(idx).get
    // ONLY the batch list changes (plus the CAS sequencer's mseq, which
    // every manifest mutation bumps): rows/fingerprint/appendedRows/seq/
    // lastRows/lastFp all survive (fingerprint-neutral by construction)
    assert(m1.log.batches.size === 1)
    assert(m1.log.mseq === m0.log.mseq + 1)
    assert(m1.withLog(m1.log.copy(batches = Nil, mseq = m0.log.mseq)) ===
      m0.withLog(m0.log.copy(batches = Nil)))
    // DEFERRED sweep (reader grace period): the just-superseded batch
    // dirs remain on disk alongside the fold — they vanish only at the
    // NEXT compact
    assert(new java.io.File(s"$idx/batches").listFiles().map(_.getName).toSet
      === (m0.log.batches.toSet + m1.log.batches.head))
    // ... so the pre-compact reader executes successfully and sees the
    // exact pre-compact row set (no delete-under-reader)
    assert(preCompactReader.count() === m0.log.rows)
    // both serving tiers read IDENTICAL results through the folded root
    assert(pairs(Similarity.ivfProbe(spark, idx, queries, 5, nprobe = 2)) === pf0)
    assert(pairs(Similarity.ivfProbeI8(spark, idx, queries, 5, nprobe = 2)) === pi0)
    // the union frame still validates (fresh frame bypasses the memo)
    assert(Similarity.ivfValid(emb.filter(lit(true)), idx, nlist = 16))
    // replay detection SURVIVES the compact: re-appending the last
    // pre-compaction batch is still a no-op
    Similarity.ivfAppend(emb.filter(col("vec_id") % 30 === 20), idx)
    assert(Similarity.Ivf.read(idx).get === m1)
    // a second compact is a no-op (nothing to fold)
    Similarity.ivfCompact(spark, idx)
    assert(Similarity.Ivf.read(idx).get === m1)
    // and a genuinely NEW batch appends normally afterwards, with a seq
    // that never collides across the compaction
    val baseRows = emb.filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val planted = baseRows.map { case (id, v) =>
      val w = v.clone(); w(0) = w(0) + 0.01f; (id + 10000L, w.toSeq)
    }
    Similarity.ivfAppend(planted.toSeq.toDF("vec_id", "embedding"), idx)
    val m2 = Similarity.Ivf.read(idx).get
    assert(m2.log.batches.size === 2 && m2.log.seq === 4L)
    assert(m2.log.rows === m1.log.rows + planted.length)
    val got = Similarity.ivfProbe(spark, idx,
        planted.toSeq.toDF("vec_id", "embedding"), 1, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(baseRows.count { case (id, _) => got.get(id + 10000L).contains(id) }
      === baseRows.length)
    // a SECOND compact sweeps the FIRST fold's inputs (now one full
    // compaction cycle old) while keeping ITS OWN inputs for the next
    // grace period — the deferral is exactly one cycle, not unbounded
    Similarity.ivfCompact(spark, idx)
    val m3 = Similarity.Ivf.read(idx).get
    assert(m3.log.batches.size === 1)
    assert(new java.io.File(s"$idx/batches").listFiles().map(_.getName).toSet
      === (m2.log.batches.toSet + m3.log.batches.head))
    val got2 = Similarity.ivfProbe(spark, idx,
        planted.toSeq.toDF("vec_id", "embedding"), 1, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got2 === got)
  }

  test("ivfStats census arithmetic and the distribution-shift alert") {
    val idx = scratchDir("ivf_stats_").getAbsolutePath
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    Similarity.ivfBuild(base, idx, nlist = 16)
    Similarity.ivfAppend(batch, idx)
    val r = Similarity.ivfStats(spark, idx, topCells = 1).head()
    assert(r.getLong(0) === emb.count())                       // rows
    assert(r.getLong(1) === batch.count())                     // appended_rows
    assert(math.abs(r.getDouble(2) -
      batch.count().toDouble / emb.count()) < 1e-12)           // appended_fraction
    assert(r.getInt(3) === 1 && r.getInt(4) === 16)            // batch_roots, nlist
    assert(r.getLong(6) > 1L && r.getLong(6) <= 16L)           // occupied_cells
    assert(r.getDouble(7) > 0.0 && r.getDouble(7) < 1.0)       // top-1 share: spread
    assert(r.getLong(8) > 1L)                                  // appended spread too
    val stationaryShare = r.getDouble(9)
    assert(stationaryShare > 0.0 && stationaryShare < 1.0)
    // independent census check: top-1 share == fullest cell / total
    val counts = Similarity.ivfCells(spark, idx).groupBy("cell").count()
      .collect().map(_.getLong(1))
    assert(math.abs(r.getDouble(7) - counts.max.toDouble / counts.sum) < 1e-12)

    // DISTRIBUTION SHIFT: a tight far-off clump co-assigns to one cell,
    // so the appended census concentrates — the RECALL.md alert, in
    // miniature — while nothing about the manifest fraction alone would
    // distinguish this from benign same-distribution growth
    val dim = emb.head().getSeq[Float](1).length
    val far = (0 until 200).map(i => (9000000L + i, Seq.fill(dim)(10.0f)))
      .toDF("vec_id", "embedding")
    Similarity.ivfAppend(far, idx)
    val r2 = Similarity.ivfStats(spark, idx, topCells = 1).head()
    assert(r2.getInt(3) === 2)                                  // two batch roots
    assert(r2.getDouble(9) > 0.7, s"shifted top-1 share ${r2.getDouble(9)}")
    assert(r2.getDouble(9) > stationaryShare + 0.3,
      "the shift alert must separate cleanly from the stationary census")
  }

  test("ivfProbe pins a non-deterministic queries frame (collect == join view)") {
    val idx = scratchDir("ivf_nd_").getAbsolutePath
    Similarity.ivfBuild(emb, idx, nlist = 16)
    // rand()-gated queries: without the probeCells pin, the static
    // cell-set collect and the join side could compute DIFFERENT query
    // sets and silently drop candidates. Every query must come back
    // with a full top-k whose rank-1 neighbor the exact path confirms.
    val nd = emb.filter(col("vec_id") % 50 === 0)
      .filter(rand(7) >= 0.0) // non-deterministic in the plan, true for all rows
    val got = Similarity.ivfProbe(spark, idx, nd, 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = Similarity.knn(emb, emb.filter(col("vec_id") % 50 === 0), 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // nprobe = nlist probes every cell: the approximate path degenerates
    // to exact, so the sets must be EQUAL — any pin failure shows up as
    // missing queries or missing candidates
    assert(got === exact)
  }

  test("streaming ingest with compaction serves identically; a reused checkpoint resumes") {
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    def tmp(p: String) = scratchDir(p).getAbsolutePath
    // maxBatches = 1: every micro-batch beyond the first triggers a fold,
    // so the stream-grown index stays at <= 2 batch roots forever
    val idxC = tmp("ivf_cstream_")
    Similarity.ivfBuild(base, idxC, nlist = 16)
    val feedDir = tmp("ivf_cfeed_")
    graft.streaming.IvfIngest.ingestChunked(batch, "vec_id", idxC, feedDir,
      maxBatches = 1)
    val mc = Similarity.Ivf.read(idxC).get
    assert(mc.log.batches.size === 1, s"stream batches not folded: ${mc.log.batches}")
    assert(mc.log.appendedRows === batch.count())
    assert(mc.log.seq >= 2, "compaction must not hide that multiple appends committed")
    // ≡ one-shot append: same corpus identity, same served results
    val idxA = tmp("ivf_coneshot_")
    Similarity.ivfBuild(base, idxA, nlist = 16)
    Similarity.ivfAppend(batch, idxA)
    val ma = Similarity.Ivf.read(idxA).get
    assert((mc.log.rows, mc.log.fingerprint, mc.dim) === (ma.log.rows, ma.log.fingerprint, ma.dim))
    val queries = emb.filter(col("vec_id") % 50 === 0)
    def pairs(idx: String) = Similarity.ivfProbe(spark, idx, queries, 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(pairs(idxC) === pairs(idxA))
    assert(Similarity.ivfValid(emb, idxC, nlist = 16))
    // REUSED CHECKPOINT RESUMES, NOT RE-INGESTS: a second run over the
    // already-drained feed with freshCheckpoint = false sees every chunk
    // file as committed in the retained checkpoint and appends NOTHING
    graft.streaming.IvfIngest.ingestChunked(batch, "vec_id", idxC, feedDir,
      maxBatches = 1, freshCheckpoint = false)
    assert(Similarity.Ivf.read(idxC).get === mc)
  }

  test("a torn ivfAppend is invisible to readers and a retry recovers at O(batch)") {
    val idx = scratchDir("ivf_torn_").getAbsolutePath
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    Similarity.ivfBuild(base, idx, nlist = 16)
    val m0 = Similarity.Ivf.read(idx).get
    val served0 = Similarity.ivfCells(spark, idx).count()

    // CRASH 1: between staging and promotion — the batch files exist
    // under _staging/, nothing under batches/, manifest untouched
    val Some((m, id, bn, bfp)) = Similarity.ivfAppendStage(batch, idx)
    assert(Similarity.Ivf.read(idx).get === m0)
    assert(Similarity.ivfValid(base, idx, nlist = 16),
      "old index must stay valid through a torn append (crash after stage)")
    assert(Similarity.ivfCells(spark, idx).count() === served0,
      "staged-but-uncommitted rows must be invisible to the serving read")

    // CRASH 2: between promotion and the manifest commit — batches/<id>
    // exists on disk but the manifest (the read set) does not list it
    Similarity.Ivf.promote(idx, id)
    assert(new java.io.File(s"$idx/batches/$id/cells.parquet/_SUCCESS").exists())
    assert(Similarity.Ivf.read(idx).get === m0)
    // force a fresh validation scan (ivfValid memoizes per frame): a new
    // frame of the same base data misses the cache
    assert(Similarity.ivfValid(base.filter(lit(true)), idx, nlist = 16),
      "old index must stay valid through a torn append (crash after promote)")
    assert(Similarity.ivfCells(spark, idx).count() === served0,
      "promoted-but-uncommitted rows must be invisible to the serving read")

    // RETRY: the full append over the same batch re-derives the same id,
    // overwrites its own leftovers, and commits — O(batch), no rebuild
    Similarity.ivfAppend(batch, idx)
    val m1 = Similarity.Ivf.read(idx).get
    assert(m1.log.batches === Seq(id), "retry must reuse the deterministic id")
    assert((m1.log.rows, m1.log.fingerprint) === (m.log.rows + bn, m.log.fingerprint + bfp))
    assert(Similarity.ivfValid(emb, idx, nlist = 16))
    assert(Similarity.ivfCells(spark, idx).count() === emb.count())
    assert(Similarity.ivfCellsI8(spark, idx).count() === emb.count())
    // exactly-once: no duplicate ids from the torn first attempt
    assert(Similarity.ivfCells(spark, idx).groupBy("id")
      .count().filter(col("count") > 1).count() === 0L)
  }

  test("LSH recall vs brute force is meaningful on the real corpus") {
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val brute = Similarity.knn(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.lshKnn(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    // This corpus has no true near neighbors (brute top-5 cosines ~0.3,
    // i.e. ~72deg apart), so hyperplane-LSH theory predicts only
    // 1-(1-p^8)^8 ~ 12% candidate probability at p = 1 - acos(0.3)/pi;
    // with 50 pairs sampled, anything clearly above the ~1% chance floor
    // shows the bucketing works. True-near-neighbor recall is pinned by
    // the planted self-recall test above.
    assert(recall >= 0.02, s"LSH recall $recall at chance level")
  }

  test("TopKAggregator: bounded buffer, ordering, tie-break, and merge") {
    val agg = new graft.functions.TopKAggregator(3)
    // reduce keeps at most k, ordered (score DESC, id ASC)
    var buf = agg.zero
    Seq((0.5, 7L), (0.9, 2L), (0.5, 3L), (0.1, 9L), (0.9, 1L)).foreach { x =>
      buf = agg.reduce(buf, x)
    }
    assert(buf.toSeq === Seq((0.9, 1L), (0.9, 2L), (0.5, 3L)))
    // merge of two partial buffers = top-k of the union
    val other = agg.reduce(agg.reduce(agg.zero, (0.7, 4L)), (0.9, 0L))
    assert(agg.merge(buf, other).toSeq === Seq((0.9, 0L), (0.9, 1L), (0.9, 2L)))
    // knnTopK must agree with the window-formulated knn exactly
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val a = Similarity.knn(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = Similarity.knnTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a === b)
  }

  test("ivfCompact carries a zeroed (0,0) replay pair through unchanged") {
    val idx = scratchDir("ivf_zero_pair_").getAbsolutePath
    Similarity.ivfBuild(emb.filter(col("vec_id") % 10 =!= 0), idx, nlist = 16)
    Seq(0, 10).foreach(r =>
      Similarity.ivfAppend(emb.filter(col("vec_id") % 20 === r), idx))
    val m = Similarity.Ivf.read(idx).get
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, "manifest.json")), "UTF-8")
    assert(text.contains(s""""mv":${Similarity.Ivf.layoutVersion},""") && m.log.lastRows > 0L)
    // rewrite the manifest with the replay pair ZEROED in the current
    // layout: (0, 0) means "no append since build" — a state the fold
    // must carry through untouched, never fill in from the last batch
    java.nio.file.Files.write(
      java.nio.file.Paths.get(idx, "manifest.json"),
      text
        .replace(s""""last_rows":${m.log.lastRows}""", """"last_rows":0""")
        .replace(s""""last_fp":${m.log.lastFp}""", """"last_fp":0""")
        .getBytes("UTF-8"))
    Similarity.ivfCompact(spark, idx)
    val mc = Similarity.Ivf.read(idx).get
    assert(mc.log.batches.size === 1)
    assert((mc.log.lastRows, mc.log.lastFp) === (0L, 0L), "a zeroed replay pair must survive as-is")
    // ... and with the pair meaning "no append", re-sending the last
    // batch is NOT read as a replay: it commits (multiplicity-sensitive
    // manifest), instead of being silently skipped off a backfilled pair
    Similarity.ivfAppend(emb.filter(col("vec_id") % 20 === 10), idx)
    assert(Similarity.Ivf.read(idx).get.log.batches.size === 2)
  }

  test("ivfProbe pins an RDD-backed queries frame (leaf Catalyst cannot see)") {
    val idx = scratchDir("ivf_rdd_").getAbsolutePath
    Similarity.ivfBuild(emb, idx, nlist = 16)
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // parquet-backed deterministic queries: NO pin (the common serving
    // path pays zero materialization jobs)
    val fileQ = emb.filter(col("vec_id") % 50 === 0)
    Similarity.ivfProbe(spark, idx, fileQ, 5, nprobe = 16).collect()
    assert(sc.getPersistentRDDs.isEmpty,
      "a deterministic file-backed queries frame must not be pinned")
    // RDD-backed queries: every EXPRESSION is deterministic, but the
    // leaf rows live behind a LogicalRDD/ExternalRDD Catalyst cannot
    // promise stable across recomputation — the probe must pin it so
    // the collected cell set and the join side read the SAME rows
    val rddQ = spark.createDataFrame(fileQ.rdd, fileQ.schema)
    val got = Similarity.ivfProbe(spark, idx, rddQ, 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(sc.getPersistentRDDs.nonEmpty,
      "an RDD-backed queries frame must be checkpoint-pinned")
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    // nprobe = nlist degenerates to exact: full top-k for every query
    val exact = Similarity.knn(emb, fileQ, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === exact)
  }

  test("streamed query probes union to the one-shot ivfProbe (serving-side stream ≡ batch)") {
    val idx = scratchDir("ivf_qstream_").getAbsolutePath
    Similarity.ivfBuild(emb, idx, nlist = 16)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val oneShot = key(Similarity.ivfProbe(spark, idx, queries, 5, nprobe = 2))
    // the REAL streaming path the registered query runs: chunked feed,
    // one ivfProbe per micro-batch through foreachBatch, union read back
    import graft.streaming.WeatherStream
    val feedDir = scratchDir("ivf_qfeed_").getAbsolutePath
    val input = WeatherStream.chunkedFileFeedDF(queries, "vec_id", feedDir, nChunks = 3)
    val streamed = WeatherStream.drain(input.df, "spec_knn_stream",
      WeatherStream.PerBatch(b => Similarity.ivfProbe(spark, idx, b, 5, nprobe = 2)), input)
    assert(key(streamed) === oneShot)
    assert(oneShot.nonEmpty)
  }

  test("ivfCompact splits hot cells on a shifted index (bounded task/file size)") {
    val idx = scratchDir("ivf_hot_").getAbsolutePath
    Similarity.ivfBuild(emb.filter(col("vec_id") % 10 =!= 0), idx, nlist = 16)
    val dim = emb.head().getSeq[Float](1).length
    // a tight far-off clump: 400 near-identical vectors co-assign to ONE
    // cell — appendedRows = 450, mean load ~28, cap = 4×mean = ~112, so
    // the clump cell must fold into ceil(400/112) = 4 salted subtasks
    val far = (0 until 400).map(i =>
      (9100000L + i, Seq.tabulate(dim)(j => 10.0f + (if (j == 0) i * 1e-4f else 0f))))
      .toDF("vec_id", "embedding")
    Similarity.ivfAppend(far, idx)
    Similarity.ivfAppend(emb.filter(col("vec_id") % 10 === 0), idx)
    val queries = far.limit(20)
    def pairs() = Similarity.ivfProbe(spark, idx, queries, 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val before = pairs()
    Similarity.ivfCompact(spark, idx)
    val mc = Similarity.Ivf.read(idx).get
    assert(mc.log.batches.size === 1)
    val foldRoot = new java.io.File(s"$idx/batches/${mc.log.batches.head}/cells.parquet")
    val filesPerCell = foldRoot.listFiles().filter(_.getName.startsWith("cell="))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.startsWith("part-"))).toMap
    // the hot cell folded into MULTIPLE files; no cell got one giant task
    assert(filesPerCell.values.max >= 2,
      s"hot cell not split: $filesPerCell")
    // bounded: rows per file ≤ ~cap (hash salting is uneven only by
    // small-sample noise; 2× headroom keeps the assertion honest)
    val mean = math.max(1L, mc.log.appendedRows / mc.nlist)
    val maxFileRows = foldRoot.listFiles().filter(_.getName.startsWith("cell="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
      .map(f => spark.read.parquet(f.getAbsolutePath).count()).max
    assert(maxFileRows <= 8 * mean, s"max file rows $maxFileRows vs mean $mean")
    // cold cells keep the one-file-per-cell layout
    assert(filesPerCell.values.min === 1, s"cold cells over-split: $filesPerCell")
    // serving is unchanged through the split fold
    assert(pairs() === before)
  }

  test("ivfRefit splits hot cells: rows preserved, recall kept, concentration recovered") {
    val idx = scratchDir("ivf_refit_").getAbsolutePath
    Similarity.ivfBuild(emb.filter(col("vec_id") % 10 =!= 0), idx, nlist = 16)
    val dim = emb.head().getSeq[Float](1).length
    // the shifted regime: a tight far-off clump co-assigns to ONE cell
    // (the RECALL.md shift mode in miniature) — the probe's scan-fraction
    // guarantee is what decays, and refit is the O(hot cells) remedy
    val far = (0 until 400).map(i =>
      (9100000L + i, Seq.tabulate(dim)(j => 10.0f + (if (j == 0) i * 1e-4f else 0f))))
      .toDF("vec_id", "embedding")
    Similarity.ivfAppend(far, idx)
    Similarity.ivfAppend(emb.filter(col("vec_id") % 10 === 0), idx)
    val union = emb.union(far)
    val m0 = Similarity.Ivf.read(idx).get
    def liveCellCounts() = Similarity.ivfCells(spark, idx)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val before = liveCellCounts()
    val hotBefore = before.values.max
    // planted queries: nudged clones of clump members — their near-dups
    // are in the hot cell, exactly what the split must not lose
    val queries = (0 until 20).map { i =>
      (9200000L + i, Seq.tabulate(dim)(j =>
        10.0f + (if (j == 0) i * 1e-4f + 1e-5f else 0f)))
    }.toDF("vec_id", "embedding")
    def top1() = Similarity.ivfProbe(spark, idx, queries, 1, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val exactTop1 = Similarity.knn(union, queries, 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(top1() === exactTop1, "pre-refit probe must find the planted dups")

    val splits = Similarity.ivfRefit(spark, idx, capFactor = 2.0, maxSplit = 4)
    assert(splits > 0, "the clump cell must be past 2x the mean load")
    val m1 = Similarity.Ivf.read(idx).get
    // a refit moves LABELS, never rows: corpus identity is untouched and
    // the union frame still validates at the BUILT nlist
    assert((m1.log.rows, m1.log.fingerprint) === (m0.log.rows, m0.log.fingerprint))
    assert(m1.nlist === m0.nlist + splits && m1.nlist0 === 16 && m1.cbv === 1L)
    assert(m1.refits.nonEmpty && m1.refitRows >= 0L)
    assert(Similarity.ivfValid(union.filter(lit(true)), idx, nlist = 16),
      "refit index must keep validating for the same corpus at the built nlist")
    // exact row-multiset preservation through the exclusion read rule
    val live = Similarity.ivfCells(spark, idx)
    assert(live.count() === m0.log.rows)
    assert(live.groupBy("id").count().filter(col("count") > 1).count() === 0L,
      "pre-refit copies of split-cell rows must be excluded from serving")
    assert(Similarity.ivfCellsI8(spark, idx).count() === m0.log.rows)
    // concentration recovered: the hottest live cell shrank (the clump
    // split), codebook grew to match
    val after = liveCellCounts()
    assert(after.values.max < hotBefore,
      s"hot cell not reduced: max ${after.values.max} vs $hotBefore")
    assert(after.keys.max >= 16, "split cells must land in fresh cell ids")
    // recall equivalence: the refit index serves the planted near-dups
    // exactly like the exact ranking (split index ≡ rebuilt ceiling)
    assert(top1() === exactTop1, "post-refit probe must keep planted recall")
    // compact AFTER refit: the fold excludes superseded copies, accounts
    // relocated base rows (refitRows), and serving is unchanged
    Similarity.ivfCompact(spark, idx)
    val mc = Similarity.Ivf.read(idx).get
    assert(mc.log.batches.size === 1)
    assert(Similarity.ivfCells(spark, idx).count() === m0.log.rows)
    assert(top1() === exactTop1, "probe unchanged through the post-refit fold")
    // a refit pass whose cap nothing reaches is a no-op (4.0 is NOT used
    // here: the real corpus's natural k-means cells can legitimately sit
    // past 4x the mean — the no-op contract is "no cell past cap, index
    // untouched", pinned with a cap no cell reaches)
    assert(Similarity.ivfRefit(spark, idx, capFactor = 1000.0, maxSplit = 4) === 0)
  }

  test("manifest CAS: of two racing appends exactly one commits, the loser throws") {
    val idx = scratchDir("ivf_cas_").getAbsolutePath
    Similarity.ivfBuild(emb.filter(col("vec_id") % 10 =!= 0), idx, nlist = 16)
    val b1 = emb.filter(col("vec_id") % 20 === 0)
    val b2 = emb.filter(col("vec_id") % 20 === 10)
    // both writers stage against the SAME manifest state — the lost-delta
    // race that used to cost a silent rebuild
    val Some((m1, id1, n1, fp1)) = Similarity.ivfAppendStage(b1, idx)
    val Some((m2, id2, n2, fp2)) = Similarity.ivfAppendStage(b2, idx)
    Similarity.Ivf.promote(idx, id1)
    Similarity.Ivf.commitAppend(idx, m1, id1, n1, fp1) // winner
    Similarity.Ivf.promote(idx, id2)
    val e = intercept[IllegalStateException] {
      Similarity.Ivf.commitAppend(idx, m2, id2, n2, fp2) // loser: must throw
    }
    assert(e.getMessage.contains("CAS lost"))
    // the index is exactly build ∪ b1 — the loser's batch is invisible
    val m = Similarity.Ivf.read(idx).get
    assert(m.log.batches === Seq(id1))
    assert(Similarity.ivfValid(
      emb.filter(col("vec_id") % 10 =!= 0 || col("vec_id") % 20 === 0),
      idx, nlist = 16))
    // the loser retries against the FRESH manifest and lands normally
    Similarity.ivfAppend(b2, idx)
    assert(Similarity.ivfValid(emb.filter(lit(true)), idx, nlist = 16))
    // crash-between-claim-and-publish: re-running the SAME commit finds
    // its own token on the sequencer and (re-)publishes idempotently
    val mPre = Similarity.Ivf.read(idx).get
    val Some((m3, id3, n3, fp3)) =
      Similarity.ivfAppendStage(emb.filter(col("vec_id") % 20 === 5), idx)
    Similarity.Ivf.promote(idx, id3)
    Similarity.Ivf.commitAppend(idx, m3, id3, n3, fp3)
    Similarity.Ivf.commitAppend(idx, m3, id3, n3, fp3) // retry: no throw
    val mPost = Similarity.Ivf.read(idx).get
    assert(mPost.log.batches === mPre.log.batches :+ id3,
      "an idempotent commit retry must not duplicate the batch")
    assert(mPost.log.mseq === mPre.log.mseq + 1)
  }

  test("ivfRefit: an exact-duplicate clump cell is unsplittable — skipped, never thrown") {
    // the canonical hot-cell cause in near-dup corpora: one vector
    // repeated far past the cap. Its 2-means has <2 distinct centers,
    // so the refit must SKIP the cell (logged) and leave the index
    // intact — before the guard this threw ArrayIndexOutOfBounds and
    // made the O(hot-cells) remedy permanently unusable on that index.
    // the clump sits far from the spread so its cell holds ONLY
    // duplicates (a center lands on the clump point; every spread row
    // is orders of magnitude nearer some spread center)
    val clump = (1L to 400L).map(i => (i, Seq.fill(8)(10.0f)))
    val spread = (401L to 480L).map(i =>
      (i, Seq.tabulate(8)(j => ((i * 7 + j * 13) % 29).toFloat / 29f)))
    val corpus = (clump ++ spread).toDF("vec_id", "embedding")
    val idx = scratchDir("ivf_clump_").getAbsolutePath
    Similarity.ivfBuild(corpus, idx, nlist = 4)
    val m0 = Similarity.Ivf.read(idx).get
    // cap 2x the 120-row mean: the 400-row clump cell is the hot set
    val n = Similarity.ivfRefit(spark, idx, capFactor = 2.0, maxSplit = 4)
    val m1 = Similarity.Ivf.read(idx).get
    assert(n === 0, "a pure-duplicate clump admits no split")
    assert(m1 === m0, "a refit that split nothing must leave the manifest alone")
    assert(Similarity.ivfCells(spark, idx).count() === m0.log.rows)
    // the index still serves
    val q = corpus.filter(col("vec_id") === 450L)
    assert(Similarity.ivfProbe(spark, idx, q, 3, 4).count() === 3)
  }
}
