package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Near-dup operator semantics on constructed corpora + the planted
  * near-dups in the driver corpus (J ≈ 0.98 pairs, SURVEY.md §5). */
class DedupSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$SF/documents.parquet")

  test("minhash LSH finds exactly the exact-Jaccard pair set (planted dups)") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text")
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(lsh === exact,
      s"minhash missed ${exact -- lsh} / hallucinated ${lsh -- exact}")
  }

  test("Aggregator-UDAF minhash finds the same pair set as the expression form") {
    val expr = Dedup.minhashPairs(docs, "doc_id", "text")
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val agg = Dedup.minhashPairsAgg(docs, "doc_id", "text")
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(agg === expr, s"missed ${expr -- agg} / extra ${agg -- expr}")
  }

  test("minhash signature estimate tracks exact jaccard") {
    val rows = Dedup.minhashPairs(docs, "doc_id", "text")
      .select("j_est", "j_exact").collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.35,
        s"estimate ${r.getDouble(0)} far from exact ${r.getDouble(1)}")
    }
  }

  test("simhash: identical texts collide at hamming 0; disjoint texts don't pair") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact copy
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 2L)).contains(0), s"identical docs should be hamming 0: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"disjoint docs should not band-collide: $pairs")
  }

  test("shingleHashes: per-doc distinct counts equal the string-shingle counts") {
    // The hashed path must be a drop-in for the string path: same number
    // of distinct shingles per document (collision-free on real corpora).
    val byStr = Dedup.shingles(docs, "doc_id", "text").groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byHash = Dedup.shingleHashes(docs, "doc_id", "text").groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byStr === byHash)
  }

  test("nearDupClusters merges transitive chains and leaves singletons alone") {
    // A~B and B~C above threshold, A~C below: one cluster via transitivity.
    // 20-word docs; each edit block shifts 5 words => step Jaccard 13/23 ≈
    // 0.57 >= 0.5, but A vs C share only 8/28 ≈ 0.29 < 0.5.
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val b = ((1 to 14).map(i => s"a$i") ++ (15 to 19).map(i => s"b$i") :+ "a20").mkString(" ")
    val c = ((1 to 5).map(i => s"c$i") ++ (6 to 14).map(i => s"a$i")
      ++ (15 to 19).map(i => s"b$i") :+ "a20").mkString(" ")
    val df = Seq((1L, a), (2L, b), (3L, c), (4L, "totally unrelated content here"))
      .toDF("doc_id", "text")
    // direct pair sanity: exactly (1,2) and (2,3)
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text")
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (2L, 3L)), s"unexpected pair graph $pairs")
    val clusters = Dedup.nearDupClusters(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(clusters === Map(
      1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L), 4L -> (4L, 1L)))
  }

  test("ngramJaccardPairs equals brute force on random corpora") {
    // Independent driver-side reference mirroring the full semantics
    // (3-shingles, stop-shingle cap, Jaccard over the capped space):
    // same pairs, same counts. Seeded corpora with planted near-dups AND
    // a hot boilerplate shingle exercising the cap. Implementation-
    // independent — it pinned the (reverted) prefix-filter experiment
    // too; see the SURVEY §7.3d lesson.
    val rng = new scala.util.Random(20260812L)
    for (trial <- 1 to 3) {
      val vocab = (1 to 25).map(i => s"w$i")
      val raw = (1L to 60L).map { id =>
        val len = 3 + rng.nextInt(18)
        id -> Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" ")
      }.toMap
      val docs = raw.map { case (id, t) =>
        if (id % 7 == 0) // near-dup of the previous doc: one word appended
          id -> (raw(id - 1) + " w1")
        else if (id % 11 == 0) // boilerplate tail shared by many docs
          id -> (t + " end of document boilerplate line")
        else id -> t
      }.toSeq.sortBy(_._1)

      // driver-side reference
      def shingleSet(t: String): Set[String] = {
        val ws = t.split(" ").filter(_.nonEmpty)
        if (ws.length < 3) Set.empty[String]
        else ws.sliding(3).map(_.mkString(" ")).toSet
      }
      val sets0 = docs.map { case (id, t) => id -> shingleSet(t) }
        .filter(_._2.nonEmpty).toMap
      val nDocs = sets0.size
      val cap = math.max(0.1 * nDocs, 5.0)
      val dfC = sets0.values.flatten.groupBy(identity).map { case (s, o) => s -> o.size }
      val capped = sets0.map { case (id, s) => id -> s.filter(dfC(_) <= cap) }
      val expected = (for {
        (d1, s1) <- capped.toSeq; (d2, s2) <- capped.toSeq if d1 < d2
        inter = (s1 & s2).size if inter > 0
        j = inter.toDouble / (s1.size + s2.size - inter) if j >= 0.5
      } yield (d1, d2) -> ((inter.toLong, s1.size.toLong, s2.size.toLong))).toMap

      val got = Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got === expected,
        s"trial $trial: missing ${expected.keySet -- got.keySet}, " +
          s"extra ${got.keySet -- expected.keySet}, " +
          s"diff ${got.filter { case (k, v) => expected.get(k).exists(_ != v) }}")
    }
  }

  test("decontaminateBloom equals decontaminate on random corpora (frame equality)") {
    // The bloom path's contract is bit-identical output: the filter has
    // no false negatives and the exact join removes its false positives.
    // Random seeded corpora with planted verbatim/partial overlap; fpp
    // cranked to 0.5 in one trial so false positives DO occur and must
    // be cleaned up by the join.
    val rng = new scala.util.Random(20260815L)
    for ((fpp, trial) <- Seq(0.01 -> 1, 0.5 -> 2, 0.03 -> 3)) {
      val vocab = (1 to 30).map(i => s"w$i")
      val docs = (1L to 80L).map { id =>
        val len = rng.nextInt(22) // includes < 3 words: shingle-less docs
        id -> Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" ")
      }.toDF("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val bench = docs.filter(col("doc_id") % 5 === 0)
      val exact = Dedup.decontaminate(corpus, bench, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
      val bloom = Dedup.decontaminateBloom(corpus, bench, "doc_id", "text",
          fpp = fpp)
        .orderBy("doc_id").collect().toSeq
      assert(bloom === exact, s"trial $trial (fpp=$fpp)")
    }
  }

  test("BloomMightContainLong: no false negatives; probe runs inside codegen") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val keys = (1L to 5000L).map(i => i * 2654435761L)
    val kdf = keys.toDF("s")
    val bf = kdf.stat.bloomFilter("s", keys.size.toLong, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos); bos.toByteArray
    }
    val probe = ColumnBridge.column(graft.expressions.BloomMightContainLong(
      ColumnBridge.expression(col("s")), bytes))
    // every inserted key answers true (no false negatives)
    assert(kdf.filter(!probe).count() === 0L)
    // disjoint probe keys: false-positive rate is near fpp, not near 1 —
    // i.e. the filter actually prunes (generous bound: < 10%)
    val missDf = (1L to 5000L).map(i => i * 2654435761L + 1L).toDF("s")
    val fpCount = missDf.filter(probe).count()
    assert(fpCount < 500L, s"false-positive count $fpCount of 5000")
  }

  test("decontaminate: verbatim benchmark copy flagged, overlap counted, short docs 0") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),      // exact copy: frac 1.0
      (2L, "alpha beta gamma nine ten eleven twelve"),  // shares 1 of 5 shingles
      (3L, "one two three four five six"),              // disjoint: 0 hits
      (4L, "too short")                                 // < 3 words: no shingles
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toMap
    assert(out(1L) === ((4L, 4L, 1.0, 1)))
    assert(out(2L)._1 === 5L && out(2L)._2 === 1L && out(2L)._4 === 0)
    assert(out(3L) === ((4L, 0L, 0.0, 0)))
    assert(out(4L) === ((0L, 0L, 0.0, 0)))
  }

  test("incrementalNearDups: batch dup finds its best corpus match, unique doc absent") {
    val corpus = Seq(
      (1L, (1 to 20).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 20).map(i => s"b$i").mkString(" "))
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, ((1 to 19).map(i => s"a$i") :+ "x").mkString(" ")), // near-dup of 1
      (11L, (1 to 20).map(i => s"z$i").mkString(" "))           // unique
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDups(corpus, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(10L -> 1L), s"unexpected incremental verdicts $out")
  }

  test("probeNearDups distributes over batch chunking (the streaming ≡ batch argument)") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    val whole = rows(Dedup.incrementalNearDups(corpus, batch, "doc_id", "text"))
    assert(whole.nonEmpty, "driver corpus should yield incremental near-dups")
    // the same batch probed in three arbitrary chunks against ONE
    // prepared index: every output row depends only on its own batch doc
    // and the static index, so the union must equal the one-shot probe —
    // exactly what licenses dedup_incremental_stream to share the batch
    // oracle under any micro-batch chunking
    val ix = Dedup.nearDupIndex(corpus, "doc_id", "text")
    val unioned = (0 until 3)
      .map(i => rows(Dedup.probeNearDups(ix, batch.filter(col("doc_id") % 3 === i), "text")))
      .reduce(_ ++ _)
    assert(unioned === whole)
  }


  private def probeRows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getDouble(5))).toSet

  test("stored near-dup index: load-probe ≡ in-session; bucketed scan survives a fresh catalog") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = scratchDir("ndix_").getAbsolutePath
    val inSession = probeRows(Dedup.probeNearDups(
      Dedup.nearDupIndex(corpus, "doc_id", "text"), batch, "text"))
    assert(inSession.nonEmpty)
    Dedup.nearDupIndexWrite(corpus, "doc_id", "text", dir)
    // simulate a NEW session: drop the catalog entry the write registered
    // — the load must re-register the bucketed table via DDL from the
    // manifest alone (bucket metadata lives in the catalog, not files)
    spark.sql(s"DROP TABLE IF EXISTS ${Dedup.NearDup.table(dir)}")
    val ix = Dedup.nearDupIndexLoad(spark, dir)
    assert(probeRows(Dedup.probeNearDups(ix, batch, "text")) === inSession)
    // the candidate equi-join reads the corpus side EXCHANGE-FREE: only
    // the (small) probe side shuffles into the bucket layout
    val bs = Dedup.shingleHashes(batch, "doc_id", "text").select("s")
    val j = bs.hint("merge").join(ix.shingleRoots.head, "s")
    j.write.format("noop").mode("overwrite").save()
    val planStr = j.queryExecution.executedPlan.toString
    assert(planStr.contains("SortMergeJoin"), s"expected SMJ:\n$planStr")
    assert("Exchange hashpartitioning".r.findAllIn(planStr).size === 1,
      s"bucketed corpus side must not shuffle:\n$planStr")
    // validity gate: exact corpus at exact parameters only
    assert(Dedup.nearDupValid(corpus, "doc_id", "text", dir))
    assert(!Dedup.nearDupValid(docs, "doc_id", "text", dir),
      "a different corpus must not validate")
    assert(!Dedup.nearDupValid(corpus, "doc_id", "text", dir, k = 4),
      "different shingle width must not validate")
    assert(!Dedup.nearDupValid(corpus, "doc_id", "source", dir),
      "a different text column must not validate (the memo keys it too)")
  }

  test("nearDupAppend: appended ≡ rebuilt on stationary appends; replay no-op; union validates") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val base = corpus.filter(col("doc_id") % 2 === 1)
    val grow = corpus.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    def tmp() = scratchDir("ndix_a_").getAbsolutePath
    val dirA = tmp(); val dirR = tmp()
    Dedup.nearDupIndexWrite(base, "doc_id", "text", dirA)
    Dedup.nearDupAppend(grow, dirA)
    Dedup.nearDupIndexWrite(corpus, "doc_id", "text", dirR)
    // stationarity precondition (what makes append ≡ rebuild EXACT): no
    // shingle crosses the frozen hot cap in either census
    assert(spark.read.parquet(s"$dirA/hot.parquet").count() === 0L)
    assert(spark.read.parquet(s"$dirR/hot.parquet").count() === 0L)
    val pa = probeRows(Dedup.probeNearDups(Dedup.nearDupIndexLoad(spark, dirA), batch, "text"))
    val pr = probeRows(Dedup.probeNearDups(Dedup.nearDupIndexLoad(spark, dirR), batch, "text"))
    assert(pa.nonEmpty && pa === pr,
      "appended-index probe must equal the rebuilt-index probe")
    // the appended manifest IS the union build's (fingerprint additivity)
    val ma = Dedup.NearDup.read(dirA).get
    val mr = Dedup.NearDup.read(dirR).get
    assert((ma.log.rows, ma.log.fingerprint) === (mr.log.rows, mr.log.fingerprint))
    assert(ma.log.appendedRows === grow.count() && ma.log.batches.size === 1)
    // ... so the union frame validates the appended index, no rebuild
    assert(Dedup.nearDupValid(corpus, "doc_id", "text", dirA))
    // at-least-once replay window: re-appending the LAST committed batch
    // is a logged no-op
    Dedup.nearDupAppend(grow, dirA)
    assert(Dedup.NearDup.read(dirA).get === ma)
  }

  test("nearDupStats: gauge arithmetic off the manifest and artifacts") {
    val corpus = (1 to 30).map(i =>
      (i.toLong, (1 to 12).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = scratchDir("ndix_s_").getAbsolutePath
    Dedup.nearDupIndexWrite(corpus.filter(col("doc_id") <= 20), "doc_id", "text", dir)
    Dedup.nearDupAppend(corpus.filter(col("doc_id") > 20), dir)
    val r = Dedup.nearDupStats(spark, dir).head()
    assert(r.getLong(0) === 30L)                                // rows
    assert(r.getLong(1) === 10L)                                // appended_rows
    assert(math.abs(r.getDouble(2) - 10.0 / 30.0) < 1e-12)      // appended_fraction
    assert(r.getInt(3) === 1 && r.getInt(4) === 3)              // batch_roots, k
    assert(r.getLong(5) === 0L)                                 // hot_shingles (unique words)
    // 12 words per doc → 10 distinct 3-shingles per doc, all unique
    assert(r.getLong(6) === 200L && r.getLong(7) === 100L)
  }

  test("nearDupCompact: fold probes identically; DEFERRED sweep (reader grace period)") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    def slice(r: Int) = corpus.filter(col("doc_id") % 3 === r)
    def tmp() = scratchDir("ndix_c_").getAbsolutePath
    val dirC = tmp(); val dirU = tmp() // folded vs never-compacted twin
    for (d <- Seq(dirC, dirU)) {
      Dedup.nearDupIndexWrite(slice(1), "doc_id", "text", d)
      Dedup.nearDupAppend(slice(2), d)
      Dedup.nearDupAppend(slice(0), d)
    }
    val before = probeRows(Dedup.probeNearDups(Dedup.nearDupIndexLoad(spark, dirU), batch, "text"))
    assert(before.nonEmpty)
    val m1 = Dedup.NearDup.read(dirC).get
    assert(m1.log.batches.size === 2)
    Dedup.nearDupCompact(spark, dirC)
    val m2 = Dedup.NearDup.read(dirC).get
    // ONE compacted root; corpus identity and the staleness signal are
    // UNCHANGED (compaction is layout-only — the census stays frozen, so
    // the gauge must keep alerting)
    assert(m2.log.batches.size === 1 && m2.log.batches.head.startsWith("c"))
    assert((m2.log.rows, m2.log.fingerprint, m2.log.appendedRows, m2.log.seq) ===
      (m1.log.rows, m1.log.fingerprint, m1.log.appendedRows, m1.log.seq))
    // probe-identical: pure layout fold needs NO stationarity assumption
    assert(probeRows(Dedup.probeNearDups(
      Dedup.nearDupIndexLoad(spark, dirC), batch, "text")) === before)
    // the folded manifest still validates the union corpus (fold-invariant
    // fingerprint), so session re-runs go probe-only
    assert(Dedup.nearDupValid(corpus, "doc_id", "text", dirC))
    // DEFERRED sweep: the superseded roots survive this fold (a reader
    // planned against the pre-compact manifest keeps its files)...
    for (b <- m1.log.batches)
      assert(new java.io.File(s"$dirC/batches/$b").exists(),
        s"superseded root $b must survive one compaction cycle")
    // ...and are removed only by the NEXT fold (append again → compact)
    val again = (1 to 40).map(i =>
      (1000000L + i, (1 to 12).map(j => s"x${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    Dedup.nearDupAppend(again, dirC)
    Dedup.nearDupCompact(spark, dirC)
    for (b <- m1.log.batches)
      assert(!new java.io.File(s"$dirC/batches/$b").exists(),
        s"root $b older than the new fold's inputs must be swept")
    assert(Dedup.NearDup.read(dirC).get.log.batches.size === 1)
    // guard: fewer than two roots is a no-op (nothing to fold)
    val m3 = Dedup.NearDup.read(dirC).get
    Dedup.nearDupCompact(spark, dirC)
    assert(Dedup.NearDup.read(dirC).get === m3)
  }

  test("null/empty text degrades totally: no crashes, sane memberships") {
    // The driver corpus has no nulls, so the oracles never exercise
    // them — pin the library contract here: null/short text docs simply
    // have no shingles (dropped from pair generation, zero-count rows in
    // total outputs), and null vectors are excluded from clustering.
    val docs = Seq((1L, "alpha beta gamma delta"),
      (2L, null.asInstanceOf[String]), (3L, "")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text").count() === 0L)
    assert(Dedup.simhashPairs(docs, "doc_id", "text").count() === 0L)
    val dec = Dedup.decontaminate(docs, docs.limit(1), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(4))).toMap
    assert(dec.keySet === Set(1L, 2L, 3L), "decontam output must stay total")
    assert(dec(2L) === ((0L, 0)) && dec(3L) === ((0L, 0)))
    val emb = Seq((1L, Array(1.0f, 2.0f)), (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array(1.1f, 2.1f))).toDF("vec_id", "embedding")
    val km = graft.operators.Embeddings.kmeans(emb, "vec_id", "embedding", 1, 1)
      .collect().map(_.getLong(0)).toSet
    assert(km === Set(1L, 3L), "null vectors must be excluded from clustering")
  }

  test("embedPairsBanded: planted near-dups survive the bounded blocking") {
    // real corpus + planted near-copies (cos ≈ 1, same label): the
    // banded sign-LSH blocking must keep every planted pair — this is
    // the recall guard for the bounded dedup_embed spelling
    val emb = spark.read.parquet(s"$SF/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))
    val planted = emb.filter(col("vec_id") % 100 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
        expr("transform(embedding, x -> x * 1.0001d + 0.0001d)").as("embedding"))
    val n = planted.count()
    assert(n > 0, "need planted vectors")
    val pairs = Dedup.embedPairsBanded(emb.union(planted), "vec_id", "embedding",
        Seq("label"), threshold = 0.99)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = emb.filter(col("vec_id") % 100 === 0)
      .select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + 1000000L)).toSet
    assert((expected -- pairs).isEmpty,
      s"banded blocking dropped planted near-dups: ${expected -- pairs}")
  }

  test("embedPairsBanded excludes null and non-finite vectors") {
    // a NaN element would bucket differently per engine (Spark's
    // NaN >= 0 is false; DuckDB orders NaN above all doubles) — both
    // sides therefore exclude non-finite vectors up front, checked via
    // the codegen'd finiteness of sum(x_i^2)
    val good = Seq(
      (1L, "a", Array(1.0, 2.0, 0.0, 0.0)),
      (2L, "a", Array(1.0, 2.0, 1e-7, 0.0))).toDF("vec_id", "label", "embedding")
    val bad = Seq(
      (3L, "a", Array(Double.NaN, 2.0, 0.0, 0.0)),
      (4L, "a", Array(1.0, Double.PositiveInfinity, 0.0, 0.0)),
      (5L, "a", Array(1.0, Double.NegativeInfinity, 0.0, 0.0)),
      (6L, "a", null.asInstanceOf[Array[Double]])).toDF("vec_id", "label", "embedding")
    val pairs = Dedup.embedPairsBanded(good.union(bad), "vec_id", "embedding",
        Seq("label"), threshold = 0.9, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)),
      s"non-finite vectors leaked into the pair set: $pairs")
  }

  test("embedBits integer law: occupancy-16 buckets track corpus size") {
    // smallest b with 16·2^b >= n — spot-pin the law the oracle mirrors,
    // including the exact-power-of-two edges float log2 would get wrong
    assert(Dedup.embedBits(0L, 16) === 1)
    assert(Dedup.embedBits(32L, 16) === 1)
    assert(Dedup.embedBits(33L, 16) === 2)
    assert(Dedup.embedBits(500L, 16) === 5)
    assert(Dedup.embedBits(2240L, 16) === 8) // sf0.1 + planted
    assert(Dedup.embedBits(16L << 20, 16) === 20)
    assert(Dedup.embedBits(Long.MaxValue / 4, 16) === Dedup.EmbedBitsMax)
  }

  test("exactDedup keeps exactly the earliest row per key") {
    val events = graft.sources.Tables.events(spark, SF)
    val deduped = Dedup.exactDedup(events, Seq("user_id", "event_type"),
      Seq(col("ts"), col("event_id")))
    val keys = deduped.groupBy("user_id", "event_type").count()
      .filter(col("count") > 1).count()
    assert(keys === 0L, "dedup left duplicate keys")
    // survivor must carry the minimal (ts, event_id) of its group
    val viaAgg = events.groupBy("user_id", "event_type")
      .agg(min(struct(col("ts"), col("event_id")))("event_id").as("keeper"))
    val mismatches = deduped.select(col("user_id"), col("event_type"), col("event_id"))
      .join(viaAgg, Seq("user_id", "event_type"))
      .filter(col("event_id") =!= col("keeper")).count()
    assert(mismatches === 0L)
  }

  test("stored embed index: stored ≡ in-session; bucketed scan; append + replay; planted recall") {
    val emb = spark.read.parquet(s"$SF/embeddings.parquet")
      .select("vec_id", "label", "embedding")
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val dir = scratchDir("edix_").getAbsolutePath
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    // threshold -1 (the registered report form): every batch vector's
    // best blocked match — a strong nonempty frame for the equality pin
    val inSession = key(Dedup.probeEmbedDups(
      Dedup.embedDupIndex(corpus, "vec_id", "embedding", Seq("label")),
      batch, -1.0))
    assert(inSession.nonEmpty)
    Dedup.embedDupIndexWrite(corpus, "vec_id", "embedding", Seq("label"), dir)
    // simulate a NEW session: drop the catalog entry — the load must
    // re-register the bucketed bucket table via DDL from the manifest
    spark.sql(s"DROP TABLE IF EXISTS ${Dedup.EmbedDup.table(dir)}")
    val ix = Dedup.embedDupIndexLoad(spark, dir)
    assert(key(Dedup.probeEmbedDups(ix, batch, -1.0)) === inSession,
      "stored-index probe must equal the in-session probe exactly")
    // frozen bits: the stored index bands with the BUILD corpus's bit
    // count, and the in-session twin above computed the same law
    assert(ix.bits === Dedup.embedBits(
      corpus.filter(col("embedding").isNotNull).count(), Dedup.EmbedOccupancy))
    // the candidate equi-join reads the corpus side exchange-free (the
    // bucketed-table layout rule the text index pinned)
    val bsig = ix.bucketRoots.head
    val probe = spark.range(3).select(col("id").as("vec_id"),
      (col("id") % 2).cast("int").as("label"), col("id").as("bk"))
    val j = probe.hint("merge").join(bsig, Seq("label", "bk"))
    j.write.format("noop").mode("overwrite").save()
    val planStr = j.queryExecution.executedPlan.toString
    assert(planStr.contains("SortMergeJoin"), s"expected SMJ:\n$planStr")
    assert("Exchange hashpartitioning".r.findAllIn(planStr).size === 1,
      s"bucketed bucket side must not shuffle:\n$planStr")
    // validity gate
    assert(Dedup.embedDupValid(corpus, "vec_id", "embedding", Seq("label"), dir))
    assert(!Dedup.embedDupValid(emb, "vec_id", "embedding", Seq("label"), dir),
      "a different corpus must not validate")
    assert(!Dedup.embedDupValid(corpus, "label", "embedding", Seq("label"), dir),
      "a different id column must not validate (the memo keys it too)")
    // planted near-dups served through the stored index: nudged clones of
    // corpus vectors must come back as their originals' best match
    assert(emb.head().getSeq[Float](2).length === Dedup.EmbedDim)
    def clones(rows: Array[org.apache.spark.sql.Row], offset: Long) =
      rows.map { r =>
        val v = r.getSeq[Float](2).toArray
        v(0) = v(0) + 0.01f
        (r.getLong(0) + offset, r.getInt(1), v.toSeq)
      }.toSeq.toDF("vec_id", "label", "embedding")
    val cRows = corpus.filter(col("vec_id") < 6).collect()
    assert(cRows.nonEmpty)
    val hits = Dedup.probeEmbedDups(ix, clones(cRows, 10000L), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    cRows.foreach { r =>
      assert(hits.get(r.getLong(0) + 10000L).contains(r.getLong(0)),
        s"planted clone of ${r.getLong(0)} not matched: $hits")
    }
    // APPEND: the batch joins the index (frozen bits), fingerprint
    // additivity validates the union, and appended vectors are findable
    Dedup.embedDupAppend(batch, dir)
    val ma = Dedup.EmbedDup.read(dir).get
    assert(ma.log.appendedRows === batch.count() && ma.log.batches.size === 1)
    assert(Dedup.embedDupValid(emb, "vec_id", "embedding", Seq("label"), dir),
      "the union frame must validate the appended index (additive fingerprint)")
    val ix2 = Dedup.embedDupIndexLoad(spark, dir)
    val bRows = batch.filter(col("vec_id") < 40).collect()
    assert(bRows.nonEmpty)
    val hits2 = Dedup.probeEmbedDups(ix2, clones(bRows, 20000L), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    bRows.foreach { r =>
      assert(hits2.get(r.getLong(0) + 20000L).contains(r.getLong(0)),
        s"appended vector ${r.getLong(0)} not found via the stored index: $hits2")
    }
    // at-least-once replay window: re-appending the LAST batch is a no-op
    Dedup.embedDupAppend(batch, dir)
    assert(Dedup.EmbedDup.read(dir).get === ma)
  }

  test("manifest CAS: of two racing dedup mutations exactly one commits, the loser throws; stale own-token replay is a no-op") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val b1 = docs.filter(col("doc_id") % 20 === 0)
    val b2 = docs.filter(col("doc_id") % 20 === 10)
    val dir = scratchDir("ndix_cas_").getAbsolutePath
    Dedup.nearDupIndexWrite(corpus, "doc_id", "text", dir)
    val m0 = Dedup.NearDup.read(dir).get
    // writer A lands normally (claims m<m0.log.mseq+1>)
    Dedup.nearDupAppend(b1, dir)
    val m1 = Dedup.NearDup.read(dir).get
    assert(m1.log.mseq === m0.log.mseq + 1 && m1.log.batches.size === 1)
    // writer B raced A: staged against m0, commits with the STALE
    // expected mseq — must throw with A's token, manifest untouched
    // (before the CAS this silently erased A's delta)
    val e = intercept[IllegalStateException] {
      Dedup.NearDup.casCommit(dir, m0.log.mseq, "b_stale_racer")(_ =>
        fail("the CAS loser must never publish"))
    }
    assert(e.getMessage.contains("CAS lost"))
    assert(Dedup.NearDup.read(dir).get === m1, "loser left the manifest alone")
    // the loser retries against the FRESH manifest (the real path:
    // nearDupAppend re-reads) and lands
    Dedup.nearDupAppend(b2, dir)
    val m2 = Dedup.NearDup.read(dir).get
    assert(m2.log.mseq === m1.log.mseq + 1 && m2.log.batches.size === 2)
    // own-token replay of an ALREADY-PUBLISHED commit: the marker holds
    // our token but the live manifest is past the expected mseq — the
    // replay must NOT rewrite (a rewrite would regress mseq and silently
    // erase m2's later commit)
    var published = false
    Dedup.NearDup.casCommit(dir, m0.log.mseq, m1.log.batches.head)(_ => published = true)
    assert(!published, "stale own-token replay must be a no-op")
    assert(Dedup.NearDup.read(dir).get === m2)
    // the index stayed valid and serving through all of it
    assert(Dedup.nearDupValid(docs, "doc_id", "text", dir))
    assert(probeRows(Dedup.probeNearDups(Dedup.nearDupIndexLoad(spark, dir),
      docs.filter(col("doc_id") % 20 === 5), "text")).nonEmpty)
  }

  test("embed manifest: parameterized block type (DECIMAL(10,2)) survives the JSON round-trip and the fresh-session DDL") {
    val emb = spark.read.parquet(s"$SF/embeddings.parquet")
      .select("vec_id", "label", "embedding")
      .withColumn("price_band", (col("label") % 3).cast("decimal(10,2)"))
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val dir = scratchDir("edix_dec_").getAbsolutePath
    Dedup.embedDupIndexWrite(corpus, "vec_id", "embedding",
      Seq("label", "price_band"), dir)
    val m = Dedup.EmbedDup.read(dir).get
    // the comma inside the parameterized type must survive verbatim —
    // the mv:1 comma-joined form split this into ("DECIMAL(10", "2)")
    // and corrupted the CREATE TABLE DDL in a fresh session
    assert(m.blockCols === Seq("label", "price_band"))
    assert(m.blockTypes === Seq("INT", "DECIMAL(10,2)"))
    // fresh-session path: the DDL re-registration must parse and serve
    spark.sql(s"DROP TABLE IF EXISTS ${Dedup.EmbedDup.table(dir)}")
    val ix = Dedup.embedDupIndexLoad(spark, dir)
    assert(Dedup.probeEmbedDups(ix, batch, -1.0).count() > 0)
  }

  test("embedDupCompact: fold probes identically; deferred sweep; stats gauge") {
    val emb = spark.read.parquet(s"$SF/embeddings.parquet")
      .select("vec_id", "label", "embedding")
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    def slice(r: Int) = corpus.filter(col("vec_id") % 3 === r)
    def tmp() = scratchDir("edix_c_").getAbsolutePath
    val dirC = tmp(); val dirU = tmp() // folded vs never-compacted twin
    for (d <- Seq(dirC, dirU)) {
      Dedup.embedDupIndexWrite(slice(1), "vec_id", "embedding", Seq("label"), d)
      Dedup.embedDupAppend(slice(2), d)
      Dedup.embedDupAppend(slice(0), d)
    }
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val before = key(Dedup.probeEmbedDups(
      Dedup.embedDupIndexLoad(spark, dirU), batch, -1.0))
    assert(before.nonEmpty)
    val m1 = Dedup.EmbedDup.read(dirC).get
    assert(m1.log.batches.size === 2)
    Dedup.embedDupCompact(spark, dirC)
    val m2 = Dedup.EmbedDup.read(dirC).get
    // ONE compacted root; corpus identity, frozen bits, and the
    // staleness signal are UNCHANGED (the fold is layout-only)
    assert(m2.log.batches.size === 1 && m2.log.batches.head.startsWith("c"))
    assert((m2.log.rows, m2.log.fingerprint, m2.log.appendedRows, m2.log.seq, m2.bits) ===
      (m1.log.rows, m1.log.fingerprint, m1.log.appendedRows, m1.log.seq, m1.bits))
    // probe-identical: a pure layout fold needs NO stationarity assumption
    assert(key(Dedup.probeEmbedDups(
      Dedup.embedDupIndexLoad(spark, dirC), batch, -1.0)) === before)
    // the folded manifest still validates the union corpus
    assert(Dedup.embedDupValid(corpus, "vec_id", "embedding", Seq("label"), dirC))
    // DEFERRED sweep: superseded roots survive this fold...
    for (b <- m1.log.batches)
      assert(new java.io.File(s"$dirC/batches/$b").exists(),
        s"superseded root $b must survive one compaction cycle")
    // ...and are removed only by the NEXT fold
    val again = corpus.filter(col("vec_id") % 3 === 1).limit(40)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
        col("embedding"))
    Dedup.embedDupAppend(again, dirC)
    Dedup.embedDupCompact(spark, dirC)
    for (b <- m1.log.batches)
      assert(!new java.io.File(s"$dirC/batches/$b").exists(),
        s"root $b older than the new fold's inputs must be swept")
    assert(Dedup.EmbedDup.read(dirC).get.log.batches.size === 1)
    // guard: fewer than two roots is a no-op
    val m3 = Dedup.EmbedDup.read(dirC).get
    Dedup.embedDupCompact(spark, dirC)
    assert(Dedup.EmbedDup.read(dirC).get === m3)
    // stats gauge arithmetic off the manifest and artifacts
    val st = Dedup.embedDupStats(spark, dirC).head()
    assert(st.getLong(0) === m3.log.rows)
    assert(st.getLong(1) === m3.log.appendedRows)
    assert(st.getDouble(2) === m3.log.appendedRows.toDouble / m3.log.rows)
    assert(st.getInt(3) === 1 && st.getInt(4) === m3.bands &&
      st.getInt(5) === m3.bits && st.getInt(6) === m3.dim)
    assert(st.getLong(7) ===
      spark.read.parquet(s"$dirC/buckets").count())
  }

}
