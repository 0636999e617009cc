package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Heuristic text operators (no SQL oracle) + sketch-aggregate bounds. */
class TextAndAggSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  test("unigram NLL: repeated-boilerplate doc scores below a rare-word doc") {
    // 8 copies of the same words make them corpus-frequent (low surprise);
    // the singleton doc's words each occur once (max surprise).
    val docs = ((1L to 8L).map(i => i -> "common words repeated in every doc")
      :+ (9L -> "xylophone quasar obelisk zephyr marmoset")).toSeq.toDF("doc_id", "text")
    val scored = {
      val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val census = words.groupBy("w").agg(count(lit(1)).as("c"))
      val total = census.agg(sum(col("c")).as("n"))
      words.join(census, "w").crossJoin(broadcast(total))
        .withColumn("nll", -log(col("c").cast("double") / col("n")))
        .groupBy("doc_id").agg(avg(col("nll")).as("avg_nll"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(scored(1L) < scored(9L),
      s"boilerplate ${scored(1L)} should score below rare-word ${scored(9L)}")
    assert(scored(9L) === scored.values.max)
  }

  test("language ID picks the right language on marker-bearing sentences") {
    val df = Seq(
      (1L, "the cat and the dog sat with that hat of mine", "?"),
      (2L, "el perro de la casa que los gatos una vez", "?"),
      (3L, "der hund und die katze ist nicht das problem", "?"),
      (4L, "le chat est dans les jardins des villes une fois", "?")
    ).toDF("doc_id", "text", "lang")
    val dir = scratchDir("graft_lang").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val res = SparkEntry.queries("text_lang")(spark, dir)
      .select("doc_id", "lang_pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(res === Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr"))
  }

  test("fingerprints: identical text -> identical fp; distinct text -> distinct fp") {
    val dir = scratchDir("graft_fp").toString
    Seq(
      (1L, "spark window function over partitioned event streams", "x"),
      (2L, "spark window function over partitioned event streams", "x"),
      (3L, "completely different content about barometric pressure", "x")
    ).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fp = SparkEntry.queries("text_fingerprint")(spark, dir)
      .select("doc_id", "fp_hash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("mm_* byte/char contracts hold on multibyte text (no ASCII precondition)") {
    // The mm_* oracles are spelled byte-explicit (mm_ingest/framesample/
    // decode) or codepoint-based (mm_chunks/resize) on BOTH engines, so
    // they need no ASCII corpus pin anymore. Pin the ENGINE half of that
    // contract on strings where bytes ≠ chars ≠ codepoint-count: 2-byte
    // Latin, 3-byte CJK, and a 4-byte astral emoji (constructed from
    // codepoints — immune to source-file encoding). tools/mb_oracle_check
    // .py replays the full DuckDB compare on a multibyte corpus.
    val eAcute = new String(Character.toChars(0xE9))       // é (2 bytes)
    val cjk = new String(Array(0x65E5, 0x672C, 0x8A9E).flatMap(Character.toChars)) // 日本語 (9 bytes)
    val party = new String(Character.toChars(0x1F389))     // 🎉 (4 bytes)
    val rows = Seq(
      (1L, s"h${eAcute}llo", "x"),   // 5 chars, 6 bytes
      (2L, cjk, "x"),                // 3 chars, 9 bytes
      (3L, party + "emoji", "x"),    // 6 chars, 9 bytes
      (4L, "", "x"))                 // empty: stub defaults
    val dir = scratchDir("graft_mb").toString
    rows.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // mm_decode: width derives from the FIRST UTF-8 BYTE (signed), not
    // the first character's codepoint
    val dec = SparkEntry.queries("mm_decode")(spark, dir)
      .select("doc_id", "width", "n_frames").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    def w(b: Int) = (math.abs(b.toByte.toInt) % 64) + 1
    assert(dec(1L) === ((w('h'), 1)))
    assert(dec(2L) === ((w(0xE6), 1)))  // 日 = E6 97 A5
    assert(dec(3L) === ((w(0xF0), 1)))  // astral lead byte
    assert(dec(4L) === ((w(1), 1)))     // empty payload default byte 1

    // mm_framesample: frame count follows BYTES (octet_length)
    val fs = SparkEntry.queries("mm_framesample")(spark, dir)
      .groupBy("doc_id").agg(max("n_frames").as("nf")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fs === Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1))

    // mm_chunks / mm_resize: codepoint math — chunk_len counts CHARS
    val ch = SparkEntry.queries("mm_chunks")(spark, dir)
      .select("doc_id", "chunk_len").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ch === Map(1L -> 5, 2L -> 3, 3L -> 6)) // doc 4 has no chunks
    val rz = SparkEntry.queries("mm_resize")(spark, dir)
      .select("doc_id", "width").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // ascii() = codepoint on both engines (astral included)
    assert(rz(2L) === (0x65E5 % 64) + 1)
    assert(rz(3L) === (0x1F389 % 64) + 1)
  }

  test("TokenMask/TokenMatchCount == the HOF split/transform/join spelling") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val entities = Seq("customer", "supplier")
    // Edge shapes: consecutive/leading/trailing spaces (empty tokens),
    // entity at both ends, multibyte neighbors (token boundary must be
    // the 0x20 byte, not a regex word boundary), near-miss substrings,
    // empty string, all-spaces, entity-only.
    val rows = Seq(
      "customer paid the supplier", "  customer  ", "customer",
      "the customerµ1 is not customer µcustomer", "no entities here",
      "customer customer customer", "", "   ", "supplier,customer x",
      "a customer b supplier c").zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = rows.toDF("id", "text")
    val words = split(col("text"), " ")
    val isEnt = (w: org.apache.spark.sql.Column) =>
      w.isin(entities.map(x => x: Any): _*)
    val hof = df.select(col("id"),
      size(filter(words, isEnt)).as("n"),
      array_join(transform(words, w => when(isEnt(w), "<ENT>").otherwise(w)), " ")
        .as("m"))
    val native = df.select(col("id"),
      ColumnBridge.column(graft.expressions.TokenMatchCount(
        ColumnBridge.expression(col("text")), entities)).as("n"),
      ColumnBridge.column(graft.expressions.TokenMask(
        ColumnBridge.expression(col("text")), entities, "<ENT>")).as("m"))
    val h = hof.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    val nv = native.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(nv === h)
    // Interpreted eval agrees with the codegen path exercised above.
    rows.foreach { case (_, t) =>
      val lit = org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType)
      val m = graft.expressions.TokenMask(lit, entities, "<ENT>").eval(null).toString
      val hofM = h(rows.indexWhere(_._2 == t).toLong)._2
      assert(m === hofM, s"interpreted mask mismatch on '$t'")
    }
  }

  test("approx_count_distinct is within its accuracy bound of exact") {
    val li = spark.read.parquet(s"$SF/lineitem.parquet")
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("x"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = SparkEntry.queries("agg_approx_distinct")(spark, SF)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.foreach { case (k, a) =>
      val e = exact(k)
      assert(math.abs(a - e).toDouble / e < 0.10, s"$k: approx $a vs exact $e")
    }
  }

  test("agg_approx_quantile p50/p90 lie within the group's [min, max]") {
    val bounds = SparkEntry.queries("agg_stats")(spark, SF).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    SparkEntry.queries("agg_approx_quantile")(spark, SF).collect().foreach { r =>
      val (lo, hi) = bounds(r.getString(0))
      val (p50, p90) = (r.getDouble(2), r.getDouble(3))
      assert(p50 > lo && p50 < hi && p90 > lo && p90 < hi)
      assert(p50 <= p90)
    }
  }

  test("agg_stats decimal-moment stddev matches built-in stddev_samp closely") {
    val builtin = spark.read.parquet(s"$SF/orders.parquet")
      .groupBy("o_orderstatus").agg(stddev_samp(col("o_totalprice")).as("sd"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    SparkEntry.queries("agg_stats")(spark, SF).collect().foreach { r =>
      val sd = r.getDouble(5)
      val ref = builtin(r.getString(0))
      assert(math.abs(sd - ref) / ref < 1e-6, s"${r.getString(0)}: $sd vs $ref")
    }
  }
}
