package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions-registered SQL surface on a dedicated session. */
class GraftExtensionsSpec extends AnyFunSuite {

  // A session of its own: extensions apply only at session build, so the
  // shared test session must not be returned by getOrCreate. Clear the
  // active/default pointers, build the extended session over the same
  // SparkContext, then restore the shared session as default.
  private lazy val spark: SparkSession = {
    val shared = SparkTestBase.session // materialize first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    SparkSession.setDefaultSession(shared)
    SparkSession.setActiveSession(shared)
    s
  }

  test("vec_dot / vec_cosine are SQL functions under the extensions") {
    val row = spark.sql(
      """SELECT vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d,
        |       vec_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c,
        |       vec_cosine(array(0.0F, 0.0F), array(1.0F, 0.0F)) AS z
        |""".stripMargin).head()
    assert(math.abs(row.getDouble(0) - 11.0) < 1e-12)
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-12)
    assert(row.getDouble(2) === 0.0) // zero-norm guard, not NaN
  }

  test("vec_max_abs / vec_div / vec_quantize are SQL functions under the extensions") {
    val row = spark.sql(
      """SELECT vec_max_abs(array(1.0F, -3.5F, 2.0F)) AS m,
        |       vec_div(array(2.0F, -4.0F), 2.0D) AS dv,
        |       vec_quantize(array(2.5F, -2.5F, 1.4F), 1.0D) AS qz
        |""".stripMargin).head()
    assert(row.getDouble(0) === 3.5)
    assert(row.getSeq[Double](1) === Seq(1.0, -2.0))
    assert(row.getSeq[Int](2) === Seq(3, -3, 1)) // half away from zero
  }

  test("vector kernels reject a non-array operand at analysis, naming the function") {
    import spark.implicits._
    Seq(("a", 1.0)).toDF("s", "x").createOrReplaceTempView("ext_vec_bad")
    Seq("vec_dot(s, s)", "vec_cosine(s, s)", "vec_distsq(s, s)", "vec_max_abs(s)",
        "vec_div(s, x)", "vec_quantize(s, x)", "lsh_buckets(s, 2, 4, 8)").foreach { call =>
      val fn = call.takeWhile(_ != '(')
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $call FROM ext_vec_bad")
      }
      assert(e.getMessage.contains(s"$fn expects"), e.getMessage)
    }
  }

  test("shingle_hash is a SQL function and matches a reference FNV-1a fold") {
    val row = spark.sql(
      "SELECT shingle_hash(array('a', 'b', 'c', 'd'), 3) AS h").head()
    val got = row.getSeq[Long](0)
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.getBytes("UTF-8").foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
      h
    }
    assert(got === Seq(fnv("a b c"), fnv("b c d")))
    // fewer than k words -> empty array, not an error
    assert(spark.sql("SELECT shingle_hash(array('a'), 3) AS h")
      .head().getSeq[Long](0).isEmpty)
  }

  test("token_mask / token_match_count are SQL functions under the extensions") {
    val r = spark.sql(
      "SELECT token_mask('customer pays the supplier', '<ENT>', 'customer', 'supplier') AS m, " +
        "token_match_count('customer pays the supplier', 'customer', 'supplier') AS n")
      .head()
    assert(r.getString(0) === "<ENT> pays the <ENT>")
    assert(r.getInt(1) === 2)
    // non-literal entity -> clear error, not silent misbehavior
    val err = intercept[Exception] {
      spark.sql("SELECT token_mask('x', '<ENT>', m) FROM (SELECT 'x' AS m)").collect()
    }
    assert(err.getMessage.contains("string literals"))
  }

  test("js_to_fixed is a SQL function with ECMAScript corner semantics") {
    val r = spark.sql(
      "SELECT js_to_fixed(0.125D, 2) AS a, js_to_fixed(0.615D, 2) AS b, " +
        "js_to_fixed(-1.25D, 1) AS c").head()
    assert(r.getString(0) === "0.13") // exact-binary half, away from zero
    assert(r.getString(1) === "0.61") // 0.615 is really 0.61499…
    assert(r.getString(2) === "-1.3")
    val err = intercept[Exception] {
      spark.sql("SELECT js_to_fixed(1.5D, d) FROM (SELECT 2 AS d)").collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("js_number_str is a SQL function with ECMAScript ToString semantics") {
    val r = spark.sql(
      "SELECT js_number_str(42.0D) AS a, js_number_str(1e21) AS b, " +
        "js_number_str(0.1D) AS c").head()
    assert(r.getString(0) === "42")    // CAST AS STRING would give "42.0"
    assert(r.getString(1) === "1e+21") // JS exponent window, not Java's
    assert(r.getString(2) === "0.1")   // shortest round-trip digits
  }

  test("asof strategy is planner-registered (no Asof.join self-registration)") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val l = Seq((1L, 10L, "a"), (1L, 20L, "b")).toDF("k", "t", "tag")
    val r = Seq((1L, 15L, 7.5)).toDF("k2", "t2", "v")
    val plan = graft.plans.AsofJoin(
      ColumnBridge.analyzed(l), ColumnBridge.analyzed(r),
      ColumnBridge.expression(l("k")), ColumnBridge.expression(r("k2")),
      ColumnBridge.expression(l("t")), ColumnBridge.expression(r("t2")))
    val got = ColumnBridge.ofRows(spark, plan)
      .select("tag", "v").collect()
      .map(x => x.getString(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1))))
      .toMap
    assert(got === Map("a" -> None, "b" -> Some(7.5)))
  }

  test("asof_le in pure SQL text plans as the custom merge AsofJoinExec") {
    import spark.implicits._
    Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "t", "tag").createOrReplaceTempView("ext_asof_l")
    Seq((1L, 15L, 7.5), (1L, 3L, 1.5), (2L, 9L, 9.9))
      .toDF("k", "t", "v").createOrReplaceTempView("ext_asof_r")
    val df = spark.sql(
      """SELECT l.tag, r.v FROM ext_asof_l l
        |LEFT JOIN ext_asof_r r ON l.k = r.k AND asof_le(r.t, l.t)
        |ORDER BY l.tag""".stripMargin)
    // the rewrite happened: the physical plan contains the merge node
    // (sparkPlan, not executedPlan — AQE wraps the latter in an opaque
    // AdaptiveSparkPlanExec leaf that tree traversal does not enter)
    assert(df.queryExecution.sparkPlan.exists(
      _.isInstanceOf[graft.plans.AsofJoinExec]),
      df.queryExecution.sparkPlan.toString)
    val got = df.collect().map(x =>
      x.getString(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1))))
    // a: latest r.t <= 10 is 3 -> 1.5; b: 15 -> 7.5; c: no r.t <= 5 -> null
    assert(got.toSeq === Seq("a" -> Some(1.5), "b" -> Some(7.5), "c" -> None))
  }

  test("asof_ge / asof_near in pure SQL text plan as the directional merge AsofJoinExec") {
    import spark.implicits._
    Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "t", "tag").createOrReplaceTempView("ext_asof_l")
    Seq((1L, 15L, 7.5), (1L, 3L, 1.5), (2L, 9L, 9.9))
      .toDF("k", "t", "v").createOrReplaceTempView("ext_asof_r")
    def run(marker: String) = {
      val df = spark.sql(
        s"""SELECT l.tag, r.v FROM ext_asof_l l
           |LEFT JOIN ext_asof_r r ON l.k = r.k AND $marker(r.t, l.t)
           |ORDER BY l.tag""".stripMargin)
      val execs = df.queryExecution.sparkPlan.collect {
        case e: graft.plans.AsofJoinExec => e
      }
      assert(execs.nonEmpty, df.queryExecution.sparkPlan.toString)
      (execs.head.direction,
        df.collect().map(x =>
          x.getString(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toSeq)
    }
    // forward: a: first r.t >= 10 is 15 -> 7.5; b: none >= 20 -> null;
    // c: 9 >= 5 -> 9.9
    assert(run("asof_ge") === (graft.plans.AsofDirection.Forward,
      Seq("a" -> Some(7.5), "b" -> None, "c" -> Some(9.9))))
    // nearest: a: |10-15|=5 ahead vs |10-3|=7 back -> 7.5;
    // b: back 15 (gap 5), no forward -> 7.5; c: only forward 9 -> 9.9
    assert(run("asof_near") === (graft.plans.AsofDirection.Nearest,
      Seq("a" -> Some(7.5), "b" -> Some(7.5), "c" -> Some(9.9))))
  }

  test("asof_near rejects a time type with no measurable gap") {
    import spark.implicits._
    Seq((1L, "x", "a")).toDF("k", "t", "tag")
      .createOrReplaceTempView("ext_asof_str_l")
    Seq((1L, "w", 1.0)).toDF("k", "t", "v")
      .createOrReplaceTempView("ext_asof_str_r")
    val err = intercept[Exception] {
      spark.sql("""SELECT * FROM ext_asof_str_l l
                  |LEFT JOIN ext_asof_str_r r ON l.k = r.k AND asof_near(r.t, l.t)
                  |""".stripMargin).collect()
    }
    assert(err.getMessage.contains("measurable time gap"), err.getMessage)
  }

  test("lsh_buckets in SQL text buckets identically to the Scala lshKnn spelling") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    emb.createOrReplaceTempView("ext_lsh_emb")
    val sql = spark.sql(
      """SELECT vec_id, t, b FROM ext_lsh_emb
        |LATERAL VIEW posexplode(lsh_buckets(embedding, 8, 8, 64)) x AS t, b
        |""".stripMargin)
    // Scala spelling: the same fixed-seed planes through the same native
    // expression (what lshKnn/dedup_embed build on)
    val ps = graft.operators.Similarity.planes(8, 8, 64)
    val scala = emb.select(org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.posexplode(
        graft.functions.VectorFunctions.lshBuckets(
          org.apache.spark.sql.functions.col("embedding"), ps, 8)))
      .toDF("vec_id", "t", "b")
    assert(sql.exceptAll(scala).isEmpty && scala.exceptAll(sql).isEmpty)
    // non-literal params are rejected, not silently defaulted
    val err = intercept[Exception] {
      spark.sql("SELECT lsh_buckets(embedding, CAST(vec_id AS INT), 8, 64) FROM ext_lsh_emb")
        .collect()
    }
    assert(err.getMessage.contains("integer literal"), err.getMessage)
  }

  test("lsh_buckets stride form bands like the embed family's frozen-bits plane subset") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    emb.createOrReplaceTempView("ext_lsh_emb_stride")
    // a frozen bits value strictly below the stride, like a small-corpus
    // embed index freezes (Dedup.embedBits of the build count)
    val (tables, bits, dim, stride) = (4, 7, 64,
      graft.operators.Dedup.EmbedBitsMax)
    val sql = spark.sql(
      s"""SELECT vec_id, t, b FROM ext_lsh_emb_stride
         |LATERAL VIEW posexplode(
         |  lsh_buckets(embedding, $tables, $bits, $dim, $stride)) x AS t, b
         |""".stripMargin)
    // Scala spelling: Dedup.embedSigs' exact plane subset — planes at
    // the full stride, band k using its first `bits`
    val ps = graft.operators.Similarity.planes(tables, stride, dim)
    val sub = Array.tabulate(tables * bits)(k => ps(k / bits * stride + k % bits))
    val scala = emb.select(org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.posexplode(
        graft.functions.VectorFunctions.lshBuckets(
          org.apache.spark.sql.functions.col("embedding"), sub, bits)))
      .toDF("vec_id", "t", "b")
    assert(sql.exceptAll(scala).isEmpty && scala.exceptAll(sql).isEmpty)
    // bits past the stride are rejected, not silently truncated
    val err = intercept[Exception] {
      spark.sql(s"SELECT lsh_buckets(embedding, 4, ${stride + 1}, 64, $stride) " +
        "FROM ext_lsh_emb_stride").collect()
    }
    assert(err.getMessage.contains("stride_bits"), err.getMessage)
  }

  test("bloom_might_contain_long probes a base64-literal filter identically to the Scala path") {
    import spark.implicits._
    val keys = (0L until 200L).map(_ * 7L)
    val bf = keys.toDF("k").stat.bloomFilter("k", 200, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val b64 = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    (0L until 1400L).toDF("h").createOrReplaceTempView("ext_bloom_probe")
    val sql = spark.sql(
      s"SELECT h, bloom_might_contain_long(h, '$b64') AS hit FROM ext_bloom_probe")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // no false negatives: every inserted key probes true
    assert(keys.forall(sql(_)), "bloom SQL probe lost an inserted key")
    // agrees with the driver-side filter on every input (the expression
    // wraps the SAME deserialized sketch)
    assert((0L until 1400L).forall(h => sql(h) == bf.mightContainLong(h)))
    // non-literal filter argument is rejected
    val err = intercept[Exception] {
      spark.sql("SELECT bloom_might_contain_long(h, CAST(h AS STRING)) FROM ext_bloom_probe")
        .collect()
    }
    assert(err.getMessage.contains("base64"), err.getMessage)
  }

  test("asof_le outside the rewrite contract fails loudly, never degrades to <=") {
    import spark.implicits._
    Seq((1L, 10L)).toDF("k", "t").createOrReplaceTempView("ext_asof_bad_l")
    Seq((1L, 5L)).toDF("k", "t").createOrReplaceTempView("ext_asof_bad_r")
    // INNER join: not rewritten -> analysis error naming the contract
    val inner = intercept[Exception] {
      spark.sql("""SELECT * FROM ext_asof_bad_l l
                  |JOIN ext_asof_bad_r r ON l.k = r.k AND asof_le(r.t, l.t)
                  |""".stripMargin).collect()
    }
    assert(inner.getMessage.contains("asof_le"))
    // reversed argument sides: rejected, not silently forward-asof
    val rev = intercept[Exception] {
      spark.sql("""SELECT * FROM ext_asof_bad_l l
                  |LEFT JOIN ext_asof_bad_r r ON l.k = r.k AND asof_le(l.t, r.t)
                  |""".stripMargin).collect()
    }
    assert(rev.getMessage.contains("right-side"))
  }
}
