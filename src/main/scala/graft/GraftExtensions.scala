package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.{BloomMightContainLong, CharGramHash, JsNumberString, JsToFixed, LshBuckets, ShingleHash, TokenMask, TokenMatchCount, VecCosine, VecDistSq, VecDiv, VecDot, VecMaxAbs, VecQuantize}
import graft.plans.{AsofGE, AsofJoinStrategy, AsofLE, AsofNear, AsofSqlRule}

/** Production registration path: build the session with
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * and the engine's SQL surface is available session-wide:
  *  - `vec_dot(a, b)` / `vec_cosine(a, b)` as native SQL functions
  *    (same codegen'd expressions the Scala API uses), and
  *  - the merge as-of join strategy, so `graft.plans.AsofJoin` logical
  *    nodes plan without calling `Asof.join`'s self-registration.
  *
  * It also fits Spark's generated-code cache to the registry
  * ([[GraftExtensions.CodegenDefaults]]), as JVM defaults that a `-D`
  * flag or a builder `.config(...)` overrides:
  *  - they take effect only when the extension runs before the JVM's
  *    first SparkContext. `withExtensions` does; `--conf
  *    spark.sql.extensions=graft.GraftExtensions` creates the extension
  *    after the SparkContext exists, so that path must pass `--conf
  *    spark.sql.codegen.cache.maxEntries=N` (and `--conf
  *    spark.sql.codegen.useIdInClassName=false`) itself;
  *  - a deployment should re-measure its own working set: run its
  *    queries twice in one JVM and count the compiles of the second
  *    pass (`CodegenMetrics.METRIC_COMPILATION_TIME.getCount`; 0 means
  *    the cache fits);
  *  - each cached entry keeps its source and bytecode on the heap, about
  *    30 KB each: after one registry pass the JVM holds 41 MB more live
  *    heap than on the default cache, and after two passes of the
  *    perfbench batch set (176 classes) 1.8 MB more.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, builder: Seq[Expression] => Expression, arity: Int = 2)
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == arity, s"$name expects $arity arguments")
        builder(exprs)
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.CodegenDefaults.foreach { case (k, v) => sys.props.getOrElseUpdate(k, v) }
    ext.injectFunction(fn("vec_dot", es => VecDot(es(0), es(1))))
    ext.injectFunction(fn("vec_cosine", es => VecCosine(es(0), es(1))))
    ext.injectFunction(fn("vec_distsq", es => VecDistSq(es(0), es(1))))
    ext.injectFunction(fn("vec_max_abs", es => VecMaxAbs(es(0)), arity = 1))
    ext.injectFunction(fn("vec_div", es => VecDiv(es(0), es(1))))
    ext.injectFunction(fn("vec_quantize", es => VecQuantize(es(0), es(1))))
    ext.injectFunction(fn("shingle_hash", es => es(1) match {
      case Literal(k: Int, IntegerType) => ShingleHash(es(0), k)
      case other => throw new IllegalArgumentException(
        s"shingle_hash(words, k): k must be an integer literal, got $other")
    }))
    ext.injectFunction(fn("char_gram_hash", es => es(1) match {
      case Literal(n: Int, IntegerType) => CharGramHash(es(0), n)
      case other => throw new IllegalArgumentException(
        s"char_gram_hash(text, n): n must be an integer literal, got $other")
    }))
    // ECMAScript toFixed (the WOW wire-format rounding) for SQL callers
    ext.injectFunction(fn("js_to_fixed", es => es(1) match {
      case Literal(d: Int, IntegerType) => JsToFixed(es(0), d)
      case other => throw new IllegalArgumentException(
        s"js_to_fixed(x, d): d must be an integer literal, got $other")
    }))
    // ECMAScript Number::toString (raw-number serialization, e.g. the
    // wire's unformatted humidity field)
    ext.injectFunction(fn("js_number_str", es => JsNumberString(es.head),
      arity = 1))
    // Variadic: token_mask(text, replacement, entity...) /
    // token_match_count(text, entity...) — entities are string literals
    // (they parameterize the generated code, like shingle_hash's k).
    def strLit(e: Expression, fname: String): String = e match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"$fname: entity/replacement arguments must be string literals, got $other")
    }
    ext.injectFunction((FunctionIdentifier("token_mask"),
      new ExpressionInfo("graft", "token_mask"),
      (es: Seq[Expression]) => {
        require(es.length >= 3, "token_mask(text, replacement, entity...)")
        TokenMask(es.head, es.drop(2).map(strLit(_, "token_mask")),
          strLit(es(1), "token_mask"))
      }))
    ext.injectFunction((FunctionIdentifier("token_match_count"),
      new ExpressionInfo("graft", "token_match_count"),
      (es: Seq[Expression]) => {
        require(es.length >= 2, "token_match_count(text, entity...)")
        TokenMatchCount(es.head, es.tail.map(strLit(_, "token_match_count")))
      }))
    // Multi-table hyperplane LSH bucket ids for SQL callers:
    // lsh_buckets(emb, tables, bits, dim[, stride_bits]) — the plane
    // matrix is derived from the literal params with the library's fixed
    // seed (Similarity.planes), so SQL text and the Scala lshKnn
    // spelling bucket identically (GraftExtensionsSpec pins it). The
    // optional 5th arg is the embed-dedup family's FROZEN-BITS
    // convention (Dedup.embedSigs): planes are generated at stride_bits
    // per band (EmbedBitsMax) and each band uses its first `bits` — so a
    // SQL caller banding against a stored embed index with the
    // manifest's frozen bits collides exactly with the stored buckets at
    // ANY frozen value, not just the full stride.
    ext.injectFunction((FunctionIdentifier("lsh_buckets"),
      new ExpressionInfo("graft", "lsh_buckets"),
      (es: Seq[Expression]) => {
        require(es.length == 4 || es.length == 5,
          "lsh_buckets(emb, tables, bits, dim[, stride_bits])")
        def intLit(e: Expression, what: String): Int = e match {
          case Literal(i: Int, IntegerType) => i
          case other => throw new IllegalArgumentException(
            s"lsh_buckets: $what must be an integer literal, got $other")
        }
        val tables = intLit(es(1), "tables")
        val bits = intLit(es(2), "bits")
        val dim = intLit(es(3), "dim")
        val planes =
          if (es.length == 5) {
            val stride = intLit(es(4), "stride_bits")
            require(bits <= stride,
              s"lsh_buckets: bits ($bits) must be <= stride_bits ($stride)")
            val ps = graft.operators.Similarity.planes(tables, stride, dim)
            Array.tabulate(tables * bits)(k => ps(k / bits * stride + k % bits))
          } else graft.operators.Similarity.planes(tables, bits, dim)
        LshBuckets(es.head, planes, bits)
      }))
    // Bloom membership probe for SQL callers:
    // bloom_might_contain_long(h, 'base64(BloomFilter.writeTo bytes)') —
    // the filter rides as a string literal, decoded once at resolution
    // into the same codegen'd probe the Scala decontaminateBloom path
    // uses. The literal spelling suits filters a SQL generator can
    // inline (up to ~tens of MB); the GB-scale regime stays on the
    // Scala API, which ships the bytes as a plan reference object.
    ext.injectFunction(fn("bloom_might_contain_long", es => es(1) match {
      case Literal(s: UTF8String, StringType) =>
        BloomMightContainLong(es(0),
          java.util.Base64.getDecoder.decode(s.toString))
      case other => throw new IllegalArgumentException(
        "bloom_might_contain_long(h, filter): filter must be a base64 " +
          s"string literal of the serialized BloomFilter, got $other")
    }))
    // SQL-text as-of join: `l LEFT JOIN r ON l.k = r.k AND asof_le(r.t,
    // l.t)` — a direction marker (asof_le backward / asof_ge forward /
    // asof_near nearest) + resolution rule rewrite the join into the
    // AsofJoin logical node, which the strategy below plans as the
    // merge AsofJoinExec (see graft.plans.AsofSql).
    ext.injectFunction(fn("asof_le", es => AsofLE(es(0), es(1))))
    ext.injectFunction(fn("asof_ge", es => AsofGE(es(0), es(1))))
    ext.injectFunction(fn("asof_near", es => AsofNear(es(0), es(1))))
    ext.injectResolutionRule(_ => AsofSqlRule)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
  }
}

object GraftExtensions {

  /** Compile once. Catalyst compiles each generated class with Janino
    * (18 ms on average for the perfbench batch set, 4 vCPUs) into one
    * JVM-wide cache whose size is the static conf
    * `spark.sql.codegen.cache.maxEntries`, default 100, read once when
    * `CodeGenerator` first loads. One run of all 139 registered queries
    * (streams included, sf0.01, one JVM) generates 1,487 distinct
    * classes, and perfbench's 28-query batch_small set alone 176, so on
    * the default a warm batch_small pass recompiled 191 classes. 2000
    * holds the whole registry with a third to spare.
    *
    * By default the whole-stage class name carries the stage id, and
    * under AQE that id depends on the order in which a query's stages
    * finish, so a warm run of the same plan could miss the cache
    * (`dedup_incremental`, `dedup_index_compact`, `dedup_ngram`,
    * `sql_decontam`, `sql_neardup_probe`). Without the id in the name
    * the source is the same on every run; the id stays in the generated
    * code's comments. */
  val CodegenDefaults: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.codegen.useIdInClassName" -> "false")
}
