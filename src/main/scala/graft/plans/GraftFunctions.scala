package graft.plans

import graft.functions.{DotProduct, MinHashSig, MinHashTokens, PqAdcScore, ProtoWireDecode, ProtoWireEncode, RowBinaryEncode, ShardedBloomProbe, SortedOverlapCount, VerticaNativeEncode}
import org.apache.spark.sql.{Column, GraftShim, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registry for graft's native Catalyst expressions: one builder per
  * name in [[all]], shared by every way of reaching them.
  *
  * DataFrame code builds the expression as a Column with
  * `GraftFunctions.call("graft_dot", a, b)`. That needs nothing installed
  * in the session, so it works on any session, including one an
  * application built itself.
  *
  * SQL text (and `call_function`) looks the name up in the session's
  * function registry, so the session needs one of:
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` at session build
  *    (set by [[graft.GraftSession]]), or
  *  - `GraftFunctions.register(spark)` at runtime (idempotent).
  */
object GraftFunctions {

  /** Exact-arity guard: the builder lambdas index into `args`, so a
    * surplus argument would be silently dropped (and a missing one would
    * surface as a cryptic IndexOutOfBounds instead of an arity error). */
  private def arity(fn: String, args: Seq[Expression], n: Int): Seq[Expression] = {
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects exactly $n argument(s); got ${args.length}")
    args
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => { arity("graft_dot", args, 2); DotProduct(args(0), args(1)) }),
    (new FunctionIdentifier("graft_overlap"),
      new ExpressionInfo(classOf[SortedOverlapCount].getName, "graft_overlap"),
      (args: Seq[Expression]) => { arity("graft_overlap", args, 2); SortedOverlapCount(args(0), args(1)) }),
    (new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (args: Seq[Expression]) => { arity("graft_minhash", args, 1); MinHashSig(args(0)) }),
    (new FunctionIdentifier("graft_minhash_tokens"),
      new ExpressionInfo(classOf[MinHashTokens].getName, "graft_minhash_tokens"),
      (args: Seq[Expression]) => { arity("graft_minhash_tokens", args, 1); MinHashTokens(args(0)) }),
    (new FunctionIdentifier("graft_minhash_tokens_w"),
      new ExpressionInfo(classOf[graft.functions.MinHashTokensWide].getName, "graft_minhash_tokens_w"),
      (args: Seq[Expression]) => {
        arity("graft_minhash_tokens_w", args, 2)
        val e = args(1)
        if (!e.foldable) throw new IllegalArgumentException(
          "graft_minhash_tokens_w: the salt count must be an integer literal")
        // range-check BEFORE any narrowing: a Long out of Int range must
        // fail loudly, not wrap to a silently-valid width
        val n: Long = e.eval() match {
          case i: Int => i.toLong
          case l: Long => l
          case other => throw new IllegalArgumentException(
            s"graft_minhash_tokens_w: salt count must be an integer literal, got $other")
        }
        if (n < 1 || n > 64) throw new IllegalArgumentException(
          s"graft_minhash_tokens_w: salt count must be in [1, 64], got $n")
        graft.functions.MinHashTokensWide(args(0), n.toInt)
      }),
    (new FunctionIdentifier("graft_script_census"),
      new ExpressionInfo(classOf[graft.functions.ScriptCensus].getName, "graft_script_census"),
      (args: Seq[Expression]) => { arity("graft_script_census", args, 1)
        graft.functions.ScriptCensus(args(0)) }),
    (new FunctionIdentifier("graft_rowbinary"),
      new ExpressionInfo(classOf[RowBinaryEncode].getName, "graft_rowbinary"),
      (args: Seq[Expression]) => RowBinaryEncode(args(0), fieldSpecArg(args, "graft_rowbinary"))),
    (new FunctionIdentifier("graft_verticarow"),
      new ExpressionInfo(classOf[VerticaNativeEncode].getName, "graft_verticarow"),
      (args: Seq[Expression]) => VerticaNativeEncode(args(0), fieldSpecArg(args, "graft_verticarow"))),
    (new FunctionIdentifier("graft_bpe_fuse"),
      new ExpressionInfo(classOf[graft.functions.BpeFuseAll].getName, "graft_bpe_fuse"),
      (args: Seq[Expression]) => { arity("graft_bpe_fuse", args, 3)
        graft.functions.BpeFuseAll(args(0), args(1), args(2)) }),
    (new FunctionIdentifier("graft_proto"),
      new ExpressionInfo(classOf[ProtoWireEncode].getName, "graft_proto"),
      (args: Seq[Expression]) => { arity("graft_proto", args, 1); ProtoWireEncode(args(0)) }),
    (new FunctionIdentifier("graft_proto_decode"),
      new ExpressionInfo(classOf[ProtoWireDecode].getName, "graft_proto_decode"),
      (args: Seq[Expression]) => {
        arity("graft_proto_decode", args, 2)
        val e = args(1)
        if (!e.foldable) throw new IllegalArgumentException(
          "graft_proto_decode: the schema DDL must be a string literal")
        val v = e.eval()
        if (v == null) throw new IllegalArgumentException(
          "graft_proto_decode: the schema DDL must be non-null")
        ProtoWireDecode(args(0), v.toString)
      }),
    (new FunctionIdentifier("graft_pq_score"),
      new ExpressionInfo(classOf[PqAdcScore].getName, "graft_pq_score"),
      (args: Seq[Expression]) => { arity("graft_pq_score", args, 2); PqAdcScore(args(0), args(1)) }),
    (new FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[graft.functions.PqEncode].getName, "graft_pq_encode"),
      (args: Seq[Expression]) => {
        arity("graft_pq_encode", args, 3)
        val me = args(2)
        if (!me.foldable) throw new IllegalArgumentException(
          "graft_pq_encode: the subspace count must be an integer literal")
        val n: Long = me.eval() match {
          case i: Int => i.toLong
          case l: Long => l
          case other => throw new IllegalArgumentException(
            s"graft_pq_encode: subspace count must be an integer literal, got $other")
        }
        if (n < 1 || n > 1024) throw new IllegalArgumentException(
          s"graft_pq_encode: subspace count must be in [1, 1024], got $n")
        graft.functions.PqEncode(args(0), args(1), n.toInt)
      }),
    (new FunctionIdentifier("graft_ivf_assign"),
      new ExpressionInfo(classOf[graft.functions.IvfAssign].getName, "graft_ivf_assign"),
      (args: Seq[Expression]) => {
        arity("graft_ivf_assign", args, 5)
        val p = args(4)
        if (!p.foldable) throw new IllegalArgumentException(
          "graft_ivf_assign: the probe count must be an integer literal")
        val n: Long = p.eval() match {
          case i: Int => i.toLong
          case l: Long => l
          case other => throw new IllegalArgumentException(
            s"graft_ivf_assign: probe count must be an integer literal, got $other")
        }
        if (n < 0 || n > 1024) throw new IllegalArgumentException(
          s"graft_ivf_assign: probe count must be in [0, 1024] (0 = probe all), got $n")
        graft.functions.IvfAssign(args(0), args(1), args(2), args(3), n.toInt)
      }),
    (new FunctionIdentifier("graft_cdc_cuts"),
      new ExpressionInfo(classOf[graft.functions.CdcCuts].getName, "graft_cdc_cuts"),
      (args: Seq[Expression]) => {
        arity("graft_cdc_cuts", args, 4)
        def intLit(i: Int, what: String): Int = {
          val e = args(i)
          if (!e.foldable) throw new IllegalArgumentException(
            s"graft_cdc_cuts: $what must be an integer literal")
          val v = e.eval()
          if (v == null) throw new IllegalArgumentException(
            s"graft_cdc_cuts: $what must be non-null")
          v.toString.toInt
        }
        graft.functions.CdcCuts(args(0),
          intLit(1, "minSize"), intLit(2, "maskBits"), intLit(3, "maxSize"))
      }),
    (new FunctionIdentifier("graft_gram_buckets"),
      new ExpressionInfo(classOf[graft.functions.GramBuckets].getName, "graft_gram_buckets"),
      (args: Seq[Expression]) => {
        arity("graft_gram_buckets", args, 4)
        def intLit(i: Int, what: String): Int = {
          val e = args(i)
          if (!e.foldable) throw new IllegalArgumentException(
            s"graft_gram_buckets: $what must be an integer literal")
          val v = e.eval()
          if (v == null) throw new IllegalArgumentException(
            s"graft_gram_buckets: $what must be non-null")
          v.toString.toInt
        }
        graft.functions.GramBuckets(args(0),
          intLit(1, "n"), intLit(2, "hexDigits"), intLit(3, "mod"))
      }),
    (new FunctionIdentifier("graft_bm25_probe"),
      new ExpressionInfo(classOf[graft.functions.Bm25Probe].getName, "graft_bm25_probe"),
      (args: Seq[Expression]) => {
        arity("graft_bm25_probe", args, 8)
        def ad(i: Int, what: String): org.apache.spark.sql.catalyst.util.ArrayData = {
          val e = args(i)
          if (!e.foldable) throw new IllegalArgumentException(
            s"graft_bm25_probe: $what must be an array literal")
          val v = e.eval()
          if (v == null) throw new IllegalArgumentException(
            s"graft_bm25_probe: $what must be non-null")
          v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        }
        def dbl(i: Int, what: String): Double = {
          val e = args(i)
          if (!e.foldable) throw new IllegalArgumentException(
            s"graft_bm25_probe: $what must be a numeric literal")
          e.eval().toString.toDouble
        }
        import org.apache.spark.sql.types.StringType
        graft.functions.Bm25Probe(args(0),
          ad(1, "terms").toArray[org.apache.spark.unsafe.types.UTF8String](StringType)
            .map(_.toString).toSeq,
          ad(2, "idfs").toDoubleArray().toSeq,
          ad(3, "qoffs").toIntArray().toSeq,
          ad(4, "qids").toLongArray().toSeq,
          dbl(5, "k1"), dbl(6, "b"), dbl(7, "avgdl"))
      }),
    (new FunctionIdentifier("graft_phrase_probe"),
      new ExpressionInfo(classOf[graft.functions.PhraseProbe].getName, "graft_phrase_probe"),
      (args: Seq[Expression]) => {
        arity("graft_phrase_probe", args, 4)
        def ad(i: Int, what: String): org.apache.spark.sql.catalyst.util.ArrayData = {
          val e = args(i)
          if (!e.foldable) throw new IllegalArgumentException(
            s"graft_phrase_probe: $what must be an array literal")
          val v = e.eval()
          if (v == null) throw new IllegalArgumentException(
            s"graft_phrase_probe: $what must be non-null")
          v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        }
        import org.apache.spark.sql.types.StringType
        graft.functions.PhraseProbe(args(0),
          ad(1, "pids").toLongArray().toSeq,
          ad(2, "poffs").toIntArray().toSeq,
          ad(3, "terms").toArray[org.apache.spark.unsafe.types.UTF8String](StringType)
            .map(_.toString).toSeq)
      }),
    (new FunctionIdentifier("graft_span_trim"),
      new ExpressionInfo(classOf[graft.functions.SpanTrim].getName, "graft_span_trim"),
      (args: Seq[Expression]) => {
        arity("graft_span_trim", args, 4)
        def intLit(i: Int, what: String): Int = {
          val e = args(i)
          if (!e.foldable) throw new IllegalArgumentException(
            s"graft_span_trim: $what must be an integer literal")
          val v = e.eval()
          if (v == null) throw new IllegalArgumentException(
            s"graft_span_trim: $what must be non-null")
          v.toString.toInt
        }
        graft.functions.SpanTrim(args(0), args(1),
          intLit(2, "width"), intLit(3, "minTokens"))
      }),
    // Spark ships distributed Bloom build/probe as CATALYST expressions
    // (the runtime-filter machinery) but does not register them as SQL
    // functions; graft exposes them for the Bloom history-filter toolkit
    // (streaming.Transforms.Bloom, their one caller), whose build and
    // probe read each filter kind's one long key column.
    (new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (args: Seq[Expression]) => {
        arity("graft_bloom_agg", args, 3)
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args(0), args(1), args(2))
      }),
    (new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_bloom_contains"),
      (args: Seq[Expression]) => {
        arity("graft_bloom_contains", args, 2)
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(args(0), args(1))
      }),
    // BloomFilterMightContain requires a FOLDABLE filter; the sharded
    // history gate joins each row to its shard's filter column, so it
    // needs this column-capable probe (with a per-thread shard-keyed
    // deserialization cache) instead.
    (new FunctionIdentifier("graft_bloom_probe"),
      new ExpressionInfo(classOf[ShardedBloomProbe].getName, "graft_bloom_probe"),
      (args: Seq[Expression]) => {
        arity("graft_bloom_probe", args, 3)
        ShardedBloomProbe(args(0), args(1), args(2))
      }))

  /** Optional per-field encoding spec (2nd arg of the binary encoders):
    * must be a foldable string literal — it shapes the generated code, so
    * it cannot vary per row. */
  private def fieldSpecArg(args: Seq[Expression], fn: String): String =
    if (args.isEmpty || args.length > 2)
      throw new IllegalArgumentException(
        s"$fn expects (struct) or (struct, fieldSpec); got ${args.length} arguments")
    else if (args.length < 2) ""
    else {
      val e = args(1)
      if (!e.foldable) throw new IllegalArgumentException(
        s"$fn: the field spec must be a string literal")
      val v = e.eval()
      if (v == null) "" else v.toString
    }

  private val builders: Map[String, Seq[Expression] => Expression] =
    all.map { case (id, _, build) => id.funcName -> build }.toMap

  /** `name`'s expression over `args` as a Column. Same builder, so the
    * same arity and literal checks, as the SQL path; an unknown name or
    * a bad argument list throws here, when the Column is built. */
  def call(name: String, args: Column*): Column = {
    val build = builders.getOrElse(name,
      throw new IllegalArgumentException(s"unknown graft function: $name"))
    GraftShim.column(build(args.map(GraftShim.expression)))
  }

  def register(spark: SparkSession): Unit = all.foreach { case (id, info, builder) =>
    if (!spark.sessionState.functionRegistry.functionExists(id)) {
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
  }
}

/** Session-extension hook: `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  * Injects the engine's function registry, planner strategy, and the
  * [[GraftLintRule]] scale-hazard gate (see its scaladoc for the
  * `spark.graft.lint` off/warn/enforce contract). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (id, info, builder) =>
      ext.injectFunction((id, info, builder))
    }
    ext.injectPlannerStrategy(_ => GraftStrategy)
    // preCBO, not injectOptimizerRule: the operator-optimization batch is
    // a FIXPOINT — a rule there re-lints every iteration and judges
    // partially-optimized plans; the preCBO batch runs ONCE, after
    // operator optimization, on the plan shape PlanLint's contract names
    ext.injectPreCBORule(_ => GraftLintRule)
  }
}
