package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Registration of the engine's native expressions as SQL functions, both
  * via `SparkSessionExtensions` (builder-time: `.withExtensions(new
  * GraftExtensions)` / `spark.sql.extensions=graft.plans.GraftExtensions`)
  * and via the session's FunctionRegistry for an existing session — so
  * `spark.sql("SELECT cosine_sim(a, b)")` works next to the Column API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.definitions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    e.injectOptimizerRule(_ => RankLimitRewrite)
    e.injectPlannerStrategy(_ => TopKPerGroup.TopKStrategy)
  }
}

object GraftFunctions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int argument, got $other")
  }

  /** Arity guard so `fn()` / `fn(a, b, c)` fails as an analysis-time
    * wrong-number-of-arguments error instead of an
    * IndexOutOfBoundsException (or silently ignored extras). */
  private def arity(fn: String, min: Int, max: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      if (args.length < min || args.length > max)
        throw new IllegalArgumentException(
          s"$fn expects " +
            (if (min == max) s"$min argument(s)"
             else s"between $min and $max arguments") +
            s", got ${args.length}")
      build(args)
    }

  private def col(e: Expression) = GraftSqlBridge.column(e)
  private def info(obj: AnyRef, name: String) = new ExpressionInfo(obj.getClass.getName, name)

  /** A Column helper's tree as a SQL function body. */
  private def expr(c: Column): Expression = GraftSqlBridge.catalystExpression(c)

  val definitions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", info(CosineSimilarityExpr, "cosine_sim"),
      arity("cosine_sim", 2, 2)(args =>
        expr(CosineSimilarityExpr.cosineSim(col(args(0)), col(args(1)))))),
    ("minhash_sig", info(MinHashSignatureExpr, "minhash_sig"),
      arity("minhash_sig", 2, 2)(args => expr(MinHashSignatureExpr.minhashSig(
        col(args(0)), intArg(args(1), "minhash_sig"))))),
    ("shingles", info(ShinglesExpr, "shingles"),
      arity("shingles", 2, 2)(args => expr(ShinglesExpr.shingles(
        col(args(0)), intArg(args(1), "shingles"))))),
    ("ngrams", info(NgramsExpr, "ngrams"),
      arity("ngrams", 2, 2)(args => expr(NgramsExpr.ngrams(
        col(args(0)), intArg(args(1), "ngrams"))))),
    ("cdc_chunks", info(CdcChunksExpr, "cdc_chunks"),
      arity("cdc_chunks", 3, 3)(args => expr(CdcChunksExpr.chunks(col(args(0)),
        intArg(args(1), "cdc_chunks"), intArg(args(2), "cdc_chunks"))))),
    ("text_entropy", info(EntropyExpr, "text_entropy"),
      arity("text_entropy", 1, 2)(args =>
        expr(EntropyExpr.entropy(col(args(0)), args.lift(1) match {
          case None => false
          case Some(Literal(v: Boolean, _)) => v
          case Some(other) => throw new IllegalArgumentException(
            s"text_entropy expects a literal boolean tokenLevel argument, got $other")
        })))),
    ("freq_items_sketch",
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "freq_items_sketch"),
      arity("freq_items_sketch", 2, 2)(args =>
        MisraGriesAgg(args(0), intArg(args(1), "freq_items_sketch"))
          .toAggregateExpression())),
    ("kmv_sketch",
      new ExpressionInfo(classOf[KmvAgg].getName, "kmv_sketch"),
      arity("kmv_sketch", 2, 2)(args =>
        KmvAgg(args(0), intArg(args(1), "kmv_sketch"))
          .toAggregateExpression())),
    ("quantile_sketch",
      new ExpressionInfo(classOf[QuantileSketchAgg].getName, "quantile_sketch"),
      arity("quantile_sketch", 2, 2)(args =>
        QuantileSketchAgg(args(0), intArg(args(1), "quantile_sketch"))
          .toAggregateExpression())),
    ("quantile_sketch_merge",
      new ExpressionInfo(classOf[QuantileSketchMergeAgg].getName, "quantile_sketch_merge"),
      arity("quantile_sketch_merge", 2, 2)(args =>
        QuantileSketchMergeAgg(args(0), intArg(args(1), "quantile_sketch_merge"))
          .toAggregateExpression())),
    ("bpe_apply", info(BpeApplyExpr, "bpe_apply"),
      arity("bpe_apply", 2, 2)(args =>
        expr(BpeApplyExpr.bpeApply(col(args(0)), col(args(1)))))),
    ("normalize_text", info(NormalizeTextExpr, "normalize_text"),
      arity("normalize_text", 1, 1)(args =>
        expr(NormalizeTextExpr.normalizeText(col(args(0)))))),
    // The reference's per-row rules entry point on the SQL surface:
    // categorize_bb(desc) returns the (categoria, subcategoria,
    // recorrente_suspeita, parcelado_suspeito) struct from the compiled
    // 23-rule chain — the same Column tree the DataFrame API builds, so
    // SQL and Column callers cannot diverge (categories_bb.py:223-274).
    ("categorize_bb", info(graft.rules.Categorizer, "categorize_bb"),
      arity("categorize_bb", 1, 1)(args =>
        expr(graft.rules.Categorizer.categorize(col(args(0)))))))

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit =
    definitions.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info, builder)
    }
}
