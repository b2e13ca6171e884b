package graft

import graft.functions.{CosineSimilarity, DotProduct, TopKByScore, UnicodeNormalize}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** SparkSessionExtensions entry point, the one way the engine's native
  * expressions reach SQL callers: registered at session build time by
  * `--conf spark.sql.extensions=graft.GraftExtensions`. The Column API
  * (`VectorFunctions`, `TextFunctions`) needs no registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "nfc_normalize"),
      (es: Seq[Expression]) => UnicodeNormalize(es.head, "NFC")))
    ext.injectFunction((
      FunctionIdentifier("nfkc_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "nfkc_normalize"),
      (es: Seq[Expression]) => UnicodeNormalize(es.head, "NFKC")))
    ext.injectFunction((
      FunctionIdentifier("topk_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
      (es: Seq[Expression]) =>
        TopKByScore(es(0), es(1), GraftExtensions.literalK(es(2)).toInt)
          .toAggregateExpression()))
  }
}

object GraftExtensions {
  /** k argument of topk_by_score: only INTEGRAL literals are accepted (SQL
    * INT and BIGINT literals both arrive here) — a Double/Decimal literal
    * like 3.9 is rejected, never silently truncated to 3.
    */
  private[graft] def literalK(e: Expression): Long = {
    val k = e match {
      case Literal(v: Number, ByteType | ShortType | IntegerType | LongType) =>
        v.longValue()
      case other => throw new IllegalArgumentException(
        s"topk_by_score: k must be an integer literal, got $other")
    }
    require(k > 0 && k <= Int.MaxValue, s"topk_by_score: k out of range: $k")
    k
  }
}
