package graft

import graft.functions.{TextFunctions, TopKByScore, VectorFunctions}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class GraftExtensionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("extensions install on a SparkSessionExtensions instance") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; functions registered at session build
  }

  test("the five injected SQL names equal their Column-API forms") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0, 5.0, 6.0), "Å café ﬁ", 0.5),
      (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0, 1.0, 0.0), "ｶﾀｶﾅ ①", 0.9),
      (3L, Array(0.0f, 0.0f, 0.0f), Array(1.0, 1.0, 1.0), "é", 0.9)
    ).toDF("id", "f", "d", "s", "score")
    vecs.createOrReplaceTempView("ext_samples")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val viaSql = spark.sql("""
      SELECT id, vec_dot(f, d), cosine_sim(f, d), nfc_normalize(s), nfkc_normalize(s)
      FROM ext_samples ORDER BY id""")
    val viaColumns = vecs.select(col("id"),
        VectorFunctions.vecDot(col("f"), col("d")),
        VectorFunctions.cosineSim(col("f"), col("d")),
        TextFunctions.nfc(col("s")), TextFunctions.nfkc(col("s")))
      .orderBy("id")
    assert(rows(viaSql) == rows(viaColumns))
    val topSql = spark.sql("SELECT topk_by_score(score, id, 2) FROM ext_samples")
    val topColumns = vecs.agg(TopKByScore.topK(col("score"), col("id"), 2))
    assert(rows(topSql) == rows(topColumns))
  }

  test("topk_by_score k argument: integral literals accepted, fractional rejected") {
    assert(GraftExtensions.literalK(Literal(3)) == 3L)
    assert(GraftExtensions.literalK(Literal(3L)) == 3L)
    assert(GraftExtensions.literalK(Literal(3.toShort)) == 3L)
    // a Double literal must be REJECTED, not truncated to 3
    intercept[IllegalArgumentException](GraftExtensions.literalK(Literal(3.9)))
    intercept[IllegalArgumentException](
      GraftExtensions.literalK(Literal(BigDecimal(3.9))))
    intercept[IllegalArgumentException](GraftExtensions.literalK(Literal("3")))
    intercept[IllegalArgumentException](GraftExtensions.literalK(Literal(0)))
    intercept[IllegalArgumentException](GraftExtensions.literalK(Literal(-1L)))
  }

  test("interpreted eval of the injected expressions") {
    val a = Literal.create(ArrayData.toArrayData(Array(1.0, 2.0)), ArrayType(DoubleType))
    val b = Literal.create(ArrayData.toArrayData(Array(3.0, 4.0)), ArrayType(DoubleType))
    assert(graft.functions.DotProduct(a, b).eval(InternalRow.empty) == 11.0)
    val cos = graft.functions.CosineSimilarity(a, a).eval(InternalRow.empty)
    assert(math.abs(cos.asInstanceOf[Double] - 1.0) < 1e-12)
  }
}
