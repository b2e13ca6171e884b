package graft

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpecBase {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0, 5.0, 6.0)),
    (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0, 1.0, 0.0)),
    (3L, Array(0.0f, 0.0f, 0.0f), Array(1.0, 1.0, 1.0))
  ).toDF("id", "f", "d")

  test("vec_dot over mixed float/double arrays") {
    val out = vecs.select(col("id"), vecDot(col("f"), col("d")).as("dot"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 32.0)
    assert(out(2L) == 0.0)
  }

  test("cosine_sim: orthogonal -> 0, zero-norm -> NULL, parallel -> 1") {
    val out = vecs.select(col("id"), cosineSim(col("f"), col("d")).as("c"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(2L).contains(0.0))
    assert(out(3L).isEmpty) // zero left norm -> NULL (nullif guard semantics)
    val self = vecs.filter(col("id") === 1L)
      .select(cosineSim(col("d"), col("d"))).as[Double].head()
    assert(math.abs(self - 1.0) < 1e-12)
  }

  test("NULL input propagates to NULL output") {
    val out = Seq((Option(Array(1.0, 2.0)), Option.empty[Array[Double]]))
      .toDF("a", "b").select(vecDot(col("a"), col("b"))).collect()
    assert(out(0).isNullAt(0))
  }

  test("codegen and interpreted paths agree") {
    def run(wholestage: Boolean): Seq[(Long, Option[Any])] = {
      spark.conf.set("spark.sql.codegen.wholeStage", wholestage.toString)
      try vecs.select(col("id"), cosineSim(col("f"), col("d")).as("c"), vecDot(col("f"), col("d")).as("x"))
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).toSeq
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    assert(run(wholestage = true) == run(wholestage = false))
  }

  test("lsh_buckets matches per-plane dot-product signs, both eval paths") {
    val planes = Array(
      Array(1.0, 0.0), Array(0.0, 1.0),   // table 0: bits from x>0, y>0
      Array(-1.0, 0.0), Array(0.0, -1.0)) // table 1: inverted signs
    val df = Seq((1L, Array(3.0f, -2.0f)), (2L, Array(-1.0f, 5.0f)))
      .toDF("id", "v")
    def run(codegen: Boolean): Map[Long, Seq[Long]] = {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      try df.select(col("id"), lshBuckets(col("v"), planes, 2, 2).as("b"))
        .as[(Long, Seq[Long])].collect().toMap
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    val out = run(codegen = true)
    // id 1: x>0 bit0=1, y>0 bit1=0 -> 1; inverted -> bit0=0, bit1=1 -> 2
    assert(out(1L) == Seq(1L, 2L))
    assert(out(2L) == Seq(2L, 1L))
    assert(run(codegen = false) == out)
  }

  test("cell_rank: full ranking by csim desc, exact-tie -> cell asc, zero-norm last, both eval paths") {
    // cells 10/11 share one centroid (exact tie), 12 is orthogonal-ish, 13 is
    // zero-norm (NULL cosine -> must sort LAST like the window's NULLS LAST)
    val cents = Seq(
      (11L, Seq(1.0, 0.0)), (10L, Seq(1.0, 0.0)),
      (12L, Seq(0.0, 1.0)), (13L, Seq(0.0, 0.0)))
    val df = Seq((1L, Array(2.0, 0.5)))
      .toDF("id", "v")
      .crossJoin(cents.toDF("cell", "cvec")
        .agg(collect_list(struct(col("cell"), col("cvec"))).as("cents")))
    def run(codegen: Boolean): Seq[Long] = {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      try df.select(explode(cellRank(col("v"), col("cents"))).as("x"))
        .select(col("x.cell")).as[Long].collect().toSeq
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    val out = run(codegen = true)
    // v is closest to (1,0): tie between cells 10 and 11 -> 10 first; the
    // zero-norm cell 13 is last regardless of the unsorted input order
    assert(out == Seq(10L, 11L, 12L, 13L), s"got $out")
    assert(run(codegen = false) == out)
    // zero-norm VECTOR: every csim NULL -> pure cell-asc order
    val zv = Seq((1L, Array(0.0, 0.0))).toDF("id", "v")
      .crossJoin(cents.toDF("cell", "cvec")
        .agg(collect_list(struct(col("cell"), col("cvec"))).as("cents")))
      .select(explode(cellRank(col("v"), col("cents"))).as("x"))
      .select(col("x.cell")).as[Long].collect().toSeq
    assert(zv == Seq(10L, 11L, 12L, 13L))
  }

  test("SQL registration: vec_dot / cosine_sim callable from spark.sql") {
    vecs.createOrReplaceTempView("vtest")
    val out = spark.sql(
      "SELECT id, vec_dot(f, d) AS dot, cosine_sim(f, d) AS cos FROM vtest WHERE id = 1")
      .head()
    assert(out.getDouble(1) == 32.0)
    assert(math.abs(out.getDouble(2) - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-12)
  }
}
