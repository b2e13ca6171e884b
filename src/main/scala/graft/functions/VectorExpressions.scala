package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst vector expressions with whole-stage codegen.
  *
  * Spark's built-in path for an embedding dot product is the higher-order
  * `aggregate(zip_with(a, b, (x,y) -> x*y), ...)`, which allocates a zipped
  * array per row and is interpreted (HigherOrderFunction has no doGenCode).
  * These expressions compile to a tight primitive loop inside whole-stage
  * codegen — the difference between "works" and "works on 10^11 rows" for
  * brute-force similarity scans.
  *
  * Accumulation is a strict ascending-index left fold in double, matching the
  * DuckDB oracle's list_dot_product semantics for hash-exact comparison.
  */
abstract class VectorFold extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double> inputs, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  protected def get(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  /** Java getter snippet for codegen, by element type. */
  protected def getter(v: String, i: String, t: DataType): String = t match {
    case FloatType => s"(double) $v.getFloat($i)"
    case _ => s"$v.getDouble($i)"
  }
}

/** dot(a, b) = Σ a_i * b_i over the common prefix length. */
case class DotProduct(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (tl, tr) = (elemType(left), elemType(right))
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += get(x, i, tl) * get(y, i, tr); i += 1 }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (${getter(a, i, elemType(left))}) * (${getter(b, i, elemType(right))});
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (sqrt(dot(a,a)) * sqrt(dot(b,b))); NULL on zero norm
  * (mirrors the SQL `nullif(denominator, 0)` guard).
  */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (tl, tr) = (elemType(left), elemType(right))
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = get(x, i, tl); val yv = get(y, i, tr)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = ${getter(a, i, elemType(left))};
         |  double $yv = ${getter(b, i, elemType(right))};
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($denom == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $dot / $denom; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** All L×B random-hyperplane sign bits in ONE expression: returns an
  * array<long> of `tables` bucket ids, each the B-bit sign pattern of the
  * vector against that table's hyperplanes.
  *
  * Composing this from 64 `vec_dot(e, lit(plane)) > 0` columns builds an
  * expression tree large enough that whole-stage codegen gives up and the
  * projection runs interpreted — measured ~400 µs/row (~40× the flop cost).
  * Here the planes ride along as a referenced object and both eval paths are
  * one tight primitive loop: ~flop-bound either way.
  */
case class LshBuckets(child: Expression, planes: Array[Array[Double]],
                      tables: Int, bits: Int)
  extends UnaryExpression {

  require(planes.length == tables * bits, "planes must be tables*bits rows")

  override def prettyName: String = "lsh_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double>, got ${dt.simpleString}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Shared by both eval paths (called from generated code too). */
  def compute(arr: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val isFloat = elemIsFloat
    val n = arr.numElements()
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var r = 0
      while (r < bits) {
        val plane = planes(t * bits + r)
        val m = math.min(n, plane.length)
        var d = 0.0
        var i = 0
        while (i < m) {
          d += (if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)) * plane(i)
          i += 1
        }
        if (d > 0) sig |= (1L << r)
        r += 1
      }
      out(t) = sig
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("lshExpr", this, classOf[LshBuckets].getName)
    defineCodeGen(ctx, ev, c => s"$self.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Rank centroid cells by cosine similarity to a vector — the zero-shuffle
  * argmax that replaces the `crossJoin + row_number().over(Window.partitionBy
  * (vec_id))` formulation for IVF/k-means cell assignment. The window version
  * forces a full-corpus hash exchange + sort PER LLOYD ITERATION (petabytes
  * of avoidable shuffle at 100 TB); here the (tiny, k×dim) centroid relation
  * rides in as ONE broadcast array-of-structs column and the argmax is a
  * per-row loop inside the projection — the corpus never moves.
  *
  * Input:  left  = array<float|double>                      (the vector)
  *         right = array<struct<cell: long, cvec: array<double>>> (centroids)
  * Output: array<struct<cell: long, csim: double>> sorted by csim DESC
  *         (NULL-on-zero-norm last), cell ASC — EXACTLY the ordering of
  *         `Window.orderBy(csim.desc, cell.asc)` it replaces, so
  *         element_at(.., 1) is the assignment and slice(.., 1, nProbe) the
  *         probe set. Cosine arithmetic is bit-identical to CosineSimilarity
  *         (strict ascending-index fold, min-prefix length, NULL on zero
  *         denominator) to preserve the cross-engine oracle contract.
  */
case class CellRank(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "cell_rank"

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cell", LongType, nullable = false),
      StructField("csim", DoubleType, nullable = true))),
    containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _),
          ArrayType(StructType(Array(
            StructField(_, LongType, _, _),
            StructField(_, ArrayType(FloatType | DoubleType, _), _, _))), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, array<struct<long, array<float|double>>>), " +
        s"got (${l.simpleString}, ${r.simpleString})")
  }

  // lazy vals: resolved once per expression instance, not re-traversed per row
  private lazy val vecIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val centIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
      .fields(1).dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Shared by both eval paths (called from generated code too). */
  def compute(vec: ArrayData, cents: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val vFloat = vecIsFloat
    val cFloat = centIsFloat
    val k = cents.numElements()
    val n = vec.numElements()
    val cells = new Array[Long](k)
    val sims = new Array[Double](k) // zero-norm (SQL NULL) encoded -Inf: sorts last, like NULLS LAST
    val isNull = new Array[Boolean](k)
    var i = 0
    while (i < k) {
      val st = cents.getStruct(i, 2)
      cells(i) = st.getLong(0)
      val cv = st.getArray(1)
      val m = math.min(n, cv.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var j = 0
      while (j < m) {
        val xv = if (vFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
        val yv = if (cFloat) cv.getFloat(j).toDouble else cv.getDouble(j)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        j += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) { isNull(i) = true; sims(i) = Double.NegativeInfinity }
      else sims(i) = dot / denom
      i += 1
    }
    // csim DESC (NaN greatest, matching Spark sort semantics), cell ASC.
    // Primitive == first: Spark's double ordering (SQLOrderingUtil) equates
    // -0.0 == 0.0, where raw Double.compare would order 0.0 > -0.0 — the
    // tie must fall through to cell ASC exactly as the window sort it mirrors.
    val order = Array.range(0, k).sortWith { (a, b) =>
      if (sims(a) == sims(b)) cells(a) < cells(b)
      else {
        val c = java.lang.Double.compare(sims(a), sims(b))
        if (c != 0) c > 0 else cells(a) < cells(b)
      }
    }
    val rows = new Array[Any](k)
    i = 0
    while (i < k) {
      val o = order(i)
      rows(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](cells(o), if (isNull(o)) null else sims(o)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  override def nullSafeEval(vec: Any, cents: Any): Any =
    compute(vec.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cellRankExpr", this, classOf[CellRank].getName)
    defineCodeGen(ctx, ev, (v, c) => s"$self.compute($v, $c)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-API front doors (SQL names come from [[graft.GraftExtensions]]). */
object VectorFunctions {
  import org.apache.spark.sql.graft.SqlShim.{column, expression}

  def vecDot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))
  def cosineSim(a: Column, b: Column): Column = column(CosineSimilarity(expression(a), expression(b)))
  def lshBuckets(vec: Column, planes: Array[Array[Double]], tables: Int, bits: Int): Column =
    column(LshBuckets(expression(vec), planes, tables, bits))
  def cellRank(vec: Column, cents: Column): Column =
    column(CellRank(expression(vec), expression(cents)))
}
