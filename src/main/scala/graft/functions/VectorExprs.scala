package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Dense-vector kernels over `array<float>` columns (SURVEY.md §2.7 F5,
  * §2.9 D3/D4), as native Catalyst expressions rather than Scala UDFs.
  *
  * Why an Expression and not `zip_with`/`aggregate` HOFs or a UDF: the HOF
  * formulation allocates a lambda frame per element and the UDF route
  * deserializes the whole array to `Seq[Float]` per row. Both fall out of
  * WholeStageCodegen. These expressions instead generate a call to a static
  * JIT-friendly loop over the columnar `ArrayData`, so a k-NN scan stays
  * inside the fused codegen stage — the difference is ~10× on the
  * 100×2000-vector bench query.
  *
  * Numeric contract (t2): all accumulation is double, sequential
  * left-to-right, matching DuckDB's `list_dot_product(a::DOUBLE[], …)`
  * evaluation order, so results agree bit-for-bit before the defensive
  * ROUND(…, 4) both sides apply.
  */
object VectorOps {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def l2Norm(a: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val x = a.getFloat(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** `a` divided by its [[l2Norm]], element by element in doubles: the
    * norm is computed once per row, and a null element stays null. Callers
    * keep rows whose norm is positive; a zero norm gives NaN or ±∞.
    */
  def normalize(a: ArrayData): ArrayData = {
    val norm = l2Norm(a)
    val n = a.numElements()
    val out = new Array[Double](n)
    var nulls = false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) nulls = true else out(i) = a.getFloat(i).toDouble / norm
      i += 1
    }
    if (!nulls) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(Array.tabulate[Any](n)(j => if (a.isNullAt(j)) null else out(j)))
  }

  /** ORDER BY comparison of two scores: NaN ranks greatest and −0.0
    * equals 0.0 (Spark's `SQLOrderingUtil.compareDoubles`; DuckDB agrees).
    */
  def compareScores(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Spark's `ROUND(x, 4)` on a double, bit for bit (HALF_UP over the
    * shortest decimal representation; NaN and ±∞ pass through).
    */
  def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  private[functions] def dotD(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Score of `v` against centroid `j` in the centroids' own spelling — the
    * same double arithmetic, in the same left-to-right order, as the column
    * expression each site declares, over the shorter of the two vectors.
    */
  private def centroidScore(v: Array[Double], vSelf: Double, cents: Centroids, j: Int): Double = {
    val c = cents.vecs(j)
    val n = math.min(v.length, c.length)
    cents.score match {
      case CentroidScore.L2sq =>
        var s = 0.0
        var i = 0
        while (i < n) { val t = v(i) - c(i); s += t * t; i += 1 }
        s
      case CentroidScore.DotL2sq =>
        (vSelf + cents.selfDot(j)) - 2.0 * dotD(v, c)
      case CentroidScore.Cosine | CentroidScore.Cosine4 =>
        var dot = 0.0
        var na = 0.0
        var nb = 0.0
        var i = 0
        while (i < n) {
          val x = v(i)
          val y = c(i)
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        val cos = dot / (math.sqrt(na) * math.sqrt(nb))
        if (cents.score == CentroidScore.Cosine4) round4(cos) else cos
    }
  }

  /** Indices into `cents` of the `k` best centroids for `v`, best first,
    * with their scores, picked by [[select]].
    */
  def nearest(v: Array[Double], cents: Centroids, k: Int): (Array[Int], Array[Double]) = {
    val vSelf = if (cents.score == CentroidScore.DotL2sq) dotD(v, v) else 0.0
    val scores = new Array[Double](cents.ids.length)
    var j = 0
    while (j < scores.length) { scores(j) = centroidScore(v, vSelf, cents, j); j += 1 }
    val idx = select(scores, k, cents.score.desc)
    (idx, idx.map(scores))
  }

  /** The one nearest-centroid selection: the indices of the `k` best
    * scores, best first, in the order of the declared
    * `ORDER BY score [DESC], centroid_id` — NaN ranks greatest (so it loses
    * a nearest pick and wins a most-similar pick), −0.0 equals 0.0, and
    * ties go to the lowest index, which [[Centroids]] makes the lowest id.
    */
  def select(scores: Array[Double], k: Int, desc: Boolean): Array[Int] = {
    val m = math.min(k, scores.length)
    val idx = new Array[Int](m)
    val sign = if (desc) -1 else 1
    var filled = 0
    var j = 0
    while (j < scores.length) {
      // an equal score never passes a kept entry: the lower index stays first
      var p = filled
      while (p > 0 && sign * compareScores(scores(j), scores(idx(p - 1))) < 0) p -= 1
      if (p < m) {
        var q = math.min(filled, m - 1)
        while (q > p) { idx(q) = idx(q - 1); q -= 1 }
        idx(p) = j
        filled = math.min(filled + 1, m)
      }
      j += 1
    }
    idx
  }

  /** [[nearest]] over one row's `array<float>` or `array<double>` vector,
    * as the `array<struct<id, score>>` [[NearestCentroids]] returns. A null
    * vector scores null against every centroid; all tie, so the lowest ids
    * are picked with null scores, as the declared ORDER BY would.
    */
  def nearestRow(a: ArrayData, floats: Boolean, cents: Centroids, k: Int): ArrayData = {
    val m = math.min(k, cents.ids.length)
    if (a == null)
      return new GenericArrayData(Array.tabulate[Any](m)(p => InternalRow(cents.ids(p), null)))
    val n = a.numElements()
    val v = new Array[Double](n)
    var i = 0
    if (floats) while (i < n) { v(i) = a.getFloat(i).toDouble; i += 1 }
    else while (i < n) { v(i) = a.getDouble(i); i += 1 }
    val (idx, sc) = nearest(v, cents, k)
    new GenericArrayData(Array.tabulate[Any](m)(p => InternalRow(cents.ids(idx(p)), sc(p))))
  }

  /** splitmix64 — public-domain mixer (Steele et al., JDK SplittableRandom). */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Signed-random-projection bucket (Charikar's SimHash for vectors): bit j
    * is the sign of the dot product with a deterministic ±1 hyperplane drawn
    * from splitmix64(j, d). No stored projection matrix — the hyperplane is
    * recomputed on the fly, so the operator ships no broadcast state and two
    * clusters always agree on bucket ids.
    */
  def srpBits(a: ArrayData, bits: Int, seed: Long): Long = {
    val n = a.numElements()
    var bucket = 0L
    var j = 0
    while (j < bits) {
      var s = 0.0
      var d = 0
      while (d < n) {
        val sign = if ((mix(seed + j.toLong * 8191L + d) & 1L) == 1L) 1.0 else -1.0
        s += a.getFloat(d).toDouble * sign
        d += 1
      }
      if (s > 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }
}

/** How a nearest-centroid site scores a vector against a centroid. Each
  * spelling keeps the arithmetic its site declares, so scores, and the picks
  * made from them, stay bit-identical to that site's SQL. `desc` marks a
  * similarity: its best centroid has the greatest score.
  */
sealed abstract class CentroidScore(val desc: Boolean) extends Serializable

object CentroidScore {
  /** Σ (vᵢ − cᵢ)², ascending: PQ codes and cells, the driver-side Lloyd fits. */
  case object L2sq extends CentroidScore(false)
  /** dot(v, v) + dot(c, c) − 2·dot(v, c), ascending: the k-means E-step. */
  case object DotL2sq extends CentroidScore(false)
  /** cosine(v, c), descending: the IVF probe ranking. */
  case object Cosine extends CentroidScore(true)
  /** ROUND(cosine(v, c), 4), descending: the centroid family's assignment. */
  case object Cosine4 extends CentroidScore(true)
}

/** A fixed centroid matrix, rows sorted by id so that the lowest index is
  * the lowest centroid id, plus the spelling it is scored by.
  */
final class Centroids private (val ids: Array[Long], val vecs: Array[Array[Double]],
                               val score: CentroidScore) extends Serializable {
  /** dot(c, c) per centroid, the constant term of [[CentroidScore.DotL2sq]]. */
  val selfDot: Array[Double] = vecs.map(c => VectorOps.dotD(c, c))
  override def toString: String =
    s"centroids(${ids.length}x${vecs.headOption.fold(0)(_.length)}, $score)"
}

object Centroids {
  def apply(rows: Seq[(Long, Array[Double])], score: CentroidScore): Centroids = {
    val sorted = rows.sortBy(_._1)
    new Centroids(sorted.map(_._1).toArray, sorted.map(_._2).toArray, score)
  }
}

trait FloatArrayInputs extends Expression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = children.map(_.dataType).filterNot {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${prettyName} expects array<float> inputs, got ${bad.mkString(", ")}")
  }
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayInputs {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayInputs {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class L2Norm(child: Expression)
    extends UnaryExpression with FloatArrayInputs {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_norm"
  override protected def nullSafeEval(a: Any): Any =
    VectorOps.l2Norm(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorOps.l2Norm($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The unit vector of an `array<float>` as `array<double>`
  * ([[VectorOps.normalize]]): one call per row inside whole-stage codegen,
  * where a `transform(v, x -> x / l2_norm(v))` lambda runs outside it and
  * evaluates the norm once per element.
  */
case class Normalize(child: Expression)
    extends UnaryExpression with FloatArrayInputs {
  override def dataType: DataType =
    ArrayType(DoubleType, child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "normalize"
  override protected def nullSafeEval(a: Any): Any =
    VectorOps.normalize(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorOps.normalize($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** LSH bucket id for approximate-NN: `bits` signed random projections.
  * Distinct `seed`s give independent hash tables (multi-probe recall).
  */
case class SrpBucket(child: Expression, bits: Int, seed: Long)
    extends UnaryExpression with FloatArrayInputs {
  require(bits >= 1 && bits <= 63, s"srp bits must be in [1, 63], got $bits")
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_bucket"
  override protected def nullSafeEval(a: Any): Any =
    VectorOps.srpBits(a.asInstanceOf[ArrayData], bits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorOps.srpBits($a, $bits, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The `k` nearest centroids of a vector, best first, as
  * `array<struct<id: bigint, score: double>>` ([[VectorOps.nearest]] holds
  * the ordering rule). The centroid matrix is ONE reference object of the
  * generated code rather than k·d literal expressions, so the projection
  * stays in whole-stage codegen and carries the matrix once.
  */
case class NearestCentroids(child: Expression, cents: Centroids, k: Int)
    extends UnaryExpression {
  require(k >= 1, s"nearest_centroids k must be >= 1, got $k")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array<float> or array<double> input, got $other")
  }
  private def floats: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = true))), containsNull = false)
  override def prettyName: String = "nearest_centroids"
  override def eval(input: InternalRow): Any =
    VectorOps.nearestRow(child.eval(input).asInstanceOf[ArrayData], floats, cents, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.VectorOps.nearestRow(
      |  ${c.isNull} ? null : ${c.value}, $floats, $ref, $k);""".stripMargin,
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-API surface for the vector kernels. */
object vectors {
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))
  def dotProduct(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
  def l2Norm(a: Column): Column =
    Bridge.column(L2Norm(Bridge.expression(a)))
  def normalize(a: Column): Column =
    Bridge.column(Normalize(Bridge.expression(a)))
  def srpBucket(a: Column, bits: Int, seed: Long = 0L): Column =
    Bridge.column(SrpBucket(Bridge.expression(a), bits, seed))
  def nearestCentroids(v: Column, cents: Centroids, k: Int): Column =
    Bridge.column(NearestCentroids(Bridge.expression(v), cents, k))
}
