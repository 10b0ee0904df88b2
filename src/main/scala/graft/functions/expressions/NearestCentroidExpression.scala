package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.types._

/** What [[NearestCentroid]] and [[NearestCentroids]] share: the input
  * checks, the element accessor and the per-centroid score, so the argmax
  * and the top-n form rank centroids by the same numbers.
  */
trait CentroidScoring extends BinaryExpression {
  def cids: Array[Long]
  def cents: Array[Array[Double]]
  def cnorms: Array[Double]

  protected def checkCentroids(): Unit = {
    require(cids.nonEmpty && cids.length == cents.length && cids.length == cnorms.length,
      s"$prettyName: centroid arrays must be non-empty and same length")
    require(cids.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
      s"$prettyName: cids must be strictly ascending")
  }

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(et @ (FloatType | DoubleType | ByteType | ShortType | IntegerType | LongType), _) =>
      Some(et)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), right.dataType) match {
      case (Some(_), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<numeric> vector, double norm), " +
          s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  // hoisted element accessor switch: 0=float 1=double 2..5=integrals
  @transient private lazy val etCode: Int = elemType(left).get match {
    case FloatType => 0
    case DoubleType => 1
    case ByteType => 2
    case ShortType => 3
    case IntegerType => 4
    case LongType => 5
  }

  @inline private def get(a: ArrayData, i: Int): Double = etCode match {
    case 0 => a.getFloat(i).toDouble
    case 1 => a.getDouble(i)
    case 2 => a.getByte(i).toDouble
    case 3 => a.getShort(i).toDouble
    case 4 => a.getInt(i).toDouble
    case _ => a.getLong(i).toDouble
  }

  /** Centroid `j`'s score for the row (`a`, `nrm`): writes it into
    * `out(j)` and returns true, or returns false for a null score.
    * `a == null` / `nrmNull` model null inputs and null every score.
    */
  protected final def score(
      a: ArrayData, nrm: Double, nrmNull: Boolean, j: Int, out: Array[Double]): Boolean = {
    if (a == null || nrmNull) return false
    val cv = cents(j)
    val n = a.numElements()
    if (n != cv.length) return false
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return false
      acc += get(a, i) * cv(i)
      i += 1
    }
    val denom = nrm * cnorms(j)
    if (denom == 0.0) return false
    // + 0.0 canonicalizes -0.0 so Double.compare matches Spark's double
    // ordering (-0.0 == 0.0) as well as NaN-greatest
    out(j) = acc / denom + 0.0
    true
  }

  /** Whether centroid `j` ranks before centroid `best` (score DESC with
    * nulls last, then cid ASC — `j > best` in index order means a tie keeps
    * `best`).
    */
  @inline protected final def before(
      jOk: Boolean, sj: Double, bestOk: Boolean, sBest: Double): Boolean =
    jOk && (!bestOk || java.lang.Double.compare(sj, sBest) > 0)
}

/** Native nearest-centroid argmax: the coarse-quantizer assignment of the
  * IVF family (`Similarity.ivfTopK`, `IvfIndex.write`) as ONE codegen'd
  * expression looping over the centroid matrix in compiled code.
  *
  * Replaces the unrolled `array_max(array(struct(cosine(v, lit(cv_j)), ...)))`
  * form, which is correct but degenerates once `nlist` grows: at nlist=64
  * the projection's generated method blows past the JIT/Janino budget and
  * the whole 64-branch argmax falls back to interpreted eval — measured
  * 34 s vs ~1 s for 100k x 64-dim rows. Here codegen emits a single
  * reference-object call (like [[HyperplaneSignature]]), so the projection
  * stays inside whole-stage codegen at any `nlist` and the inner loops are
  * plain JVM double arithmetic.
  *
  * Bit-equality contract with the unrolled form (pinned by PipelineSpec):
  *   - score_j = dot(v, cv_j) / (nrm * cnrm_j), elements widened to double
  *     before the multiply, sum folded in index order (same numerics as
  *     `graft_dot` and the DuckDB oracle);
  *   - `try_divide` semantics: a zero denominator nulls the branch score;
  *     a null element or length mismatch nulls it too;
  *   - argmax by (score DESC, cid ASC) under Spark's double ordering
  *     (NaN greatest, -0.0 == 0.0, nulls last) — ties and all-null rows
  *     resolve to the LOWEST cid, so the result is never null (which also
  *     means no isnotnull(cid) constraint can push the argmax into a scan
  *     filter and evaluate it twice).
  */
case class NearestCentroid(
    left: Expression,
    right: Expression,
    cids: Array[Long],
    cents: Array[Array[Double]],
    cnorms: Array[Double]) extends CentroidScoring {
  checkCentroids()

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_nearest_centroid"

  /** Shared by eval and codegen. */
  def assign(a: ArrayData, nrm: Double, nrmNull: Boolean): Long = {
    val s = new Array[Double](cids.length)
    var best = 0
    var bestOk = score(a, nrm, nrmNull, 0, s)
    var j = 1
    while (j < cids.length) {
      val ok = score(a, nrm, nrmNull, j, s)
      if (before(ok, s(j), bestOk, s(best))) { best = j; bestOk = true }
      j += 1
    }
    cids(best)
  }

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input)
    val nv = right.eval(input)
    assign(
      if (v == null) null else v.asInstanceOf[ArrayData],
      if (nv == null) 0.0 else nv.asInstanceOf[Double],
      nv == null)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val ref = ctx.addReferenceObj("graftNearestCentroid", this, classOf[NearestCentroid].getName)
    ev.copy(
      code = code"""
        ${l.code}
        ${r.code}
        long ${ev.value} = $ref.assign(
          ${l.isNull} ? null : ${l.value}, ${r.isNull} ? 0.0 : ${r.value}, ${r.isNull});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The `n` nearest centroids of a vector, nearest first: the IVF probe
  * side (`Similarity.ivfProbeSide`) as one codegen'd expression over the
  * driver-resident quantizer, instead of a query x centroid cross join
  * feeding a `row_number` window. The top-`n` form of [[NearestCentroid]]
  * under the same contract: the same scores, ranked by (score DESC, cid
  * ASC), NaN greatest, -0.0 == 0.0, nulls last — exactly the rows
  * `row_number() <= n` keeps over `(csim DESC, cid ASC)` — so a null
  * vector, a zero norm or a NaN element still yields `min(n, nlist)` cids,
  * never null.
  */
case class NearestCentroids(
    left: Expression,
    right: Expression,
    cids: Array[Long],
    cents: Array[Array[Double]],
    cnorms: Array[Double],
    n: Int) extends CentroidScoring {
  checkCentroids()
  require(n >= 1, s"graft_nearest_centroids: n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_nearest_centroids"

  /** Shared by eval and codegen: a selection of the `min(n, nlist)` best
    * centroids, each pass taking the first-ranked one not yet taken.
    */
  def topN(a: ArrayData, nrm: Double, nrmNull: Boolean): ArrayData = {
    val m = cids.length
    val s = new Array[Double](m)
    val ok = new Array[Boolean](m)
    var j = 0
    while (j < m) { ok(j) = score(a, nrm, nrmNull, j, s); j += 1 }
    val taken = new Array[Boolean](m)
    val out = new Array[Long](math.min(n, m))
    var k = 0
    while (k < out.length) {
      var best = -1
      j = 0
      while (j < m) {
        if (!taken(j) && (best < 0 || before(ok(j), s(j), ok(best), s(best)))) best = j
        j += 1
      }
      taken(best) = true
      out(k) = cids(best)
      k += 1
    }
    ArrayData.toArrayData(out)
  }

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input)
    val nv = right.eval(input)
    topN(
      if (v == null) null else v.asInstanceOf[ArrayData],
      if (nv == null) 0.0 else nv.asInstanceOf[Double],
      nv == null)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val ref = ctx.addReferenceObj("graftNearestCentroids", this, classOf[NearestCentroids].getName)
    ev.copy(
      code = code"""
        ${l.code}
        ${r.code}
        ArrayData ${ev.value} = $ref.topN(
          ${l.isNull} ? null : ${l.value}, ${r.isNull} ? 0.0 : ${r.value}, ${r.isNull});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCentroidExpression {
  /** `graft_nearest_centroid(vec, nrm)` over the collected coarse centroids
    * as a Column; `cents` in `Similarity.collectCentroids` order (cid asc).
    */
  def nearestCentroidNative(
      vec: Column,
      nrm: Column,
      cents: Array[(Long, Array[Double], Double)]): Column =
    GraftSqlShim.column(NearestCentroid(
      GraftSqlShim.expression(vec), GraftSqlShim.expression(nrm),
      cents.map(_._1), cents.map(_._2), cents.map(_._3)))

  /** `graft_nearest_centroids(vec, nrm)`: the `n` nearest of the collected
    * coarse centroids, nearest first ([[NearestCentroids]]).
    */
  def nearestCentroidsNative(
      vec: Column,
      nrm: Column,
      cents: Array[(Long, Array[Double], Double)],
      n: Int): Column =
    GraftSqlShim.column(NearestCentroids(
      GraftSqlShim.expression(vec), GraftSqlShim.expression(nrm),
      cents.map(_._1), cents.map(_._2), cents.map(_._3), n))
}
