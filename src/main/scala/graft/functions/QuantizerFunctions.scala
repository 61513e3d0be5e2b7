package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** A frozen coarse quantizer read once per call: cell ids and their
  * centroid vectors, in the order they were read. The fused kernels
  * below hold it through codegen's `references[]`, never as literals,
  * so the generated source is the same on every call and whatever
  * centroids it carries — one Janino compilation serves every append
  * and serve of an index.
  */
final class FrozenCentroids(val cells: Array[Int], val vecs: Array[ArrayData])
    extends Serializable {
  private val slot = cells.indices.map(i => cells(i) -> i).toMap

  /** The centroid of `cell`, null when the quantizer has no such cell. */
  def of(cell: Int): ArrayData = slot.get(cell).map(vecs(_)).orNull

  override def toString: String = s"centroids(${cells.length})"
}

object FrozenCentroids {
  /** From collected (cell INT, cv ARRAY<DOUBLE>) rows. */
  def of(rows: Seq[Row]): FrozenCentroids = {
    val sorted = rows.sortBy(_.getInt(0))
    new FrozenCentroids(sorted.map(_.getInt(0)).toArray,
      sorted.map(vector(_, 1)).toArray)
  }

  /** Column `i` of a collected row as a double array, null kept. */
  private[graft] def vector(r: Row, i: Int): ArrayData =
    if (r.isNullAt(i)) null
    else UnsafeArrayData.fromPrimitiveArray(r.getSeq[Double](i).toArray)
}

/** Frozen PQ codebooks, grouped by subspace: `codes(s)` and `vecs(s)`
  * list subspace s's codes in ascending order. Held like
  * [[FrozenCentroids]].
  */
final class FrozenCodebooks(val codes: Array[Array[Int]], val vecs: Array[Array[ArrayData]])
    extends Serializable {
  def m: Int = codes.length
  override def toString: String = s"codebooks(${codes.map(_.length).sum})"
}

object FrozenCodebooks {
  /** From collected (sub INT, code INT, cv ARRAY<DOUBLE>) rows; subspaces
    * 0 until m, a subspace without rows gets no codes. */
  def of(rows: Seq[Row], m: Int): FrozenCodebooks = {
    val bySub = rows.groupBy(_.getInt(0))
    val per = (0 until m).map(s =>
      bySub.getOrElse(s, Seq.empty).sortBy(_.getInt(1)))
    new FrozenCodebooks(per.map(_.map(_.getInt(1)).toArray).toArray,
      per.map(_.map(FrozenCentroids.vector(_, 2)).toArray).toArray)
  }
}

/** Native argmax-cell: the nearest centroid of a vector by cosine, in one
  * pass over the frozen centroids. Replaces the broadcast join of every
  * row against every centroid plus the `max_by` over
  * (coalesce(csim, −∞), −cell): the same order, so the same cell —
  * highest cosine first (Spark's double order: NaN above everything,
  * −0.0 = 0.0), a null similarity (null vector or centroid) counted as
  * −∞, ties to the smaller cell. Each similarity is
  * [[CosineSimilarity.compute]] itself, so the values compared are the
  * ones the join computed. Null only when the quantizer is empty (the
  * join then yielded no row).
  */
case class NearestCell(child: Expression, centroids: FrozenCentroids)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val i = NearestCell.argmax(child.eval(input).asInstanceOf[ArrayData], centroids)
    if (i < 0) null else centroids.cells(i)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids)
    val c = child.genCode(ctx)
    val i = ctx.freshName("slot")
    ev.copy(code = code"""
      ${c.code}
      int $i = graft.functions.NearestCell.argmax(${c.isNull} ? null : ${c.value}, $ref);
      boolean ${ev.isNull} = $i < 0;
      int ${ev.value} = ${ev.isNull} ? -1 : $ref.cells()[$i];""")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

object NearestCell {
  /** Slot of the nearest centroid, −1 for an empty quantizer. */
  def argmax(v: ArrayData, c: FrozenCentroids): Int = {
    var best = -1
    var bestSim = 0.0
    var i = 0
    while (i < c.cells.length) {
      val cv = c.vecs(i)
      val s = if (v == null || cv == null) Double.NegativeInfinity
        else CosineSimilarity.compute(v, cv)
      if (best < 0) { best = i; bestSim = s }
      else {
        val o = SQLOrderingUtil.compareDoubles(s, bestSim)
        if (o > 0 || (o == 0 && c.cells(i) < c.cells(best))) { best = i; bestSim = s }
      }
      i += 1
    }
    best
  }
}

/** Native top-n cells: the `n` nearest centroids of a vector by cosine,
  * nearest first. Replaces the broadcast join plus the row_number window
  * over (csim DESC, cell ASC) ≤ n: the window's order exactly — NaN
  * first, a null similarity after every number, ties to the smaller
  * cell — so exploding the result yields the window's rows.
  */
case class TopCells(child: Expression, centroids: FrozenCentroids, n: Int)
    extends UnaryExpression {
  require(n > 0, s"n must be positive, got $n")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    TopCells.top(child.eval(input).asInstanceOf[ArrayData], centroids, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = false;
      ArrayData ${ev.value} = graft.functions.TopCells.top(
        ${c.isNull} ? null : ${c.value}, $ref, $n);""")
  }

  override protected def withNewChildInternal(newChild: Expression): TopCells =
    copy(child = newChild)
}

object TopCells {
  def top(v: ArrayData, c: FrozenCentroids, n: Int): ArrayData = {
    val k = c.cells.length
    val sim = new Array[Double](k)
    val isNull = new Array[Boolean](k)
    var i = 0
    while (i < k) {
      val cv = c.vecs(i)
      if (v == null || cv == null) isNull(i) = true
      else sim(i) = CosineSimilarity.compute(v, cv)
      i += 1
    }
    // csim DESC NULLS LAST, cell ASC: the window's total order
    val order = (0 until k).sortWith { (a, b) =>
      if (isNull(a) != isNull(b)) isNull(b)
      else {
        val o = if (isNull(a)) 0 else SQLOrderingUtil.compareDoubles(sim(a), sim(b))
        if (o != 0) o > 0 else c.cells(a) < c.cells(b)
      }
    }
    UnsafeArrayData.fromPrimitiveArray(order.take(n).map(c.cells(_)).toArray)
  }
}

/** Native PQ encode: the `m` codes of a vector's residual against its
  * cell's centroid, one per subspace. Replaces the residual `zip_with`,
  * the subvector explode, the codebook broadcast join and the per
  * (vector, subspace) argmin over (dist, code): the residual is the same
  * elementwise p − q, each distance is [[L2SquaredDistance.compute]] of
  * the same subvector and codeword, and the order is the aggregate's —
  * smaller distance first, a null distance (null vector or codeword)
  * below every number, NaN above, ties to the smaller code. A subspace
  * without codewords yields a null code (the join yielded no row).
  * Vectors are fixed-width: `v` and its centroid have the same length,
  * as every index table guarantees.
  */
case class PqEncode(left: Expression, right: Expression, centroids: FrozenCentroids,
    books: FrozenCodebooks, subDim: Int) extends BinaryExpression {
  require(subDim > 0, s"subDim must be positive, got $subDim")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  override def nullSafeEval(v: Any, cell: Any): Any =
    PqEncode.encode(v.asInstanceOf[ArrayData], cell.asInstanceOf[Int], centroids, books, subDim)

  override def eval(input: InternalRow): Any = {
    val cell = right.eval(input)
    if (cell == null) null
    else nullSafeEval(left.eval(input), cell)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cref = ctx.addReferenceObj("centroids", centroids)
    val bref = ctx.addReferenceObj("books", books)
    val v = left.genCode(ctx)
    val cell = right.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      ${cell.code}
      boolean ${ev.isNull} = ${cell.isNull};
      ArrayData ${ev.value} = ${ev.isNull} ? null : graft.functions.PqEncode.encode(
        ${v.isNull} ? null : ${v.value}, ${cell.value}, $cref, $bref, $subDim);""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

object PqEncode {
  /** The residual v − centroid(cell): null when either is null; over
    * the common prefix, never reading past either array. */
  def residual(v: ArrayData, cv: ArrayData): Array[Double] =
    if (v == null || cv == null) null
    else Array.tabulate(math.min(v.numElements(), cv.numElements()))(i =>
      v.getDouble(i) - cv.getDouble(i))

  /** Subspace `s` of a residual: slice(rv, s·subDim + 1, subDim). */
  def subvector(rv: Array[Double], s: Int, subDim: Int): ArrayData = {
    val from = math.min(s * subDim, rv.length)
    UnsafeArrayData.fromPrimitiveArray(
      java.util.Arrays.copyOfRange(rv, from, math.min(from + subDim, rv.length)))
  }

  def encode(v: ArrayData, cell: Int, c: FrozenCentroids, b: FrozenCodebooks,
      subDim: Int): ArrayData = {
    val rv = residual(v, c.of(cell))
    val out = new Array[Any](b.m)
    var s = 0
    while (s < b.m) {
      val sv = if (rv == null) null else subvector(rv, s, subDim)
      val codes = b.codes(s)
      val cvs = b.vecs(s)
      var best = -1
      var bestNull = false
      var bestDist = 0.0
      var j = 0
      while (j < codes.length) {
        val isNull = sv == null || cvs(j) == null
        val d = if (isNull) 0.0 else L2SquaredDistance.compute(sv, cvs(j))
        // (dist, code) ascending, a null dist below every number
        val better = best < 0 || {
          val o =
            if (isNull != bestNull) (if (isNull) -1 else 1)
            else if (isNull) 0
            else SQLOrderingUtil.compareDoubles(d, bestDist)
          o < 0 || (o == 0 && codes(j) < codes(best))
        }
        if (better) { best = j; bestNull = isNull; bestDist = d }
        j += 1
      }
      out(s) = if (best < 0) null else Int.box(codes(best))
      s += 1
    }
    new GenericArrayData(out)
  }
}

object QuantizerFunctions {
  /** Column API for [[NearestCell]]. */
  def nearestCell(v: Column, centroids: FrozenCentroids): Column =
    GraftBridge.toColumn(NearestCell(GraftBridge.toExpression(v), centroids))

  /** Column API for [[TopCells]]. */
  def topCells(v: Column, centroids: FrozenCentroids, n: Int): Column =
    GraftBridge.toColumn(TopCells(GraftBridge.toExpression(v), centroids, n))

  /** Column API for [[PqEncode]]. */
  def pqEncode(v: Column, cell: Column, centroids: FrozenCentroids,
      books: FrozenCodebooks, subDim: Int): Column =
    GraftBridge.toColumn(PqEncode(GraftBridge.toExpression(v),
      GraftBridge.toExpression(cell), centroids, books, subDim))
}
