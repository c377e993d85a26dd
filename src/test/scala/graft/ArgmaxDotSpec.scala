package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.dotProduct

/** Pins graft.plans.ArgmaxDot (the r17-opt one-node codeword
  * assignment) against the exact unrolled greatest-of-(score, idx)-
  * structs tree it replaced in Similarity.cellExpr/subCellExpr —
  * including the edge semantics the swap must preserve: larger-index
  * tie-breaks, NULL vectors electing the last index, ragged/short
  * vectors (partial slice dots), and NULL elements read as 0. */
class ArgmaxDotSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced formulation, verbatim (pre-r17 cellExpr/subCellExpr
    * shape): greatest over struct(dot - halfNorm, idx), field-order
    * comparison = argmax with ties to the larger index. */
  private def legacy(vecCol: Column, codewords: Array[Array[Double]],
      halfNorms: Array[Double], offset: Int, len: Int): Column = {
    val sv = if (offset == 0 && len == Int.MaxValue) vecCol
      else slice(vecCol, offset + 1, len)
    val scored = codewords.zipWithIndex.map { case (cw, j) =>
      struct((dotProduct(sv, array(cw.map(lit): _*)) - lit(halfNorms(j)))
        .as("s"), lit(j).as("i"))
    }
    greatest(scored.toSeq: _*).getField("i")
  }

  private def fresh(vecCol: Column, codewords: Array[Array[Double]],
      halfNorms: Array[Double], offset: Int, len: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    coalesce(GraftBridge.column(graft.plans.ArgmaxDot(
        GraftBridge.expression(vecCol), codewords, halfNorms, offset, len)),
      lit(codewords.length - 1))
  }

  private def both(vecs: Seq[Option[Seq[Option[Float]]]],
      codewords: Array[Array[Double]], halfNorms: Array[Double],
      offset: Int, len: Int): Unit = {
    val df = vecs.toDF("v")
    val got = df.select(
      fresh(col("v"), codewords, halfNorms, offset, len).as("a"),
      legacy(col("v"), codewords, halfNorms, offset, len).as("b"))
      .collect()
    got.zip(vecs).foreach { case (r, v) =>
      assert(r.getInt(0) == r.getInt(1),
        s"ArgmaxDot ${r.getInt(0)} != legacy ${r.getInt(1)} for $v")
    }
  }

  private def v(xs: Float*): Option[Seq[Option[Float]]] =
    Some(xs.map(Option(_)))

  test("matches the legacy greatest-of-structs tree incl. ties and nulls") {
    val books = Array(
      Array(1.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0),
      Array(1.0, 0.0, 0.0, 0.0), // duplicate of 0: forces a tie -> idx 2
      Array(0.25, 0.25, 0.25, 0.25))
    val norms = books.map(cw => 0.5 * cw.map(x => x * x).sum)
    val vecs: Seq[Option[Seq[Option[Float]]]] = Seq(
      v(1f, 0f, 0f, 0f),            // tie between 0 and 2 -> 2
      v(0f, 1f, 0f, 0f),
      v(0.5f, 0.5f, 0.5f, 0.5f),
      v(-1f, -1f, -1f, -1f),
      v(0f, 0f, 0f, 0f),            // all-score tie on -halfNorm order
      None,                          // NULL vector -> last index
      v(1f, 2f),                     // short vector: partial dots
      Some(Seq(Some(1f), None, Some(3f), Some(4f))), // NULL element -> 0
      v(7f, -3f, 2f, 9f, 4f, 1f))    // longer vector than codewords
    both(vecs, books, norms, offset = 0, len = Int.MaxValue)
    // zero half-norms = the cellExpr form
    both(vecs, books, new Array[Double](books.length), 0, Int.MaxValue)
  }

  test("subspace offset/len windows match the legacy slice form") {
    val books = Array(Array(1.0, 2.0), Array(2.0, 1.0), Array(1.0, 2.0))
    val norms = books.map(cw => 0.5 * cw.map(x => x * x).sum)
    val vecs: Seq[Option[Seq[Option[Float]]]] = Seq(
      v(9f, 9f, 1f, 2f),   // subspace 1 aligns with books(0)/(2): tie -> 2
      v(9f, 9f, 2f, 1f),
      v(9f, 9f, 5f),       // ragged: subspace 1 has one element
      v(9f, 9f),           // ragged: subspace 1 empty -> -halfNorm argmax
      None)
    (0 to 1).foreach { sub =>
      both(vecs, books, norms, offset = sub * 2, len = 2)
    }
  }

  test("interpreted eval equals codegen (filter forces both paths)") {
    val books = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val norms = new Array[Double](2)
    val raw = Seq(Seq(1f, 0f), Seq(0f, 1f), Seq(1f, 1f))
    val df = raw.map(s => Some(s.map(Option(_)))).toDF("v")
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val bound = graft.plans.ArgmaxDot(
      BoundReference(0, ArrayType(FloatType), nullable = true),
      books, norms, 0, Int.MaxValue)
    val viaEval = raw.map(s =>
      bound.eval(InternalRow(ArrayData.toArrayData(s.toArray))))
    val viaCodegen = df.select(GraftBridge.column(graft.plans.ArgmaxDot(
        GraftBridge.expression(col("v")), books, norms, 0, Int.MaxValue)))
      .collect().map(_.get(0))
    assert(viaEval == viaCodegen.toSeq)
  }

  test("structurally equal nodes compare equal and hash equal " +
    "(plan reuse: array params must compare by content, not identity)") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    def mk() = graft.plans.ArgmaxDot(
      BoundReference(0, ArrayType(FloatType), nullable = true),
      Array(Array(1.0, 2.0), Array(3.0, 4.0)), Array(0.5, 1.5), 0, 2)
    val (a, b) = (mk(), mk())
    assert(a == b && a.hashCode == b.hashCode)
    assert(a.semanticEquals(b))
    val diff = mk().copy(halfNorms = Array(0.5, 9.9))
    assert(a != diff)
    val diffBook = mk().copy(codewords =
      Array(Array(1.0, 2.0), Array(3.0, 9.0)))
    assert(a != diffBook)
    // a subclass with equal contents hashes apart (hashCode mixes in
    // getClass), so it must not compare equal either
    val sub = new graft.plans.ArgmaxDot(
      BoundReference(0, ArrayType(FloatType), nullable = true),
      Array(Array(1.0, 2.0), Array(3.0, 4.0)), Array(0.5, 1.5), 0, 2) {}
    assert(a != sub && sub != a)
  }

  test("decimal element types fail at analysis, not at eval") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DecimalType}
    val e = graft.plans.ArgmaxDot(
      BoundReference(0, ArrayType(DecimalType(18, 2)), nullable = true),
      Array(Array(1.0)), Array(0.0), 0, 1)
    assert(e.checkInputDataTypes().isFailure)
  }
}
